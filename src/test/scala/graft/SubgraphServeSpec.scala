package graft

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll

import graft.etl.LinkBuilder
import graft.graph.Subgraph
import graft.query.{EntityQueries, SetiQueries}
import graft.serve.{HttpShim, JsonOut}
import HttpShimSpec.render

/** [[HttpShim]] serves every endpoint from its start-up snapshot: on the
  * reference-free [[SyntheticExport]] graph, its subgraph, labels and
  * visualize bodies are byte-identical over HTTP to the Spark library
  * compositions they stand for, and no request runs a Spark job. */
class SubgraphServeSpec extends SparkTestBase with BeforeAndAfterAll {
  import spark.implicits._

  private lazy val g = SyntheticExport.built
  /** the synthetic SETI master CSV, nested as `ServeMain` loads it */
  private lazy val seti =
    JsonOut.nestEtextLinks(LinkBuilder.build(spark, SyntheticExport.setiCsv).links)
  private val started = scala.collection.mutable.ArrayBuffer.empty[HttpShim]
  private def startShim(shim: HttpShim): Int = {
    val p = shim.start(0)
    started.synchronized(started += shim)
    p
  }
  private lazy val port = startShim(new HttpShim(spark, g.entities, g.edges, SyntheticExport.etext))
  private lazy val setiPort = startShim(new HttpShim(spark, g.entities, g.edges, seti))
  private lazy val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = {
    started.foreach(_.stop())
    super.afterAll()
  }

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(port: Int, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/graph/subgraph"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def arr(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ", ", "]")

  /** `f` over `xs` from 4 client threads, as a server meets them; results
    * in the order of `xs`. */
  private def concurrently[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(4)
    try xs.map(x => pool.submit(() => f(x))).map(_.get(5, TimeUnit.MINUTES))
    finally pool.shutdown()
  }

  /** `f`'s result and the number of Spark jobs run in the meantime under
    * the shim's request job groups ("httpshim-<n>"). */
  private def shimJobsDuring[T](f: => T): (T, Int) = groupJobsDuring(_.startsWith("httpshim-"))(f)

  private val serverError = """{"message": "Internal Server Error"}"""
  private def errJson(msg: String) = s"""{"error": ${render(msg)}}"""

  /** ≥ 50 seeded subgraph bodies: hand-placed shapes, then hops 0-5 with
    * 1-4 seeds drawn from entities and (degree-skewed) edge endpoints, a
    * third of them with exclusions near the seeds. */
  private def requests(): Seq[String] = {
    import SyntheticExport._
    val ids = g.entities.select("id").as[String].collect().sorted.toSeq
    val edges = g.edges.select("src", "dst").as[(String, String)].collect().toSeq
    val known = ids.toSet
    val ends = edges.flatMap { case (s, d) => Seq(s, d) }.filter(known)
    val nbrs = edges.flatMap { case (s, d) => Seq(s -> d, d -> s) }.groupMap(_._1)(_._2)
    val a1 = edges.collectFirst { case (s, d) if d == chain(0) => s }.get
    val hand = Seq(
      s"""{"works": ${arr(Seq(isolated))}, "hops": 2}""",
      s"""{"works": ${arr(Seq(selfLoop))}, "hops": 1}""",
      s"""{"works": ${arr(Seq(chain(0)))}, "hops": 3, "exclude_list": ${arr(Seq(chain(1)))}}""",
      // an excluded seed
      s"""{"works": ${arr(Seq(chain(1), cycle(0)))}, "hops": 2, "exclude_list": ${arr(Seq(chain(1)))}}""",
      // an excluded unknown id is never expanded, so it is no KeyError
      s"""{"works": ${arr(Seq(chain(0), "99999999"))}, "hops": 1, "exclude_list": ["99999999"]}""",
      s"""{"works": ${arr(oddIds)}, "hops": 2}""",
      s"""{"works": ["20041"], "hops": 1}""", // reaches the ghost endpoint
      s"""{"works": ${arr(Seq(cycle(0)))}}""", // default hops
      s"""{"authors": ${arr(Seq(a1))}, "works": [], "hops": 5}""",
      s"""{"authors": ${arr(Seq(a1))}, "works": ${arr(Seq(cycle(1)))}, "hops": 0}""")
    val rnd = new Random(11)
    val drawn = (0 until 40).map { i =>
      val seeds = Seq.fill(1 + rnd.nextInt(4))(
        if (rnd.nextBoolean()) ids(rnd.nextInt(ids.size)) else ends(rnd.nextInt(ends.size))).distinct
      val (authors, works) = seeds.partition(_.toIntOption.exists(_ >= 50000)) // person ids
      val exclude = if (i % 3 == 0) {
        val pool = seeds.flatMap(nbrs.getOrElse(_, Nil)) ++ seeds
        Seq.fill(1 + rnd.nextInt(3))(pool(rnd.nextInt(pool.size))).distinct
      } else Nil
      s"""{"authors": ${arr(authors)}, "works": ${arr(works)}, "hops": ${i % 6}, "exclude_list": ${arr(exclude)}}"""
    }
    hand ++ drawn
  }

  /** The library composition a subgraph body must equal: the request read
    * as the shim reads it (duplicates dropped, hops 2 when absent), then
    * `Subgraph.extract` → `annotate`/`labelEdges` →
    * `JsonOut.subgraphResponse`. */
  private def composed(body: String): String = {
    val json = JsonMethods.parse(body)
    def ids(field: String) = json \ field match {
      case JArray(xs) => xs.collect { case JString(s) => s }.distinct
      case _ => Nil
    }
    val (authors, works, exclude) = (ids("authors"), ids("works"), ids("exclude_list"))
    val hops = json \ "hops" match { case JInt(h) => h.toInt; case _ => 2 }
    val seeds = (authors ++ works).distinct
    val r = Subgraph.extract(spark, g.edges, seeds, hops, exclude)
    JsonOut.subgraphResponse(
      Subgraph.annotate(r.nodes, g.entities, seeds, exclude).orderBy(col("id")),
      Subgraph.labelEdges(r.edges, g.entities).orderBy(col("source"), col("target")),
      authors, works, hops, exclude, SyntheticExport.etext)
  }

  test("subgraph bodies equal the library composition; serving runs no Spark job") {
    val bodies = requests()
    assert(bodies.size >= 50)
    val (served, jobs) = shimJobsDuring(concurrently(bodies)(post(port, _)))
    assert(jobs === 0, "Spark jobs during shim requests")
    // the listener does count a job run under a shim request's group
    val sc = spark.sparkContext
    val (_, probe) = shimJobsDuring {
      sc.setJobGroup("httpshim-probe", "listener probe")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    assert(probe === 1, "the listener is not counting shim job groups")
    // fewer shuffle partitions only shorten the composition's plans
    val key = "spark.sql.shuffle.partitions"
    val partitions = spark.conf.get(key)
    spark.conf.set(key, "2")
    val expected = try concurrently(bodies)(composed) finally spark.conf.set(key, partitions)
    bodies.indices.foreach { i =>
      assert(served(i).statusCode() === 200, s"${bodies(i)}: ${served(i).body()}")
      assert(served(i).body() === expected(i), s"bodies differ for ${bodies(i)}")
    }
    // the shapes the generator placed reach the responses
    val all = served.map(_.body()).mkString
    assert(all.contains("\"is_excluded\": true"))
    assert(all.contains("\"relationship\": null")) // the ghost's edge
    assert(all.contains(" (author)\""))            // imputed work years
    assert(all.contains("\"DCS\": {\"main\": ["))
    val odd = served(5).body()
    assert(odd.indexOf("\"id\": \"9Ａ\"") < odd.indexOf("\"id\": \"9😀\""))
    assert(odd.indexOf("\"id\": \"100\"") < odd.indexOf("\"id\": \"7\""))
  }

  test("subgraph validation and error contract") {
    val cases = Seq(
      "{}" -> """{"error": "require either one or both of authors or works"}""",
      """{"works": ["20001"], "hops": -1}""" -> """{"error": "hops must be a non-negative integer"}""",
      """{"works": ["20001"], "hops": "two"}""" -> """{"error": "hops must be a non-negative integer"}""",
      """{"works": ["99999999"], "hops": 1}""" -> """{"error": "Invalid ID: '99999999'"}""",
      // an edge endpoint without an entity row is not a known id either
      s"""{"works": ["${SyntheticExport.ghost}"], "hops": 1}""" ->
        s"""{"error": "Invalid ID: '${SyntheticExport.ghost}'"}""",
      "not json" -> """{"error": "request body must be JSON"}""",
      """{"authors": "50000"}""" -> """{"error": "authors/works must be lists of ids"}""",
      """{"works": ["20001"], "exclude_list": "20002"}""" -> """{"error": "exclude_list must be a list"}""")
    for ((body, err) <- cases) {
      val res = post(port, body)
      assert(res.statusCode() === 400, body)
      assert(res.body() === err, body)
    }
    val res = get(port, "/api/graph/subgraph")
    assert(res.statusCode() === 405)
    assert(res.body() === """{"error": "method not allowed"}""")
  }

  test("labels bodies equal EntityQueries.labels over the contract's cases") {
    import SyntheticExport.ghost
    val Seq(a, b) = g.entities.select("id").as[String].collect().sorted.take(2).toSeq
    // None: no `ids` parameter at all
    val cases: Seq[Option[String]] = Seq(Some(a), Some(s"$b,$a,$b"), Some(s" $a,$b "),
      Some(","), Some(s"$a,"), Some(s"$a,,$b"), Some(s"$a,99999999"), Some("1,2"),
      Some(ghost), Some(s"$a,$ghost"), Some(""), Some("12a,34"), None)
    val (served, jobs) = shimJobsDuring(cases.map(c => get(port, "/api/entities/labels" +
      c.fold("")(ids => "?ids=" + URLEncoder.encode(ids, UTF_8)))))
    assert(jobs === 0, "Spark jobs during labels requests")
    cases.zip(served).foreach { case (c, res) =>
      val (status, body) = EntityQueries.labels(g.entities, c.orNull) match {
        case EntityQueries.LabelsOk(df) =>
          val byId = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
          (200, c.get.trim.split(",", -1).map(id =>
            s"""{"id": ${render(id)}, "label": ${render(byId(id))}}""").mkString("[", ", ", "]"))
        case EntityQueries.LabelsBadRequest(msg) => (400, errJson(msg))
        case EntityQueries.LabelsServerError(_) => (500, serverError)
      }
      assert(res.statusCode() === status, c)
      assert(res.body() === body, c)
    }
    assert(served.map(_.statusCode()).toSet === Set(200, 400, 500))
  }

  test("visualize bodies equal SetiQueries.authorsOfWorks for every collection") {
    val collections = seti.values.flatMap(_.keys).toSeq.distinct.sorted
    val names = collections ++ Seq("all", "BOGUS")
    val (served, jobs) = shimJobsDuring(names.map(c =>
      get(setiPort, s"/seti/by_collection/${URLEncoder.encode(c, UTF_8)}/visualize")))
    assert(jobs === 0, "Spark jobs during visualize requests")
    val known = g.entities.select("id").as[String].collect().toSet
    names.zip(served).foreach { case (c, res) =>
      // get_works_by_collection: `all` keeps every work, the '...' placeholder
      // included; a collection drops it
      val works =
        if (c == "all") Some(seti.keys.toSeq)
        else if (collections.contains(c))
          Some(seti.collect { case (w, m) if m.contains(c) && w != "..." => w }.toSeq)
        else None
      val (status, body) = works.map(_.sorted) match {
        case None => (400, errJson(s"Invalid collection: $c. Valid options: " +
          collections.map(x => s"'$x'").mkString("[", ", ", "]")))
        case Some(ws) if !ws.forall(known) => (500, serverError)
        case Some(ws) =>
          val authors = SetiQueries.authorsOfWorks(g.entities, ws.toDF("id"))
            .as[String].collect().sorted.toSeq
          (200, s"""{"initial_params": {"works": ${arr(ws)}, "authors": ${arr(authors)}, """ +
            s""""hops": 0, "exclude_list": [], "repulsion": 50}}""")
      }
      assert(res.statusCode() === status, c)
      assert(res.body() === body, c)
    }
    assert(collections.size === 3)
    assert(served.map(_.statusCode()) === Seq(200, 200, 200, 500, 400))
    assert(served.take(3).forall(!_.body().contains("\"authors\": []")), "a collection without authors")
  }

  test("each request logs its latency and job count; every endpoint logs jobs=0") {
    val lines = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("httpshim-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(classOf[HttpShim]).asInstanceOf[CoreLogger]
    val level = logger.getLevel
    val p = setiPort
    logger.addAppender(appender)
    logger.setLevel(Level.INFO)
    try {
      val work = SyntheticExport.chain(0)
      // one request of every endpoint kind the shim routes
      val gets = Seq("/api/entities/works", s"/api/entities/labels?ids=$work",
        "/api/seti/by_collection?collection=GRETIL",
        "/api/seti/by_collection/unique?collection=GRETIL",
        "/api/seti/by_collection/overlap?collection1=GRETIL&collection2=DCS",
        s"/api/seti/by_work?ids=$work", "/seti/by_collection/SARIT/visualize",
        s"/view?works=$work", "/", "/data/x.json")
      val statuses = gets.map(get(p, _).statusCode()) ++
        Seq(post(p, s"""{"works": ["$work"], "hops": 2}"""), post(p, "{}")).map(_.statusCode())
      assert(statuses === Seq.fill(9)(200) ++ Seq(404, 200, 400))
      // the line is written after the response is sent
      val deadline = System.nanoTime() + 10000000000L
      while (lines.size < statuses.size && System.nanoTime() < deadline) Thread.sleep(10)
      val got = lines.asScala.toSeq
      assert(got.size === statuses.size, got)
      assert(got.forall(_.matches("""(GET|POST) \S+ status=\d{3} ms=\d+\.\d jobs=0""")), got)
      assert(got.map(_.split(" ")(1)).toSet ===
        (gets.map(_.takeWhile(_ != '?')) :+ "/api/graph/subgraph").toSet, got)
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }

  test("driver-local BFS agrees with the distributed extract on duplicates, self-loops and exclusions") {
    val edges = Seq(("a", "b", "wrote"), ("a", "b", "wrote"), ("b", "c", "commentary_on"),
      ("c", "c", "commentary_on"), ("c", "d", "commentary_on"), ("e", "f", "wrote"))
      .toDF("src", "dst", "etype")
    val rows = edges.distinct().select("src", "dst").as[(String, String)].collect().toIndexedSeq
    val index = new Subgraph.LocalIndex(rows.map(_._1), rows.map(_._2))
    val cases = Seq((Seq("a"), 2, Nil), (Seq("a"), 3, Seq("c")), (Seq("z", "e"), 1, Nil),
      (Seq("c", "e"), 1, Seq("c")), (Seq("a"), 0, Nil), (Seq("d"), 5, Seq("zz")))
    cases.foreach { case (seeds, hops, exclude) =>
      val want = Subgraph.extract(spark, edges, seeds, hops, exclude)
      val got = index.extract(seeds, hops, exclude)
      val tag = s"$seeds hops=$hops exclude=$exclude"
      assert(got.nodes.toSet === want.nodes.as[String].collect().toSet, tag)
      assert(got.nodes.size === got.nodes.toSet.size, tag)
      assert(got.edges.map(rows).sorted ===
        want.edges.select("src", "dst").as[(String, String)].collect().toSeq.sorted, tag)
    }
  }

  test("Subgraph.extract leaves no cached relation in the session") {
    val edges = Seq(("a", "b", "wrote"), ("b", "c", "commentary_on")).toDF("src", "dst", "etype")
    val seeds = Seq("a", "leak-probe")
    Subgraph.extract(spark, edges, seeds, 2).nodes.collect()
    // the seed set is the only relation extract could have cached by plan
    assert(seeds.distinct.toDF("id").storageLevel === StorageLevel.NONE)
  }
}
