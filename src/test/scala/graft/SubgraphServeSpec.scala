package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll

import graft.graph.Subgraph
import graft.serve.HttpShim

/** The two subgraph paths of [[HttpShim]] — driver-local at or below
  * `localCutoff`, distributed above it — agree byte-for-byte over HTTP on
  * the reference-free [[SyntheticExport]] graph, and the local path runs no
  * Spark job. */
class SubgraphServeSpec extends SparkTestBase with BeforeAndAfterAll {
  import spark.implicits._

  private lazy val g = SyntheticExport.built
  /** the default gate: the synthetic graph is far below it */
  private lazy val localShim = new HttpShim(spark, g.entities, g.edges, SyntheticExport.etext)
  /** `localCutoff = 0` forces the per-request distributed plan */
  private lazy val distShim =
    new HttpShim(spark, g.entities, g.edges, SyntheticExport.etext, localCutoff = 0)
  private lazy val localPort = localShim.start(0)
  private lazy val distPort = distShim.start(0)
  private var started = false
  private lazy val client = HttpClient.newHttpClient()

  private def ports(): (Int, Int) = { started = true; (localPort, distPort) }

  override def afterAll(): Unit = {
    if (started) { localShim.stop(); distShim.stop() }
    super.afterAll()
  }

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

  test("local and distributed subgraph bodies are byte-identical; the local path runs no Spark job") {
    val (lp, dp) = ports()
    val bodies = requests()
    assert(bodies.size >= 50)
    // every shim request runs under a job group "httpshim-<n>"
    def shimJobsDuring[T](f: => T) = groupJobsDuring(_.startsWith("httpshim-"))(f)
    val (local, localJobs) = shimJobsDuring(concurrently(bodies)(post(lp, _)))
    // fewer shuffle partitions only shorten the per-request distributed plan
    val key = "spark.sql.shuffle.partitions"
    val partitions = spark.conf.get(key)
    spark.conf.set(key, "2")
    val (dist, distJobs) =
      try shimJobsDuring(concurrently(bodies)(post(dp, _))) finally spark.conf.set(key, partitions)
    assert(localJobs === 0, "Spark jobs during local-path requests")
    assert(distJobs > 0, "the distributed path ran no job: the listener is not counting")
    bodies.indices.foreach { i =>
      assert(local(i).statusCode() === 200, s"${bodies(i)}: ${local(i).body()}")
      assert(local(i).statusCode() === dist(i).statusCode(), bodies(i))
      assert(local(i).body() === dist(i).body(), s"bodies differ for ${bodies(i)}")
    }
    // the shapes the generator placed reach the responses
    val all = local.map(_.body()).mkString
    assert(all.contains("\"is_excluded\": true"))
    assert(all.contains("\"relationship\": null")) // the ghost's edge
    assert(all.contains(" (author)\""))            // imputed work years
    assert(all.contains("\"DCS\": {\"main\": ["))
    val odd = local(5).body()
    assert(odd.indexOf("\"id\": \"9Ａ\"") < odd.indexOf("\"id\": \"9😀\""))
    assert(odd.indexOf("\"id\": \"100\"") < odd.indexOf("\"id\": \"7\""))
  }

  test("subgraph validation and error contract is the same on both paths") {
    val (lp, dp) = ports()
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
    for (port <- Seq(lp, dp); (body, err) <- cases) {
      val res = post(port, body)
      assert(res.statusCode() === 400, body)
      assert(res.body() === err, body)
    }
    for (port <- Seq(lp, dp)) {
      val get = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/graph/subgraph")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() === 405)
      assert(get.body() === """{"error": "method not allowed"}""")
    }
  }

  test("each request logs its latency and Spark job count; local subgraph requests log jobs=0") {
    val (lp, _) = ports()
    val lines = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("httpshim-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(classOf[HttpShim]).asInstanceOf[CoreLogger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.INFO)
    try {
      assert(post(lp, s"""{"works": ["${SyntheticExport.chain(0)}"], "hops": 2}""").statusCode() === 200)
      assert(post(lp, "{}").statusCode() === 400)
      // the line is written after the response is sent
      val deadline = System.nanoTime() + 10000000000L
      while (lines.size < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      val got = lines.asScala.toSeq
      assert(got.size === 2, got)
      assert(got.forall(_.matches("""POST /api/graph/subgraph status=(200|400) ms=\d+\.\d jobs=0""")), got)
      assert(got.exists(_.contains("status=200")), got)
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
