package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.etl.{EntityBuilder, LinkBuilder}
import graft.serve.{HttpShim, JsonOut}

/** One request of the serving mix. */
sealed trait Req {
  def kind: String
  def heavy: Boolean = false
  /** Stable identity of the request, for the repeat share. */
  def key: String
}
final case class SubgraphReq(authors: Seq[String], works: Seq[String], hops: Int,
    exclude: Seq[String], landing: Boolean) extends Req {
  def kind = s"subgraph.h$hops"
  override def heavy = true
  def body: String = {
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ", ", "]")
    s"""{"authors": ${arr(authors)}, "works": ${arr(works)}, "hops": $hops, "exclude_list": ${arr(exclude)}}"""
  }
  def key: String = body
}
final case class GetReq(kind: String, path: String) extends Req {
  def key: String = path
}
/** A body the reference rejects with a 400 and `{"error": msg}`. */
final case class InvalidReq(body: String, msg: String) extends Req {
  def kind = "invalid"
  def key: String = body
}

/** The seeded request stream: 60 % subgraph POSTs (hops 1/2/3/5 at
  * 50/30/15/5 %, 1-4 degree-skewed seeds, 10 % the config.json landing
  * query, ~20 % with 1-3 exclusions), 38 % light GETs and 2 % invalid
  * bodies. No request log exists to take the shares from; which parts of
  * the mix have a source is in perfbench/README.md.
  *
  * The kinds follow a period-50 schedule in which every kind is spread
  * evenly (seeded phases), so any run, however few requests it completes,
  * sends close to the stated mix; the seed draws everything else. */
object RequestGen {
  /** Requests of each kind per period of 50. */
  val counts: Seq[(String, Int)] = Seq("invalid" -> 1, "landing" -> 3, "h1" -> 12,
    "h2" -> 9, "h3" -> 4, "h5" -> 2, "labels" -> 7, "dropdown" -> 3,
    "seti.by_collection" -> 4, "seti.overlap" -> 3, "seti.by_work" -> 2)
  val shares: Map[String, Double] =
    counts.map { case (k, n) => k -> n / counts.map(_._2).sum.toDouble }.toMap

  /** The schedule kind a request was drawn as. */
  def scheduleKind(r: Req): String = r match {
    case s: SubgraphReq => if (s.landing) "landing" else s"h${s.hops}"
    case other => other.kind
  }
}

final class RequestGen(gen: PanditGen, seed: Long) {
  private val rnd = new Random(seed * 7919 + 17)
  private val schedule: Vector[String] = {
    RequestGen.counts.flatMap { case (k, n) =>
      val phase = rnd.nextDouble()
      (0 until n).map(i => ((i + phase) / n, k))
    }.sortBy(_._1).map(_._2).toVector
  }
  private var position = 0
  private val ref = gen.ref
  private val entityIds = gen.entityIds.toVector.sorted
  private val edgeEnds: Vector[String] = gen.edges.flatMap { case (s, d, _) => Seq(s, d) }
  private val linkedWorks = gen.links.keys.map(_._1).filter(_ != "...").toVector.distinct.sorted
  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)

  private def skewedNode(): String =
    if (rnd.nextDouble() < 0.1) entityIds(rnd.nextInt(entityIds.size))
    else edgeEnds(rnd.nextInt(edgeEnds.size))

  private def subgraph(hops: Int): SubgraphReq = {
    val seeds = Seq.fill(1 + rnd.nextInt(4))(skewedNode()).distinct
    val (authors, works) = seeds.partition(s => gen.entityType(s) == "author")
    val exclude =
      if (rnd.nextDouble() < 0.2) {
        val near = seeds.flatMap(ref.neighbors).distinct
        val pool = if (near.nonEmpty) near else seeds
        Seq.fill(1 + rnd.nextInt(3))(pool(rnd.nextInt(pool.size))).distinct
      } else Nil
    SubgraphReq(authors, works, hops, exclude, landing = false)
  }

  private def light(kind: String): GetReq = kind match {
    case "labels" =>
      val ids = Seq.fill(1 + rnd.nextInt(5))(entityIds(rnd.nextInt(entityIds.size))).distinct
      GetReq("labels", "/api/entities/labels?ids=" + ids.mkString(","))
    case "dropdown" =>
      val t = Seq("authors", "works", "all")(rnd.nextInt(3))
      GetReq("dropdown", s"/api/entities/$t")
    case "seti.by_collection" =>
      val c = gen.collections(rnd.nextInt(gen.collections.size))
      GetReq(kind, "/api/seti/by_collection?collection=" + enc(c))
    case "seti.overlap" =>
      val Seq(a, b) = rnd.shuffle(gen.collections).take(2)
      GetReq(kind, s"/api/seti/by_collection/overlap?collection1=${enc(a)}&collection2=${enc(b)}")
    case "seti.by_work" =>
      val ids = Seq.fill(1 + rnd.nextInt(4))(linkedWorks(rnd.nextInt(linkedWorks.size))).distinct
      GetReq(kind, "/api/seti/by_work?ids=" + ids.mkString(","))
  }

  private def invalid(): InvalidReq = rnd.nextInt(4) match {
    case 0 => InvalidReq("""{"hops": 1}""", "require either one or both of authors or works")
    case 1 => InvalidReq("""{"works": ["999999999"], "hops": 1}""", "Invalid ID: '999999999'")
    case 2 => InvalidReq("not json", "request body must be JSON")
    case _ => InvalidReq("""{"authors": "85303", "hops": 1}""", "authors/works must be lists of ids")
  }

  def next(): Req = synchronized {
    val kind = schedule(position % schedule.size)
    position += 1
    make(kind)
  }

  /** A request of the given schedule kind. */
  def make(kind: String): Req = synchronized {
    kind match {
      case "invalid" => invalid()
      case "landing" => SubgraphReq(gen.landingAuthors, gen.landingWorks, 1, Nil, landing = true)
      case h if h.startsWith("h") => subgraph(h.drop(1).toInt)
      case other => light(other)
    }
  }
}

/** Checks a response against the generator's tables and [[RefGraph]]. */
final class Checker(gen: PanditGen) {
  private implicit val formats: Formats = DefaultFormats
  private def strs(v: JValue): Seq[String] = v match {
    case JString(s) => Seq(s)
    case JArray(xs) => xs.flatMap(strs)
    case JObject(fs) => fs.flatMap(f => strs(f._2))
    case _ => Nil
  }
  private val workSet = gen.workIds.toSet
  private val byWork: Map[String, Map[String, Set[String]]] =
    gen.links.toSeq.groupBy(_._1._1).map { case (w, cs) =>
      w -> cs.map { case ((_, c), ls) => c -> ls.toSet }.toMap }

  /** The expected `{work: {collection: links}}` for the given pairs. */
  private def checkWorks(got: JValue, want: Map[String, Map[String, Set[String]]]): Option[String] = {
    val obj = got match { case o: JObject => o.obj; case _ => return Some("not an object") }
    val gotKeys = obj.map(_._1).toSet
    if (gotKeys != want.keySet)
      return Some(s"work keys differ: got ${gotKeys.size}, want ${want.size}")
    obj.collectFirst(Function.unlift { case (w, v) =>
      val colls = v match { case o: JObject => o.obj; case _ => Nil }
      val gotColls = colls.map { case (c, ls) => c -> strs(ls).toSet }.toMap
      if (gotColls != want(w)) Some(s"links of work $w differ") else None
    })
  }

  def check(r: Req, status: Int, body: String): Option[String] = r match {
    case s: SubgraphReq =>
      if (status != 200) return Some(s"status $status: ${body.take(200)}")
      val j = JsonMethods.parse(body)
      val nodes = (j \ "graph" \ "nodes").children.map(n => (n \ "id").extract[String]).toSet
      val edges = (j \ "graph" \ "edges").children
        .map(e => ((e \ "source").extract[String], (e \ "target").extract[String])).toSet
      val (wantNodes, wantEdges) = gen.ref.subgraph(s.authors ++ s.works, s.hops, s.exclude)
      if (nodes != wantNodes) Some(s"node set differs: got ${nodes.size}, want ${wantNodes.size}")
      else if (edges != wantEdges) Some(s"edge set differs: got ${edges.size}, want ${wantEdges.size}")
      else None
    case InvalidReq(_, msg) =>
      if (status != 400) Some(s"status $status, want 400")
      else {
        val got = (JsonMethods.parse(body) \ "error").extractOpt[String]
        if (!got.contains(msg)) Some(s"error message $got, want $msg") else None
      }
    case GetReq(kind, path) =>
      if (status != 200) return Some(s"status $status: ${body.take(200)}")
      val j = JsonMethods.parse(body)
      val query = path.dropWhile(_ != '?').drop(1).split("&").map { kv =>
        val (k, v) = kv.span(_ != '=')
        k -> java.net.URLDecoder.decode(v.drop(1), StandardCharsets.UTF_8)
      }.toMap
      kind match {
        case "labels" =>
          val ids = query("ids").split(",").toSeq
          val got = j.children.map(e => (e \ "id").extract[String] -> (e \ "label").extract[String])
          val want = ids.map(i => i -> gen.name(i))
          if (got != want) Some("labels differ") else None
        case "dropdown" =>
          val t = path.stripPrefix("/api/entities/")
          val want = gen.entityIds.filter(i => t == "all" ||
            gen.entityType(i) == (if (t == "works") "work" else "author"))
          val got = j.children.map(e => (e \ "id").extract[String])
          if (got.size != want.size || got.toSet != want) Some(s"dropdown $t ids differ") else None
        case "seti.by_collection" =>
          val c = query("collection")
          checkWorks(j, byWork.collect { case (w, cs) if w != "..." && cs.contains(c) =>
            w -> Map(c -> cs(c)) })
        case "seti.overlap" =>
          val (a, b) = (query("collection1"), query("collection2"))
          def pick(p: Map[String, Set[String]] => Boolean, keep: Seq[String]) =
            byWork.collect { case (w, cs) if p(cs) => w -> cs.filter(kv => keep.contains(kv._1)) }
          checkWorks(j \ "overlap", pick(cs => cs.contains(a) && cs.contains(b), Seq(a, b)))
            .orElse(checkWorks(j \ s"only_in_$a", pick(cs => cs.contains(a) && !cs.contains(b), Seq(a))))
            .orElse(checkWorks(j \ s"only_in_$b", pick(cs => cs.contains(b) && !cs.contains(a), Seq(b))))
        case "seti.by_work" =>
          val ids = query("ids").split(",").toSeq.filter(workSet).distinct
          checkWorks(j, ids.filter(byWork.contains).map(w => w -> byWork(w)).toMap)
      }
  }
}

/** `serve`: a closed loop of 4 in-process HTTP clients against an HttpShim
  * started over the ETL'd synthetic export, the way `ServeMain` does it. */
object Serve {
  val clients = 4
  /** Requests per "pass": `pass_s` is the time 4 clients need for this many. */
  val passRequests = 40
  /** Warm-up, two rounds of the 4 clients: a cold JVM serves its first
    * requests up to twice as slowly as it does after a minute, so the
    * measured window starts after the steepest part of that slope. The
    * kinds are fixed so that every seed does the same warm-up work. */
  val warmKinds: Seq[String] =
    Seq("landing", "landing", "landing", "landing", "h1", "h2", "h3", "labels")

  final case class Served(entities: DataFrame, edges: DataFrame,
      etext: Map[String, Map[String, Either[Seq[String], Map[String, Seq[String]]]]], shim: HttpShim)

  /** ETL + cache + HttpShim construction, as ServeMain does it. */
  def setUp(ctx: Ctx, entitiesCsv: String, setiCsv: String): Served = {
    val spark = ctx.spark
    val built = ctx.span("etl.entitybuilder") {
      val b = EntityBuilder.build(spark, entitiesCsv)
      val e = b.entities.cache(); val g = b.edges.cache()
      e.count(); g.count()
      (e, g)
    }
    val etext = ctx.span("etl.linkbuilder") {
      JsonOut.nestEtextLinks(LinkBuilder.build(spark, setiCsv).links)
    }
    val shim = ctx.span("httpshim.init") {
      new HttpShim(spark, built._1, built._2, etext, defaultHops = 2)
    }
    Served(built._1, built._2, etext, shim)
  }

  final case class Done(req: Req, status: Int, body: String, startNs: Long, ms: Double,
      error: Option[String])

  /** Send what `next` gives from `n` client threads in a closed loop, until
    * it gives None. */
  def drive(port: Int, next: () => Option[Req], n: Int): Seq[Done] = {
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val out = java.util.Collections.synchronizedList(new java.util.ArrayList[Done]())
    val threads = (0 until n).map { _ =>
      val t = new Thread(() => {
        var r = next()
        while (r.isDefined) {
          out.add(send(client, port, r.get)); r = next()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  /** The failed or wrong responses among `done`, each with its cause. */
  def failuresOf(done: Seq[Done], checker: Checker, tag: String): Seq[Failure] =
    done.flatMap { d =>
      d.error.orElse(try checker.check(d.req, d.status, d.body) catch {
        case t: Throwable => Some(Failure.of("check", t).cause)
      }).map(e => Failure(s"$tag ${d.req.kind} ${d.req.key.take(120)}", e))
    }

  def send(client: HttpClient, port: Int, r: Req): Done = {
    val base = s"http://127.0.0.1:$port"
    val req = r match {
      case s: SubgraphReq => HttpRequest.newBuilder(URI.create(base + "/api/graph/subgraph"))
        .POST(HttpRequest.BodyPublishers.ofString(s.body)).build()
      case i: InvalidReq => HttpRequest.newBuilder(URI.create(base + "/api/graph/subgraph"))
        .POST(HttpRequest.BodyPublishers.ofString(i.body)).build()
      case g: GetReq => HttpRequest.newBuilder(URI.create(base + g.path)).GET().build()
    }
    val t0 = System.nanoTime()
    try {
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      Done(r, resp.statusCode(), resp.body(), t0, (System.nanoTime() - t0) / 1e6, None)
    } catch {
      case t: Throwable => Done(r, -1, "", t0, (System.nanoTime() - t0) / 1e6,
        Some(Failure.of(r.kind, t).cause))
    }
  }

  def run(ctx: Ctx): Outcome = {
    val args = ctx.args
    // Harness work, left out of setup_s: the export, the reference graph,
    // the checker and the request streams.
    val (gen, (eCsv, sCsv), checker, warmQueue, reqGen) = ctx.harness {
      val gen = new PanditGen(args.seed)
      val files = gen.write(args.work.resolve("export"))
      val checker = new Checker(gen)
      val warmGen = new RequestGen(gen, ~args.seed)
      val warmQueue = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
      warmKinds.foreach(k => warmQueue.add(warmGen.make(k)))
      (gen, files, checker, warmQueue, new RequestGen(gen, args.seed))
    }

    // One set-up: a second would cost most of the run's time budget (the
    // cold ETL and HttpShim construction dominate a run).
    val setup0 = System.nanoTime()
    val served = setUp(ctx, eCsv.toString, sCsv.toString)
    val setupOnceS = (System.nanoTime() - setup0) / 1e9
    val port = served.shim.start(0)
    val warm0 = System.nanoTime()
    val warmed = drive(port, () => Option(warmQueue.poll()), clients)
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = ctx.setupSeconds
    val warmFailures = failuresOf(warmed, checker, "warm-up")

    val outcome =
      if (ctx.trace.isDefined) ServeTrace.run(ctx, gen, reqGen, served, port, checker)
      else {
        val deadline = System.nanoTime() + args.seconds * 1000000000L
        val (gc0, jit0) = (Jvm.gcSeconds(), Jvm.jitSeconds())
        val t0 = System.nanoTime()
        val done = drive(port, () =>
          if (System.nanoTime() < deadline) Some(reqGen.next()) else None, clients)
        val wall = (System.nanoTime() - t0) / 1e9
        val peakRss = Jvm.peakRssMb()
        val failures = failuresOf(done, checker, "loop")
        val subgraph = done.filter(_.req.heavy)
        val heavy = subgraph.map(_.ms)
        val light = done.filter(d => !d.req.heavy && d.req.kind != "invalid").map(_.ms)
        // A short window samples the mix unevenly; weight each request by its
        // kind's share of the schedule over the kind's share of the window,
        // so both figures describe the stated mix.
        val weight = RequestGen.shares.map { case (k, w) =>
          k -> w / done.count(d => RequestGen.scheduleKind(d.req) == k) }
        def w(d: Done) = weight(RequestGen.scheduleKind(d.req))
        val rps = done.size / wall
        // closed loop without think time: 4 clients finish 40 requests in
        // 40 / 4 mean latencies (Little's law), free of the window's edges
        val passS = passRequests / clients *
          Stats.weightedMean(done.map(d => (d.ms, w(d)))) / 1e3
        Outcome(done.size, failures, Seq(
          Metric("setup_s", setupS, "s"),
          Metric("pass_s", passS, "s"),
          Metric("op_ms", Stats.weightedMedian(subgraph.map(d => (d.ms, w(d)))), "ms"),
          Metric("peak_rss_mb", peakRss, "MB")),
          Seq("serve" -> Map(
            "requests" -> done.size, "subgraph_requests" -> heavy.size,
            "light_requests" -> light.size, "wall_s" -> wall,
            "subgraph_p50_ms" -> Stats.median(heavy),
            "subgraph_p90_ms" -> Stats.pct(heavy, 0.9),
            "light_p50_ms" -> Stats.median(light), "light_p90_ms" -> Stats.pct(light, 0.9),
            "serve_rps" -> rps, "window_gc_s" -> (Jvm.gcSeconds() - gc0),
            "window_jit_s" -> (Jvm.jitSeconds() - jit0),
            "by_kind_p50_ms" -> done.groupBy(_.req.kind).map { case (k, ds) =>
              k -> Stats.median(ds.map(_.ms)) },
            // (kind, start offset s, latency ms) per request, in start order
            "timeline" -> done.sortBy(_.startNs).map(d =>
              Seq(d.req.kind, (d.startNs - t0) / 1e9, d.ms))),
            "etl_and_shim_s" -> setupOnceS, "warmup_s" -> warmS,
            "harness_s" -> ctx.harnessSeconds))
      }
    served.shim.stop()
    outcome.copy(attempted = outcome.attempted + warmed.size,
      failures = warmFailures ++ outcome.failures,
      record = outcome.record :+ ("shape" -> gen.shape))
  }
}
