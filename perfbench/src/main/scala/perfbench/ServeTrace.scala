package perfbench

import java.net.http.HttpClient

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.graph.Subgraph
import graft.query.EntityQueries
import graft.serve.JsonOut

/** The traced `serve` run. Requests of the stream are replayed one at a
  * time through the public functions HttpShim calls (its handlers are
  * private and run on its own threads) and over HTTP, then the 4-client
  * closed loop runs for the rest of the budget; each phase gives the layer
  * figures named in its metrics. */
object ServeTrace {
  val hopsClasses: Seq[Int] = Seq(1, 2, 3, 5)

  final case class Direct(req: Req, extractMs: Double, extractJobs: Long,
      jsonMs: Double, jsonJobs: Long, bytes: Long)

  def run(ctx: Ctx, gen: PanditGen, reqGen: RequestGen, served: Serve.Served, port: Int,
      checker: Checker): Outcome = {
    val trace = ctx.trace.get
    val counter = trace.counter
    val spark = ctx.spark
    val failures = mutable.ArrayBuffer[Failure]()
    val budgetNs = ctx.args.seconds * 1000000000L
    val start = System.nanoTime()
    def elapsedShare: Double = (System.nanoTime() - start).toDouble / budgetNs

    counter.drain()
    def setupSpan(name: String): (Double, Double) = {
      val s = trace.spans.synchronized(trace.spans.find(_.name == name)).get
      (trace.ms(s), trace.work(s).jobs.toDouble)
    }

    // Requests to replay: round-robin over the hops classes and labels, so
    // every class is sampled even in a short run.
    val classes: Seq[Req => Boolean] = hopsClasses.map(h => (r: Req) => r match {
      case s: SubgraphReq => s.hops == h
      case _ => false
    }) :+ ((r: Req) => r.kind == "labels")
    val pools = Array.fill(classes.size)(mutable.Queue[Req]())
    var turn = 0
    def nextReplay(): Req = {
      while (pools(turn % classes.size).isEmpty) {
        val r = reqGen.next()
        val c = classes.indexWhere(_(r))
        if (c >= 0) pools(c) += r
      }
      val r = pools(turn % classes.size).dequeue(); turn += 1; r
    }

    // Phases 1 and 2: each replayed request is served once by direct calls
    // and once over HTTP, back to back, in alternating order; the HTTP
    // overhead is the difference within each pair.
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val direct = mutable.ArrayBuffer[Direct]()
    val overhead = mutable.ArrayBuffer[Double]()
    val httpMs = mutable.ArrayBuffer[Double]()
    var httpJobs = 0L

    def callDirect(r: Req): Unit = trace.span("request", trace.newTraceId()) {
      r match {
        case s: SubgraphReq =>
          val seeds = (s.authors ++ s.works).distinct
          val (result, xs) = trace.span("subgraph.extract") {
            Subgraph.extract(spark, served.edges, seeds, s.hops, s.exclude)
          }
          val (body, js) = trace.span("jsonout.subgraph") {
            val annotated = Subgraph.annotate(result.nodes, served.entities, seeds, s.exclude)
              .orderBy(col("id"))
            val labeled = Subgraph.labelEdges(result.edges, served.entities)
              .orderBy(col("source"), col("target"))
            JsonOut.subgraphResponse(annotated, labeled, s.authors, s.works, s.hops,
              s.exclude, served.etext)
          }
          counter.drain()
          checker.check(s, 200, body).foreach(e => failures += Failure("direct " + s.kind, e))
          direct += Direct(s, trace.ms(xs), trace.work(xs).jobs, trace.ms(js),
            trace.work(js).jobs, body.getBytes("UTF-8").length.toLong)
        case g: GetReq =>
          val ids = g.path.split("ids=")(1)
          val (_, ls) = trace.span("entityqueries.labels") {
            EntityQueries.labels(served.entities, ids) match {
              case EntityQueries.LabelsOk(df) => df.collect()
              case other => failures += Failure("direct labels", s"unexpected $other")
            }
          }
          counter.drain()
          direct += Direct(g, 0, 0, trace.ms(ls), trace.work(ls).jobs, 0)
        case _ =>
      }
    }._1

    def callHttp(r: Req): Double = {
      counter.drain()
      val j0 = counter.total.jobs.get
      val done = Serve.send(client, port, r)
      counter.drain()
      httpJobs += counter.total.jobs.get - j0
      done.error.orElse(checker.check(r, done.status, done.body))
        .foreach(e => failures += Failure("http " + r.kind, e))
      done.ms
    }

    var i = 0
    do {
      val r = nextReplay()
      try {
        val http = if (i % 2 == 0) { callDirect(r); callHttp(r) }
          else { val h = callHttp(r); callDirect(r); h }
        if (r.heavy) {
          val d = direct.last
          httpMs += http
          overhead += http - d.extractMs - d.jsonMs
        }
      } catch { case t: Throwable => failures += Failure.of("replay " + r.kind, t) }
      i += 1
    } while (elapsedShare < 0.6 || direct.size < classes.size)

    // Phase 3: the 4-client closed loop, for the rest of the budget.
    counter.drain()
    val w0 = counter.total.snapshot
    val loopEnd = System.nanoTime() + math.max(budgetNs - (System.nanoTime() - start),
      budgetNs / 4)
    val t0 = System.nanoTime()
    val loop = Serve.drive(port, () =>
      if (System.nanoTime() < loopEnd) Some(reqGen.next()) else None, Serve.clients)
    val wallMs = (System.nanoTime() - t0) / 1e6
    counter.drain()
    val w = counter.total.snapshot - w0
    failures ++= Serve.failuresOf(loop, checker, "loop")

    // Counting overhead: one landing request with counting off and on.
    val landing = SubgraphReq(gen.landingAuthors, gen.landingWorks, 1, Nil, landing = true)
    val (off, on) = (1 to 3).map { _ =>
      def once(): Double = Serve.send(client, port, landing).ms
      counter.enabled = false
      val a = once()
      counter.enabled = true
      (a, once())
    }.unzip

    // Share of request bodies already seen, over the stream's first 300.
    val shareGen = new RequestGen(gen, ctx.args.seed)
    val seen = mutable.HashSet[String]()
    val repeats = (1 to 300).count(_ => !seen.add(shareGen.next().key))

    val heavy = direct.toSeq.filter(_.req.heavy)
    val labels = direct.toSeq.filter(_.req.kind == "labels")
    def byHops(h: Int) = heavy.filter(_.req.asInstanceOf[SubgraphReq].hops == h)
    val (ebMs, ebJobs) = setupSpan("etl.entitybuilder")
    val (lbMs, lbJobs) = setupSpan("etl.linkbuilder")
    val (initMs, _) = setupSpan("httpshim.init")
    val metrics = hopsClasses.flatMap { h =>
      Seq(Metric(s"subgraph.extract_ms.h$h", Stats.median(byHops(h).map(_.extractMs)), "ms"),
        Metric(s"subgraph.extract_jobs.h$h", Stats.median(byHops(h).map(_.extractJobs.toDouble)), "count"))
    } ++ Seq(
      Metric("jsonout.subgraph_ms", Stats.median(heavy.map(_.jsonMs)), "ms"),
      Metric("jsonout.subgraph_jobs", Stats.median(heavy.map(_.jsonJobs.toDouble)), "count"),
      Metric("jsonout.response_bytes", Stats.median(heavy.map(_.bytes.toDouble)), "bytes"),
      Metric("entityqueries.labels_ms", Stats.median(labels.map(_.jsonMs)), "ms"),
      Metric("entityqueries.labels_jobs", Stats.median(labels.map(_.jsonJobs.toDouble)), "count"),
      Metric("httpshim.overhead_ms", Stats.median(overhead.toSeq), "ms"),
      Metric("serve.subgraph_sequential_ms", Stats.median(httpMs.toSeq), "ms"),
      Metric("serve.jobs_per_request", w.jobs.toDouble / math.max(loop.size, 1), "count"),
      Metric("serve.executor_busy_ratio", w.runMs / (wallMs * Serve.clients), "ratio"),
      Metric("serve.repeat_share", repeats / 300.0, "ratio"),
      Metric("etl.entitybuilder_ms", ebMs, "ms"),
      Metric("etl.entitybuilder_jobs", ebJobs, "count"),
      Metric("etl.linkbuilder_ms", lbMs, "ms"),
      Metric("etl.linkbuilder_jobs", lbJobs, "count"),
      Metric("httpshim.init_ms", initMs, "ms"),
      Metric("trace.overhead_ratio", Stats.median(on) / Stats.median(off) - 1, "ratio"))
    Outcome(direct.size * 2L + loop.size, failures.toSeq, metrics,
      Seq("serve_trace" -> Map("replayed" -> direct.size,
        "loop_requests" -> loop.size, "http_jobs_sequential" -> httpJobs,
        "direct_by_kind" -> direct.groupBy(_.req.kind).map { case (k, v) => k -> v.size })))
  }
}
