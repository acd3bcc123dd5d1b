package perfbench

import java.nio.file.Path

/** The traced `batch` run: one pass with a span per call and per query,
  * plus the counting overhead measured on a small query. */
object BatchTrace {

  def run(ctx: Ctx, gen: PanditGen, files: (Path, Path), invDir: Path): Outcome = {
    val trace = ctx.trace.get
    val counter = trace.counter
    def spansNamed(name: String) = trace.spans.synchronized(trace.spans.filter(_.name == name).toSeq)

    counter.drain()
    val w0 = counter.total.snapshot
    val t0 = System.nanoTime()
    val (calls, rebuildFailures) =
      try Rebuild.pass(ctx, gen, files._1.toString, files._2.toString, "traced")
      catch { case t: Throwable => (Nil, Seq(Failure.of("traced rebuild", t))) }
    val rebuildMs = (System.nanoTime() - t0) / 1e6
    counter.drain()
    val w1 = counter.total.snapshot
    val gc0 = Jvm.gcSeconds()
    val t1 = System.nanoTime()
    val ran = Inventory.pass(ctx, invDir, Inventory.queries)
    val inventoryMs = (System.nanoTime() - t1) / 1e6
    val gc = Jvm.gcSeconds() - gc0
    counter.drain()
    val w2 = counter.total.snapshot
    val rebuild = w1 - w0
    val inventory = w2 - w1

    // Counting overhead on the smallest query: counting off, then on.
    val probe = "q03_agg_multi"
    val (off, on) = (1 to 3).map { _ =>
      def once(): Double = Inventory.pass(ctx, invDir, Seq(probe)).head.seconds
      counter.enabled = false
      val a = once()
      counter.enabled = true
      (a, once())
    }.unzip

    val callMetrics = Rebuild.calls.flatMap { c =>
      val s = spansNamed(c).headOption
      Seq(Metric(s"${c}_ms", s.map(trace.ms).getOrElse(0.0), "ms"),
        Metric(s"${c}_jobs", s.map(trace.work(_).jobs.toDouble).getOrElse(0.0), "count"))
    }
    val queryMetrics = Inventory.queries.flatMap { q =>
      val s = spansNamed(s"q.$q").headOption
      Seq(Metric(s"q.$q.s", s.map(trace.ms(_) / 1e3).getOrElse(0.0), "s"),
        Metric(s"q.$q.jobs", s.map(trace.work(_).jobs.toDouble).getOrElse(0.0), "count"))
    }
    val familyMetrics = Inventory.families.map { case (f, qs) =>
      Metric(s"family.${f}_s", ran.filter(r => qs.contains(r.query)).map(_.seconds).sum, "s")
    }
    val metrics = callMetrics ++ Seq(
      Metric("rebuild.jobs_total", rebuild.jobs.toDouble, "count"),
      Metric("rebuild.executor_busy_ratio", rebuild.runMs / (rebuildMs * 4), "ratio")) ++
      queryMetrics ++ familyMetrics ++ Seq(
      Metric("inventory.jobs_total", inventory.jobs.toDouble, "count"),
      Metric("inventory.stages_total", inventory.stages.toDouble, "count"),
      Metric("inventory.tasks_total", inventory.tasks.toDouble, "count"),
      Metric("inventory.shuffle_bytes", inventory.shuffleBytes.toDouble, "bytes"),
      Metric("inventory.spill_bytes", inventory.spillBytes.toDouble, "bytes"),
      Metric("inventory.planning_ms", inventory.planningMs.toDouble, "ms"),
      Metric("inventory.executor_busy_ratio", inventory.runMs / (inventoryMs * 4), "ratio"),
      Metric("inventory.gc_s", gc, "s"),
      Metric("trace.overhead_ratio", Stats.median(on) / Stats.median(off) - 1, "ratio"))
    Outcome(calls.size.toLong + ran.size, rebuildFailures ++ ran.flatMap(Inventory.check(_, "traced")),
      metrics, Seq("shape" -> gen.shape))
  }
}
