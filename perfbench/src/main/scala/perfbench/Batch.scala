package perfbench

/** `batch`: one sequential caller runs one cold pass: the curator's offline
  * rebuild ([[Rebuild]]) over the generated export and then the
  * operator-inventory slice ([[Inventory]]) in a fixed order (a query's time
  * depends on what ran before it in the same JVM, so a seed-dependent order
  * would add spread without adding information).
  *
  * A rebuild is a one-shot job in a fresh JVM, so the pass is timed cold,
  * and a run makes exactly one pass however long it takes: a second, warm
  * pass inside the time budget would change what the figures mean as soon
  * as the program got fast enough to fit one. */
object Batch {

  final case class PassResult(calls: Seq[(String, Double)], queries: Seq[Inventory.Ran],
      failures: Seq[Failure]) {
    def opSeconds: Seq[Double] = calls.map(_._2) ++ queries.map(_.seconds)
    def seconds: Double = opSeconds.sum
  }

  def onePass(ctx: Ctx, gen: PanditGen, files: (java.nio.file.Path, java.nio.file.Path),
      invDir: java.nio.file.Path, tag: String): PassResult = {
    val (calls, rebuildFailures) =
      try Rebuild.pass(ctx, gen, files._1.toString, files._2.toString, tag)
      catch { case t: Throwable => (Nil, Seq(Failure.of(s"$tag rebuild", t))) }
    val ran = Inventory.pass(ctx, invDir, Inventory.queries)
    PassResult(calls, ran, rebuildFailures ++ ran.flatMap(Inventory.check(_, tag)))
  }

  def run(ctx: Ctx): Outcome = {
    val args = ctx.args
    val invDir = args.work.resolve("inventory-data")
    // Set-up is the JVM and the Spark session: the inputs are harness work,
    // and the program's own code first runs inside the pass.
    val (gen, files) = ctx.harness {
      InvData.write(ctx.spark, invDir, Inventory.dataSeed)
      val gen = new PanditGen(args.seed)
      val files = gen.write(args.work.resolve("export"))
      gen.ref.componentCount
      (gen, files)
    }
    val setupS = ctx.setupSeconds

    if (ctx.trace.isDefined) return BatchTrace.run(ctx, gen, files, invDir)

    val p = onePass(ctx, gen, files, invDir, "pass")
    val peakRss = Jvm.peakRssMb()
    // The calls and queries of a pass are different operations, not samples
    // of one: their median jumps between neighbours of similar cost, so the
    // typical operation is their geometric mean.
    val opMs = p.opSeconds.map(_ * 1000)
    Outcome(Rebuild.calls.size.toLong + Inventory.queries.size, p.failures, Seq(
      Metric("setup_s", setupS, "s"),
      Metric("pass_s", p.seconds, "s"),
      Metric("op_ms", Stats.geomean(opMs), "ms"),
      Metric("peak_rss_mb", peakRss, "MB")),
      Seq("batch" -> Map("ops" -> opMs.size, "op_p50_ms" -> Stats.median(opMs),
        "op_p90_ms" -> Stats.pct(opMs, 0.9),
        "rebuild_s" -> p.calls.map(_._2).sum,
        "inventory_s" -> p.queries.map(_.seconds).sum,
        "calls_s" -> p.calls.toMap,
        "queries_s" -> p.queries.map(r => r.query -> r.seconds).toMap),
        "harness_s" -> ctx.harnessSeconds, "shape" -> gen.shape))
  }
}
