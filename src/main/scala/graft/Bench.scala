package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the full query inventory on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...,"queries":{...}}.
  *
  * Each query is fully materialized through the noop v2 sink — `count()`
  * alone would let Catalyst prune expensive projections out of the plan and
  * under-report. One warm-up query primes the JVM/codegen before timing.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // ContextCleaner frees broadcast/shuffle state only when driver GC runs;
      // the default periodic-GC interval (30 min) never fires inside a bench
      // run, so a 68-query session can accumulate enough heap debris to
      // throttle allocation-heavy queries. Fire it every minute instead.
      .config("spark.cleaner.periodicGC.interval", "1min")
      // The generated-class cache defaults to 100 entries; a 150-query
      // session generates far more, so by the time a query re-runs its
      // classes are evicted and janino recompiles them — measured: q36 costs
      // ~5 s cold vs ~3.3 s warm PER SESSION-INTERLEAVED RUN even after a
      // dedicated warm-up, because 35 queries run in between. A size that
      // covers the whole inventory keeps every warm-up compilation live
      // (static conf — must be set before the session starts).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    // Session-state isolation (round-3 adjudication: q36 recorded 3-5x its
    // isolated ~5 s cost in full 150-query runs; a worktree A/B proved the
    // plans innocent — the inflation was debris accumulated across the
    // preceding queries). Two debris channels, both reset OUTSIDE the timed
    // region after every query:
    //  1. localCheckpoint blocks: every iterative op (BFS, CC, Louvain,
    //     power iteration) persists FreshCheckpoint RDDs in the block
    //     manager; they are freed only when the RDD object is GC'd AND the
    //     async ContextCleaner processes it — across 150 queries they pile
    //     into the storage memory that allocation-heavy queries need.
    //     Explicit blocking unpersist of everything still registered makes
    //     the reclaim deterministic.
    //  2. broadcast/shuffle registrations: driver-heap metadata freed by
    //     ContextCleaner only after a GC cycle. Forcing a GC after every
    //     query would add ~100 full-GC pauses of wall; instead GC whenever
    //     the accumulated query time since the last forced GC exceeds 5 s —
    //     debris stays bounded by a few queries' worth, GC count stays ~30.
    var sinceGc = 0.0
    def resetSessionState(sec: Double): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      sinceGc += math.max(sec, 0.0)
      if (sinceGc > 5.0) { System.gc(); sinceGc = 0.0 }
    }

    // (query_sec, gc_sec_during_query) — the gc column diagnoses environment
    // anomalies (round 1: identical commit ran 69 s locally, 1081 s on the
    // driver box, inflation concentrated in allocation-heavy queries)
    // A failure records -1 on stdout and its cause on stderr.
    def runOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      val failed =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); false }
        catch { case e: Throwable =>
          System.err.println(
            s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          true
        }
      val sec = (System.nanoTime() - t0) / 1e9
      val gc = (gcMillis() - g0) / 1e3
      resetSessionState(sec)
      if (failed) (-1.0, 0.0) else (sec, gc)
    }

    // Warm-up (JVM + codegen + parquet footer caches). One stock query primes
    // Spark's scan/agg machinery; the heavy-family pass at sf0.001 primes the
    // native expression helpers (SortedCharNgrams.compute, MinHashSigs,
    // SimHash60, SortedArrayIntersect — codegen calls static methods, so C2
    // JIT state transfers across plans) plus janino's generated-class cache.
    // Measured: q36's first execution in a session costs 9.4 s vs 2.8-3.6 s
    // for every later one — ~6 s of one-time JIT, not plan cost; a steady-
    // state benchmark should not bill that to whichever query runs first.
    // sf0.001 keeps the whole warm-up pass under ~10 s of untimed work.
    //
    // r14 (OPTIMIZATION_r14.md, the r13 "heavy-isolation child JIT" item):
    // a SUBSET run — which includes the heavy-isolation child, whose
    // queries each execute exactly ONCE against a fresh JVM — warms up
    // with ITS OWN selected queries at sf0.001, so no timed number carries
    // one-time JIT/codegen compilation for plans unique to that query
    // (measured on the child: q265 cold 14.4 s vs warm 6.4 s in r13). The
    // timed region is untouched: warm-up stays untimed, runs on the
    // sf0.001 directory, and its results are discarded — every timed
    // execution still computes from the benched parquet inputs. Full-run
    // in-session warm-up keeps the r3-era static set (its heavy members
    // are measured in the child anyway).
    runOne("q02_agg_sum_groupby", SparkEntry.queries("q02_agg_sum_groupby"))
    val warmDir = java.nio.file.Paths.get(sfDir).toAbsolutePath
      .getParent.resolve("sf0.001")
    val onlyPre = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    if (java.nio.file.Files.isDirectory(warmDir)) {
      val warmSet = onlyPre match {
        case Some(prefixes) => SparkEntry.queries.keys.toSeq.sorted
          .filter(n => prefixes.exists(n.startsWith))
        case None => Seq(
          "q35_dedup_minhash_lsh", "q36_ngram_jaccard", "q37_simhash_neardups",
          "q91_sssp_weighted", "q102_levenshtein_pairs", "q116_random_walks",
          "q105_copurchase_pairs", "q150_semantic_dedup", "q31_bfs_2hop",
          "q53_betweenness", "q148_line_dedup", "q112_negative_sampling")
      }
      warmSet.foreach { n =>
        try SparkEntry.queries(n)(spark, warmDir.toString)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => }
      }
      resetSessionState(0.0)
    }

    // Fixed-work calibration probe (round-10, judge-prescribed). Three
    // rounds (r6, r9) hand-adjudicated "is this 1.1x real?" box drift; this
    // makes it machine-checkable. A deterministic, ZERO-I/O workload —
    // generated rows through a broadcast join, a hash-agg shuffle, and a
    // small window — measures the BOX+JVM's speed for exactly the
    // shuffle/agg machinery the inventory uses, independent of any code in
    // this repo or any parquet file. Every bench line records the best of 3
    // as "calib_s"; tools/bench_trend.py divides the raw round-over-round
    // ratio by the calibration ratio to report a drift-normalized trend.
    // Runs after warm-up, outside any query's timed region; ~3 s total.
    def calibrate(): Double = {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val fact = spark.range(0L, 16000000L, 1L, 32)
          .select(col("id"),
            pmod(col("id") * 2654435761L, lit(1048576)).as("h"),
            pmod(col("id"), lit(4096)).as("k"))
        val dim = spark.range(0L, 4096L)
          .select(col("id").as("k"), pmod(col("id") * 31, lit(97)).as("w"))
        fact.join(broadcast(dim), "k")
          .groupBy("k")
          .agg(sum("h").as("sh"), count(lit(1)).as("n"), sum("w").as("sw"))
          .select(col("k"), col("sh"), col("n"), col("sw"),
            sum(col("sh")).over(Window.orderBy("k")
              .rowsBetween(Window.unboundedPreceding, 0)).as("run"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      resetSessionState(times.sum)
      times.min
    }
    val calibStartSec = calibrate()

    // Optional subset for local iteration: comma-separated name prefixes.
    // A subset runs in the ONLY-list's order (debris accumulates forward, so
    // the heavy-isolation child lists its most allocation-heavy queries
    // first and they run against the freshest JVM); a full run is name-order.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
        only.forall(_.exists(n.startsWith))
      }.sortBy { case (n, _) =>
        only.map(_.indexWhere(n.startsWith)).getOrElse(0)
      }

    // Heavy-family process isolation. Two rounds of adjudication (r3: q36
    // 16.8 s recorded / 5 s isolated; r4: 18.4 s / 5.5 s) proved that
    // in-session resets (blocking unpersist + paced GC above) do NOT fully
    // protect the allocation-heavy tail once ~150 queries share the JVM —
    // the recorded number is session debris, not plan cost. So a full run
    // measures the known-heavy set in a FRESH child JVM (same flags, same
    // classpath, its own warm-up) and merges those timings; the in-session
    // numbers for them are discarded. Subset runs (SPARK_GRAFT_ONLY set,
    // including the child itself) never recurse.
    // descending expected cost: the priciest queries meet the freshest JVM
    val heavySet = Seq(
      "q320_ivfpq_drift_recall", "q323_impact_drift_recall",
      "q324_dsir_gate_drift", "q321_ingest_admission",
      "q265_dataset_release", "q292_ivfpq_recall", "q298_ivfpq_staleness",
      "q319_multiprobe_frontier", "q318_hybrid_serve",
      "q275_ivfpq_ann", "q274_incremental_release", "q293_changelog_release",
      "q299_ivfpq_append",
      "q200_canonical_parts", "q191_record_linkage", "q197_pretrain_pipeline",
      "q257_fuzzy_pretrain_pipeline",
      "q36_ngram_jaccard", "q174_containment", "q102_levenshtein_pairs",
      "q152_pq_ann", "q153_incremental_minhash", "q150_semantic_dedup",
      "q91_sssp_weighted", "q151_substring_spans")
    def runHeavyIsolated():
        Option[(Map[String, Double], Double, Map[String, Double])] =
      try {
        val childOut = java.nio.file.Files.createTempFile("bench_heavy", ".json")
        val jvmBin = java.nio.file.Paths.get(
          System.getProperty("java.home"), "bin", "java").toString
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments.asScala.toSeq
        val cmd = (Seq(jvmBin) ++ jvmArgs ++
          Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")).asJava
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.environment().put("SPARK_GRAFT_CPUS", cpus)
        pb.environment().put("SPARK_GRAFT_ONLY", heavySet.mkString(","))
        pb.environment().put("SPARK_GRAFT_BENCH_OUT", childOut.toString)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        pb.redirectErrorStream(false)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val proc = pb.start()
        val done = proc.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
        if (!done) { proc.destroyForcibly(); proc.waitFor() }
        val txt = new String(java.nio.file.Files.readAllBytes(childOut), "UTF-8")
        val parsed = "\"(q\\d[a-z0-9_]*)\":(-?[0-9.]+)".r
          .findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        // the child's own bracketing probes measure the box DURING the
        // heavy family — surfaced as calib_heavy_s so a contention phase
        // landing inside the priciest queries is machine-attributable
        // (r11: q265 13->59 s at flat parent calib; the parent's
        // start/end brackets cannot see a phase inside the child window).
        // r12 judge item: surface the child's INDIVIDUAL start/mid/end
        // probes too (calib_heavy_{start,mid,end}_s) — calib_heavy_s alone
        // is the child's MIN, which hides a contention phase that lands
        // between the child's own probes; bench_trend's flat-calib test
        // needs the spread, not the floor.
        def childProbe(key: String): Double =
          ("\"" + key + "\":(-?[0-9.]+)").r.findFirstMatchIn(txt)
            .map(_.group(1).toDouble).getOrElse(-1.0)
        val childCalib = childProbe("calib_s")
        val childProbes = Seq("calib_start_s", "calib_mid_s", "calib_end_s")
          .map(k => k -> childProbe(k)).filter(_._2 > 0).toMap
        if (parsed.isEmpty) None else Some((parsed, childCalib, childProbes))
      } catch { case e: Throwable =>
        System.err.println(s"BENCH heavy-isolation spawn failed: $e"); None
      }

    val isFullRun = only.isEmpty
    val (heavyIsolated: Map[String, Double], calibHeavySec: Double,
        heavyProbes: Map[String, Double]) =
      if (isFullRun) runHeavyIsolated()
        .getOrElse((Map.empty[String, Double], -1.0, Map.empty[String, Double]))
      else (Map.empty[String, Double], -1.0, Map.empty[String, Double])
    if (isFullRun && heavyIsolated.isEmpty)
      System.err.println(
        "BENCH WARNING: heavy-family isolation unavailable; falling back to in-session timings")

    // Mid-run probe (r11 judge item 1): the start/end brackets stamp the
    // box at the run's edges, but documented contention phases land INSIDE
    // the ~7-minute window (r11 run 6: q265 13->59 s at flat edge calib).
    // One extra probe at the halfway point, outside any timed region,
    // bounds where such a phase occurred; bench_trend.py warns when a
    // query blows past its window minimum while every probe stayed flat.
    val half = selected.size / 2
    var calibMidSec = -1.0
    val results = selected.zipWithIndex.map { case ((name, fn), i) =>
      if (i == half && selected.size >= 8) calibMidSec = calibrate()
      heavyIsolated.get(name) match {
        case Some(iso) if iso >= 0 => name -> (iso, 0.0) // fresh-JVM timing
        case _ => name -> runOne(name, fn)
      }
    }
    // Round-11 (advisor): probe again AFTER the queries. A single
    // start-of-run probe stamps one instant on a ~7-minute window while the
    // box has documented 1.5-3x same-session drift phases — bounding the
    // window with probes at BOTH ends makes `calib_s` (the min, what
    // bench_trend.py normalizes by) an honest lower bound on the box's
    // speed during the run, and the start/end pair documents the drift
    // that actually happened inside it.
    val calibEndSec = calibrate()
    val calibSec = (Seq(calibStartSec, calibEndSec) ++
      Seq(calibMidSec, calibHeavySec).filter(_ > 0)).min
    val qs = results.map { case (k, (v, _)) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val gcTotal = results.map(_._2._2).sum
    // diagnostic line (stderr): per-query driver-JVM GC seconds
    val gcs = results.filter(_._2._2 >= 0.1)
      .map { case (k, (_, g)) => "\"" + k + f"\":$g%.1f" }.mkString("{", ",", "}")
    System.err.println(f"""BENCHGC {"gc_total_sec":$gcTotal%.1f,"gc_by_query":$gcs}""")
    val calibExtra =
      (if (calibMidSec > 0) f""","calib_mid_s":$calibMidSec%.3f""" else "") +
      (if (calibHeavySec > 0) f""","calib_heavy_s":$calibHeavySec%.3f""" else "") +
      heavyProbes.toSeq.sortBy(_._1).map { case (k, v) =>
        f""","calib_heavy_${k.stripPrefix("calib_").stripSuffix("_s")}%s_s":$v%.3f"""
      }.mkString
    val json = f"""{"metric":"total","value":$total%.3f,"unit":"sec","calib_s":$calibSec%.3f,"calib_start_s":$calibStartSec%.3f,"calib_end_s":$calibEndSec%.3f$calibExtra,"queries":$qs,"sf":"$sfDir"}"""
    // The driver stores only a truncated log tail (rounds 1-2 both ended with
    // "parsed": null and invisible timings for most queries), so persist the
    // full JSON to a file as the durable record and print it to stdout too.
    // bench_out.json is the stable latest-run record (the judge reads it);
    // every run ALSO appends to bench_history.jsonl so overwriting the
    // stable name never silently loses a prior run's timings.
    // File outputs: an explicit SPARK_GRAFT_BENCH_OUT redirects the stable-
    // name output (that's how the heavy-isolation child hands results back),
    // but history accrual is keyed ONLY on isFullRun: any full inventory run
    // appends to bench_history.jsonl regardless of where its primary output
    // goes, so a canonical run invoked with an explicit path keeps accruing
    // history. Subset repro runs touch neither file — overwriting them (and
    // poisoning per-query history medians with -1 sentinels) is exactly what
    // happened in round 4. History consumers must filter on the "sf" field
    // before comparing medians: the file mixes scale factors by design.
    sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some(p) =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(p), (json + "\n").getBytes("UTF-8"))
      case None if isFullRun =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get("bench_out.json"), (json + "\n").getBytes("UTF-8"))
      case None => // subset run: stdout only
    }
    if (isFullRun) {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_history.jsonl"), (json + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    println(json)
    spark.stop()
  }
}
