package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

final case class Metric(name: String, value: Double, unit: String)

/** What a workload run reports: its metrics, its checks and its record. */
final case class Outcome(
    attempted: Long,
    failures: Seq[Failure],
    metrics: Seq[Metric],
    record: Seq[(String, Any)] = Nil)

/** Everything a workload needs: the session, the arguments and, in a traced
  * run, the tracer. */
final class Ctx(val spark: SparkSession, val args: Args, val trace: Option[Trace]) {
  val processStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  private var harnessNs = 0L

  /** Run harness work (input generation, reference answers, checks) and
    * note its time, so that [[setupSeconds]] leaves it out. */
  def harness[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally harnessNs += System.nanoTime() - t0
  }

  /** Seconds since process start, less the harness work done so far: the
    * program's set-up time up to now. */
  def setupSeconds: Double =
    (System.currentTimeMillis() - processStartMs) / 1e3 - harnessNs / 1e9
  def harnessSeconds: Double = harnessNs / 1e9

  /** Run `body` in a span when tracing, plainly otherwise. */
  def span[T](name: String)(body: => T): T = trace match {
    case Some(t) => t.span(name)(body)._1
    case None => body
  }
}

/** Benchmark entry point: `perfbench.Main --workload <serve|batch>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir>`. Prints a run record
  * line (`RUN_RECORD {...}`) and, last, one JSON result line. */
object Main {
  val workloads: Seq[String] = Seq("serve", "batch")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = m.getOrElse("workload", sys.error("--workload is required"))
    require(workloads.contains(w), s"unknown workload $w; choose one of ${workloads.mkString(", ")}")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", Paths.get(m.getOrElse("work", ".bench_build/work")))
  }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Bench's fixed-work box probe (generated rows through a broadcast join,
    * a hash aggregate and a window), recorded for diagnosis only. */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val t0 = System.nanoTime()
    val fact = spark.range(0L, 16000000L, 1L, 32)
      .select(col("id"), pmod(col("id") * 2654435761L, lit(1048576)).as("h"),
        pmod(col("id"), lit(4096)).as("k"))
    val dim = spark.range(0L, 4096L)
      .select(col("id").as("k"), pmod(col("id") * 31, lit(97)).as("w"))
    fact.join(broadcast(dim), "k").groupBy("k")
      .agg(sum("h").as("sh"), count(lit(1)).as("n"), sum("w").as("sw"))
      .select(col("k"), col("sh"), col("n"), col("sw"),
        sum(col("sh")).over(Window.orderBy("k")
          .rowsBetween(Window.unboundedPreceding, 0)).as("run"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val spark = session(args.work)
    val trace = if (args.trace) {
      val counter = new WorkCounter(spark.sparkContext)
      spark.sparkContext.addSparkListener(counter)
      spark.listenerManager.register(counter)
      Some(new Trace(spark.sparkContext, counter))
    } else None
    val ctx = new Ctx(spark, args, trace)

    val outcome =
      try args.workload match {
        case "serve" => Serve.run(ctx)
        case "batch" => Batch.run(ctx)
      } catch {
        case t: Throwable =>
          System.err.println(s"workload ${args.workload} aborted: $t")
          t.printStackTrace()
          spark.stop()
          sys.exit(3)
      }
    val calib = calibrate(spark)

    val metrics = outcome.metrics ++
      (if (args.trace) Seq(Metric("box.calib_s", calib, "s")) else Nil)
    val runtime = ManagementFactory.getRuntimeMXBean
    val sparkConf = spark.sparkContext.getConf.getAll
      .filter { case (k, _) => !k.contains("host") && !k.contains("port") && !k.contains("id") }
      .sortBy(_._1).toMap
    val record = Seq(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace,
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "java" -> System.getProperty("java.version"),
        "jvm_flags" -> runtime.getInputArguments.asScala.toSeq,
        "spark_version" -> spark.version,
        "spark_conf" -> sparkConf,
        "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown"),
        "source_sha256" -> sys.env.getOrElse("PERFBENCH_SOURCE_SHA", "unknown"),
        "box.calib_s" -> calib,
        "gc_s" -> Jvm.gcSeconds(), "jit_s" -> Jvm.jitSeconds()),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failures.size,
      "failures" -> outcome.failures.take(50).map(f => Map("op" -> f.op, "cause" -> f.cause)),
      "metrics" -> metrics.map(m => m.name -> m.value).toMap) ++ outcome.record
    val recordJson = Json.obj(record)
    val recordFile = args.work.resolve("records")
      .resolve(s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json")
    Files.createDirectories(recordFile.getParent)
    Files.write(recordFile, recordJson.getBytes(StandardCharsets.UTF_8))
    trace.foreach(_.writeJsonl(args.work.resolve("traces")
      .resolve(s"${args.workload}-seed${args.seed}.jsonl")))
    outcome.failures.take(50).foreach(f => System.err.println(s"FAILED ${f.op}: ${f.cause}"))
    println("RUN_RECORD " + recordJson)
    val result = Json.obj(Seq(
      "correct" -> outcome.failures.isEmpty,
      "attempted" -> math.max(outcome.attempted, 1L),
      "failed" -> outcome.failures.size.toLong,
      "metrics" -> metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap))
    spark.stop()
    println(result)
  }
}
