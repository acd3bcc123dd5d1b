package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites (one per suite via lazy val). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Isolated session built with [[GraftExtensions]]: the plain-SQL surface
    * of the custom expressions (`spark.sql.extensions=graft.GraftExtensions`). */
  lazy val sqlSpark: SparkSession = SparkTestBase.extended

  /** Runs `f` with `spark.sql.autoBroadcastJoinThreshold=-1`, which also
    * turns off AQE's runtime broadcast: only an explicit `broadcast(...)`
    * can plan a broadcast join, so every planner-sized join shuffles — the
    * path a relation above the broadcast threshold takes. */
  def withoutAutoBroadcast[T](f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, prev)
  }

  /** `f`'s result and the number of Spark jobs started while it ran, from
    * any thread, whose job group `counted` accepts. A marker job in a group
    * of its own, once the listener sees it, proves every earlier job-start
    * event was delivered (the listener's bus queue is FIFO). */
  def groupJobsDuring[T](counted: String => Boolean)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `marker` => drained.countDown()
          case g: String if counted(g) => jobs.incrementAndGet()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setJobGroup(marker, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, TimeUnit.SECONDS), "marker job never reached the listener")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  val refData = "/root/reference/data"
  val testData = "/root/testdata"
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "6g"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  lazy val extended: SparkSession = isolated(new GraftExtensions)

  /** A new session on the shared SparkContext with its own function registry
    * and conf, built with `extensions`. `create()` makes the new session the
    * default and active one, so the shared session is put back. */
  def isolated(extensions: SparkSessionExtensions => Unit = _ => ()): SparkSession = {
    val shared = session
    val s = SparkSession.builder().withExtensions(extensions).create()
    SparkSession.setDefaultSession(shared)
    SparkSession.setActiveSession(shared)
    s
  }
}
