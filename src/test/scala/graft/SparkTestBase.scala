package graft

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
