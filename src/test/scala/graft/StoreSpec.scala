package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Store

/** Physical-layout proofs: bucketed co-located join plans with no shuffle;
  * partitioned layout prunes directories at scan time. */
class StoreSpec extends SparkTestBase {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("bucketed tables join shuffle-free (no Exchange, SortMergeJoin)") {
    val dir = tmp("bucketed")
    val li = spark.read.parquet(s"$testData/sf0.001/lineitem.parquet")
    val ord = spark.read.parquet(s"$testData/sf0.001/orders.parquet")
    Store.writeBucketed(li.withColumnRenamed("l_orderkey", "k"),
      "li_b", s"$dir/li", "k", 8)
    Store.writeBucketed(ord.withColumnRenamed("o_orderkey", "k"),
      "ord_b", s"$dir/ord", "k", 8)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // disable broadcast so the join would otherwise need a full shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = Store.table(spark, "li_b")
        .join(Store.table(spark, "ord_b"), "k")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange hashpartitioning(k"),
        "join key shuffle should be eliminated by bucketing:\n" + plan.take(2000))
      // and the result is still right
      val n = joined.agg(sum("n")).head().getLong(0)
      assert(n === li.join(ord, li("l_orderkey") === ord("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("copurchase MV: consumers read the bucketed view Exchange-free") {
    val d = s"$testData/sf0.001"
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // q105 is a pure filter+project over the view: its WHOLE plan must be
      // a bucketed scan with zero Exchange — no lineitem self-join replay
      val q105 = SparkEntry.queries("q105_copurchase_pairs")(spark, d)
      val p105 = q105.queryExecution.executedPlan.toString
      assert(!p105.contains("Exchange"),
        "q105 should read the materialized view shuffle-free:\n" + p105.take(2000))
      assert(p105.contains("graft_copurchase"),
        "q105 no longer reads the materialized view:\n" + p105.take(2000))
      // the per-source-node aggregate (first op of the degree-style
      // consumers) collapses partial+final over the bucket distribution —
      // no Exchange between scan and aggregate
      val deg = Store.copurchase(spark, d).groupBy(col("a"))
        .agg(sum(col("cnt")).as("w"))
      val pDeg = deg.queryExecution.executedPlan.toString
      assert(!pDeg.contains("Exchange hashpartitioning(a"),
        "a-keyed aggregate reshuffled despite bucketing on a:\n" + pDeg.take(2000))
      // and the view's content equals the direct derivation
      val li = spark.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val direct = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").cast("long").as("a"), col("y.p").cast("long").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = Store.copurchase(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === direct)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("partitioned layout prunes directories at scan") {
    val dir = tmp("partitioned")
    val docs = spark.read.parquet(s"$testData/sf0.001/documents.parquet")
    Store.writePartitioned(docs, "docs_p", s"$dir/docs", "lang")
    try {
      val q = Store.table(spark, "docs_p").filter(col("lang") === "en")
      val scan = q.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters") && scan.contains("lang"),
        scan.take(2000))
      assert(q.count() === docs.filter(col("lang") === "en").count())
    } finally spark.sql("DROP TABLE IF EXISTS docs_p")
  }

  test("extensions-injected iast_sort_key is usable from SQL") {
    val r = sqlSpark.sql(
      "SELECT iast_sort_key('kha') AS k, iast_sort_key('ka') AS k2")
      .head()
    val kha = r.getSeq[Int](0)
    val ka = r.getSeq[Int](1)
    // digraph 'kh' ranks after 'k'; both keys start at their first position
    assert(kha.head > ka.head)
  }
}
