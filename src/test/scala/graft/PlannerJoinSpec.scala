package graft

import org.apache.spark.sql.DataFrame

import graft.graph.Analytics
import graft.ops.TextAnalysis

/** The join strategy is the planner's decision: building an operator runs
  * no driver-side count to pick one, on a small input the planner's own
  * size check still broadcasts, and a vocabulary-sized relation is sized
  * from its measured bytes, not from the corpus it was aggregated from. */
class PlannerJoinSpec extends SparkTestBase {

  /** `build`'s result and the Spark jobs submitted while it ran: its jobs
    * carry a fresh job group. */
  private def jobsDuring[T](build: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"build-${java.util.UUID.randomUUID()}"
    groupJobsDuring(_ == group) {
      sc.setJobGroup(group, "operator construction")
      try build finally sc.clearJobGroup()
    }
  }

  import spark.implicits._

  private val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")

  /** `nDocs` docs over `words`; every corpus carries a fresh salt, so its
    * plan is new and Similarity.corpusCount's memo cannot answer a count
    * from another case. */
  private def corpus(nDocs: Long): DataFrame = {
    val salt = java.util.UUID.randomUUID().toString.take(8)
    (1L to nDocs).map { i =>
      val text = (0 until 12).map(j => words(((i * 7 + j * j) % words.size).toInt))
      (i, (text :+ s"w${i % 50}" :+ s"salt$salt").mkString(" "),
        if (i % 2 == 0) "a" else "b")
    }.toDF("doc_id", "text", "source")
  }

  test("operators run no job to pick a join strategy, and small inputs still broadcast") {
    // components of 2-4 members: the extra_small category
    val entities = (1 to 12).map(i => (s"e$i", s"name$i", "work"))
      .toDF("id", "name", "type")
    val components = (1 to 12).map(i => (s"e$i", s"c${i % 4}")).toDF("id", "component")
    val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "componentListings" -> (_ => Analytics.componentListings(components, entities)),
      "bigramLogProb" -> TextAnalysis.bigramLogProb)
    val built = cases.map { case (name, build) =>
      val (df, jobs) = jobsDuring(build(corpus(60)))
      (name, df, jobs)
    }
    val counted = built.collect { case (name, _, jobs) if jobs > 0 => s"$name: $jobs" }
    assert(counted.isEmpty, s"jobs submitted while building: ${counted.mkString(", ")}")
    built.foreach { case (name, df, _) =>
      assert(df.collect().nonEmpty, s"$name returned no rows")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name executed plan:\n$plan")
    }
  }

  test("vocabulary attaches broadcast from the measured vocabulary when the corpus estimate is past the threshold") {
    // 3000 docs: the static estimate of any aggregate over their token
    // stream is ~100 KB, far past a 16 KB threshold, while the vocabulary
    // is 55 words. A token-keyed exchange in the executed plan means the
    // token stream was shuffled to reach the attach (AQE may still turn
    // the join into a broadcast afterwards, but only once that shuffle
    // is written).
    val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "unigramLogProb" -> TextAnalysis.unigramLogProb,
      "pmiPairs" -> (TextAnalysis.pmiPairs(_, minCount = 1, maxShareInv = 1, minPair = 1)),
      "mooreLewisScore" -> (TextAnalysis.mooreLewisScore(_, "a")))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "16384")
    try cases.foreach { case (name, build) =>
      val df = build(corpus(3000))
      assert(df.collect().nonEmpty, s"$name returned no rows")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name executed plan:\n$plan")
      assert("hashpartitioning\\(tok#".r.findFirstIn(plan).isEmpty,
        s"$name shuffled the token stream:\n$plan")
    } finally spark.conf.set(key, prev)
  }
}
