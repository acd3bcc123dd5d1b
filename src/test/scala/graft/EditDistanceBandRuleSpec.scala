package graft

import org.apache.spark.sql.functions._
import graft.plans.EditDistanceBandRule

/** The optimizer rule is sound (results unchanged), effective (the O(1)
  * length band lands in the optimized plan, first in the conjunction), and
  * idempotent (safe under Catalyst's fixpoint runner). Injected at runtime
  * via experimentalMethods here — the declarative seam
  * (`spark.sql.extensions=graft.GraftExtensions`) is exercised by
  * [[GraftExtensionsSpec]] in its own session. */
class EditDistanceBandRuleSpec extends SparkTestBase {
  import spark.implicits._

  private def withRule[T](f: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ EditDistanceBandRule
    try f finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == EditDistanceBandRule)
    }
  }

  // RDD-backed, NOT a LocalRelation: Catalyst constant-folds a filter over
  // a LocalRelation into its result rows, which would erase the very
  // predicate this suite inspects
  private lazy val words = spark.createDataset(spark.sparkContext.parallelize(
    Seq("kitten", "sitting", "kitchen", "mitten", "a", "abcdefgh"), 2))
    .toDF("w")

  test("filter predicate gains the implied length band, band first") {
    withRule {
      val q = words.filter(expr("levenshtein(w, 'kitten') <= 2"))
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("abs((length(w") || opt.contains("abs((length("),
        s"no length band in:\n$opt")
      // soundness: same rows as the naive predicate ("sitting" is distance
      // 3 — inside the length band, rejected by the DP; "a" is rejected by
      // the band itself without ever running the DP)
      val expect = Set("kitten", "kitchen", "mitten")
      assert(q.collect().map(_.getString(0)).toSet === expect)
    }
    // and without the rule the band is absent (the rule did the work)
    val bare = words.filter(expr("levenshtein(w, 'kitten') <= 2"))
      .queryExecution.optimizedPlan.toString
    assert(!bare.contains("abs((length("))
  }

  test("join condition gains the band; pair results unchanged") {
    withRule {
      val l = Seq("abc", "abcd", "zzzzzzzz").toDF("lw")
      val r = Seq("abd", "abcdefgh").toDF("rw")
      val j = l.join(r, expr("levenshtein(lw, rw) < 2"))
      assert(j.queryExecution.optimizedPlan.toString.contains("abs((length("))
      assert(j.collect().map(x => (x.getString(0), x.getString(1))).toSet ===
        Set(("abc", "abd"), ("abcd", "abd")))
    }
  }

  test("rule is idempotent and leaves unrelated predicates alone") {
    val plan = words.filter(expr("levenshtein(w, 'kitten') <= 2 AND w != 'q'"))
      .queryExecution.analyzed
    val once = EditDistanceBandRule(plan)
    assert(EditDistanceBandRule(once).fastEquals(once))
    val untouched = words.filter(length($"w") > 2).queryExecution.analyzed
    assert(EditDistanceBandRule(untouched).fastEquals(untouched))
  }
}
