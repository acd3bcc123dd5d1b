package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.expr.{Functions, Iast, VectorOps => V}

/** The two readers of the custom-expression table ([[graft.expr.Functions]]):
  *  - [[GraftExtensions]] puts every name into plain SQL, and the SQL call
  *    equals the Column helper;
  *  - the Column helpers build their expressions directly, so they evaluate
  *    on a session where nothing is registered.
  * Plus the injected optimizer rule: the levenshtein length band lands in
  * the optimized plan of an extension-built session. */
class GraftExtensionsSpec extends SparkTestBase {

  private lazy val fresh: SparkSession = SparkTestBase.isolated()

  private def inputs(s: SparkSession): DataFrame = s.sql(
    """SELECT * FROM VALUES
      |  ('kṛṣṇa khaṇḍa', 'the quick brown fox jumps over the lazy dog',
      |   array(1.0D, 2.0D), array(3.0D, 4.0D), array('a', 'b', 'c'),
      |   array('b', 'c', 'd'), array(1L, 2L, 3L), array(2L, 3L, 4L)),
      |  ('', 'one two three one two', array(0.5D), array(-2.0D),
      |   array('x'), array('y', 'z'), array(5L), array(5L, 6L))
      |AS t(s, t, v, w, a, b, la, lb)""".stripMargin)

  /** (table name, SQL call, Column helper) — one case per table entry. */
  private def cases: Seq[(String, String, Column)] = Seq(
    ("iast_sort_key", "iast_sort_key(s)", Iast.iastKey(col("s"))),
    ("vector_dot", "vector_dot(v, w)", V.vectorDot(col("v"), col("w"))),
    ("sorted_array_intersect", "sorted_array_intersect(a, b)",
      V.sortedArrayIntersect(col("a"), col("b"))),
    ("sorted_long_intersect", "sorted_long_intersect(la, lb)",
      V.sortedLongIntersect(col("la"), col("lb"))),
    ("sorted_char_ngrams", "sorted_char_ngrams(t, 3)",
      V.sortedCharNgrams(col("t"), 3)),
    ("minhash_sigs", "minhash_sigs(a, 4)", V.minhashSigs(col("a"), 4)),
    ("sorted_word_shingles", "sorted_word_shingles(t, 2)",
      V.sortedWordShingles(col("t"), 2)),
    ("word_ngrams", "word_ngrams(t, 2)", V.wordNgrams(col("t"), 2)),
    ("bigram_buckets", "bigram_buckets(t, 16)", V.bigramBuckets(col("t"), 16)),
    ("hashed_windows", "hashed_windows(t, 8, 4)",
      V.hashedWindows(col("t"), 8, 4)),
    ("hashed_char_ngrams", "hashed_char_ngrams(t, 3)",
      V.hashedCharNgrams(col("t"), 3)),
    ("qgram_keys", "qgram_keys(t, 2, 3)", V.qgramKeys(col("t"), 2, 3)),
    ("cdc_bounds", "cdc_bounds(t, 4, 3)", V.cdcBounds(col("t"), 4, 3)),
    ("pass_seg_keys", "pass_seg_keys(t, 2)", V.passSegKeys(col("t"), 2)),
    ("pass_probe_keys", "pass_probe_keys(t, 2)", V.passProbeKeys(col("t"), 2)),
    ("word_ngram_counts", "word_ngram_counts(t, 1)",
      V.wordNgramCounts(col("t"), 1)),
    ("char_hist64", "char_hist64(t)", V.charHist64(col("t"))),
    ("hist_l1", "hist_l1(char_hist64(s), char_hist64(t))",
      V.histL1(V.charHist64(col("s")), V.charHist64(col("t")))),
    ("simhash60", "simhash60(a)", V.simhash60(col("a"))))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("the cases cover the whole function table") {
    assert(cases.map(_._1).sorted === Functions.table.map(_.name).sorted)
  }

  test("every table name resolves in plain SQL and equals its Column helper") {
    val df = inputs(sqlSpark)
    cases.foreach { case (name, call, helper) =>
      val viaSql = rows(df.selectExpr(call))
      assert(viaSql.forall(!_.isNullAt(0)), name)
      assert(viaSql === rows(df.select(helper)), name)
    }
  }

  test("Column helpers evaluate on a session with nothing registered") {
    assert(!fresh.catalog.functionExists("vector_dot"))
    val ext = inputs(sqlSpark)
    val df = inputs(fresh)
    cases.foreach { case (name, call, helper) =>
      assert(rows(df.select(helper)) === rows(ext.selectExpr(call)), name)
    }
  }

  test("the injected rule puts the levenshtein length band in the plan") {
    // non-constant strings: a VALUES relation would be constant-folded and
    // the predicate erased before any rule runs
    val q = sqlSpark.sql(
      """SELECT w FROM (SELECT concat('kitten', id) AS w FROM range(2))
        |WHERE levenshtein(w, 'mitten') <= 2""".stripMargin)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("abs((length("), opt)
    assert(rows(q).map(_.getString(0)) === Seq("kitten0", "kitten1"))
  }
}
