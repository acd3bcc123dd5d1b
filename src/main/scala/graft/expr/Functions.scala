package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.ColumnExpr

/** The one table of graft's custom Catalyst expressions: SQL name →
  * expression class and builder. It has exactly two readers:
  *  - the Column helpers ([[VectorOps]], [[Iast.iastKey]]) apply a builder
  *    to their arguments' expressions directly, so they work on any session,
  *    streaming micro-batch sessions included, with nothing registered;
  *  - [[graft.GraftExtensions]] injects every entry into SQL
  *    (`spark.sql.extensions=graft.GraftExtensions`).
  * Integer parameters (n, k, window, …) must be integer literals
  * ([[SortedCharNgrams.literalN]]).
  */
object Functions {
  final case class Entry(name: String, cls: Class[_ <: Expression],
      build: Seq[Expression] => Expression)

  private def int(e: Expression): Int = SortedCharNgrams.literalN(e)

  val table: Seq[Entry] = Seq(
    Entry("iast_sort_key", classOf[IastSortKey], a => IastSortKey(a(0))),
    Entry("vector_dot", classOf[VectorDot], a => VectorDot(a(0), a(1))),
    Entry("sorted_array_intersect", classOf[SortedArrayIntersect],
      a => SortedArrayIntersect(a(0), a(1))),
    Entry("sorted_long_intersect", classOf[SortedLongIntersect],
      a => SortedLongIntersect(a(0), a(1))),
    Entry("sorted_char_ngrams", classOf[SortedCharNgrams],
      a => SortedCharNgrams(a(0), int(a(1)))),
    Entry("minhash_sigs", classOf[MinHashSigs], a => MinHashSigs(a(0), int(a(1)))),
    Entry("sorted_word_shingles", classOf[SortedWordShingles],
      a => SortedWordShingles(a(0), int(a(1)))),
    Entry("word_ngrams", classOf[WordNgrams], a => WordNgrams(a(0), int(a(1)))),
    Entry("bigram_buckets", classOf[BigramBuckets],
      a => BigramBuckets(a(0), int(a(1)))),
    Entry("hashed_windows", classOf[HashedWindows],
      a => HashedWindows(a(0), int(a(1)), int(a(2)))),
    Entry("hashed_char_ngrams", classOf[HashedCharNgrams],
      a => HashedCharNgrams(a(0), int(a(1)))),
    Entry("qgram_keys", classOf[QGramKeys], a => QGramKeys(a(0), int(a(1)), int(a(2)))),
    Entry("cdc_bounds", classOf[CdcBounds], a => CdcBounds(a(0), int(a(1)), int(a(2)))),
    Entry("pass_seg_keys", classOf[PassSegKeys], a => PassSegKeys(a(0), int(a(1)))),
    Entry("pass_probe_keys", classOf[PassProbeKeys],
      a => PassProbeKeys(a(0), int(a(1)))),
    Entry("word_ngram_counts", classOf[WordNgramCounts],
      a => WordNgramCounts(a(0), int(a(1)))),
    Entry("char_hist64", classOf[CharHist64], a => CharHist64(a(0))),
    Entry("hist_l1", classOf[HistL1], a => HistL1(a(0), a(1))),
    Entry("simhash60", classOf[SimHash60], a => SimHash60(a(0))))

  private val byName: Map[String, Entry] = table.map(e => e.name -> e).toMap

  /** Column form of entry `name`, built directly from `args` — no function
    * registry lookup. */
  def apply(name: String, args: Column*): Column =
    ColumnExpr.column(byName(name).build(args.map(ColumnExpr.expression)))
}
