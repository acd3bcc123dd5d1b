package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** IAST (Sanskrit transliteration) collation key.
  *
  * Reference: `utils/utils.py:84-103`. The sort key of a label is the array of
  * alphabet positions obtained by scanning the lowercased string one char at a
  * time; at each index the 2-char digraph starting there is looked up first
  * (`ai`, `kh`, `gh`, ...), then the single char; unknown chars rank after the
  * whole alphabet (position 49). NOTE the reference does NOT skip the second
  * char of a matched digraph — every index contributes a key element (e.g.
  * "kha" → [kh, h(!), a]). We reproduce that exactly: dropdown order is
  * user-visible behavior.
  *
  * Implemented as a native Catalyst expression (eval-based; the per-row work
  * is a tight array scan, and keys order naturally as ArrayType(IntegerType)).
  */
object Iast {
  val alphabet: IndexedSeq[String] = IndexedSeq(
    "a", "ā", "i", "ī", "u", "ū", "ṛ", "ṝ", "ḷ", "ḹ", "e", "ai", "o", "au",
    "k", "kh", "g", "gh", "ṅ",
    "c", "ch", "j", "jh", "ñ",
    "ṭ", "ṭh", "ḍ", "ḍh", "ṇ",
    "t", "th", "d", "dh", "n",
    "p", "ph", "b", "bh", "m",
    "y", "r", "l", "v",
    "ś", "ṣ", "s",
    "h",
    "ṃ", "ḥ")

  private val order: Map[String, Int] = alphabet.zipWithIndex.toMap
  private val unknownRank: Int = alphabet.length // 49

  /** The collation key for one string (mirrors `custom_sort_key`). */
  def sortKey(word: String): Array[Int] = {
    val w = word.toLowerCase
    val n = w.length
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val di = if (i + 2 <= n) order.get(w.substring(i, i + 2)) else None
      out(i) = di.getOrElse(order.getOrElse(w.substring(i, i + 1), unknownRank))
      i += 1
    }
    out
  }

  /** Column API: `iastKey($"label")` → ArrayType(IntegerType) sort key,
    * built directly (works on any session, nothing registered). */
  def iastKey(c: Column): Column = Functions("iast_sort_key", c)

  /** Ordering on raw strings, for driver-side sorts (small result sets). */
  implicit val keyOrdering: Ordering[String] = Ordering.by { s: String =>
    sortKey(s).toIndexedSeq
  }(Ordering.Implicits.seqOrdering(Ordering.Int))

  /** Codegen entry point: UTF8String in, Catalyst array out. */
  def sortKeyArrayData(s: UTF8String): GenericArrayData =
    new GenericArrayData(sortKey(s.toString).map(Int.box))
}

/** Native expression with `doGenCode` — stays inside whole-stage codegen
  * (the generated code calls the static key builder directly; no
  * interpreted-eval fallback row path). */
case class IastSortKey(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Iast.sortKeyArrayData(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.Iast.sortKeyArrayData($c)")
  override protected def withNewChildInternal(newChild: Expression): IastSortKey =
    copy(child = newChild)
  override def prettyName: String = "iast_sort_key"
}
