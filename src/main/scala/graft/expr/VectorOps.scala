package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Native vector dot product over `array<double>` columns.
  *
  * Spark's higher-order functions (`aggregate(zip_with(...))`) run
  * INTERPRETED with per-element boxing — measured ~300 µs/pair on dim-256
  * vectors, which is invisible on per-row paths but catastrophic on O(pairs)
  * similarity joins (a 3× corpus scale-up took the embedding near-dup join
  * from 3.7 s to 545 s). This expression is a primitive `getDouble` loop in
  * both eval and generated code: no boxing, stays inside whole-stage codegen.
  *
  * Unequal lengths use the common prefix (embeddings are fixed-dim; the HOF
  * formulation null-poisons instead — don't feed ragged arrays to either).
  */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  // Strict typing: the eval loop reads raw array slots as doubles, so an
  // array<long> input (e.g. from Spark's LONG-returning floor()) would be
  // REINTERPRETED BITS, not converted values — fail analysis instead of
  // silently producing NaN/garbage. Callers cast explicitly so the plan
  // shows where the conversion happens.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vector_dot needs array<double> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}Acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vector_dot"
}

/** Intersection size of two SORTED string arrays (merge walk) — the exact
  * set-overlap verifier for similarity joins. The relational alternative
  * (candidates ⋈ tokens ⋈ tokens + groupBy) enumerates Σ_pairs |set(a)| rows;
  * this evaluates per candidate pair in O(|a|+|b|) with no shuffle. Inputs
  * MUST be sorted ascending (use `sort_array`); elements assumed distinct
  * within each array (set semantics).
  */
case class SortedArrayIntersect(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var n = 0L
    while (i < nx && j < ny) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val c = ctx.freshName("c")
      s"""
         |int $nx = $x.numElements(); int $ny = $y.numElements();
         |int $i = 0; int $j = 0; long ${ev.value}Acc = 0L;
         |while ($i < $nx && $j < $ny) {
         |  int $c = $x.getUTF8String($i).compareTo($y.getUTF8String($j));
         |  if ($c == 0) { ${ev.value}Acc++; $i++; $j++; }
         |  else if ($c < 0) $i++; else $j++;
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedArrayIntersect =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_array_intersect"
}

/** [[SortedArrayIntersect]] for SORTED `array<bigint>` (primitive getLong
  * merge walk — no UTF8String materialization). Used by triangle counting
  * over sorted adjacency lists of long node ids. */
case class SortedLongIntersect(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var n = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $nx = $x.numElements(); int $ny = $y.numElements();
         |int $i = 0; int $j = 0; long ${ev.value}Acc = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $x.getLong($i); long $yv = $y.getLong($j);
         |  if ($xv == $yv) { ${ev.value}Acc++; $i++; $j++; }
         |  else if ($xv < $yv) $i++; else $j++;
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersect =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_long_intersect"
}

/** Sorted distinct character n-grams of a string, as one per-row expression —
  * semantically `array_sort(array_distinct(transform(sequence(1, len-n+1),
  * i -> substring(s, i, n))))` but with no per-gram row materialization: the
  * relational formulation explodes ~|text| rows per document through a wide
  * shuffle just to re-collect them per doc; this computes the final array in
  * a TreeSet walk per row, so the gram-array build needs NO shuffle at all.
  * Binary UTF8String ordering = `sort_array` ordering; code-point-based
  * substringSQL = `substring` semantics. Empty array when len < n.
  */
case class SortedCharNgrams(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SortedCharNgrams.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.SortedCharNgrams.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): SortedCharNgrams =
    copy(child = newChild)

  override def prettyName: String = "sorted_char_ngrams"
}

object SortedCharNgrams {
  /** Resolve the `n` argument from a builder argument expression: must be a
    * foldable integer literal; anything else gets a clear analysis error
    * instead of an opaque ClassCastException. */
  def literalN(e: Expression): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      "sorted_char_ngrams(s, n): n must be an integer literal")
    e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"sorted_char_ngrams(s, n): n must be an integer literal, got $other")
    }
  }

  /** Static entry point shared by eval and generated code. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val total = s.numChars() - n + 1
    if (total <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val set = new java.util.TreeSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 1
    while (i <= total) { set.add(s.substringSQL(i, n)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      set.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }
}

/** Sorted distinct word n-gram shingles of a text, one per-row expression —
  * semantically `array_sort(array_distinct(transform(sequence(1, w-n+1),
  * i -> concat_ws(' ', slice(filter(split(lower(s), "\\s+"), x -> x <> ''),
  * i, n)))))`, the MinHash shingle definition. The composed form walks six
  * expression nodes allocating intermediate arrays per row and measured as
  * the DOMINANT cost of the MinHash pipeline (~0.7 ms/doc at sf0.1 — more
  * than the 8-way salted md5 signatures it feeds); this builds the final
  * sorted array in one tokenizer walk + TreeSet per row. Token semantics
  * match the composed form exactly: lower() ≡ UTF8String.toLowerCase,
  * split on runs of Java-regex `\s` (ASCII-only: space \t \n \x0B \f \r),
  * empties dropped, shingles joined by a single space, TreeSet ordering ≡
  * array_sort's UTF8String binary ordering. Empty array when < n words.
  */
case class SortedWordShingles(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SortedWordShingles.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.SortedWordShingles.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): SortedWordShingles =
    copy(child = newChild)

  override def prettyName: String = "sorted_word_shingles"
}

object SortedWordShingles {
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Static entry point shared by eval and generated code. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val str = s.toLowerCase.toString
    val len = str.length
    // word boundaries (start, end) over runs of non-\s chars
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      if (i < len) {
        starts.add(i)
        while (i < len && !isWs(str.charAt(i))) i += 1
        ends.add(i)
      }
    }
    val w = starts.size()
    if (w < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val set = new java.util.TreeSet[org.apache.spark.unsafe.types.UTF8String]()
    val sb = new java.lang.StringBuilder(64)
    var k = 0
    while (k <= w - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(str, starts.get(k + j), ends.get(k + j))
        j += 1
      }
      set.add(org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      set.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }
}

/** All consecutive word n-grams of a text IN DOCUMENT ORDER, duplicates
  * kept — the tf-preserving sibling of [[SortedWordShingles]] (same
  * tokenizer walk: lower() ≡ UTF8String.toLowerCase, split on runs of
  * Java-regex `\s` (ASCII-only: space \t \n \x0B \f \r), empties dropped,
  * grams joined by a single space). Semantically the old tokenGrams
  * pipeline `posexplode(filter(split(lower(text), "\\s+"), _ ≠ '')) →
  * lead(tok, i) over (partition doc order pos) → concat_ws(' ', ...)` —
  * but computed per ROW, so gram construction needs NO shuffle at all:
  * the explode+window form shuffles and sorts the corpus' entire token
  * stream just to pair each token with its successors (measured as the
  * dominant exchange of every bm25/impact-index query). Empty array when
  * fewer than n words. */
case class WordNgrams(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WordNgrams.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.WordNgrams.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)

  override def prettyName: String = "word_ngrams"
}

object WordNgrams {
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Static entry point shared by eval and generated code. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val str = s.toLowerCase.toString
    val len = str.length
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      if (i < len) {
        starts.add(i)
        while (i < len && !isWs(str.charAt(i))) i += 1
        ends.add(i)
      }
    }
    val w = starts.size()
    if (w < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](w - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var k = 0
    while (k <= w - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(str, starts.get(k + j), ends.get(k + j))
        j += 1
      }
      out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Per-row word n-gram COUNTS — semantically
  * `tokenGrams → groupBy(doc_id, gram) → count` for one document, computed
  * inside the scan stage: the gram multiset is doc-local, so the corpus-
  * wide (doc, gram) rollup those consumers paid was pure data movement of
  * keys that are already unique per map task (r14; the gram construction
  * itself went per-row in r13 via [[WordNgrams]]). Same tokenizer walk and
  * single-space join as [[WordNgrams]]; returns array<struct<tok, tf>>,
  * empty for fewer than n tokens. Entry order is first-occurrence order —
  * deterministic, and irrelevant to every consumer (aggregates/joins). */
case class WordNgramCounts(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tok",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("tf",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WordNgramCounts.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.WordNgramCounts.compute($c, $n);")

  override protected def withNewChildInternal(
      newChild: Expression): WordNgramCounts = copy(child = newChild)

  override def prettyName: String = "word_ngram_counts"
}

object WordNgramCounts {
  /** Static entry point shared by eval and generated code. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val grams = WordNgrams.compute(s, n)
    val sz = grams.numElements()
    val counts = new java.util.LinkedHashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
    var i = 0
    while (i < sz) {
      val g = grams.getUTF8String(i)
      val e = counts.get(g)
      if (e == null) counts.put(g, Array(1L)) else e(0) += 1L
      i += 1
    }
    val out = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue.apply(0)))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** All k MinHash salted-min signatures of a shingle array in ONE pass —
  * semantically `transform(sequence, i -> array_min(transform(arr, t ->
  * md5(i || ':' || t))))` but with none of that form's k intermediate
  * md5-string arrays per row (measured ~20% slower than even the old
  * explode + k-way min AGGREGATION at sf0.1 — per-row allocation pressure
  * ate the shuffle savings). Here each token is digested k times into a
  * reused 16-byte buffer and compared unsigned against the running min;
  * only the k winning digests are hex-encoded at the end. Unsigned digest
  * order ≡ lowercase-hex lexicographic order ≡ the min(md5(…)) the DuckDB
  * oracle replays. Returns array of k nulls for an empty input (the
  * aggregation form's no-group analog — callers filter empties first).
  */
case class MinHashSigs(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = true)

  override def nullSafeEval(input: Any): Any =
    MinHashSigs.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.MinHashSigs.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)

  override def prettyName: String = "minhash_sigs"
}

object MinHashSigs {
  private val md: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  private val hexDigits = "0123456789abcdef".toCharArray

  /** Static entry point shared by eval and generated code. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.fill[Any](k)(null))
    val salts = Array.tabulate(k)(i => (i.toString + ":").getBytes("UTF-8"))
    val mins = new Array[Array[Byte]](k)
    val digest = md.get()
    var t = 0
    while (t < n) {
      val tok = arr.getUTF8String(t).getBytes
      var i = 0
      while (i < k) {
        digest.reset()
        digest.update(salts(i))
        digest.update(tok)
        val d = digest.digest()
        if (mins(i) == null || unsignedLess(d, mins(i))) mins(i) = d
        i += 1
      }
      t += 1
    }
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(hex(mins(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  private def hex(d: Array[Byte]): String = {
    val cs = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      cs(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      cs(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(cs)
  }
}

/** All hashed-bigram DSIR feature buckets of a text IN ORDER, duplicates
  * kept, one per-row pass — semantically the
  * [[graft.ops.TrainingData.dsirFeatures]] chain `explode(zip_with(toks,
  * slice(toks, 2, …), (x, y) -> concat(x, ' ', y))) → pmod(conv(
  * substring(md5(bg), 1, 15), 16, 10), buckets)` with none of that form's
  * per-bigram expression-tree walks: the same tokenizer boundary scan as
  * [[SortedWordShingles]]/[[WordNgrams]], then per adjacent pair one md5
  * into a reused digest whose first 15 hex digits (bytes 0..6 plus byte
  * 7's high nibble — exactly `parseLong(hex.substring(0,15), 16)`, the
  * [[SimHash60]] extraction) mod `buckets` give the bucket. The 60-bit
  * value is non-negative, so `% buckets` ≡ pmod. Empty array when fewer
  * than 2 words. */
case class BigramBuckets(child: Expression, buckets: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    BigramBuckets.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.BigramBuckets.compute($c, $buckets);")

  override protected def withNewChildInternal(newChild: Expression): BigramBuckets =
    copy(child = newChild)

  override def prettyName: String = "bigram_buckets"
}

object BigramBuckets {
  private val md: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Static entry point shared by eval and generated code. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String, buckets: Int): ArrayData = {
    val str = s.toLowerCase.toString
    val len = str.length
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      if (i < len) {
        starts.add(i)
        while (i < len && !isWs(str.charAt(i))) i += 1
        ends.add(i)
      }
    }
    val w = starts.size()
    if (w < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val digest = md.get()
    val sb = new java.lang.StringBuilder(64)
    val out = new Array[Any](w - 1)
    var k = 0
    while (k < w - 1) {
      sb.setLength(0)
      sb.append(str, starts.get(k), ends.get(k))
      sb.append(' ')
      sb.append(str, starts.get(k + 1), ends.get(k + 1))
      digest.reset()
      val d = digest.digest(sb.toString.getBytes("UTF-8"))
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      v = (v << 4) | ((d(7) & 0xffL) >>> 4)
      out(k) = v % buckets
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Sorted distinct 60-bit md5 hashes of a string's distinct character
  * n-grams, one per-row pass — semantically
  * `array_sort(array_distinct(transform(sorted_char_ngrams(s, n), g ->
  * conv(substring(md5(g), 1, 15), 16, 10))))` with a reused digest and
  * direct byte-prefix extraction (the [[SimHash60]] arithmetic) instead
  * of an interpreted per-gram md5+hex+conv expression tree. Ascending
  * long order ≡ array_sort; a TreeSet de-dups hash collisions exactly as
  * array_distinct did. Empty array when len < n. */
case class HashedCharNgrams(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashedCharNgrams.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashedCharNgrams.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): HashedCharNgrams =
    copy(child = newChild)

  override def prettyName: String = "hashed_char_ngrams"
}

object HashedCharNgrams {
  private val md: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Static entry point shared by eval and generated code. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val total = s.numChars() - n + 1
    if (total <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val grams = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    val out = new java.util.TreeSet[java.lang.Long]()
    val digest = md.get()
    var i = 1
    while (i <= total) {
      val g = s.substringSQL(i, n)
      if (grams.add(g)) {
        val d = digest.digest(g.getBytes)
        var v = 0L
        var b = 0
        while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
        v = (v << 4) | ((d(7) & 0xffL) >>> 4)
        out.add(v)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }
}

/** 60-bit md5 hashes of a string's length-`winLen` windows at stride
  * `stride`, in position order — semantically `transform(sequence(1,
  * len-winLen+1, stride), i -> conv(substring(md5(substring(s, i,
  * winLen)), 1, 15), 16, 10))` with a reused digest and direct byte-prefix
  * extraction instead of an interpreted per-window md5+hex+conv tree.
  * Empty array when len < winLen (callers filter, but the guard keeps the
  * expression total). */
case class HashedWindows(child: Expression, winLen: Int, stride: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashedWindows.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      winLen, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.HashedWindows.compute($c, $winLen, $stride);")

  override protected def withNewChildInternal(newChild: Expression): HashedWindows =
    copy(child = newChild)

  override def prettyName: String = "hashed_windows"
}

object HashedWindows {
  private val md: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Static entry point shared by eval and generated code. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String,
      winLen: Int, stride: Int): ArrayData = {
    val total = s.numChars() - winLen + 1
    if (total <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val digest = md.get()
    val out = new java.util.ArrayList[Any]()
    var i = 1
    while (i <= total) {
      val d = digest.digest(s.substringSQL(i, winLen).getBytes)
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      v = (v << 4) | ((d(7) & 0xffL) >>> 4)
      out.add(v)
      i += stride
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Occurrence-numbered positional q-gram keys of a string in ONE pass —
  * semantically [[graft.ops.Dedup.editDistanceCandidates]]'s old chain
  * `posexplode(when(len < minLen, concat(transform(sequence(1,
  * greatest(len-q+1, 0)), i -> substring(s, i, q)), ['NUL'])).otherwise(
  * transform(sequence(1, len-q+1), i -> substring(s, i, q)))) →
  * concat(g, '#', row_number() over (partition pk, g order pos))` — the
  * multiset-to-set occurrence suffix computed per ROW with a running
  * per-gram counter instead of shuffling the corpus' whole gram stream
  * through a window. Quirk preserved exactly: for strings shorter than q,
  * `sequence(1, greatest(len-q+1, 0))` DESCENDS to [1, 0] and both
  * positions yield the whole short string (SQL substr treats pos 0 as 1),
  * so those strings emit their text twice (s#1, s#2); strings below
  * `minLen` additionally emit the 'NUL' sentinel (always in the
  * prefix — short strings bypass the filter). */
case class QGramKeys(child: Expression, q: Int, minLen: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    QGramKeys.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], q, minLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.QGramKeys.compute($c, $q, $minLen);")

  override protected def withNewChildInternal(newChild: Expression): QGramKeys =
    copy(child = newChild)

  override def prettyName: String = "qgram_keys"
}

object QGramKeys {
  /** Static entry point shared by eval and generated code. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String,
      q: Int, minLen: Int): ArrayData = {
    val n = s.numChars()
    val counts = new java.util.HashMap[String, Integer]()
    val out = new java.util.ArrayList[Any]()
    def add(g: String): Unit = {
      val c = counts.merge(g, 1, (a, b) => a + b)
      out.add(org.apache.spark.unsafe.types.UTF8String.fromString(g + "#" + c))
    }
    val base = n - q + 1
    if (n < minLen) {
      if (base >= 1) {
        var i = 1
        while (i <= base) { add(s.substringSQL(i, q).toString); i += 1 }
      } else {
        // sequence(1, 0) descends: positions 1 and 0, both the whole string
        add(s.substringSQL(1, q).toString)
        add(s.substringSQL(0, q).toString)
      }
      add("\u0000")
    } else {
      var i = 1
      while (i <= base) { add(s.substringSQL(i, q).toString); i += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Pass-Join segment SIGNATURES of a string (Li/Deng/Feng "Pass-Join";
  * public partition-based edit-distance filtering): the string is evenly
  * partitioned into k = d+1 segments (first `len mod k` segments one char
  * longer — a fixed convention both sides replay), and each segment is
  * emitted as the key `"<segIdx>:<len>:<segment>"`. Pigeonhole: d edit
  * operations touch at most d of the k segments, so for any true pair
  * (a, b) with ed ≤ d at least one of a's segments appears VERBATIM in b,
  * at a start position shifted by at most d (the net indels before it) —
  * which is exactly what [[PassProbeKeys]] enumerates on the other side.
  * Strings shorter than k chars cannot host k non-empty segments and emit
  * the sentinel key "S" instead (their probe-side partners emit it too).
  *
  * Candidate quality vs the q-gram rarity prefix (the pre-r14 scheme):
  * a key here is an EXACT aligned substring of ~len/k chars bound to its
  * segment index and the source length, so bucket mass is "strings sharing
  * an identical aligned half/third", not "strings sharing one rare
  * 3-gram" — on correlated text (template-generated names) that is orders
  * of magnitude sparser, and no corpus-wide gram-frequency pass or
  * per-string rank window is needed at all. */
case class PassSegKeys(child: Expression, d: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    PassJoinKeys.segKeys(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], d)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.PassJoinKeys.segKeys($c, $d);")

  override protected def withNewChildInternal(newChild: Expression): PassSegKeys =
    copy(child = newChild)

  override def prettyName: String = "pass_seg_keys"
}

/** Pass-Join PROBE keys — the other half of [[PassSegKeys]]'s contract:
  * for every candidate source length la in [len−d, len+d] (la ≥ k) this
  * string enumerates, per segment index, every substring of the segment's
  * length starting within d of the segment's position (clamped to the
  * string), as `"<segIdx>:<la>:<substring>"` — the complete set of keys
  * any ed ≤ d partner of length la could have indexed. ≤ (2d+1)²·(d+1)
  * keys per row (18 at d=1, 75 at d=2), emitted row-locally and DISTINCT.
  * Strings shorter than k+d chars add the sentinel "S" (their in-band
  * partners may be sentinel-indexed). */
case class PassProbeKeys(child: Expression, d: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    PassJoinKeys.probeKeys(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], d)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.PassJoinKeys.probeKeys($c, $d);")

  override protected def withNewChildInternal(newChild: Expression): PassProbeKeys =
    copy(child = newChild)

  override def prettyName: String = "pass_probe_keys"
}

object PassJoinKeys {
  /** Segment start positions (1-based) and lengths for a string of `len`
    * chars split into k parts, first `len mod k` parts one longer. */
  private def layout(len: Int, k: Int): (Array[Int], Array[Int]) = {
    val base = len / k
    val rem = len % k
    val lens = Array.tabulate(k)(j => base + (if (j < rem) 1 else 0))
    val starts = new Array[Int](k)
    starts(0) = 1
    var j = 1
    while (j < k) { starts(j) = starts(j - 1) + lens(j - 1); j += 1 }
    (starts, lens)
  }

  private def utf8(s: String) =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)

  /** Static entry point shared by eval and generated code. */
  def segKeys(s: org.apache.spark.unsafe.types.UTF8String, d: Int): ArrayData = {
    val k = d + 1
    val len = s.numChars()
    val out = new java.util.ArrayList[Any]()
    if (len < k) out.add(utf8("S"))
    else {
      val (starts, lens) = layout(len, k)
      var j = 0
      while (j < k) {
        out.add(utf8(
          j.toString + ":" + len + ":" + s.substringSQL(starts(j), lens(j))))
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Static entry point shared by eval and generated code. Windows are
    * multi-match-aware (the Pass-Join shift rule): a segment matching at
    * shift s needs ≥ |s| edits before it and ≥ |Δ − s| after it
    * (Δ = lb − la, the net length change), so only shifts with
    * |s| + |Δ − s| ≤ d can witness a true pair — at d=1 that is 5 keys
    * per segment-index across the three candidate lengths, not 9. */
  def probeKeys(s: org.apache.spark.unsafe.types.UTF8String, d: Int): ArrayData = {
    val k = d + 1
    val len = s.numChars()
    val seen = new java.util.LinkedHashSet[String]()
    var la = math.max(k, len - d)
    while (la <= len + d) {
      val delta = len - la
      val (starts, lens) = layout(la, k)
      var j = 0
      while (j < k) {
        var sh = -d
        while (sh <= d) {
          if (math.abs(sh) + math.abs(delta - sh) <= d) {
            val q = starts(j) + sh
            if (q >= 1 && q <= len - lens(j) + 1)
              seen.add(j.toString + ":" + la + ":" + s.substringSQL(q, lens(j)))
          }
          sh += 1
        }
        j += 1
      }
      la += 1
    }
    if (len < k + d) seen.add("S")
    val out = new java.util.ArrayList[Any]()
    val it = seen.iterator()
    while (it.hasNext) out.add(utf8(it.next()))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** 8-bucket character histogram of a string packed into one long (8 bits
  * per bucket, counts saturating at 255; bucket = char code mod 8) — the
  * cheap side-signature behind [[HistL1]]'s lossless count filter: one
  * edit operation changes at most one character occurrence on each side,
  * so ed(a,b) ≤ d implies Σ_buckets |cnt_a − cnt_b| ≤ 2d; merging
  * characters into buckets only LOWERS the L1 (triangle inequality), and
  * saturation at 255 is shared by construction for strings under 255
  * occurrences per bucket, so the filter stays a superset test. */
case class CharHist64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(input: Any): Any =
    CharHist64.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.CharHist64.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): CharHist64 =
    copy(child = newChild)

  override def prettyName: String = "char_hist64"
}

object CharHist64 {
  /** Static entry point shared by eval and generated code. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val str = s.toString
    val counts = new Array[Int](8)
    // code-point iteration: one edit touches one code POINT, so the ≤ 2d
    // L1 bound needs code-point counts (UTF-16 units would double-count
    // astral chars and break the bound)
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      counts(cp % 8) += 1
      i += Character.charCount(cp)
    }
    var h = 0L
    var b = 0
    while (b < 8) {
      h = (h << 8) | math.min(counts(b), 255).toLong
      b += 1
    }
    h
  }

  /** L1 distance between two packed 8-bucket histograms. */
  def l1(a: Long, b: Long): Int = {
    var s = 0
    var sh = 0
    while (sh < 64) {
      s += math.abs(((a >>> sh) & 0xffL).toInt - ((b >>> sh) & 0xffL).toInt)
      sh += 8
    }
    s
  }
}

/** L1 distance between two [[CharHist64]] signatures — evaluated inside a
  * join condition as a plain codegen long→int function. */
case class HistL1(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CharHist64.l1(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.CharHist64.l1($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HistL1 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "hist_l1"
}

/** Content-defined-chunking boundary positions of a text in ONE pass —
  * semantically [[graft.ops.Chunking.chunks]]'s old HOF chain
  * `array_sort(array_distinct(concat([0], filter(transform(sequence(window,
  * len), i -> when(conv(substring(md5(substr(text, i-window+1, window)),
  * 1, 15), 16, 10) % (mask+1) = 0, i)), notNull), [len])))` — one md5 per
  * character position either way, but with a reused digest and direct
  * byte-prefix extraction (bytes 0..6 + byte 7's high nibble ≡
  * `parseLong(hex.substring(0,15), 16)`, the [[SimHash60]] extraction)
  * instead of an interpreted per-position expression tree allocating hex
  * strings and running radix conversion. Positions are 1-based code-point
  * indices (substringSQL ≡ SQL substr); 0 and len close the first and
  * last chunk; ascending loop order makes the result sorted-distinct by
  * construction. */
case class CdcBounds(child: Expression, window: Int, mask: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    CdcBounds.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], window, mask)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.CdcBounds.compute($c, $window, $mask);")

  override protected def withNewChildInternal(newChild: Expression): CdcBounds =
    copy(child = newChild)

  override def prettyName: String = "cdc_bounds"
}

object CdcBounds {
  private val md: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Static entry point shared by eval and generated code. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String,
      window: Int, mask: Int): ArrayData = {
    val len = s.numChars()
    val out = new java.util.ArrayList[Integer]()
    out.add(0)
    val digest = md.get()
    val modulus = mask + 1
    var i = window
    while (i <= len) {
      val d = digest.digest(s.substringSQL(i - window + 1, window).getBytes)
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      v = (v << 4) | ((d(7) & 0xffL) >>> 4)
      if (v % modulus == 0 && i != 0) out.add(i)
      i += 1
    }
    if (out.get(out.size() - 1) != len) out.add(len)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }
}

/** 60-bit SimHash of a distinct-token array in one pass — semantically the
  * explode → per-token `conv(substring(md5(tok),1,15),16,10)` → groupBy doc
  * with 60 conditional ±1 sums → bit-assembly pipeline, without shuffling
  * the token stream or running 60 aggregate columns: per token the 60-bit
  * md5 prefix is taken straight from the digest bytes (15 hex chars = 7
  * bytes + a high nibble) and votes accumulate in a local array; bit b of
  * the result is set iff its vote total is positive. Matches the relational
  * form bit-for-bit (and therefore the DuckDB oracle's digit-by-digit
  * replay). Returns null for an empty array — the aggregation form's
  * no-group analog (callers filter empties). */
case class SimHash60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    SimHash60.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    val boxed = ctx.freshName("simhashBoxed")
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        long ${ev.value} = -1L;
        if (!${c.isNull}) {
          java.lang.Long $boxed = graft.expr.SimHash60.compute(${c.value});
          if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.longValue(); }
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)

  override def prettyName: String = "simhash60"
}

object SimHash60 {
  private val md: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Static entry point shared by eval and generated code. Boxed Long so an
    * empty array can return null (no tokens → no signature row upstream). */
  def compute(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return null
    val votes = new Array[Int](60)
    val digest = md.get()
    var t = 0
    while (t < n) {
      digest.reset()
      val d = digest.digest(arr.getUTF8String(t).getBytes)
      // first 15 hex chars of the digest = bytes 0..6 plus byte 7's high
      // nibble, exactly parseLong(hex.substring(0,15), 16)
      var v = 0L
      var i = 0
      while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
      v = (v << 4) | ((d(7) & 0xffL) >>> 4)
      var b = 0
      while (b < 60) {
        if (((v >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
    java.lang.Long.valueOf(sig)
  }
}

/** Column API over the expressions above (built through [[Functions]]). */
object VectorOps {
  def vectorDot(a: Column, b: Column): Column = Functions("vector_dot", a, b)

  def sortedArrayIntersect(a: Column, b: Column): Column =
    Functions("sorted_array_intersect", a, b)

  def sortedLongIntersect(a: Column, b: Column): Column =
    Functions("sorted_long_intersect", a, b)

  def sortedCharNgrams(s: Column, n: Int): Column =
    Functions("sorted_char_ngrams", s, lit(n))

  def minhashSigs(arr: Column, k: Int): Column = Functions("minhash_sigs", arr, lit(k))

  def sortedWordShingles(s: Column, n: Int): Column =
    Functions("sorted_word_shingles", s, lit(n))

  def wordNgrams(s: Column, n: Int): Column = Functions("word_ngrams", s, lit(n))

  def bigramBuckets(s: Column, buckets: Int): Column =
    Functions("bigram_buckets", s, lit(buckets))

  def hashedWindows(s: Column, winLen: Int, stride: Int): Column =
    Functions("hashed_windows", s, lit(winLen), lit(stride))

  def hashedCharNgrams(s: Column, n: Int): Column =
    Functions("hashed_char_ngrams", s, lit(n))

  def qgramKeys(s: Column, q: Int, minLen: Int): Column =
    Functions("qgram_keys", s, lit(q), lit(minLen))

  def passSegKeys(s: Column, d: Int): Column = Functions("pass_seg_keys", s, lit(d))

  def passProbeKeys(s: Column, d: Int): Column = Functions("pass_probe_keys", s, lit(d))

  def wordNgramCounts(s: Column, n: Int): Column =
    Functions("word_ngram_counts", s, lit(n))

  def charHist64(s: Column): Column = Functions("char_hist64", s)

  def histL1(a: Column, b: Column): Column = Functions("hist_l1", a, b)

  def cdcBounds(s: Column, window: Int, mask: Int): Column =
    Functions("cdc_bounds", s, lit(window), lit(mask))

  def simhash60(arr: Column): Column = Functions("simhash60", arr)
}
