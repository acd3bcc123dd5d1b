package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-13 optimization equivalence specs: every rewrite this round must
  * keep the declared queries' results byte-identical, so each internal
  * restructure gets a planted/derived identity test against the OLD
  * formulation it replaced. */
class OptR13Spec extends graft.SparkTestBase {

  private def docs: DataFrame =
    spark.read.parquet(s"$testData/sf0.001/documents.parquet")

  /** The pre-r13 tokenGrams pipeline, verbatim (posexplode + lead window),
    * kept here as the semantic reference for [[graft.expr.WordNgrams]]. */
  private def oldTokenGrams(d: DataFrame, n: Int): DataFrame = {
    val toks = d.select(col("*"),
        posexplode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
          .as(Seq("pos", "tok")))
      .drop("text")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val parts = col("tok") +: (1 until n).map(i => lead(col("tok"), i).over(w))
    toks.withColumn("gram", concat_ws(" ", parts: _*))
      .withColumn("gram_complete", lead(col("tok"), n - 1).over(w).isNotNull)
      .filter(col("gram_complete")).drop("gram_complete")
  }

  test("tokenGrams (word_ngrams expression) emits the OLD explode+window " +
    "pipeline's exact (doc_id, gram) multiset, n = 1, 3 and 8, " +
    "whitespace/empty edge docs included") {
    val edge = spark.createDataFrame(Seq(
      (900001L, "  leading  and\ttrailing   ws  "),
      (900002L, "one"),
      (900003L, ""),
      (900004L, "   "),
      (900005L, "MiXeD Case\nNEWLINE\rcr\ttab end"))).toDF("doc_id", "text")
    val d = docs.select(col("doc_id"), col("text")).unionByName(edge)
    for (n <- Seq(1, 3, 8)) {
      val newG = graft.ops.TextAnalysis.tokenGrams(d, n)
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      val oldG = oldTokenGrams(d, n)
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      assert(newG.exceptAll(oldG).isEmpty && oldG.exceptAll(newG).isEmpty,
        s"tokenGrams multiset diverged at n=$n")
    }
  }

  test("bigram_buckets expression emits the OLD zip_with + md5/conv/pmod " +
    "chain's exact per-doc bucket multiset (DSIR feature identity)") {
    val edge = spark.createDataFrame(Seq(
      (900001L, "  leading  and\ttrailing   ws  "),
      (900002L, "one"),
      (900003L, ""),
      (900005L, "MiXeD Case\nNEWLINE\rcr\ttab end"))).toDF("doc_id", "text")
    val d = docs.select(col("doc_id"), col("text")).unionByName(edge)
    val buckets = 4096
    val toks = filter(split(lower(col("text")), "\\s+"), x => x =!= "")
    val h60 = (c: org.apache.spark.sql.Column) =>
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val oldB = d.select(col("doc_id"),
        explode(zip_with(toks,
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (x, y) => concat(x, lit(" "), y))).as("bg"))
      .filter(col("bg").isNotNull)
      .select(col("doc_id"), pmod(h60(col("bg")), lit(buckets.toLong)).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
    val newB = d.select(col("doc_id"),
        explode(graft.expr.VectorOps.bigramBuckets(col("text"), buckets))
          .as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
    assert(newB.exceptAll(oldB).isEmpty && oldB.exceptAll(newB).isEmpty,
      "bigram bucket multiset diverged")
  }

  test("cdc_bounds expression emits the OLD transform/filter md5-window " +
    "chain's exact boundary arrays (chunking identity)") {
    val window = 16
    val mask = 63
    val edge = spark.createDataFrame(Seq(
      (900001L, ""), (900002L, "short"), (900003L, "x" * 16),
      (900005L, "padded with spaces   and\ttabs to cross windows somehow")))
      .toDF("doc_id", "text")
    val d = docs.select(col("doc_id"), col("text")).unionByName(edge)
    val positions = when(length(col("text")) >= window,
      sequence(lit(window), length(col("text"))))
      .otherwise(array().cast("array<int>"))
    val oldBounds = array_sort(array_distinct(concat(
      array(lit(0)),
      filter(
        transform(positions,
          i => when(
            conv(substring(md5(col("text").substr(i - window + 1, lit(window))),
              1, 15), 16, 10).cast("long") % (mask + 1) === 0, i)),
        x => x.isNotNull),
      array(length(col("text"))))))
    val cmp = d.filter(col("text").isNotNull)
      .select(col("doc_id"), oldBounds.as("ob"),
        graft.expr.VectorOps.cdcBounds(col("text"), window, mask).as("nb"))
      .filter(not(col("ob") === col("nb")))
    assert(cmp.isEmpty, "cdc boundary arrays diverged")
  }

  test("hashed_windows expression equals the OLD transform(sequence, " +
    "md5/conv) strided window hashing, stride 1 and 16") {
    val edge = spark.createDataFrame(Seq(
      (900001L, ""), (900002L, "below"), (900003L, "x" * 64),
      (900005L, "some longer body of text that spans multiple strided " +
        "windows and then some to make sure tails are covered")))
      .toDF("doc_id", "text")
    val d = docs.select(col("doc_id"), col("text")).unionByName(edge)
    for ((winLen, stride) <- Seq((8, 1), (64, 16))) {
      val oldA = expr(
        s"transform(sequence(1, length(text) - ${winLen - 1}, $stride), i -> " +
          s"cast(conv(substring(md5(substring(text, i, $winLen)), 1, 15), 16, 10) as long))")
      val cmp = d.filter(length(col("text")) >= winLen)
        .select(col("doc_id"), oldA.as("oa"),
          graft.expr.VectorOps.hashedWindows(col("text"), winLen, stride)
            .as("na"))
        .filter(not(col("oa") === col("na")))
      assert(cmp.isEmpty, s"hashed windows diverged at ($winLen, $stride)")
    }
  }

  test("hashed_char_ngrams expression equals the OLD " +
    "array_sort(array_distinct(transform(sorted_char_ngrams, md5/conv))) " +
    "chain, gram-array for gram-array") {
    val edge = spark.createDataFrame(Seq(
      (900001L, ""), (900002L, "short"), (900003L, "exactly16charsxx"),
      (900005L, "a longer text with repeated repeated substrings inside")))
      .toDF("doc_id", "text")
    val d = docs.select(col("doc_id"), col("text")).unionByName(edge)
    for (n <- Seq(3, 16)) {
      val oldA = array_sort(array_distinct(transform(
        graft.expr.VectorOps.sortedCharNgrams(col("text"), n),
        g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))))
      val cmp = d.select(col("doc_id"), oldA.as("oa"),
          graft.expr.VectorOps.hashedCharNgrams(col("text"), n).as("na"))
        .filter(not(col("oa") === col("na")))
      assert(cmp.isEmpty, s"hashed gram arrays diverged at n=$n")
    }
  }

  test("qgram_keys expression emits the OLD posexplode + (pk, g)-window " +
    "occurrence numbering's exact key multiset, short-string sentinel " +
    "quirks included") {
    val q = 3
    val maxDist = 1
    val minLen = q * (maxDist + 1)
    val part = spark.read.parquet(s"$testData/sf0.001/part.parquet")
      .select(col("p_partkey").as("pk"), col("p_name").as("s"))
    val edge = spark.createDataFrame(Seq(
      (900001L, ""), (900002L, "ab"), (900003L, "abc"), (900004L, "abcab"),
      (900005L, "abcabcabc repeated grams abcabc")))
      .toDF("pk", "s")
    val d = part.unionByName(edge)
    val oldKeys = d.select(col("pk"),
        posexplode(when(length(col("s")) < lit(minLen),
            concat(expr(s"transform(sequence(1, greatest(length(s)-${q - 1}, 0)), i -> substring(s, i, $q))"),
              array(lit("\u0000"))))
          .otherwise(expr(s"transform(sequence(1, length(s)-${q - 1}), i -> substring(s, i, $q))"))))
      .select(col("pk"), col("pos"), col("col").as("g"))
      .withColumn("gk", concat(col("g"), lit("#"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("pk"), col("g"))
          .orderBy(col("pos"))).cast("string")))
      .select(col("pk"), col("gk"))
    val newKeys = d.select(col("pk"),
      explode(graft.expr.VectorOps.qgramKeys(col("s"), q, minLen)).as("gk"))
    assert(newKeys.exceptAll(oldKeys).isEmpty &&
      oldKeys.exceptAll(newKeys).isEmpty,
      "qgram key multiset diverged")
  }

  test("ivfPqIndex: driver-local training (dimension-size gate) agrees " +
    "with the distributed path piece-for-piece — vcell, cents, codes") {
    val emb = spark.read.parquet(s"$testData/sf0.001/embeddings.parquet")
    val loc = graft.ops.Quantize.ivfPqIndex(emb, 8, 16, 32, 2, 64)
    val dist = graft.ops.Quantize.ivfPqIndex(emb, 8, 16, 32, 2, 64,
      localCutoff = 0L)
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$what diverged between local and distributed training")
    same(loc.vcell, dist.vcell, "vcell")
    same(loc.cents, dist.cents, "cents")
    same(loc.codes, dist.codes, "codes")
    same(loc.coarse, dist.coarse, "coarse")
    same(loc.iv, dist.iv, "iv")
  }
}
