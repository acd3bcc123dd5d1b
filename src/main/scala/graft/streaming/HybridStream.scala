package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One emitted hybrid-serve row — schema-identical to
  * [[graft.ops.Retrieval.hybridServe]]'s batch relation (q318). */
case class HybridHit(query_id: Long, doc_id: Long, lex_rank: Option[Long],
    dense_rank: Option[Long], rrf_u: Long, fused_rank: Long, n_tokens: Long,
    cum_tokens: Long, in_context: Boolean, n_lex: Long, n_dense: Long,
    n_fused: Long, n_filled: Long)

/** Per-query serve state: the [[AnnServed]] at-most-once convention. */
case class HybridServed(served: Boolean)

/** One merged fan-out row heading into the per-query group step: kind 0 =
  * a matched lexical term bucket (posts packed), kind 1 = a probed dense
  * signature bucket (candidates packed, query embedding riding along). */
private[streaming] case class HybridRow(query_id: Long, kind: Int,
    tok: String,
    posts: Seq[(Long, Long, Long)], // (doc_id, impact_u, n_tokens)
    qemb: Seq[Double],
    vecs: Seq[(Long, Seq[Double], Long)]) // (vec_id, emb, n_tokens)

/** Streaming hybrid retrieval serve — the q318 capstone
  * ([[graft.ops.Retrieval.hybridServe]]) the way a retrieval service runs
  * it: ONE query stream of (query_id, text, embedding) hits BOTH static
  * indexes — the term-bucketed pruned BM25 impact index and the
  * signature-bucketed multi-probe LSH index — fuses the two top-k lists
  * by integer reciprocal ranks, and fills the token budget, emitting the
  * per-query funnel with every row.
  *
  * Shape: two stateless stream-static fan-outs (a typed per-row trigram
  * explode joining the term buckets; the [[AnnStream.probedQueries]]
  * per-row probe construction joining the signature buckets) union into
  * one keyed stream; a single flatMapGroupsWithState merge per query
  * scores, fuses and fills — all rank-bounded work on ≤ (matched terms +
  * nProbe buckets) rows. At cluster scale both indexes are bucket-keyed
  * parquet relations, so every arriving query costs partition-pruned
  * probe reads plus O(candidates) local work; per-query state is ONE
  * boolean (at-most-once redelivery guard, the [[AnnStream]] convention,
  * WITH the intra-batch candidate dedupe the r12 advisory prescribed).
  *
  * Batch ≡ stream: evaluated over the batch query set this function must
  * match the q318 oracle relation row-for-row (the Round13 stream≡batch
  * spec drives a real micro-batched run, including a redelivery).
  */
object HybridStream {

  /** The term-bucketed lexical serve artifact: q306's pruned impact index
    * (keepTop highest-impact postings per term), one row per term with
    * postings packed alongside their doc token counts (the budget fill
    * needs them; -1 marks a posting whose doc has no token count — kept
    * so ranks match the batch plan, dropped at fill time exactly like the
    * batch inner token join). */
  def lexIndex(docs: DataFrame, keepTop: Int = 4, dfMin: Long = 2): DataFrame = {
    val idx = graft.ops.Retrieval.impactIndexBuild(docs, dfMin)
    val wTok = Window.partitionBy(col("tok"))
      .orderBy(col("impact_u").desc, col("doc_id"))
    val toks = docs.select(col("doc_id"),
      graft.ops.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    idx.postings.withColumn("prank", row_number().over(wTok))
      .filter(col("prank") <= keepTop).drop("prank")
      .join(toks, Seq("doc_id"), "left")
      .groupBy(col("tok"))
      .agg(collect_list(struct(col("doc_id"), col("impact_u"),
        coalesce(col("n_tokens"), lit(-1L)).as("n_tokens"))).as("posts"))
  }

  /** The signature-bucketed dense serve artifact: one row per occupied
    * LSH bucket, candidates packed with embeddings and token counts. */
  def denseIndex(embeddings: DataFrame, docs: DataFrame, nPlanes: Int = 6,
      dim: Int = 64): DataFrame = {
    val planes = graft.ops.Similarity.planeVectors(nPlanes, dim)
    val toks = docs.select(col("doc_id").as("vec_id"),
      graft.ops.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("sig", graft.ops.Similarity.sigOf(
        transform(col("emb"), v => floor(v * lit(1e6)).cast("double")),
        planes))
      .join(toks, Seq("vec_id"), "left")
      .groupBy(col("sig"))
      .agg(collect_list(struct(col("vec_id"), col("emb"),
        coalesce(col("n_tokens"), lit(-1L)).as("n_tokens"))).as("vecs"))
  }

  def hybridServeStream(spark: SparkSession, queries: DataFrame,
      lexIdx: DataFrame, denseIdx: DataFrame, nPlanes: Int = 6,
      nProbe: Int = 2, dim: Int = 64, topK: Int = 5, k0: Int = 60,
      fuseK: Int = 5, budgetTokens: Long = 150): Dataset[HybridHit] = {
    import spark.implicits._
    // lexical fan-out: the DISTINCT word-trigram set per arriving query
    // (qterms' distinct (query, tok) pairs), joined to the term buckets
    val lexRows = queries.select(col("query_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (qid, text) =>
        val toks = text.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+").filter(_.nonEmpty)
        val grams =
          if (toks.length < 3) Seq.empty[String]
          else toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
        grams.map(g => (qid, g))
      }.toDF("query_id", "tok")
      .join(lexIdx, Seq("tok"))
      .select(col("query_id"), lit(0).as("kind"), col("tok"),
        expr("transform(posts, p -> struct(p.doc_id as _1, " +
          "p.impact_u as _2, p.n_tokens as _3))").as("posts"),
        typedlit(Seq.empty[Double]).as("qemb"),
        typedlit(Seq.empty[(Long, Seq[Double], Long)]).as("vecs"))
      .as[HybridRow]
    // dense fan-out: per-row probe construction, signature-bucket join
    val denseRows = AnnStream.probedQueries(
        queries.select(col("query_id"), col("embedding")), nPlanes, nProbe,
        dim)
      .join(denseIdx, Seq("sig"))
      .select(col("query_id"), lit(1).as("kind"), lit("").as("tok"),
        typedlit(Seq.empty[(Long, Long, Long)]).as("posts"),
        col("qemb"),
        expr("transform(vecs, v -> struct(v.vec_id as _1, v.emb as _2, " +
          "v.n_tokens as _3))").as("vecs"))
      .as[HybridRow]
    lexRows.union(denseRows)
      .groupByKey(_.query_id)
      .flatMapGroupsWithState[HybridServed, HybridHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (qid: Long, it: Iterator[HybridRow],
            state: GroupState[HybridServed]) =>
          if (state.getOption.exists(_.served)) Iterator.empty
          else {
            val rows = it.toSeq
            state.update(HybridServed(served = true))
            // intra-batch duplicate guard (the r12 AnnStream advisory):
            // dedupe lexical fan-out by term bucket and dense candidates
            // by vec_id — a redelivered event must not double a score
            val lexBuckets = rows.filter(_.kind == 0).groupBy(_.tok)
              .valuesIterator.map(_.head).toSeq
            // pruned-index scoring: Σ impact_u per doc over matched terms
            val lexScores = lexBuckets.flatMap(_.posts)
              .groupBy(_._1)
              .map { case (doc, ps) =>
                (doc, ps.map(_._2).sum, ps.head._3)
              }.toSeq
            val lexList = lexScores
              .sortBy { case (doc, score, _) => (-score, doc) }.take(topK)
              .zipWithIndex
              .map { case ((doc, _, nt), i) => (doc, i + 1L, nt) }
            val denseSide = rows.filter(_.kind == 1)
            val qemb = denseSide.headOption.map(_.qemb).getOrElse(Seq.empty)
            val qnrm = math.sqrt(dotd(qemb, qemb))
            val denseList = denseSide.flatMap(_.vecs)
              .groupBy(_._1).valuesIterator.map(_.head)
              .filter(_._1 != qid).toSeq
              .map { case (vid, emb, nt) =>
                val nrm = math.sqrt(dotd(emb, emb))
                (vid, round6(dotd(qemb, emb) / (qnrm * nrm)), nt)
              }
              .sortBy { case (vid, cos, _) => (-cos, vid) }.take(topK)
              .zipWithIndex
              .map { case ((vid, _, nt), i) => (vid, i + 1L, nt) }
            // integer RRF fusion over the union, lexical self-hit dropped
            val lexRank = lexList.map(t => t._1 -> t).toMap
            val denseRank = denseList.map(t => t._1 -> t).toMap
            val fused = (lexRank.keySet ++ denseRank.keySet)
              .filter(_ != qid).toSeq
              .map { doc =>
                val lr = lexRank.get(doc).map(_._2)
                val dr = denseRank.get(doc).map(_._2)
                val rrf = lr.map(r => 1000000L / (k0 + r)).getOrElse(0L) +
                  dr.map(r => 1000000L / (k0 + r)).getOrElse(0L)
                val nt = lexRank.get(doc).map(_._3)
                  .orElse(denseRank.get(doc).map(_._3)).getOrElse(-1L)
                (doc, lr, dr, rrf, nt)
              }
              .sortBy { case (doc, _, _, rrf, _) => (-rrf, doc) }
              .take(fuseK).zipWithIndex
              .map { case ((doc, lr, dr, rrf, nt), i) =>
                (doc, lr, dr, rrf, i + 1L, nt)
              }
            // strict-prefix fill over rows WITH a token count (the batch
            // plan's inner token join drops the others AFTER ranking)
            val kept = fused.filter(_._6 >= 0)
            val nFused = kept.size.toLong
            var cum = 0L
            val filled = kept.map { case (doc, lr, dr, rrf, frank, nt) =>
              cum += nt
              (doc, lr, dr, rrf, frank, nt, cum, cum <= budgetTokens)
            }
            val nFilled = filled.count(_._8).toLong
            val nLex = lexList.size.toLong
            val nDense = denseList.size.toLong
            filled.map { case (doc, lr, dr, rrf, frank, nt, c, in) =>
              HybridHit(qid, doc, lr, dr, rrf, frank, nt, c, in,
                nLex, nDense, nFused, nFilled)
            }.iterator
          }
      }
  }

  /** Spark's round(col, 6) on DoubleType, bit-for-bit (BigDecimal.valueOf
    * + HALF_UP) — the stream side must rank by the identical cosine. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def dotd(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }
}
