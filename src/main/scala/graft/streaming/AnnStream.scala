package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One emitted ANN result row — the serve twin's contract: exact integer-L2
  * rank within the query's probed buckets. */
case class AnnHit(query_id: Long, vec_id: Long, idist: Long, rank: Long)

/** Per-query serve state: a served flag — redelivered query events must
  * not re-emit a result set (the at-most-once answer contract). */
case class AnnServed(served: Boolean)

/** Streaming multi-probe ANN serving — the q305 index queried the way a
  * retrieval service actually runs: query vectors arrive as a stream, each
  * computes its own probe signatures PER ROW (base bucket + lowest-margin
  * single-bit flips — pure expressions, no window), stream-static-joins
  * the bucket-GROUPED signature index, and a per-query group step merges
  * the ≤ nProbe bucket payloads and emits the exact top-k by integer
  * squared L2 (⌊10⁶·v⌋ coordinates — the q292 ground-truth metric, exact
  * in 64-bit and therefore identical in any engine and any merge order).
  *
  * Scale shape: the index is (sig → packed candidate list) — at cluster
  * scale a bucket-partitioned parquet relation, so each probe is a
  * partition-pruned read; per query the state is ONE boolean and the
  * merged candidate volume is ~nProbe/2^nPlanes of the corpus. All rows of
  * one query (its probe fan-out) travel in the same micro-batch, so the
  * group step emits immediately; the flag only guards REDELIVERY of the
  * whole query event (idempotent serve, the LedgerStream convention).
  *
  * Batch ≡ stream: the same function evaluated over a batch query relation
  * must match the q312 oracle row-for-row (StreamingSpec proves the
  * micro-batched run equals the batch run).
  */
object AnnStream {

  /** The servable layout: one row per occupied bucket, candidates packed.
    * (sig, vecs: array<struct<vec_id, emb>>) */
  def sigIndex(embeddings: DataFrame, nPlanes: Int, dim: Int): DataFrame = {
    val planes = graft.ops.Similarity.planeVectors(nPlanes, dim)
    embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("sig", graft.ops.Similarity.sigOf(
        transform(col("emb"), v => floor(v * lit(1e6)).cast("double")),
        planes))
      .groupBy(col("sig"))
      .agg(collect_list(struct(col("vec_id"), col("emb"))).as("vecs"))
  }

  /** Per-ROW multi-probe construction over an arriving query relation:
    * margins are integer-valued exact doubles, the flip order is
    * array_sort over (|margin|, plane) structs — no window, no state,
    * safe in a streaming plan. Shared with [[HybridStream]].
    * @return (query_id, qemb, sig) — one row per probed bucket */
  private[streaming] def probedQueries(queries: DataFrame, nPlanes: Int,
      nProbe: Int, dim: Int): DataFrame = {
    val planes = graft.ops.Similarity.planeVectors(nPlanes, dim)
    val iq = transform(col("qemb"), v => floor(v * lit(1e6)).cast("double"))
    val prStructs = array(planes.zipWithIndex.map { case (pl, p) =>
      struct(abs(graft.ops.Similarity.dot(col("iqe"), typedlit(pl)))
        .as("m"), lit(p.toLong).as("p"))
    }: _*)
    val baseSig = planes.zipWithIndex.map { case (pl, p) =>
      when(graft.ops.Similarity.dot(col("iqe"), typedlit(pl)) >= 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    queries
      .select(col("query_id"),
        col("embedding").cast("array<double>").as("qemb"))
      .withColumn("iqe", iq)
      .withColumn("base", baseSig)
      .withColumn("flips", slice(array_sort(prStructs), 1, nProbe - 1))
      .withColumn("probes", expr("concat(array(base), transform(flips, " +
        "f -> base ^ shiftleft(cast(1 as bigint), cast(f.p as int))))"))
      .select(col("query_id"), col("qemb"),
        explode(col("probes")).as("sig"))
  }

  def annServeStream(spark: SparkSession, queries: DataFrame,
      index: DataFrame, nPlanes: Int = 6, nProbe: Int = 2, dim: Int = 64,
      k: Int = 10): Dataset[AnnHit] = {
    import spark.implicits._
    val probed = probedQueries(queries, nPlanes, nProbe, dim)
    val joined = probed.join(index, Seq("sig"))
      .select(col("query_id").as("_1"), col("qemb").as("_2"),
        expr("transform(vecs, v -> struct(v.vec_id as _1, v.emb as _2))")
          .as("_3"))
    joined.as[(Long, Seq[Double], Seq[(Long, Seq[Double])])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AnnServed, AnnHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (qid: Long, it: Iterator[(Long, Seq[Double], Seq[(Long, Seq[Double])])],
            state: GroupState[AnnServed]) =>
          if (state.getOption.exists(_.served)) Iterator.empty
          else {
            val rows = it.toSeq
            state.update(AnnServed(served = true))
            if (rows.isEmpty) Iterator.empty
            else {
              val q = rows.head._2.map(v => math.floor(v * 1e6).toLong)
              // intra-batch duplicate guard: a query event duplicated
              // WITHIN one micro-batch (at-least-once source, two staged
              // files in one trigger) fans out the same probe set twice;
              // the served flag only covers CROSS-batch redelivery. Each
              // corpus vector lives in exactly one bucket and probed sigs
              // are pairwise distinct, so a legitimate single event never
              // repeats a vec_id — dedupe candidates by vec_id so a
              // duplicate cannot occupy two ranks and displace true
              // top-k members.
              val cands = rows.flatMap(_._3).groupBy(_._1)
                .valuesIterator.map(_.head).toSeq
              val hits = cands.collect {
                case (vid, emb) if vid != qid =>
                  val e = emb.map(v => math.floor(v * 1e6).toLong)
                  var d = 0L; var i = 0
                  while (i < q.length) {
                    val t = e(i) - q(i); d += t * t; i += 1
                  }
                  (vid, d)
              }
              hits.sortBy { case (vid, d) => (d, vid) }.take(k)
                .zipWithIndex.map { case ((vid, d), r) =>
                  AnnHit(qid, vid, d, r + 1L)
                }.iterator
            }
          }
      }
  }
}
