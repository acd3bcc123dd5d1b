package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One arriving document as the admission gate sees it. */
case class GateEvent(doc_id: Long, source: String, text: String)

/** One emitted gate decision — schema-identical to
  * [[graft.ops.TrainingData.dsirGate]]'s batch relation. */
case class GateRow(doc_id: Long, source: String, n_feats: Long, w_u: Long,
    admitted: Boolean)

/** Streaming DSIR admission gate — [[graft.ops.TrainingData.dsirGate]] at
  * ingest: documents arrive as a stream and each is scored ROW-LOCALLY
  * against a FROZEN hashed-bigram model (fit offline on a reference
  * snapshot, ≤ `buckets` rows by construction — a pinned hyperparameter's
  * footprint, never corpus-scaled), then admitted by weight threshold.
  * This is the ingest-filter shape data pipelines actually deploy: the
  * model refreshes on a rebuild cadence; between rebuilds every arriving
  * document gets an O(|doc|) stateless decision with NO state, NO shuffle
  * and NO aggregation — the whole gate is one typed map.
  *
  * Exactness: the λ table precomputes the same difference-of-floors µ-nat
  * log ratios as the engine plan (`java.lang.Math.log` is the engine's
  * own ln), the md5-derived bucket hash is bit-identical to
  * its batch twin, [[graft.expr.Hash60.h60Col]], and the per-doc weight is an integer
  * sum — the StreamingSpec-style proof asserts stream ≡ batch row-for-row
  * against the dsirGate relation.
  */
object SelectStream {

  /** Driver-side λ table from a persisted [[graft.ops.TrainingData
    * .dsirModel]] relation: bucket → µ-nat log ratio, plus the default for
    * buckets the frozen model never saw (Laplace mass only). */
  def lambdaTable(model: DataFrame,
      buckets: Int): (Map[Long, Long], Long) = {
    val rows = model.select(col("b"), col("cnt_raw"), col("cnt_tgt"))
      .collect()
    val nRaw = rows.map(_.getLong(1)).sum
    val nTgt = rows.map(_.getLong(2)).sum
    def fl(x: Double): Long = math.floor(math.log(x) * 1e6).toLong
    val lt = fl(nTgt.toDouble + buckets)
    val lr = fl(nRaw.toDouble + buckets)
    val tab = rows.map { r =>
      r.getLong(0) -> (fl(r.getLong(2).toDouble + 1d) - lt -
        fl(r.getLong(1).toDouble + 1d) + lr)
    }.toMap
    // unseen bucket: both counts 0, ln(1) = 0 on each side
    (tab, lr - lt)
  }

  def gateStream(spark: SparkSession, docs: DataFrame,
      lambda: Map[Long, Long], lambdaDefault: Long, buckets: Int,
      thresholdU: Long = 0L): Dataset[GateRow] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("source"), col("text")).as[GateEvent]
      .map { e =>
        // Locale.ROOT: the batch plan's lower() is locale-independent — a
        // tr_TR default JVM locale would lowercase 'I' to 'ı' and break
        // the documented stream ≡ batch row identity
        val toks = e.text.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+").filter(_.nonEmpty)
        val bigrams =
          if (toks.length < 2) Array.empty[String]
          else toks.sliding(2).map(_.mkString(" ")).toArray
        var w = 0L
        bigrams.foreach { bg =>
          // h60 is 60-bit (15 hex chars) → always non-negative; plain %
          // equals the engine side's pmod
          val b = graft.expr.Hash60.h60(bg) % buckets.toLong
          w += lambda.getOrElse(b, lambdaDefault)
        }
        GateRow(e.doc_id, e.source, bigrams.length.toLong, w,
          w >= thresholdU)
      }
  }
}
