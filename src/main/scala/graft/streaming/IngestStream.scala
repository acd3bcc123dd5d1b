package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.ops.TextAnalysis

/** One emitted admission decision — the full funnel-stage record for a
  * single arriving document. `rep_ratio` is NULL for zero-token docs (the
  * CurationStream convention); `reason` is NULL when admitted. */
case class AdmissionRow(doc_id: Long, source: String, n_feats: Long,
    w_u: Long, gate_ok: Boolean, n_tokens: Long,
    rep_ratio: java.lang.Double, quality_ok: Boolean, n_redacted: Long,
    masked_len: Long, known_dup: Boolean, admitted: Boolean, reason: String)

/** The streaming ingest capstone — the ONE admission decision a production
  * pipeline runs per arriving document, composing the three screens that
  * each already exist as stream≡batch parts:
  *
  *   1. **DSIR gate** ([[graft.ops.TrainingData.dsirGate]] /
  *      [[SelectStream]]) — but row-LOCAL here: the frozen ≤`buckets`-row
  *      model collapses to a ONE-ROW broadcast (bucket → µ-nat λ) map
  *      column (the [[RagStream.fusedIndex]] convention), and each doc's
  *      weight is an array-HOF fold over its bigrams — no explode, no
  *      per-doc aggregation, so the gate stays inside the stateless
  *      projection;
  *   2. **curation cascade + PII audit** ([[CurationStream]]) — the same
  *      four reject rules and four scrub classes, per-row;
  *   3. **known-duplicate screen** — stream-static lookup against the
  *      persisted keeper election's reject side, kept as a FLAG (not an
  *      anti-join) because an admission log wants the rejected row with
  *      its reason, not silence.
  *
  * Everything above is one stateless projection + broadcast stream-static
  * joins: append mode, no watermark, no shuffle of the stream side. The
  * single stateful operator is [[admissionStream]]'s at-most-once
  * redelivery guard (flatMapGroupsWithState keyed by doc_id, O(1) boolean
  * state per key) — an at-least-once source may deliver a document twice
  * ACROSS or WITHIN micro-batches, and an admission log must decide once.
  *
  * Stream ≡ batch: [[admissionDecisions]] is mode-agnostic (the identical
  * plan runs on a batch DataFrame — q321's oracle hashes it), and the
  * spec drives shuffled multi-micro-batch arrival orders WITH planted
  * intra- and cross-batch redeliveries against the batch run: the
  * composition is arrival-order-safe because every decision column is a
  * pure function of the row + frozen broadcast state.
  *
  * Funnel counts: [[admissionFunnel]] attaches per-source
  * (n_arrived, n_gate_ok, n_quality_ok, n_admitted) to every decision row
  * — a groupBy partial-agg + broadcast join back, NOT a window: a window
  * partitioned by a ≤dozens-cardinality source column would sort each
  * source's entire row mass on one partition at 100 TB, while the partial
  * aggregate reduces map-side and broadcasts a |sources|-row relation.
  * Streaming keeps the funnel downstream (the LedgerStream discipline:
  * aggregation state stays out of the serve path).
  */
object IngestStream {

  /** The 1-row broadcast gate state: a DENSE λ array (slot b+1 = λ of
    * bucket b, unseen buckets pre-filled with the Laplace default) derived
    * from a persisted frozen [[graft.ops.TrainingData.dsirModel]] — same
    * difference-of-floors µ-nat arithmetic as the batch gate, so w_u
    * matches bit-for-bit. Dense ARRAY, not a map (r13 optimization):
    * Spark's MapType literal is array-backed, so `element_at(map, b)` is a
    * LINEAR scan — ~|bigrams|·buckets comparisons per document inside the
    * gate fold, measured as the dominant cost of the whole admission
    * projection; `element_at(array, b+1)` is one O(1) primitive read. */
  private def lambdaIndex(model: DataFrame, buckets: Int): DataFrame = {
    val totals = model.agg(sum(col("cnt_raw")).as("n_raw"),
      sum(col("cnt_tgt")).as("n_tgt"))
    val lamU = floor(log(col("cnt_tgt").cast("double") + 1d) * 1000000)
      .cast("long") -
      floor(log(col("n_tgt").cast("double") + buckets) * 1000000)
        .cast("long") -
      floor(log(col("cnt_raw").cast("double") + 1d) * 1000000)
        .cast("long") +
      floor(log(col("n_raw").cast("double") + buckets) * 1000000)
        .cast("long")
    model.crossJoin(broadcast(totals))
      .select(col("b"), lamU.as("lam_u"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("lam_u"))))
        .as("lam_map"))
      .crossJoin(broadcast(totals.select(
        (floor(log(col("n_raw").cast("double") + buckets) * 1000000)
          .cast("long") -
          floor(log(col("n_tgt").cast("double") + buckets) * 1000000)
            .cast("long")).as("lam_default"))))
      .select(transform(sequence(lit(0), lit(buckets - 1)),
        b => coalesce(element_at(col("lam_map"), b.cast("long")),
          col("lam_default"))).as("lam_arr"))
  }

  /** The stateless admission decision relation — batch and streaming run
    * the IDENTICAL plan. One row per input doc (rejects included), with
    * every stage's evidence and the first-failing-stage reason.
    *
    * @param docs      (doc_id, source, text, ...) — batch or stream
    * @param model     frozen (b, cnt_raw, cnt_tgt) [[TrainingData.dsirModel]]
    * @param knownDups (doc_id) reject side of a persisted keeper election
    */
  def admissionDecisions(docs: DataFrame, model: DataFrame,
      knownDups: DataFrame, buckets: Int = 4096,
      thresholdU: Long = 0L): DataFrame = {
    val toks = filter(split(lower(col("text")), "\\s+"), x => x =!= "")
    // bigram buckets exactly as dsirFeatures — one native per-row pass
    // ([[graft.expr.BigramBuckets]]: same tokenizer walk, same md5-prefix
    // bucket arithmetic) instead of the zip_with/slice/concat HOF chain
    // with a per-element md5/conv expression tree (r13 optimization; the
    // fold below now only adds map lookups)
    val bkts = graft.expr.VectorOps.bigramBuckets(col("text"), buckets)
    val qcols = TextAnalysis.qualityColumns(col("text")).toMap
    val scored = docs.crossJoin(broadcast(lambdaIndex(model, buckets)))
      .select(col("doc_id"), col("source"), col("text"),
        size(bkts).cast("long").as("n_feats"),
        // the gate fold: Σ λ(bucket) over bigram OCCURRENCES ≡ the batch
        // gate's sum(c·λ) over distinct buckets; O(1) dense-array reads
        aggregate(bkts, lit(0L), (acc, b) =>
          acc + element_at(col("lam_arr"), (b + 1).cast("int"))).as("w_u"),
        qcols("n_tokens").as("n_tokens"),
        qcols("stopword_ratio").as("stopword_ratio"),
        qcols("mean_word_len").as("mean_word_len"),
        // per-row twin of repetitionRatio(docs, 1); zero-token docs get
        // NULL via an explicit guard (ANSI mode makes bare 0/0 THROW)
        when(size(toks) > 0,
          floor((lit(1.0) - size(array_distinct(toks)).cast("double")
            / size(toks).cast("double")) * 1000000d) / 1000000d)
          .as("rep_ratio"))
      .withColumn("gate_ok", col("w_u") >= thresholdU)
      .withColumn("quality_ok",
        !Seq(col("n_tokens") < 20, col("stopword_ratio") < 0.02,
          col("rep_ratio") > 0.65, col("mean_word_len") > 5.9)
          .map(r => coalesce(r, lit(false))).reduce(_ || _))
    TextAnalysis.piiScrub(scored, carry = Seq("source", "n_feats", "w_u",
        "gate_ok", "n_tokens", "rep_ratio", "quality_ok"))
      .join(broadcast(knownDups.select(col("doc_id"),
        lit(true).as("kd"))), Seq("doc_id"), "left")
      .withColumn("known_dup", coalesce(col("kd"), lit(false)))
      .withColumn("admitted",
        col("gate_ok") && col("quality_ok") && !col("known_dup"))
      .withColumn("reason",
        when(!col("gate_ok"), "gate")
          .when(!col("quality_ok"), "quality")
          .when(col("known_dup"), "known_dup"))
      .select(col("doc_id"), col("source"), col("n_feats"), col("w_u"),
        col("gate_ok"), col("n_tokens"), col("rep_ratio"),
        col("quality_ok"), col("n_redacted"), col("masked_len"),
        col("known_dup"), col("admitted"), col("reason"))
  }

  /** Per-source funnel counts riding every decision row (the q318
    * convention): arrived → gate passed → gate∧quality passed → admitted.
    * Batch-side: partial-agg rollup + broadcast join back (see object
    * Scaladoc for why not a window). */
  def admissionFunnel(decisions: DataFrame): DataFrame = {
    val funnel = decisions.groupBy(col("source")).agg(
      count(lit(1)).as("n_arrived"),
      sum(when(col("gate_ok"), 1L).otherwise(0L)).as("n_gate_ok"),
      sum(when(col("gate_ok") && col("quality_ok"), 1L).otherwise(0L))
        .as("n_quality_ok"),
      sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"))
    decisions.join(broadcast(funnel), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_feats"), col("w_u"),
        col("gate_ok"), col("n_tokens"), col("rep_ratio"),
        col("quality_ok"), col("n_redacted"), col("masked_len"),
        col("known_dup"), col("admitted"), col("reason"),
        col("n_arrived"), col("n_gate_ok"), col("n_quality_ok"),
        col("n_admitted"))
  }

  /** The streaming admission pipeline: [[admissionDecisions]] + the ONE
    * bounded stateful step — an at-most-once redelivery guard keyed by
    * doc_id (O(1) boolean state per key, NoTimeout: an admission decision
    * never ages out). A doc_id delivered twice — in one micro-batch or
    * across many — emits exactly one decision row; replayed rows are
    * identical by construction (pure function of the row + frozen
    * broadcast state), so WHICH copy emits is unobservable. */
  def admissionStream(spark: SparkSession, docs: DataFrame,
      model: DataFrame, knownDups: DataFrame, buckets: Int = 4096,
      thresholdU: Long = 0L): Dataset[AdmissionRow] = {
    import spark.implicits._
    admissionDecisions(docs, model, knownDups, buckets, thresholdU)
      .as[AdmissionRow]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, AdmissionRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[AdmissionRow], state) =>
          if (state.exists) Iterator.empty
          else { state.update(true); it.take(1) }
      }
  }
}
