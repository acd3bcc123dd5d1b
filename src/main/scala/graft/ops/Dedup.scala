package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FreshCheckpoint

/** Deduplication operators for training-data pipelines over
  * `documents(doc_id, text, lang, source, n_chars)`.
  *
  * Scale design: every variant is shuffle-on-key (groupBy / bucket-join); no
  * pairwise cross joins outside LSH buckets or explicit blocks. Hashing uses
  * md5 so the SQL oracle computes bit-identical signatures.
  */
object Dedup {

  /** Fan a low-partition input out to the session's parallelism before
    * CPU-heavy per-row expansion (shingling, hashing). A small parquet file
    * arrives as ONE partition, which serializes the whole explode stage on a
    * single core (measured: the q36 gram build was 6 s single-task at sf0.1).
    * At cluster scale inputs already have ≥ parallelism partitions and this
    * is the identity — no extra shuffle. */
  private[ops] def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    // Estimate the scan's partition count from Catalyst size stats instead of
    // df.rdd.getNumPartitions — the RDD probe forces physical planning AND an
    // RDD conversion of the analyzed plan on every call.
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // Plans with no real statistics report the spark.sql.defaultSizeInBytes
    // sentinel (Long.MaxValue unless tuned), which would make estParts
    // astronomical and silently disable the fan-out. Only a trusted,
    // non-sentinel estimate may skip the repartition; otherwise pay the one
    // RDD probe — correctness of parallelism beats planning cost here.
    val sentinel = BigInt(
      spark.conf.get("spark.sql.defaultSizeInBytes", Long.MaxValue.toString))
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val estParts = bytes / (if (maxPart > 0) maxPart else 1L) + 1
    if (bytes >= sentinel) {
      if (df.rdd.getNumPartitions < p) df.repartition(p) else df
    } else if (estParts < p) df.repartition(p) else df
  }

  /** Exact dedup: hash-groupBy on content. Returns one row per distinct text:
    * (keep_id = min doc_id, dup_count). A "which rows to drop" view is the
    * anti-join of documents against keep_id. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Distinct lowercase word tokens per doc: (doc_id, tok). */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(filter(split(lower(col("text")), "\\s+"), x => x =!= "")))
        .as("tok"))

  /** Distinct word n-gram shingles per doc: (doc_id, tok). Shingling (vs
    * unigrams) is what makes MinHash discriminative: the shingle universe is
    * |vocab|^n, so unrelated documents share few shingles and LSH buckets
    * stay small — with unigram tokens over a small vocabulary every document
    * collides with every other and the bucket join degenerates to all-pairs.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    shingleArrays(docs, n).select(col("doc_id"), explode(col("arr")).as("tok"))

  /** Per-ROW sorted distinct shingle array (doc_id, arr) — the narrow form
    * every MinHash stage derives from. One native expression per row
    * ([[graft.expr.SortedWordShingles]]): no explode, no shuffle of the
    * shingle stream anywhere (the q36 lesson — the gram relation is ~n× the
    * corpus and shuffling it was the dominant cost), and none of the
    * composed lower/split/transform/concat_ws/distinct/sort form's
    * intermediate-array allocations, which measured as the pipeline's
    * dominant per-row cost. Sorted so the verify stage can merge-intersect
    * natively. May be empty (short doc). */
  def shingleArrays(docs: DataFrame, n: Int = 3): DataFrame = {
    docs.select(col("doc_id"),
      graft.expr.VectorOps.sortedWordShingles(col("text"), n).as("arr"))
  }

  /** The numHashes salted-min columns over a shingle array column:
    * h_i = min over tokens of md5(i || ':' || t) ≡ the classic
    * min-over-permutation, all k mins computed in ONE native pass per row
    * ([[graft.expr.MinHashSigs]] — the same lexicographic min the old
    * explode + min(…) aggregation took, and the one the DuckDB oracle
    * replays; the naive per-row HOF form allocated k md5-string arrays per
    * doc and measured slower than the aggregation it replaced). */
  private def minhashCols(arr: Column, numHashes: Int): Seq[Column] = {
    val sigs = graft.expr.VectorOps.minhashSigs(arr, numHashes)
    (0 until numHashes).map(i => sigs.getItem(i).as(s"h$i"))
  }

  /** MinHash signature per doc with ≥1 shingle: (doc_id, h0..h_{k-1}).
    * Pure per-row expressions over [[shingleArrays]] — zero shuffles. The
    * empty-shingle filter mirrors the old aggregation form, where a doc with
    * no shingles produced no group (an empty doc must NOT band-collide with
    * other empty docs on a constant null-band key). */
  def minhashSignatures(docs: DataFrame, numHashes: Int): DataFrame = {
    shingleArrays(fanOut(docs)).filter(size(col("arr")) > 0)
      .select(col("doc_id") +: minhashCols(col("arr"), numHashes): _*)
  }

  /** MinHash + LSH banded near-dup candidates with exact-Jaccard verification.
    *
    * numHashes signatures → bands of `rowsPerBand`; docs sharing any band key
    * become candidates (bucket join — never all-pairs); candidates are
    * verified with exact token-set Jaccard and filtered at `threshold`.
    * Returns (a, b, jaccard) with a < b.
    */
  def minhashLsh(
      docs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8): DataFrame = {
    val numBands = numHashes / rowsPerBand
    // Checkpoint the NARROW signature table only (one row per doc,
    // doc_id + k hex strings; the band union reads it numBands times and
    // the candidate self-join doubles that). The per-doc shingle ARRAYS are
    // deliberately NOT checkpointed: they are the tokenized corpus re-
    // encoded (~text-sized per doc), and materializing them measured as the
    // dominant cost of the whole query at sf0.1 — the verify stage instead
    // recomputes arrays for CANDIDATE docs only (bounded by LSH buckets,
    // orders of magnitude smaller than the corpus).
    val base = FreshCheckpoint(minhashSignatures(docs, numHashes))
    val bandRows = bandedKeys(base, numBands, rowsPerBand)
    val cand = bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    verifyJaccard(docs, cand, threshold)
  }

  /** Per-pair LSH evidence — the explainability relation for a MinHash
    * dedup decision (when a dedup run is audited, "these two docs
    * collided" needs to decompose into WHICH bands fired, what the
    * signature estimated, and what verification measured): for every
    * banded candidate pair, `n_bands` band-key matches, `n_sig` of
    * `numHashes` agreeing signature components (the classic unbiased
    * Jaccard estimator — `est_u` = n_sig·10⁶ div numHashes), the verified
    * exact Jaccard (`jac_u`), and `is_fp` marking pairs the signature
    * would pass at `threshold` but verification rejects — the measured
    * LSH false-positive set that sizes how much the verify stage is
    * actually buying.
    *
    * Scale shape: identical candidate generation to [[minhashLsh]] (band
    * bucket join, never all-pairs) with the band count folded into the
    * same aggregate that dedups candidates; signature attaches are two
    * narrow equi-joins on the checkpointed signature table; verification
    * is the shared candidate-bounded [[verifyJaccard]] pass at cut 0.
    *
    * @return (a, b, n_bands, n_sig, est_u, jac_u, is_fp), a < b
    */
  def pairEvidence(docs: DataFrame, numHashes: Int = 8,
      rowsPerBand: Int = 2, threshold: Double = 0.8): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val base = FreshCheckpoint(minhashSignatures(docs, numHashes))
    val bandRows = bandedKeys(base, numBands, rowsPerBand)
    val cand = bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_bands"))
    val sa = base.select(col("doc_id").as("a") +:
      (0 until numHashes).map(i => col(s"h$i").as(s"xa$i")): _*)
    val sb = base.select(col("doc_id").as("b") +:
      (0 until numHashes).map(i => col(s"h$i").as(s"xb$i")): _*)
    val nSig = (0 until numHashes)
      .map(i => when(col(s"xa$i") === col(s"xb$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand.join(sa, Seq("a")).join(sb, Seq("b"))
      .select(col("a"), col("b"), col("n_bands"), nSig.as("n_sig"))
    val thrU = math.round(threshold * 1000000d)
    est.join(verifyJaccard(docs, est.select(col("a"), col("b")), 0.0)
        .select(col("a"), col("b"), col("jaccard")), Seq("a", "b"))
      .select(col("a"), col("b"), col("n_bands"), col("n_sig"),
        expr(s"n_sig * 1000000 div $numHashes").as("est_u"),
        expr("CAST(round(jaccard * 1000000) AS BIGINT)").as("jac_u"))
      .withColumn("is_fp", col("est_u") >= thrU && col("jac_u") < thrU)
  }

  /** Dedup threshold-sweep diagnostic: verified MinHash-LSH pairs bucketed
    * by jaccard decile, with pair counts and distinct-document coverage
    * per band — the calibration artifact for choosing a dedup threshold
    * (how many pairs/docs each cut would touch) BEFORE committing to one.
    * Candidates stay LSH-banded (threshold 0 only disables the verify
    * filter, not the banding), so the sweep costs the same as one dedup
    * pass; bands are integer deciles of round(j·10⁶), engine-exact.
    *
    * @return (band, n_pairs, n_docs) — band = decile 0..10
    */
  def thresholdSweep(docs: DataFrame, numHashes: Int = 8,
      rowsPerBand: Int = 2): DataFrame = {
    val pairs = sweepPairs(docs, numHashes, rowsPerBand)
    val docsPerBand = pairs.select(col("band"), col("a").as("d"))
      .unionByName(pairs.select(col("band"), col("b").as("d")))
      .groupBy(col("band")).agg(countDistinct(col("d")).as("n_docs"))
    pairs.groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
      .join(docsPerBand, Seq("band"))
  }

  /** All banded candidates with their jaccard decile (a, b, band) — ONE
    * banded pass (threshold 0 disables only the verify filter), shared by
    * the sweep/choice/calibrated-dedup family. */
  private def sweepPairs(docs: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame =
    minhashLsh(docs, numHashes, rowsPerBand, threshold = 0.0)
      .withColumn("band",
        expr("CAST(round(jaccard * 1000000) AS BIGINT) div 100000"))

  /** Per-cut sweep statistics (cut, n_pairs_ge, n_docs_ge, frac_u) over a
    * fixed 0..10 decile spine: for each candidate jaccard cut, how many
    * verified pairs survive and what fraction of the corpus (micro-units)
    * a dedup at that cut would touch. */
  private def cutStats(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val spine = docs.sparkSession.range(0, 11).select(col("id").as("cut"))
    // one row per (pair, qualifying cut): a band-b pair survives every
    // cut <= b, so the per-cut rollup is a <= 11-way fan-out of the
    // candidate-bounded pair relation, never of the corpus
    val perCut = pairs.select(
      explode(sequence(lit(0L), col("band"))).as("cut"), col("a"), col("b"))
    val pairCounts = perCut.groupBy(col("cut"))
      .agg(count(lit(1)).as("n_pairs_ge"))
    val docCounts = perCut.select(col("cut"), col("a").as("d"))
      .unionByName(perCut.select(col("cut"), col("b").as("d")))
      .groupBy(col("cut")).agg(countDistinct(col("d")).as("n_docs_ge"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    spine.join(pairCounts, Seq("cut"), "left")
      .join(docCounts, Seq("cut"), "left")
      .na.fill(0L, Seq("n_pairs_ge", "n_docs_ge"))
      .crossJoin(broadcast(total))
      .withColumn("frac_u", expr("n_docs_ge * 1000000 div n_total"))
      .select(col("cut"), col("n_pairs_ge"), col("n_docs_ge"), col("frac_u"))
  }

  /** The chosen decile cut as a 1-row relation (chosen_cut): the SMALLEST
    * (most aggressive) cut whose touched-doc fraction fits the budget, or
    * 10 (exact-dup territory) when even the top decile overshoots. */
  private def chosenCut(stats: DataFrame, targetFracU: Long): DataFrame =
    stats.agg(coalesce(
      min(when(col("frac_u") <= targetFracU, col("cut"))), lit(10L))
      .as("chosen_cut"))

  /** Threshold chooser over the [[thresholdSweep]] calibration — the
    * decide half of the calibrate→commit loop: per candidate cut, the pair
    * and doc coverage a dedup at that cut would commit to, plus which cut
    * the coverage budget selects. `targetFracU` is the knob: the largest
    * acceptable fraction (micro-units) of the corpus a dedup pass may
    * touch — the chosen cut is the most aggressive one inside the budget
    * (fallback: 10 when every cut overshoots, i.e. dedup only
    * near-identical docs).
    *
    * Scale shape: one banded LSH pass (the [[thresholdSweep]] cost), an
    * ≤ 11-way fan-out of the candidate-bounded pair relation, and two
    * 1-row scalar broadcasts — nothing corpus-proportional beyond the
    * pass itself.
    *
    * @return (cut, n_pairs_ge, n_docs_ge, frac_u, chosen), 11 rows
    */
  def thresholdChoice(docs: DataFrame, targetFracU: Long = 100000,
      numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val pairs = FreshCheckpoint(sweepPairs(docs, numHashes, rowsPerBand))
    val stats = cutStats(docs, pairs)
    stats.crossJoin(broadcast(chosenCut(stats, targetFracU)))
      .select(col("cut"), col("n_pairs_ge"), col("n_docs_ge"), col("frac_u"),
        (col("cut") === col("chosen_cut")).as("chosen"))
  }

  /** Calibrated near-dup resolution — the commit half: run ONE banded
    * pass, let [[thresholdChoice]]'s rule pick the jaccard cut for the
    * coverage budget, keep the pairs at or above it, and elect cluster
    * keepers ([[clusterKeepers]] policy). The chosen cut rides every row
    * (scalar broadcast) so the audit trail records which calibration the
    * commit used — no driver round-trip anywhere: calibration, choice and
    * commit are one plan.
    *
    * @return one row per doc: (doc_id, cluster, n_tokens, keep, chosen_cut)
    */
  def calibratedDedup(docs: DataFrame, targetFracU: Long = 100000,
      numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val pairs = FreshCheckpoint(sweepPairs(docs, numHashes, rowsPerBand))
    val chosen = chosenCut(cutStats(docs, pairs), targetFracU)
    val dedupPairs = pairs.crossJoin(broadcast(chosen))
      .filter(col("band") >= col("chosen_cut"))
      .select(col("a"), col("b"))
    clusterKeepers(docs, dedupPairs)
      .crossJoin(broadcast(chosen))
      .select(col("doc_id"), col("cluster"), col("n_tokens"), col("keep"),
        col("chosen_cut"))
  }

  /** Cross-source near-duplicate matrix: [[minhashLsh]] pairs rolled up to
    * (source, source) cells — the mixture-design diagnostic that tells a
    * pretraining pipeline WHERE its duplication lives (a heavy diagonal =
    * crawl self-duplication, a heavy off-diagonal = two feeds mirroring
    * each other, i.e. double-counted weight in the mixture). Source pairs
    * are normalized (source_x ≤ source_y) so each unordered cell is one
    * row; jaccard sums ride as round(j·10⁶) integers so the rollup is
    * engine-exact.
    *
    * Scale shape: everything corpus-sized is [[minhashLsh]]'s banded
    * machinery; this adds two narrow equi-joins (pair id → source) and a
    * |sources|²-bounded aggregate.
    *
    * @return (source_x, source_y, n_pairs, sum_j_u, max_j_u)
    */
  def crossSourceMatrix(docs: DataFrame, numHashes: Int = 8,
      rowsPerBand: Int = 2, threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLsh(docs, numHashes, rowsPerBand, threshold)
      .withColumn("j_u", round(col("jaccard") * 1000000d).cast("long"))
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), Seq("b"))
      .groupBy(least(col("sa"), col("sb")).as("source_x"),
        greatest(col("sa"), col("sb")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("j_u")).as("sum_j_u"),
        max(col("j_u")).as("max_j_u"))
  }

  /** Duplicate-cluster size profile — the corpus-health histogram every
    * dedup run should publish: close `pairs` (e.g. [[minhashLsh]] output)
    * transitively via distributed connected components (singletons included,
    * so the size-1 row is the untouched-corpus mass) and roll cluster sizes
    * up to (cluster_size, n_clusters, n_docs). A heavy tail here means one
    * boilerplate template dominates the corpus; the profile is what decides
    * between keeper-election ([[clusterKeepers]]) and outright cluster
    * drops. Scale: CC is the O(log n) large/small-star loop on the pair
    * graph (pairs ≪ corpus); the rollup is two tiny key-partitioned aggs. */
  def dupClusterProfile(docs: DataFrame, pairs: DataFrame): DataFrame =
    graft.graph.Analytics.connectedComponents(
        docs.select(col("doc_id").as("id")),
        pairs.select(col("a").as("src"), col("b").as("dst")))
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** Novelty-decay curve by ingestion batch — the crawl-saturation monitor:
    * bucket the corpus into arrival batches (id order IS ingestion order
    * for an append-only corpus) and measure, per batch, the fraction of
    * docs that arrived REDUNDANT — i.e. near-duplicate `pairs` partner
    * with a smaller id exists (the later side of each (a < b) pair). A
    * rising curve says the crawl is re-fetching what it already has and
    * the next epoch's marginal data is mostly dup mass. One distinct
    * projection of the pair relation + a left semi-style flag join on the
    * doc key; batch rollup is counts only.
    *
    * @return (batch, n_docs, n_redundant, redundancy_u) — floor micro-units
    */
  def noveltyDecay(docs: DataFrame, pairs: DataFrame,
      batchSize: Long = 100): DataFrame = {
    val redundant = pairs
      .select(greatest(col("a"), col("b")).as("doc_id")).distinct()
      .withColumn("red", lit(true))
    docs.select(col("doc_id"), expr(s"doc_id div $batchSize").as("batch"))
      .join(redundant, Seq("doc_id"), "left")
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("red"), 1L).otherwise(0L)).as("n_redundant"))
      .select(col("batch"), col("n_docs"), col("n_redundant"),
        expr("n_redundant * 1000000 div n_docs").as("redundancy_u"))
  }

  /** (doc_id, band, key) LSH band rows from a signature table — the join
    * key relation for any MinHash candidate generation (full self-join,
    * incremental batch-vs-index, streaming buckets). */
  private[ops] def bandedKeys(
      sigs: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      md5(concat_ws("|", parts: _*)).as(s"band$b")
    }
    val banded = sigs.select(col("doc_id") +: bandCols: _*)
    (0 until numBands).map { b =>
      banded.select(col("doc_id"), lit(b).as("band"), col(s"band$b").as("key"))
    }.reduce(_ unionByName _)
  }

  /** Incremental MinHash dedup — the production shape of near-dup removal on
    * a growing corpus: each new BATCH is shingled and banded, then joined
    * against the persisted signature INDEX of everything already accepted
    * (plus itself, for within-batch dups). The corpus is never re-shingled:
    * `corpusSigs` is the index a previous run produced
    * ([[minhashSignatures]] output; at scale the BANDED form is persisted
    * bucketed on a single composite `band:key` column via `sources.Store`,
    * so the candidate join co-locates with no corpus-side shuffle — v1
    * bucketing eliminates the exchange only when the join key equals the
    * bucket key exactly; machine-checked in `SigIndexSpec`); corpus TEXT is
    * touched only for docs that band-collide with the batch
    * ([[verifyJaccard]] semi-joins candidates onto the scan).
    *
    * @return one row per batch doc: (doc_id, dup_of, is_novel) with dup_of =
    *         the smallest verified-duplicate partner id (corpus or
    *         earlier-id batch doc) at `threshold`, NULL when novel.
    */
  def incrementalMinhash(
      corpusDocs: DataFrame,
      corpusSigs: DataFrame,
      batchDocs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val batchSigs = FreshCheckpoint(minhashSignatures(batchDocs, numHashes))
    val batchBands = bandedKeys(batchSigs, numBands, rowsPerBand)
    // probe side = batch only; build side = index ∪ batch (within-batch dups
    // resolve to the earlier id, same a < b rule as the full self-join)
    val allBands = bandedKeys(corpusSigs, numBands, rowsPerBand)
      .unionByName(batchBands)
    val cand = allBands.as("x").join(batchBands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val verified = verifyJaccard(
      corpusDocs.unionByName(batchDocs), cand, threshold)
    batchDocs.select(col("doc_id"))
      .join(verified.groupBy(col("b")).agg(min(col("a")).as("dup_of")),
        col("doc_id") === col("b"), "left")
      .select(col("doc_id"), col("dup_of"),
        col("dup_of").isNull.as("is_novel"))
  }

  /** Persisted-signature-index staleness audit — the freshness check a
    * production near-dup index ([[incrementalMinhash]]'s reuse contract)
    * needs at release cadence: a stale index silently degrades dedup in
    * three distinct ways, and this audit prices each.
    *
    *  - **unindexed**: corpus docs with no index entry (arrived after the
    *    last index build) — they can only dedup against each other, not
    *    the corpus, until re-indexed.
    *  - **orphaned**: index entries whose doc left the corpus — they
    *    manufacture candidate pairs against deleted content (wasted
    *    verify work, and a leak if deletion was a forget request).
    *  - **changed**: doc present in both but its CURRENT signature differs
    *    from the indexed one (content edited since indexing) — the index
    *    answers for text that no longer exists.
    *
    * Cost note: the audit RECOMPUTES current signatures — that is the
    * point (it is the release-cadence ground-truthing pass, not the hot
    * path); the hot path stays [[incrementalMinhash]], which never
    * re-shingles. coverage_u counts only `fresh` entries against the
    * corpus.
    *
    * The corpus side is anchored on RAW doc_ids, not on the signature
    * relation: [[minhashSignatures]] drops docs too short to form a
    * 3-shingle, so a short doc must still surface here — as `unindexed`
    * when it has no index entry, and as `changed` when the index still
    * carries a signature its current text can no longer produce (r11
    * advisory: signature-anchored corpus counts silently excluded short
    * docs from n_corpus and overstated coverage_u).
    *
    * @param sigIndex persisted [[minhashSignatures]] output (doc_id,
    *        h0..h{n−1})
    * @return 1 row: (n_corpus, n_index, n_fresh, n_unindexed, n_orphaned,
    *         n_changed, coverage_u)
    */
  def indexStaleness(corpus: DataFrame, sigIndex: DataFrame,
      numHashes: Int = 8): DataFrame = {
    val cur = corpus.select(col("doc_id")).join(
      FreshCheckpoint(minhashSignatures(corpus, numHashes)),
      Seq("doc_id"), "left")
    val sigCols = (0 until numHashes).map(i => s"h$i")
    // an unsignable current doc (h0 NULL) with an index entry is `changed`:
    // the index answers for text the doc no longer has
    val changedCond = col("c.h0").isNull ||
      sigCols.map(h => col(s"c.$h") =!= col(s"i.$h")).reduce(_ || _)
    cur.as("c")
      .join(sigIndex.as("i"), col("c.doc_id") === col("i.doc_id"),
        "full_outer")
      .select(when(col("i.doc_id").isNull, "unindexed")
        .when(col("c.doc_id").isNull, "orphaned")
        .when(changedCond, "changed")
        .otherwise("fresh").as("status"))
      .agg(
        sum(when(col("status") =!= "orphaned", 1L).otherwise(0L))
          .as("n_corpus"),
        sum(when(col("status") =!= "unindexed", 1L).otherwise(0L))
          .as("n_index"),
        sum(when(col("status") === "fresh", 1L).otherwise(0L)).as("n_fresh"),
        sum(when(col("status") === "unindexed", 1L).otherwise(0L))
          .as("n_unindexed"),
        sum(when(col("status") === "orphaned", 1L).otherwise(0L))
          .as("n_orphaned"),
        sum(when(col("status") === "changed", 1L).otherwise(0L))
          .as("n_changed"))
      .withColumn("coverage_u", expr("n_fresh * 1000000 div n_corpus"))
  }

  /** Near-dup cluster resolution with a best-copy keeper policy: production
    * dedup does not keep an arbitrary cluster member — it keeps the BEST one
    * (here: most tokens, the "longest copy" heuristic; ties break to the
    * smallest doc_id so the choice is total). Pairs close transitively via
    * the distributed connected-components operator; the keeper is elected
    * with a partial-aggregated max(struct(n_tokens, −doc_id)) per cluster —
    * NOT a per-cluster sort window, because a boilerplate-heavy corpus can
    * collapse into one corpus-scale cluster, and a combiner-backed agg (plus
    * an AQE-skew-splittable rejoin) survives that where a single sorted
    * window partition does not. The integer token count keeps the election
    * free of cross-engine double comparisons.
    *
    * @return one row per doc: (doc_id, cluster, n_tokens, keep).
    */
  def clusterKeepers(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comps = graft.graph.Analytics.connectedComponents(
        docs.select(col("doc_id").as("id")),
        pairs.select(col("a").as("src"), col("b").as("dst")))
      .select(col("id").as("doc_id"), col("component").as("cluster"))
    val scored = comps.join(
      docs.select(col("doc_id"),
        graft.ops.TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      Seq("doc_id"))
    // lexicographic struct max = (most tokens, then smallest id) — the same
    // total order the oracle's row_number() ORDER BY replays
    val elected = scored.groupBy(col("cluster"))
      .agg(max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id"))).as("w"))
      .select(col("cluster"), (-col("w.neg_id")).cast("long").as("keeper_id"))
    scored.join(elected, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("n_tokens"),
        (col("doc_id") === col("keeper_id")).as("keep"))
  }

  /** Exact shingle-set Jaccard for candidate pairs (a, b); filter ≥ threshold.
    * (MinHash estimates shingle-set Jaccard, so verification uses the same
    * set definition.) Shingle arrays are computed only for docs that appear
    * in a candidate pair: the candidate ID SET semi-joins onto the corpus
    * scan, so verify cost scales with the candidates, never the corpus. */
  def verifyJaccard(docs: DataFrame, cand: DataFrame, threshold: Double): DataFrame = {
    val candC = FreshCheckpoint(cand)
    val ids = candC.select(col("a").as("doc_id"))
      .unionByName(candC.select(col("b").as("doc_id"))).distinct()
    val candDocs = fanOut(docs).join(ids, Seq("doc_id"), "leftsemi")
    // candidate-doc arrays are read by both attach sides — materialize the
    // candidate-bounded table once
    verifyJaccardArrays(FreshCheckpoint(
      shingleArrays(candDocs).filter(size(col("arr")) > 0)), candC, threshold)
  }

  /** Verify over per-doc sorted shingle arrays (doc_id, arr): native
    * merge-intersect per candidate pair instead of the relational
    * candidates ⋈ tokens ⋈ tokens + groupBy, which enumerates Σ_pairs |set|
    * intermediate rows and shuffles the token stream. Arrays attach to the
    * narrow candidate pairs over id equi-joins, same pattern as
    * ngramJaccard's verify. */
  private def verifyJaccardArrays(
      arrays: DataFrame, cand: DataFrame, threshold: Double): DataFrame = {
    val ga = arrays.select(col("doc_id").as("a"), col("arr").as("arrA"))
    val gb = arrays.select(col("doc_id").as("b"), col("arr").as("arrB"))
    cand.join(ga, Seq("a")).join(gb, Seq("b"))
      .select(col("a"), col("b"),
        graft.expr.VectorOps.sortedArrayIntersect(col("arrA"), col("arrB")).as("inter"),
        size(col("arrA")).cast("long").as("szA"),
        size(col("arrB")).cast("long").as("szB"))
      .withColumn("jaccard",
        // floor micro-units, not round: jaccard is an exact small rational
        // (see Queries' parity conventions — round() ties split across
        // engines when the union size is 2^a*5^b)
        floor(col("inter").cast("double")
          / (col("szA") + col("szB") - col("inter")).cast("double")
          * 1000000d) / 1000000d)
      .select(col("a"), col("b"), col("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Blocked n-gram Jaccard near-dup: candidate pairs limited to equal
    * (lang, source) blocks; char n-gram multisets compared as distinct sets.
    * Returns (a, b, jaccard) with a < b, jaccard ≥ threshold.
    *
    * Scale path: PREFIX FILTERING (the PPJoin family's length/prefix bound)
    * instead of all-pairs-per-block. Order each doc's gram set by ascending
    * global document frequency; a pair with Jaccard ≥ t MUST share at least
    * one gram within each side's first floor((1-t)·|set|)+1 grams, so the
    * candidate join runs only over those rare prefix grams — equal output,
    * orders of magnitude fewer candidate rows than block cross-join (which at
    * sf0.1 already materialized ~600M intermediate rows; prefix candidates
    * join on the rarest grams where bucket sizes are small by construction).
    *
    * The gram relation is deliberately NOT cached/checkpointed even though
    * five subplans read it: measured at sf0.1 (local[32], 8 GiB heap),
    * recomputing the explode from parquet costs ~9 s total, while
    * localCheckpoint-ing the ~50M-row relation ballooned the query to 125 s
    * (heap-resident blocks + GC) and poisoned later queries in the session.
    * Recompute beats caching for wide exploded relations; revisit only with
    * off-heap/disk-only storage.
    */
  def ngramJaccard(docs: DataFrame, n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // Shuffle plan (round 1 paid THREE wide shuffles of the exploded gram
    // relation; round 2 ONE; this pays NONE): the per-doc sorted gram array
    // is computed by the native sorted_char_ngrams expression per ROW — the
    // explode → groupBy → sort_array round trip that existed only to
    // assemble that array disappears, and with it its wide shuffle. Docs are
    // hash-repartitioned on the group keys first (narrow rows — the raw
    // corpus, not the 3×-larger gram stream), and FreshCheckpoint preserves
    // that partitioning, so the prefix's re-group below still introduces NO
    // new Exchange. The doc-frequency table is a bounded vocabulary
    // (|charset|^n; 377 observed 3-grams) and broadcast-joins onto the
    // explode. NOTE measured: columnar .persist()/localCheckpoint of the
    // wide EXPLODED relation bought nothing at sf0.1 and risked
    // session-wide cache pressure (9 s → 125 s once) — derive, don't cache.
    // ONE row per doc (sorted gram array): six subplans read it (df, prefix,
    // both candidate sides, both verify attaches), so materialize it once.
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val gramArrays = FreshCheckpoint(
      docs.select(col("doc_id"), col("lang"), col("source"), col("text"))
        .repartition(p, col("doc_id"), col("lang"), col("source"))
        .select(col("doc_id"), col("lang"), col("source"),
          graft.expr.VectorOps.sortedCharNgrams(col("text"), n).as("arr")))
    val exploded = gramArrays.select(col("doc_id"), col("lang"), col("source"),
      explode(col("arr")).as("tok"))
    // global doc-frequency per gram → deterministic rarity order (df, tok)
    val df = exploded.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // prefix selection as a group-local top-k: collect each doc's (df, tok)
    // pairs and slice the sorted array — no global window sort, and no
    // Exchange (partitioning carried over from the gramArrays groupBy)
    val prefix = exploded.join(broadcast(df), Seq("tok"))
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(collect_list(struct(col("df"), col("tok"))).as("toks"))
      .select(col("doc_id"), col("lang"), col("source"),
        size(col("toks")).cast("long").as("sz"),
        explode(expr(s"slice(array_sort(toks), 1, " +
          s"int(floor((1.0d - $threshold) * size(toks)) + 1))")).as("t"))
      .select(col("doc_id"), col("lang"), col("source"), col("sz"), col("t.tok"))
    // size-band filter is LOSSLESS at the threshold: I ≤ min(A,B) and
    // A+B−I ≥ max(A,B), so J ≥ t forces min ≥ t·max — evaluated inside the
    // candidate join, it prunes pairs before they ever reach the intersect
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.lang") === col("y.lang") && col("x.source") === col("y.source") &&
          col("x.tok") === col("y.tok") && col("x.doc_id") < col("y.doc_id") &&
          least(col("x.sz"), col("y.sz")).cast("double") >=
            lit(threshold) * greatest(col("x.sz"), col("y.sz")).cast("double"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // Verification: per-pair merge-intersect over sorted gram arrays (native
    // codegen expression) instead of the relational candidates ⋈ grams ⋈
    // grams + groupBy, which enumerates Σ_pairs |set| intermediate rows.
    // Arrays attach to the NARROW candidate pairs via hash joins fused with
    // the projection (same pattern as Similarity.bucketedNearDups); the
    // candidate shuffle stays narrow whichever strategy the planner picks.
    val ga = gramArrays.select(col("doc_id").as("a"), col("arr").as("arrA"))
    val gb = gramArrays.select(col("doc_id").as("b"), col("arr").as("arrB"))
    cand.join(ga, Seq("a")).join(gb, Seq("b"))
      .select(col("a"), col("b"),
        graft.expr.VectorOps.sortedArrayIntersect(col("arrA"), col("arrB")).as("inter"),
        size(col("arrA")).cast("long").as("szA"),
        size(col("arrB")).cast("long").as("szB"))
      .withColumn("jaccard",
        // floor micro-units, not round: jaccard is an exact small rational
        // (see Queries' parity conventions — round() ties split across
        // engines when the union size is 2^a*5^b)
        floor(col("inter").cast("double")
          / (col("szA") + col("szB") - col("inter")).cast("double")
          * 1000000d) / 1000000d)
      .select(col("a"), col("b"), col("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact repeated-span detection — the suffix-array "exact substring
    * deduplication" pretraining pass (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") re-expressed relationally:
    * every length-`spanLen` character window at `stride` is hashed to the
    * repo's portable 60-bit md5 key; a span whose hash occurs in ≥ 2
    * DISTINCT documents is a duplicated region (intra-doc repeats alone
    * don't count). Returns per-doc
    * (doc_id, total_spans, dup_spans, dup_frac) for docs with ≥ 1 span;
    * dup_spans counts positions, so two duplicated positions in one doc
    * count twice.
    *
    * Scale path: the span relation is ~|corpus|/stride rows of
    * (doc_id, int64) — the span TEXT never shuffles, only its 8-byte hash;
    * duplicated hashes come from one groupBy on the hash (partial-agg
    * combine) and rejoin by hash semi-join. No pairwise comparison, no
    * driver state, no suffix array: the hash-bucket equi-join IS the
    * candidate structure, same design rule as the MinHash/SimHash family.
    * The per-row transform keeps the window enumeration inside codegen
    * (one array of longs per doc, no exploded span strings).
    */
  def repeatedSpans(docs: DataFrame, spanLen: Int = 64, stride: Int = 16): DataFrame = {
    val spans = fanOut(docs).filter(length(col("text")) >= spanLen)
      .select(col("doc_id"),
        // r13: one native digest-reusing pass ([[graft.expr.HashedWindows]]
        // — same md5-prefix arithmetic) instead of an interpreted
        // per-window md5+hex+conv expression tree
        explode(graft.expr.VectorOps.hashedWindows(col("text"), spanLen,
          stride)).as("h"))
    // six readers below (dup groupBy, both semi-join sides, totals) — the
    // narrow (doc_id, h) relation is cheap to keep; recomputing it re-runs
    // the md5 window pass over the corpus per reader
    val sp = FreshCheckpoint(spans)
    val dupH = sp.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val dups = sp.join(dupH, Seq("h"), "leftsemi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_spans"))
    sp.groupBy(col("doc_id")).agg(count(lit(1)).as("total_spans"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))
      .withColumn("dup_frac",
        // floor micro-units: exact small rational (see Queries' parity notes)
        floor(col("dup_spans").cast("double") / col("total_spans").cast("double")
          * 1000000d) / 1000000d)
  }

  /** Maximal duplicated EXTENTS (round-11 #8) — [[repeatedSpans]] merged
    * into the Lee-et-al-shaped "longest duplicated substring" report: a
    * long block copied between documents hits every strided window it
    * covers, and reporting those as separate spans both undercounts the
    * block's true char extent and overstates the number of distinct
    * duplications. Adjacent strided duplicate positions (gap exactly
    * `stride`) merge per doc via gaps-and-islands (the q99 machinery:
    * island key = pos − stride·row_number), giving one row per maximal
    * contiguous duplicated region — the precise char ranges an exact-
    * substring dedup pass would cut, with tight removal accounting
    * (`extent_chars` is the cut size; Σ extent_chars per doc is the
    * removable mass, overlap-free because islands are disjoint).
    *
    * Scale path: identical narrow (doc_id, pos, h) span relation as
    * [[repeatedSpans]] (span text never shuffles, only the 8-byte hash +
    * offset); the merge window partitions per doc and is bounded by
    * text-length/stride rows.
    *
    * @return (doc_id, start_pos, end_pos, n_spans, extent_chars) — char
    *         positions 1-based inclusive, one row per maximal extent
    */
  def duplicatedExtents(docs: DataFrame, spanLen: Int = 64,
      stride: Int = 16): DataFrame = {
    val spans = fanOut(docs).filter(length(col("text")) >= spanLen)
      .select(col("doc_id"),
        posexplode(graft.expr.VectorOps.hashedWindows(col("text"), spanLen,
          stride)))
      .select(col("doc_id"), (col("pos").cast("long") * stride + 1).as("pos"),
        col("col").as("h"))
    val sp = FreshCheckpoint(spans)
    val dupH = sp.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val dup = sp.join(dupH, Seq("h"), "leftsemi")
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup.withColumn("grp", col("pos") - row_number().over(w) * stride)
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start_pos"), max(col("pos")).as("mx"),
        count(lit(1)).as("n_spans"))
      .select(col("doc_id"), col("start_pos"),
        (col("mx") + (spanLen - 1)).as("end_pos"), col("n_spans"),
        (col("mx") + spanLen - col("start_pos")).as("extent_chars"))
  }

  /** Repetition loss-mask rollup — dedup at the LOSS level: instead of
    * dropping a document whose middle carries a boilerplate block, mask
    * the duplicated extents out of the training loss (the
    * repeated-substring masking several pretraining pipelines apply
    * after [[duplicatedExtents]]-style detection). Per document: extent
    * count, the UNION char mass of its extents (extents from distinct
    * islands can overlap once spans are window-wide, so the mass is an
    * interval-union length, not Σ extent_chars), and the masked
    * fraction. Query-anchored (the q282 discipline): every doc gets a
    * row, zeros when clean.
    *
    * Scale shape: [[duplicatedExtents]]'s narrow (doc, pos) machinery,
    * then per-doc windows over EXTENT rows (a doc's extents, not its
    * chars) for the interval union, and one left join back to the
    * doc-length projection.
    *
    * @return (doc_id, n_chars, n_extents, masked_chars, mask_u)
    */
  def repetitionMask(docs: DataFrame, window: Int = 64,
      stride: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ext = duplicatedExtents(docs, window, stride)
    // interval union per doc: island increments when this extent starts
    // past every previous extent's end (running max over preceding rows)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("start_pos"))
    val prevMax = max(col("end_pos"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = ext
      .withColumn("new_island",
        when(prevMax.isNull || col("start_pos") > prevMax + 1, 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("new_island")).over(w.rowsBetween(
          Window.unboundedPreceding, 0)))
    val perDoc = islands.groupBy(col("doc_id"), col("island"))
      .agg((max(col("end_pos")) - min(col("start_pos")) + 1)
        .as("island_chars"), count(lit(1)).as("n_ext"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_ext")).as("n_extents"),
        sum(col("island_chars")).as("masked_chars"))
    docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_extents"), lit(0L)).as("n_extents"),
        coalesce(col("masked_chars"), lit(0L)).as("masked_chars"),
        when(col("n_chars") > 0,
          expr("coalesce(masked_chars, 0) * 1000000 div n_chars"))
          .otherwise(lit(0L)).as("mask_u"))
  }

  /** SimHash (64-bit) from md5 of tokens: per-bit majority vote over token
    * hashes. Near-dups = pairs within `maxHamming` bits, bucketed by 16-bit
    * chunks for candidate generation (a pair within distance d ≤ 3 shares at
    * least one of 4 chunks). Returns (a, b, hamming).
    */
  def simhash(docs: DataFrame): DataFrame = {
    // 60-bit token hash = first 15 hex chars of md5: portable — the DuckDB
    // oracle reconstructs the identical value digit-by-digit, so the whole
    // simhash pipeline is hash-checkable cross-engine. The signature is ONE
    // native per-row pass over the distinct-token array
    // ([[graft.expr.SimHash60]] over sorted_word_shingles(text, 1) ≡ the
    // old tokens() explode → 60 conditional-sum aggregation, which shuffled
    // the token stream and ran 60 agg columns); empty-token docs drop like
    // the aggregation form's empty groups did.
    fanOut(docs).select(col("doc_id"),
        graft.expr.VectorOps.simhash60(
          graft.expr.VectorOps.sortedWordShingles(col("text"), 1)).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  def simhashNearDups(docs: DataFrame, maxHamming: Int = 6): DataFrame = {
    // same rationale as minhashLsh: one signature row per doc, referenced 8×
    // across the 4 chunk-union branches and both candidate-join sides —
    // materialize once instead of re-running the token explode + 60-bit
    // vote aggregation per reference
    val sigs = FreshCheckpoint(simhash(docs))
    val chunks = (0 until 4).map { c =>
      sigs.select(col("doc_id"), lit(c).as("chunk"),
        shiftright(col("simhash"), c * 15).bitwiseAND(0x7fff).as("key"),
        col("simhash"))
    }.reduce(_ unionByName _)
    // the hamming cut sits INSIDE the join condition: it runs during the
    // hash-join probe, so only true near-dups (not every bucket collision)
    // reach the distinct's shuffle — commutes with distinct over a
    // deterministic projection, so output is unchanged
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id") &&
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= maxHamming)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
  }

  /** Pass-Join candidate enumeration for an edit-distance self-join
    * (Li/Deng/Feng, "Pass-Join: a partition-based method for similarity
    * joins" — public). Every string is split into k = d+1 even segments
    * ([[graft.expr.PassSegKeys]]); by pigeonhole, d edit operations touch
    * at most d segments, so for any true pair at least one segment of the
    * SMALLER-id side appears verbatim in the other string, shifted by at
    * most d. The other side row-locally enumerates every substring any
    * in-band partner could have indexed ([[graft.expr.PassProbeKeys]]:
    * per candidate source length la ∈ [len−d, len+d] and segment index,
    * the ≤ 2d+1 aligned starts — ≤ 18 keys at d=1, ≤ 75 at d=2).
    * Candidates are then ONE equi-join on (block…, key) with the lossless
    * length band |len(a)−len(b)| ≤ d riding in the condition.
    *
    * r14: this replaces the Ed-Join q-gram rarity-prefix scheme. The gram
    * prefix needs a corpus-wide gram-frequency aggregate plus a per-string
    * rank window BEFORE the self-join (two extra corpus shuffles), and its
    * buckets collapse on correlated text: on the template-generated part
    * names the single-witness rare-3-gram buckets enumerated 290.8M
    * candidates at sf1 for ~10× the true pairs (extending the prefix with
    * a count filter made the JOIN INPUT larger and measured strictly
    * worse). A Pass-Join key is an exact aligned ~len/k-char substring
    * bound to its segment index and source length — segment buckets on the
    * same corpus are orders of magnitude sparser (measured: 290.8M → 0.8M
    * candidate rows at sf1, q191 78.6 → 11.2 s same-box), and the whole
    * frequency pass + rank window disappear from the plan.
    *
    * Short strings: below k chars a string cannot host k non-empty
    * segments and is indexed under the sentinel key "S"; probe sides
    * shorter than k+d chars emit "S" too, so any true pair with a
    * sentineled index side (its partner is within the length band, hence
    * also short) still collides. The segment witness never depends on
    * gram diversity, so there is NO corpus-scale knob to re-tune as data
    * grows (the old scheme's q had to grow with corpus size).
    *
    * Scale shape: key generation is per-row (no corpus-wide frequency
    * pass, no window); the only shuffles are the (block…, key) candidate
    * join and the pair distinct. Candidate volume is Σ_key
    * idx(key)·probe(key) over exact-substring buckets — near the true
    * pair count on diverse or templated text alike.
    *
    * @return distinct candidate pairs (pa, pb, sa, sb) with pa < pb —
    *         a superset of the true ≤ d pairs; verify with [[editDistancePairs]].
    */
  def editDistanceCandidates(df: DataFrame, id: String, str: String,
      block: Seq[String], maxDist: Int = 2): DataFrame = {
    val base = fanOut(df).select(
      Seq(col(id).as("pk"), col(str).as("s"), length(col(str)).as("len"),
        graft.expr.VectorOps.charHist64(col(str)).as("hist")) ++
        block.map(col): _*)
    val blockEq = block.map(c => col(s"x.$c") === col(s"y.$c"))
      .foldLeft(lit(true))(_ && _)
    // the histogram count filter ([[graft.expr.CharHist64]]): ed ≤ d
    // implies bucketed-char-histogram L1 ≤ 2d — evaluated per JOIN ROW,
    // before the pair distinct and the levenshtein verify ever see the
    // pair (measured at sf1: 77.5M → far fewer distinct candidates on the
    // templated scaled names, where segment collisions are pairs that
    // differ in many characters)
    val joinCond = col("x.key") === col("y.key") && blockEq &&
      col("x.pk") < col("y.pk") &&
      abs(col("x.len") - col("y.len")) <= maxDist &&
      graft.expr.VectorOps.histL1(col("x.hist"), col("y.hist")) <=
        2 * maxDist
    // NARROW candidates at EVERY scale (guide §8: decide with small rows,
    // move big rows once): the candidate join and the pair distinct move
    // only (pk, key, len, hist, block). With the shift-window and
    // histogram filters the surviving pair relation is near the true pair
    // count, so re-attaching the strings costs two pair-sized equi-joins —
    // strictly cheaper than the r13 wide shape, which carried the string
    // on EVERY exploded join-input row (measured at sf1: 83.3M join rows
    // vs a 16.6M-row post-filter pair relation; wide q191 14.5 s → narrow
    // 11.1 s same-box).
    val narrowCols = Seq(col("pk"), col("len"), col("hist")) ++
      block.map(col)
    val segs = base.select(narrowCols :+
      explode(graft.expr.VectorOps.passSegKeys(col("s"), maxDist))
        .as("key"): _*)
    val probes = base.select(narrowCols :+
      explode(graft.expr.VectorOps.passProbeKeys(col("s"), maxDist))
        .as("key"): _*)
    val cand = segs.as("x").join(probes.as("y"), joinCond)
      .select(col("x.pk").as("pa"), col("y.pk").as("pb"))
      .distinct()
    cand
      .join(base.select(col("pk").as("pa"), col("s").as("sa")), Seq("pa"))
      .join(base.select(col("pk").as("pb"), col("s").as("sb")), Seq("pb"))
      .select(col("pa"), col("pb"), col("sa"), col("sb"))
  }

  /** Edit-distance self-join: all pairs within `block` at levenshtein
    * distance ≤ maxDist, enumerated via [[editDistanceCandidates]]
    * (Pass-Join segment filter — no block cross product) and verified with
    * the threshold DP (levenshtein's 3-arg form early-abandons at
    * > maxDist: O(d·len) per candidate, not O(len²)).
    * Returns (pa, pb, dist), pa < pb. */
  def editDistancePairs(df: DataFrame, id: String, str: String,
      block: Seq[String], maxDist: Int = 2): DataFrame =
    editDistanceCandidates(df, id, str, block, maxDist)
      .select(col("pa"), col("pb"),
        levenshtein(col("sa"), col("sb"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0)

  /** ASYMMETRIC n-gram containment: ordered pairs (inner, outer) with
    * C = |G(inner) ∩ G(outer)| / |G(inner)| ≥ `threshold` over distinct
    * char n-gram sets — the quote/subset detector Jaccard structurally
    * misses (a doc embedded verbatim in a 10× larger one has J ≈ 0.1 but
    * C = 1.0). No (lang, source) blocking: quotations cross sources.
    *
    * Prefix filter, containment form: the overlap bound is t·|A| against
    * the INNER side only, so a qualifying pair must share a gram within
    * inner's ⌊(1−t)·|A|⌋+1 globally-rarest grams — but the outer side must
    * index ALL its grams (any of them may be the witness). Candidate
    * buckets therefore pair inner-PREFIX grams (rare by construction — the
    * prefix sorts by ascending global df) against the full outer posting
    * list, and the size band |B| ≥ t·|A| (|A∩B| ≤ |B|) prunes inside the
    * join. Verification is the same per-pair sorted-array merge-intersect
    * as [[ngramJaccard]] — candidate-bounded, texts never shuffle.
    *
    * @return (inner_id, outer_id, containment_u) — containment floored to
    *         micro-units (exact small rational; integer compare is
    *         tie-free across engines)
    */
  def containment(docs: DataFrame, n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val p = docs.sparkSession.sparkContext.defaultParallelism
    // grams are HASHED to the repo-standard 60-bit md5 key per row, before
    // anything joins or sorts: a long-gram stream carries ~(n+8)-byte string
    // keys through every exchange (measured 437 s at sf1 — the sort-merge
    // sorts dominate), while the hashed stream is (doc_id, int64) — the
    // same narrow-key discipline as repeatedSpans/minhash. The oracle
    // replays the identical hash (duckH60), so containment counts over
    // hashed gram SETS are bit-identical across engines.
    // r13 optimization: gram hashing fused into one native per-row pass
    // ([[graft.expr.HashedCharNgrams]] — same md5-prefix arithmetic,
    // reused digest, TreeSet ≡ array_sort ∘ array_distinct) instead of an
    // interpreted transform instantiating md5+hex+conv per gram
    val hashedGrams = graft.expr.VectorOps.hashedCharNgrams(col("text"), n)
    val gramArrays = FreshCheckpoint(
      docs.select(col("doc_id"), col("text"))
        .repartition(p, col("doc_id"))
        .select(col("doc_id"), hashedGrams.as("arr"))
        .filter(size(col("arr")) > 0))
    val exploded = gramArrays.select(col("doc_id"), explode(col("arr")).as("tok"))
    val dfTab = exploded.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // EXTENDED prefix + lossless count filter: the single-witness prefix
    // bound (rarest ⌊(1−t)·sz⌋+1 grams must share ≥ 1) collapses on a
    // corpus with correlated rare grams — the sf1 scaled corpus enumerates
    // 8.9M candidate pairs for 5.1k true results. Extending the prefix by
    // cExt grams guarantees a qualifying pair shares ≥ cExt of them
    // (|A\B| ≤ ⌊(1−t)|A|⌋ while the prefix has ⌊(1−t)|A|⌋+cExt grams), so
    // `HAVING count ≥ cExt` is STILL LOSSLESS and cuts candidates 113×
    // (8.9M → 79k measured). Short docs whose whole gram set fits in the
    // prefix get the correspondingly weaker exact bound (cReq below).
    val cExt = 8
    val prefix = exploded.join(dfTab, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("df"), col("tok"))).as("toks"))
      .select(col("doc_id").as("ia"), size(col("toks")).cast("long").as("szA"),
        explode(expr(s"slice(array_sort(toks), 1, " +
          s"int(floor((1.0d - $threshold) * size(toks)) + $cExt))")).as("t"))
      .select(col("ia"), col("szA"), col("t.tok"))
    val postings = exploded.select(col("doc_id").as("ib"), col("tok"))
      .join(gramArrays.select(col("doc_id").as("ib"),
        size(col("arr")).cast("long").as("szB")), Seq("ib"))
    val slack = floor(lit(1.0d - threshold) * col("szA").cast("double"))
    val cReq = greatest(lit(1L),
      least(col("szA"), slack + cExt) - slack)
    val cand = prefix.join(postings,
        prefix("tok") === postings("tok") && col("ia") =!= col("ib") &&
          col("szB").cast("double") >= lit(threshold) * col("szA").cast("double"))
      .groupBy(col("ia"), col("ib"), col("szA"))
      .agg(count(lit(1)).as("nshared"))
      .filter(col("nshared") >= cReq)
      .select(col("ia"), col("ib"))
    cand
      .join(gramArrays.select(col("doc_id").as("ia"), col("arr").as("arrA")), Seq("ia"))
      .join(gramArrays.select(col("doc_id").as("ib"), col("arr").as("arrB")), Seq("ib"))
      .select(col("ia").as("inner_id"), col("ib").as("outer_id"),
        floor(graft.expr.VectorOps.sortedLongIntersect(col("arrA"), col("arrB"))
            .cast("double") / size(col("arrA")).cast("double") * 1000000d)
          .cast("long").as("containment_u"))
      .filter(col("containment_u") >= (threshold * 1000000).toLong)
  }

  /** One-band duplicate-rate preview — the "should this corpus pay for a
    * full dedup run" probe a 100 TB pipeline runs FIRST: bucket sizes from
    * a single LSH band (1/numBands of [[minhashLsh]]'s banding cost, no
    * candidate join, no verify) give an upper-band estimate of collision
    * mass: candidate pairs Σ sz·(sz−1)/2 and the share of docs sharing
    * their band key with at least one other. A near-zero multi-bucket mass
    * says skip the run; a heavy one sizes the verify bill before it is
    * paid. Keys come from [[bandedKeys]] itself, so the preview prices
    * exactly the banding the real run would use.
    *
    * Scale shape: per-row signatures → ONE bucket groupBy on the chosen
    * band's key → a 1-row rollup. Nothing joins.
    *
    * @return 1 row: (n_docs, n_buckets, n_multi_buckets, est_pairs,
    *         multi_mass_u)
    */
  def dupRateEstimate(docs: DataFrame, numHashes: Int = 8,
      rowsPerBand: Int = 2, band: Int = 0): DataFrame = {
    val sigs = minhashSignatures(docs, numHashes)
    val buckets = bandedKeys(sigs, numHashes / rowsPerBand, rowsPerBand)
      .filter(col("band") === band)
      .groupBy(col("key")).agg(count(lit(1)).as("sz"))
    buckets.agg(
      sum(col("sz")).as("n_docs"),
      count(lit(1)).as("n_buckets"),
      sum(when(col("sz") > 1, lit(1L)).otherwise(lit(0L)))
        .as("n_multi_buckets"),
      sum(expr("sz * (sz - 1) div 2")).as("est_pairs"),
      sum(when(col("sz") > 1, col("sz")).otherwise(lit(0L))).as("mm"))
      .select(col("n_docs"), col("n_buckets"), col("n_multi_buckets"),
        col("est_pairs"), expr("mm * 1000000 div n_docs").as("multi_mass_u"))
  }

  /** Normalized exact dedup — exact-duplicate detection AFTER text
    * normalization (lowercase, strip everything but [a-z0-9 ], collapse
    * whitespace runs, trim): the C4-style canonicalization that catches
    * the case/punctuation/spacing variants plain exact dedup (q34) misses
    * while being far cheaper than MinHash for the exact-after-normalize
    * class. Groups are keyed by md5 of the normalized text — one map pass
    * + one hash-keyed aggregate, the cheapest dedup plan that exists.
    *
    * The normalization is deliberately ASCII-conservative (a documented
    * regex, identical in Java and RE2 semantics) so the group key is
    * engine-exact and replayable.
    *
    * @return one row per normalized-duplicate group (≥ 2 members):
    *         (norm_hash, n_docs, keep_id = min doc_id, n_exact_distinct =
    *         distinct RAW texts in the group — > 1 exactly when
    *         normalization did work plain exact dedup could not)
    */
  def normalizedDedup(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
      " +", " "))
    docs.select(col("doc_id"), md5(norm).as("norm_hash"),
        md5(col("text")).as("raw_hash"))
      .groupBy(col("norm_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"),
        countDistinct(col("raw_hash")).as("n_exact_distinct"))
      .filter(col("n_docs") >= 2)
  }

  /** Duplication × quality interaction audit — is dedup mostly deleting
    * junk? Per stopword-ratio quality bin ([[TrainingData.budgetSelect]]'s
    * binning convention): document count, documents that are an endpoint
    * of a VERIFIED near-dup pair, and the µ-share. A dup mass concentrated
    * in the low-quality bins says the cascade and the dedup pass overlap
    * (cheap filtering first shrinks the LSH bill); dup mass in the HIGH
    * bins says duplication is eating good data and dedup thresholds
    * deserve the q196 sweep.
    *
    * Scale shape: the corpus-sized work is [[minhashLsh]]'s banded pass
    * (never all-pairs); endpoints distinct to a doc-keyed relation; the
    * bin map is one scan column; one ≤ `bins`-row rollup.
    *
    * @return one row per occupied bin: (bin, n_docs, n_dup_docs,
    *         dup_share_u)
    */
  def dupByQuality(docs: DataFrame, bins: Int = 10, numHashes: Int = 8,
      rowsPerBand: Int = 2, threshold: Double = 0.8): DataFrame = {
    val dup = minhashLsh(docs, numHashes, rowsPerBand, threshold)
      .select(explode(array(col("a"), col("b"))).as("doc_id"))
      .distinct()
      .withColumn("is_dup", lit(1L))
    val sr = TextAnalysis.qualityColumns(col("text"))
      .toMap.apply("stopword_ratio")
    docs.select(col("doc_id"),
        least(lit((bins - 1).toLong), floor(sr * bins).cast("long"))
          .as("bin"))
      .join(dup, Seq("doc_id"), "left")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
      .select(col("bin"), col("n_docs"), col("n_dup_docs"),
        expr("n_dup_docs * 1000000 div n_docs").as("dup_share_u"))
  }

  /** Fuzzy train-set decontamination — the near-duplicate reading of
    * [[TextAnalysis.decontaminate]] (which drops only EXACT n-gram
    * overlaps): any training document that MinHash-verifies as a near-dup
    * of a benchmark document is surfaced for removal, because paraphrased
    * or lightly-edited eval leakage survives exact-overlap screens but not
    * a Jaccard one (the standard "fuzzy decontamination" pass of LLM
    * training-data hygiene). `isBench` marks the held-out/benchmark side;
    * pairs entirely inside one side are discarded (bench↔bench dups are a
    * bench-curation problem, train↔train dups are [[minhashLsh]] dedup's
    * job — this op is ONLY the cross-boundary screen).
    *
    * Scale shape: all corpus-sized work is [[minhashLsh]]'s banded bucket
    * machinery (never all-pairs); the boundary check is two narrow
    * (doc_id, bool) equi-joins onto the candidate-bounded pair relation,
    * and the keep/drop rollup is keyed by the dropped doc. At 100 TB the
    * bench side is naturally tiny but nothing here assumes it: both
    * membership joins shuffle only pair-relation rows.
    *
    * @param isBench boolean column over `docs` marking benchmark members
    * @return one row per contaminated TRAIN doc:
    *         (drop_id, n_bench_hits, max_j_u, bench_id_min)
    */
  def fuzzyDecontaminate(docs: DataFrame, isBench: Column,
      numHashes: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.8): DataFrame = {
    val flags = docs.select(col("doc_id"), isBench.as("is_bench"))
    minhashLsh(docs, numHashes, rowsPerBand, threshold)
      .withColumn("j_u", round(col("jaccard") * 1000000d).cast("long"))
      .join(flags.select(col("doc_id").as("a"), col("is_bench").as("ba")), Seq("a"))
      .join(flags.select(col("doc_id").as("b"), col("is_bench").as("bb")), Seq("b"))
      .filter(col("ba") =!= col("bb"))
      .select(when(col("ba"), col("b")).otherwise(col("a")).as("drop_id"),
        when(col("ba"), col("a")).otherwise(col("b")).as("bench_id"),
        col("j_u"))
      .groupBy(col("drop_id"))
      .agg(count(lit(1)).as("n_bench_hits"), max(col("j_u")).as("max_j_u"),
        min(col("bench_id")).as("bench_id_min"))
  }
}
