package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine weak-supervision quality classifier — the CCNet-style loop
  * (fit a cheap classifier on weak labels, then score the corpus with it)
  * expressed relationally: Bernoulli Naive Bayes over binarized
  * [[TextAnalysis.qualityColumns]] features with add-one smoothing. The
  * model artifact is a 2·|features|-row RELATION, so fit → broadcast →
  * score round-trips without anything leaving the engine — the property
  * that makes the loop viable at 100 TB (a driver-side model object would
  * force a collect and a re-broadcast every refit).
  */
object Classifier {

  /** Binarized quality features. Deliberately DISJOINT from
    * [[TextAnalysis.filterCascade]]'s rule thresholds: the cascade is the
    * weak labeler, so features replicating its rules would only learn the
    * label back. */
  private val features: Seq[(String, Column)] = Seq(
    "punct_heavy" -> (col("punct_ratio") > 0.03),
    "longish" -> (col("n_tokens") > 60),
    "long_words" -> (col("mean_word_len") > 4.5))

  /** (doc_id, label, feature, fire) — one row per (doc, feature); label is
    * the cascade verdict, the feature unpivot is a per-row explode. */
  private def docFeatures(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityScore(docs)
    val lab = TextAnalysis.filterCascade(docs).select(col("doc_id"),
      when(col("keep"), 1L).otherwise(0L).as("label"))
    q.join(lab, Seq("doc_id"))
      .select(col("doc_id"), col("label"),
        explode(array(features.map { case (n, c) =>
          struct(lit(n).as("feature"),
            when(c, 1L).otherwise(0L).as("fire")) }: _*)).as("f"))
      .select(col("doc_id"), col("label"),
        col("f.feature").as("feature"), col("f.fire").as("fire"))
  }

  /** Bernoulli-NB fit: per (feature, label), class size, fire count and the
    * add-one-smoothed fire probability in µ-units. Two per-row scoring
    * passes joined on doc_id → one (feature, label)-keyed agg (map-side
    * combine; ≤ 2·|features| output rows).
    *
    * @return (feature, label, n_label, n_fire, p_fire_u)
    */
  def naiveBayesFit(docs: DataFrame): DataFrame =
    docFeatures(docs).groupBy(col("feature"), col("label"))
      .agg(count(lit(1)).as("n_label"), sum(col("fire")).as("n_fire"))
      .select(col("feature"), col("label"), col("n_label"), col("n_fire"),
        expr("(n_fire + 1) * 1000000 div (n_label + 2)").as("p_fire_u"))

  /** Bernoulli-NB scoring + agreement audit: every document scored by the
    * model [[naiveBayesFit]] fits on the same corpus, the weak label kept
    * for the `agree` column (the classifier generalizes the cascade
    * through DIFFERENT features — agreement measures how much signal the
    * features carry). Per feature f with class counts (n_l, fire_l):
    * term_u = ⌊ln(a₁/(n₁+2))·10⁶⌋ − ⌊ln(a₀/(n₀+2))·10⁶⌋ where
    * a_l = fire_l+1 when f fires on the doc, else n_l − fire_l + 1; the
    * class-prior log-ratio lands as a 1-row attach. Terms are floor'd to
    * integers BEFORE summation so accumulation order can't drift; positive
    * score ⇒ predict keep. An absent class (cascade rejected nothing)
    * degrades smoothly through the coalesce-to-0 counts — every a_l is
    * then 1 and the score is pure prior.
    *
    * Scale shape: the pivoted model is a |features|-row broadcast; scoring
    * is a per-row projection over the feature explode + a (doc)-keyed
    * rollup; prior is a 1-row scalar attach.
    *
    * @return (doc_id, weak_label, score_u, pred_label, agree)
    */
  def naiveBayesScore(docs: DataFrame): DataFrame = {
    val byFeature = naiveBayesFit(docs).groupBy(col("feature")).agg(
      coalesce(max(when(col("label") === 1, col("n_label"))), lit(0L)).as("n1"),
      coalesce(max(when(col("label") === 1, col("n_fire"))), lit(0L)).as("f1"),
      coalesce(max(when(col("label") === 0, col("n_label"))), lit(0L)).as("n0"),
      coalesce(max(when(col("label") === 0, col("n_fire"))), lit(0L)).as("f0"))
    val a1 = when(col("fire") === 1, col("f1") + 1)
      .otherwise(col("n1") - col("f1") + 1)
    val a0 = when(col("fire") === 1, col("f0") + 1)
      .otherwise(col("n0") - col("f0") + 1)
    val term = (floor((log(a1.cast("double"))
        - log((col("n1") + 2).cast("double"))) * 1000000)
      - floor((log(a0.cast("double"))
        - log((col("n0") + 2).cast("double"))) * 1000000)).cast("long")
    val prior = byFeature
      .agg(max(col("n1")).as("pn1"), max(col("n0")).as("pn0"))
      .select((floor((log(col("pn1").cast("double") + 1d)
          - log((col("pn1") + col("pn0") + 2).cast("double"))) * 1000000)
        - floor((log(col("pn0").cast("double") + 1d)
          - log((col("pn1") + col("pn0") + 2).cast("double"))) * 1000000))
        .cast("long").as("prior_u"))
    docFeatures(docs).join(broadcast(byFeature), Seq("feature"))
      .select(col("doc_id"), col("label"), term.as("term_u"))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("term_u")).as("sum_llr_u"))
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), col("label").as("weak_label"),
        (col("sum_llr_u") + col("prior_u")).as("score_u"))
      .withColumn("pred_label", when(col("score_u") > 0, 1L).otherwise(0L))
      .withColumn("agree", col("pred_label") === col("weak_label"))
  }

  /** Label-noise audit (the confident-learning reading of
    * [[naiveBayesScore]]'s confusion relation, Northcutt et al. 2021
    * simplified): per (weak_label, pred_label) cell — mass, share of the
    * corpus, mean |score| margin, and the noise flag (off-diagonal cells
    * are the docs the weak labeler and the feature model disagree on; the
    * high-margin slice of those is where label errors concentrate, the
    * first place a relabeling pass should spend budget).
    *
    * Scale shape: [[naiveBayesScore]]'s per-row scoring → ONE 4-row-bounded
    * (weak, pred) agg → a 1-row total attach. All integer micro-units.
    *
    * @return (weak_label, pred_label, n_docs, share_u, mean_abs_score_u,
    *         noise_suspect)
    */
  def labelNoiseAudit(docs: DataFrame): DataFrame = {
    val cells = naiveBayesScore(docs)
      .groupBy(col("weak_label"), col("pred_label"))
      .agg(count(lit(1)).as("n_docs"),
        sum(abs(col("score_u"))).as("sum_abs"))
    val tot = cells.agg(sum(col("n_docs")).as("n"))
    cells.crossJoin(broadcast(tot))
      .select(col("weak_label"), col("pred_label"), col("n_docs"),
        expr("n_docs * 1000000 div n").as("share_u"),
        expr("sum_abs div n_docs").as("mean_abs_score_u"),
        (col("weak_label") =!= col("pred_label")).as("noise_suspect"))
  }

  /** Cohen's kappa between the weak labeler and the feature model — the
    * chance-corrected agreement scalar the raw `agree` rate of
    * [[naiveBayesScore]] overstates (a labeler that says "keep" 95% of the
    * time agrees 90%+ with ANY keep-heavy model by chance alone). Computed
    * from the confusion cells: p_o = diagonal mass, p_e = Σ_c (row
    * marginal · column marginal) / n², κ = (p_o − p_e)/(1 − p_e).
    *
    * Integer contract (engine-exact, scale-safe): marginals convert to
    * µ-shares BEFORE multiplying — p_e_u = Σ_c ⌊⌊rm·10⁶/n⌋·⌊cm·10⁶/n⌋/10⁶⌋
    * — so nothing ever forms n² (which overflows BIGINT near 3·10⁹ rows);
    * products stay ≤ 10¹² · |classes|. κ is emitted shifted as
    * `kappa_p1_u` = ⌊(κ+1)·10⁶⌋ because κ ∈ [−1, 1] and the two engines
    * disagree on negative integer division (Spark `div` truncates toward
    * zero, DuckDB `//` floors) — the +1 shift keeps every quotient
    * non-negative where they agree.
    *
    * Scale shape: [[naiveBayesScore]]'s per-row scoring → a ≤ 4-row
    * confusion agg → class-marginal full-join (≤ 2 rows) → 1-row rollup.
    *
    * @return 1 row: (n_docs, n_agree, po_u, pe_u, kappa_p1_u)
    */
  def cohensKappa(docs: DataFrame): DataFrame = {
    // materialize the ≤4-row confusion ONCE: rm/cm/tot each re-embed the
    // full corpus-scoring subtree otherwise (measured 7.5 s → the chain
    // runs once like q236's ~2 s)
    val cells = org.apache.spark.sql.graft.FreshCheckpoint(
      naiveBayesScore(docs)
        .groupBy(col("weak_label"), col("pred_label"))
        .agg(count(lit(1)).as("n")))
    val rm = cells.groupBy(col("weak_label").as("cls"))
      .agg(sum(col("n")).as("rm"))
    val cm = cells.groupBy(col("pred_label").as("cls"))
      .agg(sum(col("n")).as("cm"))
    val tot = cells.agg(sum(col("n")).as("n_docs"),
      sum(when(col("weak_label") === col("pred_label"), col("n"))
        .otherwise(lit(0L))).as("n_agree"))
    val pe = rm.join(cm, Seq("cls"), "full_outer")
      .crossJoin(broadcast(tot))
      .select(expr("coalesce(rm, 0) * 1000000 div n_docs").as("rm_u"),
        expr("coalesce(cm, 0) * 1000000 div n_docs").as("cm_u"))
      .agg(sum(expr("rm_u * cm_u div 1000000")).as("pe_u"))
    tot.crossJoin(broadcast(pe))
      .select(col("n_docs"), col("n_agree"),
        expr("n_agree * 1000000 div n_docs").as("po_u"), col("pe_u"),
        // greatest(…, 1) guards the degenerate single-class corpus
        // (p_e = 1 ⇒ κ is 0/0; Spark's div-by-zero NULLs while DuckDB
        // errors — the guard keeps both engines on the same finite value)
        // greatest(…, 0) on the numerator: κ ≥ −1 guarantees the TRUE
        // shifted numerator is non-negative, so the clamp only removes a
        // truncation artifact — in the exact κ = −1 corner the shifted
        // numerator can floor-truncate to −1 µ, where Spark `div`
        // (truncate toward zero) and DuckDB `//` (floor) diverge by 1
        expr("""greatest(n_agree * 1000000 div n_docs - pe_u + 1000000 - pe_u, 0)
                * 1000000 div greatest(1000000 - pe_u, 1)""").as("kappa_p1_u"))
  }

  /** Krippendorff's alpha (nominal scale) across THREE labelers with
    * missingness — the multi-rater generalization [[cohensKappa]] can't
    * express (κ is defined for exactly two raters and no missing cells;
    * α handles any rater count and partial ratings, which is the actual
    * shape of a labeling pipeline where annotators abstain). Raters here
    * are the engine's three independent language opinions: the `lang`
    * metadata column, the [[TextAnalysis.langId]] content heuristic —
    * ABSTAINING when no profile word matches (lang_score = 0: zero
    * evidence is a missing rating, not a rating) — and the source-majority
    * prior (every doc rated with its source's modal lang, ties to the
    * lexicographically smallest).
    *
    * Coincidence-matrix form (Krippendorff 2004 §11.3): each unit u with
    * m_u ≥ 2 ratings contributes n_uc·n_uk/(m_u−1) to the off-diagonal
    * mass; α = 1 − D_o/D_e = 1 − o_off·(n−1) / Σ_{c≠k} n_c·n_k. Exact
    * integer contract: with ≤ 3 raters, 2·(m_u² − Σ_c n_uc²)/(m_u−1) is
    * always an exact integer (`o_off_2x`), so D_o carries NO floating
    * error; the final ratio pre-multiplies in DECIMAL(38,0) (n ~ 10⁹
    * ratings would wrap a BIGINT at the ·10⁶ step). α is emitted shifted
    * (+1, the [[cohensKappa]] convention) since α can be negative and the
    * engines disagree on negative integer division; a single-category
    * corpus (D_e = 0) emits NULL — α is 0/0 there.
    *
    * Scale shape: three narrow (doc_id, cat) projections (one corpus text
    * pass for the heuristic), a (doc, cat)-keyed rollup, then
    * category-sized aggregates; the source-mode table is a
    * |sources|-row broadcast.
    *
    * @return 1 row: (n_units, n_pairable, n_ratings, n_categories,
    *         o_off_2x, de_pairs, dis_u, alpha_p1_u)
    */
  def krippendorffAlpha(docs: DataFrame): DataFrame = {
    val r1 = docs.select(col("doc_id"), col("lang").as("cat"))
    val r2 = TextAnalysis.langId(docs).filter(col("lang_score") > 0)
      .select(col("doc_id"), col("lang_pred").as("cat"))
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n").desc, col("lang"))
    val srcMode = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(wSrc))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("cat"))
    val r3 = docs.select(col("doc_id"), col("source"))
      .join(broadcast(srcMode), Seq("source"))
      .select(col("doc_id"), col("cat"))
    val ratings = r1.unionByName(r2).unionByName(r3)
    val unitCat = org.apache.spark.sql.graft.FreshCheckpoint(
      ratings.groupBy(col("doc_id"), col("cat"))
        .agg(count(lit(1)).as("nuc")))
    val units = unitCat.groupBy(col("doc_id"))
      .agg(sum(col("nuc")).as("mu"),
        sum(col("nuc") * col("nuc")).as("ssq"))
      .filter(col("mu") >= 2)
    val dAgg = units
      .select(expr("2 * (mu * mu - ssq) div (mu - 1)").as("d2"))
      .agg(count(lit(1)).as("n_pairable"), sum(col("d2")).as("o_off_2x"))
    val nc = unitCat.join(units.select(col("doc_id")), Seq("doc_id"))
      .groupBy(col("cat")).agg(sum(col("nuc")).as("nc"))
    val tot = nc.agg(sum(col("nc")).as("n_ratings"),
      count(lit(1)).as("n_categories"),
      sum(col("nc") * col("nc")).as("ssq_c"))
    docs.agg(count(lit(1)).as("n_units"))
      .crossJoin(broadcast(dAgg)).crossJoin(broadcast(tot))
      .select(col("n_units"), col("n_pairable"), col("n_ratings"),
        col("n_categories"), col("o_off_2x"),
        (col("n_ratings") * col("n_ratings") - col("ssq_c")).as("de_pairs"))
      .withColumn("dis_u", when(col("de_pairs") > 0,
        expr("cast(cast(o_off_2x as decimal(38,0)) * (n_ratings - 1) " +
          "* 1000000 div (2 * de_pairs) as bigint)")))
      .withColumn("alpha_p1_u", lit(2000000L) - col("dis_u"))
  }

  /** Krippendorff's alpha on an ORDINAL scale, emitted alongside the
    * nominal value from the SAME coincidence rollup — the mode
    * [[krippendorffAlpha]] can't express: when the categories are ranked
    * (quality bins, year buckets), a 1-vs-2 disagreement should cost less
    * than a 1-vs-4 one, and α's ordinal difference function
    * δ²(c,k) = (Σ_{g=c..k} n_g − (n_c + n_k)/2)² (Krippendorff 2004
    * §11.3, cumulative-marginal form) prices exactly that. Nominal and
    * ordinal α over the same ratings genuinely DIVERGE — the planted spec
    * pins a corpus where adjacent-bin disagreement makes ordinal α
    * markedly higher.
    *
    * Raters here are three independent length-quality opinions on a
    * shared 1..4 bin scale (the ordinal analog of the language panel):
    * token-count bins, char-length bins, and distinct-token bins — the
    * third abstaining on every doc_id ≡ 0 (mod 7) (annotator coverage
    * gaps are the norm; α is built for them).
    *
    * Exact-integer contract, extending the nominal one: per-pair
    * coincidences carry as o2x = Σ_u 2·n_uc·n_uk/(m_u−1) (integer for
    * ≤ 3 raters), the ordinal δ as d2x = 2·(N_k − N_{c−1}) − n_c − n_k
    * (twice the half-integer margin sum), so D_o·8 = Σ o2x·d2x² and
    * D_e·4 = Σ n_c·n_k·d2x² are exact integers — accumulated in
    * DECIMAL(38,0), because n_c·n_k·d2x² is ~n⁴ and leaves BIGINT range
    * before 10⁵ ratings (it did, at the sf1 probe); 38 digits hold it to
    * n ~ 10⁹ ratings with the G ≤ 4 category spine. dis_ord =
    * (n−1)·D_o/D_e = (n−1)·do_8x / (2·de_4x), the division done while
    * still decimal. Both alphas emit shifted +1; D_e = 0 emits NULL.
    *
    * Scale shape: the same narrow rating projections and (doc, cat)
    * rollup as nominal; the only additions are a per-unit category-pair
    * self-join (fan-out ≤ C(3,2) rows per unit) and two
    * |categories|²-row δ-table joins — category-dimension-sized, never
    * corpus-sized.
    *
    * @return 1 row: (n_units, n_pairable, n_ratings, n_categories,
    *         o_off_2x, de_pairs, dis_nom_u, alpha_nom_p1_u, dis_ord_u,
    *         alpha_ord_p1_u)
    */
  def krippendorffOrdinal(docs: DataFrame): DataFrame = {
    val toks = filter(split(lower(col("text")), "\\s+"), x => x =!= "")
    val nt = TextAnalysis.tokenCount(col("text"))
    def bins(c: Column, t1: Long, t2: Long, t3: Long): Column =
      when(c < t1, 1L).when(c < t2, 2L).when(c < t3, 3L).otherwise(4L)
    val r1 = docs.select(col("doc_id"), bins(nt, 35, 56, 79).as("cat"))
    val r2 = docs.select(col("doc_id"),
      bins(length(col("text")).cast("long"), 190, 310, 440).as("cat"))
    val r3 = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        bins(size(array_distinct(toks)).cast("long"), 20, 25, 29).as("cat"))
    val ratings = r1.unionByName(r2).unionByName(r3)
    val unitCat = org.apache.spark.sql.graft.FreshCheckpoint(
      ratings.groupBy(col("doc_id"), col("cat"))
        .agg(count(lit(1)).as("nuc")))
    val units = unitCat.groupBy(col("doc_id"))
      .agg(sum(col("nuc")).as("mu"),
        sum(col("nuc") * col("nuc")).as("ssq"))
      .filter(col("mu") >= 2)
    val dAgg = units
      .select(expr("2 * (mu * mu - ssq) div (mu - 1)").as("d2"))
      .agg(count(lit(1)).as("n_pairable"), sum(col("d2")).as("o_off_2x"))
    val pairUnit = unitCat.join(units.select(col("doc_id")), Seq("doc_id"))
    val nc = pairUnit.groupBy(col("cat")).agg(sum(col("nuc")).as("nc"))
    // cumulative coincidence marginals over the RANKED category axis —
    // a ≤|categories|-row single-partition window, category-bounded
    val ncum = nc.withColumn("ncm", sum(col("nc")).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)).orderBy(col("cat"))))
    // per-pair observed coincidences: category pairs WITHIN each unit
    val a = pairUnit.select(col("doc_id"), col("cat").as("c"),
      col("nuc").as("na"))
    val b = pairUnit.select(col("doc_id"), col("cat").as("k"),
      col("nuc").as("nb"))
    val oPairs = a.join(b, Seq("doc_id")).filter(col("c") < col("k"))
      .join(units.select(col("doc_id"), col("mu")), Seq("doc_id"))
      .groupBy(col("c"), col("k"))
      .agg(sum(expr("2 * na * nb div (mu - 1)")).as("o2x"))
    // the δ table over ALL ranked pairs (marginal products included);
    // bins() caps categories at 4, so the broadcast side has ≤ 4 rows and δ
    // ≤ 16 — a plain cross would plan a CartesianProduct past the
    // broadcast threshold's size estimate
    val x = ncum.select(col("cat").as("c"), col("nc").as("nc_c"),
      col("ncm").as("ncm_c"))
    val y = ncum.select(col("cat").as("k"), col("nc").as("nc_k"),
      col("ncm").as("ncm_k"))
    val delta = x.join(broadcast(y), col("c") < col("k"))
      .select(col("c"), col("k"), (col("nc_c") * col("nc_k")).as("nprod"),
        (lit(2L) * col("ncm_k") - lit(2L) * col("ncm_c") + col("nc_c")
          - col("nc_k")).as("d2x"))
    val deOrd = delta
      .agg(coalesce(sum(expr("cast(nprod as decimal(38,0)) " +
          "* cast(d2x as decimal(38,0)) * cast(d2x as decimal(38,0))")),
        lit(0).cast("decimal(38,0)")).as("de_ord_4x"))
    val doOrd = oPairs.join(delta.select(col("c"), col("k"), col("d2x")),
        Seq("c", "k"))
      .agg(coalesce(sum(expr("cast(o2x as decimal(38,0)) " +
          "* cast(d2x as decimal(38,0)) * cast(d2x as decimal(38,0))")),
        lit(0).cast("decimal(38,0)")).as("do_ord_8x"))
    val tot = nc.agg(sum(col("nc")).as("n_ratings"),
      count(lit(1)).as("n_categories"),
      sum(col("nc") * col("nc")).as("ssq_c"))
    docs.agg(count(lit(1)).as("n_units"))
      .crossJoin(broadcast(dAgg)).crossJoin(broadcast(tot))
      .crossJoin(broadcast(doOrd)).crossJoin(broadcast(deOrd))
      .select(col("n_units"), col("n_pairable"), col("n_ratings"),
        col("n_categories"), col("o_off_2x"),
        (col("n_ratings") * col("n_ratings") - col("ssq_c")).as("de_pairs"),
        col("do_ord_8x"), col("de_ord_4x"))
      .withColumn("dis_nom_u", when(col("de_pairs") > 0,
        expr("cast(cast(o_off_2x as decimal(38,0)) * (n_ratings - 1) " +
          "* 1000000 div (2 * de_pairs) as bigint)")))
      .withColumn("alpha_nom_p1_u", lit(2000000L) - col("dis_nom_u"))
      .withColumn("dis_ord_u", when(col("de_ord_4x") > 0,
        expr("cast(do_ord_8x * (n_ratings - 1) " +
          "* 1000000 div (2 * de_ord_4x) as bigint)")))
      .withColumn("alpha_ord_p1_u", lit(2000000L) - col("dis_ord_u"))
      .select(col("n_units"), col("n_pairable"), col("n_ratings"),
        col("n_categories"), col("o_off_2x"), col("de_pairs"),
        col("dis_nom_u"), col("alpha_nom_p1_u"), col("dis_ord_u"),
        col("alpha_ord_p1_u"))
  }

  /** Split-conformal calibration (Vovk et al.; Angelopoulos & Bates 2021
    * tutorial form) for the engine's cheap token-count predictor: fit the
    * global chars→tokens ratio on the calibration split, take the
    * conformal quantile q̂ of the absolute residuals there, and audit the
    * guaranteed-coverage claim |y − ŷ| ≤ q̂ on the disjoint test split.
    * This is the distribution-free companion to
    * [[TrainingData.scoreCalibration]]'s binned reliability audit: that
    * one DESCRIBES miscalibration per bin, this one produces an interval
    * with a finite-sample coverage GUARANTEE (≥ 1−α in expectation over
    * calibration draws).
    *
    * Integer contract: ratio_u = Σtok·10⁶ div Σchars on calibration,
    * with the Σtok·10⁶ pre-multiply done in DECIMAL(38,0) — a BIGINT
    * pre-multiply wraps silently past ~9.2e12 calibration tokens, below
    * advertised corpus scale, while DuckDB's HUGEINT sums never wrap
    * (r11 advisory: the engines diverged exactly at scale);
    * predictions and residuals stay in whole TOKENS
    * (ŷ = chars·ratio_u div 10⁶), so the residual value domain is
    * token-count-bounded — the conformal quantile runs on a value-domain
    * histogram exactly like [[Quantiles.lowQuantiles]] (the shuffle
    * carries the histogram, never the corpus; the single cum-window
    * partition holds ≤ max-token-count rows). The conformal rank is
    * ⌈(n+1)(1−α)⌉ = ((100−α)·(n+1) + 99) div 100 — the (n+1) form, NOT a
    * plain percentile: the +1 is what buys the finite-sample guarantee.
    *
    * @param isCalib calibration-split membership (its complement is the
    *        test split); keep it independent of the residuals — a
    *        hash-split or parity on a stable id
    * @param alphaPct miscoverage budget α in percent (1..99)
    * @return 1 row: (n_calib, n_test, ratio_u, qhat, rank_needed,
    *         target_u, n_covered, coverage_u, met_target)
    */
  def conformalInterval(docs: DataFrame, isCalib: Column,
      alphaPct: Int = 10): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 99, s"alphaPct in 1..99: $alphaPct")
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("tok"),
      col("n_chars"), isCalib.as("is_cal"))
    val fit = base.filter(col("is_cal"))
      .agg(count(lit(1)).as("n_calib"),
        expr("cast(sum(tok) as decimal(38,0)) * 1000000 div sum(n_chars)")
          .as("ratio_u"))
    // residuals in whole tokens — value-domain-bounded for the histogram
    val resid = base.crossJoin(broadcast(fit))
      .withColumn("err",
        abs(col("tok") - expr("n_chars * ratio_u div 1000000")))
    val calErr = resid.filter(col("is_cal"))
    val keep = (100 - alphaPct).toLong
    val hist = calErr.groupBy(col("err")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(lit(1)).orderBy(col("err"))))
    val qhat = hist.crossJoin(broadcast(fit))
      .withColumn("rank_needed",
        expr(s"($keep * (n_calib + 1) + 99) div 100"))
      .agg(min(when(col("cum") >= col("rank_needed"), col("err")))
          .as("qhat"),
        max(col("rank_needed")).as("rank_needed"))
    val test = resid.filter(!col("is_cal"))
      .crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_test"),
        // a NULL q̂ (rank_needed > n_calib, the tiny-calibration corner)
        // is the conventional infinite interval: everything is covered
        sum(when(col("qhat").isNull || col("err") <= col("qhat"), 1L)
          .otherwise(0L)).as("n_covered"),
        max(col("qhat")).as("qhat"),
        max(col("rank_needed")).as("rank_needed"))
    fit.crossJoin(broadcast(test))
      .select(col("n_calib"), col("n_test"), col("ratio_u"), col("qhat"),
        col("rank_needed"), lit(keep * 10000L).as("target_u"),
        col("n_covered"),
        expr("n_covered * 1000000 div n_test").as("coverage_u"),
        (expr("n_covered * 1000000 div n_test") >= lit(keep * 10000L))
          .cast("long").as("met_target"))
  }
}
