package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Privacy-risk measurement over structured (quasi-identifier) columns —
  * the re-identification complement to the free-text pass
  * ([[TextAnalysis.piiScrub]] masks PII *strings*; this measures what the
  * released *columns* still disclose).
  */
object Privacy {

  /** k-anonymity audit: group rows by their quasi-identifier tuple
    * (equivalence classes), then for each k on the audit spine report how
    * much of the table sits in classes smaller than k — the mass a
    * k-anonymous release would have to suppress or generalize away.
    * Published k-anonymity (Sweeney 2002) calls a release k-anonymous when
    * every equivalence class has ≥ k members; the audit reports the
    * violating class/row counts per candidate k so the release owner can
    * pick the k they can afford.
    *
    * Scale shape: ONE groupBy over the quasi tuple (map-side combine; the
    * class relation is ≤ distinct-tuple sized, typically corpus ≫ classes),
    * then a single conditional aggregation over the class sizes — one
    * column pair per spine k, k is a literal handful — unpivoted to rows by
    * exploding a k-row literal array on the 1-row aggregate. No per-k
    * re-scan, no join, nothing row-proportional leaves the first agg.
    *
    * Determinism: counts and integer micro-unit ratios only.
    *
    * @param rows  the release candidate
    * @param quasi quasi-identifier columns (already generalized as desired,
    *              e.g. bucketed numerics)
    * @param ks    audit spine, each k ≥ 2
    * @return (k, n_classes, n_rows, n_classes_below, n_rows_below,
    *         risk_u = n_rows_below·10⁶ div n_rows), one row per k
    */
  def kAnonymityAudit(rows: DataFrame, quasi: Seq[Column],
      ks: Seq[Int] = Seq(2, 5, 10, 25)): DataFrame = {
    val classes = rows.groupBy(quasi: _*).agg(count(lit(1)).as("sz"))
    val perK = ks.sorted.map { k =>
      struct(lit(k.toLong).as("k"),
        sum(when(col("sz") < k, lit(1L)).otherwise(lit(0L)))
          .as("n_classes_below"),
        sum(when(col("sz") < k, col("sz")).otherwise(lit(0L)))
          .as("n_rows_below"))
    }
    classes
      .agg(count(lit(1)).as("n_classes"), sum(col("sz")).as("n_rows"),
        array(perK: _*).as("spine"))
      .select(col("n_classes"), col("n_rows"), explode(col("spine")).as("s"))
      .select(col("s.k").as("k"), col("n_classes"), col("n_rows"),
        col("s.n_classes_below").as("n_classes_below"),
        col("s.n_rows_below").as("n_rows_below"),
        expr("s.n_rows_below * 1000000 div n_rows").as("risk_u"))
  }

  /** l-diversity audit ([[kAnonymityAudit]]'s sibling for attribute
    * disclosure): k-anonymity bounds re-IDENTIFICATION but a k-sized class
    * whose members all share one sensitive value still discloses that value
    * for everyone in it. Per spine l, report the class/row mass whose
    * equivalence class carries FEWER than l distinct sensitive values —
    * the mass a release would have to suppress for distinct l-diversity
    * (Machanavajjhala 2007).
    *
    * Scale shape: identical to [[kAnonymityAudit]] with a two-phase
    * distinct count riding the same class groupBy; everything after the
    * first agg is class-relation sized.
    *
    * @return (l, n_classes, n_rows, n_classes_below, n_rows_below,
    *         risk_u = n_rows_below·10⁶ div n_rows), one row per l
    */
  def lDiversityAudit(rows: DataFrame, quasi: Seq[Column], sensitive: Column,
      ls: Seq[Int] = Seq(2, 3, 5)): DataFrame = {
    val classes = rows.groupBy(quasi: _*)
      .agg(count(lit(1)).as("sz"), countDistinct(sensitive).as("dv"))
    val perL = ls.sorted.map { l =>
      struct(lit(l.toLong).as("l"),
        sum(when(col("dv") < l, lit(1L)).otherwise(lit(0L)))
          .as("n_classes_below"),
        sum(when(col("dv") < l, col("sz")).otherwise(lit(0L)))
          .as("n_rows_below"))
    }
    classes
      .agg(count(lit(1)).as("n_classes"), sum(col("sz")).as("n_rows"),
        array(perL: _*).as("spine"))
      .select(col("n_classes"), col("n_rows"), explode(col("spine")).as("s"))
      .select(col("s.l").as("l"), col("n_classes"), col("n_rows"),
        col("s.n_classes_below").as("n_classes_below"),
        col("s.n_rows_below").as("n_rows_below"),
        expr("s.n_rows_below * 1000000 div n_rows").as("risk_u"))
  }

  /** t-closeness audit (Li et al. 2007 — the disclosure trilogy's third
    * gauge): [[lDiversityAudit]] counts distinct sensitive values but a
    * class can be "diverse" while still skewed (99% one value); t-closeness
    * bounds the DISTANCE between each class's sensitive distribution and
    * the table-wide one. For categorical sensitives with uniform ground
    * distance the earth-mover distance reduces to total variation,
    * ½·Σ|p_class − p_global|; per spine t (µ-units), report the class/row
    * mass whose distance EXCEEDS t — the mass a t-close release must
    * suppress or generalize.
    *
    * Determinism: both distributions are integer µ-shares (count·10⁶ div
    * total); absent-value terms fold in exactly as 10⁶ − Σ_present g_u
    * (|0 − p_global| summed over the values the class never takes), so the
    * whole distance is integer arithmetic with no per-(class, value) fan
    * out to absent combinations.
    *
    * Scale shape: ONE groupBy over (quasi, sensitive) → a window + rollup
    * on the same class key (no second shuffle — the window's partitioning
    * is reused by the groupBy), a |values|-row broadcast for the global
    * shares, then the [[kAnonymityAudit]] spine pattern on the 1-row
    * rollup. Nothing row-proportional survives the first agg.
    *
    * @return (t_u, n_classes, n_rows, n_classes_above, n_rows_above,
    *         risk_u = n_rows_above·10⁶ div n_rows), one row per t
    */
  def tClosenessAudit(rows: DataFrame, quasi: Seq[Column], sensitive: Column,
      ts: Seq[Int] = Seq(100000, 300000, 600000)): DataFrame = {
    val keys = quasi.indices.map(i => s"qk$i")
    val keyed = rows.select(
      quasi.zipWithIndex.map { case (c, i) => c.as(s"qk$i") } :+
        sensitive.as("sv"): _*)
    val classSv = keyed.groupBy(keys.map(col) :+ col("sv"): _*)
      .agg(count(lit(1)).as("c_cs"))
    val global = classSv.groupBy(col("sv")).agg(sum(col("c_cs")).as("c_gs"))
    val tot = global.agg(sum(col("c_gs")).as("n"))
    val gShares = global.crossJoin(broadcast(tot))
      .select(col("sv"), expr("c_gs * 1000000 div n").as("g_u"))
    val w = Window.partitionBy(keys.map(col): _*)
    val perClass = classSv.join(broadcast(gShares), Seq("sv"))
      .withColumn("sz", sum(col("c_cs")).over(w))
      .withColumn("term_u",
        abs(expr("c_cs * 1000000 div sz") - col("g_u")))
      .groupBy(keys.map(col): _*)
      .agg(max(col("sz")).as("sz"), sum(col("term_u")).as("m_term"),
        sum(col("g_u")).as("m_g"))
      .select(col("sz"),
        expr("(m_term + 1000000 - m_g) div 2").as("dist_u"))
    val perT = ts.sorted.map { t =>
      struct(lit(t.toLong).as("t_u"),
        sum(when(col("dist_u") > t, lit(1L)).otherwise(lit(0L)))
          .as("n_classes_above"),
        sum(when(col("dist_u") > t, col("sz")).otherwise(lit(0L)))
          .as("n_rows_above"))
    }
    perClass
      .agg(count(lit(1)).as("n_classes"), sum(col("sz")).as("n_rows"),
        array(perT: _*).as("spine"))
      .select(col("n_classes"), col("n_rows"), explode(col("spine")).as("s"))
      .select(col("s.t_u").as("t_u"), col("n_classes"), col("n_rows"),
        col("s.n_classes_above").as("n_classes_above"),
        col("s.n_rows_above").as("n_rows_above"),
        expr("s.n_rows_above * 1000000 div n_rows").as("risk_u"))
  }

  /** Truncated two-sided-geometric inverse-CDF thresholds at α = ½:
    * pmf P(0) = ⅓, P(±z) = ⅓·2⁻|z|, the ±`maxNoise` tails folded into the
    * extreme values (standard truncated-geometric mechanism). Returned as
    * (µ-threshold, noise) pairs — a uniform u ∈ [0, 10⁶) maps to the first
    * noise whose threshold exceeds it. All-rational at α = ½, so the
    * µ-floored thresholds are exact; the SAME Scala values are embedded in
    * the SQL oracle, so no engine ever evaluates exp or log. */
  private[graft] def geometricThresholds(maxNoise: Int): Seq[(Long, Int)] = {
    val p0 = 1.0 / 3.0
    def pmf(z: Int): Double =
      if (math.abs(z) == maxNoise) p0 * math.pow(0.5, maxNoise - 1)
      else p0 * math.pow(0.5, math.abs(z))
    val zs = (-maxNoise to maxNoise).toSeq
    val cum = zs.scanLeft(0.0)((acc, z) => acc + pmf(z)).tail
    zs.zip(cum).map { case (z, c) => (math.floor(c * 1e6).toLong, z) }
  }

  /** Differentially-private histogram release — the EMIT step the audit
    * trilogy ([[kAnonymityAudit]] → [[lDiversityAudit]] →
    * [[tClosenessAudit]]) gates: per quasi-identifier class, the count
    * plus two-sided-geometric noise (the discrete Laplace mechanism,
    * Ghosh–Roughgarden–Sundararajan 2012) at ε = ln 2 (α = e^(−ε) = ½,
    * sensitivity 1 for disjoint-class counts), clamped at 0, with the
    * privacy LEDGER riding every row (epsilon_u, sensitivity, noise
    * bound) so downstream composition can sum what was spent.
    *
    * Determinism (testability): the uniform driving each class's noise is
    * md5-derived from the class key — the engine's randomness discipline,
    * replayed exactly by the oracle. A PRODUCTION release must flip this
    * to real entropy (one `rand()` column swap — the mechanism, table,
    * and ledger are unchanged); with hash-derived noise the "noise" is a
    * deterministic function of the class key, which is testable but NOT
    * private. Documented in README.
    *
    * Scale shape: q221's one map-side-combined groupBy, then pure per-row
    * projections (hash, threshold CASE, clamp) — nothing corpus-sized
    * after the first agg.
    *
    * @param quasi ALIASED quasi columns (names become output columns)
    * @return (quasi..., n_noisy, epsilon_u, sensitivity, noise_bound)
    */
  def dpHistogram(rows: DataFrame, quasi: Seq[Column],
      maxNoise: Int = 8): DataFrame = {
    val classes = rows.groupBy(quasi: _*).agg(count(lit(1)).as("n"))
    val names = classes.columns.dropRight(1)
    val key = concat_ws(":", lit("dp") +:
      names.map(n => coalesce(col(n).cast("string"), lit("null"))): _*)
    val u = pmod(graft.expr.Hash60.h60Col(key), lit(1000000L))
    val noise = geometricThresholds(maxNoise).init
      .foldRight(lit(maxNoise.toLong): Column) { case ((t, z), acc) =>
        when(u < t, z.toLong).otherwise(acc)
      }
    classes
      .withColumn("n_noisy", greatest(lit(0L), col("n") + noise))
      .select(names.map(col) :+ col("n_noisy") :+
        lit(693147L).as("epsilon_u") :+ lit(1L).as("sensitivity") :+
        lit(maxNoise.toLong).as("noise_bound"): _*)
  }

  /** DP composition ledger over a release SERIES — the accounting step
    * the epsilon_u column [[dpHistogram]] emits exists for: repeated
    * releases over the SAME quasi-identifier domain compose
    * SEQUENTIALLY (basic composition, Dwork–Roth Thm 3.14: total spend =
    * Σ ε over emits — each release answers a new query about the same
    * individuals), while different domains hold independent ledgers (the
    * budget is per-domain policy; cross-domain spend is not additive
    * under parallel composition when the class partitions are disjoint).
    * The operator rolls a relation of release records up to the
    * per-domain spend / remaining-budget / exhausted decision row.
    *
    * Scale shape: the input is release-series-sized (one row per emit),
    * orders of magnitude below corpus scale — one groupBy, no joins.
    *
    * @param releases one row per emit: (domain, n_classes, epsilon_u,
    *        sensitivity)
    * @param budgetEpsilonU per-domain budget in µ-nats (default 4·ln 2 —
    *        four ε = ln 2 releases)
    * @return one row per domain: (domain, n_releases, n_classes,
    *         spent_u, max_sensitivity, budget_u, remaining_u, exhausted)
    */
  def epsilonLedger(releases: DataFrame,
      budgetEpsilonU: Long = 2772588L): DataFrame =
    releases.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_releases"),
        sum(col("n_classes")).as("n_classes"),
        sum(col("epsilon_u")).as("spent_u"),
        max(col("sensitivity")).as("max_sensitivity"))
      .withColumn("budget_u", lit(budgetEpsilonU))
      .withColumn("remaining_u",
        greatest(lit(0L), col("budget_u") - col("spent_u")))
      .withColumn("exhausted", col("spent_u") >= col("budget_u"))

  /** Per-release budget TRANSITIONS over an ordered release series — the
    * event-level view of [[epsilonLedger]]'s end-state rollup: every
    * release row carries the running spend AFTER it, what remains, whether
    * the domain is past budget, and — the alarm bit — whether THIS release
    * is the one that crossed the line (spent ≥ budget now, < budget
    * before). The ledger says "domain X is exhausted"; this says "release
    * #7 exhausted it", which is what an incident review and the
    * [[graft.streaming.LedgerStream]] at-ingest monitor both need. Same
    * sequential-composition accounting (Σ ε within a domain; domains
    * independent under parallel composition).
    *
    * Scale shape: release-series-sized input; one window cum-sum
    * partitioned by domain, ordered by the series' own release sequence —
    * a per-domain sort over ledger rows, never corpus data, never global.
    *
    * @param releases (domain, seq, epsilon_u, n_classes) — seq is the
    *        domain-local release order
    * @return per release: (domain, seq, epsilon_u, n_classes, spent_u,
    *         remaining_u, exhausted, crossed)
    */
  def budgetTransitions(releases: DataFrame,
      budgetEpsilonU: Long = 2772588L): DataFrame = {
    val w = Window.partitionBy(col("domain")).orderBy(col("seq"))
    releases
      .withColumn("spent_u", sum(col("epsilon_u")).over(w))
      .select(col("domain"), col("seq"), col("epsilon_u"), col("n_classes"),
        col("spent_u"),
        greatest(lit(0L), lit(budgetEpsilonU) - col("spent_u"))
          .as("remaining_u"),
        (col("spent_u") >= budgetEpsilonU).as("exhausted"),
        (col("spent_u") >= budgetEpsilonU &&
          col("spent_u") - col("epsilon_u") < budgetEpsilonU).as("crossed"))
  }
}
