package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FreshCheckpoint

/** Preference-data operators — the RLHF/DPO side of a training-data
  * pipeline: pairwise comparisons between candidate responses are the
  * raw material of reward modeling, and the pipeline questions are the
  * same ones the selection family answers for pretraining text: which
  * SOURCE produces preferred data (Bradley–Terry strength), and is the
  * collected preference signal trustworthy (position-bias audit).
  *
  * The comparison relation here is synthesized deterministically from
  * the documents corpus (adjacent-id pairing, quality-signal winner) —
  * the engine contract is the fit/audit machinery, exactly as the
  * dedup/ANN families pin their operators on deterministic stand-ins.
  *
  * Reference scope note: the reference engine has no preference surface —
  * these are training-data-pipeline extensions on published method shapes
  * (Bradley & Terry 1952; Hunter 2004's MM iteration; position-bias:
  * the standard annotation-artifact audit).
  */
object Preference {

  /** The synthesized comparison relation: every even-id doc compared to
    * its +1, +3 and +7 neighbors (a SINGLE fixed offset against a
    * periodic source layout yields disjoint head-to-heads — each source
    * one partner — where Bradley-Terry trivially fixes at the win ratio;
    * three coprime offsets connect the tournament), cross-source only,
    * winner = higher stopword-ratio quality signal, ties to the lower
    * doc_id (the a-side). One corpus pass, the offset fan-out is ×3. */
  private[ops] def comparisons(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityColumns(col("text")).toMap
    val scored = docs.select(col("doc_id"), col("source"),
      q("stopword_ratio").as("q"))
    val a = scored.select(col("doc_id").as("a_id"),
        col("source").as("a_src"), col("q").as("a_q"))
      .withColumn("o", explode(array(lit(1L), lit(3L), lit(7L))))
    val b = scored.select(col("doc_id").as("b_id"),
      col("source").as("b_src"), col("q").as("b_q"))
    a.join(b, col("b_id") === col("a_id") + col("o") &&
        col("a_id") % 2 === 0)
      .filter(col("a_src") =!= col("b_src"))
      .select(col("a_id"), col("b_id"), col("a_src"), col("b_src"),
        (col("a_q") >= col("b_q")).as("a_wins"))
  }

  /** Bradley–Terry source-strength fit over the pairwise preference
    * comparisons — `rounds` unrolled Hunter-MM updates
    * (s_i ← W_i / Σ_j n_ij/(s_i+s_j)), kept EXACT-integer so the oracle
    * replays bit-for-bit: strengths live in µ-units, each pair's
    * denominator term is the integer ⌊n_ij·10¹² / (s_i+s_j)⌋ (summing
    * integers is order-free — a floating Σ would round differently per
    * partition order), and the round closes with one integer division,
    * both pre-multiplied in DECIMAL(38,0) (n_ij can be corpus-sized).
    *
    * Scale shape: ONE corpus pass builds the comparison relation and
    * reduces it to the ≤|sources|² outcome matrix (map-side combine);
    * the MM rounds then run entirely on that matrix and the |sources|-row
    * strength vector — broadcast joins, zero corpus touches. A source
    * with zero wins fixes at strength 0 (the MM boundary), and the
    * division guards make the arithmetic total.
    *
    * @return one row per source: (source, n_comparisons, n_wins, win_u,
    *         strength_u, rank)
    */
  def bradleyTerry(docs: DataFrame, rounds: Int = 10): DataFrame = {
    val comps = comparisons(docs)
    // unordered outcome matrix, then both directed views
    val pairAgg = FreshCheckpoint(comps.select(
        least(col("a_src"), col("b_src")).as("i"),
        greatest(col("a_src"), col("b_src")).as("j"),
        when(col("a_wins") === (col("a_src") < col("b_src")), 1L)
          .otherwise(0L).as("win_i"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("win_i")).as("w")))
    val dir = pairAgg.select(col("i").as("s1"), col("j").as("s2"),
        col("n"), col("w"))
      .unionByName(pairAgg.select(col("j").as("s1"), col("i").as("s2"),
        col("n"), (col("n") - col("w")).as("w")))
    val winsTot = FreshCheckpoint(dir.groupBy(col("s1"))
      .agg(sum(col("n")).as("n_comp"), sum(col("w")).as("wins")))
    val sources = docs.select(col("source")).distinct()
    var s = winsTot.select(col("s1").as("source"),
      lit(1000000L).as("s"))
    for (_ <- 1 to rounds) {
      val d = dir
        .join(broadcast(s.select(col("source").as("s1"),
          col("s").as("si"))), Seq("s1"))
        .join(broadcast(s.select(col("source").as("s2"),
          col("s").as("sj"))), Seq("s2"))
        .groupBy(col("s1"))
        .agg(sum(expr("cast(n as decimal(38,0)) * 1000000000000 " +
          "div greatest(si + sj, 1)")).as("dsum"))
      // checkpoint per round: s feeds the next round TWICE (si and sj),
      // so an unbroken lineage doubles per round — 2^rounds plan nodes
      // by round 10 (the Lloyd's-loop convention)
      s = FreshCheckpoint(winsTot.join(d, Seq("s1"))
        .select(col("s1").as("source"),
          expr("cast(cast(wins as decimal(38,0)) * 1000000000000 " +
            "div greatest(dsum, 1) as bigint)").as("s")))
    }
    val ranked = sources
      .join(winsTot.withColumnRenamed("s1", "source"), Seq("source"),
        "left")
      .join(s, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_comp"), lit(0L)).as("n_comparisons"),
        coalesce(col("wins"), lit(0L)).as("n_wins"),
        expr("coalesce(wins, 0) * 1000000 div greatest(n_comp, 1)")
          .as("win_u"),
        coalesce(col("s"), lit(0L)).as("strength_u"))
    ranked.withColumn("rank", row_number().over(
      Window.orderBy(col("strength_u").desc, col("source"))).cast("long"))
  }

  /** Position-bias audit — the standard preference-annotation artifact
    * check: if which item was PRESENTED FIRST predicts the winner, the
    * collected signal is polluted. Presentation order is md5-derived per
    * comparison (deterministic, hash-replayable); the audit reports, per
    * source and overall, the win rate when shown first vs when shown
    * second and the first-position lift. A clean signal reads lift ≈ 0;
    * the synthesized corpus IS clean (the winner rule never sees the
    * order column), so this also pins the null-case contract.
    *
    * @return per source plus the '(all)' row: (source, n_first,
    *         n_wins_first, n_second, n_wins_second, win_first_u,
    *         win_second_u, lift_u)
    */
  def positionBias(docs: DataFrame): DataFrame = {
    val comps = comparisons(docs)
      .withColumn("a_shown_first",
        pmod(graft.expr.Hash60.h60Col(concat(lit("pos:"),
          col("a_id").cast("string"), lit(":"),
          col("b_id").cast("string"))), lit(2L)) === 0L)
    // one row per (comparison, participating source) with that source's
    // position and outcome
    val sides = comps.select(col("a_src").as("source"),
        col("a_shown_first").as("first"), col("a_wins").as("won"))
      .unionByName(comps.select(col("b_src").as("source"),
        (!col("a_shown_first")).as("first"), (!col("a_wins")).as("won")))
    val withAll = sides.unionByName(
      sides.select(lit("(all)").as("source"), col("first"), col("won")))
    withAll.groupBy(col("source"))
      .agg(
        sum(when(col("first"), 1L).otherwise(0L)).as("n_first"),
        sum(when(col("first") && col("won"), 1L).otherwise(0L))
          .as("n_wins_first"),
        sum(when(!col("first"), 1L).otherwise(0L)).as("n_second"),
        sum(when(!col("first") && col("won"), 1L).otherwise(0L))
          .as("n_wins_second"))
      .select(col("source"), col("n_first"), col("n_wins_first"),
        col("n_second"), col("n_wins_second"),
        expr("n_wins_first * 1000000 div greatest(n_first, 1)")
          .as("win_first_u"),
        expr("n_wins_second * 1000000 div greatest(n_second, 1)")
          .as("win_second_u"))
      .withColumn("lift_u", col("win_first_u") - col("win_second_u"))
  }
}
