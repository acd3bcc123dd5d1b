package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing-style document fingerprints (after Schleimer, Wilkerson &
  * Aiken, SIGMOD'03 — the MOSS plagiarism-detection primitive): hash every
  * k-gram of a document, then keep only forward-window local minima — a
  * positional-overlap detector that MinHash (whole-set similarity) and CDC
  * chunking (block identity) don't provide.
  *
  * Selection rule (deterministic on both engines): position p is selected
  * iff hash(p) ≤ min(hash(p+1 .. p+w−1)) — a FORWARD-window local-min
  * variant, not SWA'03's per-window rightmost-minimum. The variant keeps
  * SWA's expected density (~1/w, 60-bit hashes making ties negligible) and
  * in practice selects from shared runs, but it does NOT carry the paper's
  * hard guarantee that every shared run of ≥ k+w−1 characters yields a
  * shared fingerprint: selection at a position can depend on hashes up to
  * w−1 grams PAST the run, so a run sitting before, e.g., a monotonically
  * decreasing hash tail in one document only can go unselected there. For
  * the hard guarantee, per-window rightmost-min winnowing (state over the
  * last w hashes) is the upgrade; the probabilistic variant is kept because
  * it is a pure per-row slice expression with no cross-gram state.
  *
  * Complements [[TextAnalysis.fingerprint]] (token-gram winnowing reduced
  * to per-doc summary stats): this variant keeps the SELECTED SET and
  * surfaces the cross-document shared-fingerprint pair relation — the
  * actual match output a plagiarism/overlap detector serves.
  *
  * Scale shape mirrors [[Chunking]]: gram hashing AND window-min selection
  * are pure per-row array expressions (no window-function shuffle — the
  * sliding min reads a slice of the same row's hash array), so the only
  * shuffles are over the selected-fingerprint relation at ~1/w the gram
  * density, each row a narrow (doc_id, int64). The pair stage is the
  * repo-standard bucketed equi-join: candidates share a fingerprint hash,
  * and the df-cap drops boilerplate hashes whose buckets would square.
  */
object Winnowing {

  /** Distinct selected fingerprints per document: (doc_id, fp). */
  def fingerprints(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    // r13: native digest-reusing window hashing ([[graft.expr
    // .HashedWindows]], stride 1 — same md5-prefix arithmetic) instead of
    // an interpreted per-position md5+hex+conv expression tree
    val hs = graft.expr.VectorOps.hashedWindows(col("text"), k, 1)
    Dedup.fanOut(docs).filter(length(col("text")) >= k)
      .select(col("doc_id"), hs.as("hs"))
      .select(col("doc_id"),
        explode(expr(s"array_distinct(filter(hs, (h, p) -> " +
          s"h <= coalesce(array_min(slice(hs, p + 2, ${w - 1})), h)))"))
          .as("fp"))
    // already distinct: one row per doc upstream, array_distinct in-row
  }

  /** Document pairs sharing ≥ `minShared` selected fingerprints —
    * (a, b, n_shared), a < b. `dfCap` drops fingerprints present in more
    * documents than that (boilerplate; their buckets would enumerate
    * quadratically and a hash shared by half the corpus carries no
    * pair-specific signal anyway).
    */
  def sharedFingerprints(docs: DataFrame, k: Int = 8, w: Int = 4,
      dfCap: Long = 50, minShared: Long = 8): DataFrame = {
    val fp = fingerprints(docs, k, w)
    val rare = fp.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select(col("fp"))
    val kept = fp.join(rare, Seq("fp"))
    kept.select(col("fp"), col("doc_id").as("a"))
      .join(kept.select(col("fp"), col("doc_id").as("b")), Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
