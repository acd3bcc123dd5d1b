package graft

import org.apache.spark.sql.functions._

import graft.ops.Pipeline

/** Planted-case specs for the round-11 batch, led by the incremental
  * dataset release's increment-equals-full-recompute theorem on a
  * two-snapshot corpus exercising every delta shape at once.
  */
class Round11Spec extends SparkTestBase {
  import spark.implicits._

  // old snapshot: 9 docs; (1,9) and (2,12) and (6,7) are exact-dup pairs
  private val oldDocs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "one two three four five six seven eight"),
    (3L, "solo unique text about nothing in particular here now"),
    (4L, "match target text that doc three will copy exactly soon"),
    (5L, "source for the added duplicate doc twenty to copy"),
    (6L, "common boiler plate text shared by six and seven"),
    (7L, "common boiler plate text shared by six and seven"),
    (9L, "alpha beta gamma delta epsilon zeta eta theta"),
    (12L, "one two three four five six seven eight"))

  // new snapshot: doc 2 REMOVED (resurrects 12); doc 1 CHANGED away from 9
  // (resurrects 9); doc 3 CHANGED onto doc 4's text (newly drops 4, an
  // UNCHANGED old doc — the smaller-id side of the pair is the delta);
  // doc 20 ADDED as a dup of 5 (dropped on arrival); doc 21 ADDED novel
  private val newDocs = Seq(
    (1L, "completely different replacement text with no overlap whatsoever anymore"),
    (3L, "match target text that doc three will copy exactly soon"),
    (4L, "match target text that doc three will copy exactly soon"),
    (5L, "source for the added duplicate doc twenty to copy"),
    (6L, "common boiler plate text shared by six and seven"),
    (7L, "common boiler plate text shared by six and seven"),
    (9L, "alpha beta gamma delta epsilon zeta eta theta"),
    (12L, "one two three four five six seven eight"),
    (20L, "source for the added duplicate doc twenty to copy"),
    (21L, "brand new novel document with fresh words only here"))

  test("incrementalRelease == fullRelease across adds/changes/removals/" +
      "resurrections/new drops") {
    val oldDf = oldDocs.toDF("doc_id", "text")
    val newDf = newDocs.toDF("doc_id", "text")
    val inc = Pipeline.incrementalRelease(Pipeline.releaseState(oldDf), newDf)
    val full = Pipeline.fullRelease(oldDf, newDf)
    assert(inc.columns.toSeq == full.columns.toSeq)
    val incRow = inc.collect().map(_.toSeq)
    val fullRow = full.collect().map(_.toSeq)
    assert(incRow.length == 1 && fullRow.length == 1)
    assert(incRow.head == fullRow.head)
    // the shuffle-join path (a delta above the broadcast threshold)
    // advances to the same record
    val shuffled = withoutAutoBroadcast(
      Pipeline.incrementalRelease(Pipeline.releaseState(oldDf), newDf).collect())
    assert(shuffled.map(_.toSeq).toSeq == incRow.toSeq)
    // planted expectations: the record is right, not just self-consistent
    val m = inc.first().getValuesMap[Long](inc.columns)
    assert(m("n_docs") == 10L)
    assert(m("n_added") == 2L)     // 20, 21
    assert(m("n_changed") == 2L)   // 1, 3
    assert(m("n_removed") == 1L)   // 2
    assert(m("n_unchanged") == 6L) // 4, 5, 6, 7, 9, 12
    assert(m("n_pairs") == 3L)     // (3,4), (5,20), (6,7)
    assert(m("n_dropped") == 3L)   // 4, 20, 7 — while 9 and 12 RESURRECT
    assert(m("n_released") == 7L)
    // token mass over the released set, recomputed directly
    val relIds = Set(1L, 3L, 5L, 6L, 9L, 12L, 21L)
    val expTokens = newDocs.filter(d => relIds(d._1))
      .map(_._2.split("\\s+").length.toLong).sum
    assert(m("released_tokens") == expTokens)
  }

  test("ivfPqTopK planted clusters: nprobe=1 scans ONLY the query's cell") {
    // two well-separated clusters; coarse centroids are vecs 0 (origin
    // cluster) and 1 (far cluster). Query = vec 0 with nprobe = 1 probes
    // its own cell, so far-cluster vectors can never surface regardless
    // of what the PQ codebook does.
    val emb = Seq(
      0L -> Seq(0f, 0f, 0f, 0f),
      1L -> Seq(10f, 10f, 10f, 10f),
      2L -> Seq(0.1f, 0.1f, 0f, 0f),
      3L -> Seq(0f, 0.2f, 0.1f, 0f),
      4L -> Seq(0.2f, 0f, 0f, 0.1f),
      5L -> Seq(9.9f, 10f, 10.1f, 10f),
      6L -> Seq(10f, 9.8f, 10f, 10.2f),
      7L -> Seq(10.1f, 10f, 9.9f, 10f)
    ).toDF("vec_id", "embedding")
    val out = graft.ops.Quantize.ivfPqTopK(emb, nCells = 2, nprobe = 1,
      m = 2, k = 2, rounds = 1, nQueries = 1, topK = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty)
    assert(out.forall(_._1 == 0L))
    // own cell only: cluster-A members, never 1/5/6/7, never self
    assert(out.map(_._2).toSet.subsetOf(Set(2L, 3L, 4L)))
    // nprobe = nCells widens the scan to everything
    val all = graft.ops.Quantize.ivfPqTopK(emb, nCells = 2, nprobe = 2,
      m = 2, k = 2, rounds = 1, nQueries = 1, topK = 8)
      .collect().map(_.getLong(1)).toSet
    assert(all == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("ivfPqTopK recall@10 vs exact integer-L2 ground truth (sf0.001)") {
    val emb = spark.read.parquet(s"$testData/sf0.001/embeddings.parquet")
    val iv = graft.ops.Quantize.coords(emb)
    val q = iv.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("d"), col("x").as("qx"))
    val exact = q.join(iv, Seq("d"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum((col("qx") - col("x")) * (col("qx") - col("x"))).as("dist"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("dist"), col("vec_id"))))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("vec_id"))
    val exactC = exact.cache(); exactC.count()
    def recallAt(nprobe: Int): Double = {
      val approx = graft.ops.Quantize.ivfPqTopK(emb, nprobe = nprobe)
        .select(col("query_id"), col("vec_id"))
      approx.join(exactC, Seq("query_id", "vec_id"), "leftsemi").count() / 50.0
    }
    // nprobe is the recall knob: the default nprobe=2 scans 2/8 of the
    // corpus (cell coverage caps recall near 0.25 on these quasi-random
    // embeddings), nprobe=8 removes the coverage cap and leaves only PQ
    // quantization error. Deterministic pipeline on deterministic data —
    // both numbers are constants of the build; the floors guard the
    // cell/residual/ADC plumbing, not aspirations.
    val r2 = recallAt(2)
    val r8 = recallAt(8)
    info(f"ivfPq recall@10 over 5 queries: nprobe=2 $r2%.2f, nprobe=8 $r8%.2f")
    // these synthetic embeddings are quasi-random (maximal intrinsic
    // dimension — PQ's worst case), so the ceiling is codebook-bound, not
    // coverage-bound: measured 0.22 at m=4/k=8 (12 bits) → 0.40 at the
    // default m=16/k=32 (80 bits), flat in nprobe because far-cell ADC
    // distances are dominated by the cell offset. The floors are the
    // measured constants of this deterministic build.
    assert(r2 >= 0.3, s"recall@10 at nprobe=2 degraded: $r2")
    assert(r8 >= r2, s"nprobe must not cost recall: $r8 < $r2")
  }

  test("cell-pool MMR == exact MMR when the pool recalls the true top set") {
    // a pinned single-cell codebook (cellK = 1) makes the cell pool the
    // global top-poolSize — identical to the exact brute-force pool — so
    // the two MMR paths must agree row-for-row. 18 vectors: deterministic
    // distinct directions in 8 dims.
    val emb = (0L until 18L).map { i =>
      i -> (0 until 8).map(d =>
        (((i * 31 + d * 17 + 7) % 19).toFloat - 9f) / 10f)
    }.toDF("vec_id", "embedding")
    val exact = graft.ops.Similarity.mmrTopK(emb,
      emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding")))
      .orderBy("query_id", "pick").collect().map(_.toSeq)
    val cells = graft.ops.Similarity.mmrTopKCells(emb, cellK = 1)
      .orderBy("query_id", "pick").collect().map(_.toSeq)
    assert(exact.nonEmpty && exact.length == 15)
    assert(cells.toSeq == exact.toSeq)
  }

  test("dpHistogram sensitivity: one added row moves ONE class by at most 1") {
    // disjoint-class counts have sensitivity 1: a neighboring dataset
    // (one row added) changes exactly one class count by 1, and since
    // each class's noise is a function of its KEY alone, every other
    // released value is bit-identical while the touched class moves by
    // exactly the true delta
    val base = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 1L), ("c", 3L))
      .toDF("seg", "grp")
    val neighbor = base.unionByName(Seq(("b", 1L)).toDF("seg", "grp"))
    def rel(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Privacy.dpHistogram(df, Seq(col("seg"), col("grp")))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val r0 = rel(base)
    val r1 = rel(neighbor)
    assert(r0.keySet == r1.keySet)
    r0.keys.foreach { k =>
      if (k == ("b", 1L)) assert(r1(k) - r0(k) == 1L)
      else assert(r1(k) == r0(k), s"untouched class $k moved")
    }
  }

  test("dpHistogram noise table: symmetric, eps = ln 2, full mass") {
    val t = graft.ops.Privacy.geometricThresholds(8)
    assert(t.map(_._2) == (-8 to 8).toSeq)
    // full probability mass lands in the table (floor can shave < 1 µ)
    assert(t.last._1 >= 999999L)
    // pmf from threshold deltas: symmetric, and each step halves (alpha =
    // e^{-eps} = 1/2 means eps = ln 2 — the ledger's 693147 µ)
    val pmf = t.map(_._1).zip(0L +: t.map(_._1)).map { case (c, p) => c - p }
    assert(pmf == pmf.reverse)
    // the ±8 extremes carry the folded tail, so P(±8) == P(±7); inside
    // the fold every step toward 0 doubles (α = ½ ⇒ ε = ln 2)
    assert(math.abs(pmf(0) - pmf(1)) <= 2)
    (1 until 8).foreach { i =>
      val (outer, inner) = (pmf(i), pmf(i + 1))
      assert(math.abs(inner - 2 * outer) <= 4,
        s"pmf not halving at offset $i: $outer -> $inner")
    }
  }

  test("pairIntegrityAudit plants all three disagreement kinds") {
    // payloads 1≡2 (identical bytes → hamming 0) with DIVERGENT captions
    // → img_only; payloads 3,4 unrelated with IDENTICAL captions →
    // cap_only; 5≡6 identical on both sides → both; 7 pairs with nothing.
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today",
        "a red bicycle leans against the old stone wall quietly"),
      (2L, "the quick brown fox jumps over the lazy dog again today",
        "children play football in the park before the heavy summer rain"),
      (3L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo",
        "identical caption text shared by both of these media rows"),
      (4L, "z1!Qm x9?Kp w4#Jn v2$Hr u7%Gs t5&Ft e8*Dq c3(Bw a6)Ax yy zz",
        "identical caption text shared by both of these media rows"),
      (5L, "same payload and same caption on this pair of rows here",
        "matching caption for the genuinely duplicated media pair rows"),
      (6L, "same payload and same caption on this pair of rows here",
        "matching caption for the genuinely duplicated media pair rows"),
      (7L, "a completely unrelated payload with its own distinct words",
        "a completely unrelated caption with its own distinct words"))
    val media = rows.map(r => (r._1, r._2)).toDF("media_id", "text")
    val audit = graft.ops.Multimodal.pairIntegrityAudit(
      graft.ops.Multimodal.ingest(media.withColumnRenamed("media_id", "doc_id")),
      rows.map(r => (r._1, r._3)).toDF("media_id", "caption"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(audit.get((1L, 2L)).contains("img_only"))
    assert(audit.get((3L, 4L)).contains("cap_only"))
    assert(audit.get((5L, 6L)).contains("both"))
    assert(!audit.keySet.exists(k => k._1 == 7L || k._2 == 7L))
  }

  test("duplicatedExtents merges a long shared block into ONE extent") {
    // a 160-char block shared as the PREFIX of two docs, distinct tails:
    // strided windows at 1,17,…,97 (7 spans) all duplicate and must merge
    // into one island per doc that recovers the block exactly — start 1,
    // end 160, extent 160 — while q151's span view reports 7 rows
    val block = ("x" * 39 + " ") * 4 // 160 chars
    val docs = Seq(
      (1L, block + "tail one with its own distinct continuation text here ok"),
      (2L, block + "a different ending entirely for the second document body"))
      .toDF("doc_id", "text")
    val out = graft.ops.Dedup.duplicatedExtents(docs, 64, 16)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 1L, 160L, 7L, 160L),
      (2L, 1L, 160L, 7L, 160L)))
    // two separated shared blocks stay two islands (the merge is maximal,
    // not greedy-global)
    val mid = "y8?Qw m3!Kp z5#Jn v9$Hr u2%Gs t7&Ft e4*Dq c6(Bw a1)Ax zzz " // 58
    val docs2 = Seq(
      (1L, block + mid + block),
      (2L, block + "completely different middle padding of the same size here " + block))
      .toDF("doc_id", "text")
    val islands = graft.ops.Dedup.duplicatedExtents(docs2, 64, 16)
      .filter(col("doc_id") === 1L).collect()
    assert(islands.length == 2)
  }

  test("incrementalRelease with an empty delta replays the old record") {
    val oldDf = oldDocs.toDF("doc_id", "text")
    val st = Pipeline.releaseState(oldDf)
    val inc = Pipeline.incrementalRelease(st, oldDf).collect().map(_.toSeq)
    val full = Pipeline.fullRelease(oldDf, oldDf).collect().map(_.toSeq)
    assert(inc.head == full.head)
    val m = Pipeline.incrementalRelease(st, oldDf).first()
      .getValuesMap[Long](Seq("n_added", "n_changed", "n_removed", "n_pairs"))
    assert(m == Map("n_added" -> 0L, "n_changed" -> 0L, "n_removed" -> 0L,
      "n_pairs" -> 3L))
  }
}
