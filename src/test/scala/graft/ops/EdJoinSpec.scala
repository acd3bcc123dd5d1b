package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Edit-distance self-join: losslessness of the Pass-Join segment filter
  * (including every short-string sentinel regime) and the sub-quadratic
  * candidate-growth contract that justifies it at scale.
  */
class EdJoinSpec extends SparkTestBase {

  test("planted pairs: prefix filter finds exactly the <=2 pairs, incl. the zero-shared-gram case") {
    import spark.implicits._
    val rows = Seq(
      (1L, "blk", "goldenrod lavender spring"),
      (2L, "blk", "goldenrod lavender sprint"), // dist 1 to #1
      (3L, "blk", "goldenrod lavander sprint"), // dist 1 to #2, 2 to #1
      (4L, "blk", "completely different name"), // no match
      // the count-filter-vacuous pair: ed("abcdefg","abXdeYg") = 2 with ZERO
      // shared 3-grams — only the short-string sentinel can catch it
      (5L, "blk", "abcdefg"),
      (6L, "blk", "abXdeYg"),
      (7L, "blk", "goldenrod lavender springXYZ"), // len diff 3 from #1: out of band
      (8L, "oth", "goldenrod lavender spring") // same text, other block
    ).toDF("id", "blk", "s")
    val got = Dedup.editDistancePairs(rows, "id", "s", Seq("blk"), maxDist = 2)
      .select(col("pa"), col("pb"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 2L), (5L, 6L, 2L)))
    // the shuffle-join path (the string attaches above the broadcast
    // threshold) enumerates the same candidates
    def cands() = Dedup.editDistanceCandidates(rows, "id", "s", Seq("blk"), 2)
      .collect().map(_.toSeq).toSet
    val viaBroadcast = cands()
    assert(viaBroadcast.nonEmpty)
    assert(withoutAutoBroadcast(cands()) === viaBroadcast)
  }

  test("segment filter is lossless vs brute force on the real part table (d=1 and d=2)") {
    val p = spark.read.parquet(s"$testData/sf0.001/part.parquet")
      .select(col("p_partkey"), col("p_brand"), col("p_name"))
    Seq(1, 2).foreach { d =>
      val brute = p.as("a").join(p.as("b"),
          col("a.p_brand") === col("b.p_brand") &&
            col("a.p_partkey") < col("b.p_partkey"))
        .select(col("a.p_partkey").as("pa"), col("b.p_partkey").as("pb"),
          levenshtein(col("a.p_name"), col("b.p_name"), d).cast("long").as("dist"))
        .filter(col("dist") >= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got =
        Dedup.editDistancePairs(p, "p_partkey", "p_name", Seq("p_brand"), d)
          .select(col("pa"), col("pb"), col("dist"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === brute, s"d=$d diverged from brute force")
    }
  }

  test("segment filter is lossless on planted short-string regimes (r14 Pass-Join)") {
    import spark.implicits._
    // every sentinel regime at d=2 (k=3): below k chars (index sentinel),
    // between k and k+d (probe sentinel only), and across the boundary —
    // plus identical strings, transpositions-as-2-edits, and in/out of the
    // length band
    val rows = Seq(
      (1L, "blk", "a"), (2L, "blk", "b"),          // len < k: sentinel×2
      (3L, "blk", "ab"), (4L, "blk", "abcd"),      // dist 2 across boundary
      (5L, "blk", "abc"), (6L, "blk", "abcde"),    // k and k+d
      (7L, "blk", "abcdefg"), (8L, "blk", "abXdeYg"), // 2 subs, aligned segs
      (9L, "blk", "abcdefg"),                      // exact dup of 7
      (10L, "blk", "bacdegf"),                     // 2 transpositions = dist 4
      (11L, "oth", "abcdefg")                      // other block
    ).toDF("id", "blk", "s")
    val brute = rows.as("a").join(rows.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("pa"), col("b.id").as("pb"),
        levenshtein(col("a.s"), col("b.s"), 2).cast("long").as("dist"))
      .filter(col("dist") >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = Dedup.editDistancePairs(rows, "id", "s", Seq("blk"), maxDist = 2)
      .select(col("pa"), col("pb"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === brute)
    assert(brute.contains((1L, 2L, 1L)), "short-string planted pair missing from brute force")
  }

  test("candidate count grows sub-quadratically on a 10x planted block") {
    import spark.implicits._
    // One block of diverse random alnum strings with a planted 1-edit
    // near-dup every 20th row (true pairs scale linearly by construction).
    // Pass-Join buckets are exact aligned ~len/k-char substrings, so on
    // diverse text collision noise is near-zero with NO corpus-scale knob
    // (the old gram scheme needed q grown with the corpus). A brand-style
    // nested loop enumerates 100x the pairs at 10x rows; the segment
    // filter must stay well under 25x.
    def mkRows(n: Int): Seq[(Long, String, String)] = {
      val rnd = new scala.util.Random(42)
      val rows = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
      (0 until n).foreach { i =>
        val s =
          if (i % 20 == 19) { val p = rows(i - 1)._3; "X" + p.substring(1) }
          else (0 until 20).map { _ =>
            val c = rnd.nextInt(36)
            if (c < 26) ('a' + c).toChar else ('0' + c - 26).toChar
          }.mkString
        rows += ((i.toLong, "b", s))
      }
      rows.toSeq
    }
    def cand(n: Int): Long =
      Dedup.editDistanceCandidates(
        mkRows(n).toDF("id", "blk", "s"), "id", "s", Seq("blk"), 2).count()
    val c1 = cand(300)
    val c10 = cand(3000)
    assert(c1 > 0, "planted block produced no candidates at all")
    assert(c10 < 25L * c1,
      s"candidates grew ${c10.toDouble / c1}x on 10x rows — quadratic enumeration")
    // absolute bound: nowhere near the nested loop's n(n-1)/2 ~ 4.5M pairs
    assert(c10 < 3000L * 20,
      s"$c10 candidates at n=3000 — filter not pruning")
  }
}
