package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Unit tests for the training-data-pipeline operators (planted-duplicate
  * scenarios — the oracle gate covers the testdata-scale behavior). */
class OpsSpec extends SparkTestBase {

  import scala.collection.immutable.ArraySeq

  lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "s1", 0L),
      (2L, "the quick brown fox jumps over the lazy dog again and again", "en", "s1", 0L), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat again and again", "en", "s1", 0L), // near dup of 1
      (4L, "completely different words about spark and scala engines here", "en", "s1", 0L),
      (5L, "nothing in common with anything else whatsoever in this corpus", "en", "s2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  test("exact dedup groups identical texts") {
    val d = Dedup.exact(docs).collect()
    val dupGroups = d.filter(_.getAs[Long]("dup_count") > 1)
    assert(dupGroups.length === 1)
    assert(dupGroups.head.getAs[Long]("keep_id") === 1L)
    assert(dupGroups.head.getAs[Long]("dup_count") === 2L)
  }

  test("minhash LSH finds exact + near dup, no false positives") {
    val pairs = Dedup.minhashLsh(docs, 8, 2, 0.5).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jaccard")))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)), s"exact dup pair missing from $keys")
    val j12 = pairs.find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(j12 === 1.0)
    // no pair involving doc 5
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    // the shuffle-join path (every verify join above the broadcast
    // threshold) returns the same rows
    val shuffled = withoutAutoBroadcast(Dedup.minhashLsh(docs, 8, 2, 0.5).collect())
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jaccard")))
    assert(shuffled.toSet === pairs.toSet)
  }

  test("incremental minhash: batch dedups against corpus index and itself") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "s1", 0L),
      (2L, "some other corpus document about entirely unrelated matters here", "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again", "en", "s1", 0L), // dup of corpus 1
      (15L, "a wholly novel batch document sharing nothing with the corpus", "en", "s1", 0L), // novel
      (20L, "twin batch documents must resolve within the arriving batch too", "en", "s1", 0L),
      (21L, "twin batch documents must resolve within the arriving batch too", "en", "s1", 0L)) // dup of 20
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sigs = Dedup.minhashSignatures(corpus, 8)
    val r = Dedup.incrementalMinhash(corpus, sigs, batch, 8, 2, 0.8).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (Option(x.getAs[java.lang.Long]("dup_of")), x.getAs[Boolean]("is_novel"))).toMap
    assert(r.keySet === Set(10L, 15L, 20L, 21L), s"one row per batch doc: $r")
    assert(r(10L) === (Some(1L), false), s"corpus dup not detected: $r")
    assert(r(15L) === (None, true), s"novel doc misflagged: $r")
    assert(r(20L) === (None, true), s"earlier twin must stay novel (a < b rule): $r")
    assert(r(21L) === (Some(20L), false), s"within-batch dup not resolved: $r")
  }

  test("repeated spans: planted shared block flags cross-doc spans only") {
    import spark.implicits._
    val block = ("X" * 30) + "shared boilerplate block here!" + ("Y" * 30) // 90 chars
    val selfRep = "Z" * 200 // intra-doc repeats only — must NOT count
    val d = Seq(
      (1L, s"unique prefix one ${block} unique suffix one ${"a" * 40}"),
      (2L, s"different lead-in ${block} and a different tail ${"b" * 40}"),
      (3L, selfRep),
      (4L, "short"), // < spanLen: no spans, absent from output
      (5L, s"wholly unrelated content ${"c" * 100} with no shared windows"))
      .toDF("doc_id", "text")
    val r = Dedup.repeatedSpans(d, spanLen = 32, stride = 8).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("total_spans"), x.getAs[Long]("dup_spans"))).toMap
    assert(!r.contains(4L), "sub-spanLen doc must produce no rows")
    assert(r(1L)._2 > 0 && r(2L)._2 > 0, s"shared block not flagged: $r")
    // doc 3's spans repeat WITHIN the doc only (all-Z windows at every
    // stride are identical) — distinct-doc rule keeps them clean
    assert(r(3L)._2 === 0L, s"intra-doc repeat wrongly flagged: ${r(3L)}")
    assert(r(5L)._2 === 0L)
    // flagged count is bounded by the planted block's window count
    assert(r(1L)._2 <= r(1L)._1)
  }

  test("simhash: identical docs at hamming 0; unrelated docs far apart") {
    val sigs = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sigs(1L) === sigs(2L))
    val ham15 = java.lang.Long.bitCount(sigs(1L) ^ sigs(5L))
    assert(ham15 > 6, s"unrelated docs too close: $ham15")
  }

  test("ngram jaccard finds near dup within blocks only") {
    val pairs = Dedup.ngramJaccard(docs, 3, 0.5).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    // doc 5 is in source s2: never paired despite same lang
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    // the shuffle-join path (the array attaches above the broadcast
    // threshold) returns the same rows
    val all = Dedup.ngramJaccard(docs, 3, 0.5).collect().map(_.toSeq).toSet
    val shuffled = withoutAutoBroadcast(Dedup.ngramJaccard(docs, 3, 0.5).collect())
      .map(_.toSeq).toSet
    assert(shuffled === all)
  }

  test("cosine top-k: planted identical vector ranks first") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 0),
      (3L, Array(0.0f, 0.0f, 1.0f), 0),
      (4L, Array(1.0f, 0.01f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val q = emb.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"embedding")
    val top = Similarity.cosineTopK(emb, q, 2).collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => r.getAs[Long]("vec_id"))
    assert(top.toSeq === Seq(4L, 1L))
  }

  test("IVF top-k: probes only the query's cell; in-cell results exact") {
    import spark.implicits._
    // two clean clusters around e1 (centroid 0) and e2 (centroid 1)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f, 0.0f), 0),
      (2L, Array(0.98f, 0.05f, 0.0f), 0),
      (3L, Array(0.97f, 0.02f, 0.1f), 0),
      (4L, Array(0.02f, 0.99f, 0.0f), 0),
      (5L, Array(0.0f, 0.95f, 0.3f), 0))
      .toDF("vec_id", "embedding", "label")
    val q = emb.filter($"vec_id" === 2L)
      .select($"vec_id".as("query_id"), $"embedding")
    val hits = Similarity.ivfTopK(emb, q, nCentroids = 2, k = 10).collect()
      .map(r => r.getAs[Long]("vec_id")).toSet
    // cell of centroid 0 holds {0, 2, 3}; cluster-B vectors never scanned
    assert(hits === Set(0L, 3L))
    // within the probed cell the ranking matches brute force
    val brute = Similarity.cosineTopK(emb.filter($"vec_id".isin(0L, 2L, 3L)), q, 10)
      .collect().sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("vec_id")).toSeq
    val ivf = Similarity.ivfTopK(emb, q, 2, 10)
      .collect().sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("vec_id")).toSeq
    assert(ivf === brute)
    // nprobe = nCentroids degenerates to exact brute force over all cells
    val allProbe = Similarity.ivfTopK(emb, q, 2, 10, nprobe = 2)
      .collect().sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("vec_id")).toSeq
    val bruteAll = Similarity.cosineTopK(emb, q, 10)
      .collect().sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("vec_id")).toSeq
    assert(allProbe === bruteAll)
  }

  test("line dedup drops over-represented segments, preserves order") {
    import spark.implicits._
    val d = Seq(
      (1L, "keep one\nboiler\nkeep two"),
      (2L, "boiler\nunique a"),
      (3L, "boiler\nunique b"),
      (4L, "boiler")) // entirely boilerplate → empty survivor text
      .toDF("doc_id", "text")
    val out = TextAnalysis.lineDedup(d, sep = "\n", maxOcc = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((3L, 2L, "keep one\nkeep two"))) // order preserved
    assert(out(2L) === ((2L, 1L, "unique a")))
    assert(out(3L) === ((2L, 1L, "unique b")))
    assert(out(4L) === ((1L, 0L, ""))) // fully deduped doc still reported
    // below the threshold nothing is dropped
    val loose = TextAnalysis.lineDedup(d, "\n", maxOcc = 4).collect()
    assert(loose.forall(r => r.getLong(1) === r.getLong(2)))
  }

  test("line dedup: planted hot line (30% of docs) broadcasts the dup set — no skewed shuffle") {
    import spark.implicits._
    // one boilerplate line planted in 30% of 1,000 docs: the classic skew
    // case where every copy of the hot line would funnel into a single
    // reducer if the anti-join shuffled the lines stream on line content
    val docs = spark.range(1000).select($"id".as("doc_id"),
      concat(
        when($"id" % 10 < 3, lit("SUBSCRIBE TO OUR NEWSLETTER\n")).otherwise(lit("")),
        lit("unique line "), $"id", lit("\ntail "), $"id").as("text"))
    val out = TextAnalysis.lineDedup(docs, "\n")
    // the dup set is tiny (one line) and FreshCheckpoint hands its REAL size
    // to Catalyst, so the anti-join must be a broadcast: the fat, skewed
    // lines stream is never shuffled at all
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.toLowerCase.contains("leftanti"), plan.take(2000))
    val rows = out.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(rows.size === 1000)
    // hot docs lost exactly the boilerplate line; others kept everything
    assert((0L until 1000L).forall { i =>
      val (nl, nk, text) = rows(i)
      if (i % 10 < 3) nl == 3 && nk == 2 && text == s"unique line $i\ntail $i"
      else nl == 2 && nk == 2 && text == s"unique line $i\ntail $i"
    })
  }

  test("filter cascade: reasons are sorted, keep iff no rule fires") {
    import spark.implicits._
    val d = Seq(
      (1L, "tiny xyzzyqw"), // too_short + low_stopword (+possibly more)
      (2L, ("the dog " * 40).trim), // long enough, stopworded, but repetitive
      (3L, ""), (4L, "   ")) // zero tokens: must still appear, rejected
      .toDF("doc_id", "text")
    val out = TextAnalysis.filterCascade(d)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    val (r1, k1) = out(1L)
    assert(!k1 && r1.contains("too_short") && r1.contains("low_stopword"))
    assert(r1.split(",").toSeq === r1.split(",").toSeq.sorted)
    val (r2, k2) = out(2L)
    assert(!k2 && r2.contains("high_repetition"))
    // zero-token docs produce no repetition grams — they must NOT vanish
    // from the audit (left join), and length rules still reject them
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    Seq(3L, 4L).foreach { id =>
      val (r, k) = out(id)
      assert(!k && r.contains("too_short"), s"doc $id: $r")
      assert(!r.contains("high_repetition"), "null rep_ratio must not fire")
    }
    // keep == empty reason list, by construction
    assert(out.values.forall { case (r, k) => k === r.isEmpty })
  }

  test("semantic dedup: planted duplicates collapse to the min-id keeper") {
    import spark.implicits._
    // 12 vectors in two tight groups + noise singletons; duplicates of the
    // group archetypes must collapse, singletons must survive
    // ids 0..3 seed the k=4 init centroids (kmeansCodebook takes the first
    // k vec_ids), so they must be DIVERSE; the dup groups live at higher
    // ids and snap to their nearest centroid together
    def v(base: Seq[Double], eps: Double) = base.map(_ + eps)
    val g1 = Seq(1.0, 0.0, 0.0, 5.0); val g2 = Seq(0.0, 3.0, 1.0, 0.0)
    val rows = Seq(
      (0L, Seq(9.0, -2.0, 4.4, 1.0)), (1L, Seq(-3.0, 7.0, 0.2, 2.2)),
      (2L, Seq(2.0, 2.0, -2.0, -2.0)), (3L, Seq(0.1, 0.1, 8.0, -1.0)),
      (4L, v(g1, 0.0)), (5L, v(g1, 0.001)), (6L, v(g1, 0.002)),
      (7L, v(g2, 0.0)), (8L, v(g2, 0.001)),
      (9L, Seq(-5.0, 1.0, 1.0, 1.0)), (10L, Seq(4.0, 4.0, 4.0, 4.0)),
      (11L, Seq(1.0, -1.0, 1.0, -1.0)))
    val emb = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = graft.ops.Similarity.semanticDedup(emb, k = 4, rounds = 2,
        threshold = 0.999)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size === 12)
    // group members share the min-id keeper (same cell: near-identical vecs)
    assert(Seq(5L, 6L).forall(i => out(i) === ((4L, false))))
    assert(out(4L) === ((4L, true)))
    assert(out(8L) === ((7L, false)) && out(7L) === ((7L, true)))
    // everything else keeps itself (pairwise cosines all below threshold)
    assert((Seq(0L, 1L, 2L, 3L) ++ (9L to 11L)).forall(i => out(i) === ((i, true))))

    // ids not starting at 0: init must take the k SMALLEST ids, not fail
    // to an empty codebook (which would silently report zero duplicates)
    val shifted = emb.select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val out2 = graft.ops.Similarity.semanticDedup(shifted, k = 4, rounds = 2,
        threshold = 0.999)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out2(1005L) === ((1004L, false)) && out2(1004L) === ((1004L, true)))
    assert(out2.values.count(_._2) === out.values.count(_._2))
  }

  test("PQ ANN: query's exact duplicate attains the minimal ADC distance") {
    import spark.implicits._
    val base = Seq(1.0, 2.0, -1.0, 0.5, 3.0, -2.0, 0.0, 1.5)
    def j(s: Seq[Double], e: Double) = s.map(_ + e)
    val rows = Seq(
      0L -> base, 1L -> j(base.map(-_), 0.1), 2L -> Seq.fill(8)(5.0),
      3L -> j(base, 2.0), 4L -> Seq.fill(8)(-4.0),
      5L -> base, // exact duplicate of query 0
      6L -> j(base, 0.5), 7L -> j(base, 0.5), // identical pair
      8L -> Seq(0.0, 0.0, 0.0, 0.0, 9.0, 9.0, 9.0, 9.0))
    val emb = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = graft.ops.Quantize.pqTopK(emb, m = 2, k = 2, rounds = 1,
        nQueries = 1, topK = 8).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("adist"), r.getAs[Int]("rank")))
    assert(out.length === 8) // 9 vectors minus the excluded self-match
    val byId = out.toMap
    val best = out.minBy(_._2._2)._2._1
    // the duplicate shares the query's codes, so its ADC distance is the
    // query's own quantization error — the attainable minimum
    assert(byId(5L)._1 === best, s"dup not at minimal adist: $out")
    // identical vectors encode identically → identical ADC distance
    assert(byId(6L)._1 === byId(7L)._1)
  }

  test("language-id argmax picks the profile with most markers") {
    import spark.implicits._
    val d = Seq(
      (1L, "der hund und die katze und das haus"),
      (2L, "the cat and the dog is here"),
      (3L, "el perro y la casa de los gatos"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.langId(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(out(1L) === "de")
    assert(out(2L) === "en")
    assert(out(3L) === "es")
  }

  test("fingerprint: identical docs share fingerprints; winnowing shrinks set") {
    val fp = TextAnalysis.fingerprint(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_fingerprints"), r.getAs[String]("min_fp")))
    val byId = fp.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byId(1L) === byId(2L))
    val nTokens = 12
    assert(byId(1L)._1 <= nTokens - 2) // ≤ #grams, strictly compressed
  }

  test("sorted_char_ngrams equals the relational formulation") {
    import spark.implicits._
    val texts = Seq("abcabcd", "xy", "aaa", "a", "", "héllo wörld").toDF("text")
    val native = texts.select(
      graft.expr.VectorOps.sortedCharNgrams(col("text"), 3).as("arr")).collect()
    val relational = texts.select(sort_array(array_distinct(expr(
      "transform(sequence(1, greatest(length(text) - 2, 0)), i -> substring(text, i, 3))")))
      .as("arr")).collect()
    // identical where the relational form is well-defined (len >= n); below
    // that the native form returns [] while sequence(1,0) degenerates
    texts.collect().map(_.getString(0)).zipWithIndex.foreach { case (t, i) =>
      if (t.length >= 3)
        assert(native(i).getSeq[String](0) === relational(i).getSeq[String](0), t)
      else assert(native(i).getSeq[String](0).isEmpty, t)
    }
  }

  test("sorted_word_shingles + minhash_sigs equal the composed formulations") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "  leading and\ttab\nnewline   runs  ",
      "one two", "one two three", "UPPER Case MiXeD words here",
      "héllo wörld ünïcode tokens again", "", "   \t\n  ",
      "dup dup dup dup dup").toDF("text")
    val native = texts.select(
      graft.expr.VectorOps.sortedWordShingles(col("text"), 3).as("arr"))
    val composed = texts
      .select(expr("filter(split(lower(text), '\\\\s+'), x -> x <> '')").as("ta"))
      .select(sort_array(array_distinct(expr(
        "if(size(ta) >= 3, transform(sequence(1, size(ta) - 2), " +
          "i -> concat_ws(' ', slice(ta, i, 3))), array())"))).as("arr"))
    native.collect().zip(composed.collect()).zip(texts.collect()).foreach {
      case ((n, c), t) =>
        assert(n.getSeq[String](0) === c.getSeq[String](0), t.getString(0))
    }
    // minhash mins: native one-pass vs per-index array_min(transform(md5))
    val arrs = native.filter(size(col("arr")) > 0)
    val nat = arrs.select((0 until 4).map(i =>
      graft.expr.VectorOps.minhashSigs(col("arr"), 4).getItem(i).as(s"h$i")): _*)
    val hof = arrs.select((0 until 4).map(i =>
      array_min(transform(col("arr"),
        t => md5(concat(lit(i.toString), lit(":"), t)))).as(s"h$i")): _*)
    nat.collect().zip(hof.collect()).foreach { case (a, b) =>
      (0 until 4).foreach(i => assert(a.getString(i) === b.getString(i)))
    }
  }

  test("simhash60 equals the explode + 60-vote aggregation formulation") {
    import spark.implicits._
    val texts = Seq((1L, "the quick brown fox the quick"), (2L, "alpha beta gamma"),
      (3L, "x"), (4L, "Mixed CASE mixed case"), (5L, "")).toDF("doc_id", "text")
    val native = graft.ops.Dedup.simhash(texts).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val toks = texts.select(col("doc_id"),
      explode(array_distinct(expr(
        "filter(split(lower(text), '\\\\s+'), x -> x <> '')"))).as("tok"))
    val withBits = toks.withColumn("th",
      conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val bitCols = (0 until 60).map { b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val votes = withBits.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
    val sig = (0 until 60).map(b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    val agg = votes.select(col("doc_id"), sig.as("simhash")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === agg)
    assert(!native.contains(5L), "empty doc must drop like an empty group")
  }

  test("sorted_array_intersect: overlap, disjoint, empty, self") {
    val rows = sqlSpark.sql(
      """SELECT
        | sorted_array_intersect(array('a','b','c'), array('b','c','d')) AS o1,
        | sorted_array_intersect(array('a','b'), array('x','y','z')) AS o2,
        | sorted_array_intersect(array(), array('a')) AS o3,
        | sorted_array_intersect(array('a','b','c'), array('a','b','c')) AS o4
      """.stripMargin).head()
    assert((rows.getLong(0), rows.getLong(1), rows.getLong(2), rows.getLong(3))
      === ((2L, 0L, 0L, 3L)))
  }

  test("as-of backward join: inclusive latest-at-or-before per key") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val left = Seq((100L, 1L, t(0)), (101L, 1L, t(5)), (102L, 1L, t(7)),
      (103L, 1L, t(12)), (104L, 2L, t(3)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((1L, t(1), 900L, 10.0), (1L, t(5), 901L, 20.0),
      (1L, t(10), 902L, 30.0))
      .toDF("user_id", "ts", "purchase_id", "purchase_value")
    val out = graft.ops.AsOf.joinBackward(left, right, "user_id", "ts")
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("asof_purchase_id")).map(_.toLong)).toMap
    assert(out(100L) === None)        // before any purchase
    assert(out(101L) === Some(901L))  // exact-ts purchase wins (inclusive)
    assert(out(102L) === Some(901L))  // carried forward
    assert(out(103L) === Some(902L))
    assert(out(104L) === None)        // other key never leaks
  }

  test("bucketed range join equals naive interval containment") {
    import spark.implicits._
    val points = spark.range(0, 1000)
      .select($"id".as("point_id"), ($"id" * 7 % 500).cast("double").as("v"))
    val intervals = spark.range(0, 200)
      .select($"id".as("interval_id"), ($"id" * 2).cast("double").as("lo"),
        ($"id" * 2 + 30).cast("double").as("hi"))
    val bucketed = graft.ops.RangeJoin
      .bucketed(points, intervals, "v", "lo", "hi", 25.0)
      .select("point_id", "interval_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.join(intervals, $"v" >= $"lo" && $"v" <= $"hi")
      .select("point_id", "interval_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed === naive)
    assert(naive.nonEmpty)
  }

  test("salted join equals plain join on skewed keys") {
    import spark.implicits._
    import graft.ops.SkewJoin
    // hot key: 90% of rows share key 1
    val left = spark.range(0, 5000)
      .select((when(col("id") % 10 < 9, 1L).otherwise(col("id"))).as("k"),
        col("id").as("payload"))
    val right = Seq((1L, "hot"), (7L, "cold"), (23L, "cold")).toDF("k", "tag")
    val plain = left.join(right, "k")
    val salted = SkewJoin.salted(left, right, "k", 8)
    assert(salted.columns.sorted.sameElements(plain.columns.sorted))
    assert(salted.count() === plain.count())
    assert(salted.agg(sum($"payload")).head().getLong(0) ===
      plain.agg(sum($"payload")).head().getLong(0))
    // hot key actually spread across multiple salt partitions
    val saltSpread = left.filter($"k" === 1L)
      .select(pmod(xxhash64(struct(left.columns.map(col): _*)), lit(8L)).as("s"))
      .distinct().count()
    assert(saltSpread > 1, "salting failed to spread the hot key")
  }

  test("hll distinct sketch: estimate within sketch error of exact count") {
    // q75 is arithmetic-exact vs the oracle; this asserts the SKETCH is
    // statistically sane: p=9 raw HLL has ~4.6% std error (no small-range
    // correction, so allow slack at n ≈ 2m).
    val r = Queries.queries("q75_hll_distinct")(spark, s"$testData/sf0.001")
      .collect()
    assert(r.length === 3)
    r.foreach { row =>
      val exact = row.getAs[Long]("n_exact").toDouble
      val est = row.getAs[Double]("hll_estimate")
      assert(math.abs(est - exact) / exact < 0.15,
        s"${row.getString(0)}: estimate $est vs exact $exact")
    }
  }

  test("multimodal: ingest metadata, chunk inventory, feature extraction") {
    val media = Multimodal.ingest(docs)
    val m = media.filter(col("media_id") === 1L).head()
    assert(m.getAs[Long]("n_bytes") === docs.filter(col("doc_id") === 1L)
      .head().getAs[String]("text").getBytes("UTF-8").length)
    val chunks = Multimodal.chunkInventory(media, 16)
    val c1 = chunks.filter(col("media_id") === 1L).collect()
    assert(c1.length === math.ceil(m.getAs[Long]("n_bytes") / 16.0).toInt)
    assert(c1.map(_.getAs[Long]("chunk_len")).sum === m.getAs[Long]("n_bytes"))
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length === 5)
    val f1 = feats.find(_.getLong(0) == 1L).get.getSeq[Float](1)
    val f2 = feats.find(_.getLong(0) == 2L).get.getSeq[Float](1)
    assert(f1 === f2) // deterministic decode: identical payloads → identical features
    assert(f1.length === 8)
  }

  test("clusterKeepers: longest copy wins its cluster; singletons keep themselves") {
    import spark.implicits._
    val kdocs = Seq(
      (1L, "a b c d e"),       // 5 tokens, cluster {1,2,3}
      (2L, "a b c d e f g"),   // 7 tokens -> the keeper
      (3L, "a b c"),           // 3 tokens
      (7L, "p q r"), (8L, "p q r"), // tie on 3 tokens -> smaller id keeps
      (9L, "z z z z")          // singleton
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val out = Dedup.clusterKeepers(kdocs, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(2L) === ((1L, 7L, true)))
    assert(out(1L) === ((1L, 5L, false)))
    assert(out(3L) === ((1L, 3L, false)))
    assert(out(7L) === ((7L, 3L, true)))  // tie-break: smallest doc_id
    assert(out(8L) === ((7L, 3L, false)))
    assert(out(9L) === ((9L, 4L, true)))
    // exactly one keeper per cluster, always
    val perCluster = out.values.groupBy(_._1).view.mapValues(_.count(_._3)).toMap
    assert(perCluster.values.forall(_ == 1))
  }
}
