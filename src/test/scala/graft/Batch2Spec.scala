package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

import graft.graph.Analytics
import graft.ops.{BloomJoin, TextAnalysis}

/** Round-2 batch-2 operators: triangle counting, fixed-round SSSP, sparse
  * TF-IDF similarity, bloom-pruned semi join. */
class Batch2Spec extends SparkTestBase {

  import spark.implicits._

  test("triangle count: K4 has 4, C4 has 0; equals naive 3-join on a dense graph") {
    // twice: as planned, then with no automatic broadcast, so the attaches
    // of the oriented adjacency run as shuffle joins
    def check(): Unit = {
      val k4 = (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)).toDF("a", "b")
      assert(Analytics.triangleCount(k4).head().getLong(0) === 4L)

      val c4 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L)).toDF("a", "b")
      assert(Analytics.triangleCount(c4).head().getLong(0) === 0L)

      // deterministic pseudo-random graph incl. a hub (node 0 connected to all)
      val rnd = (for (a <- 0L until 40L; b <- 0L until 40L
        if a < b && (a == 0 || (a * 31 + b * 17) % 5 == 0)) yield (a, b)).toDF("a", "b")
      val naive = rnd.as("e1")
        .join(rnd.as("e2"), col("e2.a") === col("e1.b"))
        .join(rnd.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .count()
      assert(Analytics.triangleCount(rnd).head().getLong(0) === naive)
    }
    check()
    withoutAutoBroadcast(check())
  }

  test("sssp: exact distances on a weighted path+shortcut; distributed equals local") {
    // 0 -5-> 1 -1-> 2, 0 -1-> 3 -1-> 2 : dist(2) = 2 via the detour, not 6
    val e = Seq((0L, 1L, 5L), (1L, 2L, 1L), (0L, 3L, 1L), (3L, 2L, 1L))
      .toDF("a", "b", "w")
    val local = Analytics.sssp(e, 0L, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === Map(0L -> 0L, 1L -> 5L, 2L -> 2L, 3L -> 1L))
    val dist = Analytics.sssp(e, 0L, rounds = 4, localCutoff = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === local)
    // too few rounds: node 2's best path (2 hops) not yet relaxed at rounds=1
    val r1 = Analytics.sssp(e, 0L, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 === Map(0L -> 0L, 1L -> 5L, 3L -> 1L))
    // int ids: both paths return the distributed path's schema (bigint ids)
    val ei = e.select(col("a").cast("int").as("a"), col("b").cast("int").as("b"),
      col("w").cast("int").as("w"))
    val localI = Analytics.sssp(ei, 0L, rounds = 4)
    val distI = Analytics.sssp(ei, 0L, rounds = 4, localCutoff = 0)
    assert(fields(localI) === fields(distI))
    assert(fields(distI) === Seq("id" -> LongType, "dist" -> LongType))
    assert(localI.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === local)
  }

  private def fields(df: DataFrame): Seq[(String, DataType)] =
    df.schema.map(f => f.name -> f.dataType)

  test("tfidf pairs: planted rare-term twins found; stopword-only overlap is not a pair") {
    val docs = Seq(
      (1L, "the quick zephyr xylophone quandary meets the rare zephyr xylophone"),
      (2L, "a quick zephyr xylophone quandary meets a rare zephyr xylophone"),
      (3L, "the common words the common words the common words entirely"),
      (4L, "the common words the common words the common words entirely"),
      (5L, "unrelated gibberish flurble wombat")).toDF("doc_id", "text")
    // dfCap=3 drops "the"(df 3)… keeps rare terms (df 2)
    val pairs = TextAnalysis.tfidfPairs(docs, dfCap = 3, threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("kcore: pendant peeled, triangle survives 2-core; distributed equals local") {
    // triangle 0-1-2 plus pendant 3 hanging off 0
    val canon = Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L)).toDF("a", "b")
    val und = canon.unionByName(canon.select(col("b").as("a"), col("a").as("b")))
    val local = Analytics.kcore(und, k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    val dist = Analytics.kcore(und, k = 2, rounds = 4, localCutoff = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === local)
    // 3-core of a triangle is empty
    assert(Analytics.kcore(und, k = 3, rounds = 4).count() === 0L)
    // int ids: both paths keep the input's id type
    val undI = und.select(col("a").cast("int").as("a"), col("b").cast("int").as("b"))
    val localI = Analytics.kcore(undI, k = 2, rounds = 4)
    val distI = Analytics.kcore(undI, k = 2, rounds = 4, localCutoff = 0)
    assert(fields(localI) === fields(distI))
    assert(fields(distI) === Seq("id" -> IntegerType, "deg" -> LongType))
    assert(localI.collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap === local)
  }

  test("lsh top-k: identical vectors share a bucket and rank first") {
    val dim = 64
    def vec(seed: Int): Seq[Float] =
      (0 until dim).map(d => (((seed * 31 + d * 7) % 13) - 6).toFloat / 3f)
    val rows = (0L until 40L).map(i => (i, vec(i.toInt % 20))) // pairs of twins
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = graft.ops.Similarity.lshTopK(emb, queries, nPlanes = 4, dim = dim, k = 5)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every query has at least one identical twin (i vs i+20, plus any seed
    // aliasing) → the rank-1 hit must be one of them: cos 1.0, same vector
    assert(top.map(_._1).toSet === Set(0L, 1L, 2L))
    top.foreach { case (q, hit, cos) =>
      assert(cos === 1.0, s"query $q rank-1 $hit")
      assert(vec(hit.toInt % 20) === vec(q.toInt % 20))
    }
  }

  test("multimodal long features: byte-fold matches a hand computation") {
    val docs = Seq((7L, "abcdefghij")).toDF("doc_id", "text")
    val out = graft.ops.Multimodal.extractFeaturesLong(
        graft.ops.Multimodal.ingest(docs))
      .collect().head
    val feats = out.getSeq[Long](1)
    // 'a'=97..'j'=106; positions 0..9 fold mod 8 → k0: 97+105, k1: 98+106
    assert(out.getLong(0) === 7L)
    assert(feats === Seq(202L, 204L, 99L, 100L, 101L, 102L, 103L, 104L))
  }

  test("bloom-pruned semi join equals plain semi join") {
    val li = spark.read.parquet(s"$testData/sf0.001/lineitem.parquet")
    val sup = spark.read.parquet(s"$testData/sf0.001/supplier.parquet")
      .filter(col("s_acctbal") > 5000.0)
    val pruned = BloomJoin.prunedSemiJoin(li, "l_suppkey", sup, "s_suppkey",
      expectedNumItems = 10000L, fpp = 0.01)
    val plain = li.join(sup.select(col("s_suppkey").as("l_suppkey")).distinct(),
      Seq("l_suppkey"), "left_semi")
    assert(pruned.count() === plain.count())
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
  }
}
