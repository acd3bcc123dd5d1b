package graft

import org.apache.spark.sql.functions._
import graft.ops.{Similarity, TrainingData}
import graft.graph.Analytics

/** Planted-case specs for the round-6 batch-4 operators: k-truss peeling,
  * mutual-kNN symmetrization, exact stratified folds. */
class Round6Batch4Spec extends SparkTestBase {
  import spark.implicits._

  test("kTruss keeps the clique, peels the pendant triangle chain") {
    // K4 on {1,2,3,4}: every edge in 2 triangles → survives k=4 (support ≥ 2).
    // Triangle {4,5,6} hangs off node 4: each of its edges is in exactly 1
    // triangle → peeled in round 1, and the K4 is unaffected in round 2.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val pendant = Seq((4L, 5L), (4L, 6L), (5L, 6L))
    // twice: as planned, then with no automatic broadcast, so the attaches
    // of the oriented adjacency run as shuffle joins
    def check(): Unit = {
      val out = Analytics.kTruss((k4 ++ pendant).toDF("a", "b"), k = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(out.keySet === k4.toSet)
      assert(out.values.forall(_ === 2L)) // inside K4 every edge has support 2
    }
    check()
    withoutAutoBroadcast(check())
  }

  test("kTruss round-2 peeling catches edges whose support only drops after round 1") {
    // two triangles sharing edge (1,2): (1,2) has support 2, the other four
    // edges support 1. Round 1 peels the four → round 2 sees (1,2) aloneI
    // with support 0 → peeled. k=4 truss is empty.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
    assert(Analytics.kTruss(edges.toDF("a", "b"), k = 4).isEmpty)
  }

  test("kTruss degenerate k <= 2 keeps triangle-free edges with support 0") {
    // a bare path has no triangles; support >= k - 2 = 0 must keep every
    // edge (the r6 inner join silently dropped them)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val out = Analytics.kTruss(path.toDF("a", "b"), k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet === path.toSet)
    assert(out.values.forall(_ === 0L))
    assertThrows[IllegalArgumentException](
      Analytics.kTruss(path.toDF("a", "b"), k = 2, rounds = 0))
  }

  test("mutualKnn keeps only reciprocated links and bounds degree by k") {
    // cluster of 4 mutually-close vectors plus a far outlier whose kNN list
    // contains cluster members, but no cluster member reciprocates at k=2
    val cluster = (1 to 4).map(i => (i.toLong, Array(1.0f, 0.01f * i), 0))
    val outlier = Seq((9L, Array(0.0f, -1.0f), 0))
    val emb = (cluster ++ outlier).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.mutualKnn(emb, k = 2, cellK = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => a < b && a <= 4 && b <= 4 })
    val deg = pairs.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map(_._2.size)
    assert(deg.forall(_ <= 2)) // mutuality bounds degree at k
  }

  test("stratifiedFolds deals every stratum round-robin: exact fold balance") {
    val docs = (1L to 103L).map(i =>
      (i, if (i % 2 == 0) "en" else "de", s"s${i % 3}")).toDF("doc_id", "lang", "source")
    val out = TrainingData.stratifiedFolds(docs, folds = 5)
    val sizes = out.groupBy("lang", "source", "fold").count().collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (_, rows) => rows.map(_.getLong(3)) }
    // within every stratum, fold sizes differ by at most 1
    sizes.foreach(fs => assert(fs.max - fs.min <= 1))
    assert(out.count() === 103)
  }

  test("stratifiedFolds two-phase rank equals the single-window stratum rank") {
    val docs = (1L to 400L).map(i => (i, "en", s"s${i % 2}"))
      .toDF("doc_id", "lang", "source")
    val twoPhase = TrainingData.stratifiedFolds(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang", $"source")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    val single = docs.withColumn("fold", (row_number().over(w) - 1) % 5)
      .collect().map(r => r.getLong(0) -> r.getInt(3).toLong).toMap
    assert(twoPhase === single)
  }
}
