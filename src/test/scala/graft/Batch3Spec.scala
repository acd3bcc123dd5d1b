package graft

import org.apache.spark.sql.functions._

import graft.graph.Analytics

/** Round-2 batch-3 operators: per-vertex clustering coefficients. */
class Batch3Spec extends SparkTestBase {

  import spark.implicits._

  test("localClustering: square with one diagonal") {
    // 1-2, 2-3, 3-4, 1-4, 1-3 → triangles {1,2,3} and {1,3,4}
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L)).toDF("a", "b")
    // twice: as planned, then with no automatic broadcast, so the attaches
    // of the oriented adjacency run as shuffle joins
    def check(): Unit = {
      val got = Analytics.localClustering(e)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
      assert(got(1L) === ((3L, 2L, 0.666667)))
      assert(got(2L) === ((2L, 1L, 1.0)))
      assert(got(3L) === ((3L, 2L, 0.666667)))
      assert(got(4L) === ((2L, 1L, 1.0)))
    }
    check()
    withoutAutoBroadcast(check())
  }

  test("deterministicWalks: complete paths, every hop follows an edge, stable") {
    val e = (for (a <- 0L until 20L; b <- 0L until 20L
      if a != b && (a * 7 + b * 13) % 3 == 0) yield (a, b)).toDF("a", "b")
    val edgeSet = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val walks = Analytics.deterministicWalks(e, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byWalker = walks.groupBy(_._1)
    byWalker.foreach { case (w, rows) =>
      val path = rows.sortBy(_._2).map(_._3)
      assert(path.length === 4, s"walker $w truncated")
      assert(path.head === w)
      path.sliding(2).foreach { case Array(u, v) =>
        assert(edgeSet((u, v)), s"walker $w hopped $u->$v without an edge")
      }
    }
    val again = Analytics.deterministicWalks(e, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(walks.toSet === again.toSet)
  }

  test("localClustering: K4 all 1.0, C4 all 0.0, vertex totals sum to 3×triangles") {
    val k4 = (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)).toDF("a", "b")
    assert(Analytics.localClustering(k4).collect()
      .forall(r => r.getDouble(3) == 1.0 && r.getLong(2) == 3L))

    val c4 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L)).toDF("a", "b")
    assert(Analytics.localClustering(c4).collect().forall(_.getDouble(3) == 0.0))

    // pseudo-random graph with a hub: Σ per-vertex triangles = 3 × global count
    val rnd = (for (a <- 0L until 40L; b <- 0L until 40L
      if a < b && (a == 0 || (a * 31 + b * 17) % 5 == 0)) yield (a, b)).toDF("a", "b")
    val global = Analytics.triangleCount(rnd).head().getLong(0)
    val sumTri = Analytics.localClustering(rnd).agg(sum("tri")).head().getLong(0)
    assert(sumTri === 3L * global)
  }
}
