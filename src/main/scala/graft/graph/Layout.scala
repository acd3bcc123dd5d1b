package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FreshCheckpoint
import org.apache.spark.sql.types.DoubleType

/** Force-directed layout (SURVEY §2 G10): the reference renders with
  * `nx.draw_spring` (`grapher.py:166-168`) and a client-side force simulation
  * (`static/js/graph.js:139-144`); this computes the layout coordinates as a
  * data-plane operator so GEXF/renders can consume them.
  *
  * Fruchterman–Reingold, GRID VARIANT (the original paper's §4.2 scale
  * strategy): repulsion acts only between vertices closer than `2k`
  * (k = √(area/n)); those pairs are found by bucketing positions into a grid
  * of cell width `2k` and equi-joining each vertex against its 3×3 neighbor
  * cells — any pair within the cutoff is necessarily within neighboring
  * cells, so the cutoff filter after the cell join loses nothing. Every step
  * is therefore a shuffle-on-key join/aggregate: no all-pairs cross join at
  * any scale, unlike exact FR's O(n²) repulsion.
  *
  * Determinism (cross-engine replayable, same discipline as the eigenvector
  * and simhash oracles): positions initialize from md5-derived uniforms, all
  * force sums and position updates round to 9 decimals each iteration —
  * summation-order ulp noise can't accumulate or flip a grid cell — and
  * cooling is the linear schedule t·(T−i+1)/T. IEEE sqrt/division/
  * multiplication are correctly rounded everywhere, so a SQL engine replays
  * the whole trajectory bit-for-bit.
  */
object Layout {

  /** md5-derived uniform in [0,1): 60 bits of the digest scaled down
    * (column twin of [[graft.expr.Hash60.h01]]). */
  private def h01(c: Column, salt: String): Column =
    graft.expr.Hash60.h60Col(concat(c, lit(salt)))
      .cast("double") / lit(math.pow(2, 60))

  /** Deterministic initial positions: (id, x, y) in [0,1)². */
  def initialPositions(vertices: DataFrame): DataFrame =
    vertices.select(col("id"),
      round(h01(col("id"), ":x"), 9).as("x"),
      round(h01(col("id"), ":y"), 9).as("y"))

  /** Short-range repulsion via the neighbor-cell equi-join: for each vertex,
    * Σ over vertices within `2k` of Δ·k²/d². Exposed for plan assertions. */
  private[graft] def repulsionForces(pos: DataFrame, k: Double): DataFrame = {
    val cut = 2 * k
    val home = pos.select(col("id"), col("x"), col("y"),
      floor(col("x") / cut).cast("long").as("cx"),
      floor(col("y") / cut).cast("long").as("cy"))
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    val probes = home.select(col("id"), col("x"), col("y"),
        col("cx"), col("cy"), explode(offsets).as("o"))
      .select(col("id"), col("x"), col("y"),
        (col("cx") + col("o.dx")).as("pcx"), (col("cy") + col("o.dy")).as("pcy"))
    val other = pos.select(col("id").as("id2"), col("x").as("x2"), col("y").as("y2"))
      .select(col("id2"), col("x2"), col("y2"),
        floor(col("x2") / cut).cast("long").as("pcx"),
        floor(col("y2") / cut).cast("long").as("pcy"))
    probes.join(other, Seq("pcx", "pcy"))
      .filter(col("id") =!= col("id2"))
      .withColumn("dist", sqrt((col("x") - col("x2")) * (col("x") - col("x2"))
        + (col("y") - col("y2")) * (col("y") - col("y2"))))
      .filter(col("dist") < cut)
      .withColumn("d", greatest(col("dist"), lit(1e-9)))
      .groupBy(col("id"))
      .agg(
        round(sum((col("x") - col("x2")) * (k * k) / (col("d") * col("d"))), 9).as("rfx"),
        round(sum((col("y") - col("y2")) * (k * k) / (col("d") * col("d"))), 9).as("rfy"))
  }

  /** Edge attraction: Σ over undirected neighbors of −Δ·d/k. */
  private def attractionForces(pos: DataFrame, und: DataFrame, k: Double): DataFrame = {
    val pu = pos.select(col("id").as("u"), col("x").as("ux"), col("y").as("uy"))
    val pv = pos.select(col("id").as("v"), col("x").as("vx"), col("y").as("vy"))
    und.join(pu, Seq("u")).join(pv, Seq("v"))
      .withColumn("dist", sqrt((col("ux") - col("vx")) * (col("ux") - col("vx"))
        + (col("uy") - col("vy")) * (col("uy") - col("vy"))))
      .groupBy(col("u").as("id"))
      .agg(
        round(sum(-(col("ux") - col("vx")) * col("dist") / k), 9).as("afx"),
        round(sum(-(col("uy") - col("vy")) * col("dist") / k), 9).as("afy"))
  }

  /** Spring layout to `iterations` rounds. Returns (id, x, y) — positions on
    * the unit-square scale (unclamped; consumers normalize for display).
    * A graph within `localCutoff` runs its rounds on a [[LocalGraph]] — ten
    * distributed rounds of checkpointed joins on a 30-node graph are pure
    * stage scheduling — with the identical arithmetic (same formulas, same
    * per-round HALF_UP 9-decimal rounding Spark's `round` applies), so both
    * paths and the SQL oracle agree. */
  def fruchtermanReingold(
      vertices: DataFrame,
      edges: DataFrame,
      iterations: Int = 50,
      t0: Double = 0.1,
      localCutoff: Long = graft.Limits.dimensionRows): DataFrame = {
    val und = edges.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(edges.select(col("dst").as("u"), col("src").as("v")))
      .filter(col("u") =!= col("v")).distinct()
    val local = LocalGraph(vertices,
      und.select(col("u").as("src"), col("v").as("dst")), localCutoff)
    val n = local.fold(vertices.count())(_.n.toLong)
    require(n > 0, "layout of an empty graph")
    val k = math.sqrt(1.0 / n)
    if (local.isDefined) return layoutLocal(local.get, iterations, t0, k)
    var pos = FreshCheckpoint(initialPositions(vertices))
    for (i <- 1 to iterations) {
      val t = t0 * (iterations - i + 1).toDouble / iterations
      val rep = repulsionForces(pos, k)
      val att = attractionForces(pos, und, k)
      val f = pos.join(rep, Seq("id"), "left").join(att, Seq("id"), "left")
        .select(col("id"), col("x"), col("y"),
          (coalesce(col("rfx"), lit(0.0)) + coalesce(col("afx"), lit(0.0))).as("fx"),
          (coalesce(col("rfy"), lit(0.0)) + coalesce(col("afy"), lit(0.0))).as("fy"))
      val upd = f
        .withColumn("len", sqrt(col("fx") * col("fx") + col("fy") * col("fy")))
        .withColumn("sc",
          when(col("len") > 0, least(col("len"), lit(t)) / col("len"))
            .otherwise(lit(0.0)))
        .select(col("id"),
          round(col("x") + col("fx") * col("sc"), 9).as("x"),
          round(col("y") + col("fy") * col("sc"), 9).as("y"))
      pos = FreshCheckpoint(upd)
    }
    pos
  }

  /** Driver-local rounds: same trajectory as the distributed loop.
    * Per-round 9-dp rounding makes summation-order ulp noise vanish before
    * it can diverge paths, exactly as it does between the Spark and DuckDB
    * evaluations. */
  private def layoutLocal(g: LocalGraph, iterations: Int, t0: Double,
      k: Double): DataFrame = {
    val cut = 2 * k
    // Spark round() semantics: decimal HALF_UP at scale 9
    def r9(v: Double): Double =
      BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ids = g.ids
    val es = g.internal
    val m = g.n
    val x = Array.tabulate(m)(i => r9(graft.expr.Hash60.h01(s"${ids(i)}:x")))
    val y = Array.tabulate(m)(i => r9(graft.expr.Hash60.h01(s"${ids(i)}:y")))
    for (it <- 1 to iterations) {
      val t = t0 * (iterations - it + 1).toDouble / iterations
      val fx = new Array[Double](m); val fy = new Array[Double](m)
      var i = 0
      while (i < m) { // short-range repulsion, same 2k cutoff as the grid find
        var rx = 0.0; var ry = 0.0
        var j = 0
        while (j < m) {
          if (j != i) {
            val dx = x(i) - x(j); val dy = y(i) - y(j)
            val dist = math.sqrt(dx * dx + dy * dy)
            if (dist < cut) {
              val d = math.max(dist, 1e-9)
              rx += dx * (k * k) / (d * d); ry += dy * (k * k) / (d * d)
            }
          }
          j += 1
        }
        fx(i) = r9(rx); fy(i) = r9(ry)
        i += 1
      }
      val ax = new Array[Double](m); val ay = new Array[Double](m)
      es.foreach { case (u, v) =>
        val dx = x(u) - x(v); val dy = y(u) - y(v)
        val dist = math.sqrt(dx * dx + dy * dy)
        ax(u) += -dx * dist / k; ay(u) += -dy * dist / k
      }
      i = 0
      while (i < m) {
        val tfx = fx(i) + r9(ax(i)); val tfy = fy(i) + r9(ay(i))
        val len = math.sqrt(tfx * tfx + tfy * tfy)
        val sc = if (len > 0) math.min(len, t) / len else 0.0
        x(i) = r9(x(i) + tfx * sc); y(i) = r9(y(i) + tfy * sc)
        i += 1
      }
    }
    g.frame(("x", DoubleType, i => x(i)), ("y", DoubleType, i => y(i)))
  }
}
