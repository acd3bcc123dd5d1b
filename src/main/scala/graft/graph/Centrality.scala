package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FreshCheckpoint
import org.apache.spark.sql.types.DoubleType

import scala.collection.mutable

/** Centrality measures (`utils/analyze.py:156-209`).
  *
  * - degree centrality: pure DataFrame arithmetic (deg / (n-1)).
  * - eigenvector: distributed power iteration — one shuffle per round,
  *   L2-normalized, None-on-non-convergence contract like the reference
  *   (`utils/analyze.py:169-174`).
  * - betweenness: adaptive Brandes. On a [[LocalGraph]] (dimension scale,
  *   like the reference's 17k nodes) the adjacency is broadcast once and
  *   each partition of sources runs independent exact single-source passes,
  *   partial scores summed by key. Above the cutoff nothing touches the
  *   driver: k-sampled Brandes runs as level-synchronous DataFrame joins
  *   (forward BFS for sigma, backward accumulation for delta).
  * - pageRank and personalizedPageRank: one kernel, uniform or seeded
  *   teleport.
  */
object Centrality {

  /** In/out/total degree centrality: degree / (n-1)
    * (`nx.in_degree_centrality`, `utils/analyze.py:161-164`). The n−1
    * divisor stays IN the plan as a broadcast single-row aggregate — a
    * driver-side count() action would re-evaluate the caller's (possibly
    * expensive) vertex derivation once per call just to fetch a scalar. */
  def degreeCentrality(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val nm1 = vertices.agg((count(lit(1)) - 1).cast("double").as("nm1"))
    Analytics.degrees(vertices, edges)
      .crossJoin(broadcast(nm1))
      .withColumn("inCentrality", col("inDeg") / col("nm1"))
      .withColumn("outCentrality", col("outDeg") / col("nm1"))
      .withColumn("centrality", col("deg") / col("nm1"))
      .drop("nm1")
  }

  /** Eigenvector centrality by power iteration on the (directed) edge table:
    * x' = A^T x (mass flows src→dst, matching networkx's left-eigenvector
    * convention), L2-normalized each round.
    * Returns None if |x_t - x_{t-1}|_1 > n*tol after maxIter rounds
    * (the reference catches PowerIterationFailedConvergence → None).
    * A graph within `localCutoff` iterates on a [[LocalGraph]] with nx's
    * exact L1 rule; a larger one runs the distributed join loop below.
    */
  def eigenvector(
      vertices: DataFrame,
      edges: DataFrame,
      maxIter: Int = 100,
      tol: Double = 1e-6,
      localCutoff: Long = graft.Limits.dimensionRows): Option[DataFrame] =
    LocalGraph(vertices, edges, localCutoff) match {
      case Some(g) => eigenvectorLocal(g, maxIter, tol)
      case None => eigenvectorDistributed(vertices, edges, maxIter, tol)
    }

  private def eigenvectorDistributed(
      vertices: DataFrame,
      edges: DataFrame,
      maxIter: Int,
      tol: Double): Option[DataFrame] = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val n = vertices.count()
    val e = FreshCheckpoint(edges.select($"src", $"dst"))
    // x' = x + A^T x (networkx adds the self term via A+I implicitly through
    // its hub-start; follow nx.eigenvector_centrality: x' = x*0 + A^T x + x).
    // The recurrence is linear, so iterates are kept UNNORMALIZED (values
    // grow ~λ^t; doubles hold ~600 rounds of λ≈3 — far past any maxIter) and
    // normalization happens implicitly inside the convergence check and once
    // at the end. Convergence is checked every CHECK_EVERY rounds with a
    // single aggregation over consecutive iterates: for normalized vectors,
    // ‖x̂_t − x̂_{t−1}‖₂² = 2 − 2C/(√A√B) with A=Σx_t², B=Σx_{t−1}²,
    // C=Σx_t·x_{t−1}; L1 ≤ √n·L2, so L2² ≤ n·tol² implies the reference's nx
    // check Σ|Δ| < n·tol — conservative (never declares convergence nx
    // wouldn't). Job count per round drops from 2–3 to ~1/CHECK_EVERY plus a
    // checkpoint each CHECK_EVERY rounds to cap lineage; at cluster scale the
    // per-round contrib join dominates and the cadence only bounds plan depth.
    val checkEvery = 3
    var x = FreshCheckpoint(
      vertices.select($"id", lit(1.0 / math.sqrt(n.toDouble)).as("score")))
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val next = plusAtx(e, x)
      it += 1
      if (it % checkEvery == 0 || it == maxIter) {
        val joined = next.join(
          x.withColumnRenamed("score", "prevScore"), Seq("id"))
        val (a, b, c) = joined.agg(
          sum($"score" * $"score"), sum($"prevScore" * $"prevScore"),
          sum($"score" * $"prevScore")).as[(Double, Double, Double)].head()
        val denom = math.sqrt(a) * math.sqrt(b)
        val deltaL2Sq =
          if (denom == 0) 2.0 else math.max(0.0, 2.0 - 2.0 * c / denom)
        converged = deltaL2Sq <= n * tol * tol
        x = FreshCheckpoint(next)
      } else x = next
    }
    if (!converged) None
    else {
      val norm = math.sqrt(x.agg(sum($"score" * $"score")).as[Double].head())
      Some(x.select($"id", ($"score" / (if (norm == 0) 1.0 else norm)).as("score")))
    }
  }

  /** One distributed step of x' = x + Aᵀx over (id, score) rows. */
  private def plusAtx(e: DataFrame, x: DataFrame): DataFrame = {
    val contrib = e.join(x.withColumnRenamed("id", "src"), Seq("src"))
      .groupBy(col("dst").as("id")).agg(sum(col("score")).as("inc"))
    x.join(contrib, Seq("id"), "left")
      .select(col("id"), (col("score") + coalesce(col("inc"), lit(0.0))).as("score"))
  }

  /** Fixed-round power iteration: x' = x + Aᵀx for exactly `iters` rounds,
    * L2-normalized ONCE at the end. The recurrence is linear, so per-round
    * normalization only rescales — skipping it changes nothing but makes the
    * round count (and hence the result) fully deterministic, which is what
    * lets a SQL oracle replay the identical computation (the convergence-
    * gated [[eigenvector]] stops at a data-dependent round, and its
    * still-converging iterate can't be reproduced portably). Runs on a
    * [[LocalGraph]] within `localCutoff`, else as the join loop with
    * checkpoint cadence. */
  def powerIterationFixed(
      vertices: DataFrame,
      edges: DataFrame,
      iters: Int,
      localCutoff: Long = graft.Limits.dimensionRows): DataFrame =
    LocalGraph(vertices, edges, localCutoff) match {
      case Some(g) =>
        val es = g.internal
        var x = Array.fill(g.n)(1.0)
        var it = 0
        while (it < iters) {
          val next = x.clone()
          es.foreach { case (s, d) => next(d) += x(s) }
          x = next
          it += 1
        }
        val norm = math.sqrt(x.map(v => v * v).sum)
        val scale = if (norm == 0) 1.0 else norm
        g.frame(("score", DoubleType, i => x(i) / scale))
      case None =>
        val e = FreshCheckpoint(edges.select(col("src"), col("dst")))
        var x = FreshCheckpoint(vertices.select(col("id"), lit(1.0).as("score")))
        var it = 0
        while (it < iters) {
          val next = plusAtx(e, x)
          it += 1
          x = if (it % 3 == 0 || it == iters) FreshCheckpoint(next) else next
        }
        val norm = math.sqrt(x.agg(sum(col("score") * col("score"))).head().getDouble(0))
        x.select(col("id"), (col("score") / (if (norm == 0) 1.0 else norm)).as("score"))
    }

  /** PageRank, fixed `iters` rounds with dangling-mass redistribution:
    * pr'(v) = (1-d)/n + d·(Σ_{u→v} pr(u)/outdeg(u) + dangling/n).
    * Deterministic round count → SQL-oracle-replayable (same rationale as
    * [[powerIterationFixed]]). It is [[personalizedPageRank]] with every
    * vertex a seed: the same kernel, teleporting 1/n to each vertex. */
  def pageRank(
      vertices: DataFrame,
      edges: DataFrame,
      iters: Int = 20,
      damping: Double = 0.85,
      localCutoff: Long = graft.Limits.dimensionRows): DataFrame =
    teleportWalk(vertices, edges, None, iters, damping, localCutoff)

  /** Personalized PageRank, fixed `iters` rounds: teleport (and dangling
    * mass) return to the SEED distribution instead of uniformly —
    * ppr'(v) = (1−d)·e(v) + d·(Σ_{u→v} ppr(u)/outdeg(u) + dangling·e(v)),
    * e = uniform over `seeds`. The recommender/locality variant of
    * [[pageRank]] (scores concentrate around the seed neighborhood).
    * Deterministic round count → the oracle replays every round. */
  def personalizedPageRank(
      vertices: DataFrame,
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int = 8,
      damping: Double = 0.85,
      localCutoff: Long = graft.Limits.dimensionRows): DataFrame =
    // dedupe seeds up front: a duplicated seed row would otherwise fan the
    // vertex row out through the broadcast join and double-count its mass
    // (and the local path would disagree with the distributed one)
    teleportWalk(vertices, edges, Some(seeds.select(col("id")).distinct()),
      iters, damping, localCutoff)

  /** The PageRank kernel with teleport weights w, starting from x = w:
    * x'(v) = (1−d)·w(v) + d·(Σ_{u→v} x(u)/outdeg(u) + dangling·w(v)).
    * `seeds` None puts 1/n on every vertex; Some puts 1/|seeds| on each
    * (distinct) seed. outdeg counts every edge whose src is a vertex, its
    * dst one or not; mass sent to a dst outside the vertex set leaves the
    * graph, on both paths. A graph within `localCutoff` iterates on a
    * [[LocalGraph]] (measured ~5 s → <1 s on q124's 15k-node graph). The
    * distributed loop broadcasts the weights onto the vertex frame once;
    * per round it runs one contrib-join shuffle, with the dangling mass
    * folded into the SAME plan as a broadcast single-row aggregate — no
    * per-round driver action, so the only jobs are the every-3-rounds
    * checkpoints (a driver-side dangling collect re-ran up to 3 rounds of
    * lineage per iteration; measured ~2× on the 8-round q124). */
  private def teleportWalk(
      vertices: DataFrame,
      edges: DataFrame,
      seeds: Option[DataFrame],
      iters: Int,
      damping: Double,
      localCutoff: Long): DataFrame =
    LocalGraph(vertices, edges, localCutoff) match {
      case Some(g) =>
        val w = new Array[Double](g.n)
        seeds match {
          case None => java.util.Arrays.fill(w, 1.0 / g.n)
          case Some(s) =>
            val seedIds = s.collect().map(_.get(0))
            seedIds.flatMap(g.index.get).foreach(i => w(i) = 1.0 / seedIds.length)
        }
        val outdeg = new Array[Long](g.n)
        g.src.foreach(s => outdeg(s) += 1)
        val es = g.internal
        var x = w.clone()
        var it = 0
        while (it < iters) {
          var dangling = 0.0
          var i = 0
          while (i < g.n) { if (outdeg(i) == 0) dangling += x(i); i += 1 }
          val inc = new Array[Double](g.n)
          es.foreach { case (s, d) => inc(d) += x(s) / outdeg(s) }
          val next = new Array[Double](g.n)
          i = 0
          while (i < g.n) {
            next(i) = (1.0 - damping) * w(i) + damping * (inc(i) + dangling * w(i))
            i += 1
          }
          x = next
          it += 1
        }
        g.frame(("score", DoubleType, i => x(i)))
      case None =>
        val spark = vertices.sparkSession
        import spark.implicits._
        val e = FreshCheckpoint(edges.select($"src", $"dst"))
        val od = e.groupBy($"src".as("id")).agg(count(lit(1)).as("outdeg"))
        val v0 = vertices.select($"id")
          .join(od, Seq("id"), "left").na.fill(0L, Seq("outdeg"))
        val v = FreshCheckpoint(seeds match {
          case None => v0.withColumn("w", lit(1.0 / vertices.count()))
          case Some(s) =>
            v0.join(broadcast(s.select($"id", lit(1.0 / s.count()).as("w"))),
              Seq("id"), "left").na.fill(0.0, Seq("w"))
        })
        var x = v.select($"id", $"outdeg", $"w", $"w".as("score"))
        var it = 0
        while (it < iters) {
          val dangling = x.filter($"outdeg" === 0)
            .agg(coalesce(sum($"score"), lit(0.0)).as("dang"))
          val contrib = e.join(
              x.filter($"outdeg" > 0) // dangling rows: no out-edges, and ANSI mode rejects the 0-divisor
                .select($"id".as("src"), ($"score" / $"outdeg").as("c")), Seq("src"))
            .groupBy($"dst".as("id")).agg(sum($"c").as("inc"))
          val next = x.select($"id", $"outdeg", $"w").join(contrib, Seq("id"), "left")
            .crossJoin(broadcast(dangling)) // single-row scalar, stays in-plan
            .select($"id", $"outdeg", $"w",
              (lit(1.0 - damping) * $"w" + lit(damping) *
                (coalesce($"inc", lit(0.0)) + $"dang" * $"w")).as("score"))
          it += 1
          x = if (it % 3 == 0 || it == iters) FreshCheckpoint(next) else next
        }
        x.select($"id", $"score")
    }

  /** Driver-local power iteration: exactly networkx's semantics —
    * x' = x + A^T x, L2-normalized each round, stop when
    * Σ|x_t − x_{t−1}| < n·tol, None after maxIter (nx's
    * PowerIterationFailedConvergence contract). */
  private def eigenvectorLocal(
      g: LocalGraph,
      maxIter: Int,
      tol: Double): Option[DataFrame] = {
    val n = g.n
    val es = g.internal
    var x = Array.fill(n)(1.0 / math.sqrt(n.toDouble))
    var it = 0
    var converged = n == 0 // the empty vector is its own fixpoint
    while (it < maxIter && !converged) {
      val next = x.clone()
      es.foreach { case (s, d) => next(d) += x(s) }
      val norm = math.sqrt(next.map(v => v * v).sum)
      val scale = if (norm == 0) 1.0 else norm
      var i = 0; var delta = 0.0
      while (i < n) { next(i) /= scale; delta += math.abs(next(i) - x(i)); i += 1 }
      converged = delta < n * tol
      x = next
      it += 1
    }
    if (!converged) None
    else Some(g.frame(("score", DoubleType, i => x(i))))
  }

  /** Betweenness centrality (Brandes 2001). A graph within `localCutoff`
    * runs exact single-source passes from its [[LocalGraph]], embarrassingly
    * parallel over sources with the adjacency broadcast
    * ([[betweennessLocal]]); above it NOTHING is collected to
    * the driver — k-sampled Brandes runs as level-synchronous multi-source
    * BFS + backward dependency accumulation, all shuffle-on-(source, vertex)
    * DataFrame joins ([[betweennessDistributed]]).
    *
    * @param normalized divide by (n-1)(n-2) like networkx's directed default.
    * @param sampleSources if set, run from a deterministic sample of k sources
    *        (estimator scales by n/k). Above `localCutoff` this defaults to
    *        64 sources — exact all-source Brandes is O(n·m) and not a thing
    *        anyone runs on a 100 TB graph.
    */
  def betweenness(
      vertices: DataFrame,
      edges: DataFrame,
      normalized: Boolean = true,
      sampleSources: Option[Int] = None,
      localCutoff: Long = graft.Limits.dimensionRows): DataFrame =
    LocalGraph(vertices, edges, localCutoff) match {
      case Some(g) => betweennessLocal(g, normalized, sampleSources)
      case None => betweennessDistributed(vertices, edges, normalized,
        sampleSources.getOrElse(64), vertices.count())
    }

  private def betweennessLocal(
      g: LocalGraph,
      normalized: Boolean,
      sampleSources: Option[Int]): DataFrame = {
    val nV = g.n
    val adjArr: Array[Array[Int]] = {
      val tmp = Array.fill(nV)(mutable.ArrayBuffer.empty[Int])
      g.internal.foreach { case (s, d) => tmp(s) += d }
      tmp.map(_.toArray.sorted)
    }
    val bcAdj = g.spark.sparkContext.broadcast(adjArr)

    val sources: Seq[Int] = sampleSources match {
      case Some(k) if k < nV =>
        // same hash-mod rule as [[sampleSourceIds]] so the distributed twin
        // picks the identical source set (AnalyticsSpec asserts 1e-9 parity)
        val step = math.max(1L, nV.toLong / k)
        val hash = (0 until nV).map(i => graft.expr.Hash60.h60(g.ids(i).toString))
        val sel = (0 until nV).filter(i => hash(i) % step == 0)
        if (sel.nonEmpty) sel else Seq((0 until nV).minBy(hash))
      case _ => 0 until nV
    }
    val scale = nV.toDouble / sources.size

    val partials = g.spark.sparkContext
      .parallelize(sources, math.max(1, math.min(sources.size, 256)))
      .mapPartitions { srcIter =>
        val adj = bcAdj.value
        val n = adj.length
        val acc = new Array[Double](n)
        srcIter.foreach { s =>
          // single-source Brandes (BFS, unweighted)
          val sigma = new Array[Double](n); sigma(s) = 1.0
          val dist = Array.fill(n)(-1); dist(s) = 0
          val preds = Array.fill(n)(List.empty[Int])
          val stack = mutable.ArrayBuffer.empty[Int]
          val queue = mutable.Queue(s)
          while (queue.nonEmpty) {
            val v = queue.dequeue()
            stack += v
            adj(v).foreach { w =>
              if (dist(w) < 0) { dist(w) = dist(v) + 1; queue.enqueue(w) }
              if (dist(w) == dist(v) + 1) { sigma(w) += sigma(v); preds(w) ::= v }
            }
          }
          val deltaArr = new Array[Double](n)
          stack.reverseIterator.foreach { w =>
            preds(w).foreach { v =>
              deltaArr(v) += sigma(v) / sigma(w) * (1.0 + deltaArr(w))
            }
            if (w != s) acc(w) += deltaArr(w)
          }
        }
        Iterator.single(acc)
      }
      .treeReduce { (a, b) => var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }

    val denom =
      if (normalized && nV > 2) (nV - 1).toDouble * (nV - 2) else 1.0
    g.frame(("betweenness", DoubleType, i => partials(i) * scale / denom))
  }

  /** Deterministic sort-free source sample shared by both Brandes paths:
    * keep ids where h60(id) % step == 0 with step = max(1, n/k) — ~k sources
    * in expectation, scale-corrected by the realized count. A pure filter
    * over the vertex scan: no total order, no Window, no single-partition
    * exchange (the `Window.orderBy(id)` + `row_number` rule this replaces
    * funneled the ENTIRE vertex set through one sort task — the first stage
    * to die on a billion-vertex graph). PlanSpec machine-checks the plan. */
  private[graft] def sampleSourceIds(vertices: DataFrame, k: Int, nV: Long): DataFrame = {
    val step = math.max(1L, nV / math.min(k.toLong, math.max(1L, nV)))
    vertices.select(col("id"))
      .filter(graft.expr.Hash60.h60Col(col("id")) % step === 0)
  }

  /** Distributed k-sampled Brandes: never materializes the graph on the
    * driver. Sources are the same deterministic hash-mod sample as the local
    * path ([[sampleSourceIds]]). Phase 1 is a level-synchronous BFS carrying
    * (source, vertex, dist, sigma) — one equi-join on the edge key per
    * level, frontier checkpointed per round so lineage and stats stay
    * grounded. Phase 2 replays levels deepest-first, accumulating Brandes
    * dependencies delta(v) = Σ_w sigma_v/sigma_w·(1+delta_w) over the same
    * edge join. State is O(k·n) rows, partitioned by (source, vertex) —
    * shuffle-on-key all the way; round count is O(diameter) each phase. */
  private def betweennessDistributed(
      vertices: DataFrame,
      edges: DataFrame,
      normalized: Boolean,
      k: Int,
      nV: Long): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val e = FreshCheckpoint(edges.select($"src", $"dst"))

    // deterministic hash-mod sample, identical rule to the local path
    val srcs0 = sampleSourceIds(vertices, k, nV)
    var kActual = srcs0.count()
    val srcs =
      if (kActual > 0) srcs0
      else {
        // vanishingly unlikely (P ≈ e^-k) but cheap to guard: top-1 by hash
        // — TakeOrdered, still no global sort
        kActual = 1
        vertices.select($"id")
          .orderBy(graft.expr.Hash60.h60Col($"id")).limit(1)
      }
    val scale = if (kActual < nV) nV.toDouble / kActual else 1.0

    // forward BFS: visited(s, v, dist, sigma)
    var visited = FreshCheckpoint(srcs.select($"id".as("s"), $"id".as("v"),
      lit(0).as("dist"), lit(1.0).as("sigma")))
    var frontier = visited
    var d = 0
    var growing = true
    while (growing) {
      val nxt = FreshCheckpoint(
        frontier.join(e, frontier("v") === e("src"))
          .select($"s", $"dst".as("v"), $"sigma")
          .join(visited.select($"s", $"v"), Seq("s", "v"), "left_anti")
          .groupBy($"s", $"v").agg(sum($"sigma").as("sigma"))
          .withColumn("dist", lit(d + 1)))
      if (nxt.isEmpty) growing = false
      else {
        visited = FreshCheckpoint(visited.unionByName(
          nxt.select($"s", $"v", $"dist", $"sigma")))
        frontier = nxt
        d += 1
      }
    }

    // Backward accumulation, deepest level first. The per-level deltas feed
    // the final score only through Σ_s delta(s,v) — an associative sum — so
    // they are folded into per-vertex PARTIAL aggregates in chunks of 8
    // levels rather than accumulated as one ever-growing union: the old
    // `allDelta` form re-wrote the O(k·n) row history at every checkpoint
    // (O(d·k·n) IO on a depth-d graph — quadratic on path-like graphs).
    // Here each delta row is checkpointed exactly once more (inside its
    // chunk partial), per-level plans stay O(chunk) wide, and the final
    // merge unions d/8 lineage-free chunk scans a single time.
    var delta = FreshCheckpoint(visited.filter($"dist" === d)
      .select($"s", $"v", lit(0.0).as("delta")))
    var buf: List[DataFrame] = List(delta)
    var chunks: List[DataFrame] = Nil
    def flushChunk(): Unit = if (buf.nonEmpty) {
      chunks ::= FreshCheckpoint(buf.reduce(_ unionByName _)
        .filter($"v" =!= $"s")
        .groupBy($"v".as("id")).agg(sum($"delta").as("bc")))
      buf = Nil
    }
    for (lvl <- d - 1 to 0 by -1) {
      val cur = visited.filter($"dist" === lvl)
      val below = visited.filter($"dist" === lvl + 1)
        .select($"s", $"v".as("w"), $"sigma".as("sigma_w"))
        .join(delta.select($"s", $"v".as("w"), $"delta".as("delta_w")),
          Seq("s", "w"))
      val contrib = cur.join(e, cur("v") === e("src"))
        .select($"s", $"v", $"sigma", $"dst".as("w"))
        .join(below, Seq("s", "w"))
        .groupBy($"s", $"v")
        .agg(sum($"sigma" / $"sigma_w" * (lit(1.0) + $"delta_w")).as("c"))
      delta = FreshCheckpoint(
        cur.select($"s", $"v").join(contrib, Seq("s", "v"), "left")
          .select($"s", $"v", coalesce($"c", lit(0.0)).as("delta")))
      buf ::= delta
      if (buf.size >= 8) flushChunk()
    }
    flushChunk()

    val denom = if (normalized && nV > 2) (nV - 1).toDouble * (nV - 2) else 1.0
    val scores = chunks.reduce(_ unionByName _)
      .groupBy($"id").agg(sum($"bc").as("bc"))
    vertices.select($"id").join(scores, Seq("id"), "left")
      .select($"id",
        (coalesce($"bc", lit(0.0)) * scale / denom).as("betweenness"))
  }

  /** Top-N per metric (`utils/analyze.py:178-209`) — plans as
    * TakeOrderedAndProject (no full sort). */
  def topN(scores: DataFrame, metricCol: String, n: Int = 10): DataFrame =
    scores.orderBy(col(metricCol).desc, col("id")).limit(n)

  /** Sampled harmonic centrality: score(v) = Σ_{s ∈ S, 0 < d(s,v) ≤ depth}
    * 1/d(s,v) over a deterministic id-mod source sample — the same
    * sort-free sampling scheme as the distributed Brandes above, applied
    * to the closeness family (harmonic handles disconnected graphs where
    * classic closeness degenerates, which is why it's the variant that
    * survives sampling).
    *
    * Shape: one multi-source BFS — frontier rows are (source, vertex)
    * pairs, each round is an adjacency hash join + an anti-join against
    * the reached set, lineage cut per round. Work is bounded by
    * |S|·|V|·depth with |S| = |V|/sampleMod, the standard
    * accuracy-for-cost dial (Eppstein-Wang style estimation). Per-distance
    * terms are integerized (⌊10⁶/d⌋) so the score sum is an
    * order-independent BIGINT, exactly replayable by a bounded-depth
    * recursive SQL.
    *
    * `sampleMod = 0` (the default) derives the modulus from the graph:
    * mod = max(97, ⌊|V|/64⌋), so the sample stays ~64 sources and total
    * BFS work is ~64·|V|·depth — LINEAR in the graph — as it grows. A
    * fixed modulus would grow |S| ∝ |V| and the frontier ∝ |V|²/mod, the
    * same fixed-parameter scale bug the sf1 probe caught in SemDeDup. The
    * |V| count is one eager distinct-count at composition time.
    *
    * @param edges undirected pair relation (a, b)
    * @return (node, score_u, n_sources) for vertices reached by ≥1 sample
    */
  def harmonicSampled(edges: DataFrame, sampleMod: Long = 0,
      depth: Int = 4): DataFrame = {
    val und = FreshCheckpoint(edges.select(col("a"), col("b"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    val mod =
      if (sampleMod > 0) sampleMod
      else math.max(97L, und.select(col("a")).distinct().count() / 64L)
    val sources = und.select(col("a").as("s")).distinct()
      .filter(col("s") % mod === 0)
    var frontier = FreshCheckpoint(sources.select(col("s"), col("s").as("v")))
    var reached = frontier.withColumn("d", lit(0))
    for (k <- 1 to depth) {
      frontier = FreshCheckpoint(frontier.join(und, col("v") === col("a"))
        .select(col("s"), col("b").as("v")).distinct()
        .join(reached.select(col("s"), col("v")), Seq("s", "v"), "left_anti"))
      reached = reached.unionByName(frontier.withColumn("d", lit(k)))
    }
    reached.filter(col("d") >= 1)
      .groupBy(col("v").as("node"))
      .agg(sum(floor(lit(1000000.0) / col("d")).cast("long")).as("score_u"),
        countDistinct(col("s")).as("n_sources"))
  }

  /** Fixed-round HITS hubs & authorities (Kleinberg, JACM'99) — the
    * bipartite-flavored centrality pair the eigenvector/PageRank family
    * doesn't give: a vertex is a good HUB if it points at good
    * authorities, a good AUTHORITY if good hubs point at it.
    *
    * Update rule per round (Gauss-Seidel order, shifted like q52's I+A):
    * auth ← auth + Σ_{j→i} hub_j, then hub ← hub + Σ_{i→j} auth_j using
    * the UPDATED auth. The shift keeps every intermediate score an exact
    * integer (sums of integer-valued doubles), so both engines replay the
    * iteration bit-for-bit and a fixed round count is deterministic —
    * the q52/q124 discipline. Normalization (per-vector L2, round₆) is a
    * pure rescale applied ONCE at the end.
    *
    * Exactness envelope: scores grow like Π(1 + deg) per half-round, so
    * they stay < 2⁵³ only while (1 + max degree)^(2·rounds) < 2⁵³; for
    * bigger hubs lower `rounds`. Unlike an a-priori degree estimate, the
    * envelope is ENFORCED exactly at runtime: hub/auth values are
    * non-negative and monotone non-decreasing across half-rounds, so any
    * intermediate partial sum that crossed 2⁵³ leaves the FINAL value at
    * or above it — the pre-normalization projection raise_errors on
    * max(hub, auth) ≥ 2⁵³ (the `pcaTopComponent` guard pattern, riding an
    * existing projection — no extra pass, no false positives).
    *
    * Scale shape: each half-round is one contrib equi-join + keyed sum on
    * the edge relation — two shuffles per round, checkpointed; nothing
    * corpus-sized is broadcast (the final norm is a 1-row scalar).
    *
    * @param edges directed (src, dst)
    * @return (id, hub, auth) — L2-normalized, round₆
    */
  def hits(vertices: DataFrame, edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"hits needs rounds >= 1, got $rounds")
    val e = FreshCheckpoint(edges.select(col("src"), col("dst")))
    var x = FreshCheckpoint(vertices.select(col("id"),
      lit(1.0).as("hub"), lit(0.0).as("auth")))
    for (_ <- 1 to rounds) {
      val aInc = e.join(x.select(col("id").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("ainc"))
      val a = FreshCheckpoint(x.join(aInc, Seq("id"), "left")
        .select(col("id"), col("hub"),
          (col("auth") + coalesce(col("ainc"), lit(0.0))).as("auth")))
      val hInc = e.join(a.select(col("id").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("auth")).as("hinc"))
      x = FreshCheckpoint(a.join(hInc, Seq("id"), "left")
        .select(col("id"),
          (col("hub") + coalesce(col("hinc"), lit(0.0))).as("hub"),
          col("auth")))
    }
    // exactness guard (see header): monotone non-negative scores mean a
    // 2^53 breach anywhere in the iteration is still visible in the final
    // values — fail loudly instead of silently diverging from the oracle
    val guarded = x.select(col("id"),
      when(greatest(col("hub"), col("auth")) >= lit(9007199254740992.0),
        raise_error(concat(
          lit("hits: score exceeds the 2^53 exact-integer envelope; "),
          lit("lower `rounds` for this degree distribution (see scaladoc)"))))
        .otherwise(col("hub")).as("hub"),
      col("auth"))
    val nrm = guarded.agg(sqrt(sum(col("hub") * col("hub"))).as("nh"),
      sqrt(sum(col("auth") * col("auth"))).as("na"))
    guarded.crossJoin(broadcast(nrm))
      .select(col("id"),
        round(col("hub") / when(col("nh") === 0, 1.0).otherwise(col("nh")), 6)
          .as("hub"),
        round(col("auth") / when(col("na") === 0, 1.0).otherwise(col("na")), 6)
          .as("auth"))
  }
}
