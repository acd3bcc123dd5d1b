package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FreshCheckpoint
import org.apache.spark.sql.types.LongType

/** Whole-graph analytics (`utils/analyze.py`), DataFrame-native.
  *
  * We deliberately implement the iterative graph algorithms on DataFrames
  * (shuffle-on-key joins + [[FreshCheckpoint]] per round) rather than GraphX:
  * the relational form keeps everything in Tungsten/whole-stage-codegen, scales
  * with AQE, and needs no RDD round-trips. All algorithms treat the graph as
  * the canonical `edges(src, dst, etype)` table. FreshCheckpoint (vs plain
  * `localCheckpoint`) truncates lineage AND re-grounds Catalyst statistics in
  * real materialized sizes each round — without it, size estimates compound
  * across iterations until planning itself hangs (see its scaladoc).
  */
object Analytics {

  /** Connected components of the UNDIRECTED view (`utils/analyze.py:28-39`,
    * `nx.connected_components(G.to_undirected())`).
    *
    * Scale path is large-star/small-star alternation (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): each round rewires
    * every node's strictly-larger neighbors to its neighborhood minimum
    * (large-star), then collapses the small side into stars (small-star).
    * Converges in O(log n) rounds INDEPENDENT OF DIAMETER — a path graph
    * that would cost min-label propagation O(n) shuffle rounds finishes in
    * ~log n. Component id = min entity id (natural column order) reachable.
    *
    * A graph within `localCutoff` is solved by union-find on its
    * [[LocalGraph]] (exact, no per-round scheduling); LS/SS is the scale
    * path.
    *
    * @return (id, component) — component = min id in the component.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      localCutoff: Long = graft.Limits.dimensionRows): DataFrame =
    LocalGraph(vertices, edges, localCutoff).map(ccLocal)
      .getOrElse(ccLargeSmallStar(vertices, edges)._1)

  /** Distributed large-star/small-star to fixpoint. Every step is an
    * equi-join/groupBy on the node key — shuffle-on-key, no driver state;
    * the per-round edge set is checkpointed so lineage and Catalyst stats
    * stay grounded. Fixpoint detection is one tiny aggregate per round
    * (row count + order-independent hash XOR of the edge multiset), not a
    * full except/subtract. Returns (labels, rounds) — the round count is
    * exposed so tests can assert the O(log n) bound on high-diameter
    * graphs. */
  private[graft] def ccLargeSmallStar(vertices: DataFrame,
      edges: DataFrame): (DataFrame, Int) = {
    val spark = vertices.sparkSession
    import spark.implicits._
    var e = FreshCheckpoint(edges.select($"src".as("u"), $"dst".as("v"))
      .filter($"u" =!= $"v").distinct())
    def checksum(df: DataFrame): (Long, Long) = {
      // 64-bit xxhash (not 32-bit hash): a collision here would terminate
      // the star alternation before its true fixpoint with silently wrong
      // labels, so the false-convergence window is kept at ~2^-64 per round
      val r = df.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))").cast("long"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var prev = (-1L, 0L)
    var cur = checksum(e)
    var rounds = 0
    while (cur != prev) {
      // large-star: each node points its strictly-larger neighbors at the
      // minimum of its closed neighborhood
      val sym = e.select($"u", $"v")
        .unionByName(e.select($"v".as("u"), $"u".as("v")))
      val mins = sym.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"mn", $"u").as("m"))
      val large = sym.join(mins, Seq("u")).filter($"v" > $"u")
        .select($"v".as("u"), $"m".as("v")).distinct()
      // small-star: orient large→small, collapse each node and its smaller
      // neighbors onto their common minimum
      val o = large.select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
        .filter($"u" =!= $"v").distinct()
      val mins2 = o.groupBy($"u").agg(min($"v").as("m"))
      val small = o.join(mins2, Seq("u"))
        .select($"v".as("n"), $"m")
        .unionByName(mins2.select($"u".as("n"), $"m"))
        .filter($"n" =!= $"m")
        .select($"n".as("u"), $"m".as("v")).distinct()
      e = FreshCheckpoint(small)
      prev = cur
      cur = checksum(e)
      rounds += 1
    }
    // fixpoint edge set is a star forest: (member, component-min)
    val labels = vertices.select($"id")
      .join(e.select($"u".as("id"), $"v".as("component")), Seq("id"), "left")
      .select($"id", coalesce($"component", $"id").as("component"))
    (labels, rounds)
  }

  /** Driver-local union-find. Component label = min member id under the id
    * column's natural ordering — identical to the distributed loop's
    * `min()` semantics for string/long/int ids. */
  private def ccLocal(g: LocalGraph): DataFrame = {
    val ids = g.ids
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    g.internal.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val minOf = scala.collection.mutable.HashMap.empty[Int, Any]
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    ids.indices.foreach { i =>
      val r = find(i)
      minOf.get(r) match {
        case Some(m) => if (lt(ids(i), m)) minOf(r) = ids(i)
        case None => minOf(r) = ids(i)
      }
    }
    g.frame(("component", g.idType, i => minOf(find(i))))
  }

  /** Component size histogram + category summary (`utils/analyze.py:15-72`).
    * Buckets: isolated=1, XS 2-5, S 6-20, M 21-100, L 101-1000, XL >1000.
    */
  def componentSummary(components: DataFrame): DataFrame = {
    val size = col("size")
    components.groupBy(col("component")).agg(count(lit(1)).as("size"))
      .withColumn("bucket", when(size === 1, "isolated").when(size <= 5, "XS")
        .when(size <= 20, "S").when(size <= 100, "M").when(size <= 1000, "L")
        .otherwise("XL"))
      .groupBy(col("bucket"))
      .agg(sum(size).as("nodes"), count(lit(1)).as("components"))
  }

  /** Reference size taxonomy for the component_info listing artifact
    * (`utils/analyze.py:15-22`). Bounds are INCLUSIVE on both ends and
    * medium/large overlap at exactly 25 — the reference's range loops
    * assign a size-25 component to BOTH files; reproduced faithfully. */
  val sizeCategories: Seq[(String, Int, Int)] = Seq(
    ("isolated", 1, 1), ("extra_small", 2, 4), ("small", 5, 9),
    ("medium", 10, 25), ("large", 25, 100), ("extra_large", 101, 10000))

  /** Per-component membership lines (`utils/analyze.py:297-323`,
    * `data/analysis_results/component_info/<cat>_components.txt`): ONE ROW
    * PER MEMBER — (category, component, size, id, line), line rendered as
    * the reference's "  name (id) (type)". No row ever carries a whole
    * component: at 100× the reference's XL component (53% of the graph) is
    * tens of millions of members, so a per-component `collect_list` would
    * pack a multi-GB string into one executor row. The entity attach is a
    * plain equi-join whose strategy the planner sizes. Text-block assembly
    * happens only in [[renderComponentListings]], which is driver-side and
    * reference-artifact-sized by intent. */
  def componentListings(components: DataFrame, entities: DataFrame): DataFrame = {
    val spark = components.sparkSession
    import spark.implicits._
    val cats = sizeCategories.toDF("category", "lo", "hi")
    val catted = components.groupBy($"component").agg(count(lit(1)).as("size"))
      .join(broadcast(cats), $"size" >= $"lo" && $"size" <= $"hi")
      .select($"component", $"category", $"size")
    components
      .join(entities.select($"id", $"name", $"type"), Seq("id"))
      .select($"component", $"id",
        concat(lit("  "), $"name", lit(" ("), $"id", lit(") ("), $"type",
          lit(")")).as("line"))
      .join(catted, Seq("component"))
      .select($"category", $"component", $"size", $"id", $"line")
  }

  /** Member ids may be any type (string entity ids, long nation keys); the
    * within-block sort must match the column's natural order in either case
    * (numeric for numbers — the oracle's ORDER BY m.id — lexicographic for
    * strings). */
  private val idOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: java.lang.Number, y: java.lang.Number) =>
        java.lang.Double.compare(x.doubleValue, y.doubleValue)
      case _ => String.valueOf(a).compareTo(String.valueOf(b))
    }
  }

  /** Assemble [[componentListings]] member rows into the reference's
    * per-category text files (`utils/analyze.py:310-323`): header,
    * "Component i:" blocks separated by "  ----", members id-sorted within
    * each block. The reference numbers components in networkx set-iteration
    * order, which no other engine can reproduce — blocks here are ordered by
    * component label (min member id), so files match the reference's modulo
    * block order. Collect-based by design: the rendered artifact is a
    * driver-side text file either way. */
  def renderComponentListings(listings: DataFrame): Map[String, String] = {
    listings.select(col("category"), col("component"), col("id"), col("line"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (cat, rows) =>
        // component labels may be any id type — render order is by the
        // label's string form (unchanged from the one-row-per-component era)
        val blocks = rows.groupBy(r => String.valueOf(r.get(1)))
          .view.mapValues { members =>
            members.map(r => (r.get(2), r.getString(3)))
              .sortBy(_._1)(idOrdering).map(_._2).mkString("\n")
          }.toSeq.sortBy(_._1).map(_._2)
        val body = blocks.zipWithIndex.map { case (b, i) =>
          s"\nComponent ${i + 1}:\n$b\n" +
            (if (i < blocks.length - 1) "  ----\n" else "")
        }.mkString
        cat -> (s"${cat.capitalize} Components:\n" + body)
      }
  }

  /** Degree table: (id, inDeg, outDeg, deg) via two aggregations + outer join
    * (`utils/analyze.py:107-117`). */
  def degrees(vertices: DataFrame, edges: DataFrame): DataFrame = {
    // one shuffle: unpivot endpoints to (id, out?, in?) and aggregate once,
    // instead of two per-side groupBys + two joins
    val sides = edges.select(col("src").as("id"), lit(1L).as("o"), lit(0L).as("i"))
      .unionByName(edges.select(col("dst").as("id"), lit(0L).as("o"), lit(1L).as("i")))
    val deg = sides.groupBy(col("id"))
      .agg(sum(col("o")).as("outDeg"), sum(col("i")).as("inDeg"))
    vertices.select(col("id"))
      .join(deg, Seq("id"), "left")
      .na.fill(0L, Seq("inDeg", "outDeg"))
      .withColumn("deg", col("inDeg") + col("outDeg"))
  }

  /** Graph scalar metrics: nodes, edges, density m/(n*(n-1))
    * (`utils/analyze.py:94-97`). */
  def metrics(vertices: DataFrame, edges: DataFrame): (Long, Long, Double) = {
    val n = vertices.count()
    val m = edges.count()
    val density = if (n > 1) m.toDouble / (n.toDouble * (n - 1)) else 0.0
    (n, m, density)
  }

  /** Commentary-chain depth (`utils/analyze.py:213-253`): longest path from
    * root works (no base texts) along `commentary_on` edges. Iterative
    * longest-path relaxation to fixpoint (data is a de-facto DAG; a hop cap
    * guards accidental cycles, mirroring the reference's visited-set guard).
    *
    * @return (id, depth) — depth 0 for roots, max path length from any root.
    */
  def commentaryDepths(vertices: DataFrame, edges: DataFrame, maxHops: Int = 64): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val comm = FreshCheckpoint(edges.filter($"etype" === graft.model.Schemas.CommentaryOn)
      .select($"src", $"dst").distinct())
    // roots: commentary sources that are never a commentary target, plus all
    // works outside any chain get depth null (not part of output).
    val targets = comm.select($"dst".as("id")).distinct()
    val roots = comm.select($"src".as("id")).distinct()
      .join(targets, Seq("id"), "left_anti")

    var depths = FreshCheckpoint(roots.withColumn("depth", lit(0L)))
    var frontier = depths
    var i = 0
    while (i < maxHops && !frontier.isEmpty) {
      val next = frontier.join(comm.withColumnRenamed("src", "id"), Seq("id"))
        .select($"dst".as("id"), ($"depth" + 1).as("depth"))
        .groupBy($"id").agg(max($"depth").as("depth"))
      // keep only strict improvements → termination on fixpoint
      val improved = FreshCheckpoint(
        next.join(depths.withColumnRenamed("depth", "old"), Seq("id"), "left")
          .filter($"old".isNull || $"depth" > $"old")
          .select($"id", $"depth"))
      depths = FreshCheckpoint(
        depths.join(improved.select($"id"), Seq("id"), "left_anti")
          .unionByName(improved))
      frontier = improved
      i += 1
    }
    depths
  }

  /** Mean branching factor over works with ≥1 commentary
    * (`utils/analyze.py:256-265`). */
  def meanBranchingFactor(edges: DataFrame): DataFrame = {
    edges.filter(col("etype") === graft.model.Schemas.CommentaryOn)
      .groupBy(col("src")).agg(count(lit(1)).as("bf"))
      .agg(avg(col("bf")).as("mean_branching_factor"))
  }

  /** The canonical edge set (a < b) as longs, materialized once: the
    * triangle family and the peeling loops rescan it. */
  private def canonical(edges: DataFrame): DataFrame = FreshCheckpoint(
    edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b")))

  /** The degree-oriented adjacency under the triangle family
    * ([[triangleCount]], [[localClustering]], [[kTruss]]). Each canonical
    * edge of `e` runs from its lower-(degree, id) endpoint to the higher:
    * an acyclic orientation, so a triangle {u, v, w} has one source u with
    * u→v, u→w, v→w, and w ∈ N⁺(u) ∩ N⁺(v) on exactly one of its edges.
    * Out-degrees are O(√m), so the work is O(m^1.5) whatever the skew (the
    * worst-case-optimal triangle bound; id order gives a hub in m edges
    * C(m,2) wedges). No wedge relation is built: each oriented edge carries
    * both endpoints' sorted out-neighbor arrays for the caller to intersect.
    *
    * The four attaches (degree onto both endpoints, adjacency onto both)
    * join node-sized relations onto the edge stream with no hint: the
    * planner sizes them from the checkpointed relations and AQE re-plans at
    * run time. Measured on q90 (local[4], 4 shuffle partitions, two runs
    * each, interleaved and order-swapped) against the degree-count gate
    * this replaced (broadcast up to `Limits.dimensionRows` vertices, else a
    * `shuffle_hash` pin) and an unconditional `shuffle_hash` pin:
    *  - sf0.1: no hint 2.20/2.22 s, 14 jobs, 30 MB shuffled; gate
    *    2.44/2.45 s, 13 jobs, 9 MB; pin 3.19/3.75 s, 15 jobs, 324 MB.
    *  - sf1 (10× ScaleUp): no hint 35.7/39.5 s, 15 jobs, 0.78 GB shuffled
    *    and 3.47 GB spilled by the sort-merge attach of the adjacency
    *    arrays; gate (pinned there) 38.7/38.9 s, 17 jobs, 3.23 GB, no
    *    spill; pin 28.3/30.2 s, 15 jobs, no spill.
    * The pin also costs jobs at every scale, since a shuffled hash join
    * runs both sides as stages where a broadcast runs one: at sf0.001 q90
    * ran 15 jobs pinned against 11 with no hint, q109 17 against 13 and
    * q180 38 against 28.
    *
    * @return (deg(id, deg) over the endpoints of `e`, the oriented edges
    *         (src, dst, nbrsA, nbrsB) with nbrsA = N⁺(src), nbrsB = N⁺(dst))
    */
  private def orientedAdjacency(e: DataFrame): (DataFrame, DataFrame) = {
    val deg = FreshCheckpoint(
      e.select(col("a").as("id")).unionByName(e.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg")))
    val oriented = FreshCheckpoint(e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst")))
    val adj = FreshCheckpoint(oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs")))
    (deg, oriented
      .join(adj.select(col("src"), col("nbrs").as("nbrsA")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nbrsB")), Seq("dst")))
  }

  /** Global triangle count over an undirected graph given as canonical
    * edges (a, b) with a < b: Σ over oriented edges of |N⁺(u) ∩ N⁺(v)| on
    * [[orientedAdjacency]], a native merge-intersect of sorted longs per
    * edge. (The wedge-join form shuffled ~50M canonicalized wedge rows at
    * sf0.1, 41 s; this runs in a few seconds.) The count is
    * algorithm-independent, so the oracle can replay it with the naive
    * ordered 3-way self-join.
    *
    * @return single row (n_triangles).
    */
  def triangleCount(edges: DataFrame): DataFrame =
    orientedAdjacency(canonical(edges))._2
      .agg(coalesce(sum(graft.expr.VectorOps.sortedLongIntersect(
        col("nbrsA"), col("nbrsB"))), lit(0L)).as("n_triangles"))

  /** Per-vertex triangle counts and local clustering coefficients over an
    * undirected graph given as canonical edges (a, b) with a < b. Each
    * closing intersection on [[orientedAdjacency]] is materialized as its
    * element list so all THREE corners of a triangle can be credited: for
    * an oriented edge (u, v), every w in N⁺(u) ∩ N⁺(v) closes {u, v, w},
    * crediting u, v and w once each; credits aggregate in one shuffle on
    * the vertex id. cc = 2·t / (deg·(deg−1)) for deg ≥ 2, else 0.
    *
    * @return (id, deg, tri, cc) for every vertex of the edge set.
    */
  def localClustering(edges: DataFrame): DataFrame = {
    val (deg, oriented) = orientedAdjacency(canonical(edges))
    // third corners must be enumerated, not just counted → array_intersect
    // (sorted inputs; result size ≤ min degree of the edge's endpoints)
    val closing = FreshCheckpoint(oriented
      .select(col("src"), col("dst"),
        array_intersect(col("nbrsA"), col("nbrsB")).as("ws"))
      .filter(size(col("ws")) > 0))
    val credits = closing
      .select(col("src").as("id"), size(col("ws")).cast("long").as("t"))
      .unionByName(closing.select(col("dst").as("id"), size(col("ws")).cast("long").as("t")))
      .unionByName(closing.select(explode(col("ws")).as("id"), lit(1L).as("t")))
    val tri = credits.groupBy(col("id")).agg(sum(col("t")).as("tri"))
    deg.join(tri, Seq("id"), "left")
      .na.fill(0L, Seq("tri"))
      .select(col("id"), col("deg"), col("tri"),
        round(when(col("deg") >= 2,
            col("tri") * 2.0 / (col("deg") * (col("deg") - lit(1L))))
          .otherwise(0.0), 6).as("cc"))
  }

  /** Single-source shortest paths with non-negative integer weights:
    * synchronous Bellman-Ford, a FIXED number of relaxation rounds
    * (deterministic — replayable round-by-round by the SQL oracle; pick
    * rounds ≥ the graph's weighted-hop diameter for exact distances).
    * A graph within `localCutoff` runs the rounds on a [[LocalGraph]] of
    * its edges, weights collected with them (same semantics, no per-round
    * stage scheduling); the distributed loop is one shuffle per round on
    * (id) with [[FreshCheckpoint]]. Both paths return bigint ids, and a
    * source outside the graph as its only row (src, 0).
    *
    * @param edges directed (a, b, w); pass both directions for undirected.
    * @return (id, dist) for vertices reached within `rounds` relaxations.
    */
  def sssp(edges: DataFrame, src: Long, rounds: Int,
      localCutoff: Long = graft.Limits.dimensionRows): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val seed = spark.range(1).select(lit(src).as("id"), lit(0L).as("dist"))
    LocalGraph.ofEdges(edges.select($"a".cast("long").as("src"),
        $"b".cast("long").as("dst"), $"w".cast("long")), localCutoff) match {
      case Some(g) => g.index.get(src).fold(seed) { s =>
        val dist = Array.tabulate(g.n)(i => if (i == s) 0L else Long.MaxValue)
        for (_ <- 1 to rounds) {
          val snap = dist.clone() // synchronous: round k+1 relaxes from round k
          g.src.indices.foreach { j =>
            val da = snap(g.src(j))
            if (da != Long.MaxValue && dist(g.dst(j)) > da + g.weight(j))
              dist(g.dst(j)) = da + g.weight(j)
          }
        }
        g.frameAt(g.ids.indices.filter(dist(_) != Long.MaxValue))(("dist", LongType, dist(_)))
      }
      case None =>
        val e = FreshCheckpoint(edges.select($"a", $"b", $"w"))
        var dist = seed
        for (_ <- 1 to rounds) {
          val relax = dist.join(e, $"id" === $"a")
            .select($"b".as("id"), ($"dist" + $"w").as("dist"))
          dist = FreshCheckpoint(dist.unionByName(relax)
            .groupBy($"id").agg(min($"dist").as("dist")))
        }
        dist
    }
  }

  /** k-core decomposition by synchronous peeling, a FIXED number of rounds
    * (deterministic and SQL-replayable, like [[sssp]]): each round removes
    * every vertex whose degree within the surviving subgraph is < k. With
    * rounds ≥ the peel depth this is the exact k-core. A graph within
    * `localCutoff` peels on a [[LocalGraph]] of its distinct edges; the
    * distributed loop is one degree-aggregation shuffle per round. Both
    * paths keep `a`'s id type.
    *
    * @param edges undirected as directed-both-ways (a, b).
    * @return (id, deg) — survivors with their degree inside the final core.
    */
  def kcore(edges: DataFrame, k: Int, rounds: Int,
      localCutoff: Long = graft.Limits.dimensionRows): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val distinctEdges = edges.select($"a", $"b").distinct()
    LocalGraph.ofEdges(distinctEdges.select($"a".as("src"), $"b".as("dst")),
        localCutoff) match {
      case Some(g) =>
        var alive = Array.fill(g.n)(true)
        def degrees(): Array[Long] = {
          val deg = new Array[Long](g.n)
          g.src.indices.foreach(j => if (alive(g.src(j)) && alive(g.dst(j))) deg(g.src(j)) += 1L)
          deg
        }
        for (_ <- 1 to rounds) {
          val deg = degrees()
          alive = Array.tabulate(g.n)(i => alive(i) && deg(i) >= k)
        }
        val deg = degrees()
        g.frameAt(g.ids.indices.filter(deg(_) > 0))(("deg", LongType, deg(_)))
      case None =>
        // Delta peeling: removing a vertex only changes its NEIGHBORS'
        // surviving degrees, so each round (a) drops sub-k vertices from the
        // node-sized degree relation and (b) subtracts one per edge into the
        // removed set — found with a single semi-join of the edge relation
        // against the small, shrinking removed set (AQE broadcasts it when
        // it fits, so the full edge relation is never reshuffled after the
        // initial degree build). The previous form re-semi-joined all edges
        // against the alive set twice per round — three full-edge shuffles a
        // round, the cost the sf1 probe surfaced (36.8 s vs a sub-second
        // local path at sf0.1). Synchronous-peel semantics are identical:
        // removed_r = {v : deg_r(v) < k}, deg_{r+1} = induced degree after
        // removal — by induction the same relation aliveDeg(alive_r)
        // produced.
        val und = FreshCheckpoint(distinctEdges)
        var deg = FreshCheckpoint(
          und.groupBy($"a".as("id")).agg(count(lit(1)).as("deg")))
        for (_ <- 1 to rounds) {
          val removed = deg.filter($"deg" < k).select($"id")
          val delta = und
            .join(removed.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
            .groupBy($"a".as("id")).agg(count(lit(1)).as("d"))
          deg = FreshCheckpoint(
            deg.join(removed, Seq("id"), "left_anti")
              .join(delta, Seq("id"), "left")
              .select($"id", ($"deg" - coalesce($"d", lit(0L))).as("deg")))
        }
        // the aliveDeg formulation emitted no row for a survivor whose last
        // neighbor was peeled (no surviving edge to aggregate) — match it
        deg.filter($"deg" > 0)
    }
  }

  /** Deterministic "random" walks for embedding-corpus generation
    * (node2vec/DeepWalk input): one walker starts at every vertex; at step s
    * walker w moves from v to v's neighbor at index md5(w:s) mod deg(v)
    * over the (a → sorted b) adjacency. Content-hash steps mean identical
    * walks across engines, retries and partitionings — and an exactly
    * SQL-replayable oracle. The adjacency is RELATIONAL (per-edge rank +
    * degree via one window pass, no collected arrays). Each step is two
    * key-selective equi-joins: walker→(node, deg) computes the target
    * neighbor index as a column, then (cur, tgt)→(a, idx) picks exactly
    * that adjacency row — per-walker step cost is O(1) rows regardless of
    * hub degree, shuffle-on-key all the way, O(steps) rounds.
    *
    * A LONG-id graph within `localCutoff` walks on the sorted adjacency of
    * its [[LocalGraph]] — identical md5 arithmetic, so results are
    * bit-identical to the distributed loop — because 2·steps join rounds of
    * stage scheduling dwarf the arithmetic there. Non-long id types always
    * take the distributed path (the local sort must reproduce Spark's
    * orderBy semantics, which is only guaranteed here for numeric ids).
    *
    * @param edges directed (a, b); pass both directions for undirected.
    * @return (walker, step, node) — step 0 is the start vertex.
    */
  def deterministicWalks(edges: DataFrame, steps: Int,
      localCutoff: Long = graft.Limits.dimensionRows): DataFrame = {
    val und = edges.select(col("a"), col("b")).distinct()
    val local = if (Seq("a", "b").exists(edges.schema(_).dataType != LongType)) None
      else LocalGraph.ofEdges(und.select(col("a").as("src"), col("b").as("dst")), localCutoff)
    if (local.isDefined) return walksLocal(local.get, steps)
    val byA = org.apache.spark.sql.expressions.Window.partitionBy(col("a"))
    val adj = FreshCheckpoint(und
      .withColumn("idx",
        (row_number().over(byA.orderBy(col("b"))) - 1).cast("long"))
      .withColumn("deg", count(lit(1)).over(byA).cast("long")))
    // One row per vertex: joining walkers here first keeps the step cost
    // O(1) rows per walker. Joining the full adjacency and filtering after
    // would materialize deg(v) rows per walker per step — on a degree-10^6
    // hub that is a million-row fan-out for a single walker.
    val degs = FreshCheckpoint(
      adj.select(col("a").as("node"), col("deg")).distinct())
    var walk = degs.select(col("node").as("walker"))
      .withColumn("cur", col("walker"))
    var paths = walk.select(col("walker"), lit(0L).as("step"),
      col("cur").as("node"))
    for (s <- 1 to steps) {
      val target = walk.join(degs, col("cur") === col("node"))
        .select(col("walker"), col("cur"),
          (graft.expr.Hash60.h60Col(concat(col("walker").cast("string"), lit(s":$s")))
            % col("deg"))
            .as("tgt"))
      walk = target.join(adj,
          target("cur") === adj("a") && target("tgt") === adj("idx"))
        .select(col("walker"), col("b").as("cur"))
      // periodic, not per-step: the union branches re-derive short join
      // chains from the checkpointed adjacency more cheaply than a
      // materialization per round; only long walks need lineage cuts
      if (s % 8 == 0) walk = FreshCheckpoint(walk)
      paths = paths.unionByName(
        walk.select(col("walker"), lit(s.toLong).as("step"), col("cur").as("node")))
    }
    paths
  }

  /** Driver-local walks on a long-id [[LocalGraph]]: same md5(walker:s) %
    * deg index arithmetic — `Long.parseLong(hex(md5)[0,15), 16)` ≡
    * `conv(substring(md5, 1, 15), 16, 10)` for 60-bit values — over the
    * same ascending-neighbor order, so output is bit-identical to the
    * distributed loop. */
  private def walksLocal(g: LocalGraph, steps: Int): DataFrame = {
    import g.spark.implicits._
    val id = g.ids.map(_.asInstanceOf[Long])
    val adj = g.src.indices.groupBy(g.src(_)).map { case (s, js) =>
      id(s) -> js.map(j => id(g.dst(j))).sorted
    }
    import graft.expr.Hash60.h60
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    adj.keys.toSeq.sorted.foreach { w =>
      out += ((w, 0L, w))
      var cur = w
      var s = 1
      var alive = true
      while (s <= steps && alive) {
        adj.get(cur) match {
          case Some(nbrs) =>
            val tgt = (h60(s"$w:$s") % nbrs.length).toInt
            cur = nbrs(tgt)
            out += ((w, s.toLong, cur))
          case None => alive = false // dead end: walker path stops (≡ inner join)
        }
        s += 1
      }
    }
    out.toSeq.toDF("walker", "step", "node")
  }

  /** Edge endpoint type-pair counts (`utils/analyze.py:143-153`). */
  def edgeTypePairs(edges: DataFrame, entities: DataFrame): DataFrame = {
    val types = broadcast(entities.select(col("id"), col("type")))
    edges
      .join(types.withColumnRenamed("id", "src").withColumnRenamed("type", "srcType"), Seq("src"))
      .join(types.withColumnRenamed("id", "dst").withColumnRenamed("type", "dstType"), Seq("dst"))
      .groupBy(col("srcType"), col("dstType")).agg(count(lit(1)).as("n"))
  }

  /** Per-edge triangle support over a canonical (a < b) undirected edge
    * set: each triangle surfaces once from its orientation source on
    * [[orientedAdjacency]], then credits its three canonical edges. The
    * credit explode is output-sized (3 rows per triangle), never
    * wedge-sized. */
  private def edgeSupport(e: DataFrame): DataFrame = {
    val tri = orientedAdjacency(e)._2
      .select(col("src").as("u"), col("dst").as("v"),
        explode(array_intersect(col("nbrsA"), col("nbrsB"))).as("w"))
    tri.select(explode(array(
        struct(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"), greatest(col("v"), col("w")).as("b"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
  }

  /** Fixed-round k-truss peeling: each round computes per-edge triangle
    * support on the CURRENT edge set and keeps edges with support ≥ k−2
    * (every edge of a k-truss lies in ≥ k−2 triangles of the truss). The
    * round count is pinned — the same
    * approximate-iteration-with-exact-replay discipline as the power-
    * iteration and Lloyd's operators (full convergence is a while-loop on
    * the same body; each round is two shuffle joins + one explode).
    *
    * @return surviving edges (a, b, support) with the support that
    *         qualified them in the final round
    */
  def kTruss(edges: DataFrame, k: Int = 4, rounds: Int = 2): DataFrame = {
    require(rounds >= 1, s"kTruss needs rounds >= 1, got $rounds")
    var e = canonical(edges)
    var result: DataFrame = null
    for (_ <- 1 to rounds) {
      // left join: edgeSupport only emits edges that lie in ≥1 triangle, so
      // an inner join would silently drop triangle-free edges — wrong for
      // the degenerate k ≤ 2 case where support ≥ k−2 = 0 keeps every edge
      result = e.join(edgeSupport(e), Seq("a", "b"), "left")
        .withColumn("support", coalesce(col("support"), lit(0L)))
        .filter(col("support") >= k - 2)
      e = FreshCheckpoint(result.select(col("a"), col("b")))
    }
    result
  }

  /** Fixed-round densest-subgraph peeling (Charikar greedy via the
    * Bahmani–Kumar–Vazirani parallel variant, VLDB'12): each round drops
    * every vertex whose degree is ≤ (1+ε) × the CURRENT average degree,
    * then records the surviving subgraph's density. The best density seen
    * across rounds is a 2(1+ε)-approximation of the optimum; the parallel
    * peel needs only O(log n) rounds where the sequential greedy needs n.
    *
    * Determinism: the peel condition and the density are pure integer
    * arithmetic — with ε = 1/10, drop iff deg · nV · 10 ≤ 2 · nE · 11
    * (cross-multiplied, no division), density_u = (nE · 10⁶) div nV — so
    * both engines replay every round exactly and the fixed round count is
    * the q52-family discipline (full convergence = the same body in a
    * while-loop).
    *
    * Scale shape per round: one degree aggregate, one 1-row (nV, nE)
    * scalar, one semi-join of edges against surviving vertices — all
    * equi-keyed; nothing corpus-sized is broadcast.
    *
    * @param edges undirected pair relation (a, b), a < b, deduplicated
    * @return one row per round: (round, n_vertices, n_edges, density_u,
    *         is_best) — is_best marks the earliest densest round
    */
  def densestSubgraph(edges: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"densestSubgraph needs rounds >= 1, got $rounds")
    var e = canonical(edges)
    var stats: DataFrame = null
    for (r <- 0 to rounds) {
      val deg = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val degC = FreshCheckpoint(deg)
      val tot = degC.agg(count(lit(1)).as("nv"),
        (coalesce(sum(col("deg")), lit(0L)) / 2).cast("long").as("ne"))
      val row = tot.select(lit(r.toLong).as("round"), col("nv").as("n_vertices"),
        col("ne").as("n_edges"),
        when(col("nv") > 0, expr("ne * 1000000 div nv")).otherwise(lit(0L))
          .as("density_u"))
      stats = if (stats == null) row else stats.unionByName(row)
      if (r < rounds) {
        val keep = degC.crossJoin(broadcast(tot))
          .filter(col("deg") * col("nv") * 10 > col("ne") * 2 * 11)
          .select(col("v"))
        val keepC = FreshCheckpoint(keep)
        e = FreshCheckpoint(
          e.join(keepC.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
            .join(keepC.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
            .select(col("a"), col("b")))
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("density_u").desc, col("round"))
    // the stats relation is rounds+1 rows — O(1); the global window is on
    // that bounded artifact, not on corpus-sized data
    stats.withColumn("is_best", row_number().over(w) === 1)
  }
}
