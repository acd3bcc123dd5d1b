package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FreshCheckpoint

/** n-hop BFS subgraph extraction with an exclusion ("collapse") list.
  *
  * Reference semantics (`grapher.py:25-94`):
  *   - expansion is UNDIRECTED (a work pulls in its authors, base texts and
  *     commentaries; an author pulls in their works) while emitted edges keep
  *     canonical direction (author→work, base→commentary);
  *   - the loop runs `hops + 1` times: nodes appended at level `hops` are kept
  *     but their queued neighbors are trimmed (`grapher.py:88-92`);
  *   - nodes on the exclude list are included when reached but never expanded
  *     (`grapher.py:49-50`);
  *   - kept edges are exactly the edges incident to an expanded node whose
  *     both endpoints were appended. (Every appended non-excluded node is
  *     expanded exactly once, so edge emission needs no per-level state.)
  *   - the result NODE set is the nx-graph membership, not the visited set:
  *     a node enters the graph only via `add_edge` (endpoint of an emitted
  *     edge) or `add_node` (an expanded node with empty adjacency), then the
  *     trim intersects with visited. An excluded node that no emitted edge
  *     touches — e.g. an excluded seed — is therefore absent even though the
  *     BFS appended it.
  *
  * The reference's frontier-dedup remove-while-iterating bug
  * (`grapher.py:81-84`) only causes redundant re-expansion, never a different
  * node/edge set — we implement the clean anti-join semantics (SURVEY §2.6 T5).
  *
  * Implementation: two paths with these semantics. [[extract]] is a
  * driver-side loop of DataFrame joins — frontier ⋈ undirected edges,
  * anti-join visited — with a `FreshCheckpoint` per hop to truncate lineage
  * (25+-hop full-graph runs would otherwise blow up planning); each hop is
  * one shuffle on the join key, and at cluster scale the visited/frontier
  * sets stay partitioned by id while AQE handles the shrinking frontier.
  * [[LocalIndex]] runs the same BFS over one collected edge list in driver
  * memory, with no Spark job; `HttpShim` serves every request from one
  * built at start-up.
  */
object Subgraph {

  case class Result(nodes: DataFrame, edges: DataFrame)

  /** @param edges  canonical edge table (src, dst, etype)
    * @param seeds  subgraph center (union of authors+works params)
    * @param hops   number of hops outward (>= 0)
    * @param exclude ids included-but-not-expanded when reached
    */
  def extract(
      spark: SparkSession,
      edges: DataFrame,
      seeds: Seq[String],
      hops: Int,
      exclude: Seq[String] = Nil): Result = {
    import spark.implicits._

    val excludeDf = exclude.distinct.toDF("id")
    // Undirected adjacency view: (id, nbr) both ways.
    val adj = edges.select($"src".as("id"), $"dst".as("nbr"))
      .unionByName(edges.select($"dst".as("id"), $"src".as("nbr")))

    var visited = seeds.distinct.toDF("id")
    var frontier = visited
    var i = 0
    var frontierEmpty = false
    while (i < hops && !frontierEmpty) {
      // Excluded nodes are appended but never expanded.
      val expand = frontier.join(excludeDf, Seq("id"), "left_anti")
      val next = FreshCheckpoint(expand.join(adj, Seq("id"))
        .select($"nbr".as("id")).distinct()
        .join(visited, Seq("id"), "left_anti"))
      frontierEmpty = next.isEmpty
      if (!frontierEmpty) {
        visited = FreshCheckpoint(visited.unionByName(next))
        frontier = next
      }
      i += 1
    }

    // Expanded set = visited \ exclude (every one was in a frontier once).
    val expanded = visited.join(excludeDf, Seq("id"), "left_anti")
    // Emitted edges: incident to an expanded node.
    val incident = edges
      .join(expanded.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .unionByName(edges
        .join(expanded.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .select(edges.columns.map(col).toSeq: _*))
      .distinct()
    // Kept edges: emitted, both endpoints visited.
    val kept = incident
      .join(visited.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(visited.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .select($"src", $"dst", $"etype") // using-column joins reorder columns

    // Result nodes (nx membership ∩ visited): visited endpoints of emitted
    // edges, plus expanded nodes with no incident edges at all (`add_node`,
    // grapher.py:68-69,77-78).
    val endpointNodes = incident.select($"src".as("id"))
      .unionByName(incident.select($"dst".as("id")))
      .distinct()
      .join(visited, Seq("id"), "left_semi")
    val isolatedExpanded = expanded.join(adj, Seq("id"), "left_anti")
    val nodes = endpointNodes.unionByName(isolatedExpanded).distinct()

    Result(nodes, kept)
  }

  /** A [[extract]] answer from a [[LocalIndex]]: the result node ids, and the
    * kept edges as indices into the index's edge list. */
  case class LocalResult(nodes: Seq[String], edges: Seq[Int])

  /** Driver-local BFS over a collected edge list: edge `i` is
    * `src(i) → dst(i)`, distinct rows. Holds an undirected adjacency over
    * edge indices; [[extract]] answers exactly as [[Subgraph.extract]] does
    * over the same edges, with no Spark job. Immutable, so one index serves
    * concurrent requests. */
  final class LocalIndex(src: IndexedSeq[String], dst: IndexedSeq[String]) {
    require(src.length == dst.length, "src and dst must have one entry per edge")

    /** node id → indices of the edges incident to it, either direction */
    private val incident: Map[String, Array[Int]] = {
      val b = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofInt]
      def add(id: String, e: Int) =
        b.getOrElseUpdate(id, new mutable.ArrayBuilder.ofInt) += e
      src.indices.foreach { e =>
        add(src(e), e)
        if (dst(e) != src(e)) add(dst(e), e)
      }
      b.iterator.map { case (id, es) => id -> es.result() }.toMap
    }
    private val none = Array.emptyIntArray

    def extract(seeds: Seq[String], hops: Int, exclude: Seq[String] = Nil): LocalResult = {
      val excluded = exclude.toSet
      val visited = mutable.HashSet.empty[String] ++= seeds
      var frontier: Seq[String] = seeds.distinct
      var i = 0
      while (i < hops && frontier.nonEmpty) {
        val next = Seq.newBuilder[String]
        // Excluded nodes are appended but never expanded.
        for (id <- frontier if !excluded(id); e <- incident.getOrElse(id, none)) {
          val nbr = if (src(e) == id) dst(e) else src(e)
          if (visited.add(nbr)) next += nbr
        }
        frontier = next.result()
        i += 1
      }
      // Expanded set = visited \ exclude; emitted edges are incident to it.
      val expanded = visited.filterNot(excluded)
      val emitted = expanded.iterator.flatMap(incident.getOrElse(_, none)).toSet
      // Kept edges: emitted, both endpoints visited.
      val kept = emitted.filter(e => visited(src(e)) && visited(dst(e)))
      // Result nodes: visited endpoints of emitted edges, plus expanded nodes
      // with no incident edges at all.
      val nodes = emitted.iterator.flatMap(e => Iterator(src(e), dst(e))).filter(visited)
        .toSet ++ expanded.filterNot(incident.contains)
      LocalResult(nodes.toSeq, kept.toSeq)
    }
  }

  /** Hop-growth curve (`offline_mode.md:60-103`): the [[extract]] node count
    * for every hop depth from 0 to the BFS fixpoint, plus one repeated entry
    * proving the fixpoint, from ONE bfs run instead of one extract per depth.
    *
    * Valid for empty exclusion lists only: with no excluded nodes every
    * visited node is expanded, so its own incident edges are emitted and the
    * node enters the result either as an emitted-edge endpoint (degree ≥ 1)
    * or via the isolated-expanded rule (degree 0) — the hop-h result node
    * set is exactly the hop-h visited set, and the curve is the cumulative
    * count over BFS levels. Each level is one equi-join round, checkpointed
    * like [[extract]] — the same ≥25-round lineage discipline, exercised to
    * real depth.
    */
  def growthCurve(spark: SparkSession, edges: DataFrame,
      seeds: Seq[String]): Seq[Long] = {
    import spark.implicits._
    val adj = edges.select($"src".as("id"), $"dst".as("nbr"))
      .unionByName(edges.select($"dst".as("id"), $"src".as("nbr")))
    var visited = FreshCheckpoint(seeds.distinct.toDF("id"))
    var frontier = visited
    val counts = mutable.ArrayBuffer[Long](visited.count())
    var done = false
    while (!done) {
      val next = FreshCheckpoint(frontier.join(adj, Seq("id"))
        .select($"nbr".as("id")).distinct()
        .join(visited, Seq("id"), "left_anti"))
      if (next.isEmpty) done = true
      else {
        visited = FreshCheckpoint(visited.unionByName(next))
        frontier = next
        counts += visited.count()
      }
    }
    counts += counts.last // one more hop adds nothing: the fixpoint
    counts.toSeq
  }

  /** Annotation layer (`grapher.py:118-137` + `flask_app.py:211-226`): flag
    * centrality/exclusion and enrich with entity attributes via a broadcast
    * join against the (dimension-sized) entities table.
    */
  def annotate(
      nodes: DataFrame,
      entities: DataFrame,
      seeds: Seq[String],
      exclude: Seq[String]): DataFrame = {
    nodes
      .join(broadcast(entities), Seq("id"), "left")
      .withColumn("is_central", col("id").isin(seeds: _*))
      .withColumn("is_excluded", col("id").isin(exclude: _*))
      .withColumn("label", col("name"))
      .withColumn("dates", dateInfo)
      .withColumn("social_ids",
        when(col("type") === "author", col("socialIdentifiers")))
      .withColumn("discipline", when(col("type") === "work", col("discipline")))
      .withColumn("disciplines", when(col("type") === "author", col("disciplines")))
  }

  /** Date-range display string (`flask_app.py:48-57`): "ly–hy" (en dash), a
    * single year when equal, works fall back to author years with an
    * " (author)" caveat, empty when no usable lowest year. Mirrors Python
    * truthiness: year 0 counts as missing.
    */
  def dateInfo: org.apache.spark.sql.Column = {
    val ly = col("lowestYear"); val hy = col("highestYear")
    val aly = col("authorLowestYear"); val ahy = col("authorHighestYear")
    val useAuthor = col("type") === "work" &&
      (ly.isNull || ly === 0) && aly.isNotNull && (aly =!= 0)
    val effLy = when(useAuthor, aly).otherwise(ly)
    val effHy = when(useAuthor, ahy).otherwise(hy)
    val caveat = when(useAuthor, lit(" (author)")).otherwise(lit(""))
    val dateStr = when(effLy === effHy, effLy.cast("string"))
      .otherwise(concat(effLy.cast("string"), lit("–"), effHy.cast("string")))
    when(effLy.isNull || effLy === 0, lit("")).otherwise(concat(dateStr, caveat))
  }

  /** Edge relationship labels (`flask_app.py:173-180`). */
  def labelEdges(edges: DataFrame, entities: DataFrame): DataFrame = {
    val types = entities.select(col("id"), col("type"))
    edges
      .join(broadcast(types).withColumnRenamed("id", "src")
        .withColumnRenamed("type", "srcType"), Seq("src"), "left")
      .join(broadcast(types).withColumnRenamed("id", "dst")
        .withColumnRenamed("type", "dstType"), Seq("dst"), "left")
      .withColumn("relationship",
        when(col("srcType") === "author" && col("dstType") === "work",
          lit("source author wrote target work"))
          .when(col("srcType") === "work" && col("dstType") === "work",
            lit("source base text inspired target commentary")))
      .select(col("src").as("source"), col("dst").as("target"), col("relationship"))
  }
}
