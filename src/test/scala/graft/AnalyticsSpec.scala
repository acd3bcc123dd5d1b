package graft

import scala.io.Source

import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.etl.EntityBuilder
import graft.graph.{Analytics, Centrality, Community, Subgraph}

/** Graph analytics parity vs networkx goldens computed on the reference's own
  * entities output (fixtures in resources/golden/analytics.json).
  */
class AnalyticsSpec extends SparkTestBase {

  implicit val fmts: Formats = DefaultFormats

  lazy val golden: JValue = JsonMethods.parse(Source.fromInputStream(
    getClass.getResource("/golden/analytics.json").openStream(), "UTF-8").mkString)

  lazy val built = Fixtures.built
  lazy val vertices = built.entities.select(col("id")).localCheckpoint(true)
  lazy val edges = built.edges

  test("connected components: count, largest, isolated match networkx") {
    val cc = Analytics.connectedComponents(vertices, edges).localCheckpoint(true)
    val sizes = cc.groupBy("component").count()
    assert(sizes.count() === (golden \ "n_components").extract[Long])
    assert(sizes.agg(max("count")).head().getLong(0) === (golden \ "largest").extract[Long])
    assert(sizes.filter(col("count") === 1).count() === (golden \ "isolated").extract[Long])
  }

  test("connected components: distributed large/small-star path equals local union-find") {
    val local = Analytics.connectedComponents(h3._1, h3._2).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = Analytics.connectedComponents(h3._1, h3._2, localCutoff = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist === local)
  }

  test("large/small-star converges in O(log n) rounds on a path graph") {
    import spark.implicits._
    // a 256-node path has diameter 255: min-label propagation would need
    // ~255 shuffle rounds; LS/SS must finish in ~log2(n) + slack
    val n = 256
    val vs = spark.range(n).select(format_string("%05d", $"id").as("id"))
    val es = spark.range(n - 1).select(
      format_string("%05d", $"id").as("src"),
      format_string("%05d", $"id" + 1).as("dst"))
    val (labels, rounds) = Analytics.ccLargeSmallStar(vs, es)
    assert(labels.filter($"component" === "00000").count() === n.toLong,
      "every path node must collapse to the single min label")
    assert(rounds <= 16, s"rounds=$rounds is not O(log n) for diameter ${n - 1}")
  }

  test("component membership listings match the reference artifact (modulo block order)") {
    // goldens regenerated by running the reference's analyze_components +
    // write_component_names verbatim on the committed 2025-11-07 data (the
    // files in the reference repo itself are from an older export); block
    // ORDER is networkx set-iteration order, so compare as sorted block sets
    def blocks(txt: String): Seq[String] = txt.split("\nComponent \\d+:\n")
      .drop(1).toSeq
      .map(_.linesIterator.filter(l => l.startsWith("  ") && l != "  ----")
        .mkString("\n"))
    val cc = Analytics.connectedComponents(vertices, edges)
    val rendered = Analytics.renderComponentListings(
      Analytics.componentListings(cc, built.entities))
    Analytics.sizeCategories.foreach { case (cat, _, _) =>
      val res = getClass.getResource(s"/golden/component_info/${cat}_components.txt.gz")
      val gold = new String(new java.util.zip.GZIPInputStream(res.openStream())
        .readAllBytes(), "UTF-8")
      val gb = blocks(gold).sorted
      val ob = blocks(rendered(cat)).sorted
      assert(ob.size === gb.size, s"$cat component count")
      assert(ob === gb, s"$cat listing mismatch")
      // header formatting matches the reference writer
      assert(rendered(cat).startsWith(s"${cat.capitalize} Components:\n"), cat)
    }
  }

  test("componentListings: above-threshold entities attach without a broadcast, rows stay per-member") {
    import spark.implicits._
    // the operator forces no broadcast, so a fact-sized entity table (the
    // vertex-attribute table at 100×; a forced broadcast OOMs the driver)
    // is never shipped by the operator itself. With the auto-broadcast
    // threshold off, the only BroadcastHashJoin a plan can contain is an
    // explicit hint — so its absence proves the operator forces none. The
    // tiny cats join is a BroadcastNestedLoopJoin (range predicate) and
    // doesn't confound this. n is just large.
    val n = 65537L
    val ents = spark.range(n).select($"id", concat(lit("e"), $"id").as("name"),
      lit("work").as("type"))
    // sizes 4-5 — inside the reference taxonomy (and off the ambiguous
    // size-25 medium/large overlap), so the category join keeps every member
    val comps = spark.range(n).select($"id", ($"id" % 16384).as("component"))
    def formatted(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    withoutAutoBroadcast {
      val big = Analytics.componentListings(comps, ents)
      val p = formatted(big)
      assert(!p.contains("BroadcastHashJoin"), p)
      // per-member output: every member is its own row, no listing column
      assert(big.columns.toSeq === Seq("category", "component", "size", "id", "line"))
      assert(big.count() === n)
    }
    // at the session's default threshold the planner's own size check
    // broadcasts the small entity attach
    val ps = formatted(Analytics.componentListings(comps.limit(10), ents.limit(10)))
    assert(ps.contains("BroadcastHashJoin"), ps)
  }

  test("degree stats match networkx") {
    val deg = Analytics.degrees(vertices, edges)
    assert(deg.agg(max("inDeg")).head().getLong(0) === (golden \ "max_in").extract[Long])
    assert(deg.agg(max("outDeg")).head().getLong(0) === (golden \ "max_out").extract[Long])
  }

  test("commentary chain depths: max depth and node count match") {
    val depths = Analytics.commentaryDepths(vertices, edges)
    assert(depths.agg(max("depth")).head().getLong(0) ===
      (golden \ "max_chain_depth").extract[Long])
    assert(depths.count() === (golden \ "n_chain_nodes").extract[Long])
  }

  lazy val h3 = {
    val r = Subgraph.extract(spark, edges, Seq("40377"), 3, Nil)
    (r.nodes.localCheckpoint(true), r.edges.localCheckpoint(true))
  }

  test("betweenness (exact parallel Brandes) matches networkx on h3 subgraph") {
    val ref = (golden \ "betweenness_h3").extract[Map[String, Double]]
    val bc = Centrality.betweenness(h3._1, h3._2).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bc.keySet === ref.keySet)
    ref.foreach { case (id, v) =>
      assert(math.abs(bc(id) - v) < 1e-9, s"betweenness mismatch at $id: ${bc(id)} vs $v")
    }
  }

  test("betweenness sampling: complete output, exact when sample covers all sources") {
    val exact = Centrality.betweenness(h3._1, h3._2).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val sampled = Centrality.betweenness(h3._1, h3._2, sampleSources = Some(20))
    assert(sampled.count() === h3._1.count(), "estimator covers every vertex")
    val full = Centrality.betweenness(h3._1, h3._2,
      sampleSources = Some(Int.MaxValue)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(full === exact, "k >= n degenerates to the exact algorithm")
  }

  test("betweenness: distributed path (no driver adjacency) agrees with local") {
    // localCutoff = 0 forces the >threshold path; the deterministic source
    // sample rule is shared with the local path, so the two k-sampled
    // estimators must agree to float round-off
    val local = Centrality.betweenness(h3._1, h3._2, sampleSources = Some(20))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dist = Centrality.betweenness(h3._1, h3._2, sampleSources = Some(20),
      localCutoff = 0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dist.keySet === local.keySet)
    local.foreach { case (id, v) =>
      assert(math.abs(dist(id) - v) < 1e-9, s"distributed mismatch at $id")
    }
  }

  test("betweenness: deep graph (depth >> chunk size) — distributed matches exact local") {
    // a 24-node directed path has BFS depth 23, so the backward pass crosses
    // three 8-level partial-aggregate chunks; the distributed result must
    // still match exact Brandes (local path, all sources sampled), proving
    // the chunked accumulation loses nothing on depth
    val n = 24
    val vs = spark.range(n).toDF("id")
    val es = spark.range(n - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    // id comes back as string from the local path (string-keyed adjacency)
    // and as long from the distributed one — compare on the string form
    val local = Centrality.betweenness(vs, es, sampleSources = Some(2 * n))
      .collect().map(r => r.get(0).toString -> r.getDouble(1)).toMap
    val dist = Centrality.betweenness(vs, es, sampleSources = Some(2 * n),
      localCutoff = 0)
      .collect().map(r => r.get(0).toString -> r.getDouble(1)).toMap
    assert(dist.keySet === local.keySet)
    assert(local.values.exists(_ > 0.0), "path interior has positive bc")
    local.foreach { case (id, v) =>
      assert(math.abs(dist(id) - v) < 1e-9, s"deep-graph mismatch at $id")
    }
  }

  test("eigenvector: non-convergence contract (None) like the reference") {
    assert(Centrality.eigenvector(h3._1, h3._2, maxIter = 25).isEmpty)
  }

  test("eigenvector converges on an undirected view and is L2-normalized") {
    val und = h3._2.select(col("src"), col("dst"))
      .unionByName(h3._2.select(col("dst").as("src"), col("src").as("dst")))
    val r = Centrality.eigenvector(h3._1, und, maxIter = 200)
    assert(r.isDefined)
    val norm = r.get.agg(sum(col("score") * col("score"))).head().getDouble(0)
    assert(math.abs(norm - 1.0) < 1e-6)
  }

  test("eigenvector: distributed join-loop path agrees with the local path") {
    val und = h3._2.select(col("src"), col("dst"))
      .unionByName(h3._2.select(col("dst").as("src"), col("src").as("dst")))
    val local = Centrality.eigenvector(h3._1, und, maxIter = 300).get
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dist = Centrality.eigenvector(h3._1, und, maxIter = 300, localCutoff = 0).get
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dist.keySet === local.keySet)
    local.foreach { case (id, v) =>
      assert(math.abs(dist(id) - v) < 1e-4, s"score mismatch at $id: ${dist(id)} vs $v")
    }
  }

  test("powerIterationFixed: distributed path agrees with local; tracks eigenvector") {
    val und = h3._2.select(col("src"), col("dst"))
      .unionByName(h3._2.select(col("dst").as("src"), col("src").as("dst")))
    val local = Centrality.powerIterationFixed(h3._1, und, 40)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dist = Centrality.powerIterationFixed(h3._1, und, 40, localCutoff = 0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dist.keySet === local.keySet)
    local.foreach { case (id, v) =>
      assert(math.abs(dist(id) - v) < 1e-9, s"score mismatch at $id: ${dist(id)} vs $v")
    }
    // fixed-round iterate approximates the converged eigenvector
    val eig = Centrality.eigenvector(h3._1, und, maxIter = 300).get
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    local.foreach { case (id, v) =>
      assert(math.abs(eig(id) - v) < 1e-3, s"drift vs eigenvector at $id")
    }
  }

  test("personalized pagerank: distributed path agrees with local; mass follows seeds") {
    import spark.implicits._
    val seeds = h3._1.orderBy(col("id")).limit(3).select(col("id"))
    val local = Centrality.personalizedPageRank(h3._1, h3._2, seeds, iters = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dist = Centrality.personalizedPageRank(h3._1, h3._2, seeds, iters = 8,
        localCutoff = 0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dist.keySet === local.keySet)
    local.foreach { case (id, v) =>
      assert(math.abs(dist(id) - v) < 1e-12, s"score mismatch at $id")
    }
    // teleport returns to seeds: every seed holds positive mass
    val seedIds = seeds.as[String].collect()
    seedIds.foreach(sd => assert(local(sd) > 0.0, s"seed $sd lost all mass"))
    // total mass conserved at 1 (stochastic recurrence with dangling return)
    assert(math.abs(local.values.sum - 1.0) < 1e-9)
    // duplicated seed rows must not double-count mass on either path
    val dupSeeds = seeds.unionByName(seeds)
    val dupLocal = Centrality.personalizedPageRank(h3._1, h3._2, dupSeeds, iters = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dupDist = Centrality.personalizedPageRank(h3._1, h3._2, dupSeeds, iters = 8,
        localCutoff = 0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    local.foreach { case (id, v) =>
      assert(math.abs(dupLocal(id) - v) < 1e-12, s"dup seeds changed local at $id")
      assert(math.abs(dupDist(id) - v) < 1e-12, s"dup seeds changed dist at $id")
    }
  }

  test("deterministic walks: local path is bit-identical to the distributed loop") {
    import spark.implicits._
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("a", "b")
    val und = e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val local = rows(Analytics.deterministicWalks(und, 5))
    val dist = rows(Analytics.deterministicWalks(und, 5, localCutoff = 0))
    assert(local === dist)
    assert(local.count(_._2 == 0L) === 4) // one walker per vertex
  }

  test("louvain + label propagation produce positive-modularity partitions") {
    val (nodes, es) = h3
    val lou = Community.louvain(nodes, es)
    val q = Community.modularity(nodes, es, lou)
    assert(q > 0.3, s"louvain modularity $q")
    val lpa = Community.labelPropagation(nodes, es, rounds = 5)
    assert(lpa.select("community").distinct().count() >= 1)
  }

  test("distributed louvain improves modularity over singletons and terminates") {
    val (nodes, es) = h3
    val lou = Community.louvainDistributed(nodes, es, maxPasses = 4)
    assert(lou.count() === nodes.count())
    val q = Community.modularity(nodes, es, lou)
    assert(q > 0.0, s"distributed louvain modularity $q")
  }

  test("distributed louvain with coarsening approaches sequential modularity on the Pandit graph") {
    // the real reference graph (17k nodes): the multi-level distributed
    // path must land within a stated delta of the exact sequential
    // algorithm's modularity — single-level local-move alone cannot merge
    // whole communities and stalls well short
    val seqQ = Community.modularity(vertices, edges,
      Community.louvain(vertices, edges))
    val dist = Community.louvainDistributed(vertices, edges)
    val distQ = Community.modularity(vertices, edges, dist)
    assert(dist.count() === vertices.count())
    assert(distQ >= seqQ - 0.05,
      s"distributed $distQ vs sequential $seqQ (delta ${seqQ - distQ})")
  }

  test("component summary buckets are consistent") {
    val cc = Analytics.connectedComponents(vertices, edges)
    val summary = Analytics.componentSummary(cc).collect()
      .map(r => r.getAs[String]("bucket") -> (r.getAs[Long]("nodes"), r.getAs[Long]("components")))
      .toMap
    assert(summary("isolated")._1 === (golden \ "isolated").extract[Long])
    assert(summary.values.map(_._1).sum === vertices.count())
  }
}
