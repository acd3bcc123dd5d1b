package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{EntityBuilder, LinkBuilder}
import graft.graph.{Analytics, Centrality, Community}
import graft.serve.{Gexf, JsonOut}

/** The curator's offline rebuild (the reference's `utils/analyze.py` + GEXF
  * export) over the generated export: the first part of a `batch` pass.
  * Each library call is one timed operation. */
object Rebuild {

  /** The calls of one pass, in order, as metric stems. */
  val calls: Seq[String] = Seq(
    "etl.entitybuilder", "etl.linkbuilder",
    "jsonout.entities_json", "jsonout.etext_links_json",
    "analytics.connected_components", "analytics.component_summary",
    "analytics.component_listings", "analytics.metrics",
    "analytics.commentary_depths", "community.louvain", "community.modularity",
    "centrality.page_rank", "centrality.betweenness", "gexf.render")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One pass. Returns per-call seconds and the failures of its checks. */
  def pass(ctx: Ctx, gen: PanditGen, eCsv: String, sCsv: String, tag: String)
      : (Seq[(String, Double)], Seq[Failure]) = {
    val spark = ctx.spark
    val times = Seq.newBuilder[(String, Double)]
    val failures = Seq.newBuilder[Failure]
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = ctx.span(name)(body)
      times += name -> (System.nanoTime() - t0) / 1e9
      r
    }
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) failures += Failure(s"$tag $what", s"got $got, want $want")

    val ref = gen.ref
    val (entities, edges) = timed("etl.entitybuilder") {
      val b = EntityBuilder.build(spark, eCsv)
      val e = b.entities.cache(); val g = b.edges.cache()
      (e, g, e.count(), g.count())
    } match { case (e, g, ne, ng) =>
      expect("entities", ne, gen.entityIds.size.toLong)
      expect("edges", ng, gen.edges.size.toLong)
      (e, g)
    }
    val links = timed("etl.linkbuilder") {
      val l = LinkBuilder.build(spark, sCsv).links.cache(); l.count(); l
    }
    val vertices = entities.select(col("id"))
    val entitiesJson = timed("jsonout.entities_json")(JsonOut.entitiesJson(entities))
    expect("entities json length > 0", entitiesJson.length > 2, true)
    timed("jsonout.etext_links_json")(JsonOut.etextLinksJson(JsonOut.nestEtextLinks(links)))
    val cc = timed("analytics.connected_components") {
      val c = Analytics.connectedComponents(vertices, edges).cache(); c.count(); c
    }
    val sizes = cc.groupBy(col("component")).count().agg(count(lit(1)), max(col("count"))).head()
    expect("components", sizes.getLong(0), ref.componentCount.toLong)
    expect("largest component", sizes.getLong(1), ref.largestComponent.toLong)
    timed("analytics.component_summary")(Analytics.componentSummary(cc).collect())
    timed("analytics.component_listings") {
      Analytics.renderComponentListings(Analytics.componentListings(cc, entities))
    }
    val (n, m, _) = timed("analytics.metrics")(Analytics.metrics(vertices, edges))
    expect("metrics nodes", n, gen.entityIds.size.toLong)
    expect("metrics edges", m, gen.edges.size.toLong)
    timed("analytics.commentary_depths")(noop(Analytics.commentaryDepths(vertices, edges)))
    val labels = timed("community.louvain") {
      val l = Community.louvain(vertices, edges).cache(); l.count(); l
    }
    val q = timed("community.modularity")(Community.modularity(vertices, edges, labels))
    expect("modularity in (0, 1]", q > 0 && q <= 1, true)
    timed("centrality.page_rank")(noop(Centrality.pageRank(vertices, edges)))
    timed("centrality.betweenness")(noop(Centrality.betweenness(vertices, edges,
      sampleSources = Some(64))))
    val gexf = timed("gexf.render") {
      val nodes = entities.select(col("id"), col("name").as("label"),
        when(col("type") === "work", lit("red")).otherwise(lit("green")).as("color"))
      Gexf.render(nodes, edges.select(col("src"), col("dst")))
    }
    expect("gexf nodes", "<node ".r.findAllMatchIn(gexf).size, gen.entityIds.size)
    Seq(entities, edges, links, cc, labels).foreach(_.unpersist(true))
    (times.result(), failures.result())
  }
}
