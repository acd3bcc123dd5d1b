package graft.serve

import org.apache.spark.sql.{DataFrame, Row}

/** Serialization boundary: re-create the reference's nested JSON shapes from
  * flat relations. These run driver-side over `collect()`ed, dimension-sized
  * result sets (the reference's whole dataset is ~17k entities; these outputs
  * are API responses, not data-plane results).
  */
object JsonOut {

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private[serve] def jstr(s: String): String = "\"" + esc(s) + "\""

  /** Entities JSON sink (`utils/transform.py:167-171`): `{id: entity_dict}`
    * with null fields dropped (the reference's `to_dict` contract,
    * `data_models.py:37-38`), snake_case keys, non-ASCII preserved. Driver-side
    * render over the collected (dimension-sized) entity table, like the
    * reference's single-file write. Round-trips through
    * [[graft.etl.JsonLoad.entities]]. */
  def entitiesJson(entities: DataFrame): String = {
    val rows = entities.collect().sortBy(_.getAs[String]("id"))
    def strField(r: Row, df: String, json: String): Option[String] = {
      val i = r.fieldIndex(df)
      if (r.isNullAt(i)) None else Some(jstr(json) + ": " + jstr(r.getString(i)))
    }
    def intField(r: Row, df: String, json: String): Option[String] = {
      val i = r.fieldIndex(df)
      if (r.isNullAt(i)) None else Some(jstr(json) + ": " + r.getInt(i))
    }
    def arrField(r: Row, df: String, json: String): Option[String] = {
      val i = r.fieldIndex(df)
      if (r.isNullAt(i)) None
      else Some(jstr(json) + ": " +
        r.getSeq[String](i).map(jstr).mkString("[", ", ", "]"))
    }
    val ents = rows.map { r =>
      val fields = Seq(
        strField(r, "id", "id"), strField(r, "type", "type"),
        strField(r, "name", "name"), strField(r, "aka", "aka"),
        strField(r, "socialIdentifiers", "social_identifiers"),
        strField(r, "discipline", "discipline"),
        strField(r, "disciplines", "disciplines"),
        intField(r, "highestYear", "highest_year"),
        intField(r, "lowestYear", "lowest_year"),
        intField(r, "authorHighestYear", "author_highest_year"),
        intField(r, "authorLowestYear", "author_lowest_year"),
        arrField(r, "authorIds", "author_ids"),
        arrField(r, "workIds", "work_ids"),
        arrField(r, "baseTextIds", "base_text_ids"),
        arrField(r, "commentaryIds", "commentary_ids")).flatten
      jstr(r.getAs[String]("id")) + ": " + fields.mkString("{", ", ", "}")
    }
    ents.mkString("{", ", ", "}")
  }

  /** Re-nest flat `(workId, collection, subtype, link)` rows to the
    * reference's heterogeneous shape (`utils/transform.py:236-244`):
    * `work → collection → (sorted links | subtype → sorted links)`, where a
    * collection with exactly one subtype collapses to a bare list.
    */
  def nestEtextLinks(links: DataFrame): Map[String, Map[String, Either[Seq[String], Map[String, Seq[String]]]]] = {
    val rows = links.select("workId", "collection", "subtype", "link").collect()
    rows.groupBy(_.getString(0)).map { case (wid, ws) =>
      wid -> ws.groupBy(_.getString(1)).map { case (coll, cs) =>
        val bySub = cs.groupBy(_.getString(2)).map { case (sub, ss) =>
          sub -> ss.map(_.getString(3)).distinct.sorted.toSeq
        }
        coll -> (if (bySub.size == 1) Left(bySub.head._2) else Right(bySub))
      }
    }
  }

  def etextLinksJson(nested: Map[String, Map[String, Either[Seq[String], Map[String, Seq[String]]]]]): String = {
    def linksJson(ls: Seq[String]) = ls.map(jstr).mkString("[", ", ", "]")
    val works = nested.map { case (wid, colls) =>
      val collJson = colls.map {
        case (c, Left(ls)) => jstr(c) + ": " + linksJson(ls)
        case (c, Right(subs)) =>
          jstr(c) + ": " + subs.map { case (s, ls) => jstr(s) + ": " + linksJson(ls) }
            .mkString("{", ", ", "}")
      }.mkString("{", ", ", "}")
      jstr(wid) + ": " + collJson
    }
    works.mkString("{", ", ", "}")
  }

  /** Subgraph API response (`flask_app.py:232-245`): `{parameters, graph:
    * {nodes[], edges[]}}` with the node/edge fields of `flask_app.py:211-230`,
    * from the annotated node and labeled edge relations, in their order.
    */
  def subgraphResponse(
      nodes: DataFrame,
      edges: DataFrame,
      authors: Seq[String],
      works: Seq[String],
      hops: Int,
      exclude: Seq[String],
      etextNested: Map[String, Map[String, Either[Seq[String], Map[String, Seq[String]]]]] = Map.empty): String = {
    val nodeJson = nodes.collect().toSeq.map { r =>
      subgraphNodeHead(r) + subgraphNodeTail(r.getAs[Boolean]("is_central"),
        r.getAs[Boolean]("is_excluded"), nodeEtextJson(r.getAs[String]("id"), etextNested))
    }
    subgraphEnvelope(authors, works, hops, exclude, nodeJson, edges.collect().toSeq.map(subgraphEdge))
  }

  // The pieces of a subgraph response. The driver-local serving path renders
  // the request-independent ones once at start-up, the DataFrame overload
  // above renders them per request; both call these.

  /** A node's fields up to `disciplines`, from an annotated node row
    * ([[graft.graph.Subgraph.annotate]] columns); [[subgraphNodeTail]]
    * closes the object. */
  private[serve] def subgraphNodeHead(r: Row): String =
    Seq(
      "\"id\": " + jstr(r.getAs[String]("id")),
      "\"label\": " + optStr(r, "label"),
      "\"type\": " + optStr(r, "type"),
      "\"aka\": " + optStr(r, "aka"),
      "\"social_ids\": " + optStr(r, "social_ids"),
      "\"dates\": " + optStr(r, "dates"),
      "\"discipline\": " + optStr(r, "discipline"),
      "\"disciplines\": " + optStr(r, "disciplines")
    ).mkString("{", ", ", "")

  private def optStr(r: Row, field: String): String = {
    val i = r.fieldIndex(field)
    if (r.isNullAt(i)) "null" else jstr(r.getString(i))
  }

  /** The request-dependent node fields and the node's `etext_links` value
    * ([[nodeEtextJson]]). */
  private[serve] def subgraphNodeTail(isCentral: Boolean, isExcluded: Boolean,
      etext: String): String =
    s""", "is_central": $isCentral, "is_excluded": $isExcluded, "etext_links": $etext}"""

  /** A node's `etext_links` value: its collection object, or `false` when it
    * has no links (as the reference emits). */
  private[serve] def nodeEtextJson(id: String,
      etextNested: Map[String, Map[String, Either[Seq[String], Map[String, Seq[String]]]]]): String =
    etextNested.get(id) match {
      case Some(m) =>
        val s = etextLinksJson(Map(id -> m))
        s.substring(s.indexOf(':') + 2, s.length - 1) // inner object
      case None => "false"
    }

  /** One edge object, from a labeled edge row
    * ([[graft.graph.Subgraph.labelEdges]] columns). */
  private[serve] def subgraphEdge(r: Row): String =
    Seq(
      "\"source\": " + jstr(r.getAs[String]("source")),
      "\"target\": " + jstr(r.getAs[String]("target")),
      "\"relationship\": " + optStr(r, "relationship")
    ).mkString("{", ", ", "}")

  /** The response around rendered node and edge objects. */
  private[serve] def subgraphEnvelope(authors: Seq[String], works: Seq[String], hops: Int,
      exclude: Seq[String], nodes: Seq[String], edges: Seq[String]): String = {
    def arr(xs: Seq[String]) = xs.mkString("[", ", ", "]")
    s"""{"parameters": {"authors": ${arr(authors.map(jstr))}, "works": ${arr(works.map(jstr))}, "hops": $hops, "exclude_list": ${arr(exclude.map(jstr))}}, "graph": {"nodes": ${arr(nodes)}, "edges": ${arr(edges)}}}"""
  }
}
