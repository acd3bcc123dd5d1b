package graft.serve

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

import graft.graph.Subgraph

/** Driver-local serving of `POST /api/graph/subgraph`: what the library
  * composition ([[Subgraph.extract]], [[Subgraph.annotate]],
  * [[Subgraph.labelEdges]], [[JsonOut.subgraphResponse]]) computes per
  * request that does not depend on the request is computed once, here, from
  * the rows `HttpShim` collects at start-up.
  *
  * @param nodeRows every node id annotated by [[Subgraph.annotate]] (its
  *                 `is_central`/`is_excluded` are set per request)
  * @param edgeRows every distinct edge labeled by [[Subgraph.labelEdges]]
  *
  * A request runs the BFS on a [[Subgraph.LocalIndex]] over `edgeRows`,
  * sets the two flags by set membership, orders nodes by id and edges by
  * (source, target) in Spark's string order (unsigned UTF-8 bytes, as the
  * composition's `orderBy` sorts), and renders through the same
  * [[JsonOut]] pieces as the DataFrame overload — no Spark job.
  */
private[serve] final class LocalSubgraph(
    nodeRows: Array[Row],
    edgeRows: Array[Row],
    etextNested: Map[String, Map[String, Either[Seq[String], Map[String, Seq[String]]]]]) {

  private val index = new Subgraph.LocalIndex(
    edgeRows.map(_.getAs[String]("source")).toIndexedSeq,
    edgeRows.map(_.getAs[String]("target")).toIndexedSeq)

  /** A node's position in id order, its rendered head and etext value. */
  private case class Node(rank: Int, head: String, etext: String)

  private val nodes: Map[String, Node] = {
    val ids = nodeRows.map(_.getAs[String]("id"))
    val order = ids.indices.sortBy(i => ids(i).getBytes(UTF_8))(LocalSubgraph.bytesOrder)
    order.iterator.zipWithIndex.map { case (i, rank) =>
      ids(i) -> Node(rank, JsonOut.subgraphNodeHead(nodeRows(i)),
        JsonOut.nodeEtextJson(ids(i), etextNested))
    }.toMap
  }

  private val edgeJson: Array[String] = edgeRows.map(JsonOut.subgraphEdge)

  /** Edge index → its position in (source, target) order. */
  private val edgeRank: Array[Int] = {
    def key(e: Int) = (edgeRows(e).getAs[String]("source").getBytes(UTF_8),
      edgeRows(e).getAs[String]("target").getBytes(UTF_8))
    val order = edgeRows.indices.sortBy(key)(
      Ordering.Tuple2(LocalSubgraph.bytesOrder, LocalSubgraph.bytesOrder))
    val rank = new Array[Int](edgeRows.length)
    order.iterator.zipWithIndex.foreach { case (e, r) => rank(e) = r }
    rank
  }

  /** The response body `JsonOut.subgraphResponse` renders for the same
    * request from the library composition. */
  def response(authors: Seq[String], works: Seq[String], hops: Int,
      exclude: Seq[String]): String = {
    val seeds = (authors ++ works).distinct
    val result = index.extract(seeds, hops, exclude)
    val central = seeds.toSet
    val excluded = exclude.toSet
    val nodeJson = result.nodes.map(id => id -> nodes(id)).sortBy(_._2.rank).map {
      case (id, n) => n.head + JsonOut.subgraphNodeTail(central(id), excluded(id), n.etext)
    }
    val edgesJson = result.edges.sortBy(edgeRank(_)).map(edgeJson(_))
    JsonOut.subgraphEnvelope(authors, works, hops, exclude, nodeJson, edgesJson)
  }
}

private object LocalSubgraph {
  val bytesOrder: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)
}
