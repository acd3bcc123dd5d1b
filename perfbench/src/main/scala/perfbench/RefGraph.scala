package perfbench

import scala.collection.mutable

/** Plain-collections model of the reference graph semantics, written
  * independently of the program: the n-hop subgraph of `grapher.py:25-94`
  * and connected components by union-find. Answers here are what the
  * benchmark checks the program's outputs against.
  */
final class RefGraph(nodes: Set[String], edges: Seq[(String, String, String)]) {

  private val adj: Map[String, Seq[String]] = {
    val m = mutable.HashMap[String, mutable.ArrayBuffer[String]]()
    edges.foreach { case (s, d, _) =>
      m.getOrElseUpdate(s, mutable.ArrayBuffer()) += d
      m.getOrElseUpdate(d, mutable.ArrayBuffer()) += s
    }
    m.map { case (k, v) => k -> v.distinct.toSeq }.toMap
  }
  private val incident: Map[String, Seq[(String, String)]] = {
    val m = mutable.HashMap[String, mutable.ArrayBuffer[(String, String)]]()
    edges.foreach { case (s, d, _) =>
      m.getOrElseUpdate(s, mutable.ArrayBuffer()) += ((s, d))
      m.getOrElseUpdate(d, mutable.ArrayBuffer()) += ((s, d))
    }
    m.map { case (k, v) => k -> v.toSeq }.toMap
  }

  def degree(id: String): Int = adj.get(id).map(_.size).getOrElse(0)
  def neighbors(id: String): Seq[String] = adj.getOrElse(id, Nil)

  /** n-hop subgraph: the BFS loop runs `hops + 1` levels; every reached
    * node is appended, excluded nodes are never expanded, the level-`hops`
    * nodes are expanded but their new neighbours are trimmed. The result is
    * the nx graph membership: endpoints of emitted edges plus expanded nodes
    * without any edge, intersected with the visited set.
    *
    * @return (node ids, (source, target) edges)
    */
  def subgraph(seeds: Seq[String], hops: Int, exclude: Seq[String])
      : (Set[String], Set[(String, String)]) = {
    val excl = exclude.toSet
    val visited = mutable.LinkedHashSet[String]() ++= seeds
    var frontier = seeds.distinct
    var level = 0
    while (level < hops && frontier.nonEmpty) {
      val next = mutable.LinkedHashSet[String]()
      frontier.filterNot(excl).foreach(n => neighbors(n).foreach { m =>
        if (!visited.contains(m)) next += m
      })
      visited ++= next
      frontier = next.toSeq
      level += 1
    }
    val expanded = visited.filterNot(excl)
    val emitted = expanded.iterator.flatMap(n => incident.getOrElse(n, Nil)).toSet
    val graphNodes = emitted.flatMap { case (s, d) => Seq(s, d) } ++
      expanded.filter(n => degree(n) == 0)
    val keptNodes = graphNodes.filter(visited.contains)
    val keptEdges = emitted.filter { case (s, d) => visited.contains(s) && visited.contains(d) }
    (keptNodes, keptEdges)
  }

  /** Longest base-to-commentary chain reachable from a root (Kahn's order
    * over the commentary edges; works on a cycle are never reached). */
  lazy val longestChain: Int = {
    val comm = edges.filter(_._3 == "commentary_on").map(e => (e._1, e._2)).distinct
    val out = comm.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val indeg = mutable.HashMap[String, Int]().withDefaultValue(0)
    comm.foreach { case (_, d) => indeg(d) += 1 }
    val depth = mutable.HashMap[String, Int]()
    val queue = mutable.Queue[String]()
    comm.map(_._1).distinct.filter(indeg(_) == 0).foreach { r => depth(r) = 0; queue += r }
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      out.getOrElse(n, Nil).foreach { m =>
        depth(m) = math.max(depth.getOrElse(m, 0), depth(n) + 1)
        indeg(m) -= 1
        if (indeg(m) == 0) queue += m
      }
    }
    if (depth.isEmpty) 0 else depth.values.max
  }

  /** Component label per node (union-find over the edges). */
  lazy val components: Map[String, String] = {
    val parent = mutable.HashMap[String, String]()
    nodes.foreach(n => parent(n) = n)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val p = parent(c); parent(c) = r; c = p }
      r
    }
    edges.foreach { case (s, d, _) =>
      val (a, b) = (find(s), find(d))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    nodes.iterator.map(n => n -> find(n)).toMap
  }
  lazy val componentSizes: Map[String, Int] =
    components.groupBy(_._2).map { case (c, ms) => c -> ms.size }
  lazy val componentCount: Int = componentSizes.size
  lazy val largestComponent: Int = componentSizes.values.max
  lazy val isolatedCount: Int = componentSizes.values.count(_ == 1)
}
