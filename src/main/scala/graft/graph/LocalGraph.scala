package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** A graph collected to the driver, for the operators that run small graphs
  * on driver arrays and large ones as distributed join loops
  * (`Analytics.connectedComponents`; `Centrality.eigenvector`,
  * `powerIterationFixed`, `pageRank`, `personalizedPageRank`,
  * `betweenness`; `Layout.fruchtermanReingold`).
  *
  * The gate: at or below `cutoff` vertices (the operators default it to
  * [[graft.Limits.dimensionRows]]) the graph is collected and the operator
  * iterates on arrays; above it nothing is collected. On a dimension-sized
  * graph every distributed round is a few Spark stages of pure scheduling,
  * so the arrays win; the distributed loop is the scale path. Setting
  * `localCutoff = 0` forces the distributed path of a non-empty graph,
  * which is how the specs compare the two.
  *
  * Vertex `i` is `ids(i)`. Edge `j` runs from `src(j)` to `dst(j)`; only
  * edges whose src is a vertex are kept, and `dst(j)` is −1 when the
  * destination is not a vertex (PageRank counts such an edge in its
  * source's out-degree, as the distributed loop does). */
private[graft] final class LocalGraph private (
    vertices: DataFrame,
    val ids: Array[Any],
    val index: Map[Any, Int],
    val src: Array[Int],
    val dst: Array[Int]) {

  def n: Int = ids.length

  def spark: SparkSession = vertices.sparkSession

  def idType: DataType = vertices.schema("id").dataType

  /** The edges whose endpoints are both vertices, as (src, dst) indices. */
  lazy val internal: Array[(Int, Int)] =
    src.indices.collect { case j if dst(j) >= 0 => (src(j), dst(j)) }.toArray

  /** One row per vertex: the vertex id (its field as `vertices` declares
    * it), then each column's value at the vertex's index. */
  def frame(cols: (String, DataType, Int => Any)*): DataFrame = {
    val schema = StructType(vertices.schema("id") +:
      cols.map { case (name, t, _) => StructField(name, t) })
    val rows = ids.indices.map(i => Row.fromSeq(ids(i) +: cols.map(_._3(i))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      math.max(1, math.min(8, n / 4096))), schema)
  }
}

private[graft] object LocalGraph {

  /** The graph on the driver, or None when `vertices` has more than
    * `cutoff` rows. The vertex ids are read with one bounded collect
    * (`limit(cutoff + 1)`), so the gate costs no separate count. */
  def apply(vertices: DataFrame, edges: DataFrame,
      cutoff: Long): Option[LocalGraph] = {
    val cap = math.min(math.max(cutoff, -1L), Int.MaxValue - 1L).toInt + 1
    val ids = vertices.select(col("id")).limit(cap).collect().map(_.get(0))
    if (ids.length > cutoff) None
    else {
      val index = ids.zipWithIndex.toMap
      val kept = edges.select(col("src"), col("dst")).collect()
        .flatMap(r => index.get(r.get(0))
          .map(s => (s, index.getOrElse(r.get(1), -1))))
      Some(new LocalGraph(vertices, ids, index, kept.map(_._1), kept.map(_._2)))
    }
  }
}
