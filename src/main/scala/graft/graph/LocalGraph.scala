package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** A graph collected to the driver, for the operators that run small graphs
  * on driver arrays and large ones as distributed join loops
  * (`Analytics.connectedComponents`, `sssp`, `kcore`, `deterministicWalks`;
  * `Centrality.eigenvector`, `powerIterationFixed`, `pageRank`,
  * `personalizedPageRank`, `betweenness`; `Layout.fruchtermanReingold`).
  *
  * The gate: at most `cutoff` vertices (the operators default it to
  * [[graft.Limits.dimensionRows]]) and at most [[edgeBound]]`(cutoff)`
  * edges, since a dimension-sized vertex set can still carry billions of
  * edges. Within both, the graph is collected and the operator iterates on
  * arrays; otherwise it runs the distributed loop. The gate and the collect
  * are one pass: one bounded collect (`limit(bound + 1)`) is both the size
  * test and the data, stops shipping at the bound, and leaves no `count()`
  * to re-run the input's plan. On a dimension-sized graph every distributed
  * round is a few Spark stages of pure scheduling, so the arrays win.
  * Setting `localCutoff = 0` forces the distributed path of a non-empty
  * graph, which is how the specs compare the two.
  *
  * Vertex `i` is `ids(i)`. Edge `j` runs from `src(j)` to `dst(j)`; only
  * edges whose src is a vertex are kept, and `dst(j)` is −1 when the
  * destination is not a vertex (PageRank counts such an edge in its
  * source's out-degree, as the distributed loop does). */
private[graft] final class LocalGraph private (
    val spark: SparkSession,
    idField: StructField,
    val ids: Array[Any],
    val index: Map[Any, Int],
    val src: Array[Int],
    val dst: Array[Int],
    val weight: Array[Long]) {

  def n: Int = ids.length

  def idType: DataType = idField.dataType

  /** The edges whose endpoints are both vertices, as (src, dst) indices. */
  lazy val internal: Array[(Int, Int)] =
    src.indices.collect { case j if dst(j) >= 0 => (src(j), dst(j)) }.toArray

  /** One row per vertex: the vertex id (its field as the input declares
    * it), then each column's value at the vertex's index. */
  def frame(cols: (String, DataType, Int => Any)*): DataFrame =
    frameAt(ids.indices)(cols: _*)

  /** [[frame]] for the vertices `at` only. */
  def frameAt(at: Seq[Int])(cols: (String, DataType, Int => Any)*): DataFrame = {
    val schema = StructType(idField +:
      cols.map { case (name, t, _) => StructField(name, t) })
    val rows = at.map(i => Row.fromSeq(ids(i) +: cols.map(_._3(i))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      math.max(1, math.min(8, at.length / 4096))), schema)
  }
}

private[graft] object LocalGraph {

  /** The most edges a graph within `cutoff` vertices may carry:
    * [[graft.Limits.edgesPerVertex]] per vertex (0 for `cutoff <= 0`). */
  def edgeBound(cutoff: Long): Long = graft.Limits.edgesPerVertex *
    math.max(0L, math.min(cutoff, Int.MaxValue / graft.Limits.edgesPerVertex))

  /** `df`'s rows, or None when it has more than `bound`. */
  private def bounded(df: DataFrame, bound: Long): Option[Array[Row]] = {
    val rows = df.limit(math.min(bound, Int.MaxValue - 1L).toInt + 1).collect()
    if (rows.length > bound) None else Some(rows)
  }

  /** The graph on `vertices(id)` and `edges(src, dst)`, from one bounded
    * collect of their union (edge endpoints cast to the id's type): a union
    * within `cutoff + edgeBound(cutoff)` rows holds the whole graph, and a
    * larger one exceeds a bound. */
  def apply(vertices: DataFrame, edges: DataFrame,
      cutoff: Long): Option[LocalGraph] = {
    val idField = vertices.schema("id")
    val bound = edgeBound(cutoff)
    val both = vertices.select(col("id").as("src"),
        lit(null).cast(idField.dataType).as("dst"), lit(false).as("edge"))
      .unionByName(edges.select(col("src").cast(idField.dataType),
        col("dst").cast(idField.dataType), lit(true).as("edge")))
    bounded(both, math.max(0L, math.min(cutoff, Int.MaxValue)) + bound).flatMap { rows =>
      val (es, vs) = rows.partition(_.getBoolean(2))
      Option.when(vs.length <= cutoff && es.length <= bound) {
        val ids = vs.map(_.get(0))
        val index = ids.zipWithIndex.toMap
        val kept = es.flatMap(r => index.get(r.get(0))
          .map(s => (s, index.getOrElse(r.get(1), -1))))
        new LocalGraph(vertices.sparkSession, idField, ids, index,
          kept.map(_._1), kept.map(_._2), Array.emptyLongArray)
      }
    }
  }

  /** The graph of `edges(src, dst[, w])` alone, from one bounded collect:
    * its vertices are the distinct endpoints, with `src`'s field, and a
    * third column is each edge's long `weight`. */
  def ofEdges(edges: DataFrame, cutoff: Long): Option[LocalGraph] =
    bounded(edges, edgeBound(cutoff)).flatMap { rows =>
      val index = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
      val ends = rows.map(r => (index.getOrElseUpdate(r.get(0), index.size),
        index.getOrElseUpdate(r.get(1), index.size)))
      Option.when(index.size <= cutoff)(new LocalGraph(edges.sparkSession,
        edges.schema("src").copy(name = "id"), index.keys.toArray, index.toMap,
        ends.map(_._1), ends.map(_._2),
        if (edges.columns.length > 2) rows.map(_.getLong(2)) else Array.emptyLongArray))
    }
}
