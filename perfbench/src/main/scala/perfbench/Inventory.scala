package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The operator-inventory slice of the `batch` workload: one named query
  * from each of five families, each materialized once per pass and checked
  * against a recorded (row count, fingerprint). */
object Inventory {

  val families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("q36_ngram_jaccard"),
    "retrieval" -> Seq("q154_bm25_topk"),
    "chain" -> Seq("q265_dataset_release"),
    "graph" -> Seq("q31_bfs_2hop"),
    "relational" -> Seq("q03_agg_multi"))
  val queries: Seq[String] = families.flatMap(_._2)

  /** The inventory tables are the same on every seed, so the recorded
    * answers hold for every run. */
  val dataSeed = 42L

  /** Recorded answers, (rows, fingerprint) per query, taken from outputs that
    * matched DuckDB on the same tables (see perfbench/README.md). */
  lazy val expected: Map[String, (Long, String)] = {
    val p = Paths.get("perfbench", "inventory_expected.json")
    if (!Files.exists(p)) Map.empty
    else {
      implicit val formats: Formats = DefaultFormats
      val j = JsonMethods.parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      j.asInstanceOf[JObject].obj.map { case (q, v) =>
        q -> ((v \ "rows").extract[Long], (v \ "fingerprint").extract[String])
      }.toMap
    }
  }

  /** Doubles rounded to 6 places so the fingerprint ignores summation order. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case _ => c
  }

  /** Materialize every column of `df` and reduce it to (row count,
    * order-independent fingerprint): the sum of per-row 64-bit hashes. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType)).toIndexedSeq
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))).cast(StringType)).head()
    (r.getLong(0), Option(r.getString(1)).getOrElse("0"))
  }

  final case class Ran(query: String, seconds: Double, answer: Either[Failure, (Long, String)])

  /** Run `order` once over the tables in `dir`; one span per query. */
  def pass(ctx: Ctx, dir: Path, order: Seq[String]): Seq[Ran] = order.map { q =>
    val t0 = System.nanoTime()
    val answer =
      try Right(ctx.span(s"q.$q")(fingerprint(graft.SparkEntry.queries(q)(ctx.spark, dir.toString))))
      catch { case t: Throwable => Left(Failure.of(q, t)) }
    Ran(q, (System.nanoTime() - t0) / 1e9, answer)
  }

  def check(r: Ran, tag: String): Option[Failure] = r.answer match {
    case Left(f) => Some(f.copy(op = s"$tag ${f.op}"))
    case Right(got) => expected.get(r.query) match {
      case None => Some(Failure(s"$tag ${r.query}", "no recorded answer"))
      case Some(want) if want != got =>
        Some(Failure(s"$tag ${r.query}", s"got (rows, fingerprint) $got, want $want"))
      case _ => None
    }
  }

  /** Write each query's output and its DuckDB SQL in the layout
    * `tools/oracle_check.py` reads, for recording the expected answers. */
  def dump(spark: SparkSession, dir: Path, out: Path): Unit = {
    val sqls = queries.map(q => q -> graft.SparkEntry.oracleSql(q))
    queries.foreach { q =>
      graft.SparkEntry.queries(q)(spark, dir.toString)
        .write.mode("overwrite").parquet(out.resolve(q).toString)
      val (rows, fp) = fingerprint(graft.SparkEntry.queries(q)(spark, dir.toString))
      println(s"""EXPECTED "$q": {"rows": $rows, "fingerprint": "$fp"}""")
    }
    Files.write(out.resolve("oracle_sql.json"),
      Json.obj(sqls).getBytes(StandardCharsets.UTF_8))
  }
}
