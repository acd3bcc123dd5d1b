package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.Iast
import graft.graph.Subgraph

/** Entity-facing queries (`flask_app.py:60-146`). */
object EntityQueries {

  /** Dropdown label: `"{name} ({id})"` + optional ` [{dates}]` + ` [{aka}]`
    * (`flask_app.py:60-68`). Pure column expressions. */
  def labelCol: Column = {
    val base = concat(col("name"), lit(" ("), col("id"), lit(")"))
    val dates = Subgraph.dateInfo
    val withDates = when(dates =!= "", concat(base, lit(" ["), dates, lit("]")))
      .otherwise(base)
    when(col("aka").isNotNull && col("aka") =!= "",
      concat(withDates, lit(" ["), col("aka"), lit("]")))
      .otherwise(withDates)
  }

  /** Sorted dropdown options for 'works' | 'authors' | 'all'
    * (`flask_app.py:60-73,95-106`) — IAST-collated via the custom expression;
    * ArrayType(Int) sort keys order natively in Spark's sort so the plan is a
    * normal global sort, no driver-side comparator.
    */
  def dropdownOptions(entities: DataFrame, which: String): DataFrame = {
    val base = which match {
      case "all" => entities
      case "works" => entities.filter(col("type") === "work")
      case "authors" => entities.filter(col("type") === "author")
    }
    base.select(col("id"), labelCol.as("label"))
      .orderBy(Iast.iastKey(col("label")))
  }

  /** Point lookups `ids → {id, label}` (`flask_app.py:109-146`). The label
    * here is the BARE entity name (`flask_app.py:142`), not the dropdown
    * label — the endpoint resolves display names for already-known ids.
    *
    * Error contract parity, including the reference's Python-split quirks:
    * empty/invalid-chars input and all-invalid ids are client errors with the
    * reference's exact messages; a MIX of valid+unknown ids is a server error
    * (unhandled KeyError → 500). `"1,,2".split(',')` keeps the empty segment
    * in Python, so an empty segment beside valid ids is ALSO a KeyError → 500
    * — reproduced by keeping empty segments in the requested set.
    */
  sealed trait LabelsResult
  sealed trait LabelsError extends LabelsResult
  case class LabelsOk(df: DataFrame) extends LabelsResult
  case class LabelsBadRequest(msg: String) extends LabelsError     // → 400
  case class LabelsServerError(msg: String) extends LabelsError    // → 500

  val errEmpty = "List input must be non-empty."
  val errChars = "List input should not contain any characters besides numbers " +
    "and comma (no whitespace, quotation marks, etc.)"
  val errNoValid = "No valid entity IDs provided"

  def labels(entities: DataFrame, idsParam: String): LabelsResult = {
    def found(ids: Seq[String]) = entities.filter(col("id").isin(ids: _*))
      .select(col("id"), col("name").as("label"))
    labelsRequest(idsParam)(found(_).count())
      .fold[LabelsResult](identity, ids => LabelsOk(found(ids.distinct)))
  }

  /** The request half of [[labels]], shared with the serving snapshot:
    * validates `idsParam`, splits it as Python does, and applies the
    * found-count rule to `countFound`, which gets the distinct requested ids
    * and returns how many of them have an entity row. On success, the
    * requested ids in request order with duplicates kept: the reference
    * renders over the request list (`flask_app.py:139-143`). */
  def labelsRequest(idsParam: String)(countFound: Seq[String] => Long)
      : Either[LabelsError, Seq[String]] = {
    val stripped = Option(idsParam).map(_.trim).getOrElse("")
    if (stripped.isEmpty)
      return Left(LabelsBadRequest(errEmpty))
    if (!stripped.matches("[\\d,]*"))
      return Left(LabelsBadRequest(errChars))
    val ids = stripped.split(",", -1).toSeq
    val requested = ids.distinct
    val nFound = countFound(requested)
    if (nFound == 0) Left(LabelsBadRequest(errNoValid))
    else if (nFound < requested.size)
      Left(LabelsServerError(s"unknown ids among: ${requested.mkString(",")}"))
    else Right(ids)
  }
}
