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
  case class LabelsOk(df: DataFrame) extends LabelsResult
  case class LabelsBadRequest(msg: String) extends LabelsResult     // → 400
  case class LabelsServerError(msg: String) extends LabelsResult    // → 500

  val errEmpty = "List input must be non-empty."
  val errChars = "List input should not contain any characters besides numbers " +
    "and comma (no whitespace, quotation marks, etc.)"
  val errNoValid = "No valid entity IDs provided"

  def labels(entities: DataFrame, idsParam: String): LabelsResult = {
    val stripped = Option(idsParam).map(_.trim).getOrElse("")
    if (stripped.isEmpty)
      return LabelsBadRequest(errEmpty)
    if (!stripped.matches("[\\d,]*"))
      return LabelsBadRequest(errChars)
    val requested = stripped.split(",", -1).toSeq.distinct
    val found = entities.filter(col("id").isin(requested: _*))
      .select(col("id"), col("name").as("label"))
    val nFound = found.count()
    if (nFound == 0) LabelsBadRequest(errNoValid)
    else if (nFound < requested.size)
      LabelsServerError(s"unknown ids among: ${requested.mkString(",")}")
    else LabelsOk(found)
  }
}
