package graft

import org.apache.spark.sql.functions._

import graft.etl.Extract

/** Extract-stage semantics. The manual-cleaning test reproduces the
  * reference checkout's cleaned CSV from its raw CSV, both read through
  * [[Fixtures.assumeFile]], so a missing checkout cancels it. */
class ExtractSpec extends SparkTestBase {

  test("manual cleaning reproduces the committed cleaned CSV exactly") {
    import spark.implicits._
    val ours = Extract.manualCleaning(spark,
      Fixtures.assumeFile(s"$refData/2025-11-07-extracted-entities-raw.csv"))
      .as[String].collect()
    val ref = spark.read.textFile(Fixtures.assumeFile(Fixtures.cleanedCsv))
      .collect()
    assert(ours.length === ref.length)
    assert(ours.toSet === ref.toSet)
  }

  test("extract stage: attributed-author coalesce, separator cleanup, renames") {
    import spark.implicits._
    val export = Seq(
      // (ctype, id, title, authorIds, authors, attrId, attrName)
      ("Work", "1", "T1", "", "", "900", "Attr A"),
      ("Work", "2", "T2", "10;;20", "X ;; Y", "901", "Attr B"),
      ("Work", "3", "T3", "; 30 ;", "; Z ;", null, null),
      ("Person", "4", "P1", null, null, null, null),
      ("Organization", "5", "O1", null, null, null, null))
      .toDF("Content type", "ID", "Title", "Author (person IDs)",
        "Authors (person)", "Attributed author (person ID)", "Attributed author (person)")
      .withColumn("Aka", lit(null: String))
      .withColumn("Social identifiers", lit(null: String))
      .withColumn("Discipline", lit(null: String))
      .withColumn("Commentary on (work ID)", lit(null: String))
      .withColumn("Commentary on (work)", lit(null: String))
      .withColumn("Highest Year", lit(null: String))
      .withColumn("Lowest Year", lit(null: String))

    val out = Extract.extract(export)
    assert(out.columns.contains("Name") && out.columns.contains("Authors (IDs)"))
    assert(!out.columns.contains("Title") &&
      !out.columns.contains("Attributed author (person ID)"))
    val rows = out.select("ID", "Authors (IDs)", "Authors (names)")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // blank author → attributed author
    assert(rows("1") === ("900", "Attr A"))
    // ";;" collapsed, ends stripped
    assert(rows("2") === ("10;20", "X ; Y"))
    assert(rows("3") === ("30", "Z"))
    // Organization filtered out
    assert(!rows.contains("5"))
    assert(out.count() === 4)
  }
}
