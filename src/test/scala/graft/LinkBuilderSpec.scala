package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.etl.LinkBuilder
import graft.serve.JsonOut

/** SETI link ETL parity: the committed 2025-11-07-etext-link-data.json is the
  * reference's own output on the committed CSV (verified byte-identical when
  * re-running the reference ETL). We compare our flat relation re-nested
  * through the serialization layer against it, structurally.
  *
  * The two parity tests read the checkout's SETI CSV and link JSON through
  * [[Fixtures.assumeFile]], so a missing checkout cancels them. The summary
  * test runs on the synthetic SETI master CSV ([[SyntheticExport.setiCsv]]),
  * and on the reference CSV where the checkout is present.
  */
class LinkBuilderSpec extends SparkTestBase {

  val refSeti = s"$refData/2025-11-07-seti-master.csv"

  lazy val built = LinkBuilder.build(spark, Fixtures.assumeFile(refSeti))

  private def norm(j: JValue): Any = j match {
    case JObject(fields) => fields.map { case (k, v) => k -> norm(v) }.toMap
    case JArray(items) => items.map(norm)
    case JString(s) => s
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d
    case JBool(b) => b
    case JNull | JNothing => null
    case other => other.toString
  }

  lazy val committed: Map[String, Any] = {
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(Fixtures.assumeFile(s"$refData/2025-11-07-etext-link-data.json")))
    norm(JsonMethods.parse(txt)).asInstanceOf[Map[String, Any]]
  }

  test("re-nested link mapping matches the reference JSON structurally") {
    val nested = JsonOut.nestEtextLinks(built.links)
    val rendered = JsonOut.etextLinksJson(nested)
    val ours = norm(JsonMethods.parse(rendered))
    val ref = committed("work_id_to_link_mapping")
    assert(ours === ref)
  }

  test("collection count side-tables match") {
    val counts = built.collectionCounts.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val refTotals = committed("collection_total_link_counts")
      .asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.asInstanceOf[Long] }
    val refMissing = committed("collection_missing_work_id_counts")
      .asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.asInstanceOf[Long] }
    refTotals.foreach { case (coll, n) =>
      assert(counts(coll)._1 === n, s"etexts count for $coll")
    }
    refMissing.foreach { case (coll, n) =>
      assert(counts(coll)._2 === n, s"missing count for $coll")
    }
  }

  test("SETI summary: coverage truncation and works-desc ordering") {
    Fixtures.onEach(LinkBuilder.build(spark, SyntheticExport.setiCsv),
        LinkBuilder.build(spark, refSeti), refSeti) { built =>
      val summary = graft.query.SetiQueries.summary(built.links, built.collectionCounts)
        .collect()
      val works = summary.map(_.getAs[Long]("works"))
      assert(works.sameElements(works.sortBy(-_)), "ordered by works desc")
      summary.foreach { r =>
        val cov = r.getAs[Double]("etext_coverage")
        val et = r.getAs[Long]("etexts"); val miss = r.getAs[Long]("etexts_missing_works")
        assert(cov === math.floor((et - miss).toDouble / et * 1000) / 10)
      }
    }
  }
}
