package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.{JsonLoad, LinkBuilder}
import graft.serve.JsonOut

/** JSON source/sink coverage (SURVEY §2.1 S4/S5/S7):
  *  - entities: sink → scan roundtrip is lossless, on the synthetic export
  *    and on the reference export where its checkout is present;
  *  - links: scanning the reference's own committed JSON artifact reproduces
  *    our ETL's flat relation (the independent-path cross-check). These read
  *    the checkout's SETI CSV and link JSON through [[Fixtures.assumeFile]],
  *    so a missing checkout cancels them.
  */
class JsonLoadSpec extends SparkTestBase {

  test("entities JSON sink → scan roundtrip is lossless") {
    Fixtures.onEachExport { built =>
      val entities = built.entities
      val json = JsonOut.entitiesJson(entities)
      val f = Files.createTempFile("entities", ".json")
      Files.writeString(f, json)
      val back = JsonLoad.entities(spark, f.toString)
      assert(back.count() === entities.count())
      // canonical per-row fingerprint over every column, nulls marked
      def canon(df: org.apache.spark.sql.DataFrame) = df.select(
        concat_ws("|", df.columns.sorted.map(c =>
          coalesce(col(c).cast("string"), lit("<null>"))): _*)).collect()
        .map(_.getString(0)).sorted
      assert(canon(back).sameElements(canon(entities)))
      Files.delete(f)
    }
  }

  test("link JSON scan reproduces the ETL's flat relation") {
    val scanned = JsonLoad.etextLinks(spark,
      Fixtures.assumeFile(s"$refData/2025-11-07-etext-link-data.json")).localCheckpoint(true)
    val built = LinkBuilder.build(spark,
      Fixtures.assumeFile(s"$refData/2025-11-07-seti-master.csv"))
    val ours = built.links.localCheckpoint(true)
    // (workId, collection, link) — subtype-independent view matches exactly
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("workId", "collection", "link").distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(triples(scanned) === triples(ours))
    // where the JSON kept subtype labels (multi-subtype collections), the
    // full 4-tuple matches our rows too
    val labeled = scanned.filter(col("subtype").isNotNull)
      .select("workId", "collection", "subtype", "link").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val oursAll = ours.collect()
      .map(r => (r.getAs[String]("workId"), r.getAs[String]("collection"),
        r.getAs[String]("subtype"), r.getAs[String]("link"))).toSet
    assert(labeled.subsetOf(oursAll))
    // null-subtype rows = the single-subtype collapse; each such
    // (workId, collection) must have exactly one subtype in our relation
    val collapsed = scanned.filter(col("subtype").isNull)
      .select("workId", "collection").distinct().count()
    val singles = ours.groupBy("workId", "collection")
      .agg(countDistinct("subtype").as("n")).filter(col("n") === 1).count()
    assert(collapsed === singles)
  }

  test("link JSON count side-tables scan matches the ETL's") {
    val scanned = JsonLoad.collectionCounts(spark,
      Fixtures.assumeFile(s"$refData/2025-11-07-etext-link-data.json")).collect()
      .map(r => r.getAs[String]("collection") ->
        (r.getAs[Long]("etexts"), r.getAs[Long]("etexts_missing_works"))).toMap
    val built = LinkBuilder.build(spark,
      Fixtures.assumeFile(s"$refData/2025-11-07-seti-master.csv"))
    val ours = built.collectionCounts.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(scanned === ours)
  }
}
