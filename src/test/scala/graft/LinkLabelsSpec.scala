package graft

import org.apache.spark.sql.functions._

import graft.etl.JsonLoad
import graft.serve.LinkLabels

/** P16 — presentation-layer link labels, server-side: rule-for-rule cases
  * mirroring `static/js/graph.js:254-338`, then the full committed link
  * relation (every link labels without error; spot values from the data),
  * read through [[Fixtures.assumeFile]]: a missing checkout cancels that test.
  */
class LinkLabelsSpec extends SparkTestBase {

  private def label(collection: String, link: String, idx: Int = 0, total: Int = 1): String = {
    import spark.implicits._
    Seq((collection, link, idx, total)).toDF("collection", "link", "idx", "total")
      .select(LinkLabels.displayLabel(col("collection"), col("link"),
        col("idx"), col("total")).as("l"))
      .head().getString(0)
  }

  test("extractor rules match the reference JS case by case") {
    // basename collections: last [/=] segment, extension stripped
    assert(label("GRETIL",
      "http://gretil.sub.uni-goettingen.de/gretil/1_sanskr/5_poetry/1_alam/mamkavpu.htm")
      === "mamkavpu")
    assert(label("SARIT", "https://sarit.indology.info/texts/foo.xml") === "foo")
    assert(label("Sanskrit Library and TITUS", "https://x.org/a=b.c.d") === "b.c")
    assert(label("HANSEL", "https://h.org/items/last/") === "") // trailing slash → empty, like JS pop()
    // DCS: IDTextDisplay id, else basename (github tree / extracted file)
    assert(label("DCS",
      "http://www.sanskrit-linguistics.org/dcs/index.php?contents=texte&IDTextDisplay=165")
      === "165")
    assert(label("DCS", "https://raw.githubusercontent.com/o/r/main/files/SomeTitle")
      === "SomeTitle")
    assert(label("DCS", "https://dcs.example/extracted/SomeTitle.txt") === "SomeTitle")
    // Vātāyana: text_abbrv percent-DECODED (e.g. HB%E1%B9%AC → HBṬ)
    assert(label("Vātāyana and Pramāṇa NLP",
      "https://vatayana.info/browse?text_abbrv=HB%E1%B9%AC&x=1") === "HBṬ")
    assert(label("Vātāyana and Pramāṇa NLP", "https://vatayana.info/a/z.html") === "z")
    // Muktabodha: catalog number, NOT decoded
    assert(label("Muktabodha KSTS",
      "https://muktabodha.org/cat?miri_catalog_number=M00349&v=2") === "M00349")
    // UTA: google docs (enumerated when several), /resources/ path decoded,
    // no trailing slash
    assert(label("UTA Dharmaśāstra",
      "https://docs.google.com/document/d/abc/view") === "Google Doc")
    assert(label("UTA Dharmaśāstra",
      "https://docs.google.com/document/d/abc/view", idx = 1, total = 3)
      === "Google Doc 2")
    assert(label("UTA Dharmaśāstra",
      "https://sites.utexas.edu/sanskrit/resources/v%e1%b9%a3a-text/")
      === "vṣa-text")
    // the JS resources-regex is $-anchored: a query string breaks the match
    // and the basename fallback (split on [/=]) yields the param VALUE —
    // faithful parity includes this quirk
    assert(label("UTA Dharmaśāstra",
      "https://sites.utexas.edu/sanskrit/resources/manu/part2?sec=3") === "3")
    assert(label("UTA Dharmaśāstra",
      "https://sites.utexas.edu/sanskrit/resources/manu/part2") === "manu/part2")
    assert(label("UTA Dharmaśāstra", "https://other.site/some/page.html") === "page")
    // DiPAL: tra_id preferred over wor_id, else basename
    assert(label("DiPAL DCV", "https://dipal.org/t?wor_id=6&tra_id=77") === "77")
    assert(label("DiPAL DCV", "https://dipal.org/t?wor_id=6") === "6")
    assert(label("DiPAL DCV", "https://dipal.org/works/name.php") === "name")
    // unknown collection → basename fallback
    assert(label("Never Heard Of It", "https://x.org/p/q.txt") === "q")
  }

  test("every committed reference link labels; known spot value") {
    val json = Fixtures.assumeFile(s"$refData/2025-11-07-etext-link-data.json")
    val links = JsonLoad.etextLinksIndexed(spark, json).localCheckpoint(true)
    // indexed loader agrees with the flat loader on the triple relation
    val flat = JsonLoad.etextLinks(spark, json)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("workId", "collection", "link").distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(triples(links) === triples(flat))
    // idx is dense 0..total-1 within each list
    val badIdx = links.groupBy("workId", "collection", "subtype")
      .agg(max("idx").as("mx"), countDistinct("idx").as("n"), max("total").as("t"))
      .filter(col("mx") =!= col("t") - 1 || col("n") =!= col("t"))
    assert(badIdx.count() === 0)
    val lab = LinkLabels.labeled(links).localCheckpoint(true)
    assert(lab.filter(col("label").isNull).count() === 0)
    // the first GRETIL link of work 41242 (visible in the committed JSON)
    val spot = lab.filter(col("workId") === "41242" &&
      col("collection") === "GRETIL" && col("idx") === 0)
      .select("label").head().getString(0)
    assert(spot === "mamkavpu")
    // DCS IDTextDisplay links label as pure digits
    val dcsBad = lab.filter(col("collection") === "DCS" &&
      col("link").contains("IDTextDisplay=") &&
      !col("label").rlike("^\\d+$"))
    assert(dcsBad.count() === 0)
  }
}
