package graft

import org.apache.spark.sql.functions._

import graft.etl.LinkBuilder
import graft.expr.Iast
import graft.query.{EntityQueries, SetiQueries}

/** Serving-layer query semantics (SURVEY §2.9): dropdown collation + label
  * shape, the labels error contract (400 vs the reference's
  * KeyError-on-mixed-ids 500), and the SETI set-algebra family cross-checked
  * against independently-computed expectations. Every test runs on the
  * synthetic export and its SETI master CSV ([[SyntheticExport.setiCsv]]),
  * and on the reference data where the checkout holds the files it reads. */
class QuerySpec extends SparkTestBase {

  val refSeti = s"$refData/2025-11-07-seti-master.csv"

  lazy val entities = Fixtures.built.entities
  lazy val links = LinkBuilder.build(spark, refSeti).links.localCheckpoint(true)

  lazy val synthEntities = SyntheticExport.built.entities
  lazy val synthLinks = LinkBuilder.build(spark, SyntheticExport.setiCsv).links
    .localCheckpoint(true)

  test("dropdown options: IAST-collated order, reference label shape") {
    Fixtures.onEach(synthEntities, entities, Fixtures.cleanedCsv) { entities =>
      val opts = EntityQueries.dropdownOptions(entities, "authors")
        .limit(5000).collect().map(_.getString(1))
      assert(opts.nonEmpty)
      // engine-side order equals the driver-side collation ordering
      val resorted = opts.sortBy(Iast.sortKey(_).toIndexedSeq)(
        Ordering.Implicits.seqOrdering(Ordering.Int))
      assert(opts.sameElements(resorted), "IAST order violated")
      assert(opts.forall(_.matches(""".+ \(\d+\)( \[.*\])*""")), "label shape")
    }
  }

  test("labels error contract: 400 shapes, mixed-ids server error, ok path") {
    Fixtures.onEach(synthEntities, entities, Fixtures.cleanedCsv) { entities =>
      import EntityQueries._
      assert(labels(entities, "").isInstanceOf[LabelsBadRequest])
      assert(labels(entities, "12a,34").isInstanceOf[LabelsBadRequest])
      assert(labels(entities, "1,2").isInstanceOf[LabelsBadRequest]) // all unknown
      val someId = entities.select("id").head().getString(0)
      labels(entities, s"$someId,999999999") match {
        case LabelsServerError(_) => // mixed valid+unknown → reference 500
        case other => fail(s"expected server error, got $other")
      }
      labels(entities, someId) match {
        case LabelsOk(df) =>
          val r = df.select("id", "label").head()
          assert(r.getString(0) === someId)
          // the reference's label here is the BARE name (flask_app.py:142),
          // not the dropdown label
          val name = entities.filter(col("id") === someId)
            .select("name").head().getString(0)
          assert(r.getString(1) === name)
        case other => fail(s"expected ok, got $other")
      }
      // Python-split quirk: an empty segment beside a valid id → KeyError → 500
      assert(labels(entities, s"$someId,").isInstanceOf[LabelsServerError])
    }
  }

  test("SETI by_collection: strict vs include-other-collections") {
    Fixtures.onEach(synthLinks, links, refSeti) { links =>
      val c = "GRETIL"
      val strict = SetiQueries.byCollection(links, c, includeOther = false)
      assert(strict.select("collection").distinct().collect()
        .map(_.getString(0)).toSeq === Seq(c))
      val wide = SetiQueries.byCollection(links, c, includeOther = true)
      // same works, superset of rows
      assert(wide.select("workId").distinct().count() ===
        strict.select("workId").distinct().count())
      assert(wide.count() >= strict.count())
      assert(wide.filter(col("workId") === "...").count() === 0)
    }
  }

  test("SETI unique + overlap partition the membership correctly") {
    Fixtures.onEach(synthLinks, links, refSeti) { links =>
      val uniq = SetiQueries.uniqueToCollection(links, "GRETIL")
        .select("workId").distinct().collect().map(_.getString(0)).toSet
      val multi = links.filter(col("workId") =!= "...")
        .groupBy("workId").agg(countDistinct("collection").as("n"))
        .filter(col("n") > 1).select("workId")
        .collect().map(_.getString(0)).toSet
      assert(uniq.intersect(multi).isEmpty, "unique works appear in >1 collection")

      val ov = SetiQueries.overlap(links, "GRETIL", "DCS").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val gret = links.filter(col("collection") === "GRETIL" && col("workId") =!= "...")
        .select("workId").collect().map(_.getString(0)).toSet
      val dcs = links.filter(col("collection") === "DCS" && col("workId") =!= "...")
        .select("workId").collect().map(_.getString(0)).toSet
      assert(ov.filter(_._2 == "overlap").keySet === gret.intersect(dcs))
      assert(ov.filter(_._2 == "only_c1").keySet === gret.diff(dcs))
      assert(ov.filter(_._2 == "only_c2").keySet === dcs.diff(gret))
    }
  }

  test("authors of a collection's works (visualize seed query)") {
    Fixtures.onEach((synthEntities, synthLinks), (entities, links),
        Fixtures.cleanedCsv, refSeti) { case (entities, links) =>
      val workIds = SetiQueries.byCollection(links, "SARIT", includeOther = false)
        .select(col("workId").as("id")).distinct()
      val authors = SetiQueries.authorsOfWorks(entities, workIds)
        .collect().map(_.getString(0)).toSet
      assert(authors.nonEmpty)
      // every returned id is an author entity
      val authorIds = entities.filter(col("type") === "author")
        .select("id").collect().map(_.getString(0)).toSet
      assert(authors.subsetOf(authorIds))
    }
  }
}
