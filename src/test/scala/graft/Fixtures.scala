package graft

import java.nio.file.{Files, Paths}

import org.scalatest.Assertions

import graft.etl.EntityBuilder

/** Shared, once-per-JVM expensive fixtures (the reference-data ETL takes
  * minutes; every suite reusing it would otherwise rebuild it).
  *
  * Two exports serve the suites. The reference export is the 2025-11-07
  * checkout under [[referenceDir]]; it is not part of this repository. The
  * synthetic export is [[SyntheticExport]] (seed 7), written by the tests
  * themselves.
  *  - Tests that assert values of the reference export (goldens, counts,
  *    listings, graph-dependent thresholds) read it through [[reference]] or
  *    [[assumeFile]], so a missing checkout cancels them.
  *  - Tests that assert what every graph must satisfy run on the synthetic
  *    export through [[onEach]], and on the reference export as well where
  *    its checkout is present. */
object Fixtures {

  val referenceDir = "/root/reference"
  val cleanedCsv = s"$referenceDir/data/2025-11-07-extracted-entities-cleaned.csv"

  private def present(paths: String*): Boolean =
    paths.forall(p => Files.isRegularFile(Paths.get(p)))

  /** `path`, once an `assume` has checked that the file is there: a test
    * reading an absent reference file is canceled, not failed. */
  def assumeFile(path: String): String = {
    Assertions.assume(present(path), s"reference checkout file $path is absent")
    path
  }

  /** The reference export, built from the checkout's cleaned CSV. */
  lazy val built: EntityBuilder.Built = {
    val b = EntityBuilder.build(SparkTestBase.session, cleanedCsv)
    EntityBuilder.Built(
      b.entities.localCheckpoint(true),
      b.edges.localCheckpoint(true))
  }

  /** [[built]], for a test that asserts values of the reference export:
    * canceled when the checkout's cleaned CSV is absent. */
  def reference: EntityBuilder.Built = {
    assumeFile(cleanedCsv)
    built
  }

  /** Runs `check` on the synthetic fixture, then on the reference fixture
    * where every one of `referenceFiles` is present; a failure names the
    * fixture it came from. */
  def onEach[T](synthetic: => T, reference: => T, referenceFiles: String*)(
      check: T => Unit): Unit = {
    Assertions.withClue("synthetic export: ")(check(synthetic))
    if (present(referenceFiles: _*))
      Assertions.withClue("reference export: ")(check(reference))
  }

  /** [[onEach]] over the two entity exports. */
  def onEachExport(check: EntityBuilder.Built => Unit): Unit =
    onEach(SyntheticExport.built, built, cleanedCsv)(check)
}
