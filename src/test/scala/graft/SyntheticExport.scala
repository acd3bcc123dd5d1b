package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.functions.col

import graft.etl.EntityBuilder
import graft.model.Schemas

/** A small seeded Pandit-shaped export, written as a cleaned-entities CSV
  * (FIXTURES.md §1 header) and built by [[EntityBuilder]], for suites that
  * need the serving layer without the reference checkout.
  *
  * Besides ~150 random works and ~45 persons, the rows carry every shape the
  * subgraph path must get right: IAST names, multi-author works, a base-text
  * chain, a base-text cycle and a work that is its own base text, work and
  * author years that are missing, zero, single or a range (so
  * `Subgraph.dateInfo` takes every branch, author imputation included), an
  * isolated work, a workless person listed as a base text (an edge endpoint
  * with no entity row), a repeated row, ids whose string order is not their
  * numeric order, and two ids whose UTF-8 order differs from their UTF-16
  * order.
  *
  * [[setiRows]] is a SETI master CSV over the same work ids, for the SETI
  * link and query suites. */
object SyntheticExport {

  val header: Seq[String] = Seq("Content type", "ID", "Name", "Aka",
    "Social identifiers", "Authors (IDs)", "Authors (names)", "Discipline",
    "Base texts (IDs)", "Base texts (names)", "Highest Year", "Lowest Year")

  /** Ids of the hand-placed shapes. */
  val chain = Seq("20001", "20002", "20003") // 20002 comments on 20001, 20003 on 20002
  val cycle = Seq("20011", "20012")
  val selfLoop = "20021"
  val isolated = "20031"
  /** A workless person listed as a base text: an edge source with no entity row. */
  val ghost = "60001"
  /** Precedes "100" in string order; "9Ａ" precedes "9😀" in UTF-8 order only. */
  val oddIds = Seq("7", "100", "9Ａ", "9😀")

  private def work(id: String, name: String, authors: Seq[(String, String)] = Nil,
      bases: Seq[(String, String)] = Nil, discipline: String = "",
      years: (String, String) = ("", ""), aka: String = ""): Seq[String] =
    Seq("Work", id, name, aka, "", authors.map(_._1).mkString(","),
      authors.map(_._2).mkString(","), discipline, bases.map(_._1).mkString(","),
      bases.map(_._2).mkString(","), years._1, years._2)

  private def person(id: String, name: String, years: (String, String) = ("", ""),
      aka: String = "", social: String = ""): Seq[String] =
    Seq("Person", id, name, aka, social, "", "", "", "", "", years._1, years._2)

  /** The CSV rows (without the header) for `seed`. */
  def rows(seed: Long): Seq[Seq[String]] = {
    val rnd = new Random(seed)
    val syllables = Seq("kā", "li", "dā", "sa", "śa", "ṅka", "ra", "mā", "na", "me",
      "yo", "da", "ya", "bha", "ṭṭa", "ṛ", "ṣi", "jñā", "ne", "śva", "ḥ")
    def name() = (0 to 1 + rnd.nextInt(3))
      .map(_ => syllables(rnd.nextInt(syllables.size))).mkString.capitalize
    def years(): (String, String) = rnd.nextInt(5) match {
      case 0 => ("", "")
      case 1 => ("0", "0")
      case 2 => val y = (500 + rnd.nextInt(1200)).toString; (y, y)
      case _ => val ly = 500 + rnd.nextInt(1200); ((ly + 1 + rnd.nextInt(80)).toString, ly.toString)
    }
    val disciplines = Seq("Nyāya", "Vedānta", "Yoga", "Kāvya", "Vyākaraṇa", "")

    val persons = (0 until 45).map(i => (50000 + i * 7).toString -> name())
    val works = (0 until 150).map(i => (10000 + i * 3).toString -> name())
    // a skewed author draw, so a few authors have many works
    def author() = persons((rnd.nextDouble() * rnd.nextDouble() * persons.size).toInt)

    val personRows = persons.map { case (id, n) =>
      person(id, n, years(),
        aka = if (rnd.nextInt(4) == 0) name() else "",
        social = if (rnd.nextInt(3) == 0) s"viaf:$id" else "")
    }
    val workRows = works.zipWithIndex.map { case ((id, n), i) =>
      val authors = Seq.fill(rnd.nextInt(4))(author()).distinct
      val bases = if (i > 0 && rnd.nextInt(10) < 3)
        Seq.fill(1 + rnd.nextInt(2))(works(rnd.nextInt(i))).distinct else Nil
      work(id, n, authors, bases, disciplines(rnd.nextInt(disciplines.size)),
        if (rnd.nextInt(3) == 0) ("", "") else years())
    }
    val (a1, a2, a3) = (persons(0), persons(1), persons(2))
    val special = Seq(
      // the ghost is created as a person first, so the base-text mention
      // below does not make it a work; having no works, it is dropped
      person(ghost, "Bhūta", ("900", "850")),
      work(chain(0), "Mūlagrantha", Seq(a1), years = ("600", "550")),
      work(chain(1), "Ṭīkā", Seq(a2), Seq(chain(0) -> "Mūlagrantha")),
      work(chain(2), "Anuṭīkā", Seq(a1, a3), Seq(chain(1) -> "Ṭīkā"), years = ("0", "0")),
      work(cycle(0), "Pūrvapakṣa", Seq(a2), Seq(cycle(1) -> "Uttarapakṣa")),
      work(cycle(1), "Uttarapakṣa", Nil, Seq(cycle(0) -> "Pūrvapakṣa"), years = ("1200", "1200")),
      work(selfLoop, "Svavṛtti", Seq(a3), Seq(selfLoop -> "Svavṛtti")),
      work(isolated, "Ekākī", years = ("1000", "900")),
      work("20041", "Bhūtaṭīkā", Seq(a1), Seq(ghost -> "Bhūta"), aka = "say \"Śrī\" \\ Harṣa"),
      work(oddIds(0), "Saptaka", Seq(a2, a1)),
      work(oddIds(1), "Śataka", Seq(a2), Seq(oddIds(0) -> "Saptaka")),
      work(oddIds(2), "Pūrṇa", Seq(a3)),
      work(oddIds(3), "Hāsya", Seq(a3), Seq(oddIds(2) -> "Pūrṇa")))
    personRows ++ workRows ++ special :+ workRows(5) // a repeated row
  }

  private def csvLine(fields: Seq[String]): String =
    fields.map(f => "\"" + f.replace("\"", "\"\"") + "\"").mkString(",")

  /** Writes the CSV for `seed` into `dir`; returns its path. */
  def write(dir: Path, seed: Long): Path = {
    val out = dir.resolve(s"synthetic-entities-$seed.csv")
    Files.writeString(out, (csvLine(header) +: rows(seed).map(csvLine)).mkString("\n") + "\n",
      StandardCharsets.UTF_8)
    out
  }

  /** The export for seed 7, built once per JVM. */
  lazy val built: EntityBuilder.Built = {
    val csv = write(Files.createTempDirectory("synthetic-export"), 7)
    val b = EntityBuilder.build(SparkTestBase.session, csv.toString)
    EntityBuilder.Built(b.entities.localCheckpoint(true), b.edges.localCheckpoint(true))
  }

  /** The author with the most `wrote` edges in [[built]], ties broken by id:
    * the synthetic counterpart of the reference's prolific author 40377. */
  lazy val hub: String = built.edges.filter(col("etype") === Schemas.Wrote)
    .groupBy(col("src")).count()
    .orderBy(col("count").desc, col("src")).head().getString(0)

  private val setiHeader: Seq[String] = Seq("Collection", "Text Name", "Alternative Text Names",
    "Author Name", "Alternative Author Names", "File Size (kb)",
    "Link 1 (main)", "Link 2 (underlying)", "Link 3 (extract)", "Work ID", "Author ID")

  /** SETI master CSV rows (FIXTURES.md §2 header, without it) over the work
    * ids of [[rows]]: 20 seeded single-link rows, each in GRETIL, DCS or
    * SARIT, then the planted shapes (FIXTURES.md §2a): works in both GRETIL
    * and DCS, a DCS row with all three link columns (a multi-subtype
    * collection), a `Work ID` cell of two ids split on a newline, a `...`
    * placeholder row, and SARIT works that have authors. */
  def setiRows(seed: Long): Seq[Seq[String]] = {
    val rnd = new Random(seed)
    val names = rows(seed).collect { case r if r.head == "Work" => r(1) -> r(2) }.toMap
    val workIds = names.keys.toSeq.sorted
    def row(collection: String, ids: Seq[String], links: String*): Seq[String] = {
      val slug = collection.toLowerCase
      val cells = links.map(l => s"https://$slug.example.org/$l").padTo(3, "")
      Seq(collection, ids.map(names.getOrElse(_, "Ajñāta")).mkString("; "), "", "", "",
        s"${5 + rnd.nextInt(900)}.${rnd.nextInt(10)}") ++ cells ++
        Seq(ids.mkString("\n"), "")
    }
    val seeded = (0 until 20).map { i =>
      val collection = Seq("GRETIL", "DCS", "SARIT")(rnd.nextInt(3))
      row(collection, Seq(workIds(rnd.nextInt(workIds.size))), s"text/$i.htm")
    }
    val planted = Seq(
      row("GRETIL", Seq(chain(0)), "mula.htm"),
      row("DCS", Seq(chain(0)), "mula.html", "conllu/mula", "txt/mula.txt"),
      row("GRETIL", Seq(chain(1)), "tika.htm"),
      row("DCS", Seq(chain(1)), "tika.html"),
      row("GRETIL", Seq(chain(2), cycle(1)), "anutika.htm"),
      row("GRETIL", Seq("..."), "unmatched.htm"),
      row("SARIT", Seq(selfLoop), "svavrtti.xml", "svavrtti-gh.xml"),
      row("SARIT", Seq(oddIds(2)), "purna.xml"))
    seeded ++ planted
  }

  /** Writes the SETI master CSV for `seed` into `dir`; returns its path. */
  def writeSeti(dir: Path, seed: Long): Path = {
    val out = dir.resolve(s"synthetic-seti-master-$seed.csv")
    Files.writeString(out,
      (csvLine(setiHeader) +: setiRows(seed).map(csvLine)).mkString("\n") + "\n",
      StandardCharsets.UTF_8)
    out
  }

  /** Path of the SETI master CSV for seed 7, written once per JVM. */
  lazy val setiCsv: String =
    writeSeti(Files.createTempDirectory("synthetic-seti"), 7).toString

  /** E-text links for a few works, both nested shapes. */
  val etext: Map[String, Map[String, Either[Seq[String], Map[String, Seq[String]]]]] = Map(
    chain(0) -> Map("GRETIL" -> Left(Seq("https://example.org/g/1")),
      "DCS" -> Right(Map("main" -> Seq("https://example.org/d/1"),
        "extract" -> Seq("https://example.org/d/1x")))),
    cycle(1) -> Map("SARIT" -> Left(Seq("https://example.org/s/ā"))),
    oddIds(3) -> Map("GRETIL" -> Left(Seq("https://example.org/g/2", "https://example.org/g/3"))))
}
