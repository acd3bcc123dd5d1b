package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

/** Seeded synthetic Pandit-shaped export: a cleaned-entities CSV (the
  * FIXTURES.md §1 header) and a SETI master CSV (§2 header), shaped after the
  * 2025-11-07 export in BASELINE.md: ~19k rows (13,683 Work / 5,350 Person),
  * ~16.9k entities, ~9.4k wrote and ~4.5k commentary edges, ~4,989
  * components (largest ~9k, ~3.2k isolated), 1,796 SETI rows over 9
  * collections.
  *
  * Besides the CSV text the generator keeps its own tables (names, edges,
  * links) so the benchmark can check the program's answers against the
  * generator rather than against the program.
  *
  * Built in: IAST names, multi-author works, base-text chains with one
  * cycle, missing years, workless persons, duplicate rows, and the `...`
  * SETI placeholder.
  */
final class PanditGen(seed: Long) {
  private val rnd = new Random(seed)

  // Ids of the reference's `config.json` landing query; planted so the
  // landing request is valid on every seed.
  val landingAuthors: Seq[String] = Seq("85303", "85201")
  val landingWorks: Seq[String] = Seq("89000", "88590")

  val collections: Seq[String] = Seq(
    "DCS", "GRETIL", "Muktabodha KSTS", "SARIT", "Sanskrit Library and TITUS",
    "Vātāyana and Pramāṇa NLP", "UTA Dharmaśāstra", "DiPAL DCV", "HANSEL")

  private val nWorks = 13094
  private val nAuthors = 3845
  private val nWorkless = 1205
  private val nDupWorkRows = 589
  private val nDupPersonRows = 300
  private val nIsolated = 3233
  private val nSmallClusters = 1740
  private val nSetiRows = 1796

  // --- ids --------------------------------------------------------------------
  private val idPool: IndexedSeq[String] = {
    val reserved = (landingAuthors ++ landingWorks).map(_.toInt).toSet
    val pool = rnd.shuffle((30000 until 140000).filterNot(reserved).toVector)
    pool.take(nWorks + nAuthors + nWorkless).map(_.toString)
  }
  val workIds: IndexedSeq[String] =
    landingWorks.toVector ++ idPool.take(nWorks - landingWorks.size)
  val authorIds: IndexedSeq[String] =
    landingAuthors.toVector ++ idPool.slice(nWorks, nWorks + nAuthors - landingAuthors.size)
  val worklessIds: IndexedSeq[String] =
    idPool.slice(nWorks + nAuthors, nWorks + nAuthors + nWorkless)

  // --- names ------------------------------------------------------------------
  private val syllables = Vector("kā", "li", "dā", "sa", "śaṃ", "ka", "rā", "ma",
    "nu", "jña", "bha", "ṭṭa", "vā", "ca", "spa", "ti", "mi", "śra", "pra",
    "kṛ", "ṣṇa", "gau", "ḍa", "pā", "da", "ya", "ñā", "na", "dhar", "ho",
    "ṇi", "vi", "dyā", "ra", "ṇya", "su", "ndha", "ve", "dā", "nta")
  private val workSuffix = Vector("bhāṣya", "ṭīkā", "vṛtti", "kārikā", "sūtra",
    "vārttika", "prakāśa", "dīpikā", "saṃgraha", "vivaraṇa")
  private def word(n: Int): String = {
    val s = (0 until n).map(_ => syllables(rnd.nextInt(syllables.size))).mkString
    s"${s.head.toUpper}${s.tail}"
  }
  private def personName(): String =
    if (rnd.nextDouble() < 0.3) s"${word(2)} ${word(3)}" else word(2 + rnd.nextInt(3))
  private def workName(): String =
    word(2 + rnd.nextInt(3)) + workSuffix(rnd.nextInt(workSuffix.size))

  val disciplines: Vector[String] = Vector("Nyāya", "Vedānta", "Yoga", "Mīmāṃsā",
    "Vyākaraṇa", "Kāvya", "Dharmaśāstra", "Āyurveda", "Jyotiṣa", "Sāṃkhya",
    "Tantra", "Alaṃkāra")

  val name: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap()
  workIds.foreach(w => name(w) = workName())
  (authorIds ++ worklessIds).foreach(a => name(a) = personName())

  // --- edges ------------------------------------------------------------------
  /** author -> works (listed order) and work -> authors. */
  private val workAuthors = mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]()
  /** commentary work -> its base texts (listed order). */
  private val workBases = mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]()

  private def addWrote(a: String, w: String): Unit = {
    val as = workAuthors.getOrElseUpdate(w, mutable.ArrayBuffer())
    if (!as.contains(a)) as += a
  }
  private def addBase(b: String, w: String): Unit = if (b != w) {
    val bs = workBases.getOrElseUpdate(w, mutable.ArrayBuffer())
    if (!bs.contains(b)) bs += b
  }

  {
    val works = rnd.shuffle(workIds.drop(landingWorks.size)).toVector
    val isolated = works.take(nIsolated)
    val rest = works.drop(nIsolated)
    val authors = rnd.shuffle(authorIds.drop(landingAuthors.size)).toVector

    // Small components: one author with 1-3 works, now and then a
    // commentary on one of them or an anonymous commentary pair.
    val smallAuthors = authors.take(nSmallClusters)
    var wi = 0
    smallAuthors.foreach { a =>
      val k = 1 + (if (rnd.nextDouble() < 0.35) 1 else 0) + (if (rnd.nextDouble() < 0.1) 1 else 0)
      val ws = rest.slice(wi, wi + k); wi += k
      ws.foreach(addWrote(a, _))
      if (rnd.nextDouble() < 0.15) {
        val c = rest(wi); wi += 1
        addBase(ws.head, c)
      }
    }
    // anonymous base/commentary pairs: two-work components with no author
    (0 until 20).foreach { _ =>
      addBase(rest(wi), rest(wi + 1)); wi += 2
    }

    // one base-text cycle, x -> y -> z -> x, as a component of its own: no
    // root reaches it, as in an export where three works cite each other
    val Seq(x, y, z) = rest.slice(wi, wi + 3)
    wi += 3
    addBase(x, y); addBase(y, z); addBase(z, x)

    // Giant component: preferential attachment, grown as a tree so it stays
    // connected, then densified with extra authors and commentary links.
    val giantWorks = landingWorks.toVector ++ rest.drop(wi)
    val giantAuthors = landingAuthors.toVector ++ authors.drop(nSmallClusters)
    val authorWeight = mutable.ArrayBuffer[String](giantAuthors.head) // degree-skewed urn
    val placedWorks = mutable.ArrayBuffer[String]()
    var nextAuthor = 1
    val authorEvery = giantWorks.size.toDouble / giantAuthors.size
    giantWorks.zipWithIndex.foreach { case (w, i) =>
      while (nextAuthor < giantAuthors.size && nextAuthor <= i / authorEvery) {
        val a = giantAuthors(nextAuthor); nextAuthor += 1
        authorWeight += a
        // a fresh author attaches to the tree through one existing work
        if (placedWorks.nonEmpty) addWrote(a, placedWorks(rnd.nextInt(placedWorks.size)))
      }
      if (placedWorks.isEmpty || rnd.nextDouble() < 0.7) {
        val a = authorWeight(rnd.nextInt(authorWeight.size))
        addWrote(a, w); authorWeight += a
        if (rnd.nextDouble() < 0.04) {
          val a2 = authorWeight(rnd.nextInt(authorWeight.size))
          addWrote(a2, w); authorWeight += a2
        }
      } else {
        // anonymous commentary on an earlier work (builds base-text chains)
        val recent = math.max(0, placedWorks.size - 400)
        addBase(placedWorks(recent + rnd.nextInt(placedWorks.size - recent)), w)
      }
      placedWorks += w
    }
    // extra commentary links inside the giant component, always from an
    // earlier to a later work so the chains stay acyclic
    (0 until 2100).foreach { _ =>
      val i = rnd.nextInt(placedWorks.size)
      val j = rnd.nextInt(placedWorks.size)
      if (i != j) addBase(placedWorks(math.min(i, j)), placedWorks(math.max(i, j)))
    }
    // landing authors wrote the landing works
    addWrote(landingAuthors(0), landingWorks(0))
    addWrote(landingAuthors(1), landingWorks(1))
    require(isolated.forall(w => !workAuthors.contains(w) && !workBases.contains(w)))
  }

  /** Canonical edges (src, dst, etype): wrote = author->work,
    * commentary_on = base->commentary. */
  val edges: Vector[(String, String, String)] = {
    val wrote = workAuthors.toVector.flatMap { case (w, as) => as.map(a => (a, w, "wrote")) }
    val comm = workBases.toVector.flatMap { case (w, bs) => bs.map(b => (b, w, "commentary_on")) }
    (wrote ++ comm).distinct
  }

  /** Entity ids the ETL must produce: every work, plus persons with ≥1 work. */
  val entityIds: Set[String] = workIds.toSet ++ workAuthors.values.flatten
  val entityType: Map[String, String] =
    workIds.map(_ -> "work").toMap ++ workAuthors.values.flatten.map(_ -> "author")

  // --- entity rows -------------------------------------------------------------
  private def years(): (String, String) =
    if (rnd.nextDouble() < 0.4) ("", "")
    else {
      val lo = 200 + rnd.nextInt(1600)
      val hi = if (rnd.nextDouble() < 0.5) lo else lo + rnd.nextInt(120)
      (hi.toString, lo.toString)
    }

  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\"" else s

  val entitiesCsv: String = {
    val header = Seq("Content type", "ID", "Name", "Aka", "Social identifiers",
      "Authors (IDs)", "Authors (names)", "Discipline", "Base texts (IDs)",
      "Base texts (names)", "Highest Year", "Lowest Year")
    def workRow(w: String): Seq[String] = {
      val as = workAuthors.getOrElse(w, Nil)
      val bs = workBases.getOrElse(w, Nil)
      val (hy, ly) = years()
      Seq("Work", w, name(w), if (rnd.nextDouble() < 0.1) word(3) else "", "",
        as.mkString(","), as.map(name).mkString(","),
        if (rnd.nextDouble() < 0.8) disciplines(rnd.nextInt(disciplines.size)) else "",
        bs.mkString(","), bs.map(name).mkString(","), hy, ly)
    }
    def personRow(a: String): Seq[String] = {
      val (hy, ly) = years()
      Seq("Person", a, name(a), if (rnd.nextDouble() < 0.15) personName() else "",
        if (rnd.nextDouble() < 0.3) s"VIAF ${rnd.nextInt(900000) + 100000}" else "",
        "", "", "", "", "", hy, ly)
    }
    val rows = mutable.ArrayBuffer[Seq[String]]()
    rnd.shuffle(workIds).foreach(w => rows += workRow(w))
    rnd.shuffle(authorIds ++ worklessIds).foreach(a => rows += personRow(a))
    // duplicate rows: same id and lists, fresh attributes (the ETL merges them)
    (0 until nDupWorkRows).foreach(_ => rows += workRow(workIds(rnd.nextInt(workIds.size))))
    (0 until nDupPersonRows).foreach(_ => rows += personRow(authorIds(rnd.nextInt(authorIds.size))))
    (header +: rows.toSeq).map(_.map(csvCell).mkString(",")).mkString("", "\n", "\n")
  }
  val entityRows: Int = workIds.size + nDupWorkRows + authorIds.size + worklessIds.size + nDupPersonRows

  // --- SETI rows ----------------------------------------------------------------
  /** (workId, collection) -> links; the `...` placeholder is a work id here,
    * as it is in the ETL'd link table. */
  val links: mutable.Map[(String, String), mutable.Set[String]] = mutable.Map()

  val setiCsv: String = {
    val header = Seq("Collection", "Text Name", "Alternative Text Names",
      "Author Name", "Alternative Author Names", "File Size (kb)",
      "Link 1 (main)", "Link 2 (underlying)", "Link 3 (extract)", "Work ID", "Author ID")
    val linked = rnd.shuffle(workIds).take(1500).toVector
    val rows = (0 until nSetiRows).map { i =>
      val coll = collections(if (rnd.nextDouble() < 0.5) rnd.nextInt(3) else rnd.nextInt(collections.size))
      val slug = coll.filter(_.isLetter).toLowerCase
      val ids: Seq[String] =
        if (rnd.nextDouble() < 0.05) Seq("...")
        else if (rnd.nextDouble() < 0.06) Seq(linked(rnd.nextInt(linked.size)), linked(rnd.nextInt(linked.size))).distinct
        else Seq(linked(rnd.nextInt(linked.size)))
      val l1 = s"https://$slug.example.org/text/$i"
      val l2 = if (rnd.nextDouble() < 0.3) s"https://github.example.org/$slug/$i.txt" else ""
      val l3 = if (rnd.nextDouble() < 0.1) s"https://$slug.example.org/extract/$i" else ""
      ids.foreach { w =>
        val set = links.getOrElseUpdate((w, coll), mutable.Set())
        Seq(l1, l2, l3).filter(_.nonEmpty).foreach(set += _)
      }
      val widCell = if (ids.size > 1 && rnd.nextBoolean()) ids.mkString("\n") else ids.mkString(",")
      Seq(coll, if (ids.head == "...") word(3) else name(ids.head), "", "", "",
        f"${rnd.nextDouble() * 900 + 5}%.1f", l1, l2, l3, widCell, "")
    }
    (header +: rows).map(_.map(csvCell).mkString(",")).mkString("", "\n", "\n")
  }

  def write(dir: Path): (Path, Path) = {
    Files.createDirectories(dir)
    val e = dir.resolve("entities.csv")
    val s = dir.resolve("seti.csv")
    Files.write(e, entitiesCsv.getBytes(StandardCharsets.UTF_8))
    Files.write(s, setiCsv.getBytes(StandardCharsets.UTF_8))
    (e, s)
  }

  // --- reference answers ------------------------------------------------------
  lazy val ref: RefGraph = new RefGraph(entityIds, edges)

  /** The measured shape, stated in every run record. */
  def shape: Map[String, Any] = Map(
    "entity_rows" -> entityRows,
    "work_rows" -> (workIds.size + nDupWorkRows),
    "person_rows" -> (authorIds.size + worklessIds.size + nDupPersonRows),
    "entities" -> entityIds.size,
    "works" -> workIds.size,
    "authors" -> (entityIds.size - workIds.size),
    "wrote_edges" -> edges.count(_._3 == "wrote"),
    "commentary_edges" -> edges.count(_._3 == "commentary_on"),
    "components" -> ref.componentCount,
    "largest_component" -> ref.largestComponent,
    "isolated" -> ref.isolatedCount,
    "longest_commentary_chain" -> ref.longestChain,
    "seti_rows" -> nSetiRows,
    "seti_collections" -> collections.size)
}
