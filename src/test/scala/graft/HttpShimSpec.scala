package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.Subgraph
import graft.query.EntityQueries
import graft.serve.{HttpShim, JsonOut}

/** End-to-end drive of the HTTP facade (SURVEY §2.9 / `flask_app.py:95-252`):
  * a real server on an ephemeral port, hit over real HTTP, responses compared
  * byte-for-byte against the library's own serving-layer composition and the
  * reference's documented error contracts.
  *
  * Every test serves the reference-free [[SyntheticExport]] graph. The
  * dropdown, labels, golden-subgraph and SETI tests also serve the reference
  * export where its checkout is present ([[Fixtures.onEach]]). A shim is
  * stopped only if a test started it. */
class HttpShimSpec extends SparkTestBase with org.scalatest.BeforeAndAfterAll {
  import HttpShimSpec.render

  lazy val synth = SyntheticExport.built
  val refSeti = s"$refData/2025-11-07-seti-master.csv"

  /** One export a test serves: its graph, its SETI master CSV, the seed of
    * its golden subgraph query, and whether it is the reference checkout. */
  private case class Export(entities: DataFrame, edges: DataFrame, setiCsv: String,
      golden: String, reference: Boolean) {
    lazy val port: Int = startShim(new HttpShim(spark, entities, edges))
  }
  private lazy val synthExport =
    Export(synth.entities, synth.edges, SyntheticExport.setiCsv, SyntheticExport.hub, reference = false)
  private lazy val refExport =
    Export(Fixtures.built.entities, Fixtures.built.edges, refSeti, "89000", reference = true)

  /** Runs `check` on the synthetic export, then on the reference export
    * where the checkout holds every one of `referenceFiles`. */
  private def eachExport(referenceFiles: String*)(check: Export => Unit): Unit =
    Fixtures.onEach(synthExport, refExport, Fixtures.cleanedCsv +: referenceFiles: _*)(check)

  private val started = scala.collection.mutable.ArrayBuffer.empty[HttpShim]
  private def startShim(shim: HttpShim): Int = {
    val p = shim.start(0)
    started.synchronized(started += shim)
    p
  }

  lazy val synthPort: Int = synthExport.port
  lazy val client: HttpClient = HttpClient.newHttpClient()

  override def afterAll(): Unit = {
    started.foreach(_.stop())
    super.afterAll()
  }

  private def get(path: String, port: Int): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String, port: Int): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET /api/entities/{type}: collated dropdowns + invalid-type 400") {
    eachExport() { ex =>
      val res = get("/api/entities/works", ex.port)
      assert(res.statusCode() === 200)
      assert(res.headers().firstValue("Content-Type").get === "application/json")
      // byte-equivalent to the engine-side collated query, rendered the same way
      val expected = EntityQueries.dropdownOptions(ex.entities, "works")
        .select("id", "label").collect()
        .map(r => s"""{"id": "${r.getString(0)}", "label": ${render(r.getString(1))}}""")
        .mkString("[", ", ", "]")
      assert(res.body() === expected)

      val bad = get("/api/entities/bogus", ex.port)
      assert(bad.statusCode() === 400)
      assert(bad.body() ===
        """{"error": "Invalid entity type. Choose from 'authors', 'works', or 'all'."}""")
    }
  }

  test("GET /api/entities/labels: ok path preserves request order + duplicates") {
    eachExport() { ex =>
      val Array(a, b) = ex.entities.orderBy("id").limit(2).collect().map(_.getString(0))
      val names = ex.entities.filter(col("id").isin(a, b))
        .select("id", "name").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val res = get(s"/api/entities/labels?ids=$b,$a,$b", ex.port)
      assert(res.statusCode() === 200)
      val expected = Seq(b, a, b)
        .map(id => s"""{"id": "$id", "label": ${render(names(id))}}""")
        .mkString("[", ", ", "]")
      assert(res.body() === expected)
    }
  }

  test("GET /api/entities/labels: reference error contract over HTTP") {
    eachExport() { ex =>
      def labels(query: String) = get("/api/entities/labels" + query, ex.port)
      val someId = ex.entities.select("id").head().getString(0)
      assert(labels("").statusCode() === 400)
      assert(labels("?ids=").body() ===
        s"""{"error": "${EntityQueries.errEmpty}"}""")
      assert(labels("?ids=12a,34").statusCode() === 400)
      assert(labels("?ids=1,2").body() ===
        s"""{"error": "${EntityQueries.errNoValid}"}""")
      // mixed valid+unknown → the reference's unhandled KeyError → 500
      val mixed = labels(s"?ids=$someId,999999999")
      assert(mixed.statusCode() === 500)
      assert(mixed.body() === """{"message": "Internal Server Error"}""")
      // Python split keeps empty segments: a stray comma beside a valid id is
      // ALSO a KeyError → 500 (while ids="," alone is all-invalid → 400)
      assert(labels(s"?ids=$someId,").statusCode() === 500)
      assert(labels("?ids=,").statusCode() === 400)
    }
  }

  test("POST /api/graph/subgraph: golden query is byte-equivalent to the library composition") {
    eachExport() { ex =>
      val seed = ex.golden
      val res = post("/api/graph/subgraph", s"""{"works": ["$seed"], "hops": 2}""", ex.port)
      assert(res.statusCode() === 200)
      val result = Subgraph.extract(spark, ex.edges, Seq(seed), 2, Nil)
      val expected = JsonOut.subgraphResponse(
        Subgraph.annotate(result.nodes, ex.entities, Seq(seed), Nil).orderBy(col("id")),
        Subgraph.labelEdges(result.edges, ex.entities).orderBy(col("source"), col("target")),
        authors = Nil, works = Seq(seed), hops = 2, exclude = Nil)
      assert(res.body() === expected)
      // spot-check response envelope fields the UI consumes
      assert(res.body().contains(s""""parameters": {"authors": [], "works": ["$seed"], "hops": 2, "exclude_list": []}"""))
      assert(res.body().contains(""""is_central": true"""))
    }
  }

  test("POST /api/graph/subgraph: validation + KeyError contract") {
    def sg(body: String) = post("/api/graph/subgraph", body, synthPort)
    val work = SyntheticExport.chain(0)
    assert(sg("""{}""").body() ===
      """{"error": "require either one or both of authors or works"}""")
    assert(sg(s"""{"works": ["$work"], "hops": -1}""").body() ===
      """{"error": "hops must be a non-negative integer"}""")
    assert(sg(s"""{"works": ["$work"], "hops": "two"}""").statusCode() === 400)
    // unknown center id → the reference's KeyError → 400 with str(e)
    val unknown = sg("""{"works": ["99999999"], "hops": 1}""")
    assert(unknown.statusCode() === 400)
    assert(unknown.body() === """{"error": "Invalid ID: '99999999'"}""")
    // an unknown id that is EXCLUDED is never expanded → no KeyError (200)
    val excluded = sg(
      s"""{"works": ["$work", "99999999"], "hops": 1, "exclude_list": ["99999999"]}""")
    assert(excluded.statusCode() === 200)
  }

  test("GET /api/seti/*: collection slices, overlap partition, by_work, error contracts") {
    eachExport(refSeti) { ex =>
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val entities = ex.entities
      val nested = graft.serve.JsonOut.nestEtextLinks(
        graft.etl.LinkBuilder.build(spark, ex.setiCsv).links)
      val setiShim = new HttpShim(spark, entities, ex.edges, etextNested = nested)
      val p = setiShim.start(0)
      def fetch(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      try {
        // strict: every returned work carries ONLY the requested collection,
        // and the work set matches the nested map exactly (minus '...')
        val strict = fetch("/api/seti/by_collection?collection=GRETIL")
        assert(strict.statusCode() === 200)
        val sObj = JsonMethods.parse(strict.body()).asInstanceOf[JObject].obj.toMap
        val expected = nested.filter { case (w, m) => m.contains("GRETIL") && w != "..." }
        assert(sObj.keySet === expected.keySet)
        assert(sObj.values.forall {
          case JObject(fields) => fields.map(_._1) == List("GRETIL")
          case _ => false
        })
        // include_other_collections=true: full per-work collection maps
        val wide = fetch("/api/seti/by_collection?collection=GRETIL&include_other_collections=true")
        val wObj = JsonMethods.parse(wide.body()).asInstanceOf[JObject].obj.toMap
        assert(wObj.keySet === expected.keySet)
        val multi = expected.filter(_._2.size > 1).keySet
        assert(multi.nonEmpty && multi.forall(w =>
          wObj(w).asInstanceOf[JObject].obj.size === expected(w).size))

        // unique: singleton-collection works only
        val uniq = fetch("/api/seti/by_collection/unique?collection=GRETIL")
        val uObj = JsonMethods.parse(uniq.body()).asInstanceOf[JObject].obj.toMap
        assert(uObj.keySet === nested.filter { case (_, m) =>
          m.size == 1 && m.contains("GRETIL") }.keySet)

        // overlap: the three buckets partition correctly
        val ov = fetch("/api/seti/by_collection/overlap?collection1=GRETIL&collection2=DCS")
        val oObj = JsonMethods.parse(ov.body()).asInstanceOf[JObject].obj.toMap
        assert(oObj.keySet === Set("overlap", "only_in_GRETIL", "only_in_DCS"))
        def keys(f: JValue) = f.asInstanceOf[JObject].obj.map(_._1).toSet
        assert(keys(oObj("overlap")) === nested.filter { case (_, m) =>
          m.contains("GRETIL") && m.contains("DCS") }.keySet)
        assert(keys(oObj("only_in_GRETIL")).forall(w => !nested(w).contains("DCS")))

        // by_work: links for valid work ids; unknown ids silently dropped
        val someWork = nested.keys.filter(workId => workId.forall(_.isDigit)).min
        val bw = fetch(s"/api/seti/by_work?ids=$someWork,999999999")
        assert(bw.statusCode() === 200)
        assert(keys(JsonMethods.parse(bw.body())) === Set(someWork))

        // error contracts, exact reference messages
        assert(fetch("/api/seti/by_collection").body() ===
          """{"error": "Missing required parameter: collection"}""")
        val bad = fetch("/api/seti/by_collection?collection=BOGUS")
        assert(bad.statusCode() === 400)
        assert(bad.body().startsWith("""{"error": "Invalid collection: BOGUS. Valid options: ['"""))
        // 'all' is rejected at the route's validation (dead lower-level branch)
        assert(fetch("/api/seti/by_collection?collection=all").statusCode() === 400)
        assert(fetch("/api/seti/by_collection/overlap?collection1=GRETIL").body() ===
          """{"error": "Both collection1 and collection2 are required"}""")
        assert(fetch("/api/seti/by_work?ids=12a").statusCode() === 400)
        assert(fetch("/api/seti/by_work?ids=1,2").body() ===
          """{"error": "No valid work IDs provided"}""")

        // --- /seti/by_collection/<c>/visualize (flask_app.py:467-490) ---
        // bootstrap: the collection's works + the union of their authors,
        // hops=0, no excludes, repulsion 50. SARIT is a collection whose
        // works ALL have entity rows (verified against the reference's own
        // loaders), so its bootstrap succeeds.
        val viz = fetch("/seti/by_collection/SARIT/visualize")
        assert(viz.statusCode() === 200, viz.body())
        val vObj = (JsonMethods.parse(viz.body()) \ "initial_params")
          .asInstanceOf[JObject].obj.toMap
        def strs(v: JValue) = v.asInstanceOf[JArray].arr.collect {
          case JString(s) => s }.toSet
        val saritWorks = nested.filter { case (w, m) =>
          m.contains("SARIT") && w != "..." }.keySet
        assert(strs(vObj("works")) === saritWorks)
        val expectedAuthors = entities
          .filter(col("type") === "work" &&
            col("id").isin(saritWorks.toSeq: _*))
          .select(explode(col("authorIds"))).distinct()
          .collect().map(_.getString(0)).toSet
        assert(expectedAuthors.nonEmpty)
        assert(strs(vObj("authors")) === expectedAuthors)
        assert(vObj("hops") === JInt(0))
        assert(vObj("exclude_list") === JArray(Nil))
        assert(vObj("repulsion") === JInt(50))
        // GRETIL's link table carries work 41906 with NO entity row: the
        // reference's get_author_ids_for_work_ids hits an uncaught KeyError
        // (only AttributeError is handled, flask_app.py:457-464) → 500. The
        // reference's own visualize is genuinely broken for GRETIL/DCS on
        // this data; the shim mirrors that contract.
        if (ex.reference) {
          val gret = fetch("/seti/by_collection/GRETIL/visualize")
          assert(gret.statusCode() === 500)
          assert(gret.body() === """{"message": "Internal Server Error"}""")
        }
        // get_works_by_collection's validation applies (no route-level check)
        val vBad = fetch("/seti/by_collection/BOGUS/visualize")
        assert(vBad.statusCode() === 400)
        assert(vBad.body().startsWith("""{"error": "Invalid collection: BOGUS"""))
        // 'all' IS live here (the helper's early return, dead via the API
        // route) — it keeps the '...' placeholder, which has no entity row:
        // same uncaught-KeyError 500
        assert(nested.contains("..."))
        assert(fetch("/seti/by_collection/all/visualize").statusCode() === 500)
      } finally setiShim.stop()
    }
  }

  test("GET /view and /: URL-param bootstrap with the reference's validation quirks") {
    // /view renders initial_params straight from URL params; hops passes
    // through as the RAW STRING when provided (the reference does no int
    // conversion on this route) and as the config integer when absent
    val ok = get("/view?works=89000,89001&authors=&hops=3&exclude_list=41324", synthPort)
    assert(ok.statusCode() === 200, ok.body())
    assert(ok.body() ===
      """{"initial_params": {"authors": [], "works": ["89000", "89001"], """ +
        """"hops": "3", "exclude_list": ["41324"]}}""")
    assert(get("/view", synthPort).body() ===
      """{"initial_params": {"authors": [], "works": [], "hops": 2, "exclude_list": []}}""")
    // validation: digits+commas only (blank allowed), exact reference message
    val bad = get("/view?authors=x1", synthPort)
    assert(bad.statusCode() === 400)
    assert(bad.body() === s"""{"error": "${EntityQueries.errChars}"}""")
    // Python-truthiness quirk: whitespace-only param is truthy, strips to ""
    // and splits to one empty segment
    assert(get("/view?works=%20", synthPort).body() ===
      """{"initial_params": {"authors": [], "works": [""], "hops": 2, "exclude_list": []}}""")
    // interior empties survive the split
    assert(get("/view?works=1,,2", synthPort).body().contains(""""works": ["1", "", "2"]"""))
    // '/' serves the uninitialized entry; other root paths are unknown
    assert(get("/", synthPort).body() === """{"initial_params": null}""")
    assert(get("/nope", synthPort).statusCode() === 404)
  }

  test("GET /data/<path>: static passthrough with traversal protection") {
    val dir = java.nio.file.Files.createTempDirectory("shimdata")
    java.nio.file.Files.writeString(dir.resolve("x.json"), """{"k": 1}""")
    val dataShim = new HttpShim(spark, synth.entities, synth.edges, dataDir = Some(dir.toString))
    val p = dataShim.start(0)
    try {
      def fetch(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val ok = fetch("/data/x.json")
      assert(ok.statusCode() === 200)
      assert(ok.body() === """{"k": 1}""")
      assert(ok.headers().firstValue("Content-Type").get === "application/json")
      assert(fetch("/data/missing.csv").statusCode() === 404)
      // flask send_from_directory's traversal protection
      assert(fetch("/data/../x.json").statusCode() === 404)
      assert(fetch("/data/%2e%2e/secret").statusCode() === 404)
      // a symlink INSIDE dataDir pointing outside it defeats lexical
      // containment — the resolved-path check must refuse it
      val outside = java.nio.file.Files.createTempFile("shimsecret", ".txt")
      java.nio.file.Files.writeString(outside, "secret")
      try {
        java.nio.file.Files.createSymbolicLink(dir.resolve("link.txt"), outside)
        assert(fetch("/data/link.txt").statusCode() === 404)
      } catch { case _: UnsupportedOperationException => () // no symlink support
      } finally java.nio.file.Files.deleteIfExists(outside)
    } finally dataShim.stop()
  }

  test("POST subgraph without hops uses the config default (flask_app.py:196)") {
    // the reference's config.json shape, with a hops value that is not the
    // shim's own default
    val cfgFile = java.nio.file.Files.createTempFile("config", ".json")
    java.nio.file.Files.writeString(cfgFile, s"""{"authors": [], "works": ["${SyntheticExport.chain(0)}"], """ +
      """"hops": 3, "exclude_list": [], "draw_networkx_graph": false, """ +
      """"networkx_figure_size": [20, 20], "output_gephi_file": false}""")
    val cfg = graft.serve.AppMeta.loadConfig(cfgFile.toString)
    assert(cfg.hops === 3)
    val cfgShim = new HttpShim(spark, synth.entities, synth.edges, defaultHops = cfg.hops)
    val p = cfgShim.start(0)
    try {
      val res = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/api/graph/subgraph"))
          .POST(HttpRequest.BodyPublishers.ofString(s"""{"works": ["${cfg.works.head}"]}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(res.statusCode() === 200)
      assert(res.body().contains(s""""hops": ${cfg.hops},"""))
    } finally cfgShim.stop()
  }
}

object HttpShimSpec {

  /** A JSON string literal, escaped the way JsonOut escapes (the entity
    * names carry IAST diacritics, which pass through raw). */
  def render(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
