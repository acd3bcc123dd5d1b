package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.graph.Subgraph
import graft.query.EntityQueries

/** Thin HTTP facade over the engine's serving-layer queries: the three core
  * reference endpoints (`flask_app.py:95-252`) with their documented response
  * shapes and error contracts, answered from a start-up snapshot of the
  * entity/edge DataFrames.
  *
  * - `GET  /api/entities/{authors|works|all}` — IAST-collated dropdown
  *   options, precomputed at startup like the reference (`flask_app.py:60-73`)
  * - `GET  /api/entities/labels?ids=…`        — name lookups, 400/500
  *   contract incl. the Python-split quirks (`flask_app.py:109-146`)
  * - `POST /api/graph/subgraph`               — n-hop subgraph, annotated
  *   (`flask_app.py:183-252`)
  *
  * The JDK's built-in `HttpServer` keeps the shim dependency-free. This is an
  * API facade, not a data-plane component: responses are dimension-sized by
  * construction (the reference's whole graph is ~17k nodes).
  *
  * Like the reference, which loads its data into memory once at start-up
  * (`flask_app.py:18-24`), the shim is a snapshot server: every Spark job
  * runs in the constructor, which collects the dropdowns, every node id
  * annotated by [[Subgraph.annotate]] and every distinct edge labeled by
  * [[Subgraph.labelEdges]]. Handlers read only that snapshot: a subgraph
  * request is a driver-local BFS plus rendering ([[LocalSubgraph]]), and
  * labels and visualize are map lookups. The snapshot holds every node and
  * edge, so the driver must hold the graph.
  *
  * Each request logs one line at INFO to this class's log4j logger: method,
  * path, status, latency and the number of Spark jobs its job group ran
  * (0 for every endpoint).
  */
class HttpShim(
    spark: SparkSession,
    entities: DataFrame,
    edges: DataFrame,
    etextNested: Map[String, Map[String, Either[Seq[String], Map[String, Seq[String]]]]] = Map.empty,
    defaultHops: Int = 2,
    dataDir: Option[String] = None) {

  import JsonOut.jstr

  /** Startup precompute, mirroring the reference's module-level
    * `entity_dropdown_options` (`flask_app.py:60-73`): one engine-side
    * IAST-collated sort per entity class, rendered once. */
  private val dropdowns: Map[String, String] =
    Seq("works", "authors", "all").map { t =>
      val rows = EntityQueries.dropdownOptions(entities, t)
        .select("id", "label").collect()
      t -> rows.map(r =>
          s"""{"id": ${jstr(r.getString(0))}, "label": ${jstr(r.getString(1))}}""")
        .mkString("[", ", ", "]")
    }.toMap

  /** The subgraph snapshot, plus two maps over the entity rows among its
    * node rows (an edge endpoint without an entity row is in neither):
    *  - entity id → bare name, the labels lookup (`flask_app.py:142`); its
    *    keys are the known ids of the subgraph KeyError contract
    *    (`flask_app.py:247-249`: expanding an unknown center raises KeyError
    *    in the reference → 400);
    *  - work id → author ids, the visualize lookup (`flask_app.py:457-464`);
    *    its keys are `VALID_WORK_IDS` (`flask_app.py:18`), the by_work
    *    validation set, distinct from the set of works that HAVE links. */
  private val (subgraphs, names, authorsOf)
      : (LocalSubgraph, Map[String, String], Map[String, Seq[String]]) = {
    val ids = entities.select(col("id"), lit(true).as("entity"))
      .unionByName(edges.select(col("src").as("id"), lit(false).as("entity")))
      .unionByName(edges.select(col("dst").as("id"), lit(false).as("entity")))
      .where(col("id").isNotNull) // a CSV row without an ID; no request can name it
      .groupBy("id").agg(max("entity").as("entity"))
    val nodeRows = Subgraph.annotate(ids, entities, Nil, Nil)
      .select("id", "entity", "type", "label", "aka", "social_ids", "dates",
        "discipline", "disciplines", "authorIds")
      .collect()
    val edgeRows = Subgraph.labelEdges(
      edges.where(col("src").isNotNull && col("dst").isNotNull).distinct(), entities)
      .collect()
    val typed = nodeRows.filter(_.getAs[Boolean]("entity"))
    (new LocalSubgraph(nodeRows, edgeRows, etextNested),
      typed.map(r => r.getAs[String]("id") -> r.getAs[String]("label")).toMap,
      typed.filter(_.getAs[String]("type") == "work").map(r =>
        r.getAs[String]("id") ->
          Option(r.getAs[collection.Seq[String]]("authorIds")).fold(Seq.empty[String])(_.toSeq)).toMap)
  }

  /** `VALID_COLLECTIONS` (`flask_app.py:24`): collections observed in the
    * link data. */
  private val collections: Set[String] =
    etextNested.values.flatMap(_.keys).toSet

  private var server: HttpServer = _

  /** Bind and start; pass port 0 for an ephemeral port. Returns the bound
    * port. */
  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // Without an executor every request serializes on the single dispatcher
    // thread — one large subgraph POST would block dropdowns/labels/data for
    // all clients. Handlers only read the immutable start-up snapshot, so
    // any number of them can run at once.
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.createContext("/api/entities/", (ex: HttpExchange) => safely(ex) {
      val path = ex.getRequestURI.getPath.stripPrefix("/api/entities/")
      if (path == "labels") handleLabels(ex) else handleDropdown(ex, path)
    })
    server.createContext("/api/graph/subgraph",
      (ex: HttpExchange) => safely(ex)(handleSubgraph(ex)))
    server.createContext("/data/",
      (ex: HttpExchange) => safely(ex)(handleData(ex)))
    server.createContext("/api/seti/", (ex: HttpExchange) => safely(ex) {
      ex.getRequestURI.getPath.stripPrefix("/api/seti/") match {
        case "by_collection" => handleByCollection(ex)
        case "by_collection/unique" => handleUnique(ex)
        case "by_collection/overlap" => handleOverlap(ex)
        case "by_work" => handleByWork(ex)
        case _ => respond(ex, 404, errJson("not found"))
      }
    })
    // app-level (un-prefixed) UI-bootstrap routes (`flask_app.py:467-541`)
    server.createContext("/view",
      (ex: HttpExchange) => safely(ex)(handleView(ex)))
    server.createContext("/seti/by_collection/", (ex: HttpExchange) => safely(ex) {
      val rel = ex.getRequestURI.getPath.stripPrefix("/seti/by_collection/")
      rel.split("/", -1).toSeq match {
        case Seq(c, "visualize") =>
          handleVisualize(ex, java.net.URLDecoder.decode(c, "UTF-8"))
        case _ => respond(ex, 404, errJson("not found"))
      }
    })
    server.createContext("/", (ex: HttpExchange) => safely(ex) {
      // `/` serves the UI with no initialization (`flask_app.py:498-503`);
      // everything else falling through to the root context is unknown
      if (ex.getRequestURI.getPath == "/")
        respond(ex, 200, """{"initial_params": null}""")
      else respond(ex, 404, errJson("not found"))
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) {
    server.stop(0)
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ => ()
    }
  }

  // --- endpoint handlers ---

  private def handleDropdown(ex: HttpExchange, entityType: String): Unit =
    dropdowns.get(entityType) match {
      case Some(json) => respond(ex, 200, json)
      case None => respond(ex, 400, errJson(
        "Invalid entity type. Choose from 'authors', 'works', or 'all'."))
    }

  private def handleLabels(ex: HttpExchange): Unit =
    EntityQueries.labelsRequest(queryParam(ex, "ids").orNull)(_.count(names.contains)) match {
      case Left(EntityQueries.LabelsBadRequest(msg)) => respond(ex, 400, errJson(msg))
      case Left(EntityQueries.LabelsServerError(_)) =>
        // flask-restx's unhandled-KeyError envelope
        respond(ex, 500, """{"message": "Internal Server Error"}""")
      case Right(ids) =>
        respond(ex, 200, ids.map(id => s"""{"id": ${jstr(id)}, "label": ${jstr(names(id))}}""")
          .mkString("[", ", ", "]"))
    }

  private def handleSubgraph(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST")
      return respond(ex, 405, errJson("method not allowed"))
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val json = try JsonMethods.parse(if (body.trim.isEmpty) "{}" else body)
      catch { case _: Throwable =>
        return respond(ex, 400, errJson("request body must be JSON")) }

    def strList(field: String): Option[Seq[String]] = json \ field match {
      case JNothing | JNull => Some(Nil)
      case JArray(xs) if xs.forall(_.isInstanceOf[JString]) =>
        Some(xs.collect { case JString(s) => s })
      case _ => None
    }
    val (authors, works, excludeOpt) =
      (strList("authors"), strList("works"), strList("exclude_list")) match {
        case (Some(a), Some(w), e) => (a.distinct, w.distinct, e)
        case _ => return respond(ex, 400, errJson("authors/works must be lists of ids"))
      }
    // validate_subgraph_inputs (`flask_app.py:163-170`), same messages
    if (authors.isEmpty && works.isEmpty)
      return respond(ex, 400, errJson("require either one or both of authors or works"))
    val hops = json \ "hops" match {
      case JNothing => defaultHops
      case JInt(h) if h >= 0 && h <= Int.MaxValue => h.toInt
      case _ => return respond(ex, 400, errJson("hops must be a non-negative integer"))
    }
    val exclude = excludeOpt match {
      case Some(e) => e.distinct
      case None => return respond(ex, 400, errJson("exclude_list must be a list"))
    }
    // the reference KeyErrors when it expands an unknown center (excluded
    // centers are never expanded) → except KeyError → 400 with str(e),
    // which Python renders with the id quoted (`flask_app.py:247-249`)
    (authors ++ works).filterNot(exclude.contains)
      .find(!names.contains(_))
      .foreach(id => return respond(ex, 400, errJson(s"Invalid ID: '$id'")))

    respond(ex, 200, subgraphs.response(authors, works, hops, exclude))
  }

  // --- SETI namespace (`flask_app.py:259-454`) ---

  private type Links = Either[Seq[String], Map[String, Seq[String]]]

  /** Python's `sorted(VALID_COLLECTIONS)` list repr, as interpolated into the
    * reference's error strings. */
  private def collectionsRepr: String =
    collections.toSeq.sorted.map(c => s"'$c'").mkString("[", ", ", "]")

  private def linksJson(v: Links): String = v match {
    case Left(ls) => ls.map(jstr).mkString("[", ", ", "]")
    case Right(subs) => subs.toSeq.sortBy(_._1)
      .map { case (s, ls) => jstr(s) + ": " + ls.map(jstr).mkString("[", ", ", "]") }
      .mkString("{", ", ", "}")
  }

  /** `{wid: {collection: links...}}` with work ids sorted (the reference
    * emits dict-insertion order, which is load order — key order is not part
    * of the JSON contract) and per-work collections in the given order. */
  private def worksJson(entries: Seq[(String, Seq[(String, Links)])]): String =
    entries.sortBy(_._1).map { case (wid, colls) =>
      jstr(wid) + ": " + colls.map { case (c, v) => jstr(c) + ": " + linksJson(v) }
        .mkString("{", ", ", "}")
    }.mkString("{", ", ", "}")

  /** `get_works_by_collection` (`flask_app.py:261-293`): case-insensitive
    * "all" early-returns the ENTIRE link table — other collections'
    * contributions and the '...' placeholder row included, since the
    * reference returns before either filter runs. Any other unknown name is
    * a 400. The non-all path keeps works carrying the collection, drops the
    * placeholder, and (strict mode) hides other collections' contributions
    * while keeping the work. */
  private def worksByCollection(c: String, includeOther: Boolean)
      : Either[String, Seq[(String, Seq[(String, Links)])]] =
    // the "all" early-return is DEAD via the /api/seti/by_collection route
    // (route-level validation rejects it first, `flask_app.py:318`) but LIVE
    // via /seti/by_collection/<c>/visualize, which calls this helper without
    // that validation (`flask_app.py:475`)
    if (c.toLowerCase == "all")
      Right(etextNested.toSeq.map { case (wid, m) => wid -> m.toSeq.sortBy(_._1) })
    else if (!collections.contains(c))
      Left(s"Invalid collection: $c. Valid options: $collectionsRepr")
    else Right(etextNested.toSeq
      .filter { case (wid, m) => m.contains(c) && wid != "..." }
      .map { case (wid, m) =>
        wid -> (if (includeOther) m.toSeq.sortBy(_._1) else Seq(c -> m(c))) })

  private def handleByCollection(ex: HttpExchange): Unit =
    queryParam(ex, "collection").filter(_.nonEmpty) match {
      case None => respond(ex, 400,
        errJson("Missing required parameter: collection"))
      // route-level validation precedes the helper (`flask_app.py:318`), so
      // "all" is rejected HERE — unlike the visualize route
      case Some(c) if !collections.contains(c) => respond(ex, 400,
        errJson(s"Invalid collection: $c. Valid options: $collectionsRepr"))
      case Some(c) =>
        val includeOther = queryParam(ex, "include_other_collections")
          .getOrElse("false").toLowerCase == "true"
        worksByCollection(c, includeOther) match {
          case Left(err) => respond(ex, 400, errJson(err))
          case Right(entries) => respond(ex, 200, worksJson(entries))
        }
    }

  private def handleUnique(ex: HttpExchange): Unit =
    queryParam(ex, "collection").filter(_.nonEmpty) match {
      case None => respond(ex, 400,
        errJson("Missing required parameter: collection"))
      case Some(c) if !collections.contains(c) => respond(ex, 400,
        errJson(s"Invalid collection: $c. Valid options: $collectionsRepr"))
      case Some(c) =>
        // ONLY this collection present (`flask_app.py:355-360`; no '...' pop
        // here — faithful to the reference)
        val entries = etextNested.toSeq
          .filter { case (_, m) => m.size == 1 && m.contains(c) }
          .map { case (wid, m) => wid -> Seq(c -> m(c)) }
        respond(ex, 200, worksJson(entries))
    }

  private def handleOverlap(ex: HttpExchange): Unit = {
    val c1 = queryParam(ex, "collection1").filter(_.nonEmpty)
    val c2 = queryParam(ex, "collection2").filter(_.nonEmpty)
    (c1, c2) match {
      case (Some(a), Some(b)) if collections.contains(a) && collections.contains(b) =>
        def bucket(pred: Map[String, Links] => Boolean, cs: Seq[String]) =
          worksJson(etextNested.toSeq.filter { case (_, m) => pred(m) }
            .map { case (wid, m) => wid -> cs.distinct.map(c => c -> m(c)) })
        val overlap = bucket(m => m.contains(a) && m.contains(b), Seq(a, b))
        val only1 = bucket(m => m.contains(a) && !m.contains(b), Seq(a))
        val only2 = bucket(m => m.contains(b) && !m.contains(a), Seq(b))
        // c1 == c2 would duplicate the only_in key; Python's dict collapses
        // it — emit the single key once
        val tail = if (a == b) s""""only_in_$a": $only1"""
          else s""""only_in_$a": $only1, "only_in_$b": $only2"""
        respond(ex, 200, s"""{"overlap": $overlap, $tail}""")
      case (Some(a), Some(b)) => respond(ex, 400, errJson(
        s"Invalid collection(s): $a, $b. Valid options: $collectionsRepr"))
      case _ => respond(ex, 400,
        errJson("Both collection1 and collection2 are required"))
    }
  }

  private def handleByWork(ex: HttpExchange): Unit = {
    val idsParam = queryParam(ex, "ids").orNull
    val stripped = Option(idsParam).map(_.trim).getOrElse("")
    if (stripped.isEmpty)
      return respond(ex, 400, errJson(EntityQueries.errEmpty))
    if (!stripped.matches("[\\d,]*"))
      return respond(ex, 400, errJson(EntityQueries.errChars))
    // unknown ids are silently dropped here (unlike /labels — the reference
    // guards the slice with a membership test, so no KeyError path)
    val valid = stripped.split(",", -1).toSeq.filter(authorsOf.contains)
    if (valid.isEmpty)
      return respond(ex, 400, errJson("No valid work IDs provided"))
    val entries = valid.distinct.filter(etextNested.contains)
      .map(wid => wid -> etextNested(wid).toSeq.sortBy(_._1))
    respond(ex, 200, worksJson(entries))
  }

  // --- UI-bootstrap routes (`flask_app.py:467-541`) ---
  // The reference renders `index.html` with an `initial_params` dict; the
  // frontend template itself is presentation scope (SURVEY §2.1), so the shim
  // emits the data-side JSON the template would receive — the full
  // validation/derivation pipeline behind it is the engine part.

  /** `/view` (`flask_app.py:510-541`): URL-param-initialized UI entry. Each
    * comma list is validated digits+commas-only with empties allowed
    * (`validate_comma_separated_list_input(allow_empty=True)`,
    * `flask_app.py:78-93`); `hops` passes through as the RAW URL STRING — the
    * reference does no int conversion on this route (only the POST body path
    * parses it), so a provided value renders as a JSON string while the
    * absent-default renders as the config integer. */
  private def handleView(ex: HttpExchange): Unit = {
    val params = Seq("authors", "works", "exclude_list").map(queryParam(ex, _))
    // allow_empty: missing/blank passes; otherwise digits+commas only
    if (params.exists(_.exists(s => s.trim.nonEmpty && !s.trim.matches("[\\d,]*"))))
      return respond(ex, 400, errJson(EntityQueries.errChars))
    // Python: `s.strip().split(',') if s else []` — truthiness is on the
    // UNSTRIPPED string, so a whitespace-only param yields [""] (one empty
    // segment), and interior empties survive. Mirrored exactly.
    def parse(o: Option[String]): Seq[String] = o match {
      case Some(s) if s.nonEmpty => s.trim.split(",", -1).toSeq
      case _ => Nil
    }
    val Seq(authors, works, exclude) = params.map(parse)
    val hops = queryParam(ex, "hops").map(jstr).getOrElse(defaultHops.toString)
    def arr(xs: Seq[String]) = xs.map(jstr).mkString("[", ", ", "]")
    respond(ex, 200,
      s"""{"initial_params": {"authors": ${arr(authors)}, "works": ${arr(works)}, """ +
        s""""hops": $hops, "exclude_list": ${arr(exclude)}}}""")
  }

  /** `/seti/by_collection/<c>/visualize` (`flask_app.py:467-490`): the
    * collection's works plus every author of those works (what
    * [[graft.query.SetiQueries.authorsOfWorks]], J8, returns, read from the
    * snapshot), packaged as the template-bootstrap params — hops=0
    * (works+authors are already the full intended graph), no excludes,
    * repulsion 50. `get_author_ids_for_work_ids`
    * (`flask_app.py:457-464`) indexes `ENTITIES_BY_ID` directly, so a work id
    * with no entity row (e.g. the '...' placeholder the `all` path keeps) is
    * an uncaught KeyError in the reference → 500. */
  private def handleVisualize(ex: HttpExchange, collection: String): Unit =
    worksByCollection(collection, includeOther = false) match {
      case Left(err) => respond(ex, 400, errJson(err))
      case Right(entries) =>
        val works = entries.map(_._1).sorted
        if (works.exists(!names.contains(_)))
          return respond(ex, 500, """{"message": "Internal Server Error"}""")
        val authors = works.flatMap(authorsOf.getOrElse(_, Nil)).distinct.sorted
        def arr(xs: Seq[String]) = xs.map(jstr).mkString("[", ", ", "]")
        respond(ex, 200,
          s"""{"initial_params": {"works": ${arr(works)}, "authors": ${arr(authors)}, """ +
            s""""hops": 0, "exclude_list": [], "repulsion": 50}}""")
    }

  /** Static data passthrough (`flask_app.py:585-587`, flask
    * `send_from_directory`): serve files under `dataDir` verbatim, with the
    * same traversal protection (a resolved path escaping the directory is a
    * 404, never served). */
  private def handleData(ex: HttpExchange): Unit = {
    val root = dataDir match {
      case Some(d) => java.nio.file.Paths.get(d).toAbsolutePath.normalize()
      case None => return respond(ex, 404, errJson("no data directory configured"))
    }
    val rel = java.net.URLDecoder.decode(
      ex.getRequestURI.getPath.stripPrefix("/data/"), "UTF-8")
    val target = root.resolve(rel).normalize()
    if (!target.startsWith(root) || !java.nio.file.Files.isRegularFile(target))
      return respond(ex, 404, errJson("not found"))
    // lexical containment alone is spoofable by a symlink inside dataDir
    // pointing outside it — compare the RESOLVED paths too
    val real = try target.toRealPath() catch {
      case _: java.io.IOException => return respond(ex, 404, errJson("not found"))
    }
    val realRoot = try root.toRealPath() catch {
      case _: java.io.IOException => return respond(ex, 404, errJson("not found"))
    }
    if (!real.startsWith(realRoot))
      return respond(ex, 404, errJson("not found"))
    val ctype = rel.toLowerCase match {
      case p if p.endsWith(".json") => "application/json"
      case p if p.endsWith(".csv") => "text/csv"
      case p if p.endsWith(".txt") => "text/plain"
      case _ => "application/octet-stream"
    }
    ex.getResponseHeaders.set("Content-Type", ctype)
    // stream rather than buffer: a large artifact must not inflate the heap
    // per request
    ex.sendResponseHeaders(200, java.nio.file.Files.size(real))
    java.nio.file.Files.copy(real, ex.getResponseBody)
    ex.getResponseBody.close()
  }

  // --- plumbing ---

  private def errJson(msg: String): String = s"""{"error": ${jstr(msg)}}"""

  private val log = LogManager.getLogger(classOf[HttpShim])

  /** Runs a handler under its own Spark job group, answers 500 on an
    * uncaught error, and logs the request line. */
  private def safely(ex: HttpExchange)(f: => Unit): Unit = {
    val sc = spark.sparkContext
    val group = s"httpshim-${HttpShim.requestIds.incrementAndGet()}"
    sc.setJobGroup(group, s"${ex.getRequestMethod} ${ex.getRequestURI.getPath}")
    val t0 = System.nanoTime()
    try f catch {
      case t: Throwable =>
        try respond(ex, 500, errJson(Option(t.getMessage).getOrElse("internal error")))
        catch { case _: Throwable => () }
    } finally {
      sc.clearJobGroup()
      if (log.isInfoEnabled) log.info(f"${ex.getRequestMethod} ${ex.getRequestURI.getPath} " +
        f"status=${ex.getResponseCode} ms=${(System.nanoTime() - t0) / 1e6}%.1f " +
        s"jobs=${sc.statusTracker.getJobIdsForGroup(group).length}")
      ex.close()
    }
  }

  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap(_.split("&").collectFirst {
      case kv if kv.takeWhile(_ != '=') == name =>
        java.net.URLDecoder.decode(kv.dropWhile(_ != '=').drop(1), "UTF-8")
    })

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.getResponseBody.close()
  }
}

object HttpShim {
  /** Source of the per-request job group ids, unique across shims. */
  private val requestIds = new AtomicLong()
}
