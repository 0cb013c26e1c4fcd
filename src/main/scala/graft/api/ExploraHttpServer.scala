package graft.api

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row

/** The reference's REST entry point, re-expressed over the library
  * facade: a JDK `com.sun.net.httpserver` listener (no extra
  * dependencies) mapping
  *
  *   GET /api/airquality/{metricId}/aggregate/{agg}/history
  *   GET /api/airquality/{metricId}/aggregate/{agg}/snapshot
  *
  * onto [[ExploraService.history]]/[[ExploraService.snapshot]] with the
  * same query parameters, defaults, validation order and response
  * envelopes as querying/QueryingService.java:38-230:
  *
  *   - success → `Message{columns, data, metadata}`
  *     (model/Message.java:7-16): `columns` is
  *     `["timestamp", <agg>]` for history and `["geohash", <agg>]` for
  *     snapshot, `data` is a list of `[key, value]` pairs, `metadata`
  *     carries `metric_id`;
  *   - `local=true` → the raw `{key: {count, sum, avg}}` map
  *     (QueryingService.java:258-261, model/Aggregate.java:3-14) —
  *     here served from the same plan as the aggregated answer (there
  *     is no "this instance only" partial state to expose; one Spark
  *     query over the shared view replaced scatter-gather, SURVEY §0:
  *     a single-stage job over a one-split view, an exchange plan
  *     otherwise — the one-split rule of [[ExploraService]]);
  *   - validation failure → HTTP 400 with
  *     `ErrorMessage{errorMessage, errorCode}` (model/ErrorMessage.java).
  *
  * Timestamp keys are epoch SECONDS (`ts_s` — the library-wide
  * presentation convention), where the reference emits the view's epoch
  * millis; values are identical.
  *
  * The `.collect()` here is the API boundary, not a plan step: history
  * and snapshot results are per-timestamp / per-cell aggregates already
  * reduced by the distributed plan, the same cardinality the reference
  * serializes from its TreeMap.
  *
  * Replicas (the reference runs 3 — kubernetes/explora-kafka-
  * deployment.yaml): the reference NEEDS its replicas to co-own query
  * state, so each instance scatter-gathers the others
  * (QueryingController.java:123-210). Here the server is STATELESS over
  * the shared view store ([[ExploraService]] reads the partitioned
  * parquet views; streaming maintenance is a separate writer job), so
  * horizontal scale is N independent drivers each running
  * `new ExploraHttpServer(service).start()` behind any HTTP load
  * balancer — no peer discovery, no instance-metadata service
  * (util/MetadataService.java:40-44 has no equivalent by design), no
  * cross-instance fan-out. Any replica answers any key; consistency is
  * the view store's snapshot isolation (parquet files are immutable,
  * MERGE upserts swap whole partition directories). `local=true` is
  * honored with the full answer because no instance holds partial
  * state.
  */
class ExploraHttpServer(service: ExploraService, requestedPort: Int = 0) {

  private val mapper = new ObjectMapper()
  @volatile private var server: HttpServer = _

  /** Bound port (ephemeral when requestedPort == 0). */
  def port: Int = server.getAddress.getPort

  def start(): Int = synchronized {
    require(server == null, "server already started")
    server = HttpServer.create(new InetSocketAddress(requestedPort), 0)
    server.createContext("/", (ex: HttpExchange) => route(ex))
    server.setExecutor(Executors.newFixedThreadPool(8))
    server.start()
    port
  }

  def stop(): Unit = synchronized {
    if (server != null) {
      // HttpServer.stop does NOT shut down a user-supplied executor;
      // its idle non-daemon workers would keep the JVM alive after
      // main returns (observed: Verify hung in DestroyJavaVM)
      val exec = server.getExecutor
      server.stop(0)
      exec match {
        case es: java.util.concurrent.ExecutorService => es.shutdown()
        case _                                        =>
      }
      server = null
    }
  }

  // ---- routing -------------------------------------------------------

  private def route(ex: HttpExchange): Unit =
    try {
      val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toSeq
      segs match {
        case Seq("api", "airquality", metric, "aggregate", agg, "history") =>
          history(ex, dec(metric), dec(agg).toLowerCase)
        case Seq("api", "airquality", metric, "aggregate", agg, "snapshot") =>
          snapshot(ex, dec(metric), dec(agg).toLowerCase)
        case _ =>
          respond(ex, 404, errorJson(s"no route for ${ex.getRequestURI.getPath}", 404))
      }
    } catch {
      case e: IllegalArgumentException => respond(ex, 400, errorJson(e.getMessage, 400))
      case e: Exception => respond(ex, 500, errorJson(String.valueOf(e.getMessage), 500))
    } finally ex.close()

  /** GET …/history (QueryingService.java:38-135): same parameter names,
    * defaults and early-out error texts.
    */
  private def history(ex: HttpExchange, metricId: String, agg: String): Unit = {
    val q = queryParams(ex)
    val geohashes = q.getOrElse("geohashes", "").toLowerCase
    if (geohashes.isEmpty)
      return respond(ex, 400, errorJson(
        "[getAirQualityHistory] You need to provide a list of comma-separated geohash prefixes", 400))

    // aggregate BEFORE the numeric parses: the reference checks it
    // second (QueryingService.java:57-84), so a request with both a
    // bad aggregate and a non-numeric parameter must surface the
    // aggregate error (ADVICE r12 — the parse used to run first)
    if (!graft.operators.ExploraQueries.SupportedAggregates.contains(agg))
      return respond(ex, 400, errorJson(
        s"[getAirQualityHistory] aggregate $agg is not yet supported", 400))

    val resolution = q.getOrElse("res", "").toLowerCase
    val interval = q.getOrElse("interval", "").toLowerCase
    val src = q.getOrElse("src", "tiles").toLowerCase
    val local = q.getOrElse("local", "false").toBoolean
    val (precision, fromMs, toMs) =
      try {
        (
          q.getOrElse("gh_precision", "6").toInt,
          q.getOrElse("from", "-1").toLong,
          q.getOrElse("to", "-1").toLong)
      } catch {
        case e: NumberFormatException =>
          return respond(ex, 400, errorJson(e.getMessage, 400))
      }

    val params = HistoryParams(
      metricId,
      agg,
      geohashes.split(",").toIndexedSeq,
      precision,
      resolution = Some(resolution).filter(_.nonEmpty),
      interval = Some(interval).filter(_.nonEmpty),
      fromMs = Some(fromMs).filter(_ >= 0),
      // reference default toDate=-1 means "up to now"
      toMs = if (toMs > 0) toMs else System.currentTimeMillis(),
      src = src)

    try {
      if (local) {
        // Map<ts, Aggregate{count,sum,avg}> (QueryingService.java:258-261)
        respond(ex, 200, localJson(service.historyFull(params).collect()))
      } else {
        val rows = service.history(params).collect()
        respond(ex, 200, messageJson(
          columns = Seq("timestamp", agg),
          data = rows.map(r => Seq[Any](r.get(0), r.get(1))),
          metricId = metricId))
      }
    } catch {
      case e: IllegalArgumentException =>
        respond(ex, 400, errorJson(s"[getAirQualityHistory] ${e.getMessage}", 400))
    }
  }

  /** GET …/snapshot (QueryingService.java:137-230): `ts` and `bbox`
    * (N,W,S,E — the sim_api_load.sh shape) are required; `geo_index`
    * (extension) selects geohashing (default, geohash cell keys like
    * the reference) or quadtiling.
    */
  private def snapshot(ex: HttpExchange, metricId: String, agg: String): Unit = {
    val q = queryParams(ex)

    val tsMs =
      try q.getOrElse("ts", "-1").toLong
      catch { case _: NumberFormatException => -1L }
    if (tsMs <= 0)
      return respond(ex, 400, errorJson(
        "[getAirQualitySnapshot] You need to provide a valid timestamp in milliseconds", 400))

    val bbox = q.getOrElse("bbox", "")
    if (bbox.isEmpty)
      return respond(ex, 400, errorJson(
        "[getAirQualitySnapshot] You need to provide a set of coordinates corresponding to a valid bounding box: (N,W,S,E)", 400))
    val coords =
      try bbox.split(",").map(_.trim.toDouble)
      catch {
        case _: NumberFormatException =>
          return respond(ex, 400, errorJson(
            "[getAirQualitySnapshot] You need to provide valid double values for the bounding box coordinates", 400))
      }
    if (coords.length != 4)
      return respond(ex, 400, errorJson(
        "[getAirQualitySnapshot] You need to provide a set of coordinates corresponding to a valid bounding box: (N,W,S,E)", 400))

    // aggregate before the precision parse — the reference's
    // statement order (ts → bbox → aggregate → precision)
    if (!graft.operators.ExploraQueries.SupportedAggregates.contains(agg))
      return respond(ex, 400, errorJson(
        s"[getAirQualitySnapshot] aggregate $agg is not yet supported", 400))

    val resolution = q.getOrElse("res", "").toLowerCase
    val geoIndex = q.getOrElse("geo_index", "geohashing").toLowerCase
    val local = q.getOrElse("local", "false").toBoolean
    val precision =
      try q.getOrElse("gh_precision", "6").toInt
      catch {
        case e: NumberFormatException =>
          return respond(ex, 400, errorJson(e.getMessage, 400))
      }

    val params = SnapshotParams(
      metricId, agg, tsMs,
      north = coords(0), west = coords(1), south = coords(2), east = coords(3),
      precision = precision, resolution = resolution, geoIndex = geoIndex)

    try {
      if (local) {
        respond(ex, 200, localJson(service.snapshotFull(params).collect()))
      } else {
        val rows = service.snapshot(params).collect()
        respond(ex, 200, messageJson(
          columns = Seq("geohash", agg),
          data = rows.map(r => Seq[Any](r.get(0), r.get(1))),
          metricId = metricId))
      }
    } catch {
      case e: IllegalArgumentException =>
        respond(ex, 400, errorJson(s"[getAirQualitySnapshot] ${e.getMessage}", 400))
    }
  }

  // ---- envelopes -----------------------------------------------------

  /** `Message{columns, data, metadata}` (model/Message.java:7-16). */
  private def messageJson(columns: Seq[String], data: Seq[Seq[Any]], metricId: String): String = {
    val root = mapper.createObjectNode()
    val cols = root.putArray("columns")
    columns.foreach(cols.add)
    val d = root.putArray("data")
    data.foreach { row =>
      val r = d.addArray()
      row.foreach(v => addValue(r, v))
    }
    root.putObject("metadata").put("metric_id", metricId)
    mapper.writeValueAsString(root)
  }

  /** `{key: {count, sum, avg}}` — local-mode raw map
    * (QueryingService.java:258-261, Aggregate.java:3-14). Input rows are
    * (key, cnt, sum_val, avg_val).
    */
  private def localJson(rows: Array[Row]): String = {
    val root = mapper.createObjectNode()
    rows.foreach { r =>
      val o = root.putObject(String.valueOf(r.get(0)))
      o.put("count", r.getLong(1))
      o.put("sum", r.getDouble(2))
      o.put("avg", r.getDouble(3))
    }
    mapper.writeValueAsString(root)
  }

  /** `ErrorMessage{errorMessage, errorCode}` (model/ErrorMessage.java). */
  private def errorJson(msg: String, code: Int): String = {
    val root = mapper.createObjectNode()
    root.put("errorMessage", msg)
    root.put("errorCode", code)
    mapper.writeValueAsString(root)
  }

  private def addValue(arr: com.fasterxml.jackson.databind.node.ArrayNode, v: Any): Unit =
    v match {
      case null       => arr.addNull()
      case l: Long    => arr.add(l)
      case i: Int     => arr.add(i)
      case d: Double  => arr.add(d)
      case s: String  => arr.add(s)
      case other      => arr.add(String.valueOf(other))
    }

  // ---- plumbing ------------------------------------------------------

  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  private def queryParams(ex: HttpExchange): Map[String, String] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split("&").filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(dec(k) -> dec(v))
        case Array(k)    => Some(dec(k) -> "")
        case _           => None
      }
    }.toMap
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes)
    finally os.close()
  }
}
