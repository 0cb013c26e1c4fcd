package graftbench

import java.net.{HttpURLConnection, URL}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.api.{ExploraHttpServer, ExploraService, HistoryParams, SnapshotParams}
import graft.sources.SensorGrid
import org.apache.spark.sql.DataFrame

/** The service handed to the server in the traced run: it times each
  * call into [[ExploraService]] and tags the calling thread, so the
  * Spark jobs of the collect that follows are charged to this request.
  */
final class TracedService(readings: DataFrame, store: String)
    extends ExploraService(readings, Some(store)) {

  @volatile var trace: Option[Trace] = None
  val serviceNs = new AtomicLong
  private val ids = new AtomicLong

  private def traced(body: => DataFrame): DataFrame = trace match {
    case None => body
    case Some(tr) =>
      val id = s"req-${ids.incrementAndGet()}"
      readings.sparkSession.sparkContext.setLocalProperty(Trace.OpProperty, id)
      val (t0, w0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        serviceNs.addAndGet(System.nanoTime() - t0)
        tr.span(id, "api.service", w0, System.currentTimeMillis())
      }
  }

  override def history(p: HistoryParams): DataFrame = traced(super.history(p))
  override def historyFull(p: HistoryParams): DataFrame = traced(super.historyFull(p))
  override def snapshot(p: SnapshotParams): DataFrame = traced(super.snapshot(p))
  override def snapshotFull(p: SnapshotParams): DataFrame = traced(super.snapshotFull(p))
}

/** One answered request, times in seconds from the phase start. */
final case class Sample(url: String, due: Double, send: Double, done: Double, status: Int, body: String)

object Serve {

  /** Every view the request mix reads: geohash-6 and quadkey-14 views at
    * minute, hour and day resolution.
    */
  private val Views = for {
    (index, precision) <- Seq("geohashing" -> 6, "quadtiling" -> 14)
    res <- Seq("min", "hour", "day")
  } yield (index, precision, res)

  /** Set-up: a fresh view store, every view materialised and read once. */
  private def setup(ctx: Ctx, readings: DataFrame, name: String): TracedService = {
    val svc = new TracedService(readings, ctx.fresh(name))
    Views.foreach { case (index, precision, res) =>
      svc.snapshot(SnapshotParams(
        "click", "count", 1705000000000L, 51.31, 4.31, 51.17, 4.50, precision, res, index)).collect()
    }
    svc
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val readings = SensorGrid.readings(spark, ctx.inDir)
    // the traced run reports no set-up time, so it sets up once
    val setups = (1 to (if (ctx.trace) 1 else 3)).map(i => Main.timed(setup(ctx, readings, s"views$i")))
    ctx.nums("setup_s", setups.map(_._2 / 1000))
    val svc = setups.last._1
    val server = new ExploraHttpServer(svc)
    val port = server.start()
    val bodies = new ConcurrentHashMap[String, (Int, String)]()
    try {
      val open = ctx.plan.get("open")
      val due = open.get("due_s").elements.asScala.map(_.asDouble).toIndexedSeq
      val openUrls = open.get("urls").elements.asScala.map(_.asText).toIndexedSeq
      val closedUrls = ctx.plan.get("closed").get("urls").elements.asScala.map(_.asText).toIndexedSeq
      // JIT and connection warm-up, untimed; longer in the traced run,
      // whose untraced and traced passes must start equally warm
      closedLoop(ctx.cpus, port, if (ctx.trace) closedUrls else closedUrls.take(3 * ctx.cpus), bodies)

      if (!ctx.trace) {
        val samples = openLoop(ctx.cpus, port, openUrls, due, bodies)
        ctx.nums("open_due_s", samples.map(_.due))
        ctx.nums("open_done_s", samples.map(_.done))
        val (closed, drainMs) = Main.timed(closedLoop(ctx.cpus, port, closedUrls, bodies))
        ctx.out.put("drain_s", drainMs / 1000)
        ctx.out.put("closed_requests", closed.size)
        ctx.out.put("heap_live_mb", Main.heapLiveMb())
        ctx.ops(samples.size + closed.size, (samples ++ closed).count(_.status != 200))
      } else {
        // each half of the schedule untraced and traced, in the order
        // U1 T1 T2 U2, so that warm-up drift does not read as overhead
        val (h1, h2) = openUrls.indices.splitAt(openUrls.size / 2)
        def half(ix: IndexedSeq[Int]) = openLoop(ctx.cpus, port, ix.map(openUrls), ix.map(i => due(i) - due(ix.head)), bodies)
        val u1 = half(h1)
        val tr = new Trace(spark, byProperty = true)
        tr.install()
        svc.trace = Some(tr)
        tr.start()
        val traced = half(h1) ++ half(h2)
        tr.stop()
        svc.trace = None
        tr.uninstall()
        tr.writeSpans(ctx)
        val plain = u1 ++ half(h2)
        ctx.ops(plain.size + traced.size, (plain ++ traced).count(_.status != 200))
        layers(ctx, tr, svc, plain, traced)
      }
      check(ctx, readings, bodies)
    } finally server.stop()
  }

  def fetch(port: Int, url: String): (Int, String) = {
    val c = new URL(s"http://127.0.0.1:$port$url").openConnection().asInstanceOf[HttpURLConnection]
    try {
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      (code, body)
    } finally c.disconnect()
  }

  /** Send each request at its due time from a pool of `clients`
    * threads; a request that finds every client busy waits, and that
    * wait is part of its latency (timed from the due time).
    */
  def openLoop(
      clients: Int,
      port: Int,
      urls: IndexedSeq[String],
      due: IndexedSeq[Double],
      bodies: ConcurrentHashMap[String, (Int, String)]): IndexedSeq[Sample] = {
    val pool = Executors.newFixedThreadPool(clients)
    val out = new Array[Sample](urls.size)
    val t0 = System.nanoTime()
    def now = (System.nanoTime() - t0) / 1e9
    try {
      urls.indices.foreach { i =>
        val wait = due(i) - now
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        pool.execute { () =>
          val send = now
          val (code, body) = fetch(port, urls(i))
          out(i) = Sample(urls(i), due(i), send, now, code, body)
          bodies.putIfAbsent(urls(i), (code, body))
        }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
    }
    out.toIndexedSeq
  }

  /** `clients` threads pull requests off the list back to back. */
  def closedLoop(
      clients: Int,
      port: Int,
      urls: IndexedSeq[String],
      bodies: ConcurrentHashMap[String, (Int, String)]): IndexedSeq[Sample] = {
    val next = new AtomicInteger(0)
    val out = new Array[Sample](urls.size)
    val t0 = System.nanoTime()
    def now = (System.nanoTime() - t0) / 1e9
    val threads = (1 to clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < urls.size) {
          val send = now
          val (code, body) = fetch(port, urls(i))
          out(i) = Sample(urls(i), send, send, now, code, body)
          bodies.putIfAbsent(urls(i), (code, body))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toIndexedSeq
  }

  /** Per-request split of the traced phase. Spark's clocks give the
    * service call, planning, job execution and each collect's wall;
    * the HTTP layer's own time is what remains of the client-measured
    * round trip.
    */
  private def layers(ctx: Ctx, tr: Trace, svc: TracedService, plain: Seq[Sample], traced: Seq[Sample]): Unit = {
    val n = traced.size.toDouble
    val latency = traced.map(s => (s.done - s.due) * 1000).sum / n
    val genLate = traced.map(s => (s.send - s.due) * 1000).sum / n
    val service = svc.serviceNs.get / 1e6 / n
    val plan = tr.total("plan_ms") / n
    val exec = tr.execMs / n
    val action = tr.total("action_ms") / n
    val gap = action - plan - exec
    val httpSelf = latency - genLate - service - action
    ctx.layers(
      "api.service_ms" -> service,
      "api.http_self_ms" -> httpSelf,
      "api.resp_bytes" -> traced.map(_.body.length).sum / n,
      "spark.plan_ms" -> plan,
      "spark.exec_ms" -> exec,
      "spark.driver_gap_ms" -> gap,
      "bench.gen_late_ms" -> genLate)
    Layers.spark(ctx, tr, n, rowsOut = traced.map(s => responseRows(ctx, s.body)).sum)
    Layers.reconcile(ctx, latency, Seq("spark.driver_gap_ms" -> gap, "api.http_self_ms" -> httpSelf))
    val plainMean = plain.map(s => (s.done - s.due) * 1000).sum / plain.size
    ctx.layers("bench.trace_overhead" -> (latency / plainMean - 1))
  }

  /** Result rows in one envelope: `data` entries, or local-mode keys. */
  private def responseRows(ctx: Ctx, body: String): Double = {
    val j = ctx.mapper.readTree(body)
    Option(j.get("data")).map(_.size).getOrElse(j.size).toDouble
  }

  // ---- output check ---------------------------------------------------

  /** Every distinct request's envelope against a recomputation from the
    * raw readings in plain Scala (no views, no Spark plan).
    */
  private def check(ctx: Ctx, readings: DataFrame, bodies: ConcurrentHashMap[String, (Int, String)]): Unit = {
    val raw = readings.selectExpr("metric", "cast(ts as long) as ts_s", "value", "gh12", "qk14")
      .collect().map(r => Reading(r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3), r.getString(4)))
    val oracle = new Oracle(raw)
    var bad = 0
    bodies.asScala.foreach { case (url, (code, body)) =>
      val err =
        if (code != 200) Some(s"HTTP $code: ${body.take(200)}")
        else oracle.mismatch(url, ctx.mapper.readTree(body))
      err.foreach { e => bad += 1; ctx.failure(s"serve $url: $e") }
    }
    ctx.out.put("distinct_checked", bodies.size)
    if (bad > 0) ctx.ops(0, bad)
  }
}

final case class Reading(metric: String, tsS: Long, value: Double, gh12: String, qk14: String)

/** Independent answers for history and snapshot requests, computed
  * straight from raw readings.
  */
final class Oracle(raw: Array[Reading]) {
  private val byMetric = raw.groupBy(_.metric)

  private def trunc(tsS: Long, res: String): Long = res match {
    case "min"  => Math.floorDiv(tsS, 60L) * 60
    case "hour" => Math.floorDiv(tsS, 3600L) * 3600
    case _      => Math.floorDiv(tsS, 86400L) * 86400
  }

  private def params(url: String): (Seq[String], Map[String, String]) = {
    val u = new java.net.URI(url)
    val q = u.getRawQuery.split("&").map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
    (u.getPath.split("/").filter(_.nonEmpty).toSeq, q)
  }

  /** Expected (key → count, sum) cells for one request. */
  def expected(url: String): (String, String, String, Boolean, Seq[(String, Long, Double)]) = {
    val (Seq(_, _, metric, _, agg, kind), q) = params(url)
    val res = q("res")
    val rows = byMetric.getOrElse(metric, Array.empty[Reading])
    val cells = kind match {
      case "history" =>
        val geos = q("geohashes").split(",").toSet
        val (from, to) = (q("from").toLong / 1000, q("to").toLong / 1000)
        rows.iterator
          .filter(r => geos.contains(r.gh12.take(6)))
          .map(r => trunc(r.tsS, res) -> r)
          .filter { case (t, _) => t >= from && t < to }
          .toSeq.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (t, rs) => (t.toString, rs.size.toLong, rs.map(_._2.value).sum) }
      case _ =>
        val Array(n, w, s, e) = q("bbox").split(",").map(_.toDouble)
        val p = q("gh_precision").toInt
        val quad = q.get("geo_index").contains("quadtiling")
        val prefixes =
          if (quad) graft.geo.QuadKey.coverPrefixes(n, w, s, e, p)
          else graft.geo.GeoHash.coverPrefixes(n, w, s, e, p)
        val t = trunc(q("ts").toLong / 1000, res)
        rows.iterator
          .filter(r => trunc(r.tsS, res) == t)
          .map(r => (if (quad) r.qk14.take(p) else r.gh12.take(p)) -> r.value)
          .filter { case (g, _) => prefixes.exists(g.startsWith) }
          .toSeq.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (g, vs) => (g, vs.size.toLong, vs.map(_._2).sum) }
    }
    (metric, agg, kind, q.get("local").contains("true"), cells)
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 2e-6 + 1e-9 * math.abs(b)

  /** None when the envelope matches, else what differs. */
  def mismatch(url: String, body: JsonNode): Option[String] = {
    val (metric, agg, kind, local, cells) = expected(url)
    if (local) {
      val keys = body.fieldNames.asScala.toSeq
      if (keys.sorted != cells.map(_._1).sorted) return Some(s"local keys ${keys.size} vs ${cells.size}")
      cells.collectFirst {
        case (k, c, s) if body.get(k).get("count").asLong != c || !close(body.get(k).get("sum").asDouble, s) ||
            !close(body.get(k).get("avg").asDouble, s / c) => s"local cell $k"
      }
    } else {
      val cols = body.get("columns").elements.asScala.map(_.asText).toSeq
      val want = Seq(if (kind == "history") "timestamp" else "geohash", agg)
      if (cols != want) return Some(s"columns $cols")
      if (body.get("metadata").get("metric_id").asText != metric) return Some("metadata")
      val data = body.get("data").elements.asScala.toSeq
      if (data.size != cells.size) return Some(s"${data.size} rows vs ${cells.size} expected")
      data.zip(cells).collectFirst {
        case (d, (k, c, s)) if d.get(0).asText != k || !close(d.get(1).asDouble, agg match {
              case "count" => c.toDouble
              case "sum"   => s
              case _       => s / c
            }) => s"row $k: ${d.toString}"
      }
    }
  }
}
