package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.{ExploraHttpServer, ExploraService, HistoryParams, SnapshotParams}
import graft.sources.SensorGrid
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Drives REAL HTTP GETs against a live [[ExploraHttpServer]] and
  * checks the payloads — both the success envelopes (row-for-row equal
  * to the library facade the gate oracles already certify) and the
  * reference's 400 error paths (querying/QueryingService.java:46-230).
  */
class HttpFacadeSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestBase._

  private val mapper = new ObjectMapper()
  private lazy val svc = new ExploraService(SensorGrid.readings(spark, Sf0001).cache())
  private lazy val httpServer = new ExploraHttpServer(svc)
  private lazy val base = s"http://127.0.0.1:${httpServer.start()}"

  override def afterAll(): Unit = httpServer.stop()

  private def get(pathAndQuery: String): (Int, JsonNode) = {
    val conn = URI.create(base + pathAndQuery).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (code, mapper.readTree(body))
  }

  private val gh6 = SensorGrid.cellGeo.map(_._2.substring(0, 6)).distinct.sorted
  private val fromMs = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private val toMs = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli
  private val snapTsMs = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli

  test("history GET returns the Message envelope, rows equal to the library facade") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/avg/history?geohashes=${gh6.mkString(",")}" +
        s"&res=day&from=$fromMs&to=$toMs&gh_precision=6")
    assert(code === 200)
    assert(json.get("columns").get(0).asText === "timestamp")
    assert(json.get("columns").get(1).asText === "avg")
    assert(json.get("metadata").get("metric_id").asText === "click")
    val viaHttp = {
      val d = json.get("data")
      (0 until d.size).map(i => (d.get(i).get(0).asLong, d.get(i).get(1).asDouble))
    }
    val viaApi = svc.history(HistoryParams(
      "click", "avg", gh6, 6, resolution = Some("day"),
      fromMs = Some(fromMs), toMs = toMs))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaHttp.nonEmpty && viaHttp === viaApi)
  }

  test("snapshot GET with the sim_api_load.sh query shape (ts, src, res, gh_precision, bbox)") {
    // same parameter shape as the reference's load script, over our grid
    val (code, json) = get(
      s"/api/airquality/signup/aggregate/avg/snapshot?ts=$snapTsMs" +
        s"&src=tiles&res=day&gh_precision=6&bbox=51.31,4.31,51.17,4.50")
    assert(code === 200)
    assert(json.get("columns").get(0).asText === "geohash")
    val viaHttp = {
      val d = json.get("data")
      (0 until d.size).map(i => (d.get(i).get(0).asText, d.get(i).get(1).asDouble))
    }
    val viaApi = svc.snapshot(SnapshotParams(
      "signup", "avg", snapTsMs, 51.31, 4.31, 51.17, 4.50, 6, "day",
      geoIndex = "geohashing"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(viaHttp.nonEmpty && viaHttp === viaApi)
  }

  test("quadtiling snapshot via geo_index param matches the facade") {
    val (code, json) = get(
      s"/api/airquality/signup/aggregate/count/snapshot?ts=$snapTsMs" +
        s"&res=day&gh_precision=14&geo_index=quadtiling&bbox=51.31,4.31,51.17,4.50")
    assert(code === 200)
    val viaHttp = {
      val d = json.get("data")
      (0 until d.size).map(i => (d.get(i).get(0).asText, d.get(i).get(1).asLong))
    }
    val viaApi = svc.snapshot(SnapshotParams(
      "signup", "count", snapTsMs, 51.31, 4.31, 51.17, 4.50, 14, "day",
      geoIndex = "quadtiling"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaHttp.nonEmpty && viaHttp === viaApi)
  }

  test("local=true returns the raw {key: {count, sum, avg}} map (Aggregate shape)") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/avg/history?geohashes=${gh6.mkString(",")}" +
        s"&res=day&from=$fromMs&to=$toMs&local=true")
    assert(code === 200)
    val viaApi = svc.historyFull(HistoryParams(
      "click", "avg", gh6, 6, resolution = Some("day"),
      fromMs = Some(fromMs), toMs = toMs)).collect()
    assert(json.size === viaApi.length && viaApi.nonEmpty)
    viaApi.foreach { r =>
      val node = json.get(r.getLong(0).toString)
      assert(node != null, s"missing key ${r.getLong(0)}")
      assert(node.get("count").asLong === r.getLong(1))
      assert(math.abs(node.get("sum").asDouble - r.getDouble(2)) < 1e-9)
      assert(math.abs(node.get("avg").asDouble - r.getDouble(3)) < 1e-9)
    }
  }

  test("history interval mode routes like the library (interval table)") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/count/history?geohashes=${gh6.mkString(",")}" +
        s"&interval=1month&to=$toMs")
    assert(code === 200)
    assert(json.get("data").size > 0)
  }

  test("400: missing geohashes, with the reference's error text") {
    val (code, json) = get("/api/airquality/click/aggregate/avg/history?res=day")
    assert(code === 400)
    assert(json.get("errorCode").asInt === 400)
    assert(json.get("errorMessage").asText.contains("comma-separated geohash prefixes"))
  }

  test("400: unsupported aggregate") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/median/history?geohashes=${gh6.head}&res=day&to=$toMs")
    assert(code === 400)
    assert(json.get("errorMessage").asText.toLowerCase.contains("aggregate"))
  }

  test("400: neither resolution nor interval") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/avg/history?geohashes=${gh6.head}&to=$toMs")
    assert(code === 400)
    assert(json.get("errorCode").asInt === 400)
  }

  test("400: from after to") {
    val (code, _) = get(
      s"/api/airquality/click/aggregate/avg/history?geohashes=${gh6.head}" +
        s"&res=day&from=$toMs&to=$fromMs")
    assert(code === 400)
  }

  test("400: non-numeric gh_precision") {
    val (code, _) = get(
      s"/api/airquality/click/aggregate/avg/history?geohashes=${gh6.head}" +
        s"&res=day&to=$toMs&gh_precision=six")
    assert(code === 400)
  }

  test("400: snapshot without ts, with the reference's error text") {
    val (code, json) = get(
      "/api/airquality/click/aggregate/avg/snapshot?bbox=51.31,4.31,51.17,4.50&res=day")
    assert(code === 400)
    assert(json.get("errorMessage").asText.contains("valid timestamp in milliseconds"))
  }

  test("400: snapshot without bbox") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/avg/snapshot?ts=$snapTsMs&res=day")
    assert(code === 400)
    assert(json.get("errorMessage").asText.contains("bounding box"))
  }

  test("400: snapshot with non-numeric bbox coordinates") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/avg/snapshot?ts=$snapTsMs&res=day&bbox=a,b,c,d")
    assert(code === 400)
    assert(json.get("errorMessage").asText.contains("valid double values"))
  }

  test("404: unknown route") {
    val (code, json) = get("/api/airquality/click/nope")
    assert(code === 404)
    assert(json.get("errorCode").asInt === 404)
  }

  test("concurrent serving: 200 GETs at concurrency 10 return one consistent envelope (sim_api_load.sh shape)") {
    // the reference's load protocol (sim_api_load.sh:1-5): 200 identical
    // snapshot GETs fanned out 10-wide against ONE server. Every
    // response must be byte-identical — the facade is stateless over an
    // immutable cached frame, so concurrency may not perturb a payload
    // (a torn write, a shared-buffer race, or an executor rejection
    // would each surface as a differing body or a non-200).
    val path =
      s"/api/airquality/signup/aggregate/avg/snapshot?ts=$snapTsMs" +
        s"&src=tiles&res=day&gh_precision=6&bbox=51.31,4.31,51.17,4.50"
    val (c0, expected) = get(path) // warm: JIT + first Spark job untimed
    assert(c0 === 200)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(10)
    val t0 = System.nanoTime()
    val futures = (1 to 200).map { _ =>
      pool.submit(new java.util.concurrent.Callable[(Int, JsonNode)] {
        def call(): (Int, JsonNode) = get(path)
      })
    }
    val results = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    val sec = (System.nanoTime() - t0) / 1e9
    pool.shutdown()
    assert(results.forall(_._1 == 200))
    assert(results.forall(_._2 == expected), "a concurrent response diverged from the sequential envelope")
    val rps = 200.0 / sec
    info(f"200 requests, concurrency 10: $sec%.2f s -> $rps%.1f req/s")
    // generous floor: catches an accidental serialization of the pool
    // (e.g. a global lock making concurrency-10 run 1-wide at seconds
    // per request), not a perf target for the multi-tenant box
    assert(rps > 1.0, f"throughput collapsed: $rps%.2f req/s")
  }

  test("8 concurrent cold GETs for one view at a fresh store: identical 200s, the view written once") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-cold").toString
    val svcCold = new ExploraService(SensorGrid.readings(spark, Sf0001), viewStore = Some(store))
    val serverCold = new ExploraHttpServer(svcCold)
    val baseCold = s"http://127.0.0.1:${serverCold.start()}"
    val path =
      s"/api/airquality/signup/aggregate/avg/snapshot?ts=$snapTsMs" +
        s"&src=tiles&res=day&gh_precision=6&bbox=51.31,4.31,51.17,4.50"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val go = new java.util.concurrent.CountDownLatch(1)
      val (results, events) = withEvents {
        val futures = (1 to 8).map { _ =>
          pool.submit(new java.util.concurrent.Callable[(Int, String)] {
            def call(): (Int, String) = {
              go.await()
              val conn = URI.create(baseCold + path).toURL
                .openConnection().asInstanceOf[HttpURLConnection]
              try (conn.getResponseCode,
                new String(conn.getInputStream.readAllBytes(), StandardCharsets.UTF_8))
              finally conn.disconnect()
            }
          })
        }
        go.countDown()
        futures.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      }
      assert(results.forall(_._1 == 200), s"statuses: ${results.map(_._1)}")
      assert(results.map(_._2).distinct.size === 1, "cold responses differ")
      assert(mapper.readTree(results.head._2).get("data").size > 0)
      val writes = events.count {
        case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          e.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") &&
            e.physicalPlanDescription.contains(s"$store/geohashing_p6_day")
        case _ => false
      }
      assert(writes === 1, s"the view was written $writes times")
    } finally {
      pool.shutdown()
      serverCold.stop()
    }
  }

  test("concurrent serving from the DISK-backed view store at sf0.1: 200@10, PartitionFilters retained under load") {
    // VERDICT r9 #8: the 200@10 proof above runs on a cached sf0.001
    // frame; this is the PRODUCTION shape — the server answering from
    // the geo_part-partitioned parquet view store at sf0.1, while the
    // probe plan's partition pruning is inspected CONCURRENTLY with the
    // HTTP load (a pruning regression under contention would read the
    // whole view on every request).
    val store = java.nio.file.Files.createTempDirectory("graft-http-store").toString
    val svcDisk = new ExploraService(
      SensorGrid.readings(spark, Sf01), viewStore = Some(store))
    val serverDisk = new ExploraHttpServer(svcDisk)
    val baseDisk = s"http://127.0.0.1:${serverDisk.start()}"
    try {
      def getDisk(pathAndQuery: String): (Int, JsonNode) = {
        val conn = URI.create(baseDisk + pathAndQuery).toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("GET")
        val code = conn.getResponseCode
        val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val body = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
        conn.disconnect()
        (code, mapper.readTree(body))
      }
      val path =
        s"/api/airquality/signup/aggregate/avg/snapshot?ts=$snapTsMs" +
          s"&src=tiles&res=day&gh_precision=6&bbox=51.31,4.31,51.17,4.50"
      val (c0, expected) = getDisk(path) // warm: view build + first scan untimed
      assert(c0 === 200)
      assert(expected.get("data").size > 0, "sf0.1 probe returned no rows")

      val params = SnapshotParams(
        "signup", "avg", snapTsMs, 51.31, 4.31, 51.17, 4.50, 6, "day",
        geoIndex = "geohashing")
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scansOf(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(q.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        }.flatten
      def assertPruned(): Boolean = {
        val scans = scansOf(svcDisk.snapshot(params).queryExecution.executedPlan)
        scans.nonEmpty &&
          scans.head.metadata.getOrElse("PartitionFilters", "").contains("geo_part")
      }

      val pool = java.util.concurrent.Executors.newFixedThreadPool(10)
      val t0 = System.nanoTime()
      val gets = (1 to 200).map { _ =>
        pool.submit(new java.util.concurrent.Callable[(Int, JsonNode)] {
          def call(): (Int, JsonNode) = getDisk(path)
        })
      }
      // plan inspections interleaved WITH the load on the same pool
      val pruneChecks = (1 to 10).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = assertPruned()
        })
      }
      val results = gets.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      val pruned = pruneChecks.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      val sec = (System.nanoTime() - t0) / 1e9
      pool.shutdown()
      assert(results.forall(_._1 == 200))
      assert(results.forall(_._2 == expected),
        "a concurrent disk-served response diverged from the sequential envelope")
      assert(pruned.forall(identity),
        "a probe plan lost its geo_part PartitionFilters under concurrent load")
      val rps = 200.0 / sec
      info(f"disk-backed sf0.1: 200 requests, concurrency 10: $sec%.2f s -> $rps%.1f req/s")
      assert(rps > 1.0, f"throughput collapsed: $rps%.2f req/s")
    } finally serverDisk.stop()
  }
}
