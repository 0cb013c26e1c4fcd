package graft

import graft.api.{ExploraService, HistoryParams, SnapshotParams}
import graft.sources.SensorGrid
import org.apache.spark.sql.functions.{col, substring}
import org.scalatest.funsuite.AnyFunSuite

/** The service facade: same routing as the reference's REST endpoints. */
class ExploraServiceSpec extends AnyFunSuite {
  import SparkTestBase._

  private lazy val svc = new ExploraService(SensorGrid.readings(spark, Sf0001).cache())

  private val gh6 = SensorGrid.cellGeo.map(_._2.substring(0, 6)).distinct.sorted
  private val from = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private val to = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli

  test("history with explicit resolution returns an ordered time series") {
    val df = svc.history(HistoryParams(
      "click", "avg", gh6, 6, resolution = Some("day"), fromMs = Some(from), toMs = to))
    val ts = df.collect().map(_.getLong(0))
    assert(ts.nonEmpty && ts.sameElements(ts.sorted))
  }

  test("history with interval derives window + resolution from the table") {
    val df = svc.history(HistoryParams(
      "click", "count", gh6, 6, interval = Some("1month"), toMs = to))
    assert(df.columns.toSeq === Seq("ts_s", "cnt"))
    assert(df.count() > 0) // 1month → day resolution over January
  }

  test("src=raw equals the view path (same algebra, no materialization)") {
    val p = HistoryParams(
      "error", "sum", gh6, 6, resolution = Some("hour"), fromMs = Some(from), toMs = to)
    val viaView = svc.history(p).collect().map(_.toSeq).sortBy(_.mkString)
    val viaRaw = svc.history(p.copy(src = "raw")).collect().map(_.toSeq).sortBy(_.mkString)
    assert(viaRaw.sameElements(viaView))
  }

  test("snapshot routes quadtiling (exact cover) and geohashing (prefix cover) consistently") {
    val ts = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli
    val quad = svc.snapshot(SnapshotParams(
      "signup", "avg", ts, 51.31, 4.31, 51.17, 4.50, 14, "day", geoIndex = "quadtiling"))
    val gh = svc.snapshot(SnapshotParams(
      "signup", "avg", ts, 51.31, 4.31, 51.17, 4.50, 6, "day", geoIndex = "geohashing"))
    // different cell systems, same underlying mass: Σcnt must agree
    import org.apache.spark.sql.functions.sum
    val quadRows = svc.snapshot(SnapshotParams(
      "signup", "count", ts, 51.31, 4.31, 51.17, 4.50, 14, "day", geoIndex = "quadtiling"))
    val ghRows = svc.snapshot(SnapshotParams(
      "signup", "count", ts, 51.31, 4.31, 51.17, 4.50, 6, "day", geoIndex = "geohashing"))
    val quadTotal = quadRows.agg(sum("cnt")).head.get(0)
    val ghTotal = ghRows.agg(sum("cnt")).head.get(0)
    assert(quadTotal === ghTotal, s"quad=$quadTotal gh=$ghTotal")
    assert(quad.columns.toSeq === Seq("geo", "avg_val") && gh.columns.toSeq === Seq("geo", "avg_val"))
  }

  test("snapshotPolygon: polygon cells are a subset of the bbox snapshot, both geo indexes") {
    // sf0.01: the day×cell grid at sf0.001 is too sparse for a
    // polygon-restricted single-day probe to be reliably non-empty
    val denseSvc = new ExploraService(SensorGrid.readings(spark, Sf001))
    val ts = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli
    val tri = Seq((51.31, 4.31), (51.31, 4.50), (51.17, 4.405))
    for ((idx, prec) <- Seq(("geohashing", 6), ("quadtiling", 14))) {
      val poly = denseSvc.snapshotPolygon(tri, "signup", "count", ts, prec, "day", geoIndex = idx)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val bbox = denseSvc.snapshot(SnapshotParams(
        "signup", "count", ts, 51.31, 4.31, 51.17, 4.50, prec, "day", geoIndex = idx))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(poly.nonEmpty, idx)
      // every polygon cell appears in the bbox result with the same count
      poly.foreach { case (geo, cnt) => assert(bbox.get(geo).contains(cnt), s"$idx $geo") }
      // and the polygon mass is bounded by the bbox mass
      assert(poly.values.sum <= bbox.values.sum, idx)
    }
  }

  test("snapshotPolygon degrades to the bounded prefix cover instead of throwing on huge polygons") {
    // a continent-sized polygon at gh12 would need >> 65k exact cells;
    // the service must fall back to the bbox prefix superset, not fail
    val ts = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli
    val big = Seq((71.0, -10.0), (71.0, 40.0), (36.0, 15.0))
    val r = svc.snapshotPolygon(big, "signup", "count", ts, 12, "day", geoIndex = "geohashing")
    assert(r.columns.toSeq === Seq("geo", "cnt")) // planned, not thrown
  }

  test("coarser quad precision via key prefix (zoom 10 view from zoom 14 keys)") {
    val ts = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli
    val z10 = svc.snapshot(SnapshotParams(
      "signup", "count", ts, 51.31, 4.31, 51.17, 4.50, 10, "day", geoIndex = "quadtiling"))
    val rows = z10.collect()
    assert(rows.nonEmpty && rows.forall(_.getString(0).length == 10))
  }

  test("disk-backed view store: snapshot probe prunes geo_part partitions at file level") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-viewstore").toFile.getAbsolutePath
    // geoPartLen 5: the sf0.001 grid is all one Antwerp geohash-4 cell
    // (u155…), so partitions only separate at the 5th character
    val disk = new ExploraService(
      SensorGrid.readings(spark, Sf0001).cache(), viewStore = Some(tmp), geoPartLen = 5)
    val ts = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli
    // probe a small box around the one cell that HAS signup data that
    // day at sf0.001 (u1555j): covers a strict subset of the geo_part
    // partitions (pruning observable), and the non-empty result keeps
    // AQE from collapsing the scan to EmptyRelation
    val (clat, clon) = graft.geo.GeoHash.decode("u1555j")
    val params = SnapshotParams(
      "signup", "count", ts, clat + 0.01, clon - 0.01, clat - 0.01, clon + 0.01,
      6, "day", geoIndex = "geohashing")

    val probe = disk.snapshot(params)
    // same answer as the in-process service
    val mem = svc.snapshot(params).collect().map(_.toSeq).sortBy(_.mkString)
    assert(mem.nonEmpty, "probe bbox/date has no data — pick one that does")
    assert(probe.collect().map(_.toSeq).sortBy(_.mkString).sameElements(mem))

    // the scan must prune on the partition column, not read-all-then-filter.
    // AQE wraps the plan and QueryStageExec nodes are LEAVES, so unwrap
    // both adaptive layers recursively to reach the file scan.
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      }.flatten
    val scans = scansOf(probe.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a parquet file scan under the disk-backed service")
    val pf = scans.head.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("geo_part"), s"no geo_part partition filter in scan: $pf")
    // pruning is effective: fewer partition dirs touched than exist
    val allParts = new java.io.File(s"$tmp/geohashing_p6_day")
      .listFiles().count(_.getName.startsWith("geo_part="))
    assert(scans.head.selectedPartitions.partitionCount < allParts,
      s"probe read all $allParts partitions — no pruning")
  }

  /** Every physical node, through both adaptive layers (AQE wraps the
    * plan, and its query stages are leaves).
    */
  private def nodesOf(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodesOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: nodesOf(q.plan)
      case n => Seq(n)
    }.flatten

  private def hasExchange(df: org.apache.spark.sql.DataFrame): Boolean =
    nodesOf(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.mkString).toSeq

  /** Row equality up to the last bits of a double sum, whose order of
    * addition follows the plan's partitioning.
    */
  private def sameRows(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && x.zip(y).forall {
        case (p: Double, q: Double) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(p))
        case (p, q)                 => p == q
      }
    }

  test("disk-backed view store: a one-split view answers each request with one job and no Exchange") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-viewstore-1split").toString
    // readings over a private copy of the events table: the same plan
    // over the shared path would pick up the in-process services' cached
    // views (4 partitions each) and write the view as 4 files
    val copy = java.nio.file.Files.createTempDirectory("graft-events-copy")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(Sf0001, "events.parquet"), copy.resolve("events.parquet"))
    val readings = SensorGrid.readings(spark, copy.toString).cache()
    val ts = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli
    val (clat, clon) = graft.geo.GeoHash.decode("u1555j")
    val snap = SnapshotParams(
      "signup", "count", ts, clat + 0.01, clon - 0.01, clat - 0.01, clon + 0.01,
      6, "day", geoIndex = "geohashing")
    val hist = HistoryParams(
      "click", "avg", gh6, 6, resolution = Some("day"), fromMs = Some(from), toMs = to)
    def requests(s: ExploraService) = Seq(
      "history" -> (() => s.history(hist)),
      "historyFull" -> (() => s.historyFull(hist)),
      "snapshot" -> (() => s.snapshot(snap)),
      "snapshotFull" -> (() => s.snapshotFull(snap)))

    // the default geo_part length puts the sf0.001 view in one small file
    val single = new ExploraService(readings, viewStore = Some(tmp))
    single.snapshot(snap).collect()
    assert(new java.io.File(s"$tmp/geohashing_p6_day/geo_part=u1").list()
      .count(_.startsWith("part-")) === 1, "precondition: the view is one file")
    val singleRows = requests(single).map { case (name, req) =>
      req().collect() // builds the view; not counted
      val df = req()
      val (rows, events) = withEvents(rowsOf(df))
      val jobs = events.count(_.isInstanceOf[org.apache.spark.scheduler.SparkListenerJobStart])
      assert(jobs === 1, s"$name ran $jobs jobs over a one-split view")
      assert(!hasExchange(df), s"$name planned an Exchange over a one-split view")
      assert(rows.nonEmpty, s"$name returned no rows")
      assert(sameRows(rows, rowsOf(requests(svc).toMap.apply(name)())), s"$name differs from in-process")
      name -> rows
    }.toMap

    // the same files under a split size far below the file size: the
    // scan has many splits, so the view keeps the parallel exchange plan
    val conf = spark.conf
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      keys.foreach(conf.set(_, "1024"))
      val multi = new ExploraService(readings, viewStore = Some(tmp))
      requests(multi).foreach { case (name, req) =>
        val df = req()
        assert(sameRows(rowsOf(df), singleRows(name)), s"$name: multi-split rows differ")
        assert(hasExchange(df), s"$name lost its Exchange over a multi-split view")
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("disk-backed view store: a view directory without its _SUCCESS marker is rebuilt") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-viewstore-crash").toString
    val readings = SensorGrid.readings(spark, Sf0001).cache()
    // what a crashed build leaves: a part file holding part of the view
    // (every metric but signup) and no job-commit marker
    val dir = s"$tmp/geohashing_p6_day"
    graft.operators.ViewBuilder
      .build(readings.filter(col("metric") =!= "signup"), substring(col("gh12"), 1, 6), "day")
      .withColumn("geo_part", substring(col("geo"), 1, 2))
      .coalesce(1)
      .write
      .partitionBy("geo_part")
      .parquet(dir)
    val marker = new java.io.File(dir, "_SUCCESS")
    assert(marker.delete())

    val disk = new ExploraService(readings, viewStore = Some(tmp))
    val ts = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli
    val (clat, clon) = graft.geo.GeoHash.decode("u1555j")
    val snap = SnapshotParams(
      "signup", "count", ts, clat + 0.01, clon - 0.01, clat - 0.01, clon + 0.01,
      6, "day", geoIndex = "geohashing")
    val hist = HistoryParams(
      "signup", "sum", gh6, 6, resolution = Some("day"), fromMs = Some(from), toMs = to)
    val memSnap = rowsOf(svc.snapshot(snap))
    val memHist = rowsOf(svc.history(hist))
    assert(memSnap.nonEmpty && memHist.nonEmpty)
    assert(sameRows(rowsOf(disk.snapshot(snap)), memSnap), "snapshot served the crashed write")
    assert(sameRows(rowsOf(disk.history(hist)), memHist), "history served the crashed write")
    assert(marker.exists(), "the rebuilt view has no _SUCCESS marker")
  }

  test("invalid parameters are rejected before any Spark work") {
    intercept[IllegalArgumentException] {
      svc.history(HistoryParams("click", "median", gh6, 6, Some("day"), None, Some(from), to))
    }
    intercept[IllegalArgumentException] {
      svc.history(HistoryParams("click", "avg", gh6, 6, None, None, Some(from), to))
    }
    intercept[IllegalArgumentException] {
      svc.snapshot(SnapshotParams("x", "avg", 0, 51.17, 4.31, 51.31, 4.50, 6, "day"))
    }
  }
}
