package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.ViewBuilder
import graft.sources.SensorGrid
import graft.streaming.StreamingViews
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One maintained view: its event source directory, the checkpoint the
  * whole run shares, and the stored view table.
  */
final class ViewPipeline(ctx: Ctx, name: String) {
  val root: String = ctx.fresh(name)
  val staged: String = s"$root/staged"
  val source: String = s"$root/src"
  val landing: String = s"$source/events.parquet"
  val checkpoint: String = s"$root/ckpt"
  val table: String = s"$root/view"
  new File(staged).mkdirs()
  new File(landing).mkdirs()

  /** Copy the generated chunks next to the source, ready to land. */
  def stage(chunks: Seq[File]): Unit =
    chunks.foreach(c => Files.copy(c.toPath, Paths.get(staged, c.getName)))

  /** Land one chunk: an atomic rename into the source directory. */
  def land(chunk: File): Unit =
    Files.move(Paths.get(staged, chunk.getName), Paths.get(landing, chunk.getName),
      StandardCopyOption.ATOMIC_MOVE)

  /** One maintenance round over whatever has landed. */
  def round(): Unit =
    StreamingViews.materializeViews(
      ctx.spark, source, table, "min", 6, checkpoint, watermark = Some("1 hour"))

  /** Chunk file names the source has committed so far, from the file
    * source's own log in the checkpoint.
    */
  def committed(): Set[String] = {
    val dir = new File(s"$checkpoint/sources/0")
    Option(dir.listFiles).toSeq.flatten.filter(f => f.isFile && !f.getName.startsWith(".")).flatMap { f =>
      Files.readAllLines(f.toPath).asScala.filter(_.startsWith("{")).map { line =>
        ctx.mapper.readTree(line).get("path").asText.split('/').last
      }
    }.toSet
  }
}

object Ingest {

  def run(ctx: Ctx): Unit = {
    val chunks = new File(ctx.inDir, "chunks").listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val intervalS = ctx.plan.get("interval_s").asDouble

    // set-up: stage the chunks, land the first and bootstrap the stream
    def setup(name: String): ViewPipeline = {
      val p = new ViewPipeline(ctx, name)
      p.stage(chunks)
      p.land(chunks.head)
      p.round()
      p
    }
    // the traced run reports no set-up time, so it sets up once; the
    // state stores of a discarded set-up are closed, so that their
    // background maintenance does not run beside the timed rounds
    val n = if (ctx.trace) 1 else 3
    val setups = (1 to n).map { i =>
      val s = Main.timed(setup(s"setup$i"))
      if (i < n) org.apache.spark.sql.graftbench.Internals.unloadStateStores()
      s
    }
    ctx.nums("setup_s", setups.map(_._2 / 1000))
    val p = setups.last._1

    if (!ctx.trace) {
      val (fresh, _) = maintain(ctx, p, chunks.tail, intervalS, None)
      ctx.nums("fresh_ms", fresh)
      // backfill five times into fresh pipelines; the median counts.
      // Each starts with no state store loaded, so that the background
      // maintenance of earlier pipelines' stores does not run beside it
      val backfills = (1 to 5).map { i =>
        val bf = new ViewPipeline(ctx, s"backfill$i")
        bf.stage(chunks)
        chunks.foreach(bf.land)
        org.apache.spark.sql.graftbench.Internals.unloadStateStores()
        (bf, Main.timed(bf.round())._2)
      }
      ctx.nums("backfill_s", backfills.map(_._2 / 1000))
      ctx.out.put("heap_live_mb", Main.heapLiveMb())
      check(ctx, p, backfills.map(_._1))
    } else {
      // five consecutive fifths of the landings on the same pipeline: a
      // warm-up, then untraced, traced, traced, untraced (drift cancels)
      val fifths = chunks.tail.grouped((chunks.size - 1 + 4) / 5).toSeq
      val tr = new Trace(ctx.spark, byProperty = false)
      val fs = new FsTracker(Seq(p.table))
      maintain(ctx, p, fifths(0), intervalS, None)
      val plain = maintain(ctx, p, fifths(1), intervalS, None)._1
      tr.install()
      tr.start()
      fs.reset()
      val traced = Seq(fifths(2), fifths(3)).map(q => maintain(ctx, p, q, intervalS, Some((tr, fs))))
      tr.stop()
      tr.uninstall()
      tr.writeSpans(ctx)
      val plain2 = maintain(ctx, p, fifths(4), intervalS, None)._1
      layers(ctx, tr, fs, p, traced.flatMap(_._2))
      val (f, u) = (traced.flatMap(_._1), plain ++ plain2)
      ctx.layers("bench.trace_overhead" -> ((f.sum / f.size) / (u.sum / u.size) - 1))
      // the view table's small-file compaction, checked with the rest
      ctx.layers("store.compact_ms" -> Main.timed(StreamingViews.compactViews(ctx.spark, p.table))._2)
      check(ctx, p, Nil)
    }
  }

  /** Land `chunks` on a fixed schedule from a separate thread while the
    * maintenance loop runs rounds back to back over whatever has landed.
    * Returns each chunk's freshness (scheduled landing to the commit of
    * the round that included it) and each round's wall time.
    */
  private def maintain(
      ctx: Ctx,
      p: ViewPipeline,
      chunks: Seq[File],
      intervalS: Double,
      trace: Option[(Trace, FsTracker)]): (Seq[Double], Seq[Double]) = {
    val t0 = System.nanoTime()
    def now = (System.nanoTime() - t0) / 1e9
    val due = chunks.indices.map(i => (i + 1) * intervalS)
    @volatile var landed = 0
    val lander = new Thread(() => {
      chunks.indices.foreach { i =>
        val wait = due(i) - now
        if (wait > 0) Thread.sleep((wait * 1000).toLong)
        p.land(chunks(i))
        landed = i + 1
      }
    })
    lander.start()
    val index = chunks.map(_.getName).zipWithIndex.toMap
    val commit = mutable.Map.empty[Int, Double]
    val rounds = mutable.ArrayBuffer.empty[Double]
    val deadline = due.last + 120
    var failed = 0
    while (commit.size < chunks.size && now < deadline) {
      if (landed == 0) Thread.sleep(5)
      else {
        val id = s"round-${rounds.size}"
        val ok =
          try Main.timed(trace.fold(p.round())(_._1.op(id)(p.round())))._2
          catch {
            case e: Exception =>
              failed += 1
              ctx.failure(s"ingest $id: ${e.getMessage}")
              -1.0
          }
        val at = now
        trace.foreach(_._2.step())
        if (ok >= 0) rounds += ok
        p.committed().flatMap(index.get).foreach(i => if (!commit.contains(i)) commit(i) = at)
      }
    }
    lander.join()
    val missing = chunks.size - commit.size
    if (missing > 0) ctx.failure(s"ingest: $missing chunks never committed")
    ctx.ops(rounds.size + failed + missing, failed + missing)
    (commit.toSeq.sortBy(_._1).map { case (i, c) => (c - due(i)) * 1000 }, rounds.toSeq)
  }

  private def layers(ctx: Ctx, tr: Trace, fs: FsTracker, p: ViewPipeline, rounds: Seq[Double]): Unit = {
    val n = rounds.size.toDouble
    val wall = rounds.sum / n
    val trigger = tr.streamTotal("triggerExecution") / n
    val offsets = Seq("latestOffset", "getBatch", "walCommit", "commitOffsets").map(tr.streamTotal).sum / n
    val sink = tr.streamTotal("addBatch") / n
    val planning = tr.streamTotal("queryPlanning") / n
    val start = wall - trigger
    val otherTrigger = trigger - offsets - sink - planning
    val gap = wall - tr.total("plan_ms") / n - tr.execMs / n
    ctx.layers(
      "streaming.round_ms" -> wall,
      "streaming.start_ms" -> start,
      "streaming.batches" -> tr.streamTotal("batches") / n,
      "streaming.offsets_ms" -> offsets,
      "streaming.sink_ms" -> sink,
      "streaming.state_commit_ms" -> tr.streamTotal("state_commit_ms") / n,
      "streaming.state_rows" -> tr.streamTotal("state_rows") / math.max(tr.streamTotal("batches"), 1),
      "streaming.state_mem_mb" -> tr.streamTotal("state_mem_bytes") / math.max(tr.streamTotal("batches"), 1) / 1048576,
      "spark.plan_ms" -> tr.total("plan_ms") / n,
      "spark.exec_ms" -> tr.execMs / n,
      "spark.driver_gap_ms" -> gap,
      "store.parts_touched" -> fs.touched / n)
    Layers.spark(ctx, tr, n, rowsOut = tr.total("rows_written"))
    Layers.store(ctx, tr, fs, n, rows = ctx.spark.read.parquet(p.table).count())
    // a round is its query start and stop plus its micro-batches, each
    // micro-batch its offset, planning, sink and remaining phases; and
    // the round's Spark planning and jobs fit inside its wall
    Layers.reconcile(ctx, wall, Seq(
      "streaming.start_ms" -> start, "other micro-batch phases" -> otherTrigger, "spark.driver_gap_ms" -> gap))
  }

  /** The stored views must equal the batch view over every landed event. */
  private def check(ctx: Ctx, stream: ViewPipeline, backfills: Seq[ViewPipeline]): Unit = {
    val spark = ctx.spark
    val expected = rows(ViewBuilder.build(SensorGrid.readings(spark, stream.source), substring(col("gh12"), 1, 6), "min"))
    (("stream" -> stream) +: backfills.map("backfill" -> _)).foreach { case (what, p) =>
      val got = rows(spark.read.parquet(p.table))
      val diff = Compare.cells(expected, got)
      ctx.ops(1, if (diff.isEmpty) 0 else 1)
      diff.foreach(d => ctx.failure(s"ingest $what view: $d"))
    }
  }

  private def rows(view: DataFrame): Map[(String, String, Long), (Long, Double)] =
    view.select(col("metric"), col("geo"), col("ts").cast("long"), col("cnt"), col("sum_val"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> (r.getLong(3), r.getDouble(4))).toMap
}

object Compare {

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-6 + 1e-9 * math.abs(b)

  /** None when both keyed cell sets agree, else the first difference. */
  def cells[K](want: Map[K, (Long, Double)], got: Map[K, (Long, Double)]): Option[String] =
    if (want.size != got.size) Some(s"${got.size} cells, expected ${want.size}")
    else want.collectFirst {
      case (k, (c, s)) if !got.get(k).exists { case (c2, s2) => c2 == c && close(s2, s) } =>
        s"cell $k: ${got.get(k)} expected ($c, $s)"
    }
}
