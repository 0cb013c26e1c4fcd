package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Everything one workload run needs: the session, the generated
  * inputs, and the raw-result document the run fills in.
  */
final class Ctx(
    val spark: SparkSession,
    val inDir: String,
    val workDir: String,
    val seconds: Double,
    val trace: Boolean,
    val plan: JsonNode,
    val out: ObjectNode) {

  val mapper = new ObjectMapper()
  val cpus: Int = Runtime.getRuntime.availableProcessors

  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  /** Count `n` operations, `bad` of which failed or were wrong. */
  def ops(n: Long, bad: Long = 0): Unit = synchronized { attempted += n; failed += bad }
  def failure(cause: String): Unit = synchronized { if (failures.size < 50) failures += cause }

  def fresh(name: String): String = {
    val d = new File(workDir, name)
    Main.deleteRecursively(d)
    d.mkdirs()
    d.getPath
  }

  def nums(name: String, xs: Iterable[Double]): Unit = {
    val a = out.putArray(name)
    xs.foreach(a.add(_))
  }

  def layers(kv: (String, Double)*): Unit = {
    val o = Option(out.get("layers")).map(_.asInstanceOf[ObjectNode]).getOrElse(out.putObject("layers"))
    kv.foreach { case (k, v) => o.put(k, v) }
  }

  def finish(): Unit = {
    out.put("attempted", attempted)
    out.put("failed", failed)
    val f = out.putArray("failures")
    failures.foreach(f.add)
  }
}

object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val inDir = new File(a("in")).getAbsolutePath
    val outFile = a("out")
    val mapper = new ObjectMapper()
    val plan = mapper.readTree(new File(inDir, "plan.json"))
    val spark = session()
    val out = mapper.createObjectNode()
    val ctx = new Ctx(
      spark, inDir, new File(a("work")).getAbsolutePath, a("seconds").toDouble,
      a("trace") == "1", plan, out)
    try {
      Calibration.run(ctx)
      workload match {
        case "serve"  => Serve.run(ctx)
        case "ingest" => Ingest.run(ctx)
        case other    => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.finish()
      Files.write(Paths.get(outFile), mapper.writeValueAsBytes(out))
    } finally spark.stop()
  }

  /** The session graft.Bench builds, sized to this machine. */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config(graft.hadoop.NioLocalFileSystem.SparkConfKey, graft.hadoop.NioLocalFileSystem.className)
      .config(
        graft.hadoop.NioLocalFileSystem.SparkAbstractConfKey,
        graft.hadoop.NioLocalFileSystem.abstractClassName)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GeoFunctions.register(s)
    s
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Live heap after a full collection, in MB. */
  def heapLiveMb(): Double = {
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Parquet data files under a table directory (hidden and metadata
    * entries excluded), with their sizes.
    */
  def dataFiles(root: String): Map[String, Long] = {
    val base = Paths.get(root)
    if (!Files.exists(base)) return Map.empty
    val s = Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .filter(p => base.relativize(p).iterator.asScala.forall { c =>
          val n = c.toString; !n.startsWith("_") && !n.startsWith(".")
        })
        .map(p => p.toString -> Files.size(p))
        .toMap
    } finally s.close()
  }
}

/** A fixed probe of machine speed, reported beside the metrics so that
  * box drift between two sets of runs is visible: a deterministic CPU
  * loop and one tiny fixed Spark job, each the median of three.
  */
object Calibration {
  def cpuLoop(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xFF
      i += 1
    }
    acc
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    cpuLoop()
    val cpu = (1 to 3).map(_ => Main.timed(cpuLoop())._2)
    def job(): Long = spark.range(0, 400000, 1, ctx.cpus).selectExpr("sum(id % 7)").head().getLong(0)
    job()
    val sp = (1 to 3).map(_ => Main.timed(job())._2)
    val o = ctx.out.putObject("calib")
    o.put("cpu_ms", Main.median(cpu))
    o.put("spark_ms", Main.median(sp))
  }
}
