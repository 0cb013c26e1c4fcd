package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark specs (JVM-forked by sbt). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // fork-free local chmod — graft.hadoop.NioLocalFileSystem note
      .config(
        graft.hadoop.NioLocalFileSystem.SparkConfKey,
        graft.hadoop.NioLocalFileSystem.className)
      // ...and its FileContext twin: the streaming checkpoint layer
      // (offset/commit logs, state-store deltas) binds file:// through
      // fs.AbstractFileSystem.file.impl, a separate hierarchy that
      // still forked per state file (NioLocalFileSystem scaladoc)
      .config(
        graft.hadoop.NioLocalFileSystem.SparkAbstractConfKey,
        graft.hadoop.NioLocalFileSystem.abstractClassName)
      // driver-side listing for ≤1024-dir local stores (Bench note)
      .config(
        "spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_THRESHOLD", "1024"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` and returns its result with every listener event posted
    * while it ran, from any thread. Delivery is asynchronous but in
    * order, so a sentinel job run after `body` settles the count: once
    * its start arrives, every earlier event has arrived too.
    */
  def withEvents[A](body: => A): (A, Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val sentinel = java.util.UUID.randomUUID().toString
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val drained = new CountDownLatch(1)
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerJobStart
            if s.properties != null && s.properties.getProperty("graft.test.sentinel") == sentinel =>
          drained.countDown()
        case _ if drained.getCount > 0 => events.add(e)
        case _                         =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("graft.test.sentinel", sentinel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.sentinel", null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, events.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
  val Sf01 = "/root/testdata/sf0.1"
}
