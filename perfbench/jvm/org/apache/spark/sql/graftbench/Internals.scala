package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.state.StateStore

/** The two Spark internals the benchmark needs, both package-private
  * to Spark, hence this bridge.
  */
object Internals {

  /** Wait until the listener bus has delivered every posted event, so
    * a traced phase's totals are complete before they are read.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Close every loaded state store, so that the background
    * maintenance of stores no query will use again stops.
    */
  def unloadStateStores(): Unit = StateStore.unloadAll()
}
