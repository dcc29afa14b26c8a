package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so that every job, stage and progress event has reached the
  * benchmark's listeners before their records are read. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
