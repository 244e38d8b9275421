package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Test access to the driver's listener bus, which Spark keeps
  * package-private. */
object Bus {

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
