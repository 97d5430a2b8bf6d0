package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus, whose drain is `private[spark]`. */
object ListenerBusBridge {

  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
