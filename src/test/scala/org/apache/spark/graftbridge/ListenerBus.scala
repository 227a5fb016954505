package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test-side bridge to the spark-private listener bus, the way
  * `org.apache.spark.sql.graftbridge.Bridge` reaches sql-private API for
  * main code. */
object ListenerBus {
  /** Blocks until every event posted so far has reached its listeners
    * (the bus delivers asynchronously). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
