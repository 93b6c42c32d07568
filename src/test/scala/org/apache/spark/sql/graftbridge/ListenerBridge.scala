package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test access to the `private[spark]` listener bus: QueryExecutionListener
  * callbacks arrive asynchronously, so a spec that inspects them first
  * drains the bus. */
object ListenerBridge {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
