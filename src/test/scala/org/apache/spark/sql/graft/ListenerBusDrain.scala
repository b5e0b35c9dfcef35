package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test seam: block until every event posted so far has reached its
  * listeners (`QueryExecutionListener` callbacks arrive on the listener
  * bus after the action that triggered them has returned). */
object ListenerBusDrain {
  def apply(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
