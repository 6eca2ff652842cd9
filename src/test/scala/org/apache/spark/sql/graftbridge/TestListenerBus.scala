package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test hook: block until every posted listener event (query-execution
  * listeners included) has been delivered. */
object TestListenerBus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
