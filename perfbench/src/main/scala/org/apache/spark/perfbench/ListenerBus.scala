package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one private Spark hook the trace needs: block until every posted
  * listener event has been delivered, so events land in the span that
  * produced them. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
