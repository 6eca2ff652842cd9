package org.apache.spark.sql.graftbridge

import scala.jdk.CollectionConverters._

import org.apache.spark.executor.IsolatedSessionState

/** Test hook: the ids of the executor's isolated session states (each one
  * a classloader of its own) alive in this JVM. */
object TestExecutorState {
  def isolatedSessionIds: Set[String] = IsolatedSessionState.sessions.keySet.asScala.toSet
}
