package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the trace needs, which Spark keeps
  * package-private: waiting until the listener bus has delivered every
  * posted event (so a span is closed only after its counters arrived),
  * and the QueryExecution an execution-end event carries (the link
  * between a planning record and the call that caused it). */
object BenchShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
