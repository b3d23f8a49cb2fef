package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two things the benchmark reads that Spark keeps package-private:
  * the listener bus drain, so a traced run reads spans only after every
  * event of a job has been delivered, and the query execution attached to
  * a finished SQL execution (the object QueryExecutionListener receives),
  * whose planning tracker holds Catalyst's phase times. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
