package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the traced run reads, reachable only from inside
  * Spark's packages.
  */
object SparkShim {

  /** Waits until every queued listener event has been delivered, so that
    * counters read at the end of a traced run are complete.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished query of an execution-end event (null when the event
    * did not come from a Dataset action). It is the same object a
    * `QueryExecutionListener` receives, paired here with the execution id
    * that the jobs it ran carry in their properties.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
