package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two hooks Spark keeps package-private: draining the listener bus, and the
  * QueryExecution behind a finished SQL execution.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `QueryExecution.id` of the execution, which the
    * QueryExecutionListener callbacks carry.
    */
  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
