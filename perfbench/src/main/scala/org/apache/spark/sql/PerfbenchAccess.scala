package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The benchmark's only reach into Spark internals, kept in one place.
  * Lives in this package because both members are package-private. */
object PerfbenchAccess {

  /** Wait until the listener bus has delivered every event posted so far,
    * so a traced op's jobs, stages, tasks and query executions are all
    * recorded before the next op starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Id of the QueryExecution a finished SQL execution ran, which links
    * the execution's interval to the QueryExecutionListener's report. */
  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.id)
}
