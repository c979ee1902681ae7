package org.apache.spark {
  /** Waits until every queued listener event has been delivered, so the
    * benchmark's counters are complete before it reads them. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The QueryExecution an execution-end event carries: the object a
    * QueryExecutionListener is handed, reached through the event so it
    * stays tied to the event's execution id (QueryExecution.id is a
    * different counter). */
  object PerfbenchSql {
    def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
      Option(e.qe)
  }
}
