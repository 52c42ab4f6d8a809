// Two accessors the benchmark needs from Spark internals, kept in Spark's
// own packages because the members are package-private.
package org.apache.spark {

  /** Waits for Spark's listener bus to deliver every posted event — the
    * benchmark reads its counters only after this, so no event is missed. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {

  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The QueryExecution an execution-end event carries (null when the
    * event was not posted by a Dataset action). */
  object PerfbenchSql {
    def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
  }
}
