// Two package-private Spark members the tracer needs, reached from the
// packages that may see them.
package org.apache.spark {

  object PerfbenchBus {
    /** Blocks until every event posted so far has been delivered. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {

  object PerfbenchSql {
    /** The query an execution-end event reports, the same object the
      * QueryExecutionListener callbacks receive. */
    def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd): execution.QueryExecution = e.qe
  }
}
