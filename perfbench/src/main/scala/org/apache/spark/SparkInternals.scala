// Two package-private Spark members the traced run reads. Both are read only
// between operations or on the listener thread, never inside a timing.
package org.apache.spark {

  object PerfbenchBus {
    /** Block until every event posted so far has reached the listeners. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }

  package sql {
    object PerfbenchSql {
      /** The finished query of a root SQL execution (null when not known). */
      def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd)
          : execution.QueryExecution = e.qe
    }
  }
}
