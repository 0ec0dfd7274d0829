package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the package-private query execution attached to an in-process
  * SQL-execution-end event, so the benchmark's SparkContext listener can
  * sum Catalyst phase times for every session sharing the context. */
object PerfbenchBridge {
  /** Parsing + analysis + optimization + planning ms of the execution. */
  def catalystMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
}
