package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the benchmark needs. */
object SparkInternals {
  private val planningPhases = Set("analysis", "optimization", "planning")

  /** Wait until every queued listener event has been delivered, so
    * counters read after a phase include all of that phase's jobs.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis + optimization + physical planning milliseconds of the
    * query that `e` ends; 0 when the event carries no query.
    */
  def planningMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.collect {
      case (p, s) if planningPhases(p) => s.durationMs
    }.sum).getOrElse(0L)
}
