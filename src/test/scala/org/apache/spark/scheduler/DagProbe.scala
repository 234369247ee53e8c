package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** Test-only view of the DAG scheduler's own job table. Unlike the
  * status tracker (fed by the asynchronous listener bus), it is cleaned
  * before a failed or cancelled job's waiter is released, so a caller
  * that has returned from its jobs sees them gone at once. */
object DagProbe {
  def activeJobs(sc: SparkContext): Int = sc.dagScheduler.activeJobs.size

  /** Blocks until every event posted so far has reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
