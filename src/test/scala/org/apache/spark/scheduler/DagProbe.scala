package org.apache.spark.scheduler

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext

/** Test-only view of the DAG scheduler's own job table. Unlike the
  * status tracker (fed by the asynchronous listener bus), it is cleaned
  * before a failed or cancelled job's waiter is released, so a caller
  * that has returned from its jobs sees them gone at once. */
object DagProbe {
  def activeJobs(sc: SparkContext): Int = sc.dagScheduler.activeJobs.size

  /** Blocks until every event posted so far has reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Runs `body` under a fresh job tag and returns its result with the
    * number of Spark jobs started under that tag — the jobs `body`
    * starts on this thread or hands to threads that inherit its tags. */
  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Int) = {
    val tag = s"jobs-during-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    val out = try body finally {
      sc.removeJobTag(tag)
      drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    (out, jobs.get)
  }
}
