package org.apache.spark.scheduler

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

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
    val jobs = new AtomicInteger()
    val out = underTag(sc)(tagged => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e.properties)) jobs.incrementAndGet()
    })(body)
    (out, jobs.get)
  }

  /** Runs `body` like [[jobsDuring]] and returns, for every stage under
    * the tag whose tasks wrote output rows, in stage order, the stage's
    * task count and the number of its tasks that wrote rows. */
  def writeStagesDuring[T](sc: SparkContext)(body: => T): (T, Seq[(Int, Int)]) = {
    val stages = new ConcurrentHashMap[Int, Int]()
    val writers = new ConcurrentHashMap[Int, Int]()
    val out = underTag(sc)(tagged => new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagged(e.properties)) stages.put(e.stageInfo.stageId, e.stageInfo.numTasks)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.containsKey(e.stageId) && e.taskMetrics != null &&
            e.taskMetrics.outputMetrics.recordsWritten > 0)
          writers.merge(e.stageId, 1, Integer.sum)
    })(body)
    (out, writers.keySet.asScala.toSeq.sorted.map(id => (stages.get(id), writers.get(id))))
  }

  /** Runs `body` under a fresh job tag with `listener` (given a test for
    * event properties that carry the tag) attached, and detaches it once
    * every event posted so far has reached it. */
  private def underTag[T](sc: SparkContext)(
      listener: (java.util.Properties => Boolean) => SparkListener)(body: => T): T = {
    val tag = s"jobs-during-${java.util.UUID.randomUUID()}"
    val l = listener(p => Option(p).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .exists(_.split(",").contains(tag)))
    sc.addSparkListener(l)
    sc.addJobTag(tag)
    try body finally {
      sc.removeJobTag(tag)
      drainListeners(sc)
      sc.removeSparkListener(l)
    }
  }
}
