package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{GraftSession, SparkEntry}

/** Job-level profile of one query run: which Spark jobs a query
  * schedules, how long each takes, and how much executor task time each
  * burns — the breakdown that separates "many tiny sequential jobs"
  * (driver/scheduling-bound) from "one heavy stage" (compute-bound).
  * Usage: `runMain graft.tools.JobProbe <sfDir> name [name ...]`.
  * Prints one line per job (wall ms, task-time ms, #tasks, callsite)
  * plus a per-query total and the residual (wall time outside any job:
  * planning, driver work, collect overhead).
  */
object JobProbe {
  final case class JobRec(id: Int, var start: Long = 0L, var end: Long = 0L,
    var tasks: Int = 0, var taskMs: Long = 0L, var desc: String = "")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q_training_data_v3")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.silenceCheckpointReleaseWarns()
    try SparkEntry.queries.headOption.foreach(_._2(spark, sfDir).count())
    catch { case _: Throwable => }
    try graft.Bench.warmSparkMl(spark) catch { case _: Throwable => }

    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val r = JobRec(js.jobId, start = js.time)
        r.desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))
            .orElse(Option(p.getProperty("callSite.short")))).getOrElse("")
        jobs.synchronized { jobs(js.jobId) = r }
        js.stageIds.foreach(sid => stageToJob.synchronized {
          stageToJob(sid) = js.jobId })
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(je.jobId).foreach(_.end = je.time) }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        stageToJob.synchronized { stageToJob.get(info.stageId) }.foreach { jid =>
          jobs.synchronized {
            jobs.get(jid).foreach { r =>
              r.tasks += info.numTasks
              r.taskMs += info.taskMetrics.executorRunTime
            }
          }
        }
      }
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // one warm run (codegen/footers), then the profiled run
      try GraftSession.releasingScratch(spark) { fn(spark, sfDir).count(); () }
      catch { case e: Throwable => println(s"$name warm run failed: $e") }
      jobs.synchronized { jobs.clear() }
      stageToJob.synchronized { stageToJob.clear() }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      GraftSession.releasingScratch(spark) { fn(spark, sfDir).count(); () }
      val wallMs = (System.nanoTime() - t0) / 1e6
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(s"\n===== JOBPROBE $name wall=${wallMs.round} ms =====")
      var jobWall = 0L
      var smallW = 0L
      var smallN = 0
      jobs.values.foreach { r =>
        val w = math.max(0L, r.end - r.start)
        jobWall += w
        if (w >= 100 || r.taskMs >= 400)
          println(f"  job ${r.id}%4d wall=${w}%6d ms taskTime=${r.taskMs}%7d ms tasks=${r.tasks}%4d  ${r.desc}")
        else { smallW += w; smallN += 1 }
      }
      println(f"  (+ $smallN small jobs totalling $smallW ms wall)")
      println(f"  TOTAL jobs=${jobs.size} jobWall=${jobWall} ms residual(driver/planning)=${wallMs.round - jobWall} ms")
    }
    spark.stop()
  }
}
