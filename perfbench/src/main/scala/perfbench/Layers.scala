package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, each averaged per traced step
  * unless its name says otherwise. */
object Layers {

  def perLayer(timed: Seq[Main.Timed],
      footprints: Seq[Main.Footprint], w: Workload,
      coldSubmitSeconds: Double): Seq[(String, Double, String)] = {
    val traced = timed.filter(_.traced)
    val n = math.max(footprints.size, 1).toDouble
    val spans = Trace.allSpans
    val opSpans = spans.filter(_.name == "op").map(s => s.op -> s).toMap
    // every job that started inside a traced step belongs to it
    val toWallNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val jobs = Trace.jobs.values.asScala.toSeq.flatMap { j =>
      val startNs = j.start * 1000000L + toWallNs
      opSpans.values.find(s => startNs >= s.start - 5000000L && startNs <= s.end)
        .map(s => (s.op, j, startNs, j.end * 1000000L + toWallNs))
    }
    def jobSum(f: Trace.JobRec => Double) = jobs.map(x => f(x._2)).sum / n
    val wall = (j: Trace.JobRec) => math.max(0L, j.end - j.start) / 1000.0
    val residual = opSpans.values.map { s =>
      Trace.selfSeconds(s, jobs.filter(_._1 == s.op).map(x => (x._3, x._4)))
    }.sum / n
    val totalJobWall = jobs.map(x => wall(x._2)).sum
    val unattributed = jobs.filter(_._2.module.isEmpty).map(x => wall(x._2)).sum

    val spark_ = Seq(
      ("spark.jobs", jobs.size / n, "count"),
      ("spark.task_run_s", jobSum(_.runMs / 1000.0), "s"),
      ("spark.task_deser_s", jobSum(_.deserMs / 1000.0), "s"),
      ("spark.task_cpu_s", jobSum(_.cpuNs / 1e9), "s"),
      ("spark.driver_residual_s", residual, "s"),
      ("spark.shuffle_write_mb", jobSum(_.shuffleWriteBytes / 1e6), "MB"),
      ("spark.spill_mb", jobSum(_.spillBytes / 1e6), "MB"),
      ("spark.single_task_stage_s", jobSum(_.singleTaskStageMs / 1000.0), "s"),
      ("spark.unattributed_job_wall_share",
        if (totalJobWall == 0) 0.0 else unattributed / totalJobWall, "share"))

    val modules = Trace.modules.flatMap { m =>
      val mine = jobs.filter(_._2.module.contains(m)).map(_._2)
      val self = Trace.sampler.selfSeconds.asScala.collect { case ((_, `m`), s) => s }.sum
      Seq(
        (s"$m.jobs", mine.size / n, "count"),
        (s"$m.job_wall_s", mine.map(wall).sum / n, "s"),
        (s"$m.task_run_s", mine.map(_.runMs / 1000.0).sum / n, "s"),
        (s"$m.self_s", self / n, "s"))
    }

    def spanMean(name: String) = {
      val xs = spans.filter(_.name == name).map(_.seconds)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val c = w.counters
    val inBytes = footprints.map(f => w.inputBytes(f.i)).sum
    val outBytes = footprints.map(_.bytes).sum
    val untracedCycles = cycleSeconds(timed.filter(!_.traced), w)
    val tracedCycles = cycleSeconds(traced, w)
    val overhead =
      if (untracedCycles.isEmpty || tracedCycles.isEmpty) 0.0
      else Stats.median(tracedCycles) / Stats.median(untracedCycles) - 1

    spark_ ++ modules ++ Seq(
      ("meta.bytes_read_per_byte_appended", c.getOrElse("meta.bytes_read_per_byte_appended", 0.0), "ratio"),
      ("sinks.bytes_written_mb", outBytes / 1e6 / n, "MB"),
      ("sinks.files_written", footprints.map(_.files).sum / n, "count"),
      ("sinks.write_amplification", if (inBytes == 0) 0.0 else outBytes.toDouble / inBytes, "ratio"),
      ("merge.upsert_s", spanMean("merge.upsert"), "s"),
      ("merge.replicate_s", spanMean("merge.replicate"), "s"),
      ("merge.compact_s", spanMean("merge.compact"), "s"),
      ("merge.commit_attempts_per_commit", c.getOrElse("merge.commit_attempts_per_commit", 0.0), "ratio"),
      ("merge.shards_compacted", c.getOrElse("merge.shards_compacted", 0.0), "count"),
      ("scratch.leaked_rdds", footprints.map(_.leakedRdds).sum / n, "count"),
      ("pipeline.cold_submit_s", coldSubmitSeconds, "s"),
      ("trace.overhead_share", overhead, "share"))
  }

  /** Seconds of each complete cycle, in run order. */
  def cycleSeconds(ts: Seq[Main.Timed], w: Workload): Seq[Double] =
    ts.groupBy(_.cycle).toSeq.sortBy(_._1).map(_._2)
      .filter(_.size == w.stepsPerCycle).map(_.map(_.seconds).sum)
}
