package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --root <scratch dir> --cores <n> [--trace-out <spans.jsonl>]
  * }}}
  *
  * The inputs are generated once; the starting state is then restored
  * three times, with one warm-up cycle after the first restore, and the
  * median restore plus the warm-up is `setup_s`. The measured window then
  * runs whole cycles, closed loop with one client, until `--seconds` of
  * step time has passed. Each step's output is checked after its timing.
  * With `--trace 1` cycles alternate untraced and traced; end-to-end
  * numbers come from the untraced ones, per-layer numbers from the traced
  * ones, and their difference is the tracing overhead.
  */
object Main {

  final case class Timed(i: Int, cycle: Int, isOp: Boolean, seconds: Double, rows: Long,
      traced: Boolean, failure: Option[String])

  /** What a traced step left behind: files and bytes it wrote under the
    * run's data root, and persisted RDDs it did not release. */
  final case class Footprint(i: Int, files: Int, bytes: Long, leakedRdds: Int)

  /** Runs one step: times it, then runs its check. A step that throws or
    * fails its check is recorded as failed, and its time is kept but
    * never counted as a latency sample. */
  def runStep(i: Int, cycle: Int, traced: Boolean)(body: => Step): Timed = {
    val t0 = System.nanoTime()
    val step = scala.util.Try(if (traced) Trace.tracedOp(i, "op")(body) else body)
    val secs = (System.nanoTime() - t0) / 1e9
    step match {
      case scala.util.Success(s) =>
        val failure = scala.util.Try(s.check()).fold(e => Some(s"check threw $e"), identity)
        Timed(i, cycle, s.isOp, secs, s.rows, traced, failure)
      case scala.util.Failure(e) =>
        Timed(i, cycle, isOp = true, secs, 0L, traced, Some(s"step threw $e"))
    }
  }

  /** A step that throws and a step whose check fails must both come out
    * failed; neither may pass as a (fast) success. */
  def selfCheck(): Unit = {
    val thrown = runStep(0, 0, traced = false)(throw new IllegalStateException("injected"))
    val wrong = runStep(1, 0, traced = false)(Step(isOp = true, 1L, () => Some("injected")))
    val fine = runStep(2, 0, traced = false)(Step(isOp = true, 1L, () => None))
    require(thrown.failure.nonEmpty && wrong.failure.nonEmpty && fine.failure.isEmpty,
      s"harness self-check failed: $thrown / $wrong / $fine")
    require(latencies(Seq(thrown, wrong, fine)) == Seq(fine.seconds),
      "harness self-check failed: a failed step counted as a latency sample")
  }

  /** Untimed cycles before the window; op times fall most over the first
    * cycle (JIT compilation) and keep falling slowly after it. */
  val warmupCycles = 1

  def latencies(ts: Seq[Timed]): Seq[Double] =
    ts.filter(t => t.isOp && t.failure.isEmpty).map(_.seconds)

  private def arg(args: Map[String, String], k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))

  def main(argv: Array[String]): Unit = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_(0).startsWith("--")),
      s"arguments must be --flag value pairs: ${argv.mkString(" ")}")
    val args = argv.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val root = Paths.get(arg(args, "root")).toAbsolutePath
    val cores = arg(args, "cores").toInt
    selfCheck()

    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.silenceCheckpointReleaseWarns()
    if (trace) Trace.start(spark.sparkContext)

    val data = root.resolve("data")
    val w: Workload = workload match {
      case "etl_cron" => new Workloads.Etl(spark, data, seed, cores, Workloads.cronObjects,
        s => if (s.apiName == "OpportunityLineItem") 50000L else 2000L, ledgerRecords = 20000)
      case "cdc_upsert" => new Workloads.Cdc(spark, data, seed, baseRows = 50000L,
        batchRows = 2500L, maxBatches = 40, nShards = 8, compactEvery = 2,
        maxRecordsPerFile = 2000L, updatePct = 80, deletePct = 2)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up: after the inputs are generated, the starting state is
    // restored three times, with the warm-up cycle run on the first; the
    // median restore plus the warm-up is setup_s, and the measured window
    // starts from the third restore ----
    def timedSeconds(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val genSeconds = timedSeconds(w.generate())
    val firstPrep = timedSeconds(w.prepare())
    val warmSeconds = timedSeconds((1 to warmupCycles).foreach(_ => w.warmup()))
    val prepSeconds = firstPrep +: (1 to 2).map(_ => timedSeconds(w.prepare()))
    val setupSeconds = Stats.median(prepSeconds) + warmSeconds

    // ---- measured window: whole cycles ----
    val timed = mutable.ArrayBuffer[Timed]()
    val footprints = mutable.ArrayBuffer[Footprint]()
    var cycle = 0
    def measured(traced: Boolean) = timed.filter(_.traced == traced).map(_.seconds).sum
    while (measured(false) < seconds || (trace && measured(true) < seconds)) {
      val traced = trace && cycle % 2 == 1
      (0 until w.stepsPerCycle).foreach { j =>
        val i = cycle * w.stepsPerCycle + j
        val persisted = spark.sparkContext.getPersistentRDDs.size
        val start = System.currentTimeMillis()
        val t = runStep(i, cycle, traced)(w.step(i))
        timed += t
        if (traced) {
          Trace.drain(spark.sparkContext)
          val (files, bytes) = written(data, start)
          footprints += Footprint(i, files, bytes, spark.sparkContext.getPersistentRDDs.size - persisted)
        }
        t.failure.foreach(f => System.err.println(s"[perfbench] step $i failed: $f"))
      }
      cycle += 1
    }
    val finals = scala.util.Try(w.finalChecks()).fold(e => Seq(Some(s"final check threw $e")), identity)
    finals.flatten.foreach(f => System.err.println(s"[perfbench] final check failed: $f"))
    val untraced = timed.filter(!_.traced).toSeq
    spark.stop()
    args.get("trace-out").filter(_ => trace).foreach(p => Trace.write(Paths.get(p)))
    // the deployed unit, cold: one fresh submit process for one object
    val coldSubmit =
      if (trace && workload == "etl_cron") {
        val (secs, failure) = coldSubmitSeconds(root, data.resolve("src"), "Account", cores)
        failure.foreach(f => System.err.println(s"[perfbench] cold submit failed: $f"))
        timed += Timed(-1, -1, isOp = false, secs, 0L, traced = false, failure)
        secs
      } else 0.0
    val attempted = timed.size + finals.size
    val failed = timed.count(_.failure.nonEmpty) + finals.count(_.nonEmpty)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(untraced, w, setupSeconds)
      else Layers.perLayer(timed.toSeq, footprints.toSeq, w, coldSubmit)

    println(s"workload=$workload seed=$seed cores=$cores cycles=$cycle steps=${timed.size} " +
      s"op_samples=${latencies(untraced).size} failed_share=${failed.toDouble / attempted} " +
      f"generate_s=$genSeconds%.3f setup_prep_s=${prepSeconds.map(x => f"$x%.3f").mkString(",")} " +
      f"warmup_s=$warmSeconds%.3f")
    println("cycle seconds: " + Layers.cycleSeconds(untraced, w).map(x => f"$x%.3f").mkString(" "))
    metrics.foreach { case (n, v, u) => println(f"  $n%-40s $v%14.6f $u") }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${jnum(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }

  /** Wall time of one fresh `SubmitMain` process over a generated
    * table, and its failure, if any. */
  def coldSubmitSeconds(root: Path, srcDir: Path, table: String, cores: Int): (Double, Option[String]) = {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xm") || a == "-XX:+AlwaysPreTouch") :+ "-Xmx2g"
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++ jvm ++ Seq(
      "-cp", sys.props("java.class.path"), "graft.pipeline.SubmitMain",
      "--object", table, "--base-dir", root.resolve("submit").toString,
      "--sf-dir", srcDir.toString, "--table", table, "--master", s"local[$cores]")
    val log = root.resolve("submit.log").toFile
    val t0 = System.nanoTime()
    val p = new ProcessBuilder(cmd: _*).directory(root.toFile)
      .redirectErrorStream(true).redirectOutput(log).start()
    val done = p.waitFor(150, java.util.concurrent.TimeUnit.SECONDS)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!done) { p.destroyForcibly().waitFor(); (secs, Some("submit did not finish in 150 s")) }
    else if (p.exitValue != 0) (secs, Some(s"submit exited ${p.exitValue}"))
    else (secs, None)
  }

  def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Files and bytes under `root` written at or after `sinceMs`. */
  def written(root: Path, sinceMs: Long): (Int, Long) = {
    val s = Files.walk(root)
    try {
      val fs = s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        Files.getLastModifiedTime(p).toMillis >= sinceMs).toSeq
      (fs.size, fs.map(Files.size).sum)
    } finally s.close()
  }

  /** The end-to-end metrics over the untraced cycles. A cycle's time is
    * the sum, over its step positions, of each position's median across
    * the measured cycles: one slow step (a stall of the shared host, a
    * late compilation) moves it only when it repeats. */
  def endToEnd(ts: Seq[Timed], w: Workload, setupSeconds: Double): Seq[(String, Double, String)] = {
    val positions = ts.groupBy(_.i % w.stepsPerCycle).values
    val cycle = positions.map(p => Stats.median(p.map(_.seconds))).sum
    val rowsPerCycle = positions.map(_.head.rows).sum
    Seq(
      ("cycle_s", cycle, "s"),
      ("rows_per_s", rowsPerCycle / cycle, "rows/s"),
      ("op_p50_s", Stats.median(latencies(ts)), "s"),
      ("setup_s", setupSeconds, "s"),
      ("peak_rss_mb", peakRssMb(), "MB"))
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
