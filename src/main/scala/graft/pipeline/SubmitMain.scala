package graft.pipeline

import org.apache.spark.sql.internal.SQLConf

import graft.GraftSession
import graft.sources.Scan

/** The deployment unit: a `spark-submit`-able main running the full
  * orchestrated DAG for one object, on a schedule owned by an EXTERNAL
  * scheduler — the Spark re-expression of the reference's served flow
  * (`deployments/serve_15min.py:5-14`: an every-15-minutes cron with
  * parameters object_name / timestamp_raw / fail_on_qa_error).
  *
  * The scheduler layer stays outside the JVM exactly as in the
  * reference: `deployments/serve_15min.py` (this repo) is the Prefect
  * wrapper serving this submit on the same cron, and
  * `deployments/crontab.example` is the bare-cron spelling. In-process
  * cadence (for tests / single-JVM demos) remains
  * [[ScheduledRunner.runEvery]] via `--iterations`/`--interval-ms`.
  *
  * Usage:
  * {{{
  * spark-submit --class graft.pipeline.SubmitMain graft.jar \
  *   --object Opportunity --base-dir /data/graft \
  *   [--sf-dir /root/testdata/sf0.01 --table orders]   # parquet source
  *   [--rows 5000]                                     # or: sim DSv2 source
  *   [--limit 100] [--timestamp-raw true] [--fail-on-qa false] \
  *   [--iterations 1] [--interval-ms 900000]
  * }}}
  *
  * With `--sf-dir/--table` the source is the testdata parquet relation;
  * otherwise the DSv2 connector ([[graft.sources.v2.SalesforceSimSource]])
  * provides the remote-org stand-in (swap `backend=live` for the wire).
  * Exit code 1 when any run leaves a failed task state, so the external
  * scheduler's failure handling sees pipeline failures.
  */
object SubmitMain {

  private val knownFlags = Set("object", "base-dir", "sf-dir", "table",
    "rows", "limit", "timestamp-raw", "fail-on-qa", "iterations",
    "interval-ms", "master")

  /** Strict `--flag value` parsing: a deployment entry must fail loudly
    * on a typo'd flag, a forgotten value, or a flag where a value should
    * be — silently dropping an argument turns a misconfigured cron into
    * a silently-default pipeline. */
  private def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"arguments must be --flag value pairs, got odd count: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) =>
        require(k.startsWith("--"), s"expected --flag, got '$k'")
        require(!v.startsWith("--"), s"flag $k is missing its value (next token: '$v')")
        val key = k.drop(2)
        require(knownFlags(key),
          s"unknown flag --$key (known: ${knownFlags.toSeq.sorted.mkString(", ")})")
        key -> v
    }.toMap
  }

  /** The tick's master and shuffle width. Launched bare (no `--master`
    * and no `spark.master`: sbt runMain / IDE) it runs `local[*]` at one
    * shuffle partition per driver core. Given a master (`--master`, else
    * spark-submit's), the width is spark-submit's
    * `spark.sql.shuffle.partitions`, else Spark's default: on a cluster
    * the driver's cores say nothing of the executors', and AQE can only
    * merge partitions, never split them. */
  private[pipeline] def sessionShape(master: Option[String],
      props: Map[String, String]): (String, Int) =
    master.orElse(props.get("spark.master")) match {
      case None => ("local[*]", Runtime.getRuntime.availableProcessors())
      case Some(m) => (m, props.get(SQLConf.SHUFFLE_PARTITIONS.key).map(_.toInt)
        .getOrElse(SQLConf.SHUFFLE_PARTITIONS.defaultValue.get))
    }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val objectName = a.getOrElse("object",
      throw new IllegalArgumentException("--object <ApiName> is required"))
    val baseDir = a.getOrElse("base-dir",
      throw new IllegalArgumentException("--base-dir <dir> is required"))

    val (master, width) = sessionShape(a.get("master"), sys.props.toMap)
    val spark = GraftSession.builder(master, width)
      .appName(s"graft-$objectName")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val source = () => (a.get("sf-dir"), a.get("table")) match {
      case (Some(dir), Some(table)) => Scan.table(spark, dir, table)
      case (None, None) =>
        spark.read.format("graft.sources.v2.SalesforceSimSource")
          .option("object", objectName)
          .option("rows", a.getOrElse("rows", "5000"))
          .load()
      case _ => throw new IllegalArgumentException(
        "--sf-dir and --table must be given together")
    }

    val opts = Orchestrator.RunOptions(
      limit = a.get("limit").map(_.toInt),
      timestampRaw = a.getOrElse("timestamp-raw", "true").toBoolean,
      failOnQaError = a.getOrElse("fail-on-qa", "false").toBoolean)

    // Exit semantics delegate to the orchestrator's two-tier error
    // policy: Orchestrator.run THROWS on strict-task failure (and on QA
    // failure when failOnQaError) — any report that returns normally
    // carries at most advisory QA FAILED states, which by policy do not
    // fail the deployment. So: exception → controlled exit 1; normal
    // return → report lines + exit 0.
    try {
      val report = ScheduledRunner.runEvery(
        spark, objectName, source, baseDir,
        intervalMs = a.getOrElse("interval-ms", "0").toLong,
        iterations = a.getOrElse("iterations", "1").toInt,
        opts = opts)
      report.runs.foreach { r =>
        println(s"""{"object":"${r.objectName}","run_id":"${r.runId}",""" +
          s""""raw_rows":${r.rawRows},"processed_rows":${r.processedRows},""" +
          s""""json_records":${r.jsonRecords},""" +
          s""""states":"${r.taskStates.toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString(",")}",""" +
          s""""duration_sec":${r.durationSeconds}}""")
      }
      spark.stop()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft submit] pipeline failed: $e")
        spark.stop()
        sys.exit(1)
    }
  }
}
