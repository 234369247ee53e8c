package graft.pipeline

import java.security.SecureRandom
import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.json4s.JsonDSL._
import org.json4s._

import graft.GraftSession
import graft.meta.RunLedger
import graft.ops._
import graft.sinks.Sinks
import graft.sources.{Footers, Scan}
import graft.spec.{ObjectSpec, SpecRegistry}

/** The pipeline DAG (SURVEY §2.12 ≙ `flows/sf_etl_orchestrator_flow.py:85-250`):
  *
  * {{{
  * extract (once)
  *   ├─ ETL branch (sequential): process → load_json           [strict]
  *   └─ QA branch (parallel):
  *        start_gate → {schema, nonempty}
  *        → {dedup, profile, parquet snapshot}  gated on BOTH prechecks
  *        → drift(rows from nonempty)                          [advisory]
  * }}}
  *
  * The extract result is materialized once and shared by both branches
  * (the reference's DAG-level common-subexpression reuse, `Readme.md:27`);
  * the branches, and the QA legs, run as [[GraftSession.concurrently]]
  * legs over the shared session — Spark's scheduler interleaves the
  * jobs. Error policy is two-tier: ETL failures always raise (cancelling
  * the QA branch), QA failures are advisory unless `failOnQaError`
  * (`flow:91,163-171`).
  *
  * Where a run's row counts come from: raw's is counted while raw is
  * written ([[materializeRaw]]) and feeds the non-empty gate, drift and
  * the ETL's empty short-circuit; the processed CSV's rows are counted
  * while it is written; the ledger's recounts read the artifacts on disk
  * ([[recordMetadata]]) without a Spark job.
  */
object Orchestrator {

  final case class RunOptions(
      limit: Option[Int] = Some(100),
      timestampRaw: Boolean = true,
      failOnQaError: Boolean = false,
      driftThreshold: Double = 0.5,
      dedupKey: String = "Id",
      /** Thread bound for the QA branch's concurrent legs. */
      qaParallelism: Int = 8,
      /** Retry back-offs. Defaults are the reference's task decorators:
        * extract = 3 attempts × 10 s (`extract.py:61-62`), process (and
        * the QA tasks, which share its policy) = 2 × 5 s
        * (`process.py:56`). Tests override to 0 to stay fast. */
      extractRetryDelayMs: Long = 10000L,
      processRetryDelayMs: Long = 5000L)

  final case class RunReport(
      objectName: String,
      runId: String,
      rawPath: String,
      processedCsv: String,
      outputJson: String,
      qaArtifacts: Map[String, String],
      taskStates: Map[String, String],
      driftAlert: Option[String],
      rawRows: Long,
      processedRows: Long,
      jsonRecords: Long,
      durationSeconds: Double)

  /** Simple bounded retry (≙ Prefect task retries, `extract.py:61-62`,
    * `process.py:56`). */
  def retry[T](attempts: Int, delayMs: Long)(body: => T): T = {
    // The body runs once per attempt and a success returns at once. So
    // this is a while loop, not a foreach closure: `return` inside a
    // lambda is a NonLocalReturnControl throwable, which the catch would
    // take for a failed attempt. NonFatal keeps control-flow and fatal
    // throwables out of the retry path.
    val n = math.max(attempts, 1)
    var last: Throwable = null
    var i = 0
    while (i < n) {
      try return body
      catch {
        case scala.util.control.NonFatal(e) =>
          last = e
          // a retried-then-successful attempt is otherwise invisible
          // (the task still reports COMPLETED) — surface it
          System.err.println(s"[graft retry] attempt ${i + 1}/$n failed: $e")
          if (i < n - 1 && delayMs > 0) Thread.sleep(delayMs)
      }
      i += 1
    }
    throw last
  }

  /** Artifact path registry for one run (≙ `utils/paths.py:15-52`). */
  def buildPaths(baseDir: String, objectName: String): Map[String, String] = Map(
    "raw" -> s"$baseDir/raw/$objectName",
    "processed_csv" -> s"$baseDir/processed/$objectName/summary.csv",
    "output_json" -> s"$baseDir/output/$objectName/summary.json",
    "dedup_csv" -> s"$baseDir/output/$objectName/deduplicated.csv",
    "profile_json" -> s"$baseDir/output/$objectName/profile.json",
    "parquet_snapshot" -> s"$baseDir/output/$objectName/snapshot.parquet",
    "rowcount_txt" -> s"$baseDir/output/$objectName/rowcount.txt",
    "schema_report" -> s"$baseDir/output/$objectName/schema_report.json",
    "runs_jsonl" -> s"$baseDir/meta/runs.jsonl",
    "latest_json" -> s"$baseDir/meta/latest_run.json",
    "global_json" -> s"$baseDir/meta/all_runs_pretty.json")

  /** Timestamped raw path + run id — clobber-safe concurrent writes
    * (T4 ≙ `flow:30-47`). */
  private def timestampedRaw(base: String, runId: String): String = {
    val ts = ZonedDateTime.now(ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss"))
    s"${base}_${ts}_$runId"
  }

  /** Raw materialization: the parquet hand-off both branches read back,
    * and its row count. The rows are counted while written
    * ([[Sinks.counted]]) and read back under the schema they were written
    * with, which spares a footer-inference job. */
  private[pipeline] def materializeRaw(spark: SparkSession, scanned: DataFrame,
      rawPath: String): (DataFrame, Long) = {
    val rows = Sinks.counted(scanned)(Sinks.parquetSnappy(_, rawPath))
    (spark.read.schema(scanned.schema).parquet(rawPath), rows)
  }

  private val runIds = new SecureRandom()

  /** 16 hex characters (64 random bits). The ledger keeps the last record
    * per run id, so ids must not collide over a rotation's worth of runs
    * (~70k records): at 32 bits they do with ~43% odds. */
  private def newRunId(): String = f"${runIds.nextLong()}%016x"

  /** Runs the full DAG for one object over a source relation.
    *
    * @param source  the "remote relation" standing in for Salesforce —
    *                typically `Scan.table(spark, sfDir, table)`.
    */
  def run(
      spark: SparkSession,
      objectName: String,
      source: DataFrame,
      baseDir: String,
      opts: RunOptions = RunOptions(),
      specOverride: Option[ObjectSpec] = None): RunReport = {

    val t0 = System.nanoTime()
    val spec = specOverride.getOrElse(SpecRegistry(objectName))
    val runId = newRunId()
    val paths = buildPaths(baseDir, objectName)
    val rawPath =
      if (opts.timestampRaw) timestampedRaw(paths("raw"), runId) else paths("raw")

    val states = scala.collection.concurrent.TrieMap.empty[String, String]
    def recordState[T](name: String)(body: => T): T =
      Try(body) match {
        case Success(v) => states(name) = "COMPLETED"; v
        case Failure(e) => states(name) = "FAILED"; throw e
      }

    // ---- extract once (S1-S4; retried 3×10s ≙ extract.py:61-62) ----
    val (raw, rawRows) = recordState("extract") {
      val scanned = Scan.specScan(source, spec, opts.limit)
      retry(3, opts.extractRetryDelayMs)(materializeRaw(spark, scanned, rawPath))
    }

    // ---- ETL branch (strict; process retried 2×5s ≙ process.py:56) ----
    def etl(): (Long, Long) = {
      val (processed, written) = recordState("process") {
        retry(2, opts.processRetryDelayMs) {
          val out = SpecAggregate.aggregate(spark, spec, raw, empty = rawRows == 0)
          (out, Sinks.counted(out)(Sinks.csv(_, paths("processed_csv"), singleFile = true)))
        }
      }
      val n = recordState("load_json") {
        // the reference's load task re-reads the PROCESSED CSV from disk
        // (`load_csv_to_json`, tasks/load.py:62) — keep that file
        // contract: the JSON is built from the materialized artifact,
        // not the in-memory frame. Zero rows written is the empty array.
        Sinks.jsonRecords(
          if (written == 0) Scan.emptyRelation(spark, processed.schema)
          else Scan.inferredCsv(spark, paths("processed_csv")),
          paths("output_json"))
      }
      // processed row count == JSON record count by construction (same
      // artifact, just collected) — don't relaunch the aggregate job
      (n, n)
    }

    // ---- QA branch (advisory; ≙ flow:145-157): at most
    // `qaParallelism` of its legs run at a time ----
    def qa(): (Map[String, Try[String]], Option[String]) = {
      states("start_gate") = "COMPLETED" // Q1: no-op barrier
      // both prechecks are driver-side, so they run in turn
      recordState("precheck_schema") {
        val report = Gates.schemaGate(raw, spec.requiredCols)
        Sinks.textScalar(
          org.json4s.jackson.JsonMethods.pretty(
            ("columns_present" -> report.columnsPresent) ~ ("missing" -> report.missing)),
          paths("schema_report"))
      }
      val rows = recordState("precheck_nonempty") { Gates.nonEmptyGate(rawRows) }

      // each task is advisory on its own: a failure is its result
      def task(name: String)(body: => String): () => Try[String] =
        () => Try(recordState(name)(retry(2, opts.processRetryDelayMs)(body)))
      val Seq(dedup, profile, snapshot) =
        GraftSession.concurrently(spark, opts.qaParallelism)(Seq(
          task("dedup") {
            val deduped =
              if (raw.columns.contains(opts.dedupKey))
                Dedup.keepFirst(raw, Seq(opts.dedupKey),
                  raw.columns.filterNot(_ == opts.dedupKey).map(col).toSeq)
              else raw
            Sinks.csv(Normalize.temporalsToString(deduped), paths("dedup_csv"), singleFile = true)
            paths("dedup_csv")
          },
          task("profile") {
            val profiles = Profile.profile(raw)
            val json = JArray(profiles.map { p =>
              ("column" -> p.name) ~ ("dtype" -> p.dtype) ~
                ("null_count" -> p.nullCount) ~ ("n_unique" -> p.nUnique) ~
                ("top_values" -> JArray(p.topValues.map { case (v, c) =>
                  ("value" -> Option(v)) ~ ("count" -> c): JValue
                }.toList))
            }.toList)
            Sinks.textScalar(org.json4s.jackson.JsonMethods.pretty(json), paths("profile_json"))
            paths("profile_json")
          },
          task("snapshot_parquet") {
            Sinks.parquetCopy(spark, rawPath, paths("parquet_snapshot"))
            paths("parquet_snapshot")
          }))

      val drift = recordState("drift") {
        Drift.checkRowcountDrift(rows, paths("rowcount_txt"), opts.driftThreshold)
      }
      (Map("dedup" -> dedup, "profile" -> profile, "snapshot" -> snapshot), drift.alert)
    }

    // ---- both branches beside each other, two-tier strictness
    // (flow:162-171): an ETL failure cancels the QA branch and
    // propagates; a QA failure never stops the ETL branch and raises
    // only under failOnQaError ----
    val ((processedRows, jsonN), qaOutcome) =
      GraftSession.concurrently(spark)(etl(), Try(qa()))
    val (qaResults, driftAlert) = qaOutcome match {
      case Success(v) => v
      case Failure(_) if !opts.failOnQaError => (Map.empty[String, Try[String]], None)
      case Failure(e) => throw e
    }
    if (opts.failOnQaError)
      qaResults.collect { case (_, Failure(e)) => throw e }

    val durationS = (System.nanoTime() - t0) / 1e9
    val report = RunReport(
      objectName, runId, rawPath, paths("processed_csv"), paths("output_json"),
      qaResults.collect { case (k, Success(p)) => k -> p },
      states.toMap, driftAlert, rawRows, processedRows, jsonN, durationS)

    recordMetadata(spark, report, paths)
    report
  }

  /** Q6: run-metadata recorder — payload with params, artifact paths,
    * RE-counted artifact rows (`metadata.py:195-197`), task states and
    * timing; appended to the JSONL ledger + pretty projections, with
    * keep-last upkeep (Q7, [[RunLedger.appendKeepLast]]). All three counts
    * come from the artifacts on disk, not from in-memory return values —
    * a corrupted or clobbered file shows up as a count mismatch in the
    * ledger, exactly as the reference's `_safe_count_json` does
    * (`tasks/metadata.py:35-42,195-197`). Each recount catches its own
    * failure as -1, so a missing or corrupt artifact never stops the
    * other counts. Where each count comes from:
    *  - raw: the row counts in the data files' footers
    *    ([[Footers.parquetRows]]), read on the driver;
    *  - processed CSV: header/multiLine reading, as [[Scan.csv]] reads
    *    it, parsed on the driver ([[Footers.csvRows]]) — the aggregate
    *    is O(groups) rows;
    *  - JSON: the records array (K2) parsed on the driver, O(groups) too. */
  def recordMetadata(
      spark: SparkSession, report: RunReport, paths: Map[String, String]): Unit = {
    def safeCount(f: => Long): Long = Try(f).getOrElse(-1L)
    val rawCount = safeCount(Footers.parquetRows(spark, report.rawPath))
    val processedCount = safeCount(Footers.csvRows(spark, report.processedCsv))
    val jsonCount = safeCount {
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(report.outputJson))
      org.json4s.jackson.JsonMethods.parse(txt) match {
        case JArray(xs) => xs.length.toLong
        case _ => -1L
      }
    }

    val record: JObject =
      ("run_id" -> report.runId) ~
        ("object" -> report.objectName) ~
        ("timestamp" -> java.time.Instant.now().toString) ~
        ("raw_path" -> report.rawPath) ~
        ("processed_csv" -> report.processedCsv) ~
        ("output_json" -> report.outputJson) ~
        ("qa_artifacts" -> report.qaArtifacts) ~
        ("task_states" -> report.taskStates) ~
        ("raw_rows_recounted" -> rawCount) ~
        ("processed_rows_recounted" -> processedCount) ~
        ("json_records" -> jsonCount) ~
        ("json_records_loaded" -> report.jsonRecords) ~
        ("drift_alert" -> report.driftAlert) ~
        ("duration_seconds" -> report.durationSeconds)

    RunLedger.appendKeepLast(paths("runs_jsonl"), record)
    RunLedger.writePrettyLatest(paths("latest_json"), record)
    RunLedger.upsertGlobalPretty(paths("global_json"), record)
  }
}
