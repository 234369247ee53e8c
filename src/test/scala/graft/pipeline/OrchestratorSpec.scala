package graft.pipeline

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

import graft.SparkSpec
import graft.meta.RunLedger
import graft.ops.Gates
import graft.spec.ObjectSpec

class OrchestratorSpec extends SparkSpec {
  import spark.implicits._

  private def source = Seq(
    ("o1", "OPEN", 10.0), ("o2", "OPEN", 20.0), ("o3", "CLOSED", 5.0),
    ("o3", "CLOSED", 5.0) // duplicate Id for dedup QA
  ).toDF("Id", "Status", "TotalAmount")

  private val orderSpec = ObjectSpec(
    "Order", Seq("Id", "Status", "TotalAmount"), Seq("Id", "Status"),
    Seq("Status"), ListMap("TotalAmount" -> Seq("sum", "mean", "count")))

  /** Spark jobs one run of [[source]] may start: the run's fixed cost,
    * which dominates at cron sizes, may not creep back up. */
  private val JobBudget = 13

  private def fullDag(opts: Orchestrator.RunOptions): Unit = {
    val base = Files.createTempDirectory("orch").toString
    val report = Orchestrator.run(spark, "Order", source, base, opts,
      specOverride = Some(orderSpec))

    assert(report.rawRows == 4)
    assert(report.processedRows == 2) // OPEN, CLOSED
    assert(report.jsonRecords == 2)
    assert(Files.exists(Paths.get(report.processedCsv)))
    val json = new String(Files.readAllBytes(Paths.get(report.outputJson)), "UTF-8")
    assert(json.trim.startsWith("[") && json.contains("sum_totalamount"))
    assert(report.taskStates.get("extract").contains("COMPLETED"))
    assert(report.taskStates.get("process").contains("COMPLETED"))
    assert(report.taskStates.get("dedup").contains("COMPLETED"))
    assert(report.taskStates.get("drift").contains("COMPLETED"))
    assert(report.qaArtifacts.keySet == Set("dedup", "profile", "snapshot"))

    val ledger = RunLedger.read(s"$base/meta/runs.jsonl")
    assert(ledger.size == 1)

    // second run: drift state now exists, ledger grows, dedupe keeps both ids
    val report2 = Orchestrator.run(spark, "Order", source, base, opts,
      specOverride = Some(orderSpec))
    assert(report2.driftAlert.isEmpty) // same rowcount → no drift
    assert(Seq(report, report2).forall(_.runId.matches("[0-9a-f]{16}")))
    assert(RunLedger.read(s"$base/meta/runs.jsonl").map(_ \ "run_id") ==
      Seq(report.runId, report2.runId).map(org.json4s.JString(_)))
  }

  test("full DAG: artifacts written, states COMPLETED, ledger appended") {
    fullDag(Orchestrator.RunOptions(limit = None, timestampRaw = false))
  }

  test("full DAG with qaParallelism = 1: the QA legs run one at a time, same result") {
    fullDag(Orchestrator.RunOptions(limit = None, timestampRaw = false, qaParallelism = 1))
  }

  test("a failing process step cancels the QA branch: no QA job outlives run") {
    val base = Files.createTempDirectory("orchFail").toString
    // a regular file where the processed-CSV directory must go: the
    // process step computes its aggregate, then fails to write it
    Files.createDirectories(Paths.get(base, "processed"))
    Files.write(Paths.get(base, "processed", "Order"), Array[Byte](1))
    val e = intercept[Exception] {
      Orchestrator.run(spark, "Order", source, base,
        Orchestrator.RunOptions(limit = None, timestampRaw = false,
          processRetryDelayMs = 0L),
        specOverride = Some(orderSpec))
    }
    assert(!String.valueOf(e.getMessage).toLowerCase.contains("cancel"),
      s"expected the process step's own failure, got $e")
    assert(org.apache.spark.scheduler.DagProbe.activeJobs(spark.sparkContext) == 0,
      "a QA job was still running when run threw")
  }

  test("QA failures are advisory by default, strict with failOnQaError") {
    val base = Files.createTempDirectory("orch2").toString
    val badSpec = orderSpec.copy(requiredCols = Seq("Id", "MissingCol"))
    // advisory: pipeline completes despite schema-gate failure
    val report = Orchestrator.run(spark, "Order", source, base,
      Orchestrator.RunOptions(limit = None, timestampRaw = false),
      specOverride = Some(badSpec))
    assert(report.taskStates.get("precheck_schema").contains("FAILED"))
    assert(report.processedRows == 2) // ETL branch unaffected
    // strict: the same failure propagates
    intercept[Exception] {
      Orchestrator.run(spark, "Order", source, base,
        Orchestrator.RunOptions(limit = None, timestampRaw = false, failOnQaError = true),
        specOverride = Some(badSpec))
    }
  }

  test("scheduled runner: N iterations accumulate ledger entries and drift state") {
    val base = Files.createTempDirectory("sched").toString
    val sched = ScheduledRunner.runEvery(spark, "Order", () => source, base,
      intervalMs = 0, iterations = 3,
      Orchestrator.RunOptions(limit = None, timestampRaw = true),
      specOverride = Some(orderSpec))
    assert(sched.runs.size == 3)
    assert(graft.meta.RunLedger.read(s"$base/meta/runs.jsonl").size == 3)
    // drift state existed from run 2 on: same rowcount → no alert
    assert(sched.runs.tail.forall(_.driftAlert.isEmpty))
    // timestamped raw paths: no clobbering across runs (T4)
    assert(sched.runs.map(_.rawPath).distinct.size == 3)
  }

  test("retry runs the body exactly once on success, retries only on real failure") {
    // regression: `return` inside a foreach closure compiles to a
    // NonLocalReturnControl throwable — a broad catch treated every
    // SUCCESS as a failed attempt, silently re-running the body
    // `attempts` times (and sleeping the delays) on every call
    var calls = 0
    assert(Orchestrator.retry(3, 0) { calls += 1; 42 } == 42)
    assert(calls == 1)

    var flaky = 0
    val out = Orchestrator.retry(3, 0) {
      flaky += 1
      if (flaky < 3) sys.error("transient")
      "ok"
    }
    assert(out == "ok" && flaky == 3)

    var always = 0
    val e = intercept[RuntimeException] {
      Orchestrator.retry(2, 0) { always += 1; sys.error("permanent") }
    }
    assert(e.getMessage == "permanent" && always == 2)
  }

  test("Q6: ledger json_records is recounted from the artifact, so tampering shows up") {
    import org.json4s._
    val base = Files.createTempDirectory("orchQ6").toString
    val paths = Orchestrator.buildPaths(base, "Order")
    val report = Orchestrator.run(spark, "Order", source, base,
      Orchestrator.RunOptions(limit = None, timestampRaw = false),
      specOverride = Some(orderSpec))

    def lastCounts(): (BigInt, BigInt) = {
      val JInt(n) = RunLedger.read(paths("runs_jsonl")).last \ "json_records"
      val JInt(l) = RunLedger.read(paths("runs_jsonl")).last \ "json_records_loaded"
      (n, l)
    }
    assert(lastCounts() == ((BigInt(2), BigInt(2)))) // artifact agrees with the load

    // tamper: clobber the JSON artifact down to one record and re-record
    Files.write(Paths.get(report.outputJson), """[{"status":"OPEN"}]""".getBytes("UTF-8"))
    Orchestrator.recordMetadata(spark, report, paths)
    assert(lastCounts() == ((BigInt(1), BigInt(2)))) // recount saw the tamper

    // corrupt: not a JSON array at all → -1 sentinel, not a crash
    Files.write(Paths.get(report.outputJson), "not json".getBytes("UTF-8"))
    Orchestrator.recordMetadata(spark, report, paths)
    assert(lastCounts()._1 == BigInt(-1))
  }

  test("a failed recount writes -1 without cancelling the other recounts") {
    import org.json4s._
    val base = Files.createTempDirectory("orchRecount").toString
    val paths = Orchestrator.buildPaths(base, "Order")
    val report = Orchestrator.run(spark, "Order", source, base,
      Orchestrator.RunOptions(limit = None, timestampRaw = false),
      specOverride = Some(orderSpec))
    Files.walk(Paths.get(report.rawPath)).sorted(java.util.Comparator.reverseOrder())
      .forEach(Files.delete(_))
    Orchestrator.recordMetadata(spark, report, paths)
    val last = RunLedger.read(paths("runs_jsonl")).last
    assert((last \ "raw_rows_recounted") == JInt(-1))
    assert((last \ "processed_rows_recounted") == JInt(2))
    assert((last \ "json_records") == JInt(2))
  }

  test("one run stays within its job budget; the parquet hand-off keeps the inferred schema") {
    val base = Files.createTempDirectory("orchJobs").toString
    val (_, jobs) = org.apache.spark.scheduler.DagProbe.jobsDuring(spark.sparkContext)(
      Orchestrator.run(spark, "Order", source, base,
        Orchestrator.RunOptions(limit = None, timestampRaw = false),
        specOverride = Some(orderSpec)))
    assert(jobs <= JobBudget, s"$jobs jobs for one run")

    val rawPath = s"$base/handoff"
    val (raw, rows) = Orchestrator.materializeRaw(spark, source, rawPath)
    assert(raw.schema == spark.read.parquet(rawPath).schema)
    assert(rows == 4) // counted while written
  }

  test("a zero-row extract fails precheck_nonempty and yields the spec-derived empty summary") {
    val base = Files.createTempDirectory("orchEmpty").toString
    val empty = source.limit(0)
    val opts = Orchestrator.RunOptions(limit = None, timestampRaw = false)
    val report = Orchestrator.run(spark, "Order", empty, base, opts,
      specOverride = Some(orderSpec))
    assert(report.taskStates.get("precheck_nonempty").contains("FAILED"))
    // the gate stops the QA branch before drift, as it always has
    assert(!report.taskStates.contains("drift"))
    assert(report.rawRows == 0 && report.processedRows == 0 && report.jsonRecords == 0)
    assert(new String(Files.readAllBytes(Paths.get(report.outputJson)), "UTF-8") == "[\n\n]")
    assert(graft.sources.Footers.csvRows(spark, report.processedCsv) == 0)
    val last = RunLedger.read(s"$base/meta/runs.jsonl").last
    assert((last \ "raw_rows_recounted") == org.json4s.JInt(0))
    assert((last \ "processed_rows_recounted") == org.json4s.JInt(0))
    val e = intercept[Gates.GateFailure] {
      Orchestrator.run(spark, "Order", empty, base, opts.copy(failOnQaError = true),
        specOverride = Some(orderSpec))
    }
    assert(e.getMessage == "No data to process")
  }

  test("a truncated raw part file never recounts as the old row count") {
    import org.json4s._
    val base = Files.createTempDirectory("orchTrunc").toString
    val paths = Orchestrator.buildPaths(base, "Order")
    val report = Orchestrator.run(spark, "Order", source, base,
      Orchestrator.RunOptions(limit = None, timestampRaw = false),
      specOverride = Some(orderSpec))
    val part = graft.sources.Footers.dataFiles(spark, report.rawPath).head
    val file = Paths.get(part.toUri)
    val bytes = Files.readAllBytes(file)
    Files.write(file, bytes.take(bytes.length / 2))
    Orchestrator.recordMetadata(spark, report, paths)
    val JInt(n) = RunLedger.read(paths("runs_jsonl")).last \ "raw_rows_recounted"
    assert(n != BigInt(report.rawRows))
  }

  test("the QA snapshot is a copy of raw's data files") {
    val base = Files.createTempDirectory("orchSnap").toString
    val opts = Orchestrator.RunOptions(limit = None, timestampRaw = false)
    def snapshotMatchesRaw(r: Orchestrator.RunReport): Unit = {
      val snap = spark.read.parquet(s"$base/output/Order/snapshot.parquet")
      val raw = spark.read.parquet(r.rawPath)
      assert(snap.schema == raw.schema)
      assert(snap.collect().map(_.toString).sorted.toSeq ==
        raw.collect().map(_.toString).sorted.toSeq)
    }
    val r1 = Orchestrator.run(spark, "Order", source.repartition(3), base, opts,
      specOverride = Some(orderSpec))
    snapshotMatchesRaw(r1)
    // a second run over a smaller source: no part file of the first stays
    val r2 = Orchestrator.run(spark, "Order", source.limit(1).coalesce(1), base, opts,
      specOverride = Some(orderSpec))
    snapshotMatchesRaw(r2)
    val names = graft.sources.Footers.dataFiles(spark, _: String)
    assert(names(s"$base/output/Order/snapshot.parquet").map(_.getName) ==
      names(r2.rawPath).map(_.getName))
    assert(spark.read.parquet(s"$base/output/Order/snapshot.parquet").count() == 1)
  }

  test("limit is applied at extract (source-pushed P3)") {
    val base = Files.createTempDirectory("orch3").toString
    val report = Orchestrator.run(spark, "Order", source, base,
      Orchestrator.RunOptions(limit = Some(2), timestampRaw = false),
      specOverride = Some(orderSpec))
    assert(report.rawRows == 2)
  }
}
