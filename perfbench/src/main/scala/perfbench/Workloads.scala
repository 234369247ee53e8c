package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.SnapshotMerge
import graft.pipeline.Orchestrator
import graft.sources.Scan
import graft.spec.ObjectSpec
import graft.streaming.StreamingOps

/** One step of a workload's cycle. `isOp` steps are the ops whose
  * latency is reported; other steps (maintenance) count only toward the
  * cycle. `check` runs after the step's timing and returns a failure
  * message, if any. */
final case class Step(isOp: Boolean, rows: Long, check: () => Option[String])

trait Workload {
  /** Writes the seeded input files, once per run. */
  def generate(): Unit
  /** Restores the starting state the measured window begins from. */
  def prepare(): Unit
  /** One untimed cycle that warms the JVM and Spark before measuring. */
  def warmup(): Unit
  /** Number of steps in one cycle. */
  def stepsPerCycle: Int
  /** Runs step `i` of the measured sequence (timed). */
  def step(i: Int): Step
  /** Checks over the whole measured sequence, run once at the end. */
  def finalChecks(): Seq[Option[String]]
  /** Counters the traced run reports for this workload, per metric name. */
  def counters: Map[String, Double] = Map.empty
  /** Bytes of input one step of the measured sequence reads. */
  def inputBytes(i: Int): Long
}

object Workloads {

  /** The `etl_cron` objects, one per spec shape in the registry: sum and
    * mean over one key (Account), a count over two keys (Lead), the
    * derived duration (Event), and three metrics over 400 groups
    * (OpportunityLineItem, the one large object). */
  def cronObjects: Seq[ObjectSpec] =
    Seq("Account", "Lead", "Event", "OpportunityLineItem").map(graft.spec.SpecRegistry(_))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        try s.iterator().asScala.foreach(deleteTree) finally s.close()
      }
      Files.delete(p)
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Reads a header CSV directory written by Spark (plain tokens only). */
  private def readCsvDir(dir: Path): (Seq[String], Seq[Seq[String]]) = {
    val parts = Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq.sorted
    val lines = parts.flatMap(p => Files.readAllLines(p).asScala).filter(_.nonEmpty)
    val header = lines.head.split(",", -1).toSeq
    header -> lines.tail.filterNot(_ == lines.head).map(_.split(",", -1).toSeq)
  }

  // ──────────────────────────────────────────────────────────────────

  /** The deployed pipeline: `Orchestrator.run` per object, in the order
    * given, over a ledger pre-seeded with prior runs. One op is one
    * object's run; one cycle is one pass over the objects. */
  final class Etl(spark: SparkSession, root: Path, seed: Long, cores: Int,
      specs: Seq[ObjectSpec], rows: ObjectSpec => Long, ledgerRecords: Int) extends Workload {

    private val src = root.resolve("src")
    private val base = root.resolve("out")
    private val pristine = root.resolve("ledger")
    private val ledger = base.resolve("meta/runs.jsonl")
    private val opts = Orchestrator.RunOptions(limit = None, qaParallelism = cores)
    private var expected = Map.empty[String, (Seq[String], Map[Seq[String], Seq[Option[Double]]])]
    private val reports = scala.collection.mutable.ArrayBuffer[Orchestrator.RunReport]()
    private var appendedBytes = 0L
    private var opThreadReadBytes = 0L

    def stepsPerCycle: Int = specs.size
    def inputBytes(i: Int): Long = treeBytes(src.resolve(s"${specs(i % specs.size).apiName}.parquet"))

    /** Writes every object's source table, and the ledger the deployment
      * would hold after `ledgerRecords` prior runs with the pretty
      * projection of its last 500. */
    def generate(): Unit = {
      specs.foreach { spec =>
        Gen.object_(spark, spec, rows(spec), seed, files = 1)
          .write.parquet(src.resolve(s"${spec.apiName}.parquet").toString)
      }
      Files.createDirectories(pristine)
      val names = Gen.allSpecs.map(_.apiName)
      val lines = (0 until ledgerRecords).map(Gen.ledgerLine(seed, _, names))
      Files.write(pristine.resolve("runs.jsonl"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      val pretty = JArray(lines.takeRight(500).map(l => JsonMethods.parse(l)).toList)
      Files.write(pristine.resolve("all_runs_pretty.json"),
        JsonMethods.pretty(JsonMethods.render(pretty)).getBytes("UTF-8"))
    }

    /** A fresh output root holding only the pre-seeded ledger. */
    def prepare(): Unit = {
      deleteTree(base)
      expected = Map.empty
      reports.clear()
      appendedBytes = 0L
      opThreadReadBytes = 0L
      Files.createDirectories(ledger.getParent)
      Seq("runs.jsonl", "all_runs_pretty.json").foreach(f =>
        Files.copy(pristine.resolve(f), ledger.resolveSibling(f)))
    }

    def warmup(): Unit = (0 until stepsPerCycle).foreach(step)

    private def expectedFor(spec: ObjectSpec) =
      expected.getOrElse(spec.apiName, {
        val e = Gen.expectedAggregate(
          spark.read.parquet(src.resolve(s"${spec.apiName}.parquet").toString), spec)
        expected += spec.apiName -> e
        e
      })

    def step(i: Int): Step = {
      val spec = specs(i % specs.size)
      val before = Files.size(ledger)
      val read0 = threadReadBytes()
      val report = Orchestrator.run(spark, spec.apiName,
        Scan.table(spark, src.toString, spec.apiName), base.toString, opts)
      opThreadReadBytes += threadReadBytes() - read0
      appendedBytes += Files.size(ledger) - before
      reports += report
      Step(isOp = true, rows(spec), () => checkRun(spec, report))
    }

    private def checkRun(spec: ObjectSpec, r: Orchestrator.RunReport): Option[String] = {
      val (names, exp) = expectedFor(spec)
      val bad = r.taskStates.filter(_._2 != "COMPLETED")
      if (bad.nonEmpty) return Some(s"${spec.apiName}: task states $bad")
      if (r.taskStates.size != 10) return Some(s"${spec.apiName}: ${r.taskStates.size} task states")
      if (r.rawRows != rows(spec)) return Some(s"${spec.apiName}: raw rows ${r.rawRows} != ${rows(spec)}")
      if (r.processedRows != exp.size || r.jsonRecords != exp.size)
        return Some(s"${spec.apiName}: ${r.processedRows} processed / ${r.jsonRecords} json rows, expected ${exp.size}")
      val (header, body) = readCsvDir(Paths.get(r.processedCsv))
      val keys = spec.groupBy
      if (header != keys ++ names.filter(_ == "records") ++ names.filterNot(_ == "records"))
        return Some(s"${spec.apiName}: processed header $header")
      val got = body.map { cells =>
        cells.take(keys.size) -> cells.drop(keys.size).map(c => if (c.isEmpty) None else Some(c.toDouble))
      }.toMap
      if (got.size != body.size || got.keySet != exp.keySet)
        return Some(s"${spec.apiName}: processed groups differ from the recomputed aggregate")
      val mism = exp.find { case (k, v) =>
        got(k).size != v.size || got(k).zip(v).exists {
          case (Some(a), Some(b)) => !near(a, b)
          case (a, b) => a != b
        }
      }
      if (mism.nonEmpty) return Some(s"${spec.apiName}: group ${mism.get._1} differs: ${got(mism.get._1)} vs ${mism.get._2}")
      JsonMethods.parse(new String(Files.readAllBytes(Paths.get(r.outputJson)), "UTF-8")) match {
        case JArray(xs) if xs.size == exp.size => None
        case _ => Some(s"${spec.apiName}: output json does not hold ${exp.size} records")
      }
    }

    def finalChecks(): Seq[Option[String]] = {
      val lines = Files.readAllLines(ledger).asScala.filter(_.trim.nonEmpty).toVector
      val parsed = lines.takeRight(reports.size).map(JsonMethods.parse(_))
      val countCheck =
        if (lines.size == ledgerRecords + reports.size) None
        else Some(s"ledger holds ${lines.size} lines, expected ${ledgerRecords + reports.size}")
      countCheck +: reports.toSeq.zip(parsed).map { case (r, j) =>
        def n(f: String) = (j \ f) match { case JInt(v) => v.toLong; case _ => -2L }
        val exp = expectedFor(specs.find(_.apiName == r.objectName).get)._2.size
        if ((j \ "run_id") != JString(r.runId)) Some(s"ledger order: ${j \ "run_id"} vs ${r.runId}")
        else if (n("raw_rows_recounted") != r.rawRows || n("processed_rows_recounted") != exp ||
          n("json_records") != exp || n("json_records_loaded") != exp)
          Some(s"ledger recounts for ${r.runId} disagree: ${JsonMethods.compact(j)}")
        else None
      }
    }

    /** Bytes read through read calls by this thread, where the ledger
      * upkeep (append, projections, keep-last dedupe) runs. */
    private def threadReadBytes(): Long =
      Files.readAllLines(Paths.get("/proc/thread-self/io")).asScala
        .find(_.startsWith("rchar:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

    override def counters: Map[String, Double] = Map(
      "meta.bytes_read_per_byte_appended" ->
        (if (appendedBytes == 0) 0.0 else opThreadReadBytes.toDouble / appendedBytes))
  }

  // ──────────────────────────────────────────────────────────────────

  /** Change-data capture into a sharded snapshot: each op upserts one
    * seeded batch (updates, inserts and deletes) under a commit tag and
    * replicates the change feed into a replica; every `compactEvery`
    * batches a compaction step bin-packs the small files the writer's
    * file cap (`maxRecordsPerFile`) leaves in every rewritten shard. */
  final class Cdc(spark: SparkSession, root: Path, seed: Long, baseRows: Long,
      batchRows: Long, maxBatches: Int, nShards: Int, compactEvery: Int,
      maxRecordsPerFile: Long, updatePct: Int, deletePct: Int) extends Workload {

    private val keys = Seq("k")
    private val base = root.resolve("src/base.parquet").toString
    private val batches = root.resolve("src/batches.parquet").toString
    private val snap = root.resolve("snap").toString
    private val replica = root.resolve("replica").toString
    private val ckpt = root.resolve("ckpt").toString
    private var applied = 0
    private var commitAttempts = 0L
    private var commits = 0L
    private var compactions = 0L
    private var shardsCompacted = 0L

    def stepsPerCycle: Int = compactEvery + 1
    private def isCompaction(i: Int) = i % stepsPerCycle == compactEvery
    def inputBytes(i: Int): Long =
      if (isCompaction(i)) 0L else treeBytes(Paths.get(batches)) / maxBatches

    private def capped[T](body: => T): T = {
      spark.conf.set("spark.sql.files.maxRecordsPerFile", maxRecordsPerFile)
      try body finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }

    def generate(): Unit = {
      Gen.cdcBase(spark, baseRows, seed, 4).write.parquet(base)
      Gen.cdcBatches(spark, baseRows, batchRows, maxBatches, seed, updatePct, deletePct)
        .write.partitionBy("b").parquet(batches)
    }

    /** The base snapshot, created, with its replica bootstrapped. */
    def prepare(): Unit = {
      Seq(snap, replica, ckpt).foreach(d => deleteTree(Paths.get(d)))
      capped {
        SnapshotMerge.createSharded(spark.read.parquet(base), keys, nShards, snap)
        StreamingOps.replicateSharded(spark, snap, replica, keys, ckpt, nShards = nShards)
      }
      applied = 0
      commitAttempts = 0L; commits = 0L; compactions = 0L; shardsCompacted = 0L
    }

    private def applyNext(): Unit = {
      applied += 1
      require(applied <= maxBatches, s"ran out of generated batches ($maxBatches)")
      val batch = spark.read.parquet(batches).filter(col("b") === applied).drop("b")
      capped {
        val committed = Trace.span("merge.upsert") {
          SnapshotMerge.upsertSharded(batch, keys, snap, deleteCol = Some("is_deleted"),
            commitTag = Some(s"batch_$applied"), onCommitAttempt = () => commitAttempts += 1)
        }
        require(committed, s"batch $applied was not committed")
        commits += 1
        Trace.span("merge.replicate") {
          StreamingOps.replicateSharded(spark, snap, replica, keys, ckpt, nShards = nShards)
        }
      }
    }

    private def compact(): Int = Trace.span("merge.compact") {
      SnapshotMerge.compactSharded(spark, snap, targetFileBytes = 64L * 1024 * 1024, minFiles = 2)
    }

    def warmup(): Unit = (0 until stepsPerCycle).foreach(step)

    def step(i: Int): Step =
      if (isCompaction(i)) {
        val n = compact()
        compactions += 1
        shardsCompacted += n
        Step(isOp = false, 0L, () =>
          if (n > 0) None else Some(s"compaction after batch $applied compacted no shard"))
      } else {
        applyNext()
        Step(isOp = true, batchRows, () => None)
      }

    /** Order-insensitive content digest: row count and a hash sum. */
    private def digest(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(df.columns.sorted.map(col): _*).as("h"))
        .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    def finalChecks(): Seq[Option[String]] = {
      // keep-last replay of base + applied batches, computed directly
      val all = spark.read.parquet(base).withColumn("is_deleted", lit(false))
        .unionByName(spark.read.parquet(batches).filter(col("b") <= applied).drop("b"))
      val latest = all.groupBy("k").agg(max_by(struct(all.columns.map(col): _*), col("rev")).as("r"))
        .select("r.*").filter(!col("is_deleted")).drop("is_deleted")
      val want = digest(latest)
      val snapshot = digest(SnapshotMerge.readSharded(spark, snap))
      val mirrored = digest(SnapshotMerge.readSharded(spark, replica))
      Seq(
        if (snapshot == want) None else Some(s"snapshot digest $snapshot != replay $want"),
        if (mirrored == snapshot) None else Some(s"replica digest $mirrored != source $snapshot"))
    }

    override def counters: Map[String, Double] = Map(
      "merge.commit_attempts_per_commit" -> (if (commits == 0) 0.0 else commitAttempts.toDouble / commits),
      "merge.shards_compacted" -> (if (compactions == 0) 0.0 else shardsCompacted.toDouble / compactions))
  }
}
