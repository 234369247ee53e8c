package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.GraftSession.Pinnable

/** Structured Streaming forms of the engine's incremental features
  * (SURVEY §2.9): the reference's 15-minute cron micro-batch (T1) becomes
  * a file-source stream with `Trigger.AvailableNow`; its cross-run
  * rowcount state (T2) becomes keyed state in `mapGroupsWithState`.
  *
  * Watermarks bound state: at 100 TB/day the windowed aggregates below
  * hold only the watermark horizon in the state store, not the stream.
  */
object StreamingOps {

  /** The events schema as the streaming file source needs it declared
    * (streams cannot infer) — taken from a batch footer read of the
    * same directory, so the declared schema always matches the physical
    * encoding the testdata currently ships (`ts` has been raw nanos
    * long in one generation and TIMESTAMP_NTZ micros in another; the
    * type-dispatching normalizer `Scan.normalizeEventsTs` absorbs the
    * difference after the scan either way). */
  def eventsRawSchema(spark: SparkSession, dir: String): StructType =
    spark.read.parquet(dir).schema

  /** Stage a bare `<table>.parquet` FILE into a temp directory (hard
    * link, falling back to copy): the streaming file source requires a
    * directory. In a real deployment the ingest path is already a
    * directory of arriving part-files — exactly what this models. */
  private def stagedDir(sfDir: String, table: String): java.nio.file.Path = {
    val file = java.nio.file.Paths.get(s"$sfDir/$table.parquet")
    if (java.nio.file.Files.isDirectory(file)) file
    else {
      val staged = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft_${table}_${sfDir.hashCode.toHexString}")
      java.nio.file.Files.createDirectories(staged)
      val target = staged.resolve(s"$table.parquet")
      if (!java.nio.file.Files.exists(target)) {
        try java.nio.file.Files.createLink(target, file)
        catch { case _: Exception => java.nio.file.Files.copy(file, target) }
      }
      staged
    }
  }

  /** Spread a NARROW micro-batch to the session's parallelism before
    * its pin — the guide §2.5 input-skew fix in streaming form: under
    * `maxFilesPerTrigger = 1` a batch is one file → ONE scan partition,
    * so every regex/minhash-amplified map stage downstream of the pin
    * ran as a single task per batch (JobProbe r22: the 0.5-2 s
    * single-task jobs inside the crawl/dedup batch bodies) while the
    * other cores idled. One batch-sized round-robin exchange fixes it;
    * batches already at or above the core count (the at-scale shape —
    * many arriving files per trigger) pass through untouched.
    * Result-safe: round-robin placement changes which task holds a
    * row, never the row set, and every downstream screen is a keyed
    * aggregate/join with a deterministic winner rule. */
  private def spreadBatch(batchDf: DataFrame): DataFrame = {
    // MODEST width (≤ 8), the Similarity.fitInput lesson: these batch
    // pipelines carry very large serialized plans (extract regexes,
    // model literals), so per-task fixed cost is ~100-200 ms — a
    // full-core fan-out of a sub-second stage multiplies total task
    // time ~10× for no wall gain (measured r22: crawlBatch at width 32
    // tripled cluster work, wall flat)
    val cores = math.min(8, math.max(1,
      batchDf.sparkSession.sparkContext.defaultParallelism))
    if (batchDf.rdd.getNumPartitions < cores) batchDf.repartition(cores)
    else batchDf
  }

  /** File-source stream over the events table (micro-batch T1 analog). */
  def readEventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagedDir(sfDir, "events").toString
    graft.sources.Scan.normalizeEventsTs(
      spark.readStream.schema(eventsRawSchema(spark, dir)).parquet(dir))
  }

  /** The documents schema as the streaming file source needs it
    * declared (mirrors the testdata parquet exactly). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Documents stream over an ARBITRARY staged directory with a
    * per-trigger file cap — under `Trigger.AvailableNow` each part-file
    * becomes (at most) its own micro-batch, so a K-file directory
    * exercises K real micro-batch executions instead of one big one. */
  def readDocumentsStreamFrom(spark: SparkSession, srcDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(documentsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)

  /** Tumbling-window counts with a watermark (late data beyond the
    * horizon is dropped — the T2 drift alarm generalized to per-window
    * live aggregates). */
  def tumblingCounts(
      events: DataFrame, windowDur: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding-window counts with a watermark (streaming twin of
    * `graft.operators.Windows.sliding`): each event lands in
    * windowDur/slide overlapping windows, all epoch-aligned to the slide
    * step — identical window starts to the batch operator's. */
  def slidingCounts(
      events: DataFrame, windowDur: String = "1 hour",
      slide: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Native session windows with watermark (streaming twin of
    * `graft.operators.Windows.sessionize`). */
  def sessionAgg(
      events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Per-user running totals via explicit keyed state — the
    * `mapGroupsWithState` upgrade path for the reference's cross-run
    * rowcount baseline (SURVEY §2.9 T2). */
  final case class UserEvent(user_id: Long, value: Double)
  final case class UserState(nEvents: Long, totalValue: Double)

  def runningUserTotals(events: DataFrame): Dataset[(Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    // null-safe: UserEvent.value is a primitive Double, so a NULL value
    // row would kill the batch at the encoder; 0.0 contributes nothing
    // to the total while the row still counts — matching SQL's
    // COUNT(*) + null-ignoring SUM
    events.select(col("user_id"), coalesce(col("value"), lit(0.0)).as("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, (Long, Long, Double)](
        GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var n = prev.nEvents
          var tot = prev.totalValue
          rows.foreach { e => n += 1; tot += e.value }
          state.update(UserState(n, tot))
          (userId, n, tot)
      }
  }

  /** Streaming incremental dedup — the reference's 15-minute-cron
    * micro-batch (T1, `deployments/serve_15min.py:7`) composed with the
    * persisted minhash index: each
    * arriving micro-batch is deduped against the index INSIDE
    * `foreachBatch` (per-batch cost = batch signing + one index scan —
    * [[graft.operators.TextDedup.minhashLshAgainstIndex]]'s plan), its
    * duplicate pairs land in `outDir/batch_<id>`, and, when
    * `foldInSurvivors` is set, the batch's non-duplicate docs are
    * APPENDED to the index so the NEXT micro-batch sees them — the full
    * crawl loop (dedup → accept → index) as one streaming query.
    *
    * The REPORTED pairs are batch-vs-index only (the oracle contract);
    * fold-in additionally self-dedups the survivors WITHIN the batch
    * (minhash LSH at the same parameters, keep-lowest-id) before
    * appending — two near-dup docs arriving in the same micro-batch
    * match nothing in the index, and without this both copies would
    * enter the corpus forever.
    *
    * Replay semantics (r8, hardened r9): APPENDS are exactly-once per
    * batch id across the index's whole lifetime — the commit tag
    * `batch_<id>` (staged dir + one atomic rename —
    * [[graft.operators.TextDedup.appendToMinhashIndex]]) stays
    * recognized even after a compaction folds the commit, via the
    * `committed/` tombstones compaction leaves behind; a replayed
    * batch never re-appends. OUTPUT byte-determinism of a replay has a
    * window: the pairs output overwrites its own `batch_<id>` dir and
    * the index is LOADED excluding the batch's own tag, so a replay
    * whose first append already landed reads the index exactly as the
    * original execution did (byte-identical rewrite, no self-match
    * pairs — spec-proven in StreamingOpsSpec) — UNTIL a compaction
    * folds that tag into the base, after which the batch's own rows
    * can no longer be excluded and a replay may emit self-match pairs.
    * Schedule compaction on a cadence longer than the replay horizon
    * (checkpoint retention) when byte-stable replays matter. The
    * batch-keyed commit also makes the fold-in safe against a
    * concurrent index compaction (commit dirs are never swapped away —
    * see [[graft.operators.TextDedup.compactMinhashIndex]]).
    *
    * `checkpointDir` is REQUIRED (r10) because the whole tag scheme
    * keys on batch ids: batch identity lives in the checkpoint, and
    * without a durable one Spark falls back to a temp dir, so a
    * RESTARTED run renumbers batches from 0 — colliding with tags the
    * previous run committed. Tombstones make that collision SILENT
    * data loss (the replayed `batch_0` tag reads as committed forever,
    * so genuinely-new survivors never enter the index and the new
    * run's pairs overwrite the old `batch_0` output). With the durable
    * checkpoint a restart resumes the batch numbering and file
    * progress exactly where the previous run stopped — restart-proven
    * in StreamingOpsSpec. The reference's served flow
    * (`deployments/serve_15min.py:5-14`) is restarted by design, so
    * restart-safety is part of the semantics being mirrored.
    *
    * `trigger` defaults to `AvailableNow` (drain what's there, then
    * stop — the cron-shaped parity mode). A RESIDENT crawl loop passes
    * `Trigger.ProcessingTime(...)` instead: the query then runs until
    * `stop()`. The tag scheme and checkpoint semantics are
    * trigger-independent (batch ids come from the checkpoint either
    * way — spec-proven under ProcessingTime in StreamingOpsSpec). */
  def incrementalDedupStream(
      docs: DataFrame, indexPath: String, outDir: String,
      checkpointDir: String,
      threshold: Double = 0.7, idCol: String = "doc_id",
      textCol: String = "text",
      foldInSurvivors: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        dedupBatchAgainstIndex(batch.toDF(), batchId, indexPath, outDir,
          threshold, idCol, textCol, foldInSurvivors)
        ()
      }
      .trigger(trigger)
      .start()

  /** One micro-batch of [[incrementalDedupStream]], factored out so the
    * replay contract is directly testable: calling this twice with the
    * same `batchId` must leave the index row-set AND the `batch_<id>`
    * output identical to one call. */
  private[graft] def dedupBatchAgainstIndex(
      batchDf: DataFrame, batchId: Long, indexPath: String, outDir: String,
      threshold: Double, idCol: String, textCol: String,
      foldInSurvivors: Boolean): Unit =
    // scratch scoped to the micro-batch: every pin below is consumed
    // within it, and a long-running crawl stream would otherwise
    // accumulate one batch worth of checkpoint blocks (or parquet pin
    // dirs, under the cluster scratch strategy) per trigger, forever
    graft.GraftSession.releasingScratch(batchDf.sparkSession) {
    val spark = batchDf.sparkSession
    val tag = s"batch_$batchId"
    val b = spreadBatch(batchDf).pinScratch() // consumed twice below
    // exclude this batch's OWN commit: on a replay whose first append
    // landed, the load must see the pre-append index or the batch
    // would emit self-match pairs its original execution lacked
    val idx = graft.operators.TextDedup.loadMinhashIndex(
      spark, indexPath, excludeCommits = Set(tag))
    val pairs = graft.operators.TextDedup.minhashLshAgainstIndex(
      b, idCol, textCol, idx, threshold)
      .pinScratch() // materialize BEFORE the index mutates
    pairs.write.mode("overwrite").parquet(s"$outDir/$tag")
    if (foldInSurvivors) {
      val dupIds = pairs.select(col("new_id").as(idCol)).distinct()
      val survivors = b.join(dupIds, Seq(idCol), "left_anti")
        .pinScratch() // feeds self-dedup AND the append
      // intra-batch near-dups: same signing parameters as the index,
      // keep the lowest id of each pair (minhashLsh emits d1 < d2)
      val intraDup = graft.operators.TextDedup.minhashLsh(
        survivors, idCol, textCol,
        n = idx.n, k = idx.k, bands = idx.numBands, threshold = threshold)
        .select(col("d2").as(idCol)).distinct()
      graft.operators.TextDedup.appendToMinhashIndex(
        survivors.join(intraDup, Seq(idCol), "left_anti"),
        idCol, textCol, indexPath, commitTag = tag)
      ()
    }
  }

  /** Streaming CDC apply — the crawl/change feed folded into a keyed
    * snapshot (`createSharded` first): every micro-batch is one
    * [[graft.operators.SnapshotMerge.upsertSharded]] merge (replace /
    * insert / delete by key, rewriting only the shards it touches) with
    * a per-batch `commitTag`, so a replayed micro-batch is skipped and
    * the stream is exactly-once per batch id. Replay ordering is safe by
    * construction: a batch can only replay at restart, BEFORE any
    * later batch runs, so a re-applied merge never overwrites newer
    * data — and an untagged-window crash (commit landed, tag didn't)
    * re-applies the same batch idempotently.
    *
    * `checkpointDir` is REQUIRED for the same reason as
    * [[incrementalDedupStream]]: batch identity lives in the
    * checkpoint; a temp checkpoint would renumber batches from 0 on
    * restart and the tag scheme would read old commits as this run's.
    *
    * `streamName` namespaces the commit tags
    * (`stream_<name>_batch_<id>`) — batch ids alone are NOT a stream
    * identity: a second stream merging into the same snapshot, or a
    * wiped-and-recreated checkpoint (batch ids restart at 0), would
    * silently skip every batch whose bare id collides with a
    * previously committed one. Two streams feeding one snapshot MUST
    * use distinct names; re-creating a checkpoint from scratch for the
    * same logical stream means its already-committed prefix is
    * deliberately skipped — pick a NEW name to replay from zero. */
  def mergeStream(updates: DataFrame, snapshotDir: String,
      keyCols: Seq[String], checkpointDir: String,
      deleteCol: Option[String] = None,
      updateOrder: Option[Seq[org.apache.spark.sql.Column]] = None,
      streamName: String = "default",
      trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyMergeBatch(batch.toDF(), batchId, snapshotDir, keyCols,
          deleteCol, updateOrder, streamName)
        ()
      }
      .trigger(trigger)
      .start()

  /** One micro-batch of [[mergeStream]], factored out so the replay
    * contract is directly testable: a second call with the same
    * `batchId` must leave the snapshot identical to one call. */
  private[graft] def applyMergeBatch(batchDf: DataFrame, batchId: Long,
      snapshotDir: String, keyCols: Seq[String], deleteCol: Option[String],
      updateOrder: Option[Seq[org.apache.spark.sql.Column]],
      streamName: String = "default"): Unit =
    graft.GraftSession.releasingScratch(batchDf.sparkSession) {
      graft.operators.SnapshotMerge.upsertSharded(batchDf, keyCols,
        snapshotDir, deleteCol, updateOrder,
        commitTag = Some(s"stream_${streamName}_batch_$batchId"))
      ()
    }

  /** STREAMING CDF CONSUMER — the read side of the loop [[mergeStream]]
    * opened: follow a sharded snapshot's manifest version chain from a
    * DURABLE checkpoint, handing each newly committed version's change
    * rows ([[graft.operators.SnapshotMerge.readShardedChanges]] —
    * insert / delete / update_preimage / update_postimage, plus one
    * BOOTSTRAP batch of the oldest readable version's full content as
    * inserts on first contact) to `process(changes, fromVersion,
    * toVersion)` in version order ([[walkShardedVersions]]). The
    * checkpoint advances only AFTER `process` returns, so delivery is
    * at-least-once across crashes; a `process` whose commit records
    * `toVersion` durably (as [[replicateSharded]]'s replica manifest
    * does) upgrades that to exactly-once EFFECTS — the crash-window
    * redelivery finds `toVersion` recorded and skips. Downstream replicas must poll no slower than
    * the source's vacuum retention: a reaped checkpoint version fails
    * LOUDLY here (re-bootstrap deliberately by clearing the
    * checkpoint), never silently skips a span.
    *
    * Scale shape: one O(1) root listing of the source per call, one
    * manifest read + changed-shard diff join per consumed span
    * (reference-carried shards stay unread — the [[graft.operators
    * .SnapshotMerge.readShardedChanges]] contract), checkpoint IO is
    * one small file. Versions between calls batch up and drain in
    * order; `maxVersionsPerCall` bounds one call's work for paced
    * consumers.
    *
    * @return the checkpointed version after this call (= the newest
    *         readable source version once drained) */
  def consumeShardedChanges(spark: SparkSession, srcDir: String,
      keyCols: Seq[String], checkpointDir: String,
      maxVersionsPerCall: Int = Int.MaxValue,
      /** When true, every pending version this call drains is handed
        * to `process` as ONE coalesced span (`readShardedChanges(last,
        * newest)`) instead of one call per version. Row-level
        * intermediate states that a later pending version supersedes
        * are composed away by the span diff, so a consumer that applies
        * EFFECTS (upsert post-images, delete deletes) converges to the
        * identical state with one diff and one apply instead of K;
        * consumers that need every intermediate image keep the default
        * per-version pacing. The checkpoint still advances only after
        * `process` returns — at-least-once, span-sized. */
      coalesceSpans: Boolean = false)(
      process: (DataFrame, Long, Long) => Unit): Long = {
    import graft.operators.SnapshotMerge
    walkShardedVersions(spark, srcDir, checkpointDir, maxVersionsPerCall,
        coalesceSpans) { (from, to) =>
      process(
        if (from == 0L) SnapshotMerge.readShardedVersion(spark, srcDir, to)
          .withColumn("_change_type", lit("insert"))
        else SnapshotMerge.readShardedChanges(spark, srcDir, keyCols, from, to),
        from, to)
    }
  }

  /** The version walk under [[consumeShardedChanges]] and
    * [[replicateSharded]], free of any change-row `DataFrame`: calls
    * `apply(from, to)` once per span in version order — first contact
    * is the bootstrap span `(0, oldest readable version)`, which spends
    * one unit of the call's `maxVersionsPerCall` budget — and writes
    * `to` to the durable checkpoint only after `apply` returns. A
    * checkpointed version the source has since vacuumed fails loudly
    * before any pending span is applied. */
  private def walkShardedVersions(spark: SparkSession, srcDir: String,
      checkpointDir: String, maxVersionsPerCall: Int,
      coalesceSpans: Boolean)(apply: (Long, Long) => Unit): Long = {
    import graft.operators.{IndexFs, SnapshotMerge}
    require(maxVersionsPerCall >= 1,
      s"maxVersionsPerCall=$maxVersionsPerCall must be >= 1")
    val f = IndexFs.fs(spark, checkpointDir)
    val ckpt = new org.apache.hadoop.fs.Path(
      checkpointDir.stripSuffix("/") + "/cdf.version")
    val versions = SnapshotMerge.shardedVersions(spark, srcDir)
    require(versions.nonEmpty,
      s"no sharded snapshot at $srcDir — nothing to consume")
    var budget = maxVersionsPerCall
    var last: Long =
      if (f.exists(ckpt)) IndexFs.readSmallFile(f, ckpt).trim.toLong
      else {
        val v0 = versions.min
        apply(0L, v0)
        IndexFs.atomicWriteSmallFile(spark, f, ckpt, v0.toString)
        budget -= 1
        v0
      }
    val pending = versions.filter(_ > last).sorted.take(math.max(0, budget))
    if (pending.nonEmpty)
      require(versions.contains(last),
        s"checkpointed version $last of $srcDir was vacuumed before this " +
          s"consumer caught up (readable: ${versions.mkString(",")}) — " +
          "raise vacuumSharded's minAgeMs above the consumer's poll lag, " +
          "or clear the checkpoint to re-bootstrap deliberately")
    val spans =
      if (coalesceSpans && pending.nonEmpty) Seq(pending.max)
      else pending
    spans.foreach { v =>
      apply(last, v)
      IndexFs.atomicWriteSmallFile(spark, f, ckpt, v.toString)
      last = v
    }
    last
  }

  /** CDF REPLICATION — the produce-consume round trip, closed: mirror a
    * source snapshot into a REPLICA sharded snapshot, exactly once per
    * source span ([[walkShardedVersions]]; each span commits one replica
    * version that records the source version it mirrors, so crash
    * redelivery finds the span's end recorded and skips). The replica
    * is a file-level MIRROR of its source
    * ([[graft.operators.SnapshotMerge.copySpan]]): every
    * span — the bootstrap, upserts, deletes, compactions, optimizes,
    * reshards, evolutions, migrations and restores alike — copies the
    * source's changed shard dirs (and its anchor when the span moves
    * it), drops the shards that left, and commits the source's header.
    * No Spark job, no change rows; each call costs the NEW versions'
    * changed shards, never a source rescan. A replica that does not
    * mirror a span's start (written by anything but this replication)
    * fails loudly before anything is written; clearing the checkpoint
    * re-bootstraps it, replacing every shard.
    *
    * `keyCols` and `nShards` choose nothing: the bootstrap checks them
    * against the source version it copies and fails loudly, naming
    * both, when they differ.
    *
    * @return the source version the replica now reflects */
  def replicateSharded(spark: SparkSession, srcDir: String,
      replicaDir: String, keyCols: Seq[String], checkpointDir: String,
      nShards: Int = 16, maxVersionsPerCall: Int = Int.MaxValue,
      /** Apply every pending version as ONE coalesced span
        * ([[consumeShardedChanges]]'s knob) — safe by construction: a
        * span copy takes each changed shard's state at the span end, so
        * the replica content is identical at one replica version per
        * call instead of one per source version. The replica records
        * the span END version, so crash redelivery of the same span
        * still short-circuits. */
      coalesceSpans: Boolean = false): Long = {
    import graft.operators.SnapshotMerge
    walkShardedVersions(spark, srcDir, checkpointDir, maxVersionsPerCall,
        coalesceSpans) { (from, to) =>
      if (from == 0L)
        SnapshotMerge.requireLayout(spark, srcDir, to, keyCols, nShards)
      SnapshotMerge.copySpan(spark, srcDir, replicaDir, from, to)
    }
  }

  // ──────────────────────────────────────────────────────────────────
  // Streaming crawl-to-corpus (r18): the whole capstone pipeline with
  // its three STATEFUL screens — canonical-URL dedup, the per-domain
  // cap, and exact content dedup — carried across micro-batches.

  /** Read back one cross-batch state relation: every `batch_*` dir
    * under `stateDir/$kind` EXCEPT `ownTag` — a replayed batch must
    * see exactly the pre-batch state its original execution saw (the
    * [[incrementalDedupStream]] exclude-own-commit posture; replays
    * only occur at restart, before any later batch runs). */
  private def readState(spark: SparkSession, stateDir: String,
      kind: String, ownTag: String, schema: StructType): DataFrame = {
    val dir = s"$stateDir/$kind"
    val fs = graft.operators.IndexFs.fs(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val dirs =
      if (!fs.exists(root)) Array.empty[String]
      else fs.listStatus(root).filter(_.isDirectory)
        .map(_.getPath)
        .filter(p => p.getName.startsWith("batch_") && p.getName != ownTag)
        .map(_.toString)
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs.toIndexedSeq: _*)
  }

  /** The crawl-to-corpus capstone as a STREAM: per micro-batch, the
    * exact batch pipeline (`HtmlQueries.crawlFlow`'s stages) with the
    * three screens that need memory ACROSS batches made stateful —
    * canonical-URL re-crawl dedup, the running per-domain document
    * cap, and exact content-hash dedup — each a persisted `batch_<id>`
    * relation under `stateDir`, read back excluding the batch's own
    * tag (replay-idempotent: a replayed batch recomputes from the
    * pre-batch state and overwrites its own dirs byte-identically).
    *
    * Winner semantics is FIRST ARRIVAL (the operational meaning of a
    * streaming crawl: the first fetch of a URL / first copy of a
    * document wins). When batches arrive in non-decreasing id order,
    * first-arrival ≡ the batch operators' keep-smallest-id, so the
    * multi-batch output must equal the one-shot batch capstone
    * row-for-row — the `q_stream_crawl_to_corpus` gate (use
    * [[stageOrderedFiles]] to pin file→batch order).
    *
    * Per-batch cost: the map-only extract/normalize/shape stages on
    * the batch, one canonical aggregate + anti-join against the URL
    * state, one bounded per-domain heap + the running-count join, one
    * hash aggregate + anti-join — state relations are keys only
    * (canonicals, domains+counts, hashes), never documents.
    * `checkpointDir` is REQUIRED for the same reason as
    * [[incrementalDedupStream]]: batch identity lives in the
    * checkpoint, and the state dirs are keyed by batch id. */
  def crawlToCorpusStream(pages: DataFrame, idCol: String, urlCol: String,
      htmlCol: String, stateDir: String, outDir: String,
      checkpointDir: String, domainCap: Int,
      cfg: graft.operators.Curation.Config = graft.operators.Curation.Config(),
      /** Pre-fitted NB language model ([[graft.operators.LangIdNb]]) —
        * the operational shape: fit offline once, every micro-batch
        * scores map-only. None = the 4-list marker heuristic. */
      langModel: Option[graft.operators.LangIdNb.Model] = None,
      /** When set, each micro-batch ALSO writes its crawl FRONTIER to
        * `<frontierDir>/batch_<id>`: the batch's outlinks
        * ([[graft.operators.HtmlExtract.extractLinks]] →
        * canonicalize), minus everything fetched up to and including
        * this batch (the URL state + the batch's own fresh
        * canonicals), with the in-degree — the next wave's fetch
        * proposals, produced by the wave that discovered them (the
        * operational crawl loop; the fetcher dedups proposals across
        * batches). Extraction + canonicalization are gated by
        * `q_crawl_frontier`; the state machinery by
        * `q_stream_crawl_to_corpus`; the composition is spec-proven
        * (StreamingCrawlSpec). */
      frontierDir: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(domainCap >= 1, s"domainCap=$domainCap must be >= 1")
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        crawlBatch(batch.toDF(), batchId, idCol, urlCol, htmlCol,
          stateDir, outDir, domainCap, cfg, langModel, frontierDir)
        ()
      }
      .trigger(trigger)
      .start()
  }

  /** One micro-batch of [[crawlToCorpusStream]], factored out so the
    * cross-batch and replay contracts are directly testable (the
    * [[dedupBatchAgainstIndex]] pattern). */
  private[graft] def crawlBatch(batchDf: DataFrame, batchId: Long,
      idCol: String, urlCol: String, htmlCol: String, stateDir: String,
      outDir: String, domainCap: Int,
      cfg: graft.operators.Curation.Config,
      langModel: Option[graft.operators.LangIdNb.Model] = None,
      frontierDir: Option[String] = None): Unit =
    graft.GraftSession.releasingScratch(batchDf.sparkSession) {
      import graft.functions.{GraftFunctions, TextAnalysis, TextNormalize}
      import graft.operators.{HtmlExtract, UrlCuration}
      val spark = batchDf.sparkSession
      val tag = s"batch_$batchId"
      val urlsSchema = StructType(Seq(StructField("canonical", StringType)))
      val domSchema = StructType(Seq(
        StructField("domain", StringType), StructField("n", LongType)))
      val hashSchema = StructType(Seq(StructField("content_hash", StringType)))
      val prevUrls = readState(spark, stateDir, "urls", tag, urlsSchema)
      val prevDomains = readState(spark, stateDir, "domains", tag, domSchema)
        .groupBy("domain").agg(sum("n").as("prev_n"))
      val prevHashes = readState(spark, stateDir, "hashes", tag, hashSchema)

      val b = spreadBatch(batchDf)
        .pinScratch() // url keys + the post-screen text pass
      // ── URL stage (the batch dedupByUrl + domainCap, made running)
      val withKeys = b.select(col(idCol),
          UrlCuration.canonicalUrl(col(urlCol)).as("__canon"),
          UrlCuration.domainOf(col(urlCol)).as("__dom"),
          UrlCuration.isUrlish(col(urlCol)).as("__urlish"))
        .pinScratch()
      val intra = withKeys.filter(col("__urlish"))
        .groupBy("__canon").agg(min(col(idCol)).as(idCol))
      val freshWinners = intra
        .join(prevUrls, intra("__canon") === prevUrls("canonical"), "left_anti")
        .pinScratch() // state append AND survivor semi-join
      freshWinners.select(col("__canon").as("canonical"))
        .write.mode("overwrite").parquet(s"$stateDir/urls/$tag")
      val urlSurvivors = withKeys
        .join(freshWinners.select(col(idCol)), Seq(idCol), "left_semi")
        .select(col(idCol), col("__dom"))
        .unionByName(withKeys
          .filter(!coalesce(col("__urlish"), lit(false)))
          .select(col(idCol), col("__dom")))
      // running per-domain cap: global rank = survivors seen in prior
      // batches + rank within this batch (bounded heap, never a window)
      val ranked = urlSurvivors
        .groupBy(col("__dom"))
        .agg(GraftFunctions.top_k_by_score(
            col(idCol), lit(0.0).cast("double"), domainCap).as("__topk"),
          count(lit(1)).as("__n"))
        .pinScratch() // cap join AND domain-count state append
      ranked.select(col("__dom").as("domain"), col("__n").as("n"))
        .write.mode("overwrite").parquet(s"$stateDir/domains/$tag")
      val cappedIds = ranked
        .select(col("__dom"), posexplode(col("__topk")).as(Seq("__pos", "__e")))
        .join(prevDomains, col("__dom") <=> col("domain"), "left")
        .filter(col("__pos") + 1 + coalesce(col("prev_n"), lit(0L)) <= domainCap)
        .select(col("__e.id").as(idCol))

      // ── frontier (optional): this batch's outlink proposals, minus
      // everything fetched up to AND INCLUDING this batch — cap-dropped
      // pages were still fetched, so their canonicals (recorded in the
      // URL state above) screen correctly
      frontierDir.foreach { fd =>
        val links = b.select(col(idCol), col(urlCol).as("__base"),
            explode(graft.operators.HtmlExtract
              .extractLinks(col(htmlCol))).as("__link"))
          .select(col(idCol), GraftFunctions
            .url_resolve(col("__base"), col("__link")).as("__res"))
          .filter(UrlCuration.isUrlish(col("__res")))
          .select(col(idCol),
            UrlCuration.canonicalUrl(col("__res")).as("url"))
        val seenAll = prevUrls.select(col("canonical"))
          .unionByName(freshWinners.select(col("__canon").as("canonical")))
        links.join(seenAll, links("url") === seenAll("canonical"), "left_anti")
          .groupBy("url")
          .agg(countDistinct(col(idCol)).as("n_refs"))
          .write.mode("overwrite").parquet(s"$fd/$tag")
      }

      // ── text stages (stateless, the crawlFlow spellings) on the
      // address-stage survivors only
      val extracted = HtmlExtract.extractMainContent(
        b.join(cappedIds, Seq(idCol), "left_semi")
          .select(col(idCol), col(htmlCol)), idCol, htmlCol)
      val cleaned = extracted.select(col(idCol),
          TextNormalize.cleanText(col("text")).as("text"))
        .pinScratch() // the gopher + feature stages reference text often
      val shaped = cleaned.filter(TextAnalysis.gopherShapeOk(col("text")))
      // language stage: the pre-fitted NB model (map-only scoring) or
      // the marker heuristic — mirroring the batch crawlFlow exactly
      val withLang = langModel match {
        case Some(m) => graft.operators.LangIdNb
          .predict(shaped, "text", m)
          .select(col(idCol), col("text"), col("pred_lang"))
        case None => shaped.select(col(idCol), col("text"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
      }
      val kept = withLang.select(col(idCol),
          col("pred_lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.wsTokenCount(col("text")).as("n_tokens"),
          md5(col("text")).as("content_hash"))
        .filter(col("pred_lang").isin(cfg.keepLangs.toSeq: _*))
        .filter(col("quality") >= cfg.minQuality &&
          col("n_tokens") >= cfg.minTokens)
        .pinScratch()
      // exact content dedup, cross-batch: intra-batch winners first,
      // then the hashes any prior batch already accepted
      val canonical = kept.groupBy("content_hash").agg(min(col(idCol)).as(idCol))
      val freshHash = canonical
        .join(prevHashes, Seq("content_hash"), "left_anti")
        .pinScratch()
      freshHash.select("content_hash")
        .write.mode("overwrite").parquet(s"$stateDir/hashes/$tag")
      kept.join(freshHash.select(col(idCol)), Seq(idCol), "left_semi")
        .select(col(idCol), col("pred_lang"), col("quality"), col("n_tokens"))
        .write.mode("overwrite").parquet(s"$outDir/$tag")
    }

  /** Stage `parts` as SEPARATE single parquet files in `srcDir` with
    * strictly increasing modification times, so the file source
    * delivers them in this order (FileStreamSource processes files in
    * mod-time order; `maxFilesPerTrigger=1` then maps one file → one
    * micro-batch). The ordered-arrival contract the
    * [[crawlToCorpusStream]] gate pins its oracle on. */
  def stageOrderedFiles(spark: SparkSession, srcDir: String,
      parts: Seq[DataFrame]): Unit = {
    import graft.operators.IndexFs
    IndexFs.deleteRecursively(spark, srcDir)
    val fs = IndexFs.fs(spark, srcDir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
    val t0 = System.currentTimeMillis() - 3600L * 1000 // all in the past
    parts.zipWithIndex.foreach { case (df, i) =>
      val stage = s"${srcDir}_stage_$i"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file in $stage"))
      val dst = new org.apache.hadoop.fs.Path(srcDir, f"part_$i%04d.parquet")
      require(fs.rename(part, dst), s"staging rename failed: $part -> $dst")
      fs.setTimes(dst, t0 + i * 60000L, -1)
      IndexFs.deleteRecursively(spark, stage)
    }
  }

  /** Read back a `foreachBatch` stream's `<outDir>/batch_*` outputs,
    * refusing a ZERO-BATCH run loudly. The r19→r20 adjudication of
    * the "stream produced zero batches on a same-session rerun"
    * flake: the failure signature on record (`FileNotFoundException:
    * File <outDir>/batch_* does not exist`) is emitted BENIGNLY on
    * every healthy run by `FileStreamSink.hasMetadata`, which probes
    * the glob path as a literal file at read-analysis time and logs
    * the exception it catches — byte-identical text to a real
    * empty-glob failure, three occurrences per bench query (one per
    * run). 318 instrumented same-session reruns at sf0.001 (300-run
    * probe + 15-run bench protocol + a full 160-query sweep) produced
    * ZERO real failures, so the recorded evidence is consistent with
    * the benign WARN being misread under a loaded host. This guard
    * exists for the remaining tail risk: if a file-source listing
    * ever DOES come up empty, the gate now fails with the forensic
    * datum that matters — the source directory's listing at read
    * time — instead of a message indistinguishable from log noise.
    * (The WARN itself is silenced in
    * [[graft.GraftSession.silenceCheckpointReleaseWarns]].) */
  def readBatchOutputs(spark: SparkSession, outDir: String,
      srcDir: String): DataFrame = {
    val fs = graft.operators.IndexFs.fs(spark, outDir)
    val root = new org.apache.hadoop.fs.Path(outDir)
    val batches =
      if (!fs.exists(root)) 0
      else fs.listStatus(root)
        .count(s => s.isDirectory && s.getPath.getName.startsWith("batch_"))
    if (batches == 0) {
      val src = new org.apache.hadoop.fs.Path(srcDir)
      val srcFs = graft.operators.IndexFs.fs(spark, srcDir)
      val listing =
        if (!srcFs.exists(src)) "<source dir absent>"
        else srcFs.listStatus(src).take(10)
          .map(s => s"${s.getPath.getName}(len=${s.getLen}," +
            s"mtime=${s.getModificationTime})")
          .mkString(", ")
      throw new IllegalStateException(
        s"stream produced ZERO micro-batches into $outDir — the file " +
          s"source listing must have returned empty at start; source " +
          s"$srcDir currently holds: $listing")
    }
    spark.read.parquet(s"$outDir/batch_*")
  }

  /** Drives a streaming DataFrame to completion over the currently
    * available input (Trigger.AvailableNow ≙ the reference's bounded
    * scheduled run) into an in-memory table; returns the result. */
  def runAvailableNow(
      stream: DataFrame, queryName: String,
      outputMode: OutputMode = OutputMode.Append()): DataFrame = {
    val q = stream.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    stream.sparkSession.table(queryName)
  }
}
