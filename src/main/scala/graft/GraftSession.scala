package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the engine's required settings.
  *
  * - `spark.sql.ansi.enabled=false`: the reference's casts are tolerant —
  *   failures become nulls (`tasks/process.py:22`, `tasks/extract.py:95`);
  *   Spark 4 defaults ANSI on, which would turn them into errors.
  * - `spark.sql.session.timeZone=UTC`: timestamp↔epoch arithmetic parity
  *   with the (naive-UTC) parquet testdata and the DuckDB oracle.
  * - AQE on: runtime coalescing of shuffle partitions + skew-join
  *   splitting — the knobs that keep the same plans healthy at 100 TB.
  */
object GraftSession {

  /** The settings every engine session carries — applied by both
    * [[builder]] and [[configure]], so no entry point spells its own.
    *
    * The two `spark.hadoop.` keys bind `file:` to [[LocalFsBinding]].
    * `FileContext` (the index and manifest commits of `IndexFs`) reads
    * its binding from the Hadoop conf on every lookup, so it follows
    * these keys in every session. Spark's own reads and writes go
    * through the JVM-wide `FileSystem` cache instead, which keeps the
    * first `file:` `FileSystem` the JVM built: they use the binding only
    * when that first one was built from a conf carrying these keys, as
    * in a JVM whose first session comes from [[builder]]. */
  private val settings = Seq(
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // Parquet TIMESTAMP(NANOS) (events.ts) has no Spark type; read the
    // raw nanos as long — Scan.table converts to a microsecond timestamp,
    // matching DuckDB's nanos→micros truncation.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // A read over more than the threshold's paths lists them in a Spark
    // job. At Spark's default of 32, a batch read of 40 partition dirs
    // ran a 40-task listing job: 0.24–0.33 s of wall time and 0.7–0.9 s
    // of summed task deserialization, for listings the driver does in a
    // few milliseconds. A few hundred paths stay on the driver.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "256",
    "spark.hadoop.fs.file.impl" -> classOf[LocalFsBinding.FileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[LocalFsBinding.AbstractFs].getName)

  private val hadoopPrefix = "spark.hadoop."

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config(settings.toMap)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")

  /** The local entry points' session (`Bench`, `Verify`, the probes):
    * `cores` workers and a shuffle width of `cores`. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", math.max(cores, 1)).getOrCreate()

  /** THE job-label seam: runs `body` with a `label` function that sets
    * this thread's job description to `prefix:stage`, attributing the
    * jobs after it in the UI and [[graft.tools.JobProbe]], and restores
    * the caller's description in a finally — so a flow's last label
    * never rides the caller's later jobs, whether `body` returns or
    * throws. */
  def withJobLabels[T](spark: SparkSession, prefix: String)(
      body: (String => Unit) => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    try body(stage => sc.setJobDescription(s"$prefix:$stage"))
    finally sc.setJobDescription(caller)
  }

  /** Shuffle-partition count that tracks input size — SCALE.md knob #2
    * (the measured 100× fix: per-task shuffle/agg state stays
    * heap-bounded only when partitions grow with rows; fixed-width
    * shuffles OOM'd the candidate-distinct at 100×). One partition per
    * `rowsPerPartition` input rows, floored at `cores` (one task per 64
    * rows below 64·cores rows) and capped at 6 tasks/core — measured:
    * past ~6 tasks/core single-JVM scheduling overhead dominates
    * (11.7 s → 55.8 s for the same sweep at 800 partitions). On a real cluster
    * `cores` is the executor-core total, so the cap scales with the
    * fleet. Operators consume this via their `numPartitions` default —
    * explicit repartition-by-key nodes, so the width binds in the plan
    * (a session-conf set inside a lazily-evaluated operator would not). */
  def partitionsFor(nRows: Long, cores: Int,
      rowsPerPartition: Long = 2500L): Int = {
    val c = math.max(1, cores).toLong
    val rpp = math.max(1L, rowsPerPartition)
    def ceilDiv(a: Long, b: Long) = (a + b - 1) / b
    // below 64·cores rows the width is one task per 64 rows, not
    // `cores`: a task's fixed cost (~100 ms on the large plans) outweighs
    // a smaller task's work, and a cores-wide exchange over a few hundred
    // rows made the driver bench slower at local[32] than at local[8].
    // From 64·cores rows on, it is one task per `rowsPerPartition` rows,
    // floored at `cores` and capped at 6×cores.
    val byRows = nRows / rpp
    math.max(math.min(c, ceilDiv(nRows, 64L)),
      math.min(6L * c, byRows)).max(1L).toInt
  }

  /** [[partitionsFor]] with cores from the session. */
  def partitionsFor(spark: SparkSession, nRows: Long): Int =
    partitionsFor(nRows, spark.sparkContext.defaultParallelism)

  /** Shuffle width from the PLAN, not the data: the optimizer's size
    * estimate divided by `spark.sql.files.maxPartitionBytes` (the same
    * split arithmetic the file scan uses), clamped to the [cores,
    * 6×cores] band of [[partitionsFor]]. Reads ONLY
    * `optimizedPlan.stats` — logical statistics come from the file
    * index (scan-shaped inputs) or size propagation (computed
    * projections) and NEVER schedule a job. The earlier `.rdd
    * .getNumPartitions` spelling was job-free only for scan-shaped
    * plans: with AQE on (this session's default) `Dataset.rdd` forces
    * `getFinalPhysicalPlan()`, EXECUTING every upstream exchange as a
    * real job that the subsequent repartitionByRange pass then re-ran
    * — double execution for join/aggregate-shaped inputs to Packing /
    * Ranking / Sampling. The estimate is coarse for computed plans
    * (propagated sizes over-count pruned columns), but the band clamp
    * makes precision irrelevant: any estimate lands within 6× of
    * cores, which is the whole decision space. */
  def partitionsForPlan(df: org.apache.spark.sql.DataFrame): Int = {
    val spark = df.sparkSession
    val cores = math.max(1, spark.sparkContext.defaultParallelism)
    val maxPart = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val byBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes / maxPart
    byBytes.min(BigInt(6L * cores)).max(BigInt(cores)).toInt
  }

  /** Round-robin-spread a SMALL input before an expensive map stage
    * (explode + per-feature hashing, heavyweight regex/BPE projections)
    * — guide §2.5's "input skew: one unsplittable file → repartition
    * immediately after the read". A scan of a file smaller than
    * `cores × maxPartitionBytes` yields fewer splits than cores, so an
    * explode- or regex-amplified map stage runs on a handful of tasks
    * (measured: the DSIR LM fit and the QC scoring pass each ran as ONE
    * task over the single-split documents scan — seconds of serial
    * compute with 31 idle cores). Spreading costs one exchange of the
    * SMALL input, bounded by the same threshold that triggers it.
    *
    * No-op when the input already fills every core's scan split (at
    * scale the scan is parallel by itself; round-robin repartitioning
    * a 100 TB corpus would be the bug, not the fix). The decision sums
    * the LEAF scans' `stats.sizeInBytes` — never schedules a job (the
    * [[partitionsForPlan]] posture) — because whole-plan estimates
    * multiply through joins/windows (a 600 KB scan behind the URL
    * screens reports 10²⁰ bytes) and would silently disable the
    * spread exactly where it matters. Caveat: a genuinely exploding
    * join above small leaves would be spread too — the exchange then
    * costs one extra pass over data the downstream map stage must walk
    * anyway, bounded by the same work it parallelizes. Result-safe for
    * the keyed aggregates/joins downstream of every call site:
    * round-robin placement changes which task holds a row, never the
    * row set. */
  def spreadSmallInput(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = math.max(1, spark.sparkContext.defaultParallelism)
    val maxPart = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val leafBytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    // width = cores: a width of 8 (measured) sped the large crawl stages
    // up a little but slowed the compute-dense DSIR fit 1.6×, whose
    // per-row explode+md5 work outweighs the per-task cost.
    if (leafBytes < BigInt(maxPart) * cores) df.repartition(cores)
    else df
  }

  /** How long [[concurrently]] waits for its legs; past it every leg is
    * cancelled and the call throws a `TimeoutException`. */
  private val LegTimeout: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(3600, "s")

  private val legThreads: java.util.concurrent.ThreadFactory = { r =>
    val t = new Thread(r, "graft-leg")
    t.setDaemon(true) // a stuck leg must never pin the JVM open after main
    t
  }

  /** THE driver-side concurrency seam: a fork-join over independent
    * legs (guide §2.6 — actions are only sequential because the driver
    * calls them sequentially), results in input order.
    *
    *  - Each call gets its own pool of at most `maxThreads` daemon
    *    threads; fewer than two legs run on the caller's thread.
    *  - Each leg starts with the caller's job description, job tags and
    *    scratch scope (so its pins are released with the caller's
    *    scope), plus its own job tag with interrupt-on-cancel.
    *  - The first leg to throw cancels its siblings' jobs (again on every
    *    poll, so a sibling between two jobs cannot start a fresh one),
    *    legs that have not started are skipped, and the call returns
    *    only when every leg has — then rethrows that first exception,
    *    unwrapped. Nothing a leg started is left running behind it. */
  def concurrently[T](spark: SparkSession, maxThreads: Int)(
      legs: Seq[() => T]): Seq[T] = {
    if (legs.lengthCompare(2) < 0) return legs.map(_())
    val sc = spark.sparkContext
    val description = sc.getLocalProperty("spark.job.description")
    val callerTags = sc.getJobTags()
    val callerScope = scope.get
    val fork = java.util.UUID.randomUUID().toString
    val tags = legs.indices.map(i => s"graft-leg-$fork-$i")
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def cancel(except: Int): Unit = tags.indices.filter(_ != except)
      .foreach(j => sc.cancelJobsWithTag(tags(j), "a sibling leg failed"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxThreads, legs.size)), legThreads)
    val results = legs.zipWithIndex.map { case (leg, i) =>
      pool.submit[T] { () =>
        Option(failure.get).foreach(e => throw e) // a sibling failed: skip
        sc.setJobDescription(description)
        sc.clearJobTags()
        (callerTags + tags(i)).foreach(sc.addJobTag)
        sc.setInterruptOnCancel(true)
        scope.set(callerScope)
        try leg()
        catch {
          case e: Throwable =>
            if (failure.compareAndSet(null, e)) cancel(i)
            throw e
        }
      }
    }
    pool.shutdown()
    val deadline = System.nanoTime() + LegTimeout.toNanos
    var done = false
    while (!done) {
      try done = pool.awaitTermination(50, java.util.concurrent.TimeUnit.MILLISECONDS)
      catch { case e: InterruptedException => failure.compareAndSet(null, e) }
      if (!done && failure.get != null) cancel(-1)
      if (!done && System.nanoTime() > deadline) {
        cancel(-1)
        pool.shutdownNow()
        throw new java.util.concurrent.TimeoutException(
          s"legs still running after $LegTimeout")
      }
    }
    Option(failure.get).foreach(e => throw e)
    results.map(_.get())
  }

  /** [[concurrently]] for two legs of different types. */
  def concurrently[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = concurrently[Any](spark, 2)(Seq(() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  /** Conf key selecting the scratch strategy for [[pin]]: unset (the
    * default) pins with `localCheckpoint(eager = true)` — executor
    * block storage, the fastest choice in local mode and on healthy
    * clusters; set to a directory URI, pins round-trip through parquet
    * under it — CLUSTER-DURABLE scratch that survives executor loss,
    * the right choice for long multi-stage jobs on preemptible fleets
    * (a lost executor invalidates localCheckpoint blocks and kills the
    * job, because truncated lineage cannot recompute). The caller owns
    * the directory's lifecycle (point it at job-temp storage). */
  val ScratchDirKey = "spark.graft.scratchDir"

  /** Materialize an intermediate that is consumed more than once (or
    * must be frozen before its inputs mutate — the dedup operators'
    * signature pinning), cutting lineage either way. THE single scratch
    * seam: every composed operator pins through here, so switching
    * [[ScratchDirKey]] moves the whole engine between local-fast and
    * cluster-durable scratch with no operator changes — spec-proven
    * equivalent (GraftSessionSpec). The pin is owned by the current
    * [[releasingScratch]] scope (none: the caller owns it).
    *
    * Contract: pin preserves VALUES, not physical structure — the
    * parquet strategy reassembles partitions by file-size bin-packing
    * and keeps no ordering. An operator whose later passes read the
    * materialized frame's partition index or within-partition order
    * (e.g. [[graft.operators.Packing]]'s prefix sum) pins with
    * [[localPin]] instead. */
  def pin(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(ScratchDirKey) match {
      case Some(root) =>
        val path = s"$root/pin-${java.util.UUID.randomUUID().toString}"
        df.write.mode("overwrite").parquet(path)
        own(df.sparkSession.read.parquet(path))
      case None => localPin(df)
    }

  /** [[pin]] that always uses `localCheckpoint`, keeping the partition
    * layout and within-partition order of `df`. */
  def localPin(df: DataFrame): DataFrame = own(df.localCheckpoint(true))

  /** Releases a pin before its scope ends — for loops whose superseded
    * snapshots would otherwise pile up until the scope closes. */
  def unpin(df: DataFrame): Unit = handleOf(df).foreach { h =>
    Option(scope.get).foreach(_.remove(h))
    release(df.sparkSession, h)
  }

  /** `.pinScratch()` — the postfix spelling of [[pin]], so call sites
    * read like the `.localCheckpoint(true)` chains they replace. */
  implicit final class Pinnable(private val df: DataFrame) extends AnyVal {
    def pinScratch(): DataFrame = pin(df)
  }

  /** The scratch a pin's returned frame reads: the RDD a local
    * checkpoint persisted (its `LogicalRDD`), or the directory a parquet
    * pin wrote (the root of its scan). */
  private def handleOf(df: DataFrame): Option[AnyRef] =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD => Some(r.rdd)
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.headOption
          case _ => None
        }
      case _ => None
    }

  private def release(spark: SparkSession, scratch: AnyRef): Unit = scratch match {
    case rdd: org.apache.spark.rdd.RDD[_] => rdd.unpersist(blocking = false)
    case dir: org.apache.hadoop.fs.Path =>
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
  }

  /** The scratch owned by the innermost open [[releasingScratch]] on
    * this thread (legs of [[concurrently]] share their caller's). */
  private val scope =
    new ThreadLocal[java.util.concurrent.ConcurrentLinkedQueue[AnyRef]]

  private def own(pinned: DataFrame): DataFrame = {
    for (s <- Option(scope.get); h <- handleOf(pinned)) s.add(h)
    pinned
  }

  /** Runs `body` in a fresh scratch scope, then releases exactly the
    * pins made in it — by this thread or by the [[concurrently]] legs it
    * spawns — and nothing else: enclosing scopes, sibling legs and
    * caller-kept pins are untouched. Release runs in a finally, so a
    * failed query never leaks its scratch into the sessions that
    * follow. */
  def releasingScratch[T](spark: SparkSession)(body: => T): T = {
    val outer = scope.get
    val mine = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    scope.set(mine)
    try body
    finally {
      scope.set(outer)
      mine.asScala.foreach(release(spark, _))
    }
  }

  /** The deliberate scratch release above logs a "lineage truncated,
    * cannot be recomputed" WARN per localCheckpoint block — noise when
    * the release is by design (every consumer is done). Silences exactly
    * that logger; call once per CLI main. */
  def silenceCheckpointReleaseWarns(): Unit = {
    org.apache.logging.log4j.core.config.Configurator
      .setLevel("org.apache.spark.rdd.MapPartitionsRDD",
        org.apache.logging.log4j.Level.ERROR)
    // FileStreamSink.hasMetadata probes every batch-read GLOB path as a
    // literal file and logs the FileNotFoundException it catches — a
    // WARN whose message is byte-identical to a REAL empty-glob read
    // failure ("File <dir>/batch_* does not exist"). It appears on every
    // healthy run (3× per bench query; 318 instrumented same-session
    // reruns showed no real failure behind it), so the probe's logger
    // is silenced; a REAL zero-batch stream fails loudly in
    // [[graft.streaming.StreamingOps.readBatchOutputs]] instead.
    org.apache.logging.log4j.core.config.Configurator
      .setLevel(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
        org.apache.logging.log4j.Level.ERROR)
  }

  /** Applies [[settings]] to an externally-built session: the SQL keys
    * to its conf, the `spark.hadoop.` keys to its Hadoop conf. */
  def configure(spark: SparkSession): SparkSession = {
    settings.foreach {
      case (k, v) if k.startsWith(hadoopPrefix) =>
        spark.sparkContext.hadoopConfiguration.set(k.stripPrefix(hadoopPrefix), v)
      case (k, v) => spark.conf.set(k, v)
    }
    spark
  }
}
