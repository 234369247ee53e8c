package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object Bench {

  /** The host-load yardstick: a FIXED, data-independent workload (seeded
    * range → hash → aggregate, no files, no caches) timed with the same
    * [[BenchHarness.measure]] protocol as the real queries. Its absolute
    * time says nothing about the engine — it exists so two artifacts of
    * identical code on differently-loaded hosts can be compared by
    * query÷calibration RATIO instead of needing a judge rerun (rounds 5
    * and 6 both burned one on exactly this). Sized to a few hundred ms:
    * long enough to feel scheduler pressure, cheap enough to run 3×. */
  def calibrationBody(spark: SparkSession)(): Unit = {
    // materialize through head(), NOT count(): counting the grouped agg
    // lets ColumnPruning drop the hash/sum columns entirely, and the
    // yardstick would silently measure a lighter plan than documented
    spark.range(0L, 4000000L, 1L, 8)
      .select(pmod(col("id"), lit(4096)).as("k"), xxhash64(col("id")).as("h"))
      .groupBy(col("k"))
      .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
      .select(sum(col("s")).as("t"), sum(col("n")).as("m"))
      .head()
    ()
  }

  /** The second yardstick: a FIXED, data-independent workload that is
    * exchange-bound rather than CPU-bound — a seeded repartition + forced
    * sort-merge join (the `merge` hint keeps it a real two-sided shuffle
    * even though both sides are tiny enough to broadcast). The r7 lesson:
    * the CPU-only row demonstrably fails to normalize shuffle-heavy
    * queries (three same-code queries moved >2× in query÷calibration
    * ratio between two r7 artifacts of the SAME commit, because shuffle
    * cost responds to host disk/scheduler pressure differently than
    * hash-aggregate CPU does). Drift checks now compare each query
    * against BOTH rows and warn only when BOTH ratios move >2× — a query
    * whose plan lives nearer one yardstick stays calm under the other. */
  def calibrationShuffleBody(spark: SparkSession)(): Unit = {
    val a = spark.range(0L, 1000000L, 1L, 8)
      .select(pmod(xxhash64(col("id")), lit(65536)).as("k"), col("id").as("va"))
    val b = spark.range(0L, 1000000L, 1L, 8)
      .select(pmod(xxhash64(col("id") + 7L), lit(65536)).as("k"), col("id").as("vb"))
    a.hint("merge").join(b, "k")
      .select(sum(col("va") + col("vb")).as("t"), count(lit(1)).as("n"))
      .head()
    ()
  }

  /** The per-run interleaved micro-calibration (r12, the BENCH_r11
    * lesson: load arrived and left mid-sweep, so the two end-of-sweep
    * yardsticks read ~clean while five queries were 5× inflated — a
    * load sample is only meaningful from the SAME host window as the
    * query run it normalizes). A ~0.2 s blend of the two big yardsticks'
    * shapes — hash-aggregate CPU AND a real two-sided merge-join
    * exchange — so both CPU-bound and shuffle-bound queries scale with
    * it under load. Runs once before EVERY query run (~82×3 ≈ 50 s per
    * sweep — the price of an artifact that can't lie). Fixed seed/size:
    * its idle-host time is pinned as [[BenchHarness.calRefSeconds]];
    * changing this body requires re-pinning that constant. */
  def microCalibrationBody(spark: SparkSession)(): Unit = {
    microCalibrationFrame(spark).head()
    ()
  }

  /** The micro-calibration's plan as a FRAME, so the workload the pinned
    * [[BenchHarness.calRefSeconds]] was measured on can be FINGERPRINTED
    * ([[microCalibrationFingerprint]]) instead of trusted. */
  def microCalibrationFrame(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    val a = spark.range(0L, 400000L, 1L, 4)
      .select(pmod(xxhash64(col("id")), lit(8192)).as("k"), col("id").as("va"))
    val b = spark.range(0L, 400000L, 1L, 4)
      .select(pmod(xxhash64(col("id") + 7L), lit(8192)).as("k"), col("id").as("vb"))
    a.hint("merge").join(b, "k")
      .groupBy(col("k")).agg(sum(col("va") + col("vb")).as("s"), count(lit(1)).as("n"))
      .select(sum(col("s")).as("t"), sum(col("n")).as("m"))
  }

  /** Bench default worker count AND shuffle width — part of what the
    * pinned [[BenchHarness.calRefSeconds]] is valid for, so it is named
    * here and folded into [[microCalibrationFingerprint]]. */
  val defaultCpus = "4"

  /** Fingerprint of everything [[BenchHarness.calRefSeconds]] was pinned
    * AGAINST: the micro-calibration's canonicalized optimized logical
    * plan (stable across sessions — expression ids are normalized; it
    * changes whenever the body's shape, sizes, seeds or the Spark
    * version change) plus the default bench config. A silent edit to
    * either would skew every future `value_norm` with no alarm — so the
    * pinned [[BenchHarness.calRefFingerprint]] is asserted against this
    * in BenchFingerprintSpec, and changing the body without re-pinning
    * the reference (instrument: [[graft.tools.CalRefProbe]], which
    * prints both) fails the build. */
  def microCalibrationFingerprint(spark: SparkSession): String = {
    val plan = microCalibrationFrame(spark)
      .queryExecution.optimizedPlan.canonicalized.toString
    val src = plan +
      s"|master=local[$defaultCpus]|spark.sql.shuffle.partitions=$defaultCpus"
    java.security.MessageDigest.getInstance("MD5")
      .digest(src.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** One tiny KMeans fit (16 vectors, k=2, 1 iteration) — absorbs
    * spark.ml's first-use class-load/codegen so it lands in warm-up,
    * never in a measured query's run 1. Deterministic and
    * data-independent, like the calibration bodies. */
  def warmSparkMl(spark: SparkSession): Unit = {
    val vecs = spark.range(0L, 16L)
      .select(col("id").as("vec_id"),
        array((0 until 4).map(i =>
          pmod(col("id") + lit(i), lit(7)).cast("float")): _*).as("v"))
    graft.operators.Similarity.kmeansCentroids(
      vecs, "v", nCentroids = 2, maxIter = 1).count()
    ()
  }

  def main(args: Array[String]): Unit = {
    // Pin the JVM's temp root to a FRESH per-invocation directory (r16,
    // VERDICT r15 watch item): the streaming-window rows create temp
    // checkpoints + state stores under java.io.tmpdir every run, an
    // axis no calibration yardstick tracks — r15's +0.5 s drift on
    // untouched q_stream_sliding/tumbling/running_totals reproduced on
    // an idle host, consistent with /tmp aging (directory-entry growth
    // in a shared, never-reset root). A fresh root per bench run makes
    // the measurement independent of how many prior sweeps this host
    // ran. Must happen before the session exists — Spark's local dirs
    // and every temp checkpoint resolve the property lazily per use,
    // but the staged-input helpers cache paths keyed on it.
    val scratchRoot = java.nio.file.Files
      .createTempDirectory("graft_bench_scratch_")
    sys.props("java.io.tmpdir") = scratchRoot.toString
    sys.addShutdownHook {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p,
            java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      try rm(scratchRoot) catch { case _: Exception => }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    // ≥3 attempts per query: min isolates steady-state cost (one-time
    // Janino/shuffle init lands on whichever run hits it first), median
    // shows dispersion — the signal that separates a real plan regression
    // from a loaded host (see BenchHarness).
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.silenceCheckpointReleaseWarns()
    // Warm the session (codegen compiler, parquet footer reads, shuffle
    // machinery) so the first timed query doesn't absorb JVM spin-up.
    try SparkEntry.queries.headOption.foreach(_._2(spark, sfDir).count())
    catch { case _: Throwable => }
    // ... and the micro-calibration's own plan (Janino compile + first
    // exchange), so query 1's first interleaved sample isn't inflated.
    try { microCalibrationBody(spark)(); microCalibrationBody(spark)() }
    catch { case _: Throwable => }
    // ... and spark.ml: the FIRST KMeans fit in a JVM pays class-load +
    // codegen (~3.5 s: q_ann_ivf_topk's first run takes 5.12 s against
    // a steady 1.44 s), so without this a fitting query's min
    // depends on whether an earlier sweep entry already fitted a model
    // — sweep reordering between rounds moved the ivf rows for exactly
    // this reason (the r13 "residual": steady-state min ≡ the fit-once
    // q_ann_ivf_loaded path, 1.435 vs 1.412 s probed same-host).
    try warmSparkMl(spark) catch { case _: Throwable => }

    // Each run fully materializes the query (count()) before
    // GraftSession.releasingScratch releases the pins made in it
    // (localCheckpoint scratch of the dedup/similarity queries), outside
    // the captured time — so a 60+-query session never accumulates
    // block-manager pressure that distorts later timings (observed: same
    // query 8 s fresh vs 40+ s after five checkpointing queries).
    // Iterating SparkEntry.queries ITSELF pins the bench to the exact
    // correctness key set — the artifacts can't silently diverge.
    // Optional name filter (comma-separated substrings) for local
    // iteration and the load-robustness validation runs — the driver
    // never sets it, so round artifacts always cover the full key set.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val selected = SparkEntry.queries.toSeq.filter { case (name, _) =>
      filter.isEmpty || filter.exists(name.contains)
    }
    // Interleaved protocol (r12): micro-calibration → query, per run, so
    // every timing carries a load sample from its own host window; the
    // normalized column is computed against the PINNED idle reference
    // (see BenchHarness.calRefSeconds for why it cannot be in-artifact).
    val paired = selected.map { case (name, fn) =>
      name -> BenchHarness.measureInterleaved(runs)(microCalibrationBody(spark)) { () =>
        GraftSession.releasingScratch(spark) { fn(spark, sfDir).count(); () }
      }
    }
    val stats = paired.map { case (n, p) => n -> p.stat }
    val norms = paired.map { case (n, p) => n -> p.normalized() }
    // calibration AFTER the sweep: it samples the same host window the
    // queries just ran in (before-the-sweep would measure a colder, often
    // quieter machine)
    val calibration = BenchHarness.measure(runs)(calibrationBody(spark))
    val calibrationShuffle =
      BenchHarness.measure(runs)(calibrationShuffleBody(spark))

    // detail → queries_compact → contract LAST: the driver keeps only
    // the log tail, so truncation eats diagnostics top-down; the last
    // TWO lines (compact per-query array + size-bounded contract) fit
    // the window together by tested construction, so the driver
    // artifact carries every per-query value AND the headline total.
    // The full NAMED maps go to bench_out.json only (r13 — BENCH_r12's
    // tail kept 57/84 named rows).
    val detail = BenchHarness.detailLine(runs, stats)
    val queriesL = BenchHarness.queriesLine(stats, norms)
    val compact = BenchHarness.queriesCompactLine(stats, norms)
    // Rows with no (cal, query) pair fall back to their RAW headline in
    // the normalized sum (a hole would misreport the total more than an
    // unnormalized row does) — but the contract line COUNTS them
    // (`norm_fallback`), so value_norm can never silently mix loaded-
    // host seconds: non-zero fallback means read queries_norm's nulls.
    val normTotal =
      if (norms.exists(_._2.isDefined))
        Some(paired.map { case (_, p) =>
          p.normalized().getOrElse(p.stat.headline) }.sum)
      else None
    val json = BenchHarness.jsonLine(sfDir, runs, stats, Some(calibration),
      Some(calibrationShuffle), normTotal, paired.flatMap(_._2.calTimes),
      normFallback = norms.count(_._2.isEmpty))
    println(detail)
    println(compact)
    println(json)
    // a throwing query must fail the round LOUDLY, not just in-band
    stats.collect { case (n, st) if st.err.isDefined => n -> st.err.get }
      .foreach { case (n, e) => System.err.println(s"[bench] QUERY FAILED $n: $e") }
    // also land the metrics as a FILE so the bench is machine-readable
    // without scraping [info]-prefixed sbt stdout (overridable path);
    // the file keeps the FULL named per-query line the stdout artifact
    // no longer carries
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (detail + "\n" + queriesL + "\n" + compact + "\n" + json + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
    if (stats.exists(_._2.err.isDefined)) sys.exit(1)
  }
}
