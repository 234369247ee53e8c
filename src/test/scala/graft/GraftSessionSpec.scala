package graft

import org.apache.spark.sql.functions._

/** The scratch-strategy seam: every composed operator pins
  * intermediates through [[GraftSession.pin]], so flipping
  * `spark.graft.scratchDir` moves the whole engine from
  * localCheckpoint (local-fast) to parquet scratch (cluster-durable,
  * survives executor loss) — results must be identical both ways. */
class GraftSessionSpec extends SparkSpec {

  private def withScratchDir[T](body: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_scratch").toString
    spark.conf.set(GraftSession.ScratchDirKey, dir)
    try body finally spark.conf.unset(GraftSession.ScratchDirKey)
  }

  test("pin: parquet strategy round-trips rows and cuts lineage to a scan") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val local = GraftSession.pin(df) // default: localCheckpoint
    assert(local.collect().toSet == df.collect().toSet)
    withScratchDir {
      val pinned = GraftSession.pin(df)
      assert(pinned.collect().toSet == df.collect().toSet)
      // the pinned frame is a genuine parquet scan (durable, re-readable
      // by any executor), not a persisted-RDD view
      assert(pinned.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]))
    }
  }

  test("releasingScratch reclaims parquet pins created in its scope (the crawl-loop leak)") {
    import spark.implicits._
    val df = (1L to 10L).toDF("id")
    withScratchDir {
      val root = spark.conf.get(GraftSession.ScratchDirKey)
      def pinDirs() = java.nio.file.Files.list(java.nio.file.Paths.get(root))
        .filter(_.getFileName.toString.startsWith("pin-")).count()
      // a pin OUTSIDE any scope stays (caller-managed)
      val outside = GraftSession.pin(df)
      assert(pinDirs() == 1)
      // pins INSIDE the scope are reclaimed once the scope ends; the
      // pre-existing one is untouched and stays readable
      GraftSession.releasingScratch(spark) {
        assert(GraftSession.pin(df).count() == 10)
        assert(GraftSession.pin(df).count() == 10)
        assert(pinDirs() == 3)
        // a nested scope releases its own pins and nothing else
        GraftSession.releasingScratch(spark) {
          assert(GraftSession.pin(df).count() == 10)
          assert(pinDirs() == 4)
        }
        assert(pinDirs() == 3)
        // pins made inside concurrently legs belong to the caller's
        // scope: they outlive the legs and stay readable
        val (l1, l2) = GraftSession.concurrently(spark)(
          GraftSession.pin(df), GraftSession.pin(df))
        assert(pinDirs() == 5)
        assert(l1.count() == 10 && l2.count() == 10)
        // an early unpin reclaims exactly that pin
        GraftSession.unpin(l1)
        assert(pinDirs() == 4)
        assert(l2.count() == 10)
      }
      assert(pinDirs() == 1)
      assert(outside.count() == 10)
    }
  }

  test("concurrently: overlapped legs, input order, original exceptions") {
    // 64 simulated 20 ms round-trips: serial would be ≥1.28 s, 16
    // threads must land well under half that (generous bound — CI
    // hosts stall; the point is overlap happened at all)
    val t0 = System.nanoTime()
    val got = GraftSession.concurrently(spark, 16)(
      (1 to 64).map(i => () => { Thread.sleep(20); i * 2 }))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(got == (1 to 64).map(_ * 2), "results must come back in input order")
    assert(sec < 0.64, f"expected overlapped execution, took $sec%.2f s")
    // the ORIGINAL exception surfaces, not an ExecutionException wrapper
    val e = intercept[IllegalStateException] {
      GraftSession.concurrently(spark, 16)((1 to 8).map(i => () =>
        if (i == 3) throw new IllegalStateException("boom-3") else i))
    }
    assert(e.getMessage == "boom-3")
    // degenerate inputs stay on the caller thread
    val caller = Thread.currentThread()
    assert(GraftSession.concurrently(spark, 16)(
      Seq(() => Thread.currentThread() eq caller)) == Seq(true))
    assert(GraftSession.concurrently(spark, 16)(Seq.empty[() => Int]).isEmpty)
  }

  test("concurrently: a failing leg cancels its sibling's running job and rethrows its own exception") {
    val sc = spark.sparkContext
    val boom = new IllegalStateException("boom")
    val siblingReturned = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      GraftSession.concurrently(spark)(
        // the sibling's cleanup outlasts its cancelled job: the call must
        // wait for it, not just for the job
        try GraftSessionSpec.sleepingJob(spark)
        finally { Thread.sleep(300); siblingReturned.set(true) },
        {
          assert(GraftSessionSpec.sleeperStarted.await(60, java.util.concurrent.TimeUnit.SECONDS))
          throw boom
        })
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(e eq boom, s"expected the failing leg's own exception, got $e")
    assert(siblingReturned.get, "the exception escaped before the sibling leg returned")
    assert(org.apache.spark.scheduler.DagProbe.activeJobs(sc) == 0,
      "the sibling's job must be gone before the exception escapes")
    assert(sec < 30, f"the sibling's 60 s tasks were not cancelled ($sec%.1f s)")
    // interrupt-on-cancel reached the sibling's task threads
    val until = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!GraftSessionSpec.sleeperInterrupted.get && System.nanoTime() < until)
      Thread.sleep(20)
    assert(GraftSessionSpec.sleeperInterrupted.get)
  }

  test("concurrently: two distributed connectedComponents legs never release each other's checkpoints") {
    import spark.implicits._
    val sc = spark.sparkContext
    // two disjoint chain graphs; driverUnionFindLimit = 0 forces the
    // distributed star-contraction loop, whose superseded per-round
    // snapshots are unpinned while the sibling leg is mid-loop
    val g1 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("d1", "d2")
    val g2 = Seq((11L, 12L), (13L, 12L), (14L, 13L)).toDF("d1", "d2")
    def components(g: org.apache.spark.sql.DataFrame) =
      graft.operators.TextDedup.connectedComponents(g, driverUnionFindLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want1 = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L)
    val want2 = Map(11L -> 11L, 12L -> 11L, 13L -> 11L, 14L -> 11L)
    // the registry holds its RDDs weakly: an earlier suite's unreachable
    // pin may vanish at any GC, so compare ids, not sizes
    def persisted() = sc.getPersistentRDDs.keySet.toSet
    val before = persisted()
    (1 to 18).foreach { round =>
      val (c1, c2) = GraftSession.releasingScratch(spark) {
        val out = GraftSession.concurrently(spark)(components(g1), components(g2))
        // the final node/edge snapshots stay pinned until the scope ends
        assert((persisted() -- before).size == 4, s"round $round")
        out
      }
      assert(c1 == want1 && c2 == want2, s"round $round")
      val left = persisted() -- before
      assert(left.isEmpty, s"round $round left persisted RDD(s) $left")
    }
  }

  test("composed flow (curate → dedup-against-index → append → pack) is strategy-invariant") {
    // the REAL capstone flow on the real corpus — the same spelling
    // q_training_data_e2e gates — run under both scratch strategies
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(): Set[org.apache.spark.sql.Row] = {
      val idx = java.nio.file.Files.createTempDirectory("scratch_idx").toString
      graft.queries.TrainingDataQueries.ingestFlow(docs, idx)
        .collect().toSet
    }
    val viaLocal = run()
    val viaParquet = withScratchDir(run())
    assert(viaLocal.nonEmpty)
    assert(viaParquet == viaLocal)
  }

  test("withJobLabels: a flow leaves the caller's job description as it found it, on return and on throw") {
    import spark.implicits._
    val sc = spark.sparkContext
    def description = sc.getLocalProperty("spark.job.description")
    val raw = Seq((1L, "<html><body><p>the quick brown fox jumps over the lazy dog</p></body></html>"))
      .toDF("doc_id", "html")
    val labeled = graft.sources.Scan.table(spark, "/root/testdata/sf0.001", "documents")
    try {
      for (caller <- Seq("caller's label", null)) {
        sc.setJobDescription(caller)
        GraftSession.withJobLabels(spark, "t") { label =>
          label("stage")
          assert(description == "t:stage")
        }
        assert(description == caller)
        intercept[IllegalStateException] {
          GraftSession.withJobLabels(spark, "t") { label =>
            label("stage")
            throw new IllegalStateException("stage failed")
          }
        }
        assert(description == caller)
        // the crawl flow labels its eager stages (a pin, the NB fit)
        graft.queries.HtmlQueries.crawlFlow(raw, labeled)
        assert(description == caller)
        // ... and throws from its NB fit when the labels column is missing
        intercept[Exception](graft.queries.HtmlQueries.crawlFlow(raw, labeled.drop("lang")))
        assert(description == caller)
      }
    } finally sc.setJobDescription(null)
  }

  test("partitionsForPlan schedules NO job, even for aggregate-shaped plans under AQE") {
    import spark.implicits._
    // an exchange-bearing plan: the old Dataset.rdd spelling would
    // force AQE's getFinalPhysicalPlan() and EXECUTE the shuffle here
    val agg = (1L to 10000L).toDF("id")
      .groupBy(col("id") % 7).agg(count(lit(1)).as("n"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val p = GraftSession.partitionsForPlan(agg.toDF())
      Thread.sleep(500) // listener bus is async; job-start events land fast
      val cores = spark.sparkContext.defaultParallelism
      assert(p >= cores && p <= 6 * cores)
      assert(jobs.get() == 0, s"partitionsForPlan ran ${jobs.get()} job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a read of 40 partition dirs lists them on the driver: no job, on a builder session and a configured one") {
    import org.apache.spark.scheduler.DagProbe
    val root = java.nio.file.Files.createTempDirectory("graft_listing").toString + "/t"
    spark.range(0, 40).select(col("id").as("b"), col("id").as("v"))
      .write.partitionBy("b").parquet(root)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("v", "long").add("b", "long")
    def listingJobs(s: org.apache.spark.sql.SparkSession): Int =
      DagProbe.jobsDuring(spark.sparkContext)(s.read.schema(schema).parquet(root))._2
    assert(listingJobs(spark) == 0, "the builder's session")
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val other = spark.newSession()
    other.conf.unset(key)
    assert(listingJobs(other) == 1, "at Spark's default threshold the read lists in a job")
    GraftSession.configure(other)
    assert(listingJobs(other) == 0, "a configured session")
    assert(other.read.schema(schema).parquet(root).count() == 40)
  }
}

object GraftSessionSpec {
  val sleeperStarted = new java.util.concurrent.CountDownLatch(1)
  val sleeperInterrupted = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** A job whose tasks sleep 60 s unless interrupted. Defined here, not
    * in the suite, so the task closure captures no suite instance. */
  def sleepingJob(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sparkContext.parallelize(1 to 2, 2).map { i =>
      sleeperStarted.countDown()
      try Thread.sleep(60000)
      catch { case _: InterruptedException => sleeperInterrupted.set(true) }
      i
    }.count()
}
