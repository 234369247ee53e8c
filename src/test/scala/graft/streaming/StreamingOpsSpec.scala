package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.operators.Windows
import graft.sources.Scan

class StreamingOpsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming tumbling counts equal the batch tumbling aggregate") {
    val stream = StreamingOps.readEventsStream(spark, sfDir)
    val streamed = StreamingOps.runAvailableNow(
      StreamingOps.tumblingCounts(stream, "1 hour", "0 seconds"),
      "t_tumbling", OutputMode.Complete())
      .select("window_start", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val batch = Windows.tumbling(Scan.table(spark, sfDir, "events"), "ts", 3600,
        Seq("event_type"), Seq(count(lit(1)).as("n")))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    assert(streamed == batch)
  }

  test("streaming sliding counts equal the batch sliding aggregate") {
    val stream = StreamingOps.readEventsStream(spark, sfDir)
    val streamed = StreamingOps.runAvailableNow(
      StreamingOps.slidingCounts(stream, "1 hour", "30 minutes", "0 seconds"),
      "t_sliding", OutputMode.Complete())
      .select("window_start", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val batch = Windows.sliding(Scan.table(spark, sfDir, "events"), "ts", 3600, 1800,
        Seq("event_type"), Seq(count(lit(1)).as("n")))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    assert(streamed == batch)
  }

  test("streaming session windows match batch sessionize session counts") {
    val stream = StreamingOps.readEventsStream(spark, sfDir)
    val streamed = StreamingOps.runAvailableNow(
      StreamingOps.sessionAgg(stream, "30 minutes", "0 seconds"),
      "t_sessions", OutputMode.Complete())
    val streamedSessions = streamed.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val batchSessions = Windows.sessionize(
        Scan.table(spark, sfDir, "events"), "ts", "user_id", 1800,
        Seq(count(lit(1)).as("records")))
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(streamedSessions == batchSessions)
    // batch session rows agree with event totals
    val totalEvents = Windows.sessionize(
        Scan.table(spark, sfDir, "events"), "ts", "user_id", 1800,
        Seq(count(lit(1)).as("records")))
      .agg(sum("records")).head.getLong(0)
    assert(totalEvents == Scan.table(spark, sfDir, "events").count())
  }

  test("readBatchOutputs: reads batch dirs; a zero-batch run fails LOUDLY with the source listing") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("rbo_out").toString
    val src = java.nio.file.Files.createTempDirectory("rbo_src").toString
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite")
      .parquet(s"$src/part0.parquet")
    // no batch dirs yet → the guard must throw, naming the source's
    // actual listing (the forensic datum for the listing hypothesis)
    val e = intercept[IllegalStateException] {
      StreamingOps.readBatchOutputs(spark, out, src)
    }
    assert(e.getMessage.contains("ZERO micro-batches"))
    assert(e.getMessage.contains("part0.parquet"))
    // with a batch dir present it reads normally
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$out/batch_0")
    assert(StreamingOps.readBatchOutputs(spark, out, src).count() == 1L)
  }

  test("incrementalDedupStream: per-batch dedup against the index; fold-in lets batch 2 match batch 1") {
    import spark.implicits._
    def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // base corpus → persisted index
    val idxPath = java.nio.file.Files.createTempDirectory("mh_idx_stream").toString
    graft.operators.TextDedup.saveMinhashIndex(
      (0L until 20L).map(i => (i * 2, sent(i.toInt))).toDF("doc_id", "text"),
      "doc_id", "text", idxPath)
    // two arriving files = two micro-batches (maxFilesPerTrigger = 1,
    // ordered by modification time): batch 1 carries one near-dup of the
    // BASE corpus and one novel doc; batch 2 near-duplicates the NOVEL
    // doc — matchable only if batch 1's survivors were folded in
    val srcDir = java.nio.file.Files.createTempDirectory("stream_docs")
    def writeFile(name: String, rows: Seq[(Long, String)], modTime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("stage").toString
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      val dst = srcDir.resolve(name)
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(modTime))
    }
    val t0 = System.currentTimeMillis() - 60000
    // 107 near-duplicates 103 WITHIN batch 1: neither matches the index,
    // so without intra-batch self-dedup both would enter the corpus
    writeFile("b1.parquet",
      Seq((101L, sent(5) + " tail"), (103L, sent(500)),
        (107L, sent(500) + " x")), t0)
    writeFile("b2.parquet",
      Seq((201L, sent(500) + " tail")), t0 + 10000)
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val outDir = java.nio.file.Files.createTempDirectory("stream_out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("stream_ckpt").toString
    StreamingOps.incrementalDedupStream(
        stream, idxPath, outDir, ckptDir, threshold = 0.7,
        foldInSurvivors = true)
      .awaitTermination()
    val pairs = spark.read.parquet(s"$outDir/batch_*")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch 1: 101 duplicates base doc 10 (107 matches NOTHING in the
    // index — intra-batch dups are not reported, only kept out of the
    // index); batch 2: 201 duplicates the APPENDED novel doc 103 —
    // proof the fold-in landed before batch 2
    assert(pairs == Set((101L, 10L), (201L, 103L)))
    // index admission: the index-dup (101) and the intra-batch dup
    // (107, keep-lowest-id loses to 103) were NOT folded in; the novel
    // doc (103) was; batch 2's duplicate (201) was not
    // read through the loader: fold-ins land as batch-keyed COMMITS
    // (commits/batch_0/), not in the base relations
    val idxIds = graft.operators.TextDedup.loadMinhashIndex(spark, idxPath)
      .shingles.select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(idxIds.contains(103L))
    assert(!idxIds.contains(101L) && !idxIds.contains(107L) && !idxIds.contains(201L))

    // REPLAY the first micro-batch (what a restart after a crash
    // between the pairs write and the checkpoint commit does): its
    // append is idempotent (tag batch_0 already landed) and its load
    // EXCLUDES its own commit, so both the index row-set and the
    // batch_0 output must come out identical — in r7 the replay saw its
    // own first append and emitted self-match pairs (107 vs the folded
    // 103) the original lacked
    val bandsBefore = graft.operators.TextDedup.loadMinhashIndex(spark, idxPath)
      .bands.collect().toSet
    val out0Before = spark.read.parquet(s"$outDir/batch_0").collect().toSet
    StreamingOps.dedupBatchAgainstIndex(
      spark.read.schema(docSchema).parquet(srcDir.resolve("b1.parquet").toString),
      batchId = 0L, idxPath, outDir, threshold = 0.7,
      idCol = "doc_id", textCol = "text", foldInSurvivors = true)
    assert(spark.read.parquet(s"$outDir/batch_0").collect().toSet == out0Before)
    assert(graft.operators.TextDedup.loadMinhashIndex(spark, idxPath)
      .bands.collect().toSet == bandsBefore)
  }

  test("incrementalDedupStream: durable checkpoint — a restart continues batch ids and appends new data") {
    import spark.implicits._
    def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val idxPath = java.nio.file.Files.createTempDirectory("mh_idx_restart").toString
    graft.operators.TextDedup.saveMinhashIndex(
      (0L until 20L).map(i => (i * 2, sent(i.toInt))).toDF("doc_id", "text"),
      "doc_id", "text", idxPath)
    val srcDir = java.nio.file.Files.createTempDirectory("restart_docs")
    def writeFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("stage").toString
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, srcDir.resolve(name))
    }
    val outDir = java.nio.file.Files.createTempDirectory("restart_out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("restart_ckpt").toString
    def runOnce(): Unit =
      StreamingOps.incrementalDedupStream(
          spark.readStream.schema(docSchema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir.toString),
          idxPath, outDir, ckptDir, threshold = 0.7, foldInSurvivors = true)
        .awaitTermination()
    def indexIds() = graft.operators.TextDedup.loadMinhashIndex(spark, idxPath)
      .shingles.select("id").as[Long].collect().toSet
    def batchDirs() = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
      .map[String](_.getFileName.toString).filter(_.startsWith("batch_"))
      .sorted.toArray.toSeq

    // run 1: one file, one micro-batch → batch_0; novel doc 103 folded in
    writeFile("b1.parquet", Seq((103L, sent(500))))
    runOnce()
    assert(batchDirs() == Seq("batch_0"))
    assert(indexIds().contains(103L))
    val out0 = spark.read.parquet(s"$outDir/batch_0").collect().toSet

    // compact: folds tag batch_0 into the base, leaving only its
    // tombstone — the exact state in which a RESET batch numbering
    // (the r9 temp-checkpoint failure) would silently drop new data,
    // because a re-issued batch_0 tag reads as committed forever
    graft.operators.TextDedup.compactMinhashIndex(spark, idxPath)

    // run 2 = the restart, same checkpoint: a new file must land as
    // batch_1 (numbering CONTINUES), its novel doc must enter the index
    // (no silent drop), and batch_0's output must not be rewritten
    writeFile("b2.parquet", Seq((201L, sent(600))))
    runOnce()
    assert(batchDirs() == Seq("batch_0", "batch_1"))
    assert(indexIds().contains(201L), "restarted run silently dropped its batch")
    assert(spark.read.parquet(s"$outDir/batch_0").collect().toSet == out0)

    // run 3, nothing new arrived: a true no-op — no new batch dirs, no
    // index growth (AvailableNow over a fully-processed source)
    val idsBefore = indexIds()
    runOnce()
    assert(batchDirs() == Seq("batch_0", "batch_1"))
    assert(indexIds() == idsBefore)
  }

  test("incrementalDedupStream under Trigger.ProcessingTime: resident mode, same tags and checkpoint semantics") {
    import spark.implicits._
    // the RESIDENT spelling of the crawl loop: same plan, but the query
    // stays up and drains micro-batches on a processing-time cadence
    // until stop() — batch ids must still come from the checkpoint and
    // fold-ins must still land tagged, exactly as under AvailableNow
    def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val idxPath = java.nio.file.Files.createTempDirectory("mh_idx_pt").toString
    graft.operators.TextDedup.saveMinhashIndex(
      (0L until 20L).map(i => (i * 2, sent(i.toInt))).toDF("doc_id", "text"),
      "doc_id", "text", idxPath)
    val srcDir = java.nio.file.Files.createTempDirectory("pt_docs")
    def writeFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("stage").toString
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, srcDir.resolve(name))
    }
    // two staged files → two micro-batches under maxFilesPerTrigger=1:
    // batch 0 carries an index-dup (101 ~ indexed 10) and a novel doc
    // 103; batch 1 near-duplicates the FOLDED-IN 103 — so the second
    // trigger proves the first's fold-in landed before it ran
    writeFile("b1.parquet", Seq((101L, sent(5) + " tail"), (103L, sent(500))))
    writeFile("b2.parquet", Seq((201L, sent(500) + " tail")))
    val outDir = java.nio.file.Files.createTempDirectory("pt_out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("pt_ckpt").toString
    val query = StreamingOps.incrementalDedupStream(
      spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString),
      idxPath, outDir, ckptDir, threshold = 0.7, foldInSurvivors = true,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    def batchDirs() = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
      .map[String](_.getFileName.toString).filter(_.startsWith("batch_"))
      .sorted.toArray.toSeq
    try {
      // resident query: poll for both batch outputs, bounded wait
      val deadline = System.currentTimeMillis() + 120000
      while (batchDirs().size < 2 && System.currentTimeMillis() < deadline) {
        query.processAllAvailable()
        Thread.sleep(50)
      }
    } finally query.stop()
    query.awaitTermination()
    assert(batchDirs() == Seq("batch_0", "batch_1"),
      s"expected two checkpoint-numbered batch outputs, got ${batchDirs()}")
    val pairs = (spark.read.parquet(s"$outDir/batch_0").collect() ++
        spark.read.parquet(s"$outDir/batch_1").collect())
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("index_id"))).toSet
    assert(pairs == Set((101L, 10L), (201L, 103L)))
    // fold-ins landed batch-tagged, exactly as under AvailableNow
    val idxIds = graft.operators.TextDedup.loadMinhashIndex(spark, idxPath)
      .shingles.select("id").as[Long].collect().toSet
    assert(idxIds.contains(103L) && !idxIds.contains(101L) &&
      !idxIds.contains(201L))
    val commitTags = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$idxPath/commits"))
      .map[String](_.getFileName.toString).sorted.toArray.toSeq
    assert(commitTags == Seq("batch_0", "batch_1"),
      s"fold-ins must land under their batch tags, got $commitTags")
  }

  test("cluster posture composes: crawl loop under parquet scratch ≡ default run") {
    import spark.implicits._
    def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // one shape, run twice: batch 1 (novel 103 + index-dup 101), then
    // batch 2 near-duplicating the folded-in 103 — the fold-in is
    // load-bearing, so any scratch break changes the pairs
    def runLoop(): (Set[(Long, Long)], Set[Long]) = {
      val idxPath = java.nio.file.Files.createTempDirectory("mh_posture").toString
      graft.operators.TextDedup.saveMinhashIndex(
        (0L until 20L).map(i => (i * 2, sent(i.toInt))).toDF("doc_id", "text"),
        "doc_id", "text", idxPath)
      val srcDir = java.nio.file.Files.createTempDirectory("posture_docs")
      def writeFile(name: String, rows: Seq[(Long, String)], modTime: Long): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("stage").toString
        rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        val dst = srcDir.resolve(name)
        java.nio.file.Files.move(part, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(modTime))
      }
      val t0 = System.currentTimeMillis() - 60000
      writeFile("b1.parquet", Seq((101L, sent(5) + " tail"), (103L, sent(500))), t0)
      writeFile("b2.parquet", Seq((201L, sent(500) + " tail")), t0 + 10000)
      val outDir = java.nio.file.Files.createTempDirectory("posture_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("posture_ckpt").toString
      StreamingOps.incrementalDedupStream(
          spark.readStream.schema(docSchema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir.toString),
          idxPath, outDir, ckpt, threshold = 0.7, foldInSurvivors = true)
        .awaitTermination()
      val pairs = spark.read.parquet(s"$outDir/batch_*")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ids = graft.operators.TextDedup.loadMinhashIndex(spark, idxPath)
        .shingles.select("id").as[Long].collect().toSet
      (pairs, ids)
    }
    val default = runLoop()
    assert(default._1 == Set((101L, 10L), (201L, 103L)))
    // the cluster posture: parquet scratch, composed with the durable
    // checkpoint the operator already requires
    spark.conf.set(graft.GraftSession.ScratchDirKey,
      java.nio.file.Files.createTempDirectory("posture_scratch").toString)
    try assert(runLoop() == default)
    finally spark.conf.unset(graft.GraftSession.ScratchDirKey)
  }

  test("mapGroupsWithState running totals equal a batch groupBy") {
    val stream = StreamingOps.readEventsStream(spark, sfDir)
    val streamed = StreamingOps.runAvailableNow(
      StreamingOps.runningUserTotals(stream).toDF("user_id", "n", "total"),
      "t_state", OutputMode.Update())
    // final state per user (last update wins)
    val finalState = streamed.groupBy("user_id")
      .agg(max("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val batch = Scan.table(spark, sfDir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalState == batch)
  }

  test("mergeStream: per-batch CDC apply, in order, exactly-once, restart-safe") {
    import spark.implicits._
    val cdcSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("del",
        org.apache.spark.sql.types.BooleanType)))
    val snapDir = java.nio.file.Files.createTempDirectory("merge_snap").toString
    graft.operators.SnapshotMerge.createSharded(
      Seq((1L, "a", false), (2L, "b", false), (3L, "c", false))
        .toDF("id", "name", "del").drop("del"),
      Seq("id"), 4, snapDir)

    val srcDir = java.nio.file.Files.createTempDirectory("cdc_src")
    def writeFile(name: String, rows: Seq[(Long, String, Boolean)],
        modTime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("stage").toString
      rows.toDF("id", "name", "del").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      val dst = srcDir.resolve(name)
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(modTime))
    }
    val t0 = System.currentTimeMillis() - 60000
    // batch 0: replace key 1, insert key 10
    writeFile("b0.parquet", Seq((1L, "a-v2", false), (10L, "new", false)), t0)
    // batch 1: OVERWRITE key 10 (proves in-order apply) and delete key 2
    writeFile("b1.parquet", Seq((10L, "new-v2", false), (2L, "", true)),
      t0 + 10000)
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_ckpt").toString
    def stream() = spark.readStream.schema(cdcSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    StreamingOps.mergeStream(stream(), snapDir, Seq("id"), ckpt,
      deleteCol = Some("del")).awaitTermination()
    def state(): Map[Long, String] =
      graft.operators.SnapshotMerge.readSharded(spark, snapDir)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s1 = state()
    assert(s1 == Map(1L -> "a-v2", 3L -> "c", 10L -> "new-v2"))
    // replayed micro-batch (restart after a crash past the tag): the
    // committed tag short-circuits — snapshot untouched
    StreamingOps.applyMergeBatch(
      Seq((1L, "a-v2", false), (10L, "new", false)).toDF("id", "name", "del"),
      0L, snapDir, Seq("id"), Some("del"), None)
    assert(state() == s1)
    // restart on the SAME checkpoint with one NEW file: only the new
    // batch applies (batch numbering resumes, no re-apply of b0/b1)
    writeFile("b2.parquet", Seq((3L, "c-v2", false)), t0 + 20000)
    StreamingOps.mergeStream(stream(), snapDir, Seq("id"), ckpt,
      deleteCol = Some("del")).awaitTermination()
    assert(state() == Map(1L -> "a-v2", 3L -> "c-v2", 10L -> "new-v2"))
  }

  test("mergeStream ≡ the keep-last oracle over the same CDC feed") {
    import spark.implicits._
    val snap = java.nio.file.Files.createTempDirectory("cdc_shard").toString
    val base = spark.range(0, 100)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
    graft.operators.SnapshotMerge.createSharded(base, Seq("id"), 8, snap)
    // three batches through the testable seam
    val batches = Seq(
      Seq((5L, "u5", false), (100L, "ins", false)),
      Seq((100L, "upd", false), (6L, "", true)),
      Seq((5L, "u5b", false)))
      .map(_.toDF("id", "name", "del"))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingOps.applyMergeBatch(b, i.toLong, snap, Seq("id"),
        Some("del"), None)
    }
    // keep-last by (batch sequence) over base + every batch, minus deletes
    val expected = graft.ops.Dedup.keepLast(
        batches.zipWithIndex.foldLeft(
            base.withColumn("del", lit(false)).withColumn("seq", lit(-1))) {
          case (acc, (b, i)) => acc.unionByName(b.withColumn("seq", lit(i)))
        },
        Seq("id"), Seq(col("seq")))
      .filter(!col("del")).drop("seq", "del")
    val got = graft.operators.SnapshotMerge.readSharded(spark, snap)
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0)
    assert(got.count() == 100) // 100 base − 1 delete + 1 insert
  }

  test("mergeStream: commit tags are namespaced per stream — no cross-stream skips") {
    import spark.implicits._
    val snap = java.nio.file.Files.createTempDirectory("cdc_two").toString
    graft.operators.SnapshotMerge.createSharded(
      Seq((1L, "a")).toDF("id", "name"), Seq("id"), 4, snap)
    // two DISTINCT streams feed the same snapshot; both start at batch 0.
    // Under bare batch_<id> tags stream B's batch 0 would read stream
    // A's commit as its own and silently drop the batch.
    StreamingOps.applyMergeBatch(Seq((2L, "fromA")).toDF("id", "name"),
      0L, snap, Seq("id"), None, None, streamName = "a")
    StreamingOps.applyMergeBatch(Seq((3L, "fromB")).toDF("id", "name"),
      0L, snap, Seq("id"), None, None, streamName = "b")
    val state = graft.operators.SnapshotMerge.readSharded(spark, snap)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state == Map(1L -> "a", 2L -> "fromA", 3L -> "fromB"),
      s"stream B's batch 0 was skipped: $state")
    // replay WITHIN a stream still short-circuits
    StreamingOps.applyMergeBatch(Seq((2L, "replayed")).toDF("id", "name"),
      0L, snap, Seq("id"), None, None, streamName = "a")
    assert(graft.operators.SnapshotMerge.readSharded(spark, snap)
      .filter(col("id") === 2L).select("name").as[String].head() == "fromA")
  }

  test("consumeShardedChanges/replicateSharded: bootstrap, paced drain, replay, loud lag failure") {
    import spark.implicits._
    import graft.operators.{IndexFs, SnapshotMerge}
    val src = tmp("cdf_src")
    val rep = tmp("cdf_rep")
    val ck = tmp("cdf_ck")
    def df(rows: (Long, String, Boolean)*) = rows.toDF("id", "name", "del")
    SnapshotMerge.createSharded(
      df((1L, "a", false), (2L, "b", false), (3L, "c", false)).drop("del"),
      Seq("id"), 4, src) // v1
    SnapshotMerge.upsertSharded(df((2L, "b2", false), (4L, "d", false),
      (3L, "", true)), Seq("id"), src, deleteCol = Some("del")) // v2
    SnapshotMerge.upsertSharded(
      df((4L, "d2", false), (3L, "c-back", false)).drop("del"),
      Seq("id"), src) // v3

    def replicaState(): Map[Long, String] =
      SnapshotMerge.readSharded(spark, rep)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def ckptVersion(): Long = IndexFs.readSmallFile(IndexFs.fs(spark, ck),
      new org.apache.hadoop.fs.Path(s"$ck/cdf.version")).trim.toLong

    // paced drain: one source version per call — bootstrap first, then
    // each span; the checkpoint advances durably between calls (each
    // call is a fresh "restarted consumer" reading only the checkpoint)
    assert(StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck,
      nShards = 4, maxVersionsPerCall = 1) == 1L)
    assert(ckptVersion() == 1L)
    assert(replicaState() == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck,
      nShards = 4, maxVersionsPerCall = 1) == 2L)
    assert(replicaState() == Map(1L -> "a", 2L -> "b2", 4L -> "d"))
    assert(StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck,
      nShards = 4, maxVersionsPerCall = 1) == 3L)
    val full = Map(1L -> "a", 2L -> "b2", 3L -> "c-back", 4L -> "d2")
    assert(replicaState() == full)
    // drained: a further call is a no-op at the head version
    assert(StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck,
      nShards = 4) == 3L)
    assert(replicaState() == full)

    // crash-window replay: roll the checkpoint back one version (the
    // process-ran-checkpoint-didn't crash) — the replica's head records
    // the span's end, which short-circuits it, replica unchanged
    IndexFs.atomicWriteSmallFile(spark, IndexFs.fs(spark, ck),
      new org.apache.hadoop.fs.Path(s"$ck/cdf.version"), "2")
    assert(StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck,
      nShards = 4) == 3L)
    assert(replicaState() == full)
    assert(SnapshotMerge.shardedVersions(spark, rep).max == 3L,
      "replayed span must be skipped, not re-committed")

    // a process failure leaves the checkpoint unmoved → redelivery
    SnapshotMerge.upsertSharded(df((5L, "e", false)).drop("del"),
      Seq("id"), src) // v4
    var calls = 0
    intercept[RuntimeException] {
      StreamingOps.consumeShardedChanges(spark, src, Seq("id"), ck) {
        (_, _, _) => calls += 1; throw new RuntimeException("boom")
      }
    }
    assert(ckptVersion() == 3L, "failed span must not advance the checkpoint")
    StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck, nShards = 4)
    assert(replicaState() == full + (5L -> "e"))

    // consumer lag past vacuum: reaping the checkpointed version fails
    // LOUDLY on the next pending span, never silently skips
    SnapshotMerge.upsertSharded(df((6L, "f", false)).drop("del"),
      Seq("id"), src) // v5
    val f = IndexFs.fs(spark, src)
    (1L to 4L).foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(s"$src/manifest-v$v"), false)
    }
    val e = intercept[IllegalArgumentException] {
      StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck,
        nShards = 4)
    }
    assert(e.getMessage.contains("vacuumed"))
    // deliberate re-bootstrap: clearing the checkpoint resyncs from the
    // oldest readable version into a fresh replica
    val rep2 = tmp("cdf_rep2")
    val ck2 = tmp("cdf_ck2")
    StreamingOps.replicateSharded(spark, src, rep2, Seq("id"), ck2,
      nShards = 4)
    assert(SnapshotMerge.readSharded(spark, rep2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      full + (5L -> "e") + (6L -> "f"))
  }

  test("replicateSharded coalesceSpans: one replica version per drained span, identical replica") {
    import spark.implicits._
    import graft.operators.{IndexFs, SnapshotMerge}
    val src = tmp("cdfc_src")
    val rep = tmp("cdfc_rep")
    val ck = tmp("cdfc_ck")
    def df(rows: (Long, String, Boolean)*) = rows.toDF("id", "name", "del")
    SnapshotMerge.createSharded(
      df((1L, "a", false), (2L, "b", false), (3L, "c", false)).drop("del"),
      Seq("id"), 4, src) // v1
    // bootstrap from v1 first (the q_stream_cdf_replica shape)
    assert(StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck,
      nShards = 4, coalesceSpans = true) == 1L)
    // v2: update, insert, delete; v3: re-insert the deleted key,
    // supersede v2's insert — every composition case a span must fold
    SnapshotMerge.upsertSharded(df((2L, "b2", false), (4L, "d", false),
      (3L, "", true)), Seq("id"), src, deleteCol = Some("del")) // v2
    SnapshotMerge.upsertSharded(
      df((4L, "d2", false), (3L, "c-back", false)).drop("del"),
      Seq("id"), src) // v3
    // v2..v3 drain as ONE span: exactly one replica version lands
    // (v1-bootstrap + the span = 2 total), content ≡ per-version drain
    assert(StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck,
      nShards = 4, coalesceSpans = true) == 3L)
    assert(SnapshotMerge.readSharded(spark, rep)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b2", 3L -> "c-back", 4L -> "d2"))
    assert(SnapshotMerge.shardedVersions(spark, rep).max == 2L,
      "the coalesced span must commit as one replica version")
    // checkpoint is at the span END; crash-window replay of the same
    // span is skipped (the replica's head records the span end)
    IndexFs.atomicWriteSmallFile(spark, IndexFs.fs(spark, ck),
      new org.apache.hadoop.fs.Path(s"$ck/cdf.version"), "1")
    assert(StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck,
      nShards = 4, coalesceSpans = true) == 3L)
    assert(SnapshotMerge.shardedVersions(spark, rep).max == 2L,
      "replayed coalesced span must be skipped")
  }

  private def jobsDuring[T](body: => T): (T, Int) =
    org.apache.spark.scheduler.DagProbe.jobsDuring(spark.sparkContext)(body)

  private def tmp(n: String) =
    java.nio.file.Files.createTempDirectory(n).toString + "/t"

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean = {
    val cols = a.columns.sorted.toSeq
    val (x, y) = (a.select(cols.map(col): _*), b.select(cols.map(col): _*))
    x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
  }

  /** Version `v`'s manifest lines (the live version's by default). */
  private def manifestLines(dir: String, v: Option[Long] = None): Seq[String] = {
    import graft.operators.{IndexFs, SnapshotMerge}
    val version = v.getOrElse(SnapshotMerge.shardedVersions(spark, dir).max)
    IndexFs.readSmallFile(IndexFs.fs(spark, dir),
      new org.apache.hadoop.fs.Path(s"$dir/manifest-v$version")).split("\n").toSeq
  }

  /** The source version a manifest records as mirrored (`-`: none). */
  private def recorded(dir: String, v: Option[Long] = None): String =
    manifestLines(dir, v).head.split("\t", -1)(6)

  /** The live manifest's header fields but the anchor path and the
    * mirrored version (nShards, salt, hash version, key names, trailer
    * flag), and its shard ids. */
  private def layout(dir: String): (Seq[String], Set[String]) = {
    val lines = manifestLines(dir)
    (lines.head.split("\t", -1).toSeq.patch(6, Nil, 1).patch(4, Nil, 1),
      lines.tail.init.map(_.split("\t")(0)).toSet)
  }

  /** Asserts the replica mirrors source version `v`: its rows and
    * schema, its manifest header and shard ids, and the version its
    * head records. */
  private def assertMirrors(rep: String, src: String, v: Long, what: String): Unit = {
    import graft.operators.SnapshotMerge
    val (got, want) = (SnapshotMerge.readSharded(spark, rep),
      SnapshotMerge.readShardedVersion(spark, src, v))
    assert(got.schema == want.schema, s"$what: ${got.schema} vs ${want.schema}")
    assert(sameRows(got, want), what)
    assert(layout(rep) == layout(src), what)
    assert(recorded(rep) == v.toString, what)
  }

  test("replicateSharded: the mirror equals the source at every span, per version and coalesced") {
    import graft.operators.SnapshotMerge
    def rows(lo: Long, hi: Long, tag: String) = spark.range(lo, hi)
      .select(col("id"), concat(lit(tag), col("id")).as("name"),
        (col("id") % 7).as("g"))
    for (coalesced <- Seq(false, true)) {
      val (src, rep, ck) = (tmp("rep_src"), tmp("rep_rep"), tmp("rep_ck"))
      // multi-file shards, so every compaction has work
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "20")
      try {
        SnapshotMerge.createSharded(rows(0, 200, "n"), Seq("id"), 4, src)
        def replicate(what: String): Unit = {
          val (v, jobs) = jobsDuring(StreamingOps.replicateSharded(spark, src,
            rep, Seq("id"), ck, nShards = 4, coalesceSpans = coalesced))
          assert(jobs == 0, s"the span over $what ran $jobs Spark jobs")
          assert(v == SnapshotMerge.shardedVersions(spark, src).max)
          assertMirrors(rep, src, v, what)
        }
        replicate("the bootstrap")
        var reshardVersion = 0L
        val spans: Seq[(String, () => Any)] = Seq(
          "upsert" -> (() => SnapshotMerge.upsertSharded(rows(150, 260, "u"),
            Seq("id"), src)),
          "delete" -> (() => SnapshotMerge.upsertSharded(
            rows(0, 40, "d").withColumn("del", col("id") % 2 === 0),
            Seq("id"), src, deleteCol = Some("del"))),
          "compact" -> (() => assert(SnapshotMerge.compactSharded(spark, src) > 0)),
          "optimize" -> (() =>
            SnapshotMerge.optimizeSharded(spark, src, Seq("id"), Seq("g"))),
          "reshard" -> { () =>
            assert(SnapshotMerge.reshardSharded(spark, src, Seq("id"), 6))
            reshardVersion = SnapshotMerge.shardedVersions(spark, src).max
          },
          "evolve" -> (() => SnapshotMerge.evolveSharded(spark, src, Seq("id"),
            rows(0, 1, "t").withColumn("score", lit(1.5)))),
          "migrate" -> (() => SnapshotMerge.migrateSharded(spark, src, Seq("id"),
            renames = Map("id" -> "key"))),
          "restore" -> (() => SnapshotMerge.restoreSharded(spark, src, reshardVersion)),
          "upsert after the reshard" -> (() => SnapshotMerge.upsertSharded(
            rows(300, 320, "z"), Seq("id"), src)))
        // per version: replicate after every span; coalesced: after
        // every second one, so each replicated span holds two versions
        spans.zipWithIndex.foreach { case ((what, run), i) =>
          run()
          if (!coalesced || i % 2 == 1 || i == spans.size - 1) replicate(what)
        }
      } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
  }

  test("replicateSharded: clearing the checkpoint after a lag past vacuum re-bootstraps the same replica, replacing every shard") {
    import spark.implicits._
    import graft.operators.{IndexFs, SnapshotMerge}
    def rows(lo: Long, hi: Long, tag: String) = spark.range(lo, hi)
      .select(col("id"), concat(lit(tag), col("id")).as("name"))
    val (src, rep, ck) = (tmp("reb_src"), tmp("reb_rep"), tmp("reb_ck"))
    SnapshotMerge.createSharded(rows(0, 40, "a"), Seq("id"), 4, src)
    StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck, nShards = 4)
    SnapshotMerge.upsertSharded(rows(0, 10, "b"), Seq("id"), src)
    StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck, nShards = 4)
    assert(layout(rep)._2.size == 4)
    // the gap: every key but 0 is deleted, which empties shards, then
    // a source vacuum reaps the checkpointed version
    SnapshotMerge.upsertSharded(rows(0, 40, "c").withColumn("del", col("id") > 0),
      Seq("id"), src, deleteCol = Some("del"))
    SnapshotMerge.upsertSharded(rows(100, 101, "d"), Seq("id"), src)
    assert(SnapshotMerge.vacuumSharded(spark, src, minAgeMs = 0) > 0)
    val e = intercept[IllegalArgumentException](
      StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck, nShards = 4))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    assert(layout(src)._2.size < 4)
    IndexFs.fs(spark, ck).delete(new org.apache.hadoop.fs.Path(s"$ck/cdf.version"), false)
    val (v, jobs) = jobsDuring(
      StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck, nShards = 4))
    assert(jobs == 0)
    assertMirrors(rep, src, v, "the re-bootstrap")
    assert(SnapshotMerge.readSharded(spark, rep).select("id").as[Long]
      .collect().sorted.toSeq == Seq(0L, 100L))
  }

  test("replicateSharded: a re-bootstrap to an older source version copies the later spans again, per version and coalesced") {
    import graft.operators.{IndexFs, SnapshotMerge}
    def rows(lo: Long, hi: Long, tag: String) = spark.range(lo, hi)
      .select(col("id"), concat(lit(tag), col("id")).as("name"))
    for (coalesced <- Seq(false, true)) {
      val (src, rep, ck) = (tmp("old_src"), tmp("old_rep"), tmp("old_ck"))
      def replicate(): (Long, Int) = jobsDuring(StreamingOps.replicateSharded(
        spark, src, rep, Seq("id"), ck, nShards = 4, coalesceSpans = coalesced))
      SnapshotMerge.createSharded(rows(0, 40, "a"), Seq("id"), 4, src) // v1
      replicate()
      SnapshotMerge.upsertSharded(rows(0, 10, "b"), Seq("id"), src) // v2
      SnapshotMerge.upsertSharded(rows(0, 10, "c"), Seq("id"), src) // v3
      assert(replicate()._1 == 3L)
      // the source loses v1 and the checkpoint is cleared: the
      // re-bootstrap copies v2, older than what the replica holds, and
      // the span to v3 must be copied again, not skipped
      IndexFs.fs(spark, src).delete(new org.apache.hadoop.fs.Path(s"$src/manifest-v1"), false)
      IndexFs.fs(spark, ck).delete(new org.apache.hadoop.fs.Path(s"$ck/cdf.version"), false)
      val (v, jobs) = replicate()
      val what = s"coalesced = $coalesced"
      assert(v == 3L && jobs == 0, s"$what: v$v, $jobs jobs")
      assertMirrors(rep, src, 3L, what)
      assert(SnapshotMerge.readSharded(spark, rep).filter(col("name").startsWith("c"))
        .count() == 10, what)
    }
  }

  test("replicateSharded: a non-mirror replica, or a bootstrap nShards/keys mismatch, fails loudly and writes nothing; copies outlive a source vacuum; a lost CAS leaves nothing") {
    import spark.implicits._
    import graft.operators.{ConcurrentCommitException, IndexFs, SnapshotMerge}
    def df(rows: (Long, String)*) = rows.toDF("id", "name")
    def ckpt(ck: String) = new org.apache.hadoop.fs.Path(s"$ck/cdf.version")
    // every path under a tmp() dir
    def tree(dir: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir).getParent)
        .iterator.asScala.map(_.toString).toSet
    }

    // the bootstrap checks the caller's layout against the source's
    val (src, rep, ck) = (tmp("fl_src"), tmp("fl_rep"), tmp("fl_ck"))
    SnapshotMerge.createSharded(df((1L, "a"), (2L, "b")), Seq("id"), 4, src)
    Seq((Seq("id"), 2, "not 2 ways"), (Seq("id", "name"), 4, "[id, name]"))
      .foreach { case (keys, n, named) =>
        val e = intercept[IllegalArgumentException](
          StreamingOps.replicateSharded(spark, src, rep, keys, ck, nShards = n))
        assert(e.getMessage.contains("sharded 4 ways on [id]") &&
          e.getMessage.contains(named), e.getMessage)
        assert(tree(rep).size == 1 && tree(ck).size == 1)
      }

    // a foreign salt is the source's own: the mirror carries it
    val (ssrc, srep, sck) = (tmp("fl_ssrc"), tmp("fl_srep"), tmp("fl_sck"))
    SnapshotMerge.createSharded(df((1L, "a"), (2L, "b")), Seq("id"), 4, ssrc,
      salt = "pepper")
    StreamingOps.replicateSharded(spark, ssrc, srep, Seq("id"), sck, nShards = 4)
    assert(layout(srep)._1(2) == "pepper")
    assertMirrors(srep, ssrc, 1L, "salt")

    // a replica this replication did not write fails the next span
    val cases: Seq[(String, String => Unit)] = Seq(
      ("absent", _ => ()),
      ("nShards", dir => SnapshotMerge.createSharded(df((1L, "a"), (2L, "b")),
        Seq("id"), 2, dir)),
      ("salt", dir => SnapshotMerge.createSharded(df((1L, "a"), (2L, "b")),
        Seq("id"), 4, dir, salt = "pepper")),
      ("anchor schema", dir => SnapshotMerge.createSharded(
        df((1L, "a"), (2L, "b")).select("name", "id"), Seq("id"), 4, dir)))
    val (nsrc, nck) = (tmp("fl_nsrc"), tmp("fl_nck"))
    SnapshotMerge.createSharded(df((1L, "a"), (2L, "b")), Seq("id"), 4, nsrc)
    SnapshotMerge.upsertSharded(df((2L, "b2"), (3L, "c")), Seq("id"), nsrc)
    IndexFs.atomicWriteSmallFile(spark, IndexFs.fs(spark, nck), ckpt(nck), "1")
    cases.foreach { case (what, create) =>
      val nrep = tmp("fl_nrep")
      create(nrep)
      val before = tree(nrep)
      val e = intercept[IllegalArgumentException](
        StreamingOps.replicateSharded(spark, nsrc, nrep, Seq("id"), nck, nShards = 4))
      assert(e.getMessage.contains("does not mirror version 1"), s"$what: ${e.getMessage}")
      assert(tree(nrep) == before, s"$what: wrote ${tree(nrep) -- before}")
      assert(IndexFs.readSmallFile(IndexFs.fs(spark, nck), ckpt(nck)).trim == "1")
    }

    // the replica holds copies: a source vacuum never breaks it
    StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck, nShards = 4)
    SnapshotMerge.upsertSharded(df((1L, "a2"), (4L, "d")), Seq("id"), src)
    StreamingOps.replicateSharded(spark, src, rep, Seq("id"), ck, nShards = 4)
    assert(SnapshotMerge.vacuumSharded(spark, src, minAgeMs = 0) > 0)
    assert(SnapshotMerge.readSharded(spark, rep).as[(Long, String)].collect().toMap ==
      Map(1L -> "a2", 2L -> "b", 4L -> "d"))

    // a lost CAS at the commit seam: the copy is deleted, and no replica
    // version records the span's end — the head the loser read still
    // records the old version, and the winner (a restore) records none
    SnapshotMerge.upsertSharded(df((5L, "e")), Seq("id"), src)
    val (from, to) = (SnapshotMerge.shardedVersions(spark, src).init.last,
      SnapshotMerge.shardedVersions(spark, src).last)
    val next = SnapshotMerge.shardedVersions(spark, rep).last + 1
    assert(recorded(rep) == from.toString)
    graft.FaultFs.install(spark.sparkContext.hadoopConfiguration)
    graft.FaultFs.scope(rep).before("create", _.startsWith(s"$rep/.manifest-v")) {
      SnapshotMerge.restoreSharded(spark, rep, 1L)
      ()
    }
    val e = intercept[ConcurrentCommitException] {
      SnapshotMerge.copySpan(spark, src, graft.FaultFs.uri(rep), from, to)
    }
    assert(e.getMessage.contains(s"version $next"), e.getMessage)
    assert(!IndexFs.listDirNames(spark, rep).exists(_.startsWith(s"shards-v$next-")),
      IndexFs.listDirNames(spark, rep).mkString(","))
    assert(recorded(rep, Some(next - 1)) == from.toString)
    assert(recorded(rep) == "-")
    assert(!SnapshotMerge.shardedVersions(spark, rep)
      .exists(v => recorded(rep, Some(v)) == to.toString))
  }
}
