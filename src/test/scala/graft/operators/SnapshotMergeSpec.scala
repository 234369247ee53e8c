package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SnapshotMergeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_merge").toString + "/snap"

  private def base = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)
  ).toDF("id", "name", "score")

  test("createSharded creates the snapshot; readSharded returns it") {
    val dir = tmp()
    assert(!SnapshotMerge.existsSharded(spark, dir))
    SnapshotMerge.createSharded(base, Seq("id"), 4, dir)
    assert(SnapshotMerge.existsSharded(spark, dir))
    val got = SnapshotMerge.readSharded(spark, dir).orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // a second create never clobbers the live snapshot
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.createSharded(base, Seq("id"), 4, dir)
    }
  }

  test("merge semantics: replace, insert, delete in one batch") {
    val dir = tmp()
    SnapshotMerge.createSharded(base, Seq("id"), 4, dir)
    val batch = Seq(
      (2L, "b2", 21.0, false), // replace id 2
      (4L, "d", 40.0, false),  // insert id 4
      (3L, "x", 0.0, true)     // delete id 3 (payload ignored)
    ).toDF("id", "name", "score", "is_deleted")
    assert(SnapshotMerge.upsertSharded(batch, Seq("id"), dir,
      deleteCol = Some("is_deleted")))
    val got = SnapshotMerge.readSharded(spark, dir).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "b2", 21.0), (4L, "d", 40.0)))
  }

  test("within-batch precedence: last under updateOrder wins") {
    val dir = tmp()
    val batch = Seq(
      (1L, "old", 1.0, 100L), (1L, "new", 2.0, 200L), (2L, "only", 3.0, 50L)
    ).toDF("id", "name", "score", "version")
    SnapshotMerge.createSharded(batch.limit(0), Seq("id"), 4, dir)
    SnapshotMerge.upsertSharded(batch, Seq("id"), dir,
      updateOrder = Some(Seq(col("version"))))
    val got = SnapshotMerge.readSharded(spark, dir).orderBy("id")
      .select("name").as[String].collect().toSeq
    assert(got == Seq("new", "only"))
  }

  test("commitTag: replay skips, content unchanged; untagged replay is idempotent") {
    val dir = tmp()
    SnapshotMerge.createSharded(base, Seq("id"), 4, dir)
    val batch = Seq((2L, "b2", 21.0)).toDF("id", "name", "score")
    assert(SnapshotMerge.upsertSharded(batch, Seq("id"), dir,
      commitTag = Some("batch_1")))
    val after1 = SnapshotMerge.readSharded(spark, dir).orderBy("id").collect().toSeq
    val versions1 = SnapshotMerge.shardedVersions(spark, dir)
    // tagged replay: short-circuits without touching the snapshot
    assert(!SnapshotMerge.upsertSharded(batch, Seq("id"), dir,
      commitTag = Some("batch_1")))
    assert(SnapshotMerge.shardedVersions(spark, dir) == versions1)
    assert(SnapshotMerge.readSharded(spark, dir).orderBy("id").collect().toSeq == after1)
    // untagged replay of the SAME batch: merges again, same fixed point
    assert(SnapshotMerge.upsertSharded(batch, Seq("id"), dir))
    assert(SnapshotMerge.readSharded(spark, dir).orderBy("id").collect().toSeq == after1)
  }

  test("schema mismatch and bad inputs fail loudly") {
    val dir = tmp()
    SnapshotMerge.createSharded(base, Seq("id"), 4, dir)
    val wrong = Seq((1L, "z")).toDF("id", "name")
    val e = intercept[IllegalArgumentException] {
      SnapshotMerge.upsertSharded(wrong, Seq("id"), dir)
    }
    assert(e.getMessage.contains("evolveSharded"))
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.upsertSharded(base, Seq("absent"), dir)
    }
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.upsertSharded(base, Seq("id"), dir, deleteCol = Some("nope"))
    }
    // no snapshot yet: the batch never creates one
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.upsertSharded(base, Seq("id"), tmp())
    }
  }

  test("upsert ≡ the keep-last oracle over accumulated batches") {
    // fold three batches in sequence; the result must equal keep-last
    // (by batch sequence) over the union — the reference's ledger rule
    // lifted to the snapshot
    val dir = tmp()
    val b1 = Seq((1L, "a1"), (2L, "b1")).toDF("id", "v")
    val b2 = Seq((2L, "b2"), (3L, "c2")).toDF("id", "v")
    val b3 = Seq((1L, "a3"), (4L, "d3")).toDF("id", "v")
    SnapshotMerge.createSharded(b1, Seq("id"), 4, dir)
    Seq(b2, b3).foreach(b => SnapshotMerge.upsertSharded(b, Seq("id"), dir))
    val expected = graft.ops.Dedup.keepLast(
      b1.withColumn("seq", lit(1)).unionByName(b2.withColumn("seq", lit(2)))
        .unionByName(b3.withColumn("seq", lit(3))),
      Seq("id"), Seq(col("seq"))).drop("seq")
    val got = SnapshotMerge.readSharded(spark, dir)
    assert(got.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(got).count() == 0)
  }

  test("sharded: create/read round-trip and merge ≡ the keep-last oracle") {
    val dir = tmp()
    val big = spark.range(0, 500)
      .select(col("id"), concat(lit("n"), col("id")).as("name"),
        (col("id") * 1.5).as("score"))
    SnapshotMerge.createSharded(big, Seq("id"), 8, dir)
    assert(SnapshotMerge.readSharded(spark, dir).count() == 500)
    val batch = spark.range(0, 500, 7) // touches a subset of keys
      .select(col("id"), lit("upd").as("name"), lit(-1.0).as("score"),
        (col("id") % 3 === 0).as("del"))
    SnapshotMerge.upsertSharded(batch, Seq("id"), dir, deleteCol = Some("del"))
    // keep-last over (snapshot, batch) by key, then drop the deletes
    val expected = graft.ops.Dedup.keepLast(
        big.withColumn("del", lit(false)).withColumn("seq", lit(1))
          .unionByName(batch.withColumn("seq", lit(2))),
        Seq("id"), Seq(col("seq")))
      .filter(!col("del")).drop("seq", "del")
    val got = SnapshotMerge.readSharded(spark, dir)
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0)
  }

  test("sharded: untouched shards are carried by reference, not rewritten") {
    val dir = tmp()
    val big = spark.range(0, 400)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
    SnapshotMerge.createSharded(big, Seq("id"), 16, dir)
    val before = SnapshotMerge.readManifest(spark, dir)
    assert(before.shards.nonEmpty)
    // a one-key batch touches exactly one shard
    val batch = Seq((7L, "updated")).toDF("id", "name")
    SnapshotMerge.upsertSharded(batch, Seq("id"), dir)
    val after = SnapshotMerge.readManifest(spark, dir)
    assert(after.version == before.version + 1)
    val changed = after.shards.filter { case (k, p) => before.shards.get(k) != Some(p) }
    assert(changed.size == 1,
      s"one-key batch rewrote ${changed.size} shards: ${changed.keys}")
    // the untouched entries point at the ORIGINAL physical dirs
    (after.shards -- changed.keys).foreach { case (k, p) =>
      assert(before.shards(k) == p)
    }
    assert(SnapshotMerge.readSharded(spark, dir)
      .filter(col("id") === 7L).select("name").as[String].head() == "updated")
  }

  test("sharded: replay skip, schema survival on empty, vacuum reaps orphans") {
    val dir = tmp()
    SnapshotMerge.createSharded(base, Seq("id"), 4, dir)
    val batch = Seq((2L, "b2", 21.0)).toDF("id", "name", "score")
    assert(SnapshotMerge.upsertSharded(batch, Seq("id"), dir,
      commitTag = Some("b1")))
    assert(!SnapshotMerge.upsertSharded(batch, Seq("id"), dir,
      commitTag = Some("b1")))
    // delete everything: snapshot empties but keeps its schema
    val killAll = SnapshotMerge.readSharded(spark, dir)
      .withColumn("del", lit(true))
    SnapshotMerge.upsertSharded(killAll, Seq("id"), dir, deleteCol = Some("del"))
    val empty = SnapshotMerge.readSharded(spark, dir)
    assert(empty.count() == 0)
    assert(empty.columns.sorted.toSeq == Seq("id", "name", "score"))
    // plant an orphan (a crashed upsert's half-published delta)
    val orphan = s"$dir/shards-v99/__shard=0"
    base.limit(1).write.parquet(orphan)
    assert(SnapshotMerge.vacuumSharded(spark, dir) > 0)
    assert(!IndexFs.exists(spark, orphan))
    // the live state survives vacuum
    assert(SnapshotMerge.readSharded(spark, dir).count() == 0)
  }

  test("null-keyed rows REPLACE, never duplicate (null-safe key equality)") {
    val dir = tmp()
    val withNull = Seq((Some(1L), "a", 10.0), (None, "nullkey", 20.0))
      .toDF("id", "name", "score")
    SnapshotMerge.createSharded(withNull, Seq("id"), 4, dir)
    // upsert the null key again with a new payload: one row, new value
    // (shardExpr routes nulls deterministically to the same shard)
    val update = Seq((Option.empty[Long], "nullkey2", 21.0))
      .toDF("id", "name", "score")
    SnapshotMerge.upsertSharded(update, Seq("id"), dir)
    val got = SnapshotMerge.readSharded(spark, dir)
    assert(got.count() == 2, "null-keyed row duplicated instead of replaced")
    assert(got.filter(col("id").isNull).select("name").as[String].head() == "nullkey2")
    // and a null-keyed DELETE removes it
    SnapshotMerge.upsertSharded(
      Seq((Option.empty[Long], "x", 0.0, true)).toDF("id", "name", "score", "del"),
      Seq("id"), dir, deleteCol = Some("del"))
    assert(SnapshotMerge.readSharded(spark, dir).filter(col("id").isNull).count() == 0)
  }

  test("the merge broadcasts the batch key set into the survivor anti-join") {
    val current = spark.range(0, 1000)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
    val keys = spark.range(0, 1000, 2).select(col("id"))
    val dir = tmp()
    SnapshotMerge.createSharded(current, Seq("id"), 8, dir)
    // auto-broadcast off: only the merge's own hint can broadcast
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    try {
      spark.conf.set(thresholdKey, "-1")
      val antiJoin = SnapshotMerge.survivorAntiJoin(current, keys, Seq("id"))
        .queryExecution.executedPlan.toString
      assert(antiJoin.contains("BroadcastHashJoin"),
        s"the key set must be broadcast:\n$antiJoin")
      spark.listenerManager.register(listener)
      SnapshotMerge.upsertSharded(keys.select(col("id"), lit("upd").as("name")),
        Seq("id"), dir)
      org.apache.spark.scheduler.DagProbe.drainListeners(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set(thresholdKey, saved)
    }
    assert(plans.synchronized(plans.exists(_.contains("BroadcastHashJoin"))),
      s"upsertSharded's write must broadcast the key set:\n${plans.mkString("\n")}")
    val got = SnapshotMerge.readSharded(spark, dir)
    assert(got.count() == 1000 && got.filter(col("name") === "upd").count() == 500)
  }

  test("upsertSharded reads the anchor's schema from its footer: no inference job per attempt") {
    val dir = tmp()
    SnapshotMerge.createSharded(spark.range(0, 100)
      .select(col("id"), concat(lit("n"), col("id")).as("name")), Seq("id"), 4, dir)
    val (_, jobs) = org.apache.spark.scheduler.DagProbe.jobsDuring(spark.sparkContext)(
      SnapshotMerge.upsertSharded(Seq((3L, "u3"), (500L, "i500")).toDF("id", "name"),
        Seq("id"), dir))
    // 8 when the anchor's columns and the touched shards' schema were
    // each inferred through spark.read
    assert(jobs == 6, s"$jobs jobs for one upsertSharded")
    val got = SnapshotMerge.readSharded(spark, dir)
    assert(got.count() == 101 && got.filter(col("name") === "u3").count() == 1)
  }

  test("a sharded write runs one task per shard it writes, with a one-task write's files per shard") {
    def writeStages[T](body: => T): (T, Seq[(Int, Int)]) =
      org.apache.spark.scheduler.DagProbe.writeStagesDuring(spark.sparkContext)(body)
    val dir = tmp()
    def perShard(): Seq[(Long, Long, Long)] =
      SnapshotMerge.describeSharded(spark, dir).select("shard", "path", "files")
        .as[(Long, String, Long)].collect().toSeq.sortBy(_._1)
        .map { case (k, p, files) => (k, spark.read.parquet(p).count(), files) }
    // a one-task write splits each shard's rows into ceil(rows / cap) files
    def assertFiles(cap: Long, what: String): Unit = perShard().foreach {
      case (k, rows, files) =>
        assert(files == (rows + cap - 1) / cap, s"$what: shard $k has $rows rows in $files files")
    }
    val rows = spark.range(0, 400).select(col("id"), concat(lit("n"), col("id")).as("name"))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "15")
    try {
      val (_, created) = writeStages(SnapshotMerge.createSharded(rows, Seq("id"), 8, dir))
      assert(created == Seq((8, 8)), "createSharded")
      assertFiles(15, "createSharded")
      // a batch whose keys hash into 3 of the 8 shards
      val byShard = SnapshotMerge.readSharded(spark, dir)
        .withColumn("k", regexp_extract(input_file_name(), "__shard=(\\d+)", 1).cast("long"))
      val three = byShard.select("k").distinct().as[Long].collect().sorted.take(3).toSet
      val batch = byShard.filter(col("k").isin(three.toSeq: _*)).drop("k")
        .withColumn("name", lit("upd"))
      val (_, upserted) = writeStages(SnapshotMerge.upsertSharded(batch, Seq("id"), dir))
      assert(upserted == Seq((3, 3)), s"upsertSharded touching shards $three")
      assertFiles(15, "upsertSharded")
      assert(SnapshotMerge.readSharded(spark, dir).filter(col("name") === "upd").count() ==
        batch.count())
      val (n, compacted) = writeStages(SnapshotMerge.compactSharded(spark, dir))
      assert(n == 8 && compacted == Seq((8, 8)), s"compactSharded of $n shards")
      assertFiles(15, "compactSharded")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    // uncapped, compaction leaves one file per shard
    val (n, compacted) = writeStages(SnapshotMerge.compactSharded(spark, dir))
    assert(n == 8 && compacted == Seq((8, 8)), s"compactSharded of $n shards")
    assert(perShard().forall(_._3 == 1), perShard().mkString(", "))
    assert(SnapshotMerge.readSharded(spark, dir).count() == 400)
  }

  test("a reader on the old manifest survives a concurrent upsert (deferred retire)") {
    val dir = tmp()
    val big = spark.range(0, 400)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
    SnapshotMerge.createSharded(big, Seq("id"), 8, dir)
    // the long-running reader: resolves the CURRENT manifest now…
    val oldReader = SnapshotMerge.readSharded(spark, dir)
    // …then a merge supersedes every shard it touches
    val batch = spark.range(0, 400, 5)
      .select(col("id"), lit("upd").as("name"))
    SnapshotMerge.upsertSharded(batch, Seq("id"), dir)
    // the old scan still completes over the complete OLD snapshot —
    // nothing it resolved was deleted at commit time
    assert(oldReader.count() == 400)
    assert(oldReader.filter(col("name") === "upd").count() == 0,
      "old reader must see the old version, not a mix")
    // a retention window keeps the superseded dirs through vacuum…
    assert(SnapshotMerge.vacuumSharded(spark, dir, minAgeMs = 3600L * 1000) == 0)
    assert(oldReader.count() == 400)
    // …and an expired window reaps them (retire-log mtime, not write mtime)
    assert(SnapshotMerge.vacuumSharded(spark, dir) > 0)
    val after = SnapshotMerge.readSharded(spark, dir)
    assert(after.filter(col("name") === "upd").count() == batch.count())
    assert(after.count() == 400)
  }

  test("vacuum decides liveness on qualified paths — spelling never kills live dirs") {
    val dir = tmp()
    SnapshotMerge.createSharded(base, Seq("id"), 4, dir)
    SnapshotMerge.upsertSharded(
      Seq((2L, "b2", 21.0)).toDF("id", "name", "score"), Seq("id"), dir)
    // vacuum addressed with a trailing slash AND a file: scheme — both
    // must resolve to the same snapshot and reap only the retirees
    SnapshotMerge.vacuumSharded(spark, dir + "/")
    assert(SnapshotMerge.readSharded(spark, dir).count() == 3)
    SnapshotMerge.upsertSharded(
      Seq((3L, "c2", 31.0)).toDF("id", "name", "score"), Seq("id"), dir)
    SnapshotMerge.vacuumSharded(spark, "file:" + dir)
    val got = SnapshotMerge.readSharded(spark, dir).orderBy("id")
      .select("name").as[String].collect().toSeq
    assert(got == Seq("a", "b2", "c2"))
    // readers and writers accept the same spellings
    SnapshotMerge.upsertSharded(
      Seq((1L, "a2", 11.0)).toDF("id", "name", "score"), Seq("id"), dir + "/")
    Seq(dir, dir + "/", "file:" + dir).foreach { spelled =>
      assert(SnapshotMerge.readSharded(spark, spelled).orderBy("id")
        .select("name").as[String].collect().toSeq == Seq("a2", "b2", "c2"))
    }
  }

  test("a moved snapshot keeps working (relative manifest paths)") {
    val root = java.nio.file.Files.createTempDirectory("graft_merge_mv").toString
    val a = s"$root/orig"; val b = s"$root/moved"
    SnapshotMerge.createSharded(base, Seq("id"), 4, a)
    SnapshotMerge.upsertSharded(
      Seq((2L, "b2", 21.0)).toDF("id", "name", "score"), Seq("id"), a)
    IndexFs.rename(spark, a, b)
    assert(SnapshotMerge.readSharded(spark, b).count() == 3)
    assert(SnapshotMerge.readSharded(spark, b)
      .filter(col("id") === 2L).select("name").as[String].head() == "b2")
    // and it stays writable + vacuumable at the new location
    SnapshotMerge.upsertSharded(
      Seq((4L, "d", 40.0)).toDF("id", "name", "score"), Seq("id"), b)
    SnapshotMerge.vacuumSharded(spark, b)
    assert(SnapshotMerge.readSharded(spark, b).count() == 4)
  }

  test("reserved __mergekey_<key> names fail loudly AT CREATION, exact-match only") {
    val dir = tmp()
    // the colliding spelling is rejected at creation — letting it
    // persist would brick every later incremental merge
    val e = intercept[IllegalArgumentException] {
      SnapshotMerge.createSharded(
        Seq((1L, "x")).toDF("id", "__mergekey_id"), Seq("id"), 4, dir)
    }
    assert(e.getMessage.contains("__mergekey_id"))
    // but only the EXACT renamed-key spellings are reserved: a column
    // merely sharing the prefix merges fine, forever
    SnapshotMerge.createSharded(
      Seq((1L, "n1")).toDF("id", "__mergekey_notes"), Seq("id"), 4, dir)
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.upsertSharded(
        Seq((1L, "x")).toDF("id", "__mergekey_id"), Seq("id"), dir)
    }
    SnapshotMerge.upsertSharded(
      Seq((1L, "n2"), (2L, "n3")).toDF("id", "__mergekey_notes"),
      Seq("id"), dir)
    val got = SnapshotMerge.readSharded(spark, dir).orderBy("id")
      .select("__mergekey_notes").as[String].collect().toSeq
    assert(got == Seq("n2", "n3"))
  }

  test("schema evolution: union schema with null fill; off by default; sharded declines") {
    val dir = tmp()
    SnapshotMerge.createSharded(
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), Seq("id"), 4, dir)
    val widened = Seq((2L, "b2", 21.0), (3L, "c", 30.0))
      .toDF("id", "name", "score")
    // off by default: the mismatch is loud and names the escape hatch
    val e = intercept[IllegalArgumentException] {
      SnapshotMerge.upsertSharded(widened, Seq("id"), dir)
    }
    assert(e.getMessage.contains("evolveSharded"))
    // on: survivors null-fill the new column, batch rows carry it; a
    // column the template lacks is kept (evolution only widens)
    SnapshotMerge.evolveSharded(spark, dir, Seq("id"),
      Seq((0L, 0.0)).toDF("id", "score"))
    SnapshotMerge.upsertSharded(widened, Seq("id"), dir)
    val got = SnapshotMerge.readSharded(spark, dir)
      .select("id", "name", "score").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.toSeq == Seq((1L, "a", None), (2L, "b2", Some(21.0)),
      (3L, "c", Some(30.0))))
    // evolution never relaxes the key requirement
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.evolveSharded(spark, dir, Seq("other"),
        Seq((1, "x")).toDF("other", "extra"))
    }
    // the gate is the zero-row anchor, not the touched dirs: a batch
    // landing only in EMPTY shards is refused just the same
    val sDir = tmp()
    SnapshotMerge.createSharded(
      Seq((1L, "a")).toDF("id", "name").limit(0), Seq("id"), 4, sDir)
    val sE = intercept[IllegalArgumentException] {
      SnapshotMerge.upsertSharded(
        Seq((99L, "z", 1.0)).toDF("id", "name", "score"), Seq("id"), sDir)
    }
    assert(sE.getMessage.contains("evolveSharded"))
  }

  test("evolveSharded: full-rewrite migration unlocks wider batches; old versions keep their schema") {
    val dir = tmp()
    SnapshotMerge.createSharded(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"),
      Seq("id"), 4, dir) // v1, 2-column schema
    val wide = Seq((2L, "b2", 21.0)).toDF("id", "name", "score")
    // the decline names the migration op
    val e = intercept[IllegalArgumentException] {
      SnapshotMerge.upsertSharded(wide, Seq("id"), dir)
    }
    assert(e.getMessage.contains("evolveSharded"))
    // migrate: every shard rewritten under the union schema (v2)
    SnapshotMerge.evolveSharded(spark, dir, Seq("id"), wide)
    val after = SnapshotMerge.readSharded(spark, dir)
    assert(after.columns.sorted.toSeq == Seq("id", "name", "score"))
    assert(after.count() == 3)
    assert(after.filter(col("score").isNotNull).count() == 0)
    // the wider batch now merges normally (v3)
    SnapshotMerge.upsertSharded(wide, Seq("id"), dir)
    val got = SnapshotMerge.readSharded(spark, dir).orderBy("id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.toSeq == Seq((1L, None), (2L, Some(21.0)), (3L, None)))
    // evolving with nothing new is a loud no-op error
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.evolveSharded(spark, dir, Seq("id"), wide)
    }
    // time travel: the pre-evolution version reads with ITS schema
    val v1 = SnapshotMerge.readShardedVersion(spark, dir, 1L)
    assert(v1.columns.sorted.toSeq == Seq("id", "name"))
    assert(v1.count() == 3)
    // and the retirees reap through the same windowed vacuum
    assert(SnapshotMerge.vacuumSharded(spark, dir) > 0)
    assert(SnapshotMerge.readSharded(spark, dir).count() == 3)
  }

  test("migrateSharded: rename + drop rewrite; old versions keep the old schema; guards are loud") {
    val dir = tmp()
    SnapshotMerge.createSharded(base, Seq("id"), 4, dir) // v1: id,name,score
    SnapshotMerge.migrateSharded(spark, dir, Seq("id"),
      renames = Map("id" -> "doc_id", "name" -> "title"),
      drops = Seq("score")) // v2: doc_id,title
    val after = SnapshotMerge.readSharded(spark, dir)
    assert(after.columns.sorted.toSeq == Seq("doc_id", "title"))
    assert(after.count() == 3)
    // the renamed KEY keeps addressing the same rows (value-hash
    // assignment): an upsert in the NEW spelling replaces, not dups
    SnapshotMerge.upsertSharded(
      Seq((2L, "b-migrated")).toDF("doc_id", "title"), Seq("doc_id"), dir) // v3
    val got = SnapshotMerge.readSharded(spark, dir).orderBy("doc_id")
      .select("title").as[String].collect().toSeq
    assert(got == Seq("a", "b-migrated", "c"))
    // a batch in the OLD spelling now declines loudly
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.upsertSharded(
        Seq((2L, "x", 0.0)).toDF("id", "name", "score"), Seq("id"), dir)
    }
    // time travel BACK across the migration: v1 reads with ITS schema
    val v1 = SnapshotMerge.readShardedVersion(spark, dir, 1L)
    assert(v1.columns.sorted.toSeq == Seq("id", "name", "score"))
    assert(v1.count() == 3)
    // guards: dropping a key, absent columns, chained/colliding renames
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.migrateSharded(spark, dir, Seq("doc_id"),
        drops = Seq("doc_id"))
    }
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.migrateSharded(spark, dir, Seq("doc_id"),
        renames = Map("absent_col" -> "x"))
    }
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.migrateSharded(spark, dir, Seq("doc_id"),
        renames = Map("doc_id" -> "title")) // target collides
    }
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.migrateSharded(spark, dir, Seq("doc_id")) // no-op
    }
    // and the migration retires through the windowed vacuum like any op
    assert(SnapshotMerge.vacuumSharded(spark, dir) > 0)
    assert(SnapshotMerge.readSharded(spark, dir).count() == 3)
  }

  test("time travel: VERSION AS OF reads retained versions; vacuum expiry fails loudly") {
    val dir = tmp()
    val big = spark.range(0, 200)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
    SnapshotMerge.createSharded(big, Seq("id"), 4, dir) // v1
    SnapshotMerge.upsertSharded(
      spark.range(0, 200, 2).select(col("id"), lit("u1").as("name")),
      Seq("id"), dir) // v2
    SnapshotMerge.upsertSharded(
      Seq((7L, "u2")).toDF("id", "name"), Seq("id"), dir) // v3
    assert(SnapshotMerge.shardedVersions(spark, dir) == Seq(1L, 2L, 3L))
    // v1: the original content, untouched by either batch
    val v1 = SnapshotMerge.readShardedVersion(spark, dir, 1L)
    assert(v1.count() == 200)
    assert(v1.filter(col("name") =!= concat(lit("n"), col("id"))).count() == 0)
    // v2: evens updated, the v3 batch invisible
    val v2 = SnapshotMerge.readShardedVersion(spark, dir, 2L)
    assert(v2.filter(col("name") === "u1").count() == 100)
    assert(v2.filter(col("name") === "u2").count() == 0)
    // the live read is v3
    assert(SnapshotMerge.readSharded(spark, dir)
      .filter(col("name") === "u2").count() == 1)
    // a version that never committed fails loudly
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.readShardedVersion(spark, dir, 99L)
    }
    // expired retention: old versions reaped → time travel to them is a
    // LOUD error, never a partial result; the live version is untouched
    assert(SnapshotMerge.vacuumSharded(spark, dir) > 0)
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.readShardedVersion(spark, dir, 1L)
    }
    assert(SnapshotMerge.shardedVersions(spark, dir) == Seq(3L))
    assert(SnapshotMerge.readShardedVersion(spark, dir, 3L).count() == 200)
  }

  test("optimizeSharded: clustered shards, pruned read skips files, content intact") {
    val dir = tmp()
    val big = spark.range(0, 2000)
      .select(col("id"), (col("id") % 100).as("cat"),
        concat(lit("n"), col("id")).as("name"))
    SnapshotMerge.createSharded(big, Seq("id"), 4, dir)
    SnapshotMerge.optimizeSharded(spark, dir, Seq("id"), Seq("cat", "id"),
      filesPerShard = 4)
    // content preserved row-for-row
    val back = SnapshotMerge.readSharded(spark, dir)
    assert(back.exceptAll(big).count() == 0 && big.exceptAll(back).count() == 0)
    // the pruned path reads fewer files than the snapshot holds
    val m = SnapshotMerge.readManifest(spark, dir)
    val allFiles = m.shards.values.toSeq.map { d =>
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
    }.sum
    val band = Seq(Layout.Band("cat", 0L, 9L))
    val prunedFiles = m.shards.values.toSeq.map { d =>
      Layout.prunedFiles(spark, d, band)._1.length
    }.sum
    assert(prunedFiles < allFiles,
      s"optimizeSharded must enable skipping: $prunedFiles/$allFiles files")
    // and the pruned read + exact filter ≡ the full filter
    val pruned = SnapshotMerge.readShardedPruned(spark, dir, band)
      .filter(col("cat").between(0, 9))
    val full = back.filter(col("cat").between(0, 9))
    assert(pruned.exceptAll(full).count() == 0)
    assert(full.exceptAll(pruned).count() == 0)
    assert(full.count() == 200)
    // superseded pre-optimize dirs retire through the windowed vacuum
    assert(SnapshotMerge.vacuumSharded(spark, dir) > 0)
    assert(SnapshotMerge.readSharded(spark, dir).count() == 2000)
    // the skew-robust rank mode threads through too, content intact
    SnapshotMerge.optimizeSharded(spark, dir, Seq("id"), Seq("cat", "id"),
      filesPerShard = 2, rankMode = "equidepth")
    val backEq = SnapshotMerge.readSharded(spark, dir)
    assert(backEq.exceptAll(big).count() == 0 &&
      big.exceptAll(backEq).count() == 0)
  }

  test("restoreSharded: metadata-only rollback to a retained version, itself versioned") {
    val dir = tmp()
    val big = spark.range(0, 300)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
    SnapshotMerge.createSharded(big, Seq("id"), 8, dir) // v1
    SnapshotMerge.upsertSharded(
      spark.range(0, 300, 3).select(col("id"), lit("bad").as("name")),
      Seq("id"), dir) // v2 — the batch we want undone
    assert(SnapshotMerge.restoreSharded(spark, dir, 1L) == 3L) // v3 = v1's map
    val live = SnapshotMerge.readSharded(spark, dir)
    assert(live.count() == 300)
    assert(live.filter(col("name") === "bad").count() == 0,
      "restore must re-surface the pre-batch content")
    // history survives the rollback: the rolled-back-over v2 is still a
    // time-travel target, and the restore itself is a version
    assert(SnapshotMerge.shardedVersions(spark, dir) == Seq(1L, 2L, 3L))
    assert(SnapshotMerge.readShardedVersion(spark, dir, 2L)
      .filter(col("name") === "bad").count() == 100)
    // the snapshot stays writable after the restore (replace, not dup)
    SnapshotMerge.upsertSharded(
      Seq((7L, "fixed")).toDF("id", "name"), Seq("id"), dir) // v4
    val after = SnapshotMerge.readSharded(spark, dir)
    assert(after.count() == 300)
    assert(after.filter(col("id") === 7L)
      .select("name").as[String].head() == "fixed")
    // restoring to the live version is a loud no-op
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.restoreSharded(spark, dir, 4L)
    }
    // vacuum after the restore keeps the LIVE (reactivated v1) dirs —
    // liveness always wins over any retire entry that named them
    SnapshotMerge.vacuumSharded(spark, dir)
    val postVacuum = SnapshotMerge.readSharded(spark, dir)
    assert(postVacuum.count() == 300)
    assert(postVacuum.filter(col("name") === "bad").count() == 0)
  }

  test("reshardSharded: new shard count, same content; old versions keep their assignment") {
    val dir = tmp()
    val big = spark.range(0, 400)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
    SnapshotMerge.createSharded(big, Seq("id"), 4, dir) // v1 @ 4 shards
    SnapshotMerge.upsertSharded(
      spark.range(0, 400, 5).select(col("id"), lit("u1").as("name")),
      Seq("id"), dir) // v2
    assert(SnapshotMerge.reshardSharded(spark, dir, Seq("id"), 16)) // v3 @ 16
    // idempotent from a maintenance loop: already at 16 → no commit
    assert(!SnapshotMerge.reshardSharded(spark, dir, Seq("id"), 16))
    val m = SnapshotMerge.readManifest(spark, dir)
    assert(m.nShards == 16 && m.version == 3L)
    val back = SnapshotMerge.readSharded(spark, dir)
    val want = SnapshotMerge.readShardedVersion(spark, dir, 2L)
    assert(back.exceptAll(want).count() == 0 && want.exceptAll(back).count() == 0,
      "reshard must preserve content exactly")
    // later batches follow the NEW assignment from the manifest:
    // replacement, never duplication
    SnapshotMerge.upsertSharded(
      Seq((10L, "u2")).toDF("id", "name"), Seq("id"), dir) // v4
    val got = SnapshotMerge.readSharded(spark, dir)
    assert(got.count() == 400)
    assert(got.filter(col("id") === 10L)
      .select("name").as[String].head() == "u2")
    // a CDF span crossing the reshard compares by value: only the real
    // change surfaces, not 400 rows of relocation noise
    val span = SnapshotMerge.readShardedChanges(spark, dir, Seq("id"), 2L, 4L)
      .collect()
    assert(span.length == 2 &&
      span.forall(_.getLong(0) == 10L), s"got ${span.mkString(";")}")
    // time travel to the pre-reshard version still reads correctly
    assert(SnapshotMerge.readShardedVersion(spark, dir, 1L).count() == 400)
    // and a restore ACROSS the reshard re-activates the old assignment
    SnapshotMerge.restoreSharded(spark, dir, 2L) // v5 @ 4 shards again
    assert(SnapshotMerge.readManifest(spark, dir).nShards == 4)
    SnapshotMerge.upsertSharded(
      Seq((10L, "u3")).toDF("id", "name"), Seq("id"), dir) // v6 under 4 shards
    val restored = SnapshotMerge.readSharded(spark, dir)
    assert(restored.count() == 400)
    assert(restored.filter(col("id") === 10L)
      .select("name").as[String].head() == "u3")
  }

  test("compactSharded: bin-packs multi-file shards to one file, content intact, size-gated") {
    val dir = tmp()
    val big = spark.range(0, 2000)
      .select(col("id"), (col("id") % 100).as("cat"),
        concat(lit("n"), col("id")).as("name"))
    SnapshotMerge.createSharded(big, Seq("id"), 4, dir) // v1
    SnapshotMerge.optimizeSharded(spark, dir, Seq("id"), Seq("cat", "id"),
      filesPerShard = 4) // v2 — every shard now holds several files
    val beforeFiles = SnapshotMerge.describeSharded(spark, dir)
      .agg(sum("files")).head.getLong(0)
    assert(beforeFiles > 4, s"fixture must start multi-file, got $beforeFiles")
    // a target below every shard's bytes qualifies nothing: no commit,
    // no version bump — big shards are optimizeSharded's job
    val v = SnapshotMerge.readManifest(spark, dir).version
    assert(SnapshotMerge.compactSharded(spark, dir, targetFileBytes = 1L) == 0)
    assert(SnapshotMerge.readManifest(spark, dir).version == v)
    // a generous target packs every shard back to one file
    assert(SnapshotMerge.compactSharded(spark, dir) == 4)
    val d = SnapshotMerge.describeSharded(spark, dir).collect()
    assert(d.length == 4 && d.forall(_.getLong(3) == 1L),
      s"expected 1 file per shard, got ${d.map(_.getLong(3)).mkString(",")}")
    // row content preserved exactly
    val back = SnapshotMerge.readSharded(spark, dir)
    assert(back.exceptAll(big).count() == 0 && big.exceptAll(back).count() == 0)
    // idempotent: single-file shards never qualify again
    assert(SnapshotMerge.compactSharded(spark, dir) == 0)
    // the superseded multi-file dirs retire through the windowed vacuum
    assert(SnapshotMerge.vacuumSharded(spark, dir) > 0)
    assert(SnapshotMerge.readSharded(spark, dir).count() == 2000)
  }

  test("describeSharded: one row per live shard with real file/byte counts") {
    val dir = tmp()
    val big = spark.range(0, 500)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
    SnapshotMerge.createSharded(big, Seq("id"), 8, dir)
    val d1 = SnapshotMerge.describeSharded(spark, dir).collect()
    assert(d1.length == 8)
    assert(d1.forall(_.getLong(0) == 1L)) // version
    assert(d1.forall(r => r.getLong(3) >= 1L && r.getLong(4) > 0L))
    // a one-key merge bumps the version everywhere but rewrites one
    // shard's path; file counts stay real
    SnapshotMerge.upsertSharded(
      Seq((7L, "upd")).toDF("id", "name"), Seq("id"), dir)
    val d2 = SnapshotMerge.describeSharded(spark, dir).collect()
    assert(d2.length == 8)
    assert(d2.forall(_.getLong(0) == 2L))
    val moved = d2.map(r => r.getLong(1) -> r.getString(2)).toMap
    val before = d1.map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(moved.count { case (k, p) => before(k) != p } == 1,
      "exactly the touched shard should point at a new physical dir")
  }

  test("the full sharded lifecycle composes (create→merge→evolve→optimize→vacuum→time-travel)") {
    val dir = tmp()
    val big = spark.range(0, 300)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
    SnapshotMerge.createSharded(big, Seq("id"), 8, dir) // v1
    SnapshotMerge.upsertSharded(
      spark.range(0, 300, 3).select(col("id"), lit("upd").as("name")),
      Seq("id"), dir) // v2
    SnapshotMerge.evolveSharded(spark, dir, Seq("id"),
      big.limit(0).withColumn("score", lit(0.0))) // v3 — anchor republished
    SnapshotMerge.upsertSharded(
      Seq((5L, "wide", 5.5)).toDF("id", "name", "score"),
      Seq("id"), dir) // v4
    SnapshotMerge.optimizeSharded(spark, dir, Seq("id"),
      Seq("id"), filesPerShard = 1) // v5
    val got = SnapshotMerge.readSharded(spark, dir)
    assert(got.count() == 300)
    assert(got.filter(col("name") === "upd").count() == 100) // ids 0,3,…,297; id 5 was "n5"
    assert(got.filter(col("id") === 5L)
      .select("score").as[Double].head() == 5.5)
    assert(got.filter(col("score").isNotNull).count() == 1)
    // time travel across the evolution boundary
    val v2 = SnapshotMerge.readShardedVersion(spark, dir, 2L)
    assert(v2.columns.sorted.toSeq == Seq("id", "name"))
    assert(v2.filter(col("name") === "upd").count() == 100)
    // vacuum reaps every retired version; the live state survives
    assert(SnapshotMerge.vacuumSharded(spark, dir) > 0)
    assert(SnapshotMerge.shardedVersions(spark, dir) == Seq(5L))
    val after = SnapshotMerge.readSharded(spark, dir)
    assert(after.count() == 300)
    assert(after.filter(col("id") === 5L)
      .select("score").as[Double].head() == 5.5)
  }

  test("two interleaved writers: the CAS loser retries onto the winner's version — no lost rows") {
    val dir = tmp()
    val big = spark.range(0, 300)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
    SnapshotMerge.createSharded(big, Seq("id"), 8, dir) // v1
    // writer A reads v1, writes its delta … and in its commit window
    // writer B runs a COMPLETE upsert (committing v2). A's commit of v2
    // loses the CAS, so A re-reads v2 and commits v3 — B's batch is
    // never discarded.
    val batchA = spark.range(0, 300, 3)
      .select(col("id"), lit("from_a").as("name"))
    val batchB = spark.range(0, 300, 5)
      .select(col("id"), lit("from_b").as("name"))
    var attempts = 0
    assert(SnapshotMerge.upsertSharded(batchA, Seq("id"), dir,
      onCommitAttempt = () => {
        attempts += 1
        if (attempts == 1)
          SnapshotMerge.upsertSharded(batchB, Seq("id"), dir)
      }))
    assert(attempts == 2, s"A must lose once then win, got $attempts attempts")
    assert(SnapshotMerge.shardedVersions(spark, dir) == Seq(1L, 2L, 3L))
    val got = SnapshotMerge.readSharded(spark, dir)
    assert(got.count() == 300)
    // A committed after B, so contested keys (%15) are A's — exactly
    // the sequential B-then-A outcome
    assert(got.filter(col("name") === "from_a").count() == 100)
    assert(got.filter(col("name") === "from_b").count() ==
      batchB.count() - 20) // %5 keys minus the 20 contested %15 keys
    // and B's batch is fully present where uncontested — nothing lost
    assert(got.filter(col("id") % 5 === 0 && col("id") % 3 =!= 0 &&
      col("name") =!= "from_b").count() == 0)
  }

  test("a torn commit (manifest, no retire log) rolls forward") {
    val dir = tmp()
    SnapshotMerge.createSharded(base, Seq("id"), 4, dir) // v1
    SnapshotMerge.upsertSharded(
      Seq((2L, "b2", 21.0)).toDF("id", "name", "score"), Seq("id"), dir) // v2
    // simulate the crash between the manifest CAS and the retire-log
    // write: the committed v2 FILE is the commit, so readers and writers
    // roll forward to it
    val f = IndexFs.fs(spark, dir)
    assert(f.delete(new org.apache.hadoop.fs.Path(s"$dir/_retired/retired-v2"), false))
    assert(SnapshotMerge.existsSharded(spark, dir))
    assert(SnapshotMerge.readSharded(spark, dir)
      .filter(col("id") === 2L).select("name").as[String].head() == "b2")
    // the next writer targets v3, not a re-fight over v2
    SnapshotMerge.upsertSharded(
      Seq((3L, "c2", 31.0)).toDF("id", "name", "score"), Seq("id"), dir)
    assert(SnapshotMerge.shardedVersions(spark, dir) == Seq(1L, 2L, 3L))
    val got = SnapshotMerge.readSharded(spark, dir).orderBy("id")
      .select("name").as[String].collect().toSeq
    assert(got == Seq("a", "b2", "c2"))
  }

  test("commit seam: a lost CAS leaves nothing, a won CAS retire-logs") {
    val dir = tmp()
    // multi-file shards, so compactSharded has work to race
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "20")
    try SnapshotMerge.createSharded(
      spark.range(0, 400).select(col("id"), concat(lit("n"), col("id")).as("name")),
      Seq("id"), 4, dir) // v1
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val f = IndexFs.fs(spark, dir)
    def relative(p: String) = p.stripPrefix(s"$dir/")
    def retireLog(v: Long): Option[Set[String]] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/_retired/retired-v$v")
      if (f.exists(p)) Some(IndexFs.readSmallFile(f, p).split("\n").toSet)
      else None
    }
    def attemptDirs(v: Long) = IndexFs.listDirNames(spark, dir)
      .filter(n => n.startsWith(s"shards-v$v-") || n.startsWith(s"schema-v$v-"))
    // a competitor that commits the next version as a bare manifest (no
    // retire log of its own) carrying the current state
    def competitor(): SnapshotMerge.Manifest = {
      val m = SnapshotMerge.readManifest(spark, dir)
      val c = m.copy(version = m.version + 1)
      assert(SnapshotMerge.tryCommitManifest(spark, dir, c))
      c
    }

    // LOST at the seam, with and without a fresh anchor: everything the
    // attempt wrote is gone, no retire log, the competitor's manifest is live
    for (withAnchor <- Seq(false, true)) {
      val m = SnapshotMerge.readManifest(spark, dir)
      val d = SnapshotMerge.writeDelta(spark, dir, m.version + 1,
        base.withColumn("__shard", lit(0L)),
        anchor = if (withAnchor) Some(base.limit(0)) else None)
      assert(d.written.length == (if (withAnchor) 2 else 1))
      assert(d.written.forall(IndexFs.exists(spark, _)))
      val c = competitor()
      assert(!SnapshotMerge.commit(spark, dir, Some(m), d.over(m), d.written))
      d.written.foreach(p => assert(!IndexFs.exists(spark, p), s"lost attempt left $p"))
      assert(retireLog(c.version).isEmpty)
      assert(SnapshotMerge.readManifest(spark, dir) == c)
    }

    // LOST inside every full-rewrite op: a competitor commits the
    // moment the op's shard write lands (RacingCommitProtocol) — the op
    // deletes what it wrote and throws, naming itself
    val ops: Seq[(String, () => Unit)] = Seq(
      "compactSharded" -> (() => SnapshotMerge.compactSharded(spark, dir)),
      "optimizeSharded" -> (() =>
        SnapshotMerge.optimizeSharded(spark, dir, Seq("id"), Seq("id"))),
      "evolveSharded" -> (() => SnapshotMerge.evolveSharded(spark, dir,
        Seq("id"), Seq((1L, "x", 1.0)).toDF("id", "name", "score"))),
      "migrateSharded" -> (() => SnapshotMerge.migrateSharded(spark, dir,
        Seq("id"), renames = Map("name" -> "title"))),
      "reshardSharded" -> (() =>
        assert(SnapshotMerge.reshardSharded(spark, dir, Seq("id"), 8))))
    spark.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[RacingCommitProtocol].getName)
    try ops.foreach { case (op, run) =>
      val next = SnapshotMerge.readManifest(spark, dir).version + 1
      var raced: Option[SnapshotMerge.Manifest] = None
      RacingCommitProtocol.afterCommit = path =>
        if (raced.isEmpty && path.contains(s"$dir/shards-v")) raced = Some(competitor())
      val e = intercept[ConcurrentCommitException](run())
      assert(e.getMessage.contains(op) && e.getMessage.contains(s"version $next"),
        e.getMessage)
      assert(raced.exists(_.version == next), s"$op: the race never fired")
      assert(attemptDirs(next).isEmpty, s"$op left ${attemptDirs(next)}")
      assert(retireLog(next).isEmpty)
      assert(SnapshotMerge.readManifest(spark, dir) == raced.get)
    } finally {
      RacingCommitProtocol.afterCommit = _ => ()
      spark.conf.unset("spark.sql.sources.commitProtocolClass")
    }

    // upsertSharded retries instead: 5 attempts, one hook call each, and
    // exhaustion throws with no attempt's dirs left behind
    val vBefore = SnapshotMerge.readManifest(spark, dir).version
    var attempts = 0
    val e = intercept[ConcurrentCommitException] {
      SnapshotMerge.upsertSharded(Seq((2L, "b9")).toDF("id", "name"),
        Seq("id"), dir, onCommitAttempt = () => { attempts += 1; competitor() })
    }
    assert(attempts == 5 && e.getMessage.contains("upsertSharded"))
    (vBefore + 1 to vBefore + 5).foreach { v =>
      assert(attemptDirs(v).isEmpty && retireLog(v).isEmpty)
    }
    assert(SnapshotMerge.readSharded(spark, dir).count() == 400)

    // WON: the retire log names exactly the superseded dirs — the
    // anchor only when it was replaced — plus the old manifest
    def expectedRetired(before: SnapshotMerge.Manifest,
        after: SnapshotMerge.Manifest): Set[String] =
      ((before.shards.values.toSet + before.anchor) --
        (after.shards.values.toSet + after.anchor)).map(relative) +
        s"manifest-v${before.version}"
    val m0 = SnapshotMerge.readManifest(spark, dir)
    SnapshotMerge.upsertSharded(Seq((2L, "b2")).toDF("id", "name"),
      Seq("id"), dir)
    val m1 = SnapshotMerge.readManifest(spark, dir)
    assert(retireLog(m1.version).contains(expectedRetired(m0, m1)))
    assert(expectedRetired(m0, m1).size == 2) // one shard dir + the manifest
    SnapshotMerge.evolveSharded(spark, dir, Seq("id"),
      Seq((1L, "x", 1.0)).toDF("id", "name", "score"))
    val m2 = SnapshotMerge.readManifest(spark, dir)
    assert(m2.anchor != m1.anchor)
    assert(retireLog(m2.version).contains(expectedRetired(m1, m2)))
    assert(expectedRetired(m1, m2) ==
      (m1.shards.values.toSet + m1.anchor).map(relative) + s"manifest-v${m1.version}")
    // concurrent CREATE: the second creator fails loudly too
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.createSharded(base, Seq("id"), 4, dir)
    }
  }

  test("CDF: typed change rows between versions; reference-carried shards unread; re-cluster emits nothing") {
    val dir = tmp()
    val big = spark.range(0, 400)
      .select(col("id"), concat(lit("n"), col("id")).as("name"),
        (col("id") * 1.5).as("score"))
    SnapshotMerge.createSharded(big, Seq("id"), 8, dir) // v1
    val batch = Seq(
      (7L, "updated", -1.0, false),  // update
      (1000L, "fresh", 9.0, false),  // insert (new key)
      (14L, "x", 0.0, true)          // delete
    ).toDF("id", "name", "score", "del")
    SnapshotMerge.upsertSharded(batch, Seq("id"), dir,
      deleteCol = Some("del")) // v2
    val cdf = SnapshotMerge.readShardedChanges(spark, dir, Seq("id"), 1L, 2L)
      .cache()
    assert(cdf.columns.toSeq == Seq("id", "name", "score", "_change_type"))
    val byType = cdf.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 1L, "delete" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L), s"got $byType")
    assert(cdf.filter(col("_change_type") === "insert")
      .select("id").as[Long].head() == 1000L)
    assert(cdf.filter(col("_change_type") === "delete")
      .select("id").as[Long].head() == 14L)
    assert(cdf.filter(col("_change_type") === "update_preimage")
      .select("name").as[String].head() == "n7")
    assert(cdf.filter(col("_change_type") === "update_postimage")
      .select("name").as[String].head() == "updated")
    // scale contract: only the DIFFERING shard dirs are scanned — a
    // 3-key batch against 8 shards must not read the whole snapshot
    // twice (reference-carried shards are provably unchanged)
    val scannedDirs = cdf.inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    assert(scannedDirs.length <= 6,
      s"CDF scanned ${scannedDirs.length} shard dirs: ${scannedDirs.mkString(",")}")
    // a multi-version span diffs endpoints directly: v1→v3 after a
    // second batch reverts id 7 — the revert cancels out
    SnapshotMerge.upsertSharded(
      Seq((7L, "n7", 10.5)).toDF("id", "name", "score"), Seq("id"), dir) // v3
    val span = SnapshotMerge.readShardedChanges(spark, dir, Seq("id"), 1L, 3L)
    assert(span.filter(col("id") === 7L).count() == 0,
      "a value reverted inside the span must not appear in the diff")
    assert(span.count() == 2) // the insert + the delete survive
    // a pure re-cluster changes every shard dir but no values → empty feed
    SnapshotMerge.optimizeSharded(spark, dir, Seq("id"), Seq("score", "id")) // v4
    assert(SnapshotMerge.readShardedChanges(spark, dir, Seq("id"), 3L, 4L)
      .count() == 0)
    // bad spans and vacuumed endpoints fail loudly
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.readShardedChanges(spark, dir, Seq("id"), 2L, 2L)
    }
    SnapshotMerge.vacuumSharded(spark, dir)
    assertThrows[IllegalArgumentException] {
      SnapshotMerge.readShardedChanges(spark, dir, Seq("id"), 1L, 4L)
    }
  }

  test("CDF drives a downstream incremental consumer to the full-rebuild state") {
    val dir = tmp()
    val big = spark.range(0, 300)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
    SnapshotMerge.createSharded(big, Seq("id"), 8, dir) // v1
    // a replica bootstrapped from v1…
    val replica = tmp()
    SnapshotMerge.createSharded(SnapshotMerge.readShardedVersion(spark, dir, 1L),
      Seq("id"), 4, replica)
    // …then the source moves on (updates + inserts + deletes)
    SnapshotMerge.upsertSharded(
      spark.range(0, 300, 7)
        .select(col("id"), lit("upd").as("name"),
          (col("id") % 3 === 0).as("del")),
      Seq("id"), dir, deleteCol = Some("del")) // v2
    SnapshotMerge.upsertSharded(
      Seq((900L, "new"), (901L, "new")).toDF("id", "name"),
      Seq("id"), dir) // v3
    // the CDF span IS the incremental maintenance feed: postimages +
    // inserts upsert, deletes delete — no source rescan
    val feed = SnapshotMerge.readShardedChanges(spark, dir, Seq("id"), 1L, 3L)
    SnapshotMerge.upsertSharded(
      feed.filter(col("_change_type").isin("insert", "update_postimage", "delete"))
        .withColumn("__is_del", col("_change_type") === "delete")
        .drop("_change_type"),
      Seq("id"), replica, deleteCol = Some("__is_del"))
    val want = SnapshotMerge.readSharded(spark, dir)
    val got = SnapshotMerge.readSharded(spark, replica)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "CDF-driven replica must equal the source's live state")
  }

  test("evolveSharded rejects a reserved __mergekey_<key> template column") {
    val dir = tmp()
    SnapshotMerge.createSharded(base, Seq("id"), 4, dir)
    // letting this through would persist the reserved column into every
    // shard + the anchor and brick all later merges — with no recovery
    // short of a rebuild, since evolution only widens
    val e = intercept[IllegalArgumentException] {
      SnapshotMerge.evolveSharded(spark, dir, Seq("id"),
        Seq((1L, "x")).toDF("id", "__mergekey_id"))
    }
    assert(e.getMessage.contains("__mergekey_id"))
    assert(SnapshotMerge.readSharded(spark, dir).count() == 3)
  }

  test("windowed vacuum never reaps an unlogged superseded dir on its write mtime") {
    val dir = tmp()
    SnapshotMerge.createSharded(base, Seq("id"), 2, dir)
    SnapshotMerge.upsertSharded(
      Seq((2L, "b2", 21.0)).toDF("id", "name", "score"), Seq("id"), dir)
    // simulate the crash window: the manifest committed but the retire
    // log never landed — the superseded v1 dirs are now unlogged dead dirs
    // whose WRITE mtime is arbitrarily older than the supersession
    val f = IndexFs.fs(spark, dir)
    val rDir = new org.apache.hadoop.fs.Path(s"$dir/_retired")
    f.listStatus(rDir).foreach(st => f.delete(st.getPath, false))
    val oldReader = SnapshotMerge.readShardedVersion(spark, dir, 1L)
    // a windowed vacuum must NOT reap them immediately (old behavior
    // did, via the orphan write-mtime path) — it synthesizes a retire
    // entry instead and the reader keeps its complete old version
    assert(SnapshotMerge.vacuumSharded(spark, dir, minAgeMs = 150L) == 0)
    assert(oldReader.count() == 3)
    // one full window later the synthesized entry expires and phase 1
    // reaps the dirs like any logged retiree
    Thread.sleep(300)
    assert(SnapshotMerge.vacuumSharded(spark, dir, minAgeMs = 150L) > 0)
    assert(SnapshotMerge.readSharded(spark, dir).count() == 3)
    // minAgeMs = 0 (CI posture) keeps immediate reaping — covered by
    // the orphan test above
  }

  test("vacuum: a dir named by both an expired and an unexpired retire entry survives the window") {
    val dir = tmp()
    SnapshotMerge.createSharded(base, Seq("id"), 2, dir)
    SnapshotMerge.upsertSharded(
      Seq((1L, "a2", 11.0), (2L, "b2", 21.0), (3L, "c2", 31.0))
        .toDF("id", "name", "score"), Seq("id"), dir)
    val f = IndexFs.fs(spark, dir)
    val rDir = new org.apache.hadoop.fs.Path(s"$dir/_retired")
    val logs = f.listStatus(rDir).filter(_.isFile)
    assert(logs.nonEmpty)
    // the restore-then-supersede shape: the SAME dirs (and manifest)
    // named by a second, fresh retire entry
    val src = logs.minBy(_.getPath.getName)
    val content = IndexFs.readSmallFile(f, src.getPath)
    val dup = new org.apache.hadoop.fs.Path(s"$dir/_retired/retired-v9")
    val out = f.create(dup, true)
    out.write(content.getBytes("UTF-8")); out.close()
    // expire the FIRST entry only; the duplicate is inside the window
    f.setTimes(src.getPath, System.currentTimeMillis() - 10000L, -1)
    val oldReader = SnapshotMerge.readShardedVersion(spark, dir, 1L)
    // the expired entry must NOT reap dirs the unexpired twin protects
    // (pre-fix: a single interleaved pass deleted them when the expired
    // file sorted first) — in-window readers and time travel survive
    assert(SnapshotMerge.vacuumSharded(spark, dir, minAgeMs = 5000L) == 0)
    assert(oldReader.count() == 3)
    assert(SnapshotMerge.readShardedVersion(spark, dir, 1L).count() == 3)
    // once the protecting entry expires too, the next pass reaps
    f.setTimes(dup, System.currentTimeMillis() - 10000L, -1)
    assert(SnapshotMerge.vacuumSharded(spark, dir, minAgeMs = 5000L) > 0)
    assert(SnapshotMerge.readSharded(spark, dir).count() == 3)
  }

  test("a torn manifest body fails loudly, never a silently smaller snapshot") {
    val dir = tmp()
    SnapshotMerge.createSharded(base, Seq("id"), 4, dir)
    val f = IndexFs.fs(spark, dir)
    val full = IndexFs.readSmallFile(f,
      new org.apache.hadoop.fs.Path(s"$dir/manifest-v1"))
    assert(full.split("\n").last.startsWith("end\t"),
      "every committed manifest carries the count trailer")
    // the fallback-path create-to-close window: a reader glimpses a
    // newer commit mid-write — header intact, tail lines missing
    val torn = full.split("\n").dropRight(2).mkString("\n")
    val o1 = f.create(new org.apache.hadoop.fs.Path(s"$dir/manifest-v2"), true)
    o1.write(torn.getBytes("UTF-8")); o1.close()
    val e1 = intercept[IllegalArgumentException] {
      SnapshotMerge.readSharded(spark, dir)
    }
    assert(e1.getMessage.contains("trailer"))
    // trailer present but a shard line lost: the count gate catches it
    val lines = full.split("\n")
    val dropMiddle = (lines.take(1) ++ lines.drop(2)).mkString("\n")
    val o2 = f.create(new org.apache.hadoop.fs.Path(s"$dir/manifest-v2"), true)
    o2.write(dropMiddle.getBytes("UTF-8")); o2.close()
    val e2 = intercept[IllegalArgumentException] {
      SnapshotMerge.readSharded(spark, dir)
    }
    assert(e2.getMessage.contains("does not match"))
    // clearing the torn file restores the good version
    f.delete(new org.apache.hadoop.fs.Path(s"$dir/manifest-v2"), false)
    assert(SnapshotMerge.readSharded(spark, dir).count() == 3)
  }

  test("a manifest off the one format fails loudly, naming it") {
    val dir = tmp()
    SnapshotMerge.createSharded(base, Seq("id"), 4, dir)
    val f = IndexFs.fs(spark, dir)
    val mPath = new org.apache.hadoop.fs.Path(s"$dir/manifest-v1")
    val good = IndexFs.readSmallFile(f, mPath)
    def put(body: String): Unit = {
      val o = f.create(mPath, true)
      try o.write(body.getBytes("UTF-8")) finally o.close()
    }
    val lines = good.split("\n").toSeq
    val meta = lines.head.split("\t").toSeq
    assert(meta.length == 8 && meta(3) == "h1" && meta(4).nonEmpty &&
      meta(5) == "id" && meta(6) == "-" && meta(7) == "t1",
      s"fixture expects the one header format: ${lines.head}")
    assert(lines.last == s"end\t${lines.length - 2}")
    def withHeader(fields: Seq[String]) =
      (fields.mkString("\t") +: lines.tail).mkString("\n")
    val forged = Seq(
      "empty anchor" -> withHeader(meta.updated(4, "")),
      "no anchor field" -> withHeader(meta.patch(4, Nil, 1)),
      "no hash version" -> withHeader(meta.patch(3, Nil, 1)),
      "foreign hash version" -> withHeader(meta.updated(3, "h0")),
      "no key names field" -> withHeader(meta.patch(5, Nil, 1)),
      "empty key list" -> withHeader(meta.updated(5, "")),
      "the seven-field header, no mirrored version" -> withHeader(meta.patch(6, Nil, 1)),
      "a mirrored version that is not a number" -> withHeader(meta.updated(6, "v3")),
      "no t1 flag" -> withHeader(meta.take(7)),
      "no trailer" -> lines.init.mkString("\n"))
    forged.foreach { case (what, body) =>
      put(body)
      val e = intercept[IllegalArgumentException] {
        SnapshotMerge.readSharded(spark, dir)
      }
      assert(e.getMessage.contains("manifest-v1"), s"$what: ${e.getMessage}")
    }
    put(good)
    assert(SnapshotMerge.readSharded(spark, dir).count() == 3)
  }

  test("the manifest persists the key names: a comma round-trips, an unencodable name is refused") {
    val dir = tmp()
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id,part", "name", "score")
    SnapshotMerge.createSharded(df, Seq("name", "id,part"), 4, dir)
    assert(SnapshotMerge.readManifest(spark, dir).keys == Seq("name", "id,part"))
    val refused = tmp()
    Seq("id\tx", "id\nx", "id\u001fx").foreach { k =>
      val e = intercept[IllegalArgumentException] {
        SnapshotMerge.createSharded(df.withColumnRenamed("name", k),
          Seq(k), 4, refused)
      }
      assert(e.getMessage.contains("cannot persist"), e.getMessage)
    }
    assert(!SnapshotMerge.existsSharded(spark, refused))
  }

  test("a mis-keyed write fails loudly, naming both key lists, and commits nothing") {
    val dir = tmp()
    SnapshotMerge.createSharded(base, Seq("id"), 4, dir)
    val v1 = SnapshotMerge.readManifest(spark, dir)
    // routed by (id, name), this batch missed the row it replaces and
    // left two rows for id 1
    val e = intercept[IllegalArgumentException] {
      SnapshotMerge.upsertSharded(Seq((1L, "a2", 11.0)).toDF("id", "name", "score"),
        Seq("id", "name"), dir)
    }
    assert(e.getMessage.contains("[id, name]") && e.getMessage.contains("[id]"),
      e.getMessage)
    val misKeyed: Seq[(String, () => Any)] = Seq(
      "optimizeSharded" -> (() =>
        SnapshotMerge.optimizeSharded(spark, dir, Seq("name"), Seq("id"))),
      "evolveSharded" -> (() => SnapshotMerge.evolveSharded(spark, dir,
        Seq("name"), Seq((1L, "x", 1.0, 1)).toDF("id", "name", "score", "extra"))),
      "reshardSharded" -> (() =>
        SnapshotMerge.reshardSharded(spark, dir, Seq("name"), 8)),
      "migrateSharded" -> (() => SnapshotMerge.migrateSharded(spark, dir,
        Seq("name"), renames = Map("score" -> "points"))))
    misKeyed.foreach { case (op, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(op) && e.getMessage.contains("[name]") &&
        e.getMessage.contains("[id]"), e.getMessage)
    }
    assert(SnapshotMerge.readManifest(spark, dir) == v1, "nothing may commit")
    assert(SnapshotMerge.readSharded(spark, dir).count() == 3)
    // a key rename is recorded; a restore carries its version's keys
    SnapshotMerge.migrateSharded(spark, dir, Seq("id"), renames = Map("id" -> "key"))
    assert(SnapshotMerge.readManifest(spark, dir).keys == Seq("key"))
    SnapshotMerge.upsertSharded(Seq((1L, "a2", 11.0)).toDF("key", "name", "score"),
      Seq("key"), dir)
    assert(SnapshotMerge.readSharded(spark, dir).count() == 3)
    SnapshotMerge.restoreSharded(spark, dir, v1.version)
    assert(SnapshotMerge.readManifest(spark, dir).keys == Seq("id"))
  }
}

/** Test-only file commit protocol: runs [[RacingCommitProtocol.afterCommit]]
  * with the output path once a write's job commit lands — the
  * deterministic window between a sharded writer's delta write and its
  * manifest CAS. */
class RacingCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
  extends org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol(
    jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext,
      taskCommits: Seq[org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage]): Unit = {
    super.commitJob(job, taskCommits)
    RacingCommitProtocol.afterCommit(path)
  }
}

object RacingCommitProtocol {
  @volatile var afterCommit: String => Unit = _ => ()
}
