package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}

import graft.{FaultFs, SparkSpec}

/** Contract tests for the staged-commit filesystem layer all three
  * persisted index families share — the r9 exactly-once machinery
  * (tombstones, no-clobber commit rename, orphan handling) proven at
  * the primitive level; the per-family twins live in TextDedupSpec /
  * SimilaritySpec / StreamingOpsSpec. */
class IndexFsSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A fresh tmp dir addressed through [[FaultFs]], and its control. */
  private def faultTmp(prefix: String): (String, FaultFs.Control) = {
    FaultFs.install(spark.sparkContext.hadoopConfiguration)
    val local = tmp(prefix)
    (FaultFs.uri(local), FaultFs.scope(local))
  }

  private def touch(path: String): Unit = {
    val f = IndexFs.fs(spark, path)
    f.mkdirs(new HPath(path).getParent)
    f.create(new HPath(path), true).close()
  }

  test("isCommitted: live commit dir, per-tag tombstone, and folded tombstone all count") {
    val dir = tmp("idxfs_committed")
    assert(!IndexFs.isCommitted(spark, dir, "t1"))
    // live commit dir
    IndexFs.fs(spark, dir).mkdirs(new HPath(s"$dir/commits/t1"))
    assert(IndexFs.isCommitted(spark, dir, "t1"))
    // per-tag tombstone outlives the commit dir
    IndexFs.markCommitted(spark, dir, "t1")
    IndexFs.deleteRecursively(spark, s"$dir/commits/t1")
    assert(IndexFs.isCommitted(spark, dir, "t1"))
    // folded tombstone outlives the per-tag file
    IndexFs.foldTombstones(spark, dir)
    assert(!IndexFs.exists(spark, s"$dir/committed/t1"))
    assert(IndexFs.isCommitted(spark, dir, "t1"))
  }

  test("foldTombstones bounds committed/ to one file and never loses a tag") {
    val dir = tmp("idxfs_fold")
    def committedFiles(): Seq[String] = {
      val f = IndexFs.fs(spark, dir)
      val p = new HPath(s"$dir/committed")
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).map(_.getPath.getName).toSeq.sorted
    }
    // rounds of mark → fold: the file count stays 1 regardless of how
    // many tags have ever been folded, and every tag stays recognized
    (1 to 4).foreach { round =>
      IndexFs.markCommitted(spark, dir, s"tag_$round")
      IndexFs.markCommitted(spark, dir, s"extra_$round")
      IndexFs.foldTombstones(spark, dir)
      assert(committedFiles() == Seq(s"_folded-$round"),
        s"round $round: ${committedFiles()}")
      (1 to round).foreach { r =>
        assert(IndexFs.isCommitted(spark, dir, s"tag_$r"))
        assert(IndexFs.isCommitted(spark, dir, s"extra_$r"))
      }
    }
    assert(!IndexFs.isCommitted(spark, dir, "never_seen"))
    // an already-folded dir is a no-op (no version churn)
    IndexFs.foldTombstones(spark, dir)
    assert(committedFiles() == Seq("_folded-4"))
    // a crashed fold's temp file is never read as a version and is
    // cleaned by the next fold without losing recognition
    touch(s"$dir/committed/_folding-tmp")
    assert(IndexFs.isCommitted(spark, dir, "tag_1"))
    IndexFs.markCommitted(spark, dir, "tag_5")
    IndexFs.foldTombstones(spark, dir)
    assert(committedFiles() == Seq("_folded-5"))
    (1 to 5).foreach(r => assert(IndexFs.isCommitted(spark, dir, s"tag_$r")))
    // legacy '_'-prefixed tags (pre-r10 rule) stay maintainable: the
    // tombstone lands, folds, and stays recognized — only NEW appends
    // reject the reserved prefix
    IndexFs.markCommitted(spark, dir, "_legacy")
    assert(IndexFs.isCommitted(spark, dir, "_legacy"))
    IndexFs.foldTombstones(spark, dir)
    assert(committedFiles() == Seq("_folded-6"))
    assert(IndexFs.isCommitted(spark, dir, "_legacy"))
  }

  test("requireValidTag rejects path escapes and the reserved '_' namespace") {
    IndexFs.requireValidTag("batch_0") // the crawl loop's shape
    IndexFs.requireValidTag("b-1.2")
    Seq("", ".", "..", "a/b", "_folded-1", "_anything").foreach { bad =>
      assertThrows[IllegalArgumentException](IndexFs.requireValidTag(bad))
    }
  }

  test("stagedAppend: a staged dir disturbed mid-write fails LOUDLY, never a half-appended commit") {
    import spark.implicits._
    val (dir, fault) = faultTmp("idxfs_half")
    val rel1 = Seq((1L, "a")).toDF("id", "v")
    val rel2 = Seq((2L, "b")).toDF("id", "v")
    // the historical reaper race: the staged dir is deleted after the
    // first relation lands and recreated by the second write — the
    // commit rename would land a batch missing relation "r1"
    fault.before("renameNoClobber", _.endsWith("/staged/t1")) {
      IndexFs.deleteRecursively(spark, s"$dir/staged/t1/r1")
    }
    val ex = intercept[java.io.IOException] {
      IndexFs.stagedAppend(spark, dir, "t1", Seq("r1" -> rel1, "r2" -> rel2))
    }
    assert(ex.getMessage.contains("r1"))
    // the half-commit was removed and the tag NOT burned: a clean retry lands
    assert(!IndexFs.exists(spark, s"$dir/commits/t1"))
    assert(!IndexFs.isCommitted(spark, dir, "t1"))
    assert(IndexFs.stagedAppend(spark, dir, "t1",
      Seq("r1" -> rel1, "r2" -> rel2)))
    assert(spark.read.parquet(s"$dir/commits/t1/r1").count() == 1)
    assert(spark.read.parquet(s"$dir/commits/t1/r2").count() == 1)
  }

  test("stagedAppend: same-tag double commit yields one winner, one false, no nested dir") {
    import spark.implicits._
    val (dir, fault) = faultTmp("idxfs_double")
    val rel = Seq((1L, "a")).toDF("id", "v")
    // the loser stages, then the winner commits inside the loser's
    // write→rename window; the loser's no-clobber rename must yield
    // false and leave the winner's commit exactly as it landed
    fault.before("renameNoClobber", _.endsWith("/staged/t1")) {
      val won = IndexFs.stagedAppend(spark, dir + "_w", "t1", Seq("r" -> rel))
      assert(won)
      // move the winner's commit into OUR index (same-tag writer)
      IndexFs.rename(spark, s"${dir}_w/commits/t1", s"$dir/commits/t1")
    }
    val loser = IndexFs.stagedAppend(spark, dir, "t1", Seq("r" -> rel))
    assert(!loser)
    assert(!IndexFs.exists(spark, s"$dir/commits/t1/t1"),
      "loser nested inside the winner's commit")
    assert(!IndexFs.exists(spark, s"$dir/staged/t1"), "loser's staging not discarded")
    assert(IndexFs.listDirNames(spark, s"$dir/commits/t1") == Seq("r"))
    assert(spark.read.parquet(s"$dir/commits/t1/r").count() == 1)
  }

  test("writeSmallFileNoClobber: exactly one writer per target wins; body is complete") {
    val dir = tmp("idxfs_cas")
    val f = IndexFs.fs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/commit-v7")
    assert(IndexFs.writeSmallFileNoClobber(spark, f, p, "winner-body"))
    // the loser's attempt reports the loss and never corrupts the body
    assert(!IndexFs.writeSmallFileNoClobber(spark, f, p, "loser-body"))
    assert(IndexFs.readSmallFile(f, p) == "winner-body")
    // no tmp debris left behind by either attempt
    val leftovers = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.contains(".cas-"))
    assert(leftovers.isEmpty, s"tmp debris: ${leftovers.mkString(",")}")
    // a different target is independent
    assert(IndexFs.writeSmallFileNoClobber(spark, f,
      new org.apache.hadoop.fs.Path(s"$dir/commit-v8"), "next"))
  }

  /** Runs `body(0) … body(n - 1)` on `n` threads released together. */
  private def race[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val gate = new java.util.concurrent.CyclicBarrier(n)
    try {
      val futures = (0 until n).map(i => pool.submit(
        new java.util.concurrent.Callable[T] { def call(): T = { gate.await(); body(i) } }))
      futures.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  private def names(dir: String): Seq[String] = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  test("writeSmallFileNoClobber: 6 racing writers, 120 rounds: one winner, its body reads back checksum-verified") {
    val root = tmp("idxfs_cas_race")
    val f = IndexFs.fs(spark, root)
    assert(f.isInstanceOf[org.apache.hadoop.fs.ChecksumFileSystem], "the read must verify checksums")
    (1 to 120).foreach { round =>
      val dir = s"$root/r$round"
      f.mkdirs(new HPath(dir))
      val p = new HPath(s"$dir/commit-v1")
      val won = race(6)(i => IndexFs.writeSmallFileNoClobber(spark, f, p, s"body-$i"))
      assert(won.count(identity) == 1, s"round $round: winners ${won.zipWithIndex.filter(_._1).map(_._2)}")
      assert(IndexFs.readSmallFile(f, p) == s"body-${won.indexOf(true)}", s"round $round")
      assert(names(dir) == Seq(".commit-v1.crc", "commit-v1"), s"round $round: debris")
    }
  }

  test("renameNoClobber: 6 racing commits of one tag, 100 rounds: one winner, never nested") {
    val root = tmp("idxfs_rename_race")
    (1 to 100).foreach { round =>
      val dir = s"$root/r$round"
      (0 until 6).foreach { i =>
        val staged = java.nio.file.Paths.get(s"$dir/staged/t1-$i")
        java.nio.file.Files.createDirectories(staged)
        java.nio.file.Files.createFile(staged.resolve(s"from-$i"))
      }
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/commits"))
      val won = race(6)(i =>
        IndexFs.renameNoClobber(spark, s"$dir/staged/t1-$i", s"$dir/commits/t1"))
      assert(won.count(identity) == 1, s"round $round: winners ${won.zipWithIndex.filter(_._1).map(_._2)}")
      val w = won.indexOf(true)
      assert(names(s"$dir/commits/t1") == Seq(s"from-$w"), s"round $round: commit holds more than its winner")
      assert(names(s"$dir/staged") == (0 until 6).filter(_ != w).map(i => s"t1-$i"),
        s"round $round: a loser's staged dir moved")
    }
  }

  test("newestMtime sees part-file recency two levels deep") {
    val dir = tmp("idxfs_mtime")
    touch(s"$dir/staged/t1/bands/part-0")
    val old = System.currentTimeMillis() - 100L * 3600 * 1000
    // age the dir and the relation dir but NOT the part file — the
    // part-file write is what a live append keeps fresh
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/staged/t1"),
      java.nio.file.attribute.FileTime.fromMillis(old))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/staged/t1/bands"),
      java.nio.file.attribute.FileTime.fromMillis(old))
    val got = IndexFs.newestMtime(spark, s"$dir/staged/t1")
    assert(got > old + 90L * 3600 * 1000, "part-file mtime not surfaced")
    assert(IndexFs.newestMtime(spark, s"$dir/absent") == Long.MinValue)
  }
}
