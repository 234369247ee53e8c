package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class RevisitSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1767225600L + s))

  private def seedRows = Seq(
      ("http://v.com/a", "body a", ts(0)),
      ("http://v.com/b", "body b", ts(0)),
      ("http://v.com/c", "body c", ts(0)),
      ("http://v.com/d", "body d", ts(0)),
      ("http://v.com/e", "body e", ts(0)))
    .toDF("url", "body", "last_fetch_ts")

  private def seed(path: String): Unit =
    SnapshotMerge.createSharded(seedRows, Seq("url"), 4, path)

  test("every outcome class folds correctly; counts are per class") {
    val path = java.nio.file.Files.createTempDirectory("rv").toString + "/snap"
    seed(path)
    val revisits = Seq(
      ("http://v.com/a", ts(100), 200, "body a v2"), // replace
      ("http://v.com/b", ts(100), 304, null),        // carry forward
      ("http://v.com/c", ts(100), 301, null),        // moved → delete
      ("http://v.com/d", ts(100), 404, null),        // gone → delete
      ("http://v.com/e", ts(100), 503, null),        // transient → no-op
      ("http://v.com/new", ts(100), 200, "fresh"),   // insert
      ("http://v.com/ghost", ts(100), 304, null))    // no history → drop
      .toDF("url", "fetch_ts", "http_status", "body")
    val counts = Revisit.applyRevisitOutcomes(spark, path, revisits,
      "url", "fetch_ts", "http_status", "body")
    assert(counts == Map("written" -> 2L, "carried" -> 1L, "deleted" -> 2L))
    val back = SnapshotMerge.readSharded(spark, path)
      .orderBy("url").collect()
      .map(r => r.getString(0) -> ((r.getString(1),
        r.getAs[java.sql.Timestamp](2)))).toMap
    assert(back("http://v.com/a") == (("body a v2", ts(100))))
    assert(back("http://v.com/b") == (("body b", ts(100)))) // ts-only
    assert(!back.contains("http://v.com/c"))
    assert(!back.contains("http://v.com/d"))
    assert(back("http://v.com/e") == (("body e", ts(0)))) // untouched
    assert(back("http://v.com/new") == (("fresh", ts(100))))
    assert(!back.contains("http://v.com/ghost"))
  }

  test("two waves' outcomes for one URL key down to the LATEST fetch") {
    val path = java.nio.file.Files.createTempDirectory("rv2").toString + "/snap"
    seed(path)
    val revisits = Seq(
      ("http://v.com/a", ts(100), 200, "wave1"),
      ("http://v.com/a", ts(200), 200, "wave2"), // newer wins
      ("http://v.com/b", ts(200), 404, null),
      ("http://v.com/b", ts(100), 200, "stale")) // older loses → delete
      .toDF("url", "fetch_ts", "http_status", "body")
    Revisit.applyRevisitOutcomes(spark, path, revisits,
      "url", "fetch_ts", "http_status", "body")
    val back = SnapshotMerge.readSharded(spark, path).orderBy("url").collect()
    assert(back.find(_.getString(0) == "http://v.com/a")
      .get.getString(1) == "wave2")
    assert(!back.exists(_.getString(0) == "http://v.com/b"))
  }

  test("a tagged wave replays as a no-op; the fold ≡ the keep-last oracle") {
    val path = java.nio.file.Files.createTempDirectory("rv3").toString + "/s"
    seed(path)
    val revisits = Seq(
      ("http://v.com/a", ts(100), 200, "v2"),
      ("http://v.com/b", ts(100), 404, null))
      .toDF("url", "fetch_ts", "http_status", "body")
    Revisit.applyRevisitOutcomes(spark, path, revisits, "url",
      "fetch_ts", "http_status", "body", commitTag = Some("w1"))
    // keep-last over (seed, wave) by url: a replaced, b deleted
    val wave = Seq(
      ("http://v.com/a", "v2", ts(100), false),
      ("http://v.com/b", null, ts(100), true))
      .toDF("url", "body", "last_fetch_ts", "del")
    val expected = graft.ops.Dedup.keepLast(
        seedRows.withColumn("del", lit(false)).withColumn("seq", lit(1))
          .unionByName(wave.withColumn("seq", lit(2))),
        Seq("url"), Seq(col("seq")))
      .filter(!col("del")).drop("seq", "del")
    val s1 = SnapshotMerge.readSharded(spark, path)
    assert(s1.exceptAll(expected).count() == 0 &&
      expected.exceptAll(s1).count() == 0)
    // replay: the tag short-circuits — state and versions unchanged
    val rows1 = s1.orderBy("url").collect().map(_.toString).toSeq
    val versions1 = SnapshotMerge.shardedVersions(spark, path)
    Revisit.applyRevisitOutcomes(spark, path, revisits, "url",
      "fetch_ts", "http_status", "body", commitTag = Some("w1"))
    assert(SnapshotMerge.shardedVersions(spark, path) == versions1)
    assert(SnapshotMerge.readSharded(spark, path).orderBy("url").collect()
      .map(_.toString).toSeq == rows1)
  }

  test("a tagged first-contact wave marks its tag; a replay commits nothing") {
    val path = java.nio.file.Files.createTempDirectory("rv4").toString + "/s"
    val revisits = Seq(
      ("http://v.com/a", ts(100), 200, "first"),
      ("http://v.com/b", ts(100), 404, null))
      .toDF("url", "fetch_ts", "http_status", "body")
    Revisit.applyRevisitOutcomes(spark, path, revisits, "url",
      "fetch_ts", "http_status", "body", commitTag = Some("w0"))
    assert(IndexFs.isCommitted(spark, path, "w0"))
    val versions1 = SnapshotMerge.shardedVersions(spark, path)
    val rows1 = SnapshotMerge.readSharded(spark, path).orderBy("url")
      .collect().map(_.toString).toSeq
    assert(rows1 == Seq(s"[http://v.com/a,first,${ts(100)}]"))
    Revisit.applyRevisitOutcomes(spark, path, revisits, "url",
      "fetch_ts", "http_status", "body", commitTag = Some("w0"))
    assert(SnapshotMerge.shardedVersions(spark, path) == versions1)
    assert(SnapshotMerge.readSharded(spark, path).orderBy("url").collect()
      .map(_.toString).toSeq == rows1)
  }
}
