package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REVISIT-outcome folding — the WRITE side of the freshness loop:
  * [[UrlCuration.recrawlWaves]] plans which pages to re-fetch (with
  * `last_fetch_ts` riding along as the If-Modified-Since value), the
  * fetcher comes back with per-URL outcomes, and THIS operator folds
  * them into the crawl's page snapshot ([[SnapshotMerge]] — the
  * versioned, shard-rewriting, exactly-once-per-tag store the rest of
  * the engine already maintains):
  *
  *   - **200** — fresh content: the row is REPLACED (new body, new
  *     `last_fetch_ts`);
  *   - **304 Not Modified** — the conditional GET hit: content
  *     CARRIES FORWARD from the snapshot, only `last_fetch_ts`
  *     advances (this is the outcome class that pays for the
  *     If-Modified-Since plumbing — no body ever crossed the wire);
  *   - **3xx** — the address MOVED: the old address's row is DELETED
  *     (the target enters the frontier via
  *     [[UrlCuration.resolveRedirects]]' alias map and gets its own
  *     row when fetched);
  *   - **404 / 410** — the page is GONE: deleted;
  *   - anything else (5xx, timeouts) — TRANSIENT: ignored, the row
  *     stays as it was and the URL simply re-enters a later plan.
  *
  * Revisit rows are keyed down to one outcome per canonical URL
  * before merging (keep-LATEST fetch — two waves' outcomes for one
  * URL resolve to the newer one; ties break on status for
  * determinism). A revisit for a URL the snapshot never held is an
  * INSERT when it carries content (200) and a no-op otherwise
  * (deletes of absent keys are no-ops by [[SnapshotMerge]] contract;
  * 304-without-history has nothing to carry forward and drops —
  * loudly countable from the returned batch).
  *
  * Scale shape: ONE keyed join of the (tiny) revisit batch's 304
  * slice against the snapshot for the carry-forward, then one
  * [[SnapshotMerge.upsertSharded]] — batch keys broadcast, only the
  * touched shards rewrite. `commitTag` gives the fold exactly-once
  * semantics per fetch wave, first contact included — a replayed wave
  * finds its tag and skips, the
  * [[graft.streaming.StreamingOps.mergeStream]] posture.
  */
object Revisit {

  /** Fold one wave of revisit outcomes into the page snapshot at
    * `snapshotDir` (schema `(url, body, last_fetch_ts)` — created with
    * 16 shards on first contact when absent). Returns the number of
    * rows the merge batch carried per outcome class, so callers can
    * ledger the wave. */
  def applyRevisitOutcomes(spark: SparkSession, snapshotDir: String,
      revisits: DataFrame, urlCol: String, tsCol: String,
      statusCol: String, bodyCol: String,
      commitTag: Option[String] = None): Map[String, Long] = {
    import graft.GraftSession.Pinnable
    Seq(urlCol, tsCol, statusCol, bodyCol).foreach(c =>
      require(revisits.columns.contains(c), s"column $c absent"))
    commitTag.foreach(IndexFs.requireValidTag)
    // one outcome per canonical URL: latest fetch wins, status breaks
    // exact-timestamp ties deterministically
    val keyed = revisits.select(
        UrlCuration.canonicalUrl(col(urlCol)).as("url"),
        col(tsCol).as("__ts"), col(statusCol).as("__st"),
        col(bodyCol).as("__body"))
      .filter(col("url").isNotNull)
      .groupBy(col("url"))
      .agg(max(struct(col("__ts"), col("__st"), col("__body"))).as("__w"))
      .select(col("url"), col("__w.__ts").as("__ts"),
        col("__w.__st").as("__st"), col("__w.__body").as("__body"))
      .pinScratch() // three outcome slices below
    val fresh = keyed.filter(col("__st") === 200)
      .select(col("url"), col("__body").as("body"),
        col("__ts").as("last_fetch_ts"), lit(false).as("__rv_del"))
    val gone = keyed.filter(col("__st").isin(404, 410) ||
        (col("__st") >= 300 && col("__st") <= 399 && col("__st") =!= 304))
      .select(col("url"), lit(null).cast("string").as("body"),
        col("__ts").as("last_fetch_ts"), lit(true).as("__rv_del"))
    val notModified0 = keyed.filter(col("__st") === 304)
      .select(col("url"), col("__ts"))
    val present = SnapshotMerge.existsSharded(spark, snapshotDir)
    // 304 carries the CURRENT content forward — an inner join against
    // the snapshot (a 304 for a never-held URL has nothing to refresh)
    val notModified =
      if (!present)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          fresh.schema)
      else
        SnapshotMerge.readSharded(spark, snapshotDir)
          .select(col("url"), col("body"))
          .join(notModified0, Seq("url"))
          .select(col("url"), col("body"), col("__ts").as("last_fetch_ts"),
            lit(false).as("__rv_del"))
    val carried = notModified.pinScratch() // counted AND unioned
    val batch = fresh.unionByName(carried).unionByName(gone)
      .pinScratch() // counted AND merged
    val counts = Map(
      "written" -> fresh.count(),
      "carried" -> carried.count(),
      "deleted" -> gone.count())
    if (!present) {
      SnapshotMerge.createSharded(
        batch.filter(!col("__rv_del")).drop("__rv_del"),
        Seq("url"), nShards = 16, dir = snapshotDir)
      commitTag.foreach(t => IndexFs.markCommitted(spark, snapshotDir, t))
    } else
      SnapshotMerge.upsertSharded(batch, Seq("url"), snapshotDir,
        deleteCol = Some("__rv_del"), commitTag = commitTag)
    counts
  }
}
