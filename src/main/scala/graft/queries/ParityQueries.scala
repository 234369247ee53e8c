package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Normalize, SpecAggregate}
import graft.sources.Scan
import graft.spec.{ObjectSpec, SpecCompiler}

/** Reference-parity queries over the driver testdata (mapping table:
  * FIXTURES.md §"Mapping A→B"). Each query has a DuckDB oracle in
  * [[ParityQueries.oracles]]; column names/aliases match exactly and every
  * query carries a deterministic total ORDER BY so the hash compare is
  * order-insensitive by construction.
  *
  * Floating-point aggregate outputs are rounded to 4 decimals on BOTH
  * sides: Spark and DuckDB sum partitions in different orders, so raw
  * double sums differ in the last ulps; rounding removes that noise
  * without weakening the semantic check.
  */
object ParityQueries {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Scan.table(s, dir, name)

  /** Round the given double columns to 4 decimals (oracle-noise control);
    * engine-portable rounding, see [[graft.functions.GraftFunctions.roundPortable]]. */
  private def round4(df: DataFrame, cols: Seq[String]): DataFrame =
    df.withColumns(cols.map(c =>
      c -> graft.functions.GraftFunctions.roundPortable(col(c), 4)).toMap)

  /** DuckDB spelling of the same rounding. */
  private def r4(e: String): String =
    graft.functions.GraftFunctions.roundPortableSql(e, 4)

  private def specOf(groupBy: Seq[String], metrics: Seq[(String, Seq[String])]): ObjectSpec =
    ObjectSpec("adhoc", Nil, Nil, groupBy, ListMap(metrics: _*))

  // --- A1/A3/A4/A5 + O1: Opportunity-shaped grouped rollup (flagship) ---
  val opportunityByStage: Q = (s, dir) => {
    val spec = specOf(Seq("o_orderstatus"), Seq("o_totalprice" -> Seq("sum", "mean", "count")))
    round4(SpecAggregate.run(s, spec, t(s, dir, "orders")),
      Seq("sum_o_totalprice", "avg_o_totalprice"))
  }

  // --- Account-shaped rollup (customer by segment) ---
  val accountBySegment: Q = (s, dir) => {
    val spec = specOf(Seq("c_mktsegment"), Seq("c_acctbal" -> Seq("sum", "mean", "count")))
    round4(SpecAggregate.run(s, spec, t(s, dir, "customer")),
      Seq("sum_c_acctbal", "avg_c_acctbal"))
  }

  // --- Lead-shaped: 2 group keys, count-only (A3 fold) ---
  val leadCountTwoKeys: Q = (s, dir) => {
    val spec = specOf(Seq("l_returnflag", "l_linestatus"), Seq("l_orderkey" -> Seq("count")))
    SpecAggregate.run(s, spec, t(s, dir, "lineitem"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  // --- OpportunityLineItem-shaped: multi-metric per product ---
  val lineitemMultiMetric: Q = (s, dir) => {
    val spec = specOf(Seq("l_partkey"), Seq(
      "l_quantity" -> Seq("sum"),
      "l_discount" -> Seq("mean"),
      "l_extendedprice" -> Seq("sum", "count")))
    round4(SpecAggregate.run(s, spec, t(s, dir, "lineitem")),
      Seq("sum_l_quantity", "avg_l_discount", "sum_l_extendedprice"))
  }

  // --- A6 min/max + boolean-ish group key (Product2-shaped) ---
  val partPriceByBrand: Q = (s, dir) => {
    val spec = specOf(Seq("p_brand"), Seq("p_retailprice" -> Seq("min", "max", "count")))
    round4(SpecAggregate.run(s, spec, t(s, dir, "part")),
      Seq("min_p_retailprice", "max_p_retailprice"))
  }

  // --- A2: global aggregate, no group keys ---
  val globalAgg: Q = (s, dir) => {
    val spec = specOf(Nil, Seq(
      "l_quantity" -> Seq("sum", "mean"),
      "l_extendedprice" -> Seq("min", "max")))
    round4(SpecAggregate.run(s, spec, t(s, dir, "lineitem")),
      Seq("sum_l_quantity", "avg_l_quantity", "min_l_extendedprice", "max_l_extendedprice"))
  }

  // --- P8/P9/A7: Event-shaped derived duration_hours over a join-built
  //     (start, end) pair: order placement → lineitem shipment ---
  val eventDurationByOwner: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    // orders is a fact table — no broadcast hint; Catalyst/AQE broadcast
    // it while it fits and shuffle-join beyond that
    val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("o_custkey").as("owner_id"), col("o_orderdate"), col("l_shipdate"))
    val durated = Normalize.deriveDurationHours(joined, "o_orderdate", "l_shipdate")
    val spec = specOf(Seq("owner_id"), Seq(ObjectSpec.DurationHours -> Seq("sum", "mean", "count")))
    round4(SpecAggregate.run(s, spec, durated), Seq("sum_duration_hours", "avg_duration_hours"))
  }

  // --- S7: empty-input stability — spec-derived schema on a 0-row scan ---
  val emptyInputSchema: Q = (s, dir) => {
    val spec = specOf(Seq("o_orderstatus"), Seq("o_totalprice" -> Seq("sum", "mean", "count")))
    SpecAggregate.run(s, spec, t(s, dir, "orders").filter(lit(false)))
  }

  // --- D1: keep-first dedup with explicit deterministic tie-break ---
  val dedupKeepFirst: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    Dedup.keepFirst(li, Seq("l_orderkey"),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
      .orderBy(col("l_orderkey"))
  }

  // --- D3: keep-last dedup (ledger `run_id` semantics) ---
  val dedupKeepLast: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    Dedup.keepLast(ev, Seq("user_id"), Seq(col("ts"), col("event_id")))
      .orderBy(col("user_id"))
  }

  // --- MERGE: keyed upsert + delete into a one-shard snapshot — the
  // D3 keep-last rule lifted from the JSONL ledger to a table-sized
  // snapshot with atomic publication. Built INSIDE the measured query:
  // baseline snapshot (even keys) → one CDC batch (every 3rd key
  // re-priced, every 9th deleted) → read the committed result back.
  // One shard makes every batch rewrite the whole snapshot, the
  // unpartitioned case. Rerun-stable: create is skipped when the
  // snapshot exists and the repeated batch is a fixed point, so the
  // bench's repeat runs and the Verify dump agree. A lost survivor, a
  // delete that missed, a replaced row surviving, or a torn commit all
  // fail the hash. ---
  val mergeUpsert: Q = (s, dir) => {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val path = SnapshotPaths.dirFor("merge_snapshot", dir, s)
    if (!graft.operators.SnapshotMerge.existsSharded(s, path))
      graft.operators.SnapshotMerge.createSharded(
        orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
        nShards = 1, path)
    val batch = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("is_deleted", col("o_orderkey") % 9 === 0)
    graft.operators.SnapshotMerge.upsertSharded(batch, Seq("o_orderkey"),
      path, deleteCol = Some("is_deleted"))
    graft.operators.SnapshotMerge.readSharded(s, path)
      .orderBy(col("o_orderkey"))
  }

  // --- MERGE through a 16-shard snapshot: the same fixture and batch
  // as q_merge_upsert, but the batch rewrites only the shards it
  // touches. Shares q_merge_upsert's oracle verbatim: the shard count
  // must never change the merged content. Rerun-safe:
  // create is skipped when the snapshot exists and the repeated batch
  // is a fixed point. ---
  val mergeUpsertSharded: Q = (s, dir) => {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val path = SnapshotPaths.dirFor("merge_snapshot_sharded", dir, s)
    if (!graft.operators.SnapshotMerge.existsSharded(s, path)) {
      graft.operators.SnapshotMerge.createSharded(
        orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
        nShards = 16, path)
    }
    val batch = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("is_deleted", col("o_orderkey") % 9 === 0)
    graft.operators.SnapshotMerge.upsertSharded(batch, Seq("o_orderkey"),
      path, deleteCol = Some("is_deleted"))
    graft.operators.SnapshotMerge.readSharded(s, path)
      .orderBy(col("o_orderkey"))
  }

  // --- The STREAMING CDC loop under the hard gate: the same one-shard
  // snapshot and batch as q_merge_upsert, but the batch ARRIVES as two
  // micro-batch files through mergeStream (foreachBatch →
  // SnapshotMerge.upsertSharded, commitTag = batch id). Keys are unique
  // in the batch, so the two-file split applies to the same fixed point
  // regardless of arrival order — q_merge_upsert's oracle verbatim.
  // Fresh-run semantics (checkpoint + snapshot wiped first), like
  // q_stream_incremental_dedup; restart-with-checkpoint is spec-proven
  // in StreamingOpsSpec. ---
  val streamMergeUpsert: Q = (s, dir) => {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val snapDir = SnapshotPaths.dirFor("merge_stream_snap", dir, s)
    val srcDir = SnapshotPaths.dirFor("merge_stream_src", dir, s)
    val ckptDir = SnapshotPaths.dirFor("merge_stream_ckpt", dir, s)
    graft.operators.IndexFs.deleteRecursively(s, snapDir)
    graft.operators.IndexFs.deleteRecursively(s, ckptDir)
    graft.operators.SnapshotMerge.createSharded(
      orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
      nShards = 1, snapDir)
    orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("is_deleted", col("o_orderkey") % 9 === 0)
      .repartition(2).write.mode("overwrite").parquet(srcDir)
    val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    graft.streaming.StreamingOps.mergeStream(stream, snapDir,
        Seq("o_orderkey"), ckptDir, deleteCol = Some("is_deleted"))
      .awaitTermination()
    graft.operators.SnapshotMerge.readSharded(s, snapDir)
      .orderBy(col("o_orderkey"))
  }

  // --- JSONL source under the hard gate: the documents table
  // round-trips through newline-delimited JSON inside the measured
  // query and is read back SCHEMA-FIRST with per-line corruption
  // tolerance (Scan.jsonl — the training-data interchange format;
  // inference is refused by design, a full extra corpus pass at
  // 100 TB). The oracle is the documents table itself: an escaping
  // bug, a mistyped column, or a row lost to the tolerant parse fails
  // the hash. Corrupt-line quarantine is spec-asserted
  // (JsonlScanSpec). ---
  val jsonlScan: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = SnapshotPaths.dirFor("jsonl_docs", dir, s)
    docs.write.mode("overwrite").json(path)
    graft.sources.Scan.jsonl(s, path, docs.schema)
      // clean by construction; doc_id joins the predicate so a bare
      // count() of this query still references a DATA column — Spark
      // refuses raw-JSON plans whose referenced set is only the
      // corrupt column, and count() prunes the projection to exactly
      // that (doc_id is never null, so the semantics are unchanged)
      .filter(col("_corrupt_record").isNull && col("doc_id").isNotNull)
      .drop("_corrupt_record")
      .orderBy(col("doc_id"))
  }

  /** WARC (ISO 28500) round-trip under the hash gate: documents
    * written as WARC response records (one `.warc` file per
    * partition — [[graft.sources.WarcScan.write]]), read back through
    * the schema-first scan. Planted corruptions: `%97` (non-zero)
    * rows get a broken version line, `%89` (non-zero) rows omit
    * `Content-Length` — both must QUARANTINE (data columns null, a
    * bounded snippet of the bad bytes in `corrupt`) and the reader
    * must RESYNC on the next record's magic; `%17` rows are 404
    * responses. The oracle re-derives every row — quarantine
    * snippets included, by reconstructing the exact record bytes —
    * from the same construction. */
  /** The WARC fixture relation shared by the three WARC gates.
    * Besides the corruption axes (`magic`/`nolen`), two CHARSET axes
    * (r20) exercise the scan's encoding sniff: `%83` rows are
    * ISO-8859-1 pages declared in the HTTP Content-Type (`latin1`),
    * `%79` rows are ISO-8859-1 pages declared ONLY by an in-body
    * `<meta charset>` (`meta8859` — the sniff-fallback path); both
    * carry a FIXED all-Latin-1 body (document text could hold
    * codepoints past U+00FF, which ISO-8859-1 cannot encode), so the
    * DuckDB oracle states the decoded text directly and a blind-UTF-8
    * decode of the legacy bytes hash-fails. */
  private def warcFixtureDocs(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val flag = when(id % 97 === 0 && id > 0, lit("magic"))
      .when(id % 89 === 0 && id > 0, lit("nolen"))
      .when(id % 83 === 0 && id > 0, lit("latin1"))
      .when(id % 79 === 0 && id > 0, lit("meta8859"))
      .when(id % 73 === 0 && id > 0, lit("redir"))
      .otherwise(lit(""))
    t(s, dir, "documents").select(
      id,
      concat(lit("http://w.example.com/d/"), id).as("url"),
      timestamp_seconds(lit(1767225600L) + id).as("ts"),
      when(flag === "latin1", concat(lit(WarcLatin1Body), id))
        .when(flag === "meta8859", concat(lit(WarcMetaBody), id))
        .otherwise(concat(lit("Doc "), id, lit(": "), col("text")))
        .as("html"),
      when(flag === "redir", lit(301))
        .when(id % 17 === 0, lit(404)).otherwise(lit(200)).as("status"),
      flag.as("flag"))
  }

  /** The charset-axis bodies — every char ≤ U+00FF so ISO-8859-1 can
    * encode them; stated ONCE and interpolated into BOTH the Spark
    * fixture and the oracle SQL so they cannot drift. */
  private val WarcLatin1Body = "Résumé café Ñº "
  private val WarcMetaBody =
    "<meta charset=\"iso-8859-1\">Füße größer "

  private def warcScanQ(gzip: Boolean): Q = (s, dir) => {
    val path = SnapshotPaths.dirFor(
      if (gzip) "warc_gz_fixture" else "warc_fixture", dir, s)
    // in-partition doc_id order makes corrupt-record ADJACENCY
    // impossible by construction (magic rows are 97 apart): two
    // consecutive magic-less records would collapse into ONE
    // quarantine block under the standard resync heuristic, which the
    // per-record oracle could not mirror
    graft.sources.WarcScan.write(
      warcFixtureDocs(s, dir).sortWithinPartitions("doc_id"),
      "doc_id", "url", "ts", "html", "status", "flag", path, gzip = gzip)
    graft.sources.WarcScan.read(s,
        path + (if (gzip) "/*.warc.gz" else "/*.warc"))
      .select("record_id", "warc_type", "url", "fetch_ts", "http_status",
        "content_type", "body", "location", "corrupt")
      .orderBy("record_id", "corrupt")
  }

  val warcScan: Q = warcScanQ(gzip = false)

  /** The WARC round-trip oracle, shared by the plain and `.warc.gz`
    * gates (gzip must be a byte-identical transport): every record's
    * bytes reconstructed from the construction — CRLF-exact, HTTP
    * payload included — good rows projecting the typed columns,
    * planted corruptions projecting the quarantine contract (NULL
    * data columns + the first 100 characters of the bad block). */
  private val warcScanOracleSql: String =
    s"""WITH f AS (SELECT doc_id, text,
            CASE WHEN doc_id % 97 = 0 AND doc_id > 0 THEN 'magic'
                 WHEN doc_id % 89 = 0 AND doc_id > 0 THEN 'nolen'
                 WHEN doc_id % 83 = 0 AND doc_id > 0 THEN 'latin1'
                 WHEN doc_id % 79 = 0 AND doc_id > 0 THEN 'meta8859'
                 WHEN doc_id % 73 = 0 AND doc_id > 0 THEN 'redir'
                 ELSE '' END AS flag
          FROM documents),
          w AS (SELECT doc_id,
            'http://w.example.com/d/' || doc_id AS url,
            TIMESTAMP '2026-01-01 00:00:00'
              + doc_id * INTERVAL 1 SECOND AS ts,
            CASE WHEN flag = 'latin1' THEN '$WarcLatin1Body' || doc_id
                 WHEN flag = 'meta8859' THEN '$WarcMetaBody' || doc_id
                 ELSE 'Doc ' || doc_id || ': ' || text END AS body,
            CASE WHEN flag = 'redir' THEN 301
                 WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END AS status,
            flag
          FROM f),
          h AS (SELECT *,
            'HTTP/1.1 ' || status ||
            CASE WHEN status = 404 THEN ' Not Found'
                 WHEN status = 301 THEN ' Status 301' ELSE ' OK' END ||
            chr(13) || chr(10) ||
            CASE WHEN flag = 'redir'
              THEN 'Location: ' || url || '/next' || chr(13) || chr(10)
              ELSE '' END ||
            CASE WHEN flag = 'latin1'
                   THEN 'Content-Type: text/html; charset=iso-8859-1'
                 WHEN flag = 'meta8859' THEN 'Content-Type: text/html'
                 ELSE 'Content-Type: text/html; charset=utf-8' END ||
            chr(13) || chr(10) || chr(13) || chr(10) || body AS http
          FROM w),
          rec AS (SELECT *,
            CASE WHEN flag = 'magic' THEN 'GARB/1.0' ELSE 'WARC/1.0' END
            || chr(13) || chr(10) || 'WARC-Type: response'
            || chr(13) || chr(10) || 'WARC-Record-ID: <urn:graft:'
              || doc_id || '>'
            || chr(13) || chr(10) || 'WARC-Date: '
              || strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
            || chr(13) || chr(10) || 'WARC-Target-URI: ' || url
            || chr(13) || chr(10)
              || 'Content-Type: application/http;msgtype=response'
            || chr(13) || chr(10) ||
            CASE WHEN flag = 'nolen' THEN ''
                 ELSE 'Content-Length: ' ||
                   -- latin1-axis wire bytes are ISO-8859-1: one byte
                   -- per char, so the byte count is the CHAR count
                   CASE WHEN flag IN ('latin1', 'meta8859')
                        THEN length(http) ELSE strlen(http) END
                   || chr(13) || chr(10) END
            || chr(13) || chr(10) || http
            || chr(13) || chr(10) || chr(13) || chr(10) AS record_text
          FROM h)
          SELECT
            CASE WHEN flag NOT IN ('magic', 'nolen')
              THEN '<urn:graft:' || doc_id || '>' END AS record_id,
            CASE WHEN flag NOT IN ('magic', 'nolen') THEN 'response' END
              AS warc_type,
            CASE WHEN flag NOT IN ('magic', 'nolen') THEN url END AS url,
            CASE WHEN flag NOT IN ('magic', 'nolen') THEN ts END
              AS fetch_ts,
            CASE WHEN flag NOT IN ('magic', 'nolen') THEN status END
              AS http_status,
            CASE WHEN flag = 'latin1' THEN 'text/html; charset=iso-8859-1'
                 WHEN flag = 'meta8859' THEN 'text/html'
                 WHEN flag IN ('magic', 'nolen') THEN NULL
                 ELSE 'text/html; charset=utf-8' END AS content_type,
            CASE WHEN flag NOT IN ('magic', 'nolen') THEN body END AS body,
            CASE WHEN flag = 'redir' THEN url || '/next' END AS location,
            CASE WHEN flag IN ('magic', 'nolen')
              THEN substr(record_text, 1, 100) END AS corrupt
          FROM rec ORDER BY record_id, corrupt"""

  /** The same fixture through the Common Crawl `.warc.gz` convention —
    * one gzip member per record, members concatenated. The oracle is
    * the plain gate's VERBATIM: compression must be a byte-identical
    * transport, WARC-level corruptions included (they sit INSIDE
    * well-formed gzip members, so the quarantine+resync path runs on
    * the decompressed stream exactly as on plain files). */
  val warcGzScan: Q = warcScanQ(gzip = true)

  /** The WARC scan as a STREAM under the hash gate: the gz fixture
    * staged as TWO `.warc.gz` files arriving through the real
    * streaming path (`binaryFile` source, `maxFilesPerTrigger = 1` →
    * two micro-batch executions), each batch's parse landing as
    * `batch_<id>` parquet. Parsing is stateless per file, so the
    * union of the batches must equal the one-shot batch read — the
    * plain gate's oracle VERBATIM a third time; quarantine rows
    * (the planted WARC-level corruptions ride inside well-formed gz
    * members) must survive the micro-batch boundary identically. */
  val warcStreamScan: Q = (s, dir) => {
    import org.apache.spark.sql.streaming.Trigger
    val path = SnapshotPaths.dirFor("warc_stream_fixture", dir, s)
    val outDir = SnapshotPaths.dirFor("warc_stream_out", dir, s)
    val ckptDir = SnapshotPaths.dirFor("warc_stream_ckpt", dir, s)
    // fresh run each time: stale batch outputs from a differently-
    // batched previous run would union in (the streamIncrementalDedup
    // posture; restart semantics are spec territory)
    graft.operators.IndexFs.deleteRecursively(s, outDir)
    graft.operators.IndexFs.deleteRecursively(s, ckptDir)
    graft.sources.WarcScan.write(
      warcFixtureDocs(s, dir).repartition(2)
        .sortWithinPartitions("doc_id"), // see warcScanQ: no adjacency
      "doc_id", "url", "ts", "html", "status", "flag", path, gzip = true)
    graft.sources.WarcScan.readStream(s, path)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) =>
          b.write.mode("overwrite").parquet(s"$outDir/batch_$id")
          ()
      }
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    graft.streaming.StreamingOps.readBatchOutputs(s, outDir, path)
      .select("record_id", "warc_type", "url", "fetch_ts", "http_status",
        "content_type", "body", "location", "corrupt")
      .orderBy("record_id", "corrupt")
  }

  // --- SCHEMA EVOLUTION (the Delta mergeSchema posture): the one-shard
  // snapshot starts WITHOUT o_totalprice; evolveSharded widens it to
  // the batch's columns, so survivors carry NULL for the new column,
  // then the batch merges with its values and deletes still apply. The
  // oracle spells the same union with an explicit CAST(NULL): a
  // survivor row dropped or mis-filled, or the evolved column leaking
  // into deletes, fails the hash. Rerun-stable: the evolved snapshot
  // skips the widening and re-accepts the same batch as a fixed
  // point. ---
  val mergeSchemaEvolution: Q = (s, dir) => {
    import graft.operators.SnapshotMerge
    val orders = t(s, dir, "orders")
    val path = SnapshotPaths.dirFor("merge_schema_evo", dir, s)
    if (!SnapshotMerge.existsSharded(s, path)) {
      SnapshotMerge.createSharded(
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")),
        Seq("o_orderkey"), nShards = 1, path)
    }
    val batch = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"),
        (col("o_orderkey") % 9 === 0).as("is_deleted"))
    if (!SnapshotMerge.readSharded(s, path).columns.contains("o_totalprice"))
      SnapshotMerge.evolveSharded(s, path, Seq("o_orderkey"),
        batch.drop("is_deleted"))
    SnapshotMerge.upsertSharded(batch, Seq("o_orderkey"), path,
      deleteCol = Some("is_deleted"))
    SnapshotMerge.readSharded(s, path)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  // --- TIME TRAVEL over the sharded snapshot: the emergent read the
  // commit-vs-retire split pays for. Version 1 (the pre-batch
  // snapshot) is read back AFTER a later version committed — its
  // manifest and shard dirs are retained until a windowed vacuum, so
  // the read is complete and consistent (VERSION AS OF). The batch is
  // tagged, so bench re-runs replay-skip it and version numbering is
  // stable; the oracle is the version-1 content — a time-travel read
  // leaking post-batch rows (or losing retained ones) fails the hash. ---
  val mergeTimeTravel: Q = (s, dir) => {
    import graft.operators.SnapshotMerge
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val path = SnapshotPaths.dirFor("merge_time_travel", dir, s)
    if (!SnapshotMerge.existsSharded(s, path)) {
      SnapshotMerge.createSharded(
        orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
        nShards = 8, path)
    }
    val batch = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("is_deleted", col("o_orderkey") % 9 === 0)
    SnapshotMerge.upsertSharded(batch, Seq("o_orderkey"), path,
      deleteCol = Some("is_deleted"), commitTag = Some("tt_batch_1"))
    SnapshotMerge.readShardedVersion(s, path, 1L).orderBy(col("o_orderkey"))
  }

  // --- SMALL-FILE COMPACTION on the sharded snapshot: the same
  // create+merge as q_merge_upsert_sharded (own path), then an
  // OPTIMIZE spreads every shard across several clustered files and
  // compactSharded bin-packs them back to one file per shard. Shares
  // q_merge_upsert's oracle VERBATIM: compaction must be invisible to
  // content — a row lost to the pack, a shard double-carried across
  // the manifest CAS, or a file dropped from the union scan all fail
  // the hash. Rerun-safe: on later runs the compact is a qualifying-0
  // no-op and the batch is a fixed point. ---
  val mergeCompactSharded: Q = (s, dir) => {
    import graft.operators.SnapshotMerge
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val path = SnapshotPaths.dirFor("merge_compact_sharded", dir, s)
    if (!SnapshotMerge.existsSharded(s, path)) {
      SnapshotMerge.createSharded(
        orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
        nShards = 8, path)
    } else SnapshotMerge.vacuumSharded(s, path)
    val batch = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("is_deleted", col("o_orderkey") % 9 === 0)
    SnapshotMerge.upsertSharded(batch, Seq("o_orderkey"), path,
      deleteCol = Some("is_deleted"))
    SnapshotMerge.optimizeSharded(s, path, Seq("o_orderkey"),
      Seq("o_custkey", "o_orderkey"), filesPerShard = 3)
    SnapshotMerge.compactSharded(s, path)
    SnapshotMerge.readSharded(s, path).orderBy(col("o_orderkey"))
  }

  // --- RESTORE: the metadata-only rollback — after the same tagged
  // create+batch as q_merge_time_travel (own path), restoreSharded
  // rolls the LIVE snapshot back to version 1 by committing v1's shard
  // map as a new version (no data moves, CAS-protected). The oracle is
  // the pre-batch content, shared with q_merge_time_travel: a rollback
  // that leaks batch rows, loses retained ones, or re-points a shard
  // wrongly fails the hash. Rerun-safe: the tagged batch replays as a
  // skip and each run's restore re-commits the same v1 map (a content
  // fixed point; version numbers grow, content never moves). ---
  val mergeRestore: Q = (s, dir) => {
    import graft.operators.SnapshotMerge
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val path = SnapshotPaths.dirFor("merge_restore", dir, s)
    if (!SnapshotMerge.existsSharded(s, path)) {
      SnapshotMerge.createSharded(
        orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
        nShards = 8, path)
    }
    val batch = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("is_deleted", col("o_orderkey") % 9 === 0)
    SnapshotMerge.upsertSharded(batch, Seq("o_orderkey"), path,
      deleteCol = Some("is_deleted"), commitTag = Some("restore_batch_1"))
    SnapshotMerge.restoreSharded(s, path, 1L)
    SnapshotMerge.readSharded(s, path).orderBy(col("o_orderkey"))
  }

  // --- RESHARD: the shard-count migration answering describeSharded's
  // skew signal — the same create+merge as q_merge_upsert_sharded (own
  // path, 8 shards), then reshardSharded rewrites the snapshot under a
  // 32-shard assignment. Shares q_merge_upsert's oracle VERBATIM: the
  // re-assignment must be invisible to content — a key double-placed
  // under old+new assignment, a row lost in the rewrite, or a later
  // batch merging under the stale shard count all fail the hash.
  // Rerun-safe: already-at-32 returns false (no commit), the batch is
  // a fixed point merging under the NEW assignment. ---
  val mergeReshard: Q = (s, dir) => {
    import graft.operators.SnapshotMerge
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val path = SnapshotPaths.dirFor("merge_reshard", dir, s)
    if (!SnapshotMerge.existsSharded(s, path)) {
      SnapshotMerge.createSharded(
        orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
        nShards = 8, path)
    }
    SnapshotMerge.reshardSharded(s, path, Seq("o_orderkey"), 32)
    val batch = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("is_deleted", col("o_orderkey") % 9 === 0)
    SnapshotMerge.upsertSharded(batch, Seq("o_orderkey"), path,
      deleteCol = Some("is_deleted"))
    SnapshotMerge.readSharded(s, path).orderBy(col("o_orderkey"))
  }

  // --- COLUMN RENAME/DROP migration on the sharded snapshot — the
  // narrowing counterpart of q_merge_schema_evolution: the snapshot is
  // rebuilt per-shard under (order_id, o_custkey, total_price) —
  // o_orderkey RENAMED (a key rename: the value-hash assignment keeps
  // addressing the same shards), o_totalprice renamed, o_orderstatus
  // DROPPED — then a CDC batch in the NEW spelling merges normally.
  // The oracle spells the migration as SQL aliases over the base
  // table: a key remapped to the wrong shard (dup/lost rows), a
  // dropped column resurfacing, or a rename misapplied to data vs
  // schema all fail the hash. Rerun-stable: the migrate is guarded by
  // a schema probe, the batch is a fixed point. ---
  val mergeSchemaMigrate: Q = (s, dir) => {
    import graft.operators.SnapshotMerge
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val path = SnapshotPaths.dirFor("merge_schema_migrate", dir, s)
    if (!SnapshotMerge.existsSharded(s, path)) {
      SnapshotMerge.createSharded(
        orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
        nShards = 8, path)
    }
    if (SnapshotMerge.readSharded(s, path).columns.contains("o_totalprice")) {
      SnapshotMerge.migrateSharded(s, path, Seq("o_orderkey"),
        renames = Map("o_orderkey" -> "order_id",
          "o_totalprice" -> "total_price"),
        drops = Seq("o_orderstatus"))
    }
    val batch = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("order_id"), col("o_custkey"),
        (col("o_totalprice") + 1000.0).as("total_price"),
        (col("o_orderkey") % 9 === 0).as("is_deleted"))
    SnapshotMerge.upsertSharded(batch, Seq("order_id"), path,
      deleteCol = Some("is_deleted"))
    SnapshotMerge.readSharded(s, path).orderBy(col("order_id"))
  }

  // --- CHANGE DATA FEED between retained versions: the same tagged
  // create+batch as q_merge_time_travel (own path), then the query IS
  // the typed row-level diff v1→v2 (insert / delete / update pre+post
  // images), computed from the differing shards only. The oracle
  // derives the identical change set relationally from the base table:
  // a survivor misclassified as an update, a delete emitted as a
  // missing key, a lost preimage, or a change leaked from a
  // reference-carried shard all fail the hash. Rerun-stable via the
  // commit tag (stable version numbering). ---
  val mergeCdf: Q = (s, dir) => {
    import graft.operators.SnapshotMerge
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val path = SnapshotPaths.dirFor("merge_cdf", dir, s)
    if (!SnapshotMerge.existsSharded(s, path)) {
      SnapshotMerge.createSharded(
        orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
        nShards = 8, path)
    }
    val batch = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("is_deleted", col("o_orderkey") % 9 === 0)
    SnapshotMerge.upsertSharded(batch, Seq("o_orderkey"), path,
      deleteCol = Some("is_deleted"), commitTag = Some("cdf_batch_1"))
    SnapshotMerge.readShardedChanges(s, path, Seq("o_orderkey"), 1L, 2L)
      .orderBy(col("o_orderkey"), col("_change_type"))
  }

  // --- STREAMING CDC into an 8-shard snapshot: the same micro-batch
  // feed as q_stream_merge_upsert — exactly-once per batch THROUGH the
  // manifest commits, each micro-batch rewriting only its touched
  // shards. Shares q_merge_upsert's oracle verbatim: arrival mode and
  // shard count must never change the merged content. ---
  val streamMergeUpsertSharded: Q = (s, dir) => {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val snapDir = SnapshotPaths.dirFor("merge_stream_shard_snap", dir, s)
    val srcDir = SnapshotPaths.dirFor("merge_stream_shard_src", dir, s)
    val ckptDir = SnapshotPaths.dirFor("merge_stream_shard_ckpt", dir, s)
    graft.operators.IndexFs.deleteRecursively(s, snapDir)
    graft.operators.IndexFs.deleteRecursively(s, ckptDir)
    graft.operators.SnapshotMerge.createSharded(
      orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
      nShards = 8, snapDir)
    orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("is_deleted", col("o_orderkey") % 9 === 0)
      .repartition(2).write.mode("overwrite").parquet(srcDir)
    val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    graft.streaming.StreamingOps.mergeStream(stream, snapDir,
        Seq("o_orderkey"), ckptDir, deleteCol = Some("is_deleted"),
        streamName = "cdc_sharded")
      .awaitTermination()
    graft.operators.SnapshotMerge.readSharded(s, snapDir)
      .orderBy(col("o_orderkey"))
  }

  // --- CDF REPLICATION round trip under the hard gate: a five-version
  // source snapshot (create → price bump with deletes → status rewrite
  // that reinserts, each batch committed as two key-disjoint halves) is
  // mirrored into a REPLICA table through the manifest chain —
  // replicateSharded follows it from a durable checkpoint and mirrors
  // each span by copying the source's changed shard dirs, each replica
  // version recording the source version it mirrors (exactly-once
  // effects). The replica
  // bootstraps MID-chain (after v1 only), drains v2..v3 one version at
  // a time, then v4..v5 as one coalesced span, so incremental pickup
  // and both drain shapes run inside the measured query. The oracle
  // recomputes the source's final keep-last state from the orders
  // fixture; any shard lost, stale or duplicated (or a bootstrap/span
  // boundary error) diverges the replica and fails the hash. ---
  val streamCdfReplica: Q = (s, dir) => {
    import graft.operators.SnapshotMerge
    import graft.streaming.StreamingOps
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val srcSnap = SnapshotPaths.dirFor("cdf_src_snap", dir, s)
    val replica = SnapshotPaths.dirFor("cdf_replica", dir, s)
    val ckptDir = SnapshotPaths.dirFor("cdf_replica_ckpt", dir, s)
    Seq(srcSnap, replica, ckptDir)
      .foreach(graft.operators.IndexFs.deleteRecursively(s, _))
    SnapshotMerge.createSharded(
      orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
      nShards = 8, srcSnap) // v1
    // replica bootstraps from v1 before the later versions exist
    StreamingOps.replicateSharded(
      s, srcSnap, replica, Seq("o_orderkey"), ckptDir, nShards = 8)
    // price bump with %9 deletes over the %3 keys: v2 = %6, v3 = the rest
    val bump = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("is_deleted", col("o_orderkey") % 9 === 0)
    Seq(bump.filter(col("o_orderkey") % 6 === 0),
        bump.filter(col("o_orderkey") % 6 =!= 0)).foreach(half =>
      SnapshotMerge.upsertSharded(half, Seq("o_orderkey"), srcSnap,
        deleteCol = Some("is_deleted")))
    StreamingOps.replicateSharded(
      s, srcSnap, replica, Seq("o_orderkey"), ckptDir, nShards = 8)
    // status rewrite over the %5 keys, reinserting %45s: v4 = %10, v5 =
    // the rest — drained as ONE coalesced span, which copies each
    // changed shard's state at v5
    val rewrite = orders.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_orderstatus", lit("R"))
    Seq(rewrite.filter(col("o_orderkey") % 10 === 0),
        rewrite.filter(col("o_orderkey") % 10 =!= 0)).foreach(half =>
      SnapshotMerge.upsertSharded(half, Seq("o_orderkey"), srcSnap))
    StreamingOps.replicateSharded(
      s, srcSnap, replica, Seq("o_orderkey"), ckptDir, nShards = 8,
      coalesceSpans = true)
    SnapshotMerge.readSharded(s, replica).orderBy(col("o_orderkey"))
  }

  // --- OPTIMISTIC CONCURRENCY under the hard gate: two writers race
  // the SAME sharded snapshot inside the measured query. Writer A reads
  // version N and, in its commit window (the onCommitAttempt seam —
  // deterministic, where a thread race would be flaky), writer B runs a
  // COMPLETE competing upsert. A's commit CAS loses, A re-reads the
  // moved snapshot and retries onto it. The oracle applies the batches
  // SEQUENTIALLY (B then A — the commit order the race resolves to): a
  // commit that let the last writer win would silently DISCARD B's
  // committed batch and fail this hash; under the manifest CAS the
  // retry path must converge to the sequential fixed point exactly.
  // Rerun-stable: both batches are idempotent re-applies. ---
  val mergeConcurrent: Q = (s, dir) => {
    import graft.operators.SnapshotMerge
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val path = SnapshotPaths.dirFor("merge_concurrent", dir, s)
    if (!SnapshotMerge.existsSharded(s, path)) {
      SnapshotMerge.createSharded(
        orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
        nShards = 8, path)
    }
    val batchA = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("is_deleted", col("o_orderkey") % 9 === 0)
    val batchB = orders.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 500.0)
    var interleaved = false
    SnapshotMerge.upsertSharded(batchA, Seq("o_orderkey"), path,
      deleteCol = Some("is_deleted"),
      onCommitAttempt = () => {
        if (!interleaved) {
          interleaved = true
          SnapshotMerge.upsertSharded(batchB, Seq("o_orderkey"), path)
        }
      })
    SnapshotMerge.readSharded(s, path).orderBy(col("o_orderkey"))
  }

  // --- A11/O2: top-k value counts with deterministic tie-break ---
  val topkOrderPriority: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("o_orderpriority"))
      .limit(5)

  // --- O2/O3: sorted head over raw rows ---
  val topOrdersByPrice: Q = (s, dir) =>
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  // --- D2: union (JSONL-merge analog) then recount ---
  val unionMergeRecount: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val even = ev.filter(col("user_id") % 2 === 0)
    val odd = ev.filter(col("user_id") % 2 === 1)
    even.unionByName(odd)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("records"))
      .orderBy(col("event_type"))
  }

  // --- Q4/A9/A10: single-pass column profile (nulls + exact distincts) ---
  val profileOrders: Q = (s, dir) => {
    val cols = Seq("o_orderstatus", "o_orderpriority", "o_custkey")
    val df = t(s, dir, "orders")
    val aggs = cols.flatMap { c =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"null_$c"),
        countDistinct(col(c)).as(s"uniq_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', null_$c, uniq_$c").mkString(", ")
    one.selectExpr(
      s"stack(${cols.length}, $stackArgs) as (column_name, null_count, n_unique)")
      .orderBy(col("column_name"))
  }

  // --- P6: tolerant cast — unparseable strings become null, not errors
  //     (ANSI off; DuckDB mirror is TRY_CAST) ---
  val tolerantCast: Q = (s, dir) => {
    val df = Normalize.castMetrics(
      t(s, dir, "orders").withColumn("prio_str", col("o_orderpriority")),
      Seq("prio_str", "o_totalprice", "missing_metric"))
    df.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("records"),
        count(col("prio_str")).as("parsed_ok"), // nulls (failed casts) skipped
        graft.functions.GraftFunctions.roundPortable(
          coalesce(sum(col("o_totalprice")), lit(0.0)), 4).as("sum_price"),
        max(col("missing_metric")).as("max_missing")) // synthesized 0.0
      .orderBy(col("o_orderpriority"))
  }

  // --- Q2: schema gate report as a relation (columns_present, sorted) ---
  val schemaGateReport: Q = (s, dir) => {
    val report = graft.ops.Gates.schemaGate(
      t(s, dir, "orders"), Seq("o_orderkey", "o_orderstatus"))
    import s.implicits._
    report.columnsPresent.toDF("column_name").orderBy(col("column_name"))
  }

  // --- S1 via the DSv2 connector: the full spec pipeline over the
  //     simulated remote org, under the HARD gate: the sim org is
  //     deterministic, so the query snapshots the raw relation to a
  //     fixed parquet path and the oracle aggregates the SAME rows with
  //     ordinary SQL (the simhash-portable trick — recompute in DuckDB
  //     what the engine computed in Spark) ---
  val simSourcePipeline: Q = (s, dir) => {
    val remote = s.read.format("graft.sources.v2.SalesforceSimSource")
      .option("object", "Opportunity").option("rows", "5000").load()
    // One extract through the connector → parquet raw zone (the
    // reference's extract step), then aggregate the read-back snapshot:
    // the connector runs ONCE, and Spark and DuckDB aggregate the
    // IDENTICAL bytes. Run-scoped path (SnapshotPaths) — concurrent
    // sessions on one host can never clobber each other's snapshot.
    val snap = SnapshotPaths.dirFor("sim_org_snapshot", dir, s)
    remote.coalesce(1).write.mode("overwrite").parquet(snap)
    round4(SpecAggregate.run(s, graft.spec.SpecRegistry("Opportunity"),
        s.read.parquet(snap)),
        Seq("sum_amount", "avg_amount"))
      .orderBy(col("StageName"))
  }

  /** DSv2 AGGREGATE pushdown under the hard gate: the connector dumps
    * its deterministic org once (the oracle's bytes), then the SAME
    * "remote org" is aggregated THROUGH the connector — COUNT/MIN/MAX/
    * SUM and the filter compile into the scan (partial per partition,
    * Spark merges; plan engagement is spec-asserted in
    * SalesforceSimSourceSpec), so the wire carries partitions×1 rows
    * where the un-pushed plan ships every record. DuckDB aggregates
    * the dumped snapshot independently: a null-handling divergence,
    * a partial-merge bug, or a filter applied on the wrong side of the
    * aggregation fails the hash. */
  val simSourceAggPushdown: Q = (s, dir) => {
    def remote = s.read.format("graft.sources.v2.SalesforceSimSource")
      .option("object", "Account").option("rows", "20000").load()
    remote.coalesce(1).write.mode("overwrite")
      .parquet(SnapshotPaths.dirFor("sim_agg_snapshot", dir, s))
    remote.filter(col("BillingState") === "alpha")
      .agg(count(lit(1)).as("records"),
        count(col("AnnualRevenue")).as("with_revenue"),
        graft.functions.GraftFunctions.roundPortable(
          min(col("AnnualRevenue")), 4).as("min_revenue"),
        graft.functions.GraftFunctions.roundPortable(
          max(col("AnnualRevenue")), 4).as("max_revenue"),
        graft.functions.GraftFunctions.roundPortable(
          sum(col("AnnualRevenue")), 4).as("sum_revenue"))
  }

  /** COMPLETE aggregate pushdown — AVG + multi-column GROUP BY — under
    * the hard gate: with `partitions=1` the scan's per-group rows are
    * FINAL (one reader runs ONE aggregate SOQL over the whole object —
    * the reference's one-call extract shape, `extract.py:66-101`), so
    * the connector advertises `supportCompletePushDown`, Spark plans NO
    * merge at all, and AVG — refused in partial mode because averages
    * of averages lose the weights — pushes natively as SOQL
    * `AVG(field)`. DuckDB re-aggregates the dumped org bytes; plan
    * engagement (PushedAggregates carries AVG, no Spark-side final
    * aggregate) is spec-asserted in SalesforceSimSourceSpec. */
  val simSourceAggAvg: Q = (s, dir) => {
    def remote = s.read.format("graft.sources.v2.SalesforceSimSource")
      .option("object", "Account").option("rows", "20000")
      .option("partitions", "1").load()
    remote.coalesce(1).write.mode("overwrite")
      .parquet(SnapshotPaths.dirFor("sim_avg_snapshot", dir, s))
    remote.groupBy(col("BillingState"), col("Industry"))
      .agg(count(lit(1)).as("records"),
        graft.functions.GraftFunctions.roundPortable(
          avg(col("AnnualRevenue")), 4).as("avg_revenue"),
        graft.functions.GraftFunctions.roundPortable(
          sum(col("AnnualRevenue")), 4).as("sum_revenue"))
      .orderBy(col("BillingState"), col("Industry"))
  }

  // --- OPTIMIZE over the SHARDED snapshot: the clustered-layout reset
  // composed with the manifest store — after the same create+merge as
  // q_merge_upsert_sharded (own path), optimizeSharded re-clusters
  // every shard on (o_custkey, o_orderkey) and the result is read back
  // through the stats-pruned path with a band on o_custkey + the exact
  // filter re-applied. The oracle filters the merged content directly:
  // a row lost by the re-cluster, a file wrongly pruned, or a torn
  // manifest swap fails the hash. vacuumSharded runs FIRST (reaping
  // previous iterations' retire-logged dirs — never the live ones), so
  // the windowed vacuum sits on the measured path too. ---
  val mergeOptimizeSharded: Q = (s, dir) => {
    import graft.operators.{Layout, SnapshotMerge}
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val path = SnapshotPaths.dirFor("merge_optimize_sharded", dir, s)
    if (!SnapshotMerge.existsSharded(s, path)) {
      SnapshotMerge.createSharded(
        orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"),
        nShards = 8, path)
    } else SnapshotMerge.vacuumSharded(s, path)
    val batch = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("is_deleted", col("o_orderkey") % 9 === 0)
    SnapshotMerge.upsertSharded(batch, Seq("o_orderkey"), path,
      deleteCol = Some("is_deleted"))
    SnapshotMerge.optimizeSharded(s, path, Seq("o_orderkey"),
      Seq("o_custkey", "o_orderkey"), filesPerShard = 2)
    SnapshotMerge.readShardedPruned(s, path,
        Seq(Layout.Band("o_custkey", 100L, 500L)))
      .filter(col("o_custkey").between(100L, 500L))
      .orderBy(col("o_orderkey"))
  }

  // --- §2.12 end-to-end: the reference's primary entry point
  //     (flows/sf_etl_orchestrator_flow.py:85-250) under the hard gate.
  //     Runs the FULL orchestrated DAG (extract → process/load + parallel
  //     QA → ledger) for the Opportunity→orders mapping, then the query
  //     RESULT is the processed summary artifact read back from disk —
  //     so the oracle checks the whole pipeline including the CSV
  //     materialization/round-trip, not an in-memory shortcut. ---
  val orchestratorE2E: Q = (s, dir) => {
    import graft.pipeline.Orchestrator
    val spec = ObjectSpec("Opportunity",
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"),
      Seq("o_orderkey", "o_orderstatus"), Seq("o_orderstatus"),
      ListMap("o_totalprice" -> Seq("sum", "mean", "count")))
    val base = java.nio.file.Files.createTempDirectory("graft_e2e_q").toString
    val report = Orchestrator.run(s, "Opportunity", t(s, dir, "orders"), base,
      Orchestrator.RunOptions(limit = None, timestampRaw = false,
        dedupKey = "o_orderkey",
        extractRetryDelayMs = 0, processRetryDelayMs = 0),
      specOverride = Some(spec))
    // CSV re-infers types; pin them (and the oracle-noise rounding) here.
    Scan.csv(s, report.processedCsv, SpecCompiler.emptyOutputSchema(spec))
      .select(col("o_orderstatus"),
        col("records").cast("long").as("records"),
        graft.functions.GraftFunctions.roundPortable(
          col("sum_o_totalprice").cast("double"), 4).as("sum_o_totalprice"),
        graft.functions.GraftFunctions.roundPortable(
          col("avg_o_totalprice").cast("double"), 4).as("avg_o_totalprice"))
      .orderBy(col("o_orderstatus"))
  }

  val queries: ListMap[String, Q] = ListMap(
    "q_sim_source_pipeline" -> simSourcePipeline,
    "q_sim_source_agg_pushdown" -> simSourceAggPushdown,
    "q_sim_source_agg_avg" -> simSourceAggAvg,
    "q_orchestrator_e2e" -> orchestratorE2E,
    "q_jsonl_scan" -> jsonlScan,
    "q_warc_scan" -> warcScan,
    "q_warc_gz_scan" -> warcGzScan,
    "q_stream_warc_scan" -> warcStreamScan,
    "q_tolerant_cast" -> tolerantCast,
    "q_schema_gate_report" -> schemaGateReport,
    "q_opportunity_by_stage" -> opportunityByStage,
    "q_account_by_segment" -> accountBySegment,
    "q_lead_count_two_keys" -> leadCountTwoKeys,
    "q_lineitem_multi_metric" -> lineitemMultiMetric,
    "q_part_price_by_brand" -> partPriceByBrand,
    "q_global_agg" -> globalAgg,
    "q_event_duration_by_owner" -> eventDurationByOwner,
    "q_empty_input_schema" -> emptyInputSchema,
    "q_dedup_keep_first" -> dedupKeepFirst,
    "q_dedup_keep_last" -> dedupKeepLast,
    "q_merge_upsert" -> mergeUpsert,
    "q_merge_upsert_sharded" -> mergeUpsertSharded,
    "q_merge_optimize_sharded" -> mergeOptimizeSharded,
    "q_merge_schema_evolution" -> mergeSchemaEvolution,
    "q_merge_time_travel" -> mergeTimeTravel,
    "q_merge_compact_sharded" -> mergeCompactSharded,
    "q_merge_restore" -> mergeRestore,
    "q_merge_reshard" -> mergeReshard,
    "q_merge_schema_migrate" -> mergeSchemaMigrate,
    "q_merge_cdf" -> mergeCdf,
    "q_merge_concurrent" -> mergeConcurrent,
    "q_stream_merge_upsert" -> streamMergeUpsert,
    "q_stream_merge_upsert_sharded" -> streamMergeUpsertSharded,
    "q_stream_cdf_replica" -> streamCdfReplica,
    "q_topk_order_priority" -> topkOrderPriority,
    "q_top_orders_by_price" -> topOrdersByPrice,
    "q_union_merge_recount" -> unionMergeRecount,
    "q_profile_orders" -> profileOrders
  )

  /** Shared by q_merge_upsert (one shard), q_merge_upsert_sharded (16
    * shards) and both streaming twins: the shard count and arrival mode
    * must never change the merged content. */
  private lazy val mergeUpsertSql: String =
    """WITH snap AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                     FROM orders WHERE o_orderkey % 2 = 0),
            upd AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                           o_totalprice + 1000.0 AS o_totalprice,
                           (o_orderkey % 9 = 0) AS del
                    FROM orders WHERE o_orderkey % 3 = 0)
       SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM snap
       WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
       UNION ALL
       SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
       FROM upd WHERE NOT del
       ORDER BY o_orderkey"""

  /** The CDF replica's final state = the source's three versions
    * replayed keep-last in SQL (v1 evens, v2 price-bump + %9 deletes,
    * v3 status rewrite of %5 keys — which reinserts %45 keys v2
    * deleted; the replica must reproduce that resurrection too). */
  private lazy val cdfReplicaSql: String =
    """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                     FROM orders),
            v1 AS (SELECT * FROM base WHERE o_orderkey % 2 = 0),
            s2 AS (SELECT * FROM v1
                   WHERE o_orderkey NOT IN
                     (SELECT o_orderkey FROM base WHERE o_orderkey % 3 = 0)
                   UNION ALL
                   SELECT o_orderkey, o_custkey, o_orderstatus,
                          o_totalprice + 1000.0
                   FROM base
                   WHERE o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0),
            s3 AS (SELECT * FROM s2 WHERE o_orderkey % 5 <> 0
                   UNION ALL
                   SELECT o_orderkey, o_custkey, 'R', o_totalprice
                   FROM base WHERE o_orderkey % 5 = 0)
       SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM s3
       ORDER BY o_orderkey"""

  val oracles: ListMap[String, String] = ListMap(
    // DSv2 pipeline: aggregate the deterministic org snapshot the query
    // dumped (same rows, independent engine) — puts the connector +
    // spec-aggregate path under the hard hash gate
    "q_sim_source_pipeline" ->
      s"""SELECT StageName,
         COUNT(*) AS records,
         ${r4("COALESCE(SUM(Amount), 0.0)")} AS sum_amount,
         ${r4("AVG(Amount)")} AS avg_amount
         FROM read_parquet('${SnapshotPaths.tokenDirFor("sim_org_snapshot")}/*.parquet')
         GROUP BY StageName ORDER BY StageName""",
    // aggregate pushdown: DuckDB re-aggregates the dumped org bytes;
    // the Spark side computed the same numbers INSIDE the connector
    // scan (partial per partition + merge)
    "q_sim_source_agg_pushdown" ->
      s"""SELECT COUNT(*) AS records,
          COUNT(AnnualRevenue) AS with_revenue,
          ${r4("MIN(AnnualRevenue)")} AS min_revenue,
          ${r4("MAX(AnnualRevenue)")} AS max_revenue,
          ${r4("SUM(AnnualRevenue)")} AS sum_revenue
          FROM read_parquet('${SnapshotPaths.tokenDirFor("sim_agg_snapshot")}/*.parquet')
          WHERE BillingState = 'alpha'""",
    // COMPLETE pushdown (partitions=1): the connector's per-group rows
    // are the final answer — DuckDB re-aggregates the dumped bytes
    "q_sim_source_agg_avg" ->
      s"""SELECT BillingState, Industry, COUNT(*) AS records,
          ${r4("AVG(AnnualRevenue)")} AS avg_revenue,
          ${r4("SUM(AnnualRevenue)")} AS sum_revenue
          FROM read_parquet('${SnapshotPaths.tokenDirFor("sim_avg_snapshot")}/*.parquet')
          GROUP BY BillingState, Industry
          ORDER BY BillingState, Industry""",
    // JSONL round-trip ≡ the source table, bit for bit
    "q_jsonl_scan" ->
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents ORDER BY doc_id""",
    // the WARC round-trip re-derived: every record's BYTES are
    // reconstructed from the same construction (CRLF-exact, HTTP
    // payload included), good rows project the typed columns, planted
    // corruptions project the reader's quarantine contract — NULL data
    // columns plus the first 100 characters of the quarantined block
    "q_warc_scan" -> warcScanOracleSql,
    // gzip is a byte-identical transport — the gz gate's expectation
    // IS the plain gate's, verbatim
    "q_warc_gz_scan" -> warcScanOracleSql,
    // stateless per-file parsing: streaming ≡ batch, same oracle
    "q_stream_warc_scan" -> warcScanOracleSql,
    "q_tolerant_cast" ->
      s"""SELECT o_orderpriority,
          COUNT(*) AS records,
          COUNT(TRY_CAST(o_orderpriority AS DOUBLE)) AS parsed_ok,
          ${r4("COALESCE(SUM(o_totalprice), 0.0)")} AS sum_price,
          0.0 AS max_missing
          FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the gate reports the physical columns of the scanned relation —
    // DuckDB derives the same list from the same parquet footer
    "q_schema_gate_report" ->
      """SELECT column_name FROM (DESCRIBE SELECT * FROM orders)
         ORDER BY column_name""",
    "q_opportunity_by_stage" ->
      s"""SELECT o_orderstatus,
         COUNT(*) AS records,
         ${r4("COALESCE(SUM(o_totalprice), 0.0)")} AS sum_o_totalprice,
         ${r4("AVG(o_totalprice)")} AS avg_o_totalprice
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // Same aggregate SQL as q_opportunity_by_stage: the e2e run must land
    // on the identical summary after the full DAG + CSV round-trip.
    "q_orchestrator_e2e" ->
      s"""SELECT o_orderstatus,
         COUNT(*) AS records,
         ${r4("COALESCE(SUM(o_totalprice), 0.0)")} AS sum_o_totalprice,
         ${r4("AVG(o_totalprice)")} AS avg_o_totalprice
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_account_by_segment" ->
      s"""SELECT c_mktsegment,
         COUNT(*) AS records,
         ${r4("COALESCE(SUM(c_acctbal), 0.0)")} AS sum_c_acctbal,
         ${r4("AVG(c_acctbal)")} AS avg_c_acctbal
         FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_lead_count_two_keys" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS records
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_lineitem_multi_metric" ->
      s"""SELECT l_partkey,
         COUNT(*) AS records,
         ${r4("COALESCE(SUM(l_quantity), 0.0)")} AS sum_l_quantity,
         ${r4("AVG(l_discount)")} AS avg_l_discount,
         ${r4("COALESCE(SUM(l_extendedprice), 0.0)")} AS sum_l_extendedprice
         FROM lineitem GROUP BY l_partkey ORDER BY l_partkey""",
    "q_part_price_by_brand" ->
      s"""SELECT p_brand,
         COUNT(*) AS records,
         ${r4("MIN(p_retailprice)")} AS min_p_retailprice,
         ${r4("MAX(p_retailprice)")} AS max_p_retailprice
         FROM part GROUP BY p_brand ORDER BY p_brand""",
    "q_global_agg" ->
      s"""SELECT COUNT(*) AS records,
         ${r4("COALESCE(SUM(l_quantity), 0.0)")} AS sum_l_quantity,
         ${r4("AVG(l_quantity)")} AS avg_l_quantity,
         ${r4("MIN(l_extendedprice)")} AS min_l_extendedprice,
         ${r4("MAX(l_extendedprice)")} AS max_l_extendedprice
         FROM lineitem""",
    "q_event_duration_by_owner" ->
      s"""SELECT o_custkey AS owner_id,
         COUNT(*) AS records,
         ${r4("COALESCE(SUM(COALESCE((epoch_us(l_shipdate) - epoch_us(o_orderdate)) / 3600000000.0, 0.0)), 0.0)")} AS sum_duration_hours,
         ${r4("AVG(COALESCE((epoch_us(l_shipdate) - epoch_us(o_orderdate)) / 3600000000.0, 0.0))")} AS avg_duration_hours
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_custkey ORDER BY owner_id""",
    "q_empty_input_schema" ->
      """SELECT CAST(NULL AS VARCHAR) AS o_orderstatus,
         CAST(NULL AS DOUBLE) AS sum_o_totalprice,
         CAST(NULL AS DOUBLE) AS avg_o_totalprice,
         CAST(NULL AS BIGINT) AS records
         WHERE FALSE""",
    "q_dedup_keep_first" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn FROM lineitem)
         WHERE rn = 1 ORDER BY l_orderkey""",
    "q_dedup_keep_last" ->
      """SELECT event_id, ts, user_id, event_type, value, props
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    // the merged snapshot: survivors (evens the batch didn't touch) +
    // the batch's non-deleted rows — keep-last by construction
    "q_merge_upsert" -> mergeUpsertSql,
    // SAME SQL through the sharded layout: shard assignment, the
    // manifest swap, and by-reference carry of untouched shards must
    // never change the merged CONTENT — a key hashed to the wrong
    // shard, a dropped manifest entry, or a double-carried dir all
    // fail the hash
    "q_merge_upsert_sharded" -> mergeUpsertSql,
    "q_stream_cdf_replica" -> cdfReplicaSql,
    // and through the STREAMING loop: micro-batched arrival of the
    // same (key-disjoint) batch must reach the same fixed point
    "q_stream_merge_upsert" -> mergeUpsertSql,
    // …including through the sharded manifest layout
    "q_stream_merge_upsert_sharded" -> mergeUpsertSql,
    // compaction is content-invisible: the compacted snapshot must
    // hash-match the plain merged content (q_merge_upsert's SQL)
    "q_merge_compact_sharded" -> mergeUpsertSql,
    // resharding is content-invisible too: the 32-shard rewrite + a
    // batch merged under the NEW assignment must land on the same
    // fixed point as the plain merge
    "q_merge_reshard" -> mergeUpsertSql,
    // the rollback re-surfaces the pre-batch content exactly — the
    // time-travel oracle, now as the LIVE read
    "q_merge_restore" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderkey % 2 = 0 ORDER BY o_orderkey""",
    // the rename/drop migration spelled as SQL aliases, then the same
    // merge algebra in the new column names
    "q_merge_schema_migrate" ->
      """WITH snap AS (SELECT o_orderkey AS order_id, o_custkey,
                              o_totalprice AS total_price
                       FROM orders WHERE o_orderkey % 2 = 0),
              upd AS (SELECT o_orderkey AS order_id, o_custkey,
                             o_totalprice + 1000.0 AS total_price,
                             (o_orderkey % 9 = 0) AS del
                      FROM orders WHERE o_orderkey % 3 = 0)
         SELECT order_id, o_custkey, total_price FROM snap
         WHERE order_id NOT IN (SELECT order_id FROM upd)
         UNION ALL
         SELECT order_id, o_custkey, total_price FROM upd WHERE NOT del
         ORDER BY order_id""",
    // the typed row-level diff v1→v2, derived relationally: deletes are
    // batch-flagged keys that existed, inserts are new non-deleted
    // keys, every surviving overlap is an update (the +1000 reprice
    // guarantees a value change) with both images
    "q_merge_cdf" ->
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                       FROM orders WHERE o_orderkey % 2 = 0),
              upd AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                             o_totalprice + 1000.0 AS o_totalprice,
                             (o_orderkey % 9 = 0) AS del
                      FROM orders WHERE o_orderkey % 3 = 0)
         SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
                'delete' AS _change_type
         FROM snap s JOIN upd u ON s.o_orderkey = u.o_orderkey WHERE u.del
         UNION ALL
         SELECT u.o_orderkey, u.o_custkey, u.o_orderstatus, u.o_totalprice,
                'insert'
         FROM upd u WHERE NOT u.del
           AND u.o_orderkey NOT IN (SELECT o_orderkey FROM snap)
         UNION ALL
         SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
                'update_preimage'
         FROM snap s JOIN upd u ON s.o_orderkey = u.o_orderkey WHERE NOT u.del
         UNION ALL
         SELECT u.o_orderkey, u.o_custkey, u.o_orderstatus, u.o_totalprice,
                'update_postimage'
         FROM upd u JOIN snap s ON s.o_orderkey = u.o_orderkey WHERE NOT u.del
         ORDER BY o_orderkey, _change_type""",
    // two RACING writers resolve to the sequential fixed point (B
    // commits first, A retries onto it): a batch silently discarded by
    // the losing commit — the last-writer-wins failure — or a
    // double-applied retry both fail the hash
    "q_merge_concurrent" ->
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                       FROM orders WHERE o_orderkey % 2 = 0),
              b AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                           o_totalprice + 500.0 AS o_totalprice
                    FROM orders WHERE o_orderkey % 5 = 0),
              a AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                           o_totalprice + 1000.0 AS o_totalprice,
                           (o_orderkey % 9 = 0) AS del
                    FROM orders WHERE o_orderkey % 3 = 0),
              after_b AS (
                SELECT * FROM snap
                WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b)
                UNION ALL
                SELECT * FROM b)
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM after_b WHERE o_orderkey NOT IN (SELECT o_orderkey FROM a)
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM a WHERE NOT del
         ORDER BY o_orderkey""",
    // schema evolution: survivors null-fill the batch's new column
    "q_merge_schema_evolution" ->
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_orderstatus
                       FROM orders WHERE o_orderkey % 2 = 0),
              upd AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                             o_totalprice + 1000.0 AS o_totalprice,
                             (o_orderkey % 9 = 0) AS del
                      FROM orders WHERE o_orderkey % 3 = 0)
         SELECT o_orderkey, o_custkey, o_orderstatus,
                CAST(NULL AS DOUBLE) AS o_totalprice
         FROM snap WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM upd WHERE NOT del
         ORDER BY o_orderkey""",
    // VERSION AS OF 1 == the snapshot before the batch: retained
    // manifests + shard dirs must reproduce the pre-merge content
    // exactly — leaked post-batch rows or vacuum-lost files fail
    "q_merge_time_travel" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderkey % 2 = 0 ORDER BY o_orderkey""",
    // OPTIMIZE + pruned read: the merged content filtered to the band —
    // re-clustering and stats-based file skipping must be invisible to
    // the result
    "q_merge_optimize_sharded" ->
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                       FROM orders WHERE o_orderkey % 2 = 0),
              upd AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                             o_totalprice + 1000.0 AS o_totalprice,
                             (o_orderkey % 9 = 0) AS del
                      FROM orders WHERE o_orderkey % 3 = 0),
              merged AS (
                SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM snap
                WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
                UNION ALL
                SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                FROM upd WHERE NOT del)
         SELECT * FROM merged WHERE o_custkey BETWEEN 100 AND 500
         ORDER BY o_orderkey""",
    "q_topk_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt
         FROM orders GROUP BY o_orderpriority
         ORDER BY cnt DESC, o_orderpriority LIMIT 5""",
    "q_top_orders_by_price" ->
      """SELECT * FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q_union_merge_recount" ->
      """SELECT event_type, COUNT(*) AS records
         FROM (SELECT * FROM events WHERE user_id % 2 = 0
               UNION ALL
               SELECT * FROM events WHERE user_id % 2 = 1)
         GROUP BY event_type ORDER BY event_type""",
    "q_profile_orders" ->
      """SELECT column_name, null_count, n_unique FROM (
           SELECT 'o_orderstatus' AS column_name,
                  COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS null_count,
                  COUNT(DISTINCT o_orderstatus) AS n_unique FROM orders
           UNION ALL
           SELECT 'o_orderpriority',
                  COUNT(CASE WHEN o_orderpriority IS NULL THEN 1 END),
                  COUNT(DISTINCT o_orderpriority) FROM orders
           UNION ALL
           SELECT 'o_custkey',
                  COUNT(CASE WHEN o_custkey IS NULL THEN 1 END),
                  COUNT(DISTINCT o_custkey) FROM orders)
         ORDER BY column_name"""
  )
}
