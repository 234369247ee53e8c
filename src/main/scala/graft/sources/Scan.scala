package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.spec.ObjectSpec

/** Source scans. The reference's remote relation is Salesforce SOQL with
  * SELECT/WHERE/LIMIT compiled from the spec and pushed into the source
  * (`tasks/extract.py:29-33,66-101`); here the remote relation is a
  * parquet (or CSV) table and the same pushdowns are expressed
  * declaratively — Catalyst's `ColumnPruning` / `PushDownPredicates` /
  * `LocalLimit` rules push them into the scan (verify via
  * `.explain("formatted")`: `ReadSchema` lists only `spec.fields`,
  * `PushedFilters` carries the predicate).
  */
object Scan {

  /** Reads one named table from a scale-factor directory. Every
    * timestamp column is normalized to `TimestampType`
    * ([[normalizeTimestamps]]); `events.ts` additionally handles the
    * legacy nanos-as-long encoding ([[normalizeEventsTs]]). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = normalizeTimestamps(spark.read.parquet(s"$sfDir/$name.parquet"))
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** Cast every `TIMESTAMP_NTZ` column to the session-timezone
    * `TimestampType`. The testdata's timestamp columns are parquet
    * TIMESTAMP(isAdjustedToUTC=false) in some generations — Spark 4
    * infers those as NTZ, a type with no epoch arithmetic (`cast to
    * double`, `unix_micros` both fail), which would fork every temporal
    * operator into two type paths. The session is pinned UTC, so this
    * cast preserves wall-clock values exactly, and DuckDB reads the
    * same files as naive timestamps — oracle parity is unaffected. */
  def normalizeTimestamps(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }
    if (ntz.isEmpty) df
    else df.withColumns(ntz.map(c =>
      c -> col(c).cast(org.apache.spark.sql.types.TimestampType)).toMap)
  }

  /** Normalize the events `ts` column to `TimestampType` across the
    * physical encodings the testdata has shipped with:
    *
    *  - parquet TIMESTAMP(NANOS) — no Spark type; with
    *    `spark.sql.legacy.parquet.nanosAsLong` the scan yields raw nanos
    *    as long, converted here to a microsecond timestamp (`ts div
    *    1000`, truncation — byte-identical to DuckDB's read);
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark reads
    *    `TIMESTAMP_NTZ`, cast here to the session-timezone timestamp
    *    (the session is pinned UTC, so the wall-clock values are
    *    preserved exactly — and DuckDB reads the same file as a naive
    *    timestamp, so oracle parity holds unchanged).
    *
    * Downstream operators (windows, sessionization, temporal joins)
    * then see ONE type with working epoch arithmetic either way. */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Spec-driven scan: projection + optional predicate + optional limit,
    * the analog of `_build_soql_from_spec` + `extract_salesforce_to_csv`
    * (`tasks/extract.py:29-33,59-101`). Fields absent from the physical
    * table are skipped at projection (they are re-synthesized downstream by
    * `Normalize.ensureCols` / `castMetrics`, preserving the reference's
    * schema tolerance).
    */
  def specScan(df: DataFrame, spec: ObjectSpec, limit: Option[Int] = None): DataFrame = {
    val present = df.columns.toSet
    val projected =
      if (spec.fields.isEmpty) df
      else {
        val keep = spec.fields.filter(present.contains)
        if (keep.isEmpty) df else df.select(keep.map(col): _*)
      }
    val filtered =
      if (spec.where == null || spec.where.isEmpty) projected
      else projected.filter(expr(spec.where))
    limit.fold(filtered)(filtered.limit)
  }

  /** Typed 0-row relation — the empty-input synthesis path
    * (`tasks/extract.py:86-90`, `tasks/process.py:76-87`). */
  def emptyRelation(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Schema-inferred CSV read with empty-file tolerance: a missing,
    * zero-byte, or header-only file yields a typed empty relation with
    * `fallback` schema instead of failing — the `NoDataError` path
    * (`tasks/process.py:71-74`). */
  def csv(spark: SparkSession, path: String, fallback: StructType): DataFrame = {
    val f = new java.io.File(path)
    if (!f.exists() || f.length() == 0) emptyRelation(spark, fallback)
    else {
      val df = inferredCsv(spark, path)
      if (df.columns.isEmpty || df.isEmpty) emptyRelation(spark, fallback) else df
    }
  }

  /** The schema-inferred header CSV read inside [[csv]], without its
    * empty-file tolerance: for a caller that knows `path` holds rows, so
    * no emptiness probe has to run. */
  private[graft] def inferredCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      // parse quoted embedded newlines — Spark's CSV writer quotes
      // them, but the default reader splits records on every newline
      .option("multiLine", "true")
      .csv(path)

  /** Schema-FIRST JSONL scan with per-line corruption tolerance — the
    * training-data interchange format (crawl dumps, annotation exports
    * ship as newline-delimited JSON). Schema is supplied, never
    * inferred: at 100 TB inference is a full extra pass over the corpus
    * before the first real one, and a sampled inference can silently
    * mistype a sparse column. PERMISSIVE mode: a malformed line becomes
    * one row with every data column null and the RAW line captured in
    * `corruptCol` — quarantine-able downstream (filter it, ship it to a
    * dead-letter sink) instead of poisoning the job the way FAILFAST
    * would or vanishing the way DROPMALFORMED would; well-formed lines
    * carry a null `corruptCol`. The scan is a plain distributed text
    * read — splittable, parallel, pushdown-friendly (the JSON parse is
    * per-partition; column pruning reaches the parser via Spark's JSON
    * relation). Empty/missing path → typed empty relation, the [[csv]]
    * tolerance contract. One Spark rule to know: a query whose
    * referenced columns are ONLY `corruptCol` (e.g. a bare
    * `filter($"_corrupt_record".isNotNull).count()`) is disallowed on a
    * raw JSON scan — select at least one data column alongside it, or
    * materialize the parse first (the dead-letter sink pattern does
    * both anyway). */
  def jsonl(spark: SparkSession, path: String, schema: StructType,
      corruptCol: String = "_corrupt_record"): DataFrame = {
    require(!schema.fieldNames.contains(corruptCol),
      s"schema already contains the corrupt-record column $corruptCol")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val full = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(
        corruptCol, org.apache.spark.sql.types.StringType, nullable = true))
    // globStatus, not exists: exists() is false for a glob spelling
    // (dir/*.jsonl.gz) even when files match, and falling back to the
    // empty relation there would be silent row loss, not tolerance —
    // null means the non-glob base path is absent, empty array means a
    // glob matched nothing (both legitimately empty inputs)
    val matched = fs.globStatus(new org.apache.hadoop.fs.Path(path))
    if (matched == null || matched.isEmpty)
      emptyRelation(spark, full)
    else
      spark.read
        .schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corruptCol)
        .json(path)
  }
}
