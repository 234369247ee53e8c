package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.spec.{ObjectSpec, SpecRegistry}

/** Seeded input generators. Every value is a hash of (seed, row, column),
  * so the same seed always writes the same files; the program only ever
  * sees the files. */
object Gen {

  /** A uniform draw in [0, m) for row `id`, keyed by seed and a tag. */
  private def draw(seed: Long, id: Column, tag: String, m: Long): Column =
    pmod(xxhash64(lit(seed), id, lit(tag)), lit(m))

  /** Distinct values per group-key column. Keys not listed get 12. */
  val groupKeyCardinality: Map[String, Int] = Map(
    "BillingState" -> 50, "MailingState" -> 50, "Product2Id" -> 400,
    "OwnerId" -> 200, "IsActive" -> 2, "IsPrivate" -> 2, "Pricebook2Id" -> 8,
    "TimeZoneSidKey" -> 24, "Status" -> 6, "Priority" -> 4, "LeadSource" -> 9,
    "StageName" -> 8, "Family" -> 10, "FileType" -> 12, "FileExtension" -> 12)

  /** Share of rows that repeat an earlier row's `Id` (dedup does work). */
  val dupIdPercent = 5
  /** Share of metric values that are null. */
  val nullMetricPercent = 5

  /** One object's source table, shaped by its spec: string group keys
    * with the cardinalities above, double metrics with nulls, timestamps
    * for Event's duration, and repeated Ids. */
  def object_(spark: SparkSession, spec: ObjectSpec, rows: Long, seed: Long,
      files: Int): DataFrame = {
    val id = col("id")
    val s = seed ^ spec.apiName.hashCode.toLong
    val metricCols = spec.metrics.keySet - ObjectSpec.DurationHours
    val isDup = id > 0 && draw(s, id, "dup", 100) < dupIdPercent
    val base = when(isDup, greatest(id - lit(1) - draw(s, id, "dupof", 7), lit(0L)))
      .otherwise(id)
    val cols = spec.fields.map {
      case "Id" => concat(lit(spec.apiName.take(3)), lpad(base.cast("string"), 12, "0")).as("Id")
      case f if spec.groupBy.contains(f) =>
        concat(lit(s"${f}_"), draw(s, id, f, groupKeyCardinality.getOrElse(f, 12).toLong).cast("string")).as(f)
      case f if metricCols.contains(f) =>
        when(draw(s, id, s"$f.null", 100) < nullMetricPercent, lit(null).cast(DoubleType))
          .otherwise(draw(s, id, f, 10000000L).cast(DoubleType) / 100.0).as(f)
      case "StartDateTime" =>
        timestamp_seconds(lit(1700000000L) + draw(s, id, "start", 86400L * 90)).as("StartDateTime")
      case "EndDateTime" =>
        when(draw(s, id, "end.null", 100) < nullMetricPercent, lit(null).cast("timestamp"))
          .otherwise(timestamp_seconds(lit(1700000000L) + draw(s, id, "start", 86400L * 90) +
            draw(s, id, "len", 36000L))).as("EndDateTime")
      case f => concat(lit(s"${f}_"), draw(s, id, f, 1000).cast("string")).as(f)
    }
    spark.range(0, rows, 1, files).select(cols: _*)
  }

  /** The aggregate the spec asks for, computed directly from the source
    * with plain Spark: the independent reference `process` is checked
    * against. Returns the value column names and, per group (keys as
    * strings), the values. */
  def expectedAggregate(source: DataFrame, spec: ObjectSpec): (Seq[String], Map[Seq[String], Seq[Option[Double]]]) = {
    val withDur =
      if (spec.metrics.contains(ObjectSpec.DurationHours))
        source.withColumn("__dur", coalesce(
          (col("EndDateTime").cast(DoubleType) - col("StartDateTime").cast(DoubleType)) / 3600.0,
          lit(0.0)))
      else source
    val named = spec.metrics.toSeq.flatMap { case (m, ops) =>
      val c = if (m == ObjectSpec.DurationHours) col("__dur") else col(m).cast(DoubleType)
      val base = if (m == ObjectSpec.DurationHours) "duration_hours" else m.toLowerCase
      ops.collect {
        case "sum" => s"sum_$base" -> coalesce(sum(c), lit(0.0))
        case "mean" => s"avg_$base" -> avg(c)
        case "min" => s"min_$base" -> min(c)
        case "max" => s"max_$base" -> max(c)
      }
    }
    val aggs = (count(lit(1)).cast(DoubleType) +: named.map(_._2))
    val names = "records" +: named.map(_._1)
    val rows = withDur.groupBy(spec.groupBy.map(col): _*)
      .agg(aggs.head, aggs.tail: _*).collect()
    val k = spec.groupBy.size
    names -> rows.map { r =>
      (0 until k).map(i => String.valueOf(r.get(i))) ->
        (k until r.length).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i)))
    }.toMap
  }

  /** The 23 registry objects, in registry order. */
  def allSpecs: Seq[ObjectSpec] = SpecRegistry.specs.values.toSeq

  /** A prior-run ledger line shaped like the ones the pipeline appends. */
  def ledgerLine(seed: Long, i: Int, objects: Seq[String]): String = {
    val h = java.lang.Long.toHexString(scala.util.hashing.MurmurHash3.productHash((seed, i)).toLong & 0xffffffffL)
    val runId = f"p${h}%8s".replace(' ', '0') + f"$i%06d"
    val obj = objects(i % objects.size)
    val ts = java.time.Instant.ofEpochSecond(1700000000L + i.toLong / objects.size * 900)
    val states = Seq("dedup", "drift", "extract", "load_json", "precheck_nonempty",
      "precheck_schema", "process", "profile", "snapshot_parquet", "start_gate")
      .map(s => s""""$s":"COMPLETED"""").mkString(",")
    s"""{"run_id":"$runId","object":"$obj","timestamp":"$ts",""" +
      s""""raw_path":"data/raw/${obj}_$runId","processed_csv":"data/processed/$obj/summary.csv",""" +
      s""""output_json":"data/output/$obj/summary.json","qa_artifacts":{"dedup":"data/output/$obj/deduplicated.csv",""" +
      s""""profile":"data/output/$obj/profile.json","snapshot":"data/output/$obj/snapshot.parquet"},""" +
      s""""task_states":{$states},"raw_rows_recounted":2000,"processed_rows_recounted":12,""" +
      s""""json_records":12,"json_records_loaded":12,"drift_alert":null,"duration_seconds":1.${i % 1000}}"""
  }

  // ---- CDC ----

  /** The base snapshot: `rows` keyed rows. */
  def cdcBase(spark: SparkSession, rows: Long, seed: Long, files: Int): DataFrame = {
    val id = col("id")
    spark.range(0, rows, 1, files).select(
      id.as("k"),
      concat(lit("c"), draw(seed, id, "cust", 5000).cast("string")).as("cust"),
      concat(lit("s"), draw(seed, id, "status", 6).cast("string")).as("status"),
      (draw(seed, id, "amount", 10000000L).cast(DoubleType) / 100.0).as("amount"),
      lit(0L).as("rev"))
  }

  /** Batches 1..`batches` of `rows` changes each, in one relation with a
    * batch column `b`: `updatePct`% updates of existing keys, `deletePct`%
    * deletes of existing keys, the rest inserts of fresh keys above every
    * key used so far. Updates and deletes hit keys of the base or of an
    * earlier batch, so a batch can update a key an earlier batch inserted,
    * or delete one already deleted (a no-op, as in a real change feed).
    * Within a batch every key is distinct: existing keys are drawn as
    * `(row * P + offset) mod keysSoFar` with `P` a prime above every key
    * count, a permutation of the key range. */
  def cdcBatches(spark: SparkSession, baseRows: Long, rows: Long, batches: Int,
      seed: Long, updatePct: Int, deletePct: Int): DataFrame = {
    val p = 1000003L
    require(baseRows + batches * rows < p, "key range must stay below the permutation prime")
    val id = col("id")
    val b = (id / rows).cast("long") + 1
    val row = id % rows
    val kind = draw(seed, row, "kind", 100)
    val keysSoFar = lit(baseRows) + (b - 1) * rows
    val existing = pmod(row * p + pmod(xxhash64(lit(seed), b, lit("offset")), keysSoFar), keysSoFar)
    spark.range(0, batches * rows, 1, 1).select(
      b.as("b"),
      when(kind < updatePct + deletePct, existing).otherwise(keysSoFar + row).as("k"),
      concat(lit("c"), draw(seed, id, "cust", 5000).cast("string")).as("cust"),
      concat(lit("s"), draw(seed, id, "status", 6).cast("string")).as("status"),
      (draw(seed, id, "amount", 10000000L).cast(DoubleType) / 100.0).as("amount"),
      b.as("rev"),
      (kind >= updatePct && kind < updatePct + deletePct).as("is_deleted"))
  }
}
