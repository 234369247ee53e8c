package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{hilbert_index, z_interleave}

/** Multi-dimensional clustered data layout — Z-order (Morton-curve)
  * writes, the file-skipping lever the other operators assume the
  * storage layer provides.
  *
  * At 100 TB the scan you avoid is worth more than any plan tweak to
  * the scan you run: parquet readers prune row groups / files whose
  * min/max stats exclude a predicate, but stats only carry information
  * when the write CLUSTERED the data. A plain `sortWithinPartitions(a)`
  * clusters column `a` alone; a multi-tenant query mix (`user_id = ?`,
  * `ts BETWEEN ?`, both) wants every filtered column clustered at once.
  * Z-ordering interleaves the bits of per-column ranks
  * ([[graft.functions.ZValueInterleave]]) so file ranges stay narrow in
  * EVERY dimension — each file covers a small hyper-rectangle instead
  * of a thin full-width slice.
  *
  * Rank construction per column type:
  *  - numeric / timestamp / date → equi-width range buckets over the
  *    measured [min, max] (one aggregate-sized pass, folded into the
  *    plan through the lazy-scalar `crossJoin(broadcast(...))` idiom —
  *    no eager driver action): range AND equality predicates prune.
  *  - string / other → hash buckets (`xxhash64 mod 2^bits`): equality
  *    predicates prune (equal values share a bucket); range predicates
  *    on strings do not — documented trade, same as Delta/Hudi's
  *    hash-mode columns.
  *
  * Nulls rank as bucket 0 (they cluster together at the curve origin).
  * Equi-width buckets are the default: ranks come from one min/max
  * pass, no quantile sketch, and a mildly skewed dimension costs
  * resolution in ITS bits only — the interleave still separates the
  * other dimensions. For a HEAVILY skewed dimension (power-law ids,
  * exponential values) equi-width collapses — nearly every row lands
  * in bucket 0 and that dimension's file stats stop pruning —
  * `rankMode = "equidepth"` fixes it: boundaries from one
  * `percentile_approx` pass (t-digest, same lazy-scalar broadcast
  * subplan), per-row rank via a codegen binary search
  * ([[graft.functions.BucketSearch]]), ~equal rows per bucket at any
  * distribution. The write is one range exchange + per-file local
  * sort on the z-key — the same shuffle budget as any clustered write.
  */
object Layout {

  /** Numeric view of a range-rankable column: DATE → epoch days
    * (`unix_date` — a direct DATE→DOUBLE cast is not a legal Spark
    * cast), everything else casts. Shared by the rank and the min/max
    * stats so they can never disagree. */
  private def numericView(df: DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case org.apache.spark.sql.types.DateType =>
        unix_date(col(name)).cast("double")
      case _ => col(name).cast("double")
    }

  /** Per-column rank in `[0, 2^bits)` — see the object doc for the
    * per-type construction. Equi-depth mode replaces the min/max scale
    * with a binary search against the column's quantile boundaries
    * ([[graft.functions.BucketSearch]]): ~equal rows per bucket at ANY
    * distribution, where equi-width collapses a skewed dimension into
    * one bucket and its file stats stop pruning. */
  private def rankCol(df: DataFrame, name: String, bits: Int,
      rankMode: String): Column = {
    val buckets = 1L << bits
    df.schema(name).dataType match {
      case _: org.apache.spark.sql.types.NumericType |
          org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.DateType if rankMode == "equidepth" =>
        // boundaries are the (1/b … (b−1)/b) quantiles → result already
        // in [0, buckets); null value / null boundaries (empty input) → 0
        coalesce(graft.functions.GraftFunctions.bucket_search(
          numericView(df, name), col(s"__zqs_$name")), lit(0L))
      case _: org.apache.spark.sql.types.NumericType |
          org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.DateType =>
        val v = numericView(df, name)
        val lo = col(s"__zlo_$name"); val hi = col(s"__zhi_$name")
        // lo == hi → division null → coalesce to 0 (single-value dim)
        val scaled = floor((v - lo) / (hi - lo) * buckets).cast("long")
        coalesce(least(greatest(scaled, lit(0L)), lit(buckets - 1L)), lit(0L))
      case _ =>
        coalesce(pmod(xxhash64(col(name)), lit(buckets)), lit(0L))
    }
  }

  /** Columns whose ranks need the min/max scalars. */
  private def rangedCols(df: DataFrame, cols: Seq[String]): Seq[String] =
    cols.filter(n => df.schema(n).dataType match {
      case _: org.apache.spark.sql.types.NumericType |
          org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.DateType => true
      case _ => false
    })

  /** Adds the z-key as `zCol`: one aggregate-sized min/max subplan
    * broadcast into a pure projection — no shuffle of `df` itself, no
    * driver action. `bits` defaults to the widest interleave that fits
    * a long (≤ 16 per dimension). */
  def withZValue(df: DataFrame, cols: Seq[String], zCol: String = "__zvalue",
      bits: Int = -1, curve: String = "morton",
      rankMode: String = "equiwidth"): DataFrame = {
    require(cols.nonEmpty, "z-order needs at least one column")
    require(curve == "morton" || curve == "hilbert",
      s"unknown curve '$curve' (expected 'morton' or 'hilbert')")
    require(rankMode == "equiwidth" || rankMode == "equidepth",
      s"unknown rankMode '$rankMode' (expected 'equiwidth' or 'equidepth')")
    require(cols.forall(df.columns.contains),
      s"z-order columns ${cols.filterNot(df.columns.contains)} absent from input")
    require(!df.columns.contains(zCol), s"reserved column name in input: $zCol")
    // equi-depth defaults to 8 bits/dim: its stats pass ships 2^b − 1
    // quantile boundaries per dimension (vs 2 scalars), and 256
    // ~equal-population buckets already saturate file-level pruning at
    // any realistic file count
    val b = if (bits > 0) bits
      else if (rankMode == "equidepth") math.min(8, 63 / cols.size)
      else math.min(16, 63 / cols.size)
    require(cols.size * b <= 63, s"${cols.size} dims × $b bits exceed a long")
    val ranged = rangedCols(df, cols)
    val withStats = if (ranged.isEmpty) df else {
      val aggs = ranged.flatMap { n =>
        if (rankMode == "equidepth") {
          val qs = (1 until (1 << b)).map(_.toDouble / (1 << b))
          Seq(percentile_approx(numericView(df, n), typedLit(qs), lit(10000))
            .as(s"__zqs_$n"))
        } else {
          Seq(min(numericView(df, n)).as(s"__zlo_$n"),
            max(numericView(df, n)).as(s"__zhi_$n"))
        }
      }
      df.crossJoin(broadcast(df.select(cols.map(col): _*).agg(aggs.head, aggs.tail: _*)))
    }
    val ranks = cols.map(n => rankCol(df, n, b, rankMode))
    val key =
      if (curve == "hilbert") hilbert_index(ranks, b) else z_interleave(ranks, b)
    val statCols =
      if (rankMode == "equidepth") ranged.map(n => s"__zqs_$n")
      else ranged.flatMap(n => Seq(s"__zlo_$n", s"__zhi_$n"))
    withStats
      .withColumn(zCol, key)
      .drop(statCols: _*)
  }

  /** Runs `body` with parquet timestamps written as INT64 micros
    * instead of the session default (legacy INT96): INT96 column chunks
    * carry only Binary stats, which neither [[prunedFiles]] nor Spark's
    * own row-group skipping can use — a timestamp z-dimension written
    * as INT96 would silently never prune. Scoped to the LAYOUT writes
    * (set/restore) rather than session-wide because Spark INT64
    * timestamps are tagged `isAdjustedToUTC`, which changes how
    * non-Spark consumers (pandas/duckdb reading a result dump) type the
    * column; layout files are internal — always read back through
    * Spark — so the tag is free here and the stats are the win. */
  private[operators] def withMicrosTimestamps[T](
      spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    // serialized per session: two concurrent scoped writes interleaving
    // their save/restore could leave the session pinned to MICROS for
    // every later (external-facing) write. Cross-thread UNRELATED
    // parquet writes during the body still see MICROS — acceptable for
    // the single-writer maintenance ops that use this; a per-write
    // option would need a DataFrameWriter knob Spark doesn't expose.
    spark.synchronized {
      val key = "spark.sql.parquet.outputTimestampType"
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, "TIMESTAMP_MICROS")
      try body finally saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

  /** The clustered frame [[writeZOrdered]]/[[optimize]] materialize:
    * range-exchange on the z-key into `numFiles` slices, local sort
    * per slice. */
  private def clustered(df: DataFrame, cols: Seq[String], numFiles: Int,
      bits: Int, curve: String, rankMode: String): DataFrame = {
    require(numFiles > 0, s"numFiles=$numFiles must be positive")
    withZValue(df, cols, bits = bits, curve = curve, rankMode = rankMode)
      .repartitionByRange(numFiles, col("__zvalue"))
      .sortWithinPartitions("__zvalue")
      .drop("__zvalue")
  }

  /** Z-ordered clustered write: range-exchange on the z-key into
    * `numFiles` output slices, local sort per slice, parquet. Content
    * is preserved row-for-row (layout only); every file's min/max
    * window is narrow in every z-dimension — the property
    * [[fileStats]] measures and the spec asserts, and the footer stats
    * [[prunedFiles]] selects files by.
    *
    * Published via [[IndexFs.publishRelation]] (write-then-swap): a
    * rewrite that crashes mid-write leaves the PREVIOUS dataset intact
    * at `path` (never neither — deleting first would destroy the only
    * complete copy before the new one exists). */
  def writeZOrdered(df: DataFrame, cols: Seq[String], path: String,
      numFiles: Int, bits: Int = -1, curve: String = "morton",
      rankMode: String = "equiwidth"): Unit =
    withMicrosTimestamps(df.sparkSession) {
      IndexFs.publishRelation(
        clustered(df, cols, numFiles, bits, curve, rankMode), path)
    }

  /** The cheap INGEST path of a clustered dataset: appends `df`'s rows
    * as plain unclustered files — batch-cost, no re-cluster — at the
    * price of layout drift: the appended files' stat windows span the
    * full range in every dimension, so pruning degrades as appends
    * accumulate (exactly the frozen-family drift of the ANN indexes,
    * for files). [[optimize]] is the reset. Single-writer vs
    * optimize, like the index plain appends. */
  def appendUnclustered(df: DataFrame, path: String): Unit =
    withMicrosTimestamps(df.sparkSession) {
      IndexFs.rollForwardPublish(df.sparkSession, path)
      df.write.mode("append").parquet(path)
    }

  /** The maintenance reset — Delta's OPTIMIZE ZORDER shape: reads the
    * CURRENT dataset (accumulated appends included), re-clusters the
    * whole of it on `cols`, and swaps the result in via
    * [[IndexFs.publishRelation]] — readers see the complete old layout
    * or the complete new one, never a mix, and a crash
    * mid-optimize leaves the old one intact. Content-preserving by
    * construction (hash-gated in q_zorder_optimize); cost is one full
    * read + clustered write — dataset-linear, a deliberate maintenance
    * window off the ingest path, same posture as the index refits. */
  def optimize(spark: org.apache.spark.sql.SparkSession, path: String,
      cols: Seq[String], numFiles: Int, bits: Int = -1,
      curve: String = "morton", rankMode: String = "equiwidth"): Unit = {
    IndexFs.rollForwardPublish(spark, path)
    val all = spark.read.parquet(path)
    withMicrosTimestamps(spark) {
      IndexFs.publishRelation(
        clustered(all, cols, numFiles, bits, curve, rankMode), path)
    }
  }

  /** Per-file min/max of the given columns for a written dataset — the
    * pruning-power diagnostic (what a stats-based reader would skip
    * with). One column-pruned scan; output is file-count-sized. */
  def fileStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { n =>
      Seq(min(col(n)).as(s"min_$n"), max(col(n)).as(s"max_$n"))
    }
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** A pruning predicate on one dimension: `column ∈ [lo, hi]`, in the
    * column's integer backing (long/int as themselves, DATE as epoch
    * days, TIMESTAMP as epoch micros — the units parquet footer stats
    * carry). A multi-band read is the CONJUNCTION of its bands — the
    * whole point of a multi-dimension clustered layout. */
  final case class Band(column: String, lo: Long, hi: Long) {
    require(lo <= hi, s"empty range on $column: lo=$lo > hi=$hi")
  }

  /** Per-(block, column) footer stat, reduced to what pruning needs.
    * `Absent`/`NoStats` can never rule a file out (pruning may only
    * widen, never narrow); `AllNull` admits no value in any range. */
  private sealed trait ColStat
  private final case class RangeStat(lo: Long, hi: Long) extends ColStat
  private case object AllNullStat extends ColStat
  private case object NoStats extends ColStat
  private case object AbsentCol extends ColStat

  /** Does some block admit EVERY band? (A matching row must live in a
    * block whose every banded column's window intersects its band —
    * per-block conjunction, strictly tighter than per-file.) */
  private def admits(blocks: Seq[Map[String, ColStat]], bands: Seq[Band]): Boolean =
    blocks.isEmpty || blocks.exists { block =>
      bands.forall { b =>
        block.getOrElse(b.column, AbsentCol) match {
          case RangeStat(l, h) => h >= b.lo && l <= b.hi
          case AllNullStat => false
          case NoStats | AbsentCol => true
        }
      }
    }

  /** One parquet file's footer stats, block by block — integer-backed
    * columns only (int/long/date/timestamp written as INT64 micros —
    * every layout and sharded-snapshot write goes through
    * [[withMicrosTimestamps]] for exactly this; a timestamp written as
    * legacy INT96 by an UNWRAPPED writer carries Binary stats, which
    * read as [[NoStats]] → kept, safe but unpruned). */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path,
      cols: Seq[String]): Seq[Map[String, ColStat]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
    graft.sources.Footers.footer(conf, p).getBlocks.asScala.toSeq.map { block =>
      cols.map { c =>
        c -> (block.getColumns.asScala.find(_.getPath.toDotString == c) match {
          case None => AbsentCol: ColStat
          case Some(chunk) => chunk.getStatistics match {
            case ls: LongStatistics if ls.hasNonNullValue =>
              RangeStat(ls.getMin, ls.getMax)
            case is: IntStatistics if is.hasNonNullValue =>
              RangeStat(is.getMin.toLong, is.getMax.toLong)
            case s if s != null && !s.hasNonNullValue && s.getNumNulls > 0 =>
              AllNullStat
            case _ => NoStats
          }
        })
      }.toMap
    }
  }

  /** The files of one parquet data dir whose stats admit rows inside
    * EVERY band — file-level skipping from metadata alone, no data pages
    * touched. This is the read-side payoff of [[writeZOrdered]]:
    * Spark's own parquet reader prunes row groups AFTER opening every
    * file; pre-selecting files here also removes the per-file
    * open/footer/schedule cost from the query, which at 100 TB × narrow
    * predicate is most of the scan. A file is KEPT when any row group
    * admits the conjunction (per band: its [min, max] intersects, or
    * the chunk carries no usable stats, or the column is absent) —
    * pruning may only ever widen the result, never narrow it (the
    * caller re-applies the exact filter). Integer-backed columns only
    * (int/long/date/timestamp-as-INT64-micros — the layout and
    * sharded-snapshot writers pin the micros output type via
    * [[withMicrosTimestamps]]; legacy INT96 timestamps from unwrapped
    * writers carry unusable Binary stats and simply never prune) —
    * exactly the types
    * [[withZValue]] range-ranks; string dims are hash-ranked, so range
    * stats carry no signal for them.
    *
    * Metadata cost: one driver-side footer tail read per file
    * ([[graft.sources.Footers.footer]]). Returns (selected, total). */
  def prunedFiles(spark: org.apache.spark.sql.SparkSession, path: String,
      bands: Seq[Band]): (Seq[String], Int) = {
    require(bands.nonEmpty, "pruning needs at least one band")
    val conf = spark.sparkContext.hadoopConfiguration
    val files = IndexFs.fs(spark, path).listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    val selected =
      files.filter(p => admits(footerStats(conf, p, bands.map(_.column)), bands))
    (selected.map(_.toString).toSeq, files.length)
  }

  /** Single-band [[prunedFiles]]. */
  def prunedFiles(spark: org.apache.spark.sql.SparkSession, path: String,
      column: String, lo: Long, hi: Long): (Seq[String], Int) =
    prunedFiles(spark, path, Seq(Band(column, lo, hi)))

  /** Reads only the [[prunedFiles]] of a dataset — a SUPERSET of the
    * rows inside every band (whole files; re-apply the exact filter).
    * Empty selection → an empty frame with the dataset's schema. */
  def readPruned(spark: org.apache.spark.sql.SparkSession, path: String,
      bands: Seq[Band]): DataFrame = {
    val (selected, _) = prunedFiles(spark, path, bands)
    if (selected.isEmpty)
      spark.read.parquet(path).limit(0)
    else spark.read.parquet(selected: _*)
  }

  /** Single-band [[readPruned]]. */
  def readPruned(spark: org.apache.spark.sql.SparkSession, path: String,
      column: String, lo: Long, hi: Long): DataFrame =
    readPruned(spark, path, Seq(Band(column, lo, hi)))
}
