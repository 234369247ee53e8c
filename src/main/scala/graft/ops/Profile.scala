package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column profiler (SURVEY §2.11 Q4 ≙ `profile_columns`,
  * `tasks/quality_parallel.py:105-140`): per column — dtype, null count,
  * exact distinct count, and top-k most frequent values (only for columns
  * whose cardinality is below a cap; guard ≙ `quality_parallel.py:125`).
  *
  * Scale design: the reference loops per column over an in-memory frame.
  * Here the stats phase is ONE aggregate job over all columns (nulls via
  * conditional count, distincts via `count_distinct` — Catalyst plans the
  * multi-distinct with a single Expand), and the top-k phase is ONE job:
  * the eligible columns are unpivoted (`stack`) to (column, value) pairs —
  * a projection, not a shuffle of the raw table — then counted and
  * windowed per column. Two scans total regardless of column count,
  * versus the naive 2·C jobs.
  */
object Profile {

  final case class ColumnProfile(
      name: String,
      dtype: String,
      nullCount: Long,
      nUnique: Long,
      topValues: Seq[(String, Long)])

  val DefaultTopK = 5
  val DefaultCardinalityCap = 5000L

  /** Single-pass profile: null count, exact distinct, AND top-k for every
    * column in ONE `df.agg` job, using the custom [[graft.functions.TopKFreq]]
    * aggregate (counts exact while per-column cardinality ≤ its capacity).
    * The cardinality cap is applied post-hoc: top-k values are dropped
    * for columns whose n_unique exceeds the cap — same observable
    * behavior as [[profile]], one scan instead of two.
    */
  def profileSinglePass(
      df: DataFrame,
      topK: Int = DefaultTopK,
      cardinalityCap: Long = DefaultCardinalityCap): Seq[ColumnProfile] = {
    import graft.functions.GraftFunctions.top_k_freq
    val cols = df.columns.toSeq
    if (cols.isEmpty) return Nil
    val aggs = cols.flatMap { c =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"__null__$c"),
        count_distinct(col(c)).as(s"__uniq__$c"),
        top_k_freq(col(c).cast("string"), topK,
          // saturating: a huge Long cap (e.g. Long.MaxValue for "no cap")
          // must not overflow to a negative Int capacity
          capacity =
            if (cardinalityCap >= Int.MaxValue / 2) Int.MaxValue
            else (cardinalityCap * 2).toInt).as(s"__top__$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val dtypes = df.dtypes.toMap
    cols.map { c =>
      val nulls = row.getLong(row.fieldIndex(s"__null__$c"))
      val uniq = row.getLong(row.fieldIndex(s"__uniq__$c")) + (if (nulls > 0) 1 else 0)
      val top =
        if (uniq > cardinalityCap) Nil
        else {
          // TopKFreq skips null inputs; merge the known null count back
          // so null ranks as a value (Polars value_counts parity, same
          // tie-break as profile(): cnt desc, value asc with null LAST)
          val nonNull = row.getSeq[Row](row.fieldIndex(s"__top__$c"))
            .map(r => (r.getString(0), r.getLong(1)))
          val withNull = if (nulls > 0) nonNull :+ (null: String, nulls) else nonNull
          withNull.sortWith { case ((v1, c1), (v2, c2)) =>
            if (c1 != c2) c1 > c2
            else if (v1 == null) false
            else if (v2 == null) true
            else v1 < v2
          }.take(topK)
        }
      ColumnProfile(c, dtypes(c), nulls, uniq, top)
    }
  }

  /** Scale-path stats: HyperLogLog++ distinct estimates instead of exact
    * `count_distinct` — no Expand, no per-column distinct shuffle, one
    * straight aggregate even over thousands of columns of a 100 TB
    * table. `rsd` is the HLL relative standard deviation (default 5%).
    * Top-k is skipped (pair with [[profileSinglePass]]'s TopKFreq when
    * values are needed). */
  def profileApproxStats(df: DataFrame, rsd: Double = 0.05): Seq[ColumnProfile] = {
    val cols = df.columns.toSeq
    if (cols.isEmpty) return Nil
    val aggs = cols.flatMap { c =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"__null__$c"),
        approx_count_distinct(col(c), rsd).as(s"__uniq__$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val dtypes = df.dtypes.toMap
    cols.map { c =>
      val nulls = row.getLong(row.fieldIndex(s"__null__$c"))
      val uniq = row.getLong(row.fieldIndex(s"__uniq__$c")) + (if (nulls > 0) 1 else 0)
      ColumnProfile(c, dtypes(c), nulls, uniq, Nil)
    }
  }

  def profile(
      df: DataFrame,
      topK: Int = DefaultTopK,
      cardinalityCap: Long = DefaultCardinalityCap): Seq[ColumnProfile] = {
    val cols = df.columns.toSeq
    if (cols.isEmpty) return Nil

    val statAggs = cols.flatMap { c =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"__null__$c"),
        count_distinct(col(c)).as(s"__uniq__$c"))
    }
    val statRow: Row = df.agg(statAggs.head, statAggs.tail: _*).collect().head
    val nulls = cols.map(c => c -> statRow.getLong(statRow.fieldIndex(s"__null__$c"))).toMap
    // Polars `n_unique` counts null as a distinct value (reference
    // semantics); Spark's count_distinct skips nulls — adjust.
    val uniques = cols.map { c =>
      val base = statRow.getLong(statRow.fieldIndex(s"__uniq__$c"))
      c -> (base + (if (nulls(c) > 0) 1 else 0))
    }.toMap

    val eligible = cols.filter(c => uniques(c) <= cardinalityCap)
    val top: Map[String, Seq[(String, Long)]] =
      if (eligible.isEmpty) Map.empty
      else {
        // Unpivot eligible columns to (column, value) with a single stack
        // projection, count once, rank once. Ties break on value asc for
        // determinism (the reference's value_counts order is unspecified).
        val stackArgs = eligible.map(c => s"'$c', CAST(`$c` AS STRING)").mkString(", ")
        val pairs = df.selectExpr(
          s"stack(${eligible.size}, $stackArgs) as (__column, __value)")
        val counted = pairs.groupBy(col("__column"), col("__value"))
          .agg(count(lit(1)).as("__cnt"))
        val w = Window.partitionBy(col("__column"))
          .orderBy(col("__cnt").desc, col("__value").asc_nulls_last)
        counted.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= topK)
          .collect()
          .groupBy(_.getString(0))
          .map { case (c, rows) =>
            c -> rows.sortBy(_.getInt(3)).map(r =>
              (if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSeq
          }
      }

    val dtypes = df.dtypes.toMap
    cols.map { c =>
      ColumnProfile(c, dtypes(c), nulls(c), uniques(c), top.getOrElse(c, Nil))
    }
  }
}
