package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Profile.ColumnProfile

/** Two-action reference for [[Profile.profile]]: one aggregate job for the
  * null counts and exact `count_distinct`s, then a stack/count/window pass
  * for the top-k of the columns under the cap. Specs compare the one-pass
  * profile against it. */
object ProfileReference {

  def profile(
      df: DataFrame,
      topK: Int = Profile.DefaultTopK,
      cardinalityCap: Long = Profile.DefaultCardinalityCap): Seq[ColumnProfile] = {
    val cols = df.columns.toSeq
    if (cols.isEmpty) return Nil

    val statAggs = cols.flatMap { c =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"__null__$c"),
        count_distinct(col(c)).as(s"__uniq__$c"))
    }
    val statRow: Row = df.agg(statAggs.head, statAggs.tail: _*).collect().head
    val nulls = cols.map(c => c -> statRow.getLong(statRow.fieldIndex(s"__null__$c"))).toMap
    // Polars `n_unique` counts null as a distinct value; count_distinct
    // skips nulls — adjust.
    val uniques = cols.map { c =>
      val base = statRow.getLong(statRow.fieldIndex(s"__uniq__$c"))
      c -> (base + (if (nulls(c) > 0) 1 else 0))
    }.toMap

    val eligible = cols.filter(c => uniques(c) <= cardinalityCap)
    val top: Map[String, Seq[(String, Long)]] =
      if (eligible.isEmpty) Map.empty
      else {
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
