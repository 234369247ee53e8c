package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.functions.GraftFunctions.top_k_by_score

/** Column profiler (SURVEY §2.11 Q4 ≙ `profile_columns`,
  * `tasks/quality_parallel.py:105-140`): per column — dtype, null count,
  * exact distinct count, and top-k most frequent values (only for columns
  * whose cardinality is below a cap; guard ≙ `quality_parallel.py:125`).
  *
  * Scale design: the reference loops per column over an in-memory frame.
  * Here the whole profile is ONE Spark action regardless of column count:
  * every column is unpivoted (`stack`) to (column, value-as-string) pairs
  * — a projection, not a shuffle of the raw table — and each pair is
  * counted once. One per-column aggregate over those counts then yields
  * the distinct count (the number of groups, the null group included),
  * the null count, and the top-k from the bounded
  * [[graft.functions.TopKByScore]] heap, so no window sort is needed.
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

  /** Exact profile of every column. `nUnique` counts null as a value
    * (Polars `n_unique`); `topValues` ranks null as a value too, ordered
    * by count desc, value asc with null last among equal counts (the
    * reference's `value_counts` order is unspecified), and is empty for
    * columns whose `nUnique` exceeds `cardinalityCap`. */
  def profile(
      df: DataFrame,
      topK: Int = DefaultTopK,
      cardinalityCap: Long = DefaultCardinalityCap): Seq[ColumnProfile] = {
    val fields = df.schema.fields.toSeq
    if (fields.isEmpty) return Nil

    // Values are counted by their string form. -0.0 and 0.0 print
    // differently but are one value to Spark's grouping, so floating
    // columns fold the signed zero first to keep nUnique exact.
    val stackArgs = fields.zipWithIndex.map { case (f, i) =>
      val ref = "`" + f.name.replace("`", "``") + "`"
      val value = f.dataType match {
        case FloatType | DoubleType => s"IF($ref = 0, 0, $ref)"
        case _ => ref
      }
      s"$i, CAST($value AS STRING)"
    }.mkString(", ")
    val counted = df.selectExpr(s"stack(${fields.size}, $stackArgs) AS (__column, __value)")
      .groupBy(col("__column"), col("__value"))
      .agg(count(lit(1)).as("__cnt"))
    val perColumn = counted.groupBy(col("__column"))
      .agg(
        count(lit(1)).as("__groups"),
        coalesce(sum(when(col("__value").isNull, col("__cnt"))), lit(0L)).as("__nulls"),
        // the heap skips the null value; it is merged back below
        top_k_by_score(col("__value"), col("__cnt").cast("double"), math.max(topK, 1))
          .as("__top"))
      .collect()
      .map(r => r.getInt(0) -> r).toMap

    fields.zipWithIndex.map { case (f, i) =>
      val dtype = f.dataType.toString
      perColumn.get(i) match {
        case None => ColumnProfile(f.name, dtype, 0L, 0L, Nil) // zero rows
        case Some(r) =>
          val nUnique = r.getLong(1)
          val nulls = r.getLong(2)
          val top =
            if (nUnique > cardinalityCap) Nil
            else {
              val nonNull = r.getSeq[Row](3).map(e => (e.getString(0), e.getDouble(1).toLong))
              val withNull =
                if (nulls == 0) nonNull
                else {
                  val (ahead, behind) = nonNull.span(_._2 >= nulls)
                  (ahead :+ ((null: String) -> nulls)) ++ behind
                }
              withNull.take(topK)
            }
          ColumnProfile(f.name, dtype, nulls, nUnique, top)
      }
    }
  }
}
