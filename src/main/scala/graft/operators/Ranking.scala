package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Exact global rank — `row_number() over (order by …)` without the
  * single-partition straggler that global window spells in Spark (the
  * whole relation funnels into ONE task). The primitive behind
  * curriculum ordering (train easy→hard: rank by a difficulty score),
  * exact percentile cuts (rank / n), stable global ids for a frozen
  * corpus snapshot, and deterministic top-p% slices.
  *
  * Same two-pass distributed machinery as [[Packing]] (its prefix sum
  * counts ROWS instead of tokens): ONE range exchange on the order
  * (equal keys land in one partition, partition index IS the range
  * order), a per-partition count prefix-summed on the driver
  * (O(partitions) rows), then a narrow per-partition running counter
  * seeded with the prefix — no second exchange, no corpus window.
  *
  * Determinism: the caller's `order` must be a TOTAL order (append a
  * unique key as the last column — ties would make ranks
  * partitioning-dependent, exactly as they make any `row_number`
  * nondeterministic). Under a total order the result is independent
  * of the range partitioner's sampled boundaries: boundaries only
  * decide which partition a row lands in, never its position in the
  * concatenated sorted stream. */
object Ranking {

  /** @param order total-order columns, directions embedded
    *   (`col("difficulty").desc, col("doc_id")`)
    * @param rankCol output column, 0-based Long
    * @param numPartitions range width override (default: plan-sized
    *   via [[graft.GraftSession.partitionsForPlan]]) */
  def withGlobalRank(df: DataFrame, order: Seq[Column],
      rankCol: String = "rank",
      numPartitions: Option[Int] = None): DataFrame = {
    require(order.nonEmpty, "empty order")
    require(!df.columns.contains(rankCol),
      s"output column $rankCol already present in ${df.columns.mkString(",")}")
    val spark = df.sparkSession
    val p = numPartitions.getOrElse(graft.GraftSession.partitionsForPlan(df))
    // the ONE shuffle; materialized with localPin because both passes
    // read the physical partition structure (see Packing)
    val ranged = graft.GraftSession.localPin(df
      .repartitionByRange(p, order: _*)
      .sortWithinPartitions(order: _*))
    // pass 2: one row count per partition → driver exclusive prefix
    val counts = ranged.rdd
      .mapPartitionsWithIndex((i, it) => Iterator.single(i -> {
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
      }))
      .collect().sortBy(_._1).map(_._2)
    val prefix = counts.scanLeft(0L)(_ + _)
    // pass 3: narrow seeded counter — no exchange
    val out = ranged.rdd.mapPartitionsWithIndex { (i, it) =>
      var r = prefix(i)
      it.map { row => val o = Row.fromSeq(row.toSeq :+ r); r += 1; o }
    }
    spark.createDataFrame(out, StructType(ranged.schema.fields :+
      StructField(rankCol, LongType, nullable = false)))
  }
}
