package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sequence-packing bins for LLM pretraining batch assembly (extension
  * surface): assign every document a position in a stream of
  * fixed-token-budget bins, by cumulative token count in a total key
  * order. Output per row: the input columns plus `start_offset` (tokens
  * before this doc), `bin` (= start_offset div budget) and `bin_offset`
  * (position inside the bin). A document may straddle a bin boundary —
  * the offsets are exactly what a writer needs to split or shift it;
  * greedy no-split packing is an inherently sequential fold, and this
  * cumulative form is its parallelizable variant with the same stream
  * layout. Null token counts pack as 0 tokens (the row keeps its slot
  * in the stream, consuming no budget).
  *
  * THE SCALE POINT: the naive spelling is
  * `sum(tokens) OVER (ORDER BY key)` — a GLOBAL window, which Spark
  * executes by shuffling the entire relation into ONE partition (the
  * single-task straggler this repo's top-k work removed elsewhere).
  * This implementation is the classic two-pass distributed prefix sum
  * with exactly ONE shuffle (the range partitioning):
  *
  *   1. range-partition by key at a corpus-sized width
  *      ([[graft.GraftSession.partitionsFor]] — per-task state is O(1)
  *      here, but partition SIZE must stay storage-bounded) and locally
  *      sort; materialize once;
  *   2. one subtotal per partition, prefix-summed on the driver
  *      (O(partitions) rows — aggregate-sized at any corpus scale);
  *   3. per-partition running sum seeded with the partition's prefix —
  *      a NARROW `mapPartitionsWithIndex` pass over the materialized
  *      partitions (the genuine per-partition-imperative case): no
  *      second exchange. SamplingPackingSpec pins this by asserting the
  *      OUTPUT keeps the requested partition width (an RDD-backed plan
  *      hides exchanges from explain, but any funnel/re-shuffle would
  *      change the partition count).
  *
  * All arithmetic is integer (Long) — `bin` uses true integer division,
  * never a double quotient — so every row matches an exact-SQL oracle
  * at any magnitude.
  */
object Packing {

  /** @param budget tokens per bin (the training context length)
    * @param numPartitions range-partition width; default sized from
    *        the plan via [[graft.GraftSession.partitionsForPlan]] —
    *        the scan's split width, no extra job — so callers only
    *        pass a width to override the band
    * @return input columns + `start_offset`, `bin`, `bin_offset`
    *         (Long); row order is not materialized — add `.orderBy`
    *         for display */
  def withPackingBins(
      docs: DataFrame, keyCol: String, tokensCol: String,
      budget: Long, numPartitions: Option[Int] = None): DataFrame = {
    require(budget > 0, s"budget=$budget must be positive")
    val spark = docs.sparkSession
    val p = numPartitions.getOrElse(graft.GraftSession.partitionsForPlan(docs))

    // (1) the ONE shuffle: range-partition on the packing order, sort
    // locally, materialize once — both later passes read these blocks.
    // localPin, not pin: pin preserves VALUES only, while passes (2)
    // and (3) read this frame's physical partition structure (partition
    // index IS the range order, rows are sorted within) — a parquet
    // round-trip reassembles partitions by file-size bin-packing and
    // would silently scramble the stream layout.
    val ranged = graft.GraftSession.localPin(docs
      .repartitionByRange(p, col(keyCol))
      .sortWithinPartitions(col(keyCol)))
    val tokIdx = ranged.schema.fieldIndex(tokensCol)
    def tok(r: Row): Long =
      if (r.isNullAt(tokIdx)) 0L else r.getAs[Number](tokIdx).longValue()

    // (2) one subtotal row per partition → driver exclusive prefix.
    // Partition INDEX is the range order (repartitionByRange), so the
    // prefix of partition i is the token mass of partitions < i.
    val subtotals = ranged.rdd
      .mapPartitionsWithIndex((i, it) =>
        Iterator.single(i -> it.foldLeft(0L)(_ + tok(_))))
      .collect().toMap
    val nParts = if (subtotals.isEmpty) 0 else subtotals.keys.max + 1
    val prefixes = (0 until nParts).scanLeft(0L) {
      case (acc, pid) => acc + subtotals.getOrElse(pid, 0L)
    }.init.toArray

    // (3) narrow pass: local running sum seeded with the prefix.
    val out = ranged.rdd.mapPartitionsWithIndex { (i, rows) =>
      var cum = if (i < prefixes.length) prefixes(i) else 0L
      rows.map { r =>
        val t = tok(r)
        val startOffset = cum
        cum += t
        // floorDiv/floorMod pair: bin * budget + bin_offset ==
        // start_offset on ALL inputs (truncated % would break the
        // decomposition if a garbage negative token count ever slipped
        // a negative offset through)
        Row.fromSeq(r.toSeq :+ startOffset :+
          java.lang.Math.floorDiv(startOffset, budget) :+
          java.lang.Math.floorMod(startOffset, budget))
      }
    }
    spark.createDataFrame(out, StructType(ranged.schema.fields ++ Seq(
      StructField("start_offset", LongType, nullable = false),
      StructField("bin", LongType, nullable = false),
      StructField("bin_offset", LongType, nullable = false))))
  }
}
