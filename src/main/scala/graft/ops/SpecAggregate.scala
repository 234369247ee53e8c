package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spec.{ObjectSpec, SpecCompiler}
import graft.sources.Scan

/** The query engine: normalize → compile → aggregate → sort, the Spark
  * re-expression of `process_object_data` (`tasks/process.py:56-112`).
  *
  * The whole pipeline is one lazy Catalyst plan: a projection chain into a
  * `HashAggregateExec` (partial + final split automatically, shuffling only
  * the partially-aggregated groups) followed by a global sort of the tiny
  * aggregate output. At scale the shuffle carries |groups| rows, not
  * |input| rows — exactly the plan you want for a 100 TB grouped rollup.
  */
object SpecAggregate {

  /** Full pipeline over an already-scanned input.
    * Steps mirror `tasks/process.py:89-108`:
    *  1. object-specific rewrite: Event derives `duration_hours`;
    *  2. ensure group keys exist (fill `"UNKNOWN"`);
    *  3. tolerant metric casts;
    *  4. grouped (or global) aggregate with the compiled agg list;
    *  5. sort by the FIRST group key only (`tasks/process.py:107-108`).
    */
  def run(spark: SparkSession, spec: ObjectSpec, input: DataFrame): DataFrame =
    aggregate(spark, spec, input, empty = input.isEmpty)

  /** [[run]] for a caller that already knows whether `input` is empty
    * (the pipeline counts raw's rows while writing them), so no probe job
    * runs: an empty input short-circuits to the spec-derived empty output
    * (`process.py:76-87`). */
  def aggregate(spark: SparkSession, spec: ObjectSpec, input: DataFrame,
      empty: Boolean): DataFrame = {
    if (empty) return Scan.emptyRelation(spark, SpecCompiler.emptyOutputSchema(spec))
    val withDerived =
      if (spec.metrics.contains(ObjectSpec.DurationHours) &&
          !input.columns.contains("duration_hours"))
        Normalize.deriveDurationHours(input)
      else input
    val keyed = Normalize.ensureCols(withDerived, spec.groupBy)
    val casted = Normalize.castMetrics(keyed, SpecCompiler.physicalMetricCols(spec))

    val aggs = SpecCompiler.buildAggs(spec.metrics)
    val aggregated =
      if (spec.groupBy.nonEmpty)
        casted.groupBy(spec.groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
      else
        casted.agg(aggs.head, aggs.tail: _*)

    if (spec.groupBy.nonEmpty) aggregated.orderBy(col(spec.groupBy.head))
    else aggregated
  }
}
