package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic global shuffle + fixed-count shard assignment — the
  * training-output stage (extension surface; no reference counterpart).
  * A training run wants (a) examples in a reproducible pseudo-random
  * order decoupled from ingest order, and (b) a FIXED number of output
  * shards with near-uniform sizes, stable across reruns.
  *
  * Both come from the same portable key hash as [[Sampling]] (md5 first
  * 15 hex chars → 60-bit long — recomputable by any engine, so the
  * DuckDB oracle checks assignment AND order bit-for-bit):
  *
  *  - shard = hash % nShards: a projection, no shuffle — the shard
  *    column is computable at the scan and stable under corpus growth
  *    (a key never moves between reruns of the same nShards);
  *  - order = (hash, key): a total order independent of input
  *    partitioning/arrival, so "global shuffle" is ONE range exchange
  *    when materialized, and within a shard the scan order is
  *    reproducible.
  *
  * At 100 TB the write path is `repartition(nShards, shard)` +
  * `sortWithinPartitions(hash)` — one hash exchange sized by the data,
  * one local sort per shard, no global sort at all ([[writeShards]]).
  * The salt gives independent shuffles of the same corpus (epoch
  * reshuffling: epoch-k salt → a fresh order with zero state).
  */
object Sharding {

  /** Portable 60-bit hash of the key (the [[Sampling.hashBucket]]
    * spelling without the bucket fold): non-negative, engine-portable.
    * DuckDB twin: `('0x' || substr(md5(key || '/' || salt), 1, 15))::BIGINT`. */
  def orderHash(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast("string"), lit("/" + salt))), 1, 15), 16, 10)
      .cast("long")

  /** Adds `shard` ∈ [0, nShards) and `shuffle_order` (the global sort
    * key). Pure projection — composes with any downstream op and
    * pushes through the scan. */
  def withShard(df: DataFrame, keyCol: String, nShards: Int,
      salt: String = "shard"): DataFrame = {
    require(nShards > 0, s"nShards=$nShards must be positive")
    val h = orderHash(col(keyCol), salt)
    df.withColumn("shuffle_order", h)
      .withColumn("shard", pmod(h, lit(nShards.toLong)))
  }

  /** Row bound above which [[shuffled]] refuses to run (override via
    * its `maxRows`): a materialized total order at full-corpus scale is
    * the plan [[writeShards]] exists to avoid. */
  val shuffledDefaultMaxRows: Long = 100000000L

  /** The deterministic global shuffle: rows in (hash, key) order —
    * reproducible across runs, partitionings and engines. The key
    * tie-break makes the order total even under (astronomically
    * unlikely) 60-bit collisions, so replays hash-identically.
    *
    * THE NON-SCALE SPELLING: `orderBy` is a range exchange plus a
    * total sort — correct, but at full-corpus scale the right plan is
    * [[writeShards]] (one hash exchange + per-shard local sorts, no
    * global sort stage). To keep a casual full-corpus call from
    * silently planning a 100 TB global sort, the input is counted (one
    * cheap column-pruned pass — this spelling is for bounded extracts,
    * where that pass is noise) and anything over `maxRows` fails
    * LOUDLY via `raise_error` in the sort key (the
    * [[TemporalJoins.pointInIntervalJoin]] pattern); raise `maxRows`
    * deliberately if a big materialized order is truly intended.
    * The count and the sort are two scans of `df`: a source that GROWS
    * between them (files landing in a live directory) can pass the
    * guard yet sort more than `maxRows` — the guard is a mistake
    * barrier for static extracts, not an admission control for moving
    * sources. Two EVALUATIONS, too: "one cheap column-pruned pass"
    * holds when `df` is a scan-rooted plan, but a frame derived from
    * expensive upstream work (joins, explodes, UDF-heavy projections)
    * recomputes that whole pipeline for the guard — pin such inputs
    * first, or go straight to
    * [[writeShards]]. */
  def shuffled(df: DataFrame, keyCol: String, salt: String = "shard",
      maxRows: Long = shuffledDefaultMaxRows): DataFrame = {
    require(maxRows > 0, s"maxRows=$maxRows must be positive")
    require(!df.columns.contains("__n_rows"),
      "reserved internal column name in input: __n_rows")
    val n = df.agg(count(lit(1)).as("__n_rows"))
    // the guard lives INSIDE the leading sort key (cast to long, so the
    // when-branches unify): column pruning can never drop it, and it
    // fires before any row ships through the range exchange
    val guardedKey = when(col("__n_rows") > maxRows,
        raise_error(concat(
          lit("Sharding.shuffled: input has "), col("__n_rows").cast("string"),
          lit(s" rows > maxRows=$maxRows — this is the non-scale spelling " +
            "(global sort); use writeShards for full-corpus materialization " +
            "or raise maxRows explicitly"))).cast("long"))
      .otherwise(orderHash(col(keyCol), salt))
    df.crossJoin(broadcast(n))
      .orderBy(guardedKey, col(keyCol))
      .drop("__n_rows")
  }

  /** Materialize the corpus as exactly `nShards` shard dirs
    * (`shard=K/`), each internally in deterministic shuffle order: one
    * hash exchange + per-shard local sort — NO global sort stage, the
    * plan that survives 100 TB. Reruns produce byte-stable shard
    * membership (hash-assigned, growth-stable). */
  def writeShards(df: DataFrame, keyCol: String, nShards: Int, outDir: String,
      salt: String = "shard"): Unit =
    withShard(df, keyCol, nShards, salt)
      .repartition(nShards, col("shard"))
      // `shard` leads the sort ON PURPOSE: partitionBy's writer requires
      // rows ordered by the partition columns and would otherwise insert
      // its own partition-column-only sort, destroying the shuffle order
      // — with the required prefix already satisfied the writer keeps
      // this exact ordering
      .sortWithinPartitions(col("shard"), col("shuffle_order"), col(keyCol))
      .write.partitionBy("shard").mode("overwrite").parquet(outDir)
}
