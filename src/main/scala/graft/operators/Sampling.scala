package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deterministic, engine-portable sampling and splitting — the
  * training-data mixture toolkit (extension surface; no reference
  * counterpart — the reference pipeline ships everything it extracts).
  *
  * Every decision is a pure function of a key column through a portable
  * hash (first 15 hex chars of md5 → 60-bit long, the
  * [[graft.functions.SimHashPortable]] trick), NOT an RNG:
  *
  *  - reproducible across runs, partitionings, cluster sizes, and
  *    ENGINES — DuckDB recomputes the identical hash, so the driver
  *    oracle checks sample membership bit-for-bit;
  *  - a sample/split is a projection + filter: no shuffle, no RNG state,
  *    no per-partition seed coordination at any scale — the predicate
  *    pushes into the scan like any other filter;
  *  - assignment is STABLE: growing the corpus never reassigns an
  *    existing key — the property train/test splits need to avoid
  *    leakage across dataset versions (a rerun with new data keeps every
  *    old key on its old side).
  *
  * The `salt` decouples decisions: different salts give independent
  * hash streams over the same keys (sampling twice with different salts
  * composes like independent draws; the same salt is idempotent).
  */
object Sampling {

  /** Bucket resolution: fractions are exact to 1e-6. */
  val Buckets = 1000000L

  /** Portable 60-bit key hash mapped to [0, Buckets). The DuckDB twin is
    * `pmod(('0x' || substr(md5(key || '/' || salt), 1, 15))::BIGINT, 1000000)`. */
  def hashBucket(key: Column, salt: String): Column =
    pmod(conv(substring(md5(concat(key.cast("string"), lit("/" + salt))), 1, 15), 16, 10)
      .cast("long"), lit(Buckets))

  /** Keep a deterministic `fraction` of rows by key hash. */
  def sampleByHash(df: DataFrame, keyCol: String, fraction: Double,
      salt: String = "sample"): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction=$fraction out of [0,1]")
    df.filter(hashBucket(col(keyCol), salt) < lit((fraction * Buckets).toLong))
  }

  /** Stratified sample: an independent per-stratum rate (training-data
    * mixture weights), `defaultFraction` for unlisted strata. One
    * projection + filter — the mixture needs no shuffle, join, or
    * per-stratum pass at any corpus size. */
  def stratifiedSampleByHash(df: DataFrame, keyCol: String, strataCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 0.0,
      salt: String = "strata"): DataFrame = {
    (fractions.values ++ Seq(defaultFraction)).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fraction $f out of [0,1]"))
    val threshold = fractions.foldLeft(lit((defaultFraction * Buckets).toLong)) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit((f * Buckets).toLong)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), salt) < threshold)
  }

  /** Stable train/validation/test assignment: adds a `split` column from
    * disjoint hash ranges ([0, val) → "val", [val, val+test) → "test",
    * rest → "train"). A projection — composes with any downstream op. */
  def withSplit(df: DataFrame, keyCol: String,
      valFraction: Double = 0.05, testFraction: Double = 0.05,
      salt: String = "split"): DataFrame = {
    require(valFraction >= 0 && testFraction >= 0 &&
      valFraction + testFraction <= 1.0,
      s"val=$valFraction test=$testFraction must be non-negative and sum <= 1")
    val b = hashBucket(col(keyCol), salt)
    val valEnd = (valFraction * Buckets).toLong
    val testEnd = valEnd + (testFraction * Buckets).toLong
    df.withColumn("split",
      when(b < valEnd, lit("val"))
        .when(b < testEnd, lit("test"))
        .otherwise(lit("train")))
  }

  /** Deterministic QUALITY-WEIGHTED sample: the k rows with the
    * smallest `hash(key) / weight` priority — selection probability
    * grows with the weight (a doc with twice the quality score is ~2×
    * as likely to make the sample in the small-k regime), the
    * hash-priority variant of Efraimidis–Spirakis A-ES reservoir
    * sampling with the RNG replaced by the portable key hash. Same
    * contract as every op here: reproducible across runs, partitionings
    * and ENGINES (the priority is one BIGINT→DOUBLE cast and one
    * division, both IEEE correctly-rounded identically in Spark and
    * DuckDB — no transcendental whose libm could differ in the last
    * ulp), and STABLE: adding corpus can only displace a kept row by
    * out-prioritizing it, never reassign hashes. Rows with NULL or ≤0
    * weight are never sampled (the weight-zero limit).
    *
    * THE SCALE POINT: `orderBy(priority).limit(k)` compiles to
    * TakeOrderedAndProject — a per-partition top-k heap and one k-sized
    * merge, NO global sort and no full shuffle at any corpus size.
    * k is merge-task-sized (fine up to ~millions); for constant-RATE
    * sampling use [[sampleByHash]] instead. Ties (same priority) break
    * deterministically on the key. */
  def weightedSampleByHash(df: DataFrame, keyCol: String, weightCol: String,
      k: Int, salt: String = "weighted"): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val priority = Sharding.orderHash(col(keyCol), salt).cast("double") /
      col(weightCol).cast("double")
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .orderBy(priority, col(keyCol))
      .limit(k)
  }

  /** TOKEN-BUDGET MIXTURE take — the data-mixing op: build a training
    * mix by taking, per group (language/domain/source), documents in
    * deterministic hash order until the group's token budget is
    * reached. Output = the kept rows plus `group_start` (tokens before
    * this row within its group's order); a row is kept iff its
    * `group_start < budget(group)`, so the LAST kept row may straddle
    * the budget (the packing-style rule — budgets are floors on kept
    * token mass, and downstream truncation has the exact offsets).
    * Unlisted groups get `defaultBudget`; a NULL group is its own
    * bucket under `defaultBudget`. Null token counts take no budget
    * but keep their slot. Deterministic and STABLE the way
    * [[sampleByHash]] is: hash order never reorders existing keys, so
    * regenerating the mix over a grown corpus keeps every previously
    * chosen document whose budget slot survives.
    *
    * THE SCALE POINT: the naive spelling is `SUM(tokens) OVER
    * (PARTITION BY group ORDER BY hash)` — one partition PER GROUP,
    * and a training mix has few groups, so the biggest language
    * becomes a single straggler task. This is [[Packing]]'s two-pass
    * distributed prefix sum, per group, with exactly ONE shuffle:
    * range-partition on (group, hash, key), per-(partition, group)
    * subtotals prefix-summed on the driver (O(partitions + groups)
    * rows — range partitioning keeps each group contiguous), then a
    * narrow seeded per-partition running sum. The take filter runs
    * inside the narrow pass — dropped rows never leave their task.
    *
    * UPSAMPLING (`upsample = true`): a budget ABOVE the group's token
    * mass repeats the group's documents — epoch 0 is the full group in
    * hash order, epoch 1 repeats it in the same order, … until the
    * budget fills (the multi-epoch mixture rule: scarce languages are
    * upsampled by repetition, the standard practice for low-resource
    * mixes). Output gains an `epoch` column (0-based) and
    * `group_start` becomes the GLOBAL token offset `epoch · mass +
    * within-epoch offset`; a row is kept in epoch k iff that offset is
    * `< budget`, so the last epoch is partial under exactly the same
    * straddle rule as the single-epoch take. With `upsample = false`
    * (the default, the pre-r16 contract) an over-mass budget silently
    * takes the group once and there is no `epoch` column. A zero-mass
    * group (all-NULL token counts) contributes its rows once at epoch
    * 0 when its budget is positive — repetition of zero mass fills
    * nothing. The epoch fan-out costs NO extra shuffle: the narrow
    * pass emits each kept row's epochs in-task from the same seeded
    * running sum, and the driver already holds the per-group masses
    * (the prefix-sum subtotals' final values). `maxEpochs` bounds the
    * fan-out LOUDLY — a budget orders of magnitude above a tiny
    * group's mass is almost always a unit mistake, and the guard
    * turns a silent million-fold blow-up into an error naming the
    * group. */
  def takeTokenBudget(df: DataFrame, keyCol: String, groupCol: String,
      tokensCol: String, budgets: Map[String, Long],
      defaultBudget: Long = 0L, salt: String = "budget",
      numPartitions: Option[Int] = None,
      upsample: Boolean = false, maxEpochs: Int = 100): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs=$maxEpochs must be >= 1")
    (budgets.values ++ Seq(defaultBudget)).foreach(b =>
      require(b >= 0, s"budget $b must be non-negative"))
    Seq(keyCol, groupCol, tokensCol).foreach(c =>
      require(df.columns.contains(c),
        s"column $c absent from ${df.columns.mkString(",")}"))
    require(!df.columns.contains("__order_hash"),
      "reserved internal column name in input: __order_hash")
    require(df.schema(groupCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"group column $groupCol must be STRING (budget keys are strings)")
    val spark = df.sparkSession
    val p = numPartitions.getOrElse(graft.GraftSession.partitionsForPlan(df))

    // the ONE shuffle: contiguous (group, hash-order) ranges, locally
    // sorted; materialized because both passes read the physical
    // partition structure (see Packing — a parquet round-trip would
    // re-bin partitions and scramble the stream layout)
    val h = Sharding.orderHash(col(keyCol), salt)
    val ranged = graft.GraftSession.localPin(df
      .withColumn("__order_hash", h)
      .repartitionByRange(p, col(groupCol), col("__order_hash"), col(keyCol))
      .sortWithinPartitions(col(groupCol), col("__order_hash"), col(keyCol)))
    val grpIdx = ranged.schema.fieldIndex(groupCol)
    val tokIdx = ranged.schema.fieldIndex(tokensCol)
    def grp(r: Row): Option[String] =
      if (r.isNullAt(grpIdx)) None else Some(r.getString(grpIdx))
    def tok(r: Row): Long =
      if (r.isNullAt(tokIdx)) 0L else r.getAs[Number](tokIdx).longValue()

    // pass 2: per-(partition, group) token subtotals → driver exclusive
    // prefix per group in partition-index order. Range partitioning
    // keeps groups contiguous, so the collected rows are
    // O(partitions + groups) — driver-sized at any corpus scale.
    val subtotals = ranged.rdd.mapPartitionsWithIndex { (i, it) =>
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[Option[String], Long]
      it.foreach(r => acc.update(grp(r), acc.getOrElse(grp(r), 0L) + tok(r)))
      acc.iterator.map { case (g, t) => (i, g, t) }
    }.collect()
    val running = scala.collection.mutable.Map.empty[Option[String], Long]
    val prefixes: Map[(Int, Option[String]), Long] =
      subtotals.sortBy(_._1).map { case (i, g, t) =>
        val before = running.getOrElse(g, 0L)
        running.update(g, before + t)
        (i, g) -> before
      }.toMap
    // per-group total token mass — the final running values (free:
    // already computed building the exclusive prefixes)
    val mass: Map[Option[String], Long] = running.toMap

    val budgetOf: Option[String] => Long = {
      case Some(g) => budgets.getOrElse(g, defaultBudget)
      case None => defaultBudget
    }
    // epoch count per group: ceil(budget / mass), 1 for zero-mass or
    // non-upsampled takes; guarded loudly against unit-mistake budgets
    val epochsOf: Map[Option[String], Int] = mass.map { case (g, m) =>
      val b = budgetOf(g)
      val e =
        if (!upsample || m <= 0L || b <= m) 1L
        else (b + m - 1L) / m
      require(e <= maxEpochs,
        s"takeTokenBudget: group ${g.getOrElse("NULL")} needs $e epochs " +
          s"(budget=$b over mass=$m) > maxEpochs=$maxEpochs — almost " +
          "always a unit mistake; raise maxEpochs deliberately if not")
      g -> e.toInt
    }

    // pass 3 (narrow): seeded running sum + the take filter in-task;
    // upsampling fans each kept row into its epochs in the same task
    val out = ranged.rdd.mapPartitionsWithIndex { (i, rows) =>
      val cum = scala.collection.mutable.Map.empty[Option[String], Long]
      rows.flatMap { r =>
        val g = grp(r)
        val w = cum.getOrElse(g, prefixes.getOrElse((i, g), 0L))
        cum.update(g, w + tok(r))
        val b = budgetOf(g)
        if (upsample) {
          val m = mass.getOrElse(g, 0L)
          (0 until epochsOf.getOrElse(g, 1)).iterator
            .map(k => (k.toLong, k.toLong * m + w))
            .takeWhile { case (_, start) => start < b }
            .map { case (k, start) => Row.fromSeq(r.toSeq :+ k :+ start) }
        } else if (w < b) Iterator.single(Row.fromSeq(r.toSeq :+ w))
        else Iterator.empty
      }
    }
    val extraFields =
      if (upsample)
        Seq(StructField("epoch", LongType, nullable = false),
          StructField("group_start", LongType, nullable = false))
      else Seq(StructField("group_start", LongType, nullable = false))
    spark.createDataFrame(out,
        StructType(ranged.schema.fields ++ extraFields))
      .drop("__order_hash")
  }

  /** TEMPERATURE-scaled mixture budgets — the multilingual practice
    * (Arivazhagan et al. 2019; mT5): allocate a total token budget
    * across groups ∝ `mass_g^alpha`, so `alpha = 1` is proportional
    * sampling (big languages dominate), `alpha → 0` is uniform, and the
    * standard `alpha ∈ [0.2, 0.7]` window upsamples the tail without
    * drowning the head. Returns the `budgets` map [[takeTokenBudget]]
    * consumes — compose the two for a one-line temperature mix.
    *
    * Exactness contract (what lets the composed query sit under the
    * hash gate): shares are computed in a QUANTIZED integer domain —
    * `S_g = floor(mass_g^alpha · 10⁶ + 0.5)` and `budget_g =
    * total · S_g div Σ S` in exact BigInt arithmetic — so for
    * `alpha = 0.5` (where `pow ≡ sqrt`, and IEEE-754 sqrt is CORRECTLY
    * ROUNDED on every engine) the whole chain is bit-deterministic and
    * a SQL twin reproduces every budget exactly. Other alphas are fully
    * supported engine-side but ride `math.pow`, which IEEE does NOT
    * require correctly rounded — a cross-engine oracle should pin 0.5.
    * Budgets sum to ≤ total (floor division); the remainder (< groups
    * tokens) is deliberately unassigned rather than redistributed
    * nondeterministically.
    *
    * Driver cost: ONE group-by-sum collect of O(groups) rows — a
    * training mix has few groups at any corpus size. NULL-group rows
    * are excluded from the allocation (they fall to
    * [[takeTokenBudget]]'s `defaultBudget`); zero-mass groups get
    * budget 0. */
  def temperatureBudgets(df: DataFrame, groupCol: String,
      tokensCol: String, totalBudget: Long,
      alpha: Double = 0.5): Map[String, Long] = {
    require(totalBudget >= 0, s"totalBudget=$totalBudget must be >= 0")
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha=$alpha out of [0, 1]")
    Seq(groupCol, tokensCol).foreach(c =>
      require(df.columns.contains(c), s"column $c absent"))
    val masses = df
      .filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(sum(coalesce(col(tokensCol).cast("long"), lit(0L))).as("__m"))
      .collect()
      .map(r => r.getString(0) -> math.max(0L, r.getLong(1)))
      .toSeq.sortBy(_._1)
    def quantShare(m: Long): Long =
      if (m <= 0L) 0L
      else math.floor(
        (if (alpha == 0.5) math.sqrt(m.toDouble)
         else math.pow(m.toDouble, alpha)) * 1e6 + 0.5).toLong
    val shares = masses.map { case (g, m) => g -> quantShare(m) }
    val totalShare = shares.map(s => BigInt(s._2)).sum
    if (totalShare == 0) shares.map { case (g, _) => g -> 0L }.toMap
    else shares.map { case (g, s) =>
      g -> (BigInt(totalBudget) * BigInt(s) / totalShare).toLong
    }.toMap
  }
}
