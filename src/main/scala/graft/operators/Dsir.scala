package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{roundPortable, word_ngrams}

/** Data Selection via Importance Resampling — the public DSIR
  * construction (Xie et al., "Data Selection for Language Models via
  * Importance Resampling", NeurIPS 2023): score every raw document by
  * the log-likelihood ratio of a TARGET hashed-n-gram language model
  * against a RAW one, then sample the corpus with weights ∝ the ratio,
  * shifting the selected mix toward the target distribution without a
  * trained classifier. The standard mixture-construction companion to
  * the deterministic takes in [[Sampling]]: `takeTokenBudget` decides
  * HOW MUCH of each group to keep, DSIR decides WHICH documents look
  * like the data you want more of.
  *
  * Features are unigrams + bigrams of the whitespace tokens, each
  * hashed into `buckets` slots by the engine-portable md5 hash
  * ([[Sharding.orderHash]] — the oracle recomputes every bucket), the
  * paper's hashed-feature trick: both "language models" collapse to
  * one bucket-count relation of AT MOST `buckets` rows regardless of
  * corpus size. Counts are Laplace-smoothed (`alpha`), so unseen
  * buckets contribute the smoothing floor rather than −∞.
  *
  * Scale shape: each LM fit is explode → ONE hash aggregate whose
  * result is bucket-bounded (≤ `buckets` rows — broadcast-sized by
  * construction, like [[TfIdf]]'s vocabulary but with a HARD cap);
  * scoring is the doc-feature aggregate joined against the two
  * broadcast count relations plus two broadcast 1-row totals — the
  * corpus pays one tokenize pass and one (doc, bucket) aggregate,
  * never a corpus-sized join side. The resample rides
  * [[Sampling.weightedSampleByHash]]'s TakeOrderedAndProject: no
  * global sort at any corpus size.
  */
object Dsir {

  /** Hashed (unigram + bigram, WITH multiplicity) feature rows of a
    * text relation: one `(…, bucket)` row per feature occurrence. */
  private def featureRows(df: DataFrame, textCol: String, buckets: Int,
      salt: String, keep: Seq[String]): DataFrame =
    // spread-small seam (guide §2.5): the explode + per-feature md5 is
    // the expensive map stage of every DSIR pass; over a sub-split-size
    // input it would otherwise run as ONE task (measured: the sf0.1 LM
    // fit = one 5-6 s task, 31 cores idle). No-op at scale.
    graft.GraftSession.spreadSmallInput(df)
      .select(keep.map(col) :+
        explode(concat(word_ngrams(col(textCol), 1),
          word_ngrams(col(textCol), 2))).as("__f"): _*)
      .select(keep.map(col) :+
        pmod(Sharding.orderHash(col("__f"), salt),
          lit(buckets.toLong)).as("bucket"): _*)

  /** Fit one hashed-n-gram "language model": the bucket-count relation
    * `(bucket, n)`, at most `buckets` rows. Missing buckets are simply
    * absent (the scorer smooths them in), so the artifact is always
    * aggregate-sized and broadcastable. */
  def fitHashedLm(docs: DataFrame, textCol: String, buckets: Int = 4096,
      salt: String = "dsir"): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    featureRows(docs, textCol, buckets, salt, Seq.empty)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
  }

  /** BOTH hashed-LM fits in ONE corpus pass, for the standard DSIR
    * shape where the target slice IS a predicate over the raw corpus
    * (Xie et al.'s trusted-slice setup: target = `raw WHERE pred`).
    * Two independent [[fitHashedLm]] calls tokenize + md5-hash the
    * same corpus twice; this computes one conditional aggregate —
    * `n` over all rows, `n` over pred-true rows — so the counts are
    * bit-identical to the two-pass spelling (integer counts, and
    * `count(when(pred, 1))` matches `filter(pred)` null semantics)
    * at half the corpus work. The fused relation is pinned
    * (bucket-bounded, ≤ `buckets` rows) so its four consumers in
    * [[importanceLogRatio]] — two broadcast joins, two totals — read
    * materialized rows instead of re-running the corpus pass.
    * @return (targetLm, rawLm) for the `targetLm`/`rawLm` seams. */
  def fitHashedLmPair(raw: DataFrame, rawTextCol: String,
      targetPred: org.apache.spark.sql.Column, buckets: Int = 4096,
      salt: String = "dsir"): (DataFrame, DataFrame) = {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    import graft.GraftSession.Pinnable
    val fused = featureRows(raw.withColumn("__is_target", targetPred),
        rawTextCol, buckets, salt, Seq("__is_target"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        count(when(col("__is_target"), lit(1))).as("__tn"))
      .pinScratch()
    (fused.filter(col("__tn") > 0)
       .select(col("bucket"), col("__tn").as("n")),
     fused.select(col("bucket"), col("n")))
  }

  /** Per-document importance: the MEAN per-feature log-likelihood
    * ratio `Σ c_f · (ln θ_t[f] − ln θ_r[f]) / Σ c_f` under the
    * Laplace-smoothed target/raw bucket models (mean, not the paper's
    * raw sum, so the statistic is length-free and `exp` of it can
    * never overflow a double). Output: (idCol, n_features, log_ratio)
    * with `log_ratio` rounded portably to `roundDecimals`.
    *
    * `target`/`raw` are TEXT relations (e.g. a trusted high-quality
    * slice vs the whole crawl); pass pre-fit relations via
    * [[fitHashedLm]] through `targetLm`/`rawLm` to score many batches
    * under one fit — the fit-once/score-many seam every index here
    * has. */
  def importanceLogRatio(docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      raw: DataFrame, rawTextCol: String,
      buckets: Int = 4096, alpha: Double = 1.0,
      salt: String = "dsir", roundDecimals: Int = 4,
      targetLm: Option[DataFrame] = None,
      rawLm: Option[DataFrame] = None): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    require(alpha > 0, s"alpha=$alpha must be positive (Laplace floor)")
    // fit-once: an internally-fit LM is pinned (≤ buckets rows) so its
    // TWO consumers — the broadcast join and the totals aggregate —
    // read the materialized relation instead of each re-running the
    // whole corpus tokenize+hash pass (measured: 2× the corpus work
    // per LM without the pin). Caller-supplied LMs are left alone —
    // the fit-once/score-many seam owns their materialization.
    import graft.GraftSession.Pinnable
    val tCounts = targetLm.getOrElse(
      fitHashedLm(target, targetTextCol, buckets, salt).pinScratch())
    val rCounts = rawLm.getOrElse(
      fitHashedLm(raw, rawTextCol, buckets, salt).pinScratch())
    val docF = featureRows(docs, textCol, buckets, salt, Seq(idCol))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("__c"))
    scoreAgainstLms(docF, idCol, tCounts, rCounts, buckets, alpha,
      roundDecimals)
  }

  /** The scoring tail shared by [[importanceLogRatio]] and
    * [[importanceLogRatioSelf]]: per-(doc, bucket) counts joined
    * against the two broadcast LM relations + their broadcast totals,
    * folded to the per-doc mean log-ratio. */
  private def scoreAgainstLms(docF: DataFrame, idCol: String,
      tCounts: DataFrame, rCounts: DataFrame, buckets: Int, alpha: Double,
      roundDecimals: Int): DataFrame = {
    val tTot = tCounts.agg(sum(col("n")).cast("double").as("__t_total"))
    val rTot = rCounts.agg(sum(col("n")).cast("double").as("__r_total"))
    val denom = lit(alpha * buckets)
    docF
      .join(broadcast(tCounts.select(col("bucket"), col("n").as("__tn"))),
        Seq("bucket"), "left")
      .join(broadcast(rCounts.select(col("bucket"), col("n").as("__rn"))),
        Seq("bucket"), "left")
      .crossJoin(broadcast(tTot))
      .crossJoin(broadcast(rTot))
      .select(col(idCol), col("__c"),
        (col("__c").cast("double") *
          (log((coalesce(col("__tn"), lit(0L)).cast("double") + alpha) /
            (col("__t_total") + denom)) -
            log((coalesce(col("__rn"), lit(0L)).cast("double") + alpha) /
              (col("__r_total") + denom)))).as("__term"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_features"),
        roundPortable(sum(col("__term")) / sum(col("__c")).cast("double"),
          roundDecimals).as("log_ratio"))
  }

  /** [[importanceLogRatio]] for the SELF-CORPUS shape — `raw` IS
    * `docs` and the target slice is a predicate over it (the
    * `q_dsir_*` gate shape: target = `lang = 'en'`). ONE corpus
    * tokenize+hash pass feeds everything: the per-(doc, pred, bucket)
    * count aggregate is pinned, and from it come the per-doc feature
    * counts (project), the raw LM (re-aggregate by bucket — integer
    * sums, bit-identical to [[fitHashedLm]] on `docs`) and the target
    * LM (re-aggregate of the pred-true slice). The three-pass spelling
    * (two LM fits + the doc pass) pays the corpus explode+md5 three
    * times for the same numbers. */
  def importanceLogRatioSelf(docs: DataFrame, idCol: String,
      textCol: String, targetPred: org.apache.spark.sql.Column,
      buckets: Int = 4096, alpha: Double = 1.0,
      salt: String = "dsir", roundDecimals: Int = 4): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    require(alpha > 0, s"alpha=$alpha must be positive (Laplace floor)")
    import graft.GraftSession.Pinnable
    // (id, pred) is functionally dependent on id, so grouping by
    // (id, pred, bucket) yields exactly the (id, bucket) counts
    val g = featureRows(docs.withColumn("__is_target", targetPred),
        textCol, buckets, salt, Seq(idCol, "__is_target"))
      .groupBy(col(idCol), col("__is_target"), col("bucket"))
      .agg(count(lit(1)).as("__c"))
      .pinScratch() // scratch ~ the hashed-feature aggregate the
                    // three-pass spelling shuffles anyway
    val docF = g.select(col(idCol), col("bucket"), col("__c"))
    val rCounts = g.groupBy(col("bucket")).agg(sum(col("__c")).as("n"))
    val tCounts = g.filter(col("__is_target"))
      .groupBy(col("bucket")).agg(sum(col("__c")).as("n"))
    scoreAgainstLms(docF, idCol, tCounts, rCounts, buckets, alpha,
      roundDecimals)
  }

  /** DSIR resampling: keep the k documents chosen by hash-priority
    * weighted sampling ([[Sampling.weightedSampleByHash]] — A-ES) with
    * weight `exp(log_ratio)`, i.e. inclusion probability tilted toward
    * target-looking documents. `exp` of the ROUNDED mean ratio keeps
    * the weight arithmetic identical across engines. Output: the kept
    * rows of `docs` plus `log_ratio`, plan shape
    * TakeOrderedAndProject — one scan, per-partition heaps, a k-sized
    * merge, no global sort. */
  def resampleByImportance(docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      raw: DataFrame, rawTextCol: String, k: Int,
      buckets: Int = 4096, alpha: Double = 1.0,
      salt: String = "dsir",
      targetLm: Option[DataFrame] = None,
      rawLm: Option[DataFrame] = None): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    // sample on the SKINNY (id, ratio) relation, then attach the full
    // rows to the k winners by a broadcast join — the corpus never
    // shuffles through the sample (joining text first would push the
    // whole corpus through an id exchange just to discard all but k
    // rows). At 500k docs this resample measured 73–74 s, under the 81 s
    // of scoring alone: the sample adds only its k-sized take.
    val kept = Sampling.weightedSampleByHash(
      importanceLogRatio(docs, idCol, textCol, target, targetTextCol,
        raw, rawTextCol, buckets, alpha, salt,
        targetLm = targetLm, rawLm = rawLm)
        .select(col(idCol), col("log_ratio"))
        .withColumn("__w", exp(col("log_ratio"))),
      idCol, "__w", k).drop("__w")
    docs.join(broadcast(kept), idCol)
  }

  /** [[resampleByImportance]] over the self-corpus ratio
    * ([[importanceLogRatioSelf]] — one corpus pass instead of three). */
  def resampleByImportanceSelf(docs: DataFrame, idCol: String,
      textCol: String, targetPred: org.apache.spark.sql.Column, k: Int,
      buckets: Int = 4096, alpha: Double = 1.0,
      salt: String = "dsir"): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val kept = Sampling.weightedSampleByHash(
      importanceLogRatioSelf(docs, idCol, textCol, targetPred, buckets,
        alpha, salt)
        .select(col(idCol), col("log_ratio"))
        .withColumn("__w", exp(col("log_ratio"))),
      idCol, "__w", k).drop("__w")
    docs.join(broadcast(kept), idCol)
  }
}
