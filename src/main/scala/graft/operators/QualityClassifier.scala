package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Learned quality filtering — the fastText-style classifier the
  * CCNet / GPT-3 / LLaMA data pipelines run after the rule-based pass
  * ([[Curation]], [[graft.functions.TextAnalysis.qualityScore]]):
  * logistic regression over hashed token-frequency features, fit on a
  * BOUNDED labeled sample (reference pages vs crawl noise — fitting is
  * sample-sized work at any corpus scale, exactly the
  * [[Similarity.kmeansCentroids]] posture), then scored over the whole
  * corpus as a pure map-side projection: the weight vector rides into
  * the plan as a `buckets`-sized literal (broadcast-by-construction,
  * like `NearestCentroids`' centroid matrix), per-document cost is one
  * md5 per token plus one array lookup, and NOTHING shuffles — the
  * 100 TB scoring pass is scan-bound.
  *
  * Features (the contract the oracle recomputes): per token `bucket =
  * portable md5 hash mod buckets` ([[Sharding.orderHash]] — the same
  * spelling every hashed relation in this repo uses), document vector =
  * L1-normalized bucket counts (`x_b = count_b / n_tokens`), so
  * `w·x = (Σ_tokens w_bucket(t)) / n` and the score is
  * `σ(w·x + intercept)`. Collisions are the point of hashed features
  * (Weinberger et al., ICML 2009) — they cost accuracy, never
  * correctness.
  *
  * The fit itself is spark.ml LogisticRegression (distributed L-BFGS)
  * over the hashed-feature arrays; like the k-means behind the IVF
  * index, the fitted coefficients are NOT portable arithmetic — so the
  * oracle pattern is the IVF/SemDeDup one: the model is SNAPSHOTTED
  * (every weight, full double precision) and the gate re-derives the
  * whole corpus-side scoring pass — tokenization, bucket hashing, the
  * normalized dot product and the sigmoid — from that snapshot.
  *
  * NULL text scores NULL (natural propagation — the caller decides
  * whether unscorable means drop); an EMPTY token array scores
  * `σ(intercept)` (the prior), divisor clamped to 1. */
object QualityClassifier {

  /** A fitted model: `weights(b)` = coefficient of hash bucket b. */
  case class Model(weights: Array[Double], intercept: Double, salt: String) {
    def buckets: Int = weights.length
    require(weights.nonEmpty, "empty weight vector")
  }

  private def toks(textCol: Column): Column =
    filter(split(textCol, GraftFunctions.WsRun), t => t =!= "")

  private def bucketOf(t: Column, buckets: Int, salt: String): Column =
    pmod(Sharding.orderHash(t, salt), lit(buckets.toLong)).cast("int")

  /** Fit on a labeled relation (`labelCol` ∈ {0.0, 1.0}). The dense
    * per-document count array costs O(n_tokens · buckets) comparisons —
    * fit-sample work only, never paid corpus-side; [[score]] is the
    * corpus path and touches each token once. */
  /** maxIter default: L-BFGS on a hashed-LR objective converges in a
    * few dozen iterations, and each iteration schedules jobs over the
    * (bounded, internally persisted) sample — on small fits the
    * iteration count is mostly scheduler overhead (~0.15 s/iteration
    * measured on the sf0.1 gate fixture; 35 ≈ 7 s fit, 10 ≈ 3.5 s).
    * The gate result is iteration-independent: the
    * oracle rescores whatever weights come out, and the spec's
    * separable-corpus accuracy bound holds at 35. */
  def fit(labeled: DataFrame, textCol: String, labelCol: String,
      buckets: Int = 256, maxIter: Int = 35, regParam: Double = 1e-4,
      salt: String = "qc", sampleRows: Int = 100000): Model = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.functions.array_to_vector
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    Seq(textCol, labelCol).foreach(c =>
      require(labeled.columns.contains(c), s"column $c absent"))
    val ts = toks(col(textCol))
    val bs = transform(ts, t => bucketOf(t, buckets, salt))
    // Native one-pass normalized histogram of the bucket array. The HOF
    // spelling (aggregate + zip_with fold, then a transform dividing by
    // the captured token count) paid twice: the fold re-walked the
    // buckets-wide accumulator per token, and the divide's lambda
    // re-evaluated the CAPTURED size(split(text)) once per bucket —
    // lambda bodies run per element, so the document re-tokenized 128
    // times. Same integer counts, same int→double cast before the same
    // IEEE divide (|bs| = |ts|), so the features are bit-identical
    // (QualityClassifierSpec asserts both equalities); the md5-per-token
    // transform is unchanged either way.
    val x = graft.functions.GraftFunctions.array_bincount_freq(bs, buckets)
    val feats = labeled
      .filter(col(textCol).isNotNull)
      .select(array_to_vector(x).as("features"),
        col(labelCol).cast("double").as("label"))
      .limit(sampleRows)
      // re-spread after the limit (the fitInput lesson): GlobalLimit
      // funnels the sample into one partition, single-threading L-BFGS
      .repartition(math.min(math.max(1,
        labeled.sparkSession.sparkContext.defaultParallelism), 8))
    val m = new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam)
      .setStandardization(false)
      .fit(feats)
    Model(m.coefficients.toArray, m.intercept, salt)
  }

  /** Score the corpus: adds `p_good` = σ(w·x + intercept). Map-only —
    * the plan is the scan plus one projection; weights are a plan
    * literal, tokens never leave the row. */
  def score(docs: DataFrame, textCol: String, model: Model,
      outCol: String = "p_good"): DataFrame = {
    require(docs.columns.contains(textCol), s"column $textCol absent")
    val wLit = lit(model.weights)
    val ts = toks(col(textCol))
    val dot = aggregate(ts, lit(0.0), (acc, t) =>
      acc + element_at(wLit, bucketOf(t, model.buckets, model.salt) + 1))
    val z = dot / greatest(size(ts), lit(1)) + lit(model.intercept)
    docs.withColumn(outCol, lit(1.0) / (lit(1.0) + exp(-z)))
  }

  /** The model as a relation — `(bucket, weight)` rows plus the
    * intercept at bucket −1 — for the snapshot the oracle reads back.
    * Full double precision: the oracle must score with the exact bits
    * the engine scored with. */
  def modelRelation(spark: org.apache.spark.sql.SparkSession,
      model: Model): DataFrame = {
    import spark.implicits._
    (model.weights.zipWithIndex
      .map { case (w, b) => (b, w) } :+ (-1, model.intercept))
      .toSeq.toDF("bucket", "weight")
  }
}
