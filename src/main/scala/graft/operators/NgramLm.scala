package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession.Pinnable
import graft.functions.GraftFunctions.roundPortable

/** Bigram language-model quality scoring — the CCNet-style curation
  * signal (Wenzek et al., "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data", LREC 2020): fit token statistics on a
  * REFERENCE corpus once, score every candidate document by its average
  * per-token log-probability, filter on the score. Complements the
  * heuristic quality features in [[graft.functions.TextAnalysis]] —
  * heuristics catch boilerplate shape, the LM catches text that is
  * simply unlike the reference distribution (wrong register, gibberish
  * that passes stopword ratios, machine-generated word salad).
  *
  * Model: stupid backoff (Brants et al., "Large Language Models in
  * Machine Translation", EMNLP 2007 — the standard web-scale choice
  * precisely because it needs NO discounting normalization, so counts
  * compose distributively):
  *
  *   P(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})   if the bigram is known
  *                    = alpha * c(w_i) / total          else if w_i is known
  *                    = alpha / total                   else (OOV floor)
  *
  * Physical shape, built for the fit-once/score-many regime at 100 TB:
  *  - [[fit]] is two hash aggregates over exploded tokens/bigram pairs
  *    — shuffles carry VOCABULARY rows (Heaps-law bounded, millions at
  *    corpus scale), never the corpus; bigram pairs come from a pure
  *    array projection (token array zipped with itself shifted one),
  *    no positional self-join.
  *  - [[scoreAvgLogProb]] is the pair projection + three equi-joins
  *    against the (vocabulary-sized) count relations + one per-doc
  *    aggregate. AQE broadcasts the count sides while they fit and
  *    shuffle-joins past that — both fine; the candidate corpus itself
  *    crosses exactly one exchange (the per-doc aggregate).
  *  - `maxVocab` prunes the model to the top-K unigrams (deterministic
  *    count-desc, word-asc order) with bigrams restricted to the kept
  *    vocabulary — the classic size/quality trade when even the
  *    vocabulary must be bounded; pruned words score through the
  *    backoff floor. `total` keeps the FULL token mass either way, so
  *    pruning never inflates backoff probabilities.
  *
  * Tokenization is the repo's portable single-space spelling (the
  * q_text_token_counts contract) so the DuckDB oracle reproduces every
  * count bit-for-bit; scores are `roundPortable`d at 4 decimals like
  * every float the hash gate compares.
  */
object NgramLm {

  /** Fitted model: `unigrams` (w, c), `bigrams` (w1, w2, c) — both
    * pinned vocabulary-sized relations — and the TOTAL token count of
    * the (unpruned) training corpus. */
  final case class BigramLm(unigrams: DataFrame, bigrams: DataFrame,
      totalTokens: Long)

  /** (id, w1, w2) — one row per adjacent token pair, as a pure
    * projection: the token array zipped against itself shifted by one.
    * Docs with fewer than two tokens contribute no rows. */
  private def bigramPairs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = split(col(textCol), " ")
    val n = greatest(size(t) - 1, lit(0))
    docs.select(col(idCol).as("__doc"),
        explode(zip_with(slice(t, lit(1), n), slice(t, lit(2), n),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col("__doc"), col("__bg.w1"), col("__bg.w2"))
  }

  /** Fit the bigram model on a reference corpus. Runs once per corpus
    * snapshot (the [[graft.operators.TextDedup.saveMinhashIndex]]
    * cadence); every later batch pays only its own scoring. */
  def fit(docs: DataFrame, idCol: String, textCol: String,
      maxVocab: Int = Int.MaxValue): BigramLm = {
    val words = docs.select(explode(split(col(textCol), " ")).as("w"))
    // pin the UNPRUNED unigram relation first: both the total token mass
    // and the (possibly pruned) vocabulary derive from it, so the corpus
    // is tokenized exactly twice (unigram + bigram aggregate) — a
    // words.count() here would be a third full corpus scan for a number
    // the vocabulary-sized aggregate already carries
    val uniAll = words.groupBy("w").agg(count(lit(1)).as("c")).pinScratch()
    val total = uniAll.agg(sum("c")).head match {
      case r if r.isNullAt(0) => 0L // empty corpus
      case r => r.getLong(0)
    }
    val pinnedUni =
      if (maxVocab == Int.MaxValue) uniAll
      else uniAll.orderBy(col("c").desc, col("w")).limit(maxVocab)
        .repartition(col("w")) // TakeOrdered funnels to 1 partition; respread
        .pinScratch()
    val bi = bigramPairs(docs, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val biKept =
      if (maxVocab == Int.MaxValue) bi
      else bi
        .join(pinnedUni.select(col("w").as("w1")), Seq("w1"), "left_semi")
        .join(pinnedUni.select(col("w").as("w2")), Seq("w2"), "left_semi")
    BigramLm(pinnedUni, biKept.pinScratch(), total)
  }

  /** Score each document: (idCol, n_bigrams, avg_logprob) where
    * avg_logprob is the mean base-10 log-probability over the doc's
    * adjacent token pairs under stupid backoff, rounded portably at 4
    * decimals — the monotone filter signal (perplexity = 10^-avg).
    * Documents with fewer than two tokens have nothing to score and
    * emit no row. */
  def scoreAvgLogProb(docs: DataFrame, idCol: String, textCol: String,
      lm: BigramLm, alpha: Double = 0.4): DataFrame = {
    val pairs = bigramPairs(docs, idCol, textCol)
    val bi = lm.bigrams.select(col("w1"), col("w2"), col("c").as("__c_bi"))
    val uniPrev = lm.unigrams.select(col("w").as("w1"), col("c").as("__c_prev"))
    val uniCur = lm.unigrams.select(col("w").as("w2"), col("c").as("__c_cur"))
    val total = lit(lm.totalTokens.toDouble)
    pairs
      .join(bi, Seq("w1", "w2"), "left")
      .join(uniPrev, Seq("w1"), "left")
      .join(uniCur, Seq("w2"), "left")
      .withColumn("__p",
        when(col("__c_bi").isNotNull,
          col("__c_bi").cast("double") / col("__c_prev"))
          .when(col("__c_cur").isNotNull,
            lit(alpha) * col("__c_cur") / total)
          .otherwise(lit(alpha) / total))
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_bigrams"),
        roundPortable(avg(log10(col("__p"))), 4).as("avg_logprob"))
      .withColumnRenamed("__doc", idCol)
  }
}
