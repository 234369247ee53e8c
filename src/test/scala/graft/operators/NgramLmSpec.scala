package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  test("stupid backoff: hand-computed probabilities, all three branches") {
    // train corpus "a b a b": uni a:2 b:2, total 4; bigrams (a,b):2 (b,a):1
    val lm = NgramLm.fit(Seq((0L, "a b a b")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(lm.totalTokens == 4L)
    assert(lm.unigrams.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      == Map("a" -> 2L, "b" -> 2L))
    assert(lm.bigrams.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      == Map(("a", "b") -> 2L, ("b", "a") -> 1L))
    // score "a b x": (a,b) known bigram → 2/2 = 1 → log10 = 0;
    // (b,x) unknown bigram, x OOV → 0.4/4 = 0.1 → log10 = -1 ⇒ avg -0.5
    val out = NgramLm.scoreAvgLogProb(
        Seq((1L, "a b x")).toDF("doc_id", "text"), "doc_id", "text", lm)
      .collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 2L)
    assert(out.head.getDouble(2) == -0.5)
    // the backoff middle branch: (x→a)? (a known unigram, bigram unknown)
    // doc "x a": pair (x,a) → 0.4 * 2/4 = 0.2 → log10(0.2)
    val mid = NgramLm.scoreAvgLogProb(
        Seq((2L, "x a")).toDF("doc_id", "text"), "doc_id", "text", lm)
      .collect().head
    assert(mid.getLong(1) == 1L)
    assert(math.abs(mid.getDouble(2) - math.log10(0.2)) < 1e-4)
  }

  test("reference-like text outscores word salad; sub-2-token docs emit no row") {
    val train = (0L until 40L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog near the river"))
      .toDF("doc_id", "text")
    val lm = NgramLm.fit(train, "doc_id", "text")
    val scored = NgramLm.scoreAvgLogProb(Seq(
        (100L, "the quick brown fox jumps over the lazy dog"),
        (101L, "zxq vbn qwerty plm okn ijb uhb ygv tfc"),
        (102L, "solo")).toDF("doc_id", "text"),
      "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored.keySet == Set(100L, 101L)) // 102 has nothing to score
    assert(scored(100L) > scored(101L),
      s"in-distribution text must outscore word salad: $scored")
  }

  test("maxVocab prunes deterministically; pruned words take the backoff floor") {
    // counts: a:3, b:2, c:1 → maxVocab=2 keeps {a, b}
    val lm = NgramLm.fit(Seq((0L, "a a a b b c")).toDF("doc_id", "text"),
      "doc_id", "text", maxVocab = 2)
    assert(lm.totalTokens == 6L) // full token mass survives pruning
    assert(lm.unigrams.select("w").as[String].collect().toSet == Set("a", "b"))
    // bigrams touching the pruned word are gone
    assert(!lm.bigrams.collect().exists(r =>
      r.getString(0) == "c" || r.getString(1) == "c"))
    // "b c": bigram (b,c) pruned, c pruned → floor 0.4/6
    val out = NgramLm.scoreAvgLogProb(
        Seq((1L, "b c")).toDF("doc_id", "text"), "doc_id", "text", lm)
      .collect().head
    assert(math.abs(out.getDouble(2) - math.log10(0.4 / 6)) < 1e-4)
  }

  test("the gated query shape: fit on evens, score odds, oracle-style determinism") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lm = NgramLm.fit(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val a = NgramLm.scoreAvgLogProb(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", lm)
    val b = NgramLm.scoreAvgLogProb(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", lm)
    val rowsA = a.orderBy("doc_id").collect().toSeq
    assert(rowsA == b.orderBy("doc_id").collect().toSeq) // deterministic
    assert(rowsA.nonEmpty)
    // every scored doc got a finite, negative-or-zero mean logprob
    assert(rowsA.forall(r => r.getDouble(2) <= 0.0 && !r.getDouble(2).isNaN))
  }
}
