package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class QualityClassifierSpec extends SparkSpec {

  import QualityClassifier.Model

  // linearly separable fixture: "good" docs draw from one vocabulary,
  // "bad" docs from a disjoint one — hashed-feature LR must separate it
  private lazy val labeled = {
    import spark.implicits._
    (0L until 120L).map { i =>
      val good = i % 2 == 0
      val vocab = if (good) "clean" else "spam"
      val text = (0 until 20).map(j => s"${vocab}_${(i + j) % 7}").mkString(" ")
      (i, text, if (good) 1.0 else 0.0)
    }.toDF("doc_id", "text", "y")
  }

  test("fit separates a separable corpus; scores are probabilities") {
    val m = QualityClassifier.fit(labeled, "text", "y", buckets = 64)
    val scored = QualityClassifier.score(labeled, "text", m)
      .select(col("y"), col("p_good")).collect()
    val acc = scored.count(r =>
      (r.getDouble(1) >= 0.5) == (r.getDouble(0) == 1.0)).toDouble / scored.length
    assert(acc >= 0.95, s"train accuracy $acc")
    scored.foreach(r =>
      assert(r.getDouble(1) > 0.0 && r.getDouble(1) < 1.0))
  }

  test("score matches the hand-computed sigmoid for a hand-built model") {
    import spark.implicits._
    // 4 buckets; token 'a' hashes to some bucket b — recompute it here
    // exactly as the operator does and check the closed-form score
    val m = Model(Array(0.5, -1.0, 2.0, 0.25), intercept = 0.1, salt = "qc")
    val df = Seq((1L, "a a b")).toDF("doc_id", "text")
    val got = QualityClassifier.score(df, "text", m)
      .select("p_good").head().getDouble(0)
    val bOf = Seq("a", "a", "b").map { t =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$t/qc".getBytes).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(15), 16) % 4).toInt
    }
    val z = bOf.map(m.weights(_)).sum / 3.0 + m.intercept
    val want = 1.0 / (1.0 + math.exp(-z))
    assert(math.abs(got - want) < 1e-12, s"$got vs $want")
  }

  test("null text scores null; empty text scores the prior") {
    import spark.implicits._
    val m = Model(Array(1.0, 1.0), intercept = -0.3, salt = "qc")
    val df = Seq((1L, null: String), (2L, ""), (3L, " \t ")).toDF("doc_id", "text")
    val got = QualityClassifier.score(df, "text", m)
      .select("doc_id", "p_good").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L).isEmpty)
    val prior = 1.0 / (1.0 + math.exp(0.3))
    assert(math.abs(got(2L).get.asInstanceOf[Double] - prior) < 1e-12)
    assert(math.abs(got(3L).get.asInstanceOf[Double] - prior) < 1e-12)
  }

  test("model relation round-trips bit-for-bit") {
    val m = Model(Array(0.125, -2.5, 3.75, 1.0 / 3.0), intercept = 0.0625, salt = "qc")
    val rows = QualityClassifier.modelRelation(spark, m)
      .collect().map(r => r.getInt(0) -> r.getDouble(1))
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    assert(bits(rows.filter(_._1 >= 0).sortBy(_._1).map(_._2).toSeq) ==
      bits(m.weights.toSeq))
    assert(bits(rows.filter(_._1 == -1).map(_._2).toSeq) == bits(Seq(m.intercept)))
  }

  test("a fitted model's relation is bucket-dense with one intercept") {
    // the oracle rebuilds the weight vector by sorted bucket index with
    // `buckets = rows` as the scoring modulus, so a missing or duplicated
    // bucket row would shift every later weight
    val m = QualityClassifier.fit(labeled, "text", "y", buckets = 64)
    val buckets = QualityClassifier.modelRelation(spark, m)
      .select("bucket").collect().map(_.getInt(0)).toSeq
    assert(buckets.sorted == (-1 until 64))
  }

  test("array_bincount equals the aggregate/zip_with fold spelling") {
    import graft.functions.GraftFunctions.array_bincount
    import spark.implicits._
    // buckets derived the same way fit does, plus null/out-of-range
    // elements that must count nowhere under BOTH spellings
    val n = 16
    val df = Seq(
      Seq[Integer](0, 3, 3, 15, 7, 3),
      Seq[Integer](null, 5, 5),
      Seq[Integer](),
      Seq[Integer](2, 2, 2, 2)).toDF("bs")
    val bSeq = sequence(lit(0), lit(n - 1))
    val fold = aggregate(col("bs"), transform(bSeq, _ => lit(0)),
      (acc, v) => zip_with(acc, bSeq,
        (c, b) => c + when(v === b, 1).otherwise(0)))
    val rows = df.select(array_bincount(col("bs"), n).as("fast"),
      fold.as("slow")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1),
        s"bincount mismatch: ${r.getSeq[Int](0)} vs ${r.getSeq[Int](1)}")
    }
    // the normalized variant equals transform(counts, c -> c / n) with
    // n = greatest(size(xs), 1) — bit-for-bit (same cast, same divide)
    val n2 = greatest(size(col("bs")), lit(1)).cast("double")
    val freqRows = df.select(
      graft.functions.GraftFunctions.array_bincount_freq(col("bs"), n).as("fast"),
      transform(fold, c => c / n2).as("slow")).collect()
    freqRows.foreach { r =>
      assert(r.getSeq[Double](0) == r.getSeq[Double](1),
        s"freq mismatch: ${r.getSeq[Double](0)} vs ${r.getSeq[Double](1)}")
    }
  }

  test("scoring plan is map-only: no exchange, no join, no aggregate node") {
    import spark.implicits._
    val m = Model(Array.fill(8)(0.1), intercept = 0.0, salt = "qc")
    val df = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    val out = QualityClassifier.score(df, "text", m)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join") &&
      !plan.contains("HashAggregate"),
      s"scoring plan not map-only:\n$plan")
  }
}
