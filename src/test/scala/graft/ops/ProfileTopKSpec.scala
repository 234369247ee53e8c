package graft.ops

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

class ProfileTopKSpec extends SparkSpec {

  private lazy val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  private def assertMatchesReference(
      df: DataFrame, topK: Int, cap: Long = Profile.DefaultCardinalityCap): Unit = {
    val onePass = Profile.profile(df, topK, cap)
    val reference = ProfileReference.profile(df, topK, cap)
    assert(onePass == reference, s"topK=$topK cap=$cap")
  }

  test("one-pass profile matches the two-action reference on orders") {
    assertMatchesReference(orders, topK = 5)
  }

  test("one-pass profile ranks null as a value, as the reference does") {
    import spark.implicits._
    val df = Seq(Some("a"), Some("a"), Some("a"), None, None, Some("b"))
      .toDF("cat")
    assertMatchesReference(df, topK = 3)
    assert(Profile.profile(df, topK = 3).head.topValues == Seq(("a", 3L), (null, 2L), ("b", 1L)))
  }

  test("one-pass profile matches the reference on edge cases") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf(_: String)
    val mixed = Seq(
      (Some("b"), Some("x"), Some(ts("2024-01-01 00:00:00")), Option.empty[String], 1),
      (Some("a"), Some("x"), Some(ts("2024-01-01 00:00:00")), None, 2),
      (Some("b"), None, Some(ts("2024-03-05 12:30:00")), None, 3),
      (Some("a"), None, None, None, 4),
      (Some("c"), Some("y"), Some(ts("2024-03-05 12:30:00")), None, 5)
    ).toDF("tied", "null_tied", "ts", "all_null", "n")
    // topK below, above, and with a cap every column but all_null exceeds
    for ((topK, cap) <- Seq((2, Profile.DefaultCardinalityCap), (10, Profile.DefaultCardinalityCap), (2, 2L)))
      assertMatchesReference(mixed, topK, cap)
    val byName = Profile.profile(mixed, topK = 2).map(p => p.name -> p).toMap
    assert(byName("tied").topValues == Seq(("a", 2L), ("b", 2L)))
    assert(byName("null_tied").topValues == Seq(("x", 2L), (null, 2L)))
    assert(byName("all_null").topValues == Seq((null, 5L)) && byName("all_null").nUnique == 1)
    assert(Profile.profile(mixed, topK = 2, cardinalityCap = 2L)
      .filter(_.topValues.nonEmpty).map(_.name) == Seq("all_null"))

    assertMatchesReference(mixed.limit(0), topK = 2)
    assert(Profile.profile(mixed.limit(0)).forall(p => p.nUnique == 0 && p.topValues.isEmpty))

    // -0.0 and 0.0 are one value to count_distinct; the string form must
    // not split them (they stay below the top-2 here, where the reference
    // would list them apart)
    val zeros = Seq(1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 0.0, -0.0).toDF("d")
    val distinct = zeros.agg(org.apache.spark.sql.functions.count_distinct($"d")).head.getLong(0)
    assert(distinct == 3L)
    assert(Profile.profile(zeros, topK = 2).head.nUnique == distinct)
    assertMatchesReference(zeros, topK = 2)
  }

  test("TopKFreq handles >64KB string values (length-prefixed serialization)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.top_k_freq
    val big = "x" * 70000
    val df = (Seq.fill(3)(big) ++ Seq("small")).toDF("x").repartition(2)
    val top = df.agg(top_k_freq(col("x"), 1).as("t"))
      .selectExpr("inline(t)").collect()
    assert(top.head.getString(0).length == 70000)
    assert(top.head.getLong(1) == 3L)
  }

  test("TopKFreq stays exact under partial/merge across partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.top_k_freq
    val df = (1 to 1000).map(i => s"v${i % 7}").toDF("x").repartition(8)
    val top = df.agg(top_k_freq(col("x"), 3).as("t"))
      .selectExpr("inline(t)")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // 1000 rows over 7 values: v1..v6 appear 143, v0 appears 142
    assert(top.length == 3)
    assert(top.head._2 == 143L)
    assert(top.map(_._2).sum == 429L)
  }

  test("TopKFreq space-saving eviction keeps heavy hitters under tiny capacity") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.top_k_freq
    // 500 singletons + one value appearing 200 times; capacity 16
    val data = (1 to 500).map(i => s"rare$i") ++ Seq.fill(200)("heavy")
    val df = scala.util.Random.shuffle(data).toDF("x").repartition(4)
    val top = df.agg(top_k_freq(col("x"), 1, capacity = 16).as("t"))
      .selectExpr("inline(t)")
      .collect().map(r => r.getString(0))
    assert(top.head == "heavy")
  }

  test("TopKFreq eviction bound is per-buffer: a heavy group's bound can't corrupt a light one") {
    import scala.collection.mutable
    import graft.functions.TopKFreq
    // One expression instance serving two buffers (grouped aggregation).
    val agg = TopKFreq(org.apache.spark.sql.catalyst.expressions.Literal("x"),
      k = 4, capacity = 4)
    // Heavy buffer: force an eviction at count 50 → caches a HIGH bound.
    val heavy = agg.createAggregationBuffer()
    agg.merge(heavy, mutable.HashMap("a" -> 100L, "b" -> 80L, "c" -> 60L, "d" -> 50L))
    agg.merge(heavy, mutable.HashMap("e" -> 1L)) // evicts d(50): e = 51
    assert(heavy("e") == 51L)

    // Light buffer whose true minimum is the LAST key in iteration order,
    // so a stale-bound early stop (which grabs the first entry ≤ bound)
    // would pick a wrong victim and inflate the newcomer.
    val lightKeys = mutable.HashMap(Seq("p", "q", "r", "s").map(_ -> 0L): _*)
      .keys.toSeq // this instance's deterministic iteration order
    val light = agg.createAggregationBuffer()
    agg.merge(light, mutable.HashMap(
      lightKeys.zipWithIndex.map { case (key, i) => key -> (10L - i) }: _*))
    val trueMin = 10L - (lightKeys.length - 1) // last-iterated key's count = 7
    agg.merge(light, mutable.HashMap("z" -> 2L))
    assert(light("z") == trueMin + 2L,
      s"eviction used a stale cross-buffer bound: ${light.toMap}")
  }
}
