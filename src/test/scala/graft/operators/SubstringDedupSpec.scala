package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{GraftFunctions, ReferenceHofs}

class SubstringDedupSpec extends SparkSpec {

  private def run(rows: Seq[(Long, String)], minTokens: Int) = {
    import spark.implicits._
    SubstringDedup.dedupSubstrings(rows.toDF("doc_id", "text"),
      "doc_id", "text", minTokens)
  }

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap

  test("native window keys ≡ HOF spelling (incl. short arrays and null elements)") {
    import spark.implicits._
    val df = Seq(
      Seq("a", "b", "c", "d", "e"),
      Seq("a", "b"),
      Seq("x", null, "y", "z"),
      Seq.empty[String]).toDF("ts")
    val got = df.select(
      GraftFunctions.substring_window_keys(col("ts"), 3).as("n"),
      ReferenceHofs.substringWindowKeysHOF(col("ts"), 3).as("h"))
      .collect()
    got.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
      s"native ${r.getSeq[Long](0)} != hof ${r.getSeq[Long](1)}"))
  }

  test("a duplicated span longer than the window is cut whole from the later doc") {
    // doc 1: u1..u3 SPAN(8 tokens) t1..t3 ; doc 2: v1 SPAN v2 v3 — with
    // minTokens=5, the 8-token span yields 4 losing windows in doc 2
    // whose union marks exactly the 8 span tokens
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val out = asMap(run(Seq(
      (1L, s"u1 u2 u3 $span t1 t2 t3"),
      (2L, s"v1 $span v2 v3")), minTokens = 5))
    assert(out(1L) == ((s"u1 u2 u3 $span t1 t2 t3", 14L, 0L)))
    assert(out(2L) == (("v1 v2 v3", 3L, 8L)))
  }

  test("corpus order decides the winner; a fully-duplicated document drops out") {
    val text = "w1 w2 w3 w4 w5 w6"
    val out = asMap(run(Seq((3L, text), (9L, text)), minTokens = 6))
    assert(out(3L) == ((text, 6L, 0L)))
    assert(!out.contains(9L))
  }

  test("within-document repeats lose to their own earlier occurrence") {
    // "a b c d a b c d" with minTokens=4: window at pos 4 repeats pos 0
    val out = asMap(run(Seq((1L, "a b c d a b c d")), minTokens = 4))
    assert(out(1L) == (("a b c d", 4L, 4L)))
  }

  test("documents shorter than minTokens carry no windows and survive verbatim") {
    val out = asMap(run(Seq(
      (1L, "tiny doc"),
      (2L, "tiny doc")), minTokens = 5))
    assert(out(1L) == (("tiny doc", 2L, 0L)))
    assert(out(2L) == (("tiny doc", 2L, 0L)))
  }

  test("null text drops out; whitespace runs tokenize like the portable split") {
    val out = run(Seq(
      (1L, "a  b\tc d e"),
      (2L, null: String)), minTokens = 3).collect()
    assert(out.length == 1)
    assert(out(0).getString(1) == "a b c d e")
  }

  test("kept set is partitioning-independent") {
    import spark.implicits._
    val rows = (0L until 60L).map { i =>
      // every third doc repeats doc (i-3)'s text → dup spans everywhere
      val base = if (i % 3 == 2) i - 3 else i
      (i, (0 until 12).map(j => s"t${base}_${j / 4}_$j").mkString(" "))
    }
    val a = SubstringDedup.dedupSubstrings(
      rows.toDF("doc_id", "text"), "doc_id", "text", 6)
      .orderBy("doc_id").collect().toSeq
    val b = SubstringDedup.dedupSubstrings(
      rows.toDF("doc_id", "text").repartition(7, col("text")),
      "doc_id", "text", 6)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("plan: no window, no nested-loop join; keys ride a native projection") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f"), (2L, "c d e f g h")).toDF("doc_id", "text")
    val out = SubstringDedup.dedupSubstrings(df, "doc_id", "text", 4)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"corpus window in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"non-equi join in plan:\n$plan")
    assert(plan.contains("substring_window_keys"),
      s"native expression missing from plan:\n$plan")
  }
}
