package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.GraftFunctions._
import graft.functions.ReferenceHofs.simhash64HOF

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(2.0f, 0.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 0.0f)) // zero vector
  ).toDF("id", "v")

  test("cosine_similarity: identity, orthogonality, scale-invariance, zero-norm") {
    val q = array(lit(1.0f), lit(0.0f), lit(0.0f))
    val out = vecs.select(col("id"), cosine_similarity(col("v"), q).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 1.0)
    assert(out(2L) == 0.0)
    assert(out(3L) == 1.0) // scale-invariant
    assert(out(4L) == 0.0) // zero norm → 0.0, not NaN
  }

  test("dot_product matches hand computation") {
    val q = array(lit(2.0f), lit(3.0f), lit(4.0f))
    val out = vecs.filter(col("id") === 1).select(dot_product(col("v"), q)).head.getDouble(0)
    assert(out == 2.0)
  }

  test("SQL registration exposes the native expressions") {
    GraftFunctions.register(spark)
    vecs.createOrReplaceTempView("v")
    val r = spark.sql(
      "SELECT cosine_similarity(a.v, b.v) FROM v a JOIN v b ON a.id=1 AND b.id=3")
      .head.getDouble(0)
    assert(r == 1.0)
    // the text-dedup kernels register too, with literal int args
    val row = spark.sql(
      """SELECT word_shingles('a b c d', 3) AS sh,
                size(minhash_signature(word_shingles('a b c d', 3), 16)) AS k,
                simhash64(array('a','b')) AS h1,
                simhash64_portable(array('a','b')) AS h2""").head
    assert(row.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(row.getInt(1) == 16)
    assert(row.getLong(2) != row.getLong(3)) // different hash families
    // optional args are honored, not dropped; bad arity/args fail loudly
    val bits30 = spark.sql("SELECT simhash64_portable(array('a','b'), 30)").head.getLong(0)
    assert(bits30 >> 30 == 0L && bits30 != row.getLong(3))
    assert(intercept[Exception] { spark.sql("SELECT simhash64(array('a'), 2)").head }
      .getMessage.contains("argument"))
    assert(intercept[Exception] {
      spark.sql("SELECT word_shingles('a b', CAST(rand() * 3 AS INT))").head
    }.getMessage.contains("literal"))
    // the bounded top-k aggregate registers as a SQL aggregate
    val topk = spark.sql(
      """SELECT top_k_by_score(id, score, 2) AS t FROM VALUES
           (1L, 0.5D), (2L, 0.9D), (3L, 0.7D) AS s(id, score)""")
      .head.getSeq[org.apache.spark.sql.Row](0)
      .map(e => (e.getLong(0), e.getDouble(1)))
    assert(topk == Seq((2L, 0.9), (3L, 0.7)))
  }

  test("simhash64 is deterministic and separates disjoint token sets") {
    val df = Seq(
      ("a", "alpha beta gamma delta"),
      ("b", "alpha beta gamma delta"),
      ("c", "zebra yak xylophone walrus vulture unicorn")
    ).toDF("id", "text")
    val out = df.select(col("id"), simhash64(split(col("text"), " ")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("a") == out("b"))
    val dist = df.filter(col("id") === "a")
      .select(hamming64(lit(out("a")), lit(out("c")))).head.getInt(0)
    assert(dist > 8) // unrelated texts land far apart
  }

  test("native simhash64 agrees bit-for-bit with the HOF reference form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50)
    val both = docs.select(
      simhash64(split(col("text"), " ")).as("native"),
      simhash64HOF(split(col("text"), " ")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("roundPortable matches decimal half-up away from boundaries") {
    val df = Seq(1.23456789, 0.5, 2.675).toDF("x")
    val out = df.select(roundPortable(col("x"), 4)).collect().map(_.getDouble(0))
    assert(out(0) == 1.2346)
    assert(out(1) == 0.5)
  }
}
