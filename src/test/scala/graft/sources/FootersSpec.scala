package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec

/** The driver-side counts equal what a Spark scan of the same directory
  * counts, on the layouts the pipeline's artifacts can take. */
class FootersSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory("footers").resolve(name).toString

  private def sparkParquetRows(dir: String) = spark.read.parquet(dir).count()

  private def sparkCsvRows(dir: String) =
    spark.read.option("header", "true").option("multiLine", "true").csv(dir).count()

  test("parquet footer sum equals a Spark count: multi-file, empty part files, zero rows") {
    val multi = tmp("multi")
    spark.range(0, 1000).repartition(4).write.parquet(multi)
    assert(Footers.dataFiles(spark, multi).size == 4)
    assert(Footers.parquetRows(spark, multi) == 1000)
    assert(Footers.parquetRows(spark, multi) == sparkParquetRows(multi))

    // a zero-row part file beside data files, and a zero-byte file
    val zero = tmp("zero")
    spark.range(0, 0).write.parquet(zero)
    assert(Footers.parquetRows(spark, zero) == 0)
    assert(sparkParquetRows(zero) == 0)
    val emptyPart = Footers.dataFiles(spark, zero).head
    Files.copy(Paths.get(emptyPart.toUri), Paths.get(multi, "part-99999-empty.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.write(Paths.get(multi, "part-99998-zero-bytes.parquet"), Array.emptyByteArray)
    assert(Footers.parquetRows(spark, multi) == 1000)
    assert(Footers.parquetRows(spark, multi) == sparkParquetRows(multi))
  }

  test("parquet schema comes from the writer's footer") {
    val dir = tmp("schema")
    val df = Seq((1L, "a", 2.0)).toDF("id", "name", "score")
    df.write.parquet(dir)
    val fields = (s: org.apache.spark.sql.types.StructType) => s.fields.map(f => f.name -> f.dataType).toSeq
    assert(Footers.parquetSchema(spark, dir).map(fields).contains(fields(df.schema)))
    assert(Footers.parquetSchema(spark, dir).map(fields)
      .contains(fields(spark.read.parquet(dir).schema)))
  }

  test("a truncated parquet file fails the footer count") {
    val dir = tmp("trunc")
    spark.range(0, 100).coalesce(1).write.parquet(dir)
    val f = Paths.get(Footers.dataFiles(spark, dir).head.toUri)
    val bytes = Files.readAllBytes(f)
    Files.write(f, bytes.take(bytes.length - 20))
    intercept[Exception](Footers.parquetRows(spark, dir))
  }

  test("driver CSV count equals a Spark multiLine count") {
    val cases = Seq(
      "newlines" -> Seq(("a", "line1\nline2"), ("b", "x"), ("c", "\"quoted\"\nmore")).toDF("k", "v"),
      "empty-vs-null" -> Seq(("a", ""), ("b", null), (null, ""), (null, null)).toDF("k", "v"),
      "one-column-nulls" -> Seq(Some("a"), None, Some(""), None).toDF("v"),
      "header-only" -> Seq(("a", "b")).toDF("k", "v").limit(0),
      "multi-part" -> spark.range(0, 50).selectExpr("id", "concat('v', id, '\\n', id) AS v")
        .repartition(3))
    cases.foreach { case (name, df) =>
      val dir = tmp(name)
      df.write.option("header", "true").csv(dir)
      assert(Footers.csvRows(spark, dir) == sparkCsvRows(dir), name)
    }
    val headerOnly = tmp("hand-written")
    Files.createDirectories(Paths.get(headerOnly))
    Files.write(Paths.get(headerOnly, "part-00000.csv"), "k,v\n".getBytes("UTF-8"))
    Files.write(Paths.get(headerOnly, "part-00001.csv"),
      "k,v\na,\"b\nc\"\n".getBytes("UTF-8"))
    assert(Footers.csvRows(spark, headerOnly) == 1)
    assert(sparkCsvRows(headerOnly) == 1)
  }
}
