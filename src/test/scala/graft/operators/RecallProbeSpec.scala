package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class RecallProbeSpec extends SparkSpec {
  import spark.implicits._

  private def gauss(i: Int, shift: Double, dim: Int = 8): Seq[Float] = {
    val r = new scala.util.Random(i)
    Seq.fill(dim)(r.nextGaussian().toFloat)
      .updated(0, (r.nextGaussian() + shift).toFloat)
  }

  private def overallRecall(df: org.apache.spark.sql.DataFrame): Double = {
    val agg = df.agg(sum("n_found"), sum("n_true")).head()
    agg.getLong(0).toDouble / agg.getLong(1)
  }

  test("sampleByMd5 is deterministic, bounded, and order-stable across partitionings") {
    val vecs = (0L until 500L).map(i => (i, gauss(i.toInt, 0.0))).toDF("id", "vec")
    val a = RecallProbe.sampleByMd5(vecs, "id", 25, "s").collect().map(_.getLong(0)).toSeq
    val b = RecallProbe.sampleByMd5(vecs.repartition(7), "id", 25, "s")
      .collect().map(_.getLong(0)).toSeq
    assert(a.size == 25 && a == b,
      "the sample must not depend on the physical partitioning")
    // a different salt draws a genuinely different sample
    val c = RecallProbe.sampleByMd5(vecs, "id", 25, "t").collect().map(_.getLong(0)).toSeq
    assert(a != c)
  }

  test("IVF probe: exhaustive probing reads recall 1.0 on every row") {
    val vecs = (0L until 120L).map(i => (i, gauss(i.toInt, (i % 4) * 10.0)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("probe_exhaustive").toString
    Similarity.saveIvfIndex(vecs, "vec_id", "embedding", dir,
      nCentroids = 4, maxIter = 5)
    val rows = RecallProbe.ivfIndexRecall(spark, dir, k = 3, nProbe = 4,
      nQueries = 8).collect()
    assert(rows.length == 8)
    assert(rows.forall(r => r.getAs[Double]("recall") == 1.0 &&
      r.getAs[Int]("n_true") == 3 && r.getAs[Int]("n_found") == 3))
  }

  test("IVF probe measures append drift and the refit's recovery — the refit-cadence signal") {
    // The operational story the probe exists for, planted
    // deterministically: four DIRECTIONAL base clusters (along
    // orthogonal axes — cosine-separated, so a query's true top-k
    // lives entirely inside its own cluster) fit 4 centroids; the
    // appended batch points along the DIAGONAL between axes 1 and 2,
    // straddling the frozen decision boundary, so per-vector noise
    // splits it ~half-and-half across those two cells. A drifted query
    // at nProbe = 1 probes one of the two and structurally misses the
    // true neighbors in the other — realized recall sags toward 0.5. A
    // refit (re-sized to the cluster count the corpus now has)
    // dedicates a centroid to the diagonal and the SAME probe must
    // read the recovery. Seeded end-to-end, deterministic.
    def cvec(i: Int, axisA: Int, axisB: Int): Seq[Float] = {
      val r = new scala.util.Random(i)
      val mag = if (axisA == axisB) 10.0 else 10.0 / math.sqrt(2)
      Seq.tabulate(8) { j =>
        ((if (j == axisA || j == axisB) mag else 0.0) +
          r.nextGaussian() * 0.5).toFloat
      }
    }
    val base = (0L until 200L).map(i =>
      (i, cvec(i.toInt, (i % 4).toInt, (i % 4).toInt))).toDF("vec_id", "embedding")
    // same size as each base cluster: a LARGER drifted mass would earn
    // two centroids from the refit and split across them, which is a
    // capacity question (raise nCentroids), not the drift this plants
    val drifted = (1000L until 1050L).map(i => (i, cvec(i.toInt, 1, 2)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("probe_drift").toString
    Similarity.saveIvfIndex(base, "vec_id", "embedding", dir,
      nCentroids = 4, maxIter = 10)
    Similarity.appendToIvfIndex(drifted, "vec_id", "embedding", dir,
      commitTag = "drift")
    // probe with drifted-region queries (what a crawl loop's fresh
    // batches look like) against the index's own eval slice
    val queries = (1000L until 1010L).map(i =>
      (i, cvec(i.toInt, 1, 2))).toDF("probe_query_id", "__qvec")
    def probe(): Double = {
      val idx = Similarity.loadIvfIndex(spark, dir)
      overallRecall(RecallProbe.ivfRecallAtK(idx,
        idx.cells.select(col("id"), col("vec")),
        queries, "probe_query_id", "__qvec", k = 10, nProbe = 1))
    }
    val sagged = probe()
    assert(sagged < 0.85, s"fixture failed to drift: recall $sagged")
    // the refit also RE-SIZES: the corpus now holds five clusters, so
    // keeping the four-cell family would force two clusters to share
    Similarity.refitIvfIndex(spark, dir, nCentroids = 5, maxIter = 20)
    val recovered = probe()
    assert(recovered > sagged + 0.1,
      s"refit must measurably restore probed recall: $sagged -> $recovered")
    assert(recovered > 0.95,
      s"post-refit the drifted cluster owns a cell: recall $recovered")
  }

  test("embedding probe measures an underperforming family and the refit's recovery") {
    // The SRP twin: an index whose table count is far below what
    // srpTablesFor would size for its bits/threshold has a per-pair
    // recall of p^bits per table — the probe must READ that deficit,
    // and after a refit (tables re-derived from the meta-persisted
    // threshold) read the recovery. Planted near-dup pairs (nudged
    // copies) make ground truth non-empty at every seed.
    val indexVecs = (0L until 100L).map(i => (i * 2, gauss(i.toInt, 0.0, dim = 16)))
      .toDF("vec_id", "embedding")
    // queries at cosine ≈ 0.91 to their planted index twin — NEAR the
    // 0.9 threshold, where a single table's per-pair recall is p^bits ≈
    // 0.3 (a nudged exact copy at cosine ≈ 0.9999 collides almost
    // always and would read 1.0 even from a crippled family)
    val batch = (0L until 40L).map { i =>
      val v = gauss(i.toInt, 0.0, dim = 16)
      val u = gauss(100000 + i.toInt, 0.0, dim = 16)
      (1001L + 2 * i, v.zip(u).map { case (a, b) => 0.91f * a + 0.4146f * b })
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("probe_srp").toString
    TextDedup.saveEmbeddingIndex(indexVecs, "vec_id", "embedding", dir,
      threshold = 0.9, bits = 8, tables = 1)
    def probe(): Double = overallRecall(
      RecallProbe.embeddingIndexRecall(spark, dir, batch, "vec_id", "embedding"))
    val sagged = probe()
    assert(sagged < 0.7, s"fixture failed to underperform: recall $sagged")
    // refit keeps bits, re-derives tables from the persisted 0.9 target
    TextDedup.refitEmbeddingIndex(spark, dir, bits = 8)
    val recovered = probe()
    assert(recovered > sagged + 0.2,
      s"refit must measurably restore probed recall: $sagged -> $recovered")
    assert(recovered > 0.85, s"re-sized tables must hit the target: $recovered")
  }
}
