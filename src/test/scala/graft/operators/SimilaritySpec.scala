package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("topKForVector: the query vector's own row ranks first with cosine 1.0") {
    val q = emb.filter(col("vec_id") === 7).select("embedding")
      .head.getSeq[Float](0)
    val top = Similarity.topKForVector(emb, "vec_id", "embedding", q, 5).collect()
    assert(top.head.getLong(0) == 7L)
    assert(top.head.getDouble(1) == 1.0)
    // scores are non-increasing
    val scores = top.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("topKForQueries returns k ranked rows per query") {
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val out = Similarity.topKForQueries(emb, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 4)
    val byQuery = out.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    byQuery.values.foreach { rows =>
      assert(rows.length == 4)
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3, 4))
      // rank 1 is the query itself (it is part of the corpus)
      val first = rows.find(_.getAs[Int]("rank") == 1).get
      assert(first.getAs[Long]("vec_id") == first.getAs[Long]("query_id"))
    }
  }

  test("ivfTopK: self-match guaranteed, recall beats single-cell floor") {
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = Similarity.topKForQueries(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    def run(useKMeans: Boolean): Set[(Long, Long)] =
      Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, nCentroids = 8, nProbe = 3,
          useKMeans = useKMeans)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val ivfSeed = run(useKMeans = false)
    val ivfKm = run(useKMeans = true)
    // query vector is in the corpus and lands in its own probed cell
    (0L until 5L).foreach { q =>
      assert(ivfSeed.contains((q, q))); assert(ivfKm.contains((q, q)))
    }
    def recall(got: Set[(Long, Long)]) = exact.intersect(got).size.toDouble / exact.size
    assert(recall(ivfSeed) >= 0.3, s"seeded IVF recall ${recall(ivfSeed)}")
    // On this near-uniform corpus (no real cluster structure) recall is
    // probe-coverage-bound for BOTH centroid choices — k-means pays off
    // on clustered data; here it just has to hold the same bound.
    assert(recall(ivfKm) >= 0.3, s"k-means IVF recall ${recall(ivfKm)}")
    info(f"IVF recall: seeded=${recall(ivfSeed)}%.2f kmeans=${recall(ivfKm)}%.2f")
  }

  test("kmeansCentroids default fit input is capped at sampleRows") {
    // The 100 TB contract: the DEFAULT fit path must read a bounded
    // sample, not pass the full corpus maxIter times.
    assert(Similarity.fitInput(emb, "embedding", 50).count() == 50)
    // Int.MaxValue opts into the full fit; default leaves small corpora whole
    assert(Similarity.fitInput(emb, "embedding", Int.MaxValue).count() == emb.count())
    // the bounded fit still yields a full, usable index
    val cents = Similarity.kmeansCentroids(emb, "embedding", 4, sampleRows = 50)
    assert(cents.count() == 4)
    assert(cents.columns.toSeq == Seq("centroid_id", "cvec"))
  }

  test("saveIndex/loadIndex round-trips the IVF index; loaded ≡ freshly-fit probe results") {
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString + "/centroids"
    val fitted = Similarity.kmeansCentroids(emb, "embedding", 4, seed = 42L)
    Similarity.saveIndex(fitted, path)
    val loaded = Similarity.loadIndex(spark, path)
    // the persisted relation is the index verbatim: same ids, same vectors
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    assert(asMap(loaded) == asMap(fitted.select(
      col("centroid_id").cast("long"), col("cvec"))))
    // probing through the loaded index gives bit-identical results to
    // injecting the fresh fit (the "fit once, probe many" contract)
    def probe(idx: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 3, nCentroids = 4, nProbe = 2,
          centroids = Some(idx))
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
          r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet
    assert(probe(loaded) == probe(fitted))
    // schema is normalized on write even from a double-vector relation
    val doubleIdx = fitted.select(col("centroid_id"),
      col("cvec").cast("array<double>").as("cvec"))
    Similarity.saveIndex(doubleIdx, path)
    val reloaded = Similarity.loadIndex(spark, path)
    assert(reloaded.schema("cvec").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, true))
    assert(probe(reloaded) == probe(fitted))
  }

  test("IVF cells index: append under frozen centroids ≡ fresh assignment; exactly-once tags; compact") {
    val partA = emb.filter(col("vec_id") % 3 === 0)
    val partB = emb.filter(col("vec_id") % 3 === 1)
    val corpusAB = emb.filter(col("vec_id") % 3 < 2)
    val queries = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_cells").toString
    Similarity.saveIvfIndex(partA, "vec_id", "embedding", dir,
      nCentroids = 4, maxIter = 5)
    assert(Similarity.appendToIvfIndex(partB, "vec_id", "embedding", dir,
      commitTag = "b1"))
    val idx = Similarity.loadIvfIndex(spark, dir)
    def results(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long](1),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet
    // NON-exhaustive probing (2 of 4 cells): the served result must
    // still equal ivfTopK's fresh corpus assignment under the SAME
    // centroids — build-assign(A) ∪ append-assign(B) ≡ assign(A∪B)
    // because both run the one cellRows kernel
    val served = results(Similarity.ivfTopKFromIndex(idx, queries,
      "query_id", "qvec", k = 3, nProbe = 2))
    val fresh = results(Similarity.ivfTopK(corpusAB, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, nCentroids = 4, nProbe = 2,
      centroids = Some(idx.centroids)))
    assert(served == fresh && served.nonEmpty)
    // replaying the tag writes nothing; cells row-set unchanged
    val cellsBefore = idx.cells.collect().toSet
    assert(!Similarity.appendToIvfIndex(partB, "vec_id", "embedding", dir,
      commitTag = "b1"))
    assert(Similarity.loadIvfIndex(spark, dir).cells.collect().toSet == cellsBefore)
    // compaction folds the commit into the base; served results unchanged
    Similarity.compactIvfIndex(spark, dir)
    assert(IndexFs.listDirNames(spark, s"$dir/commits").isEmpty)
    val compacted = Similarity.loadIvfIndex(spark, dir)
    assert(compacted.cells.collect().toSet == cellsBefore)
    assert(results(Similarity.ivfTopKFromIndex(compacted, queries,
      "query_id", "qvec", k = 3, nProbe = 2)) == served)
    // replay AFTER the fold: the tombstone keeps the tag recognized, so
    // the replayed batch writes nothing and the row-set stays put (the
    // r8 gap: idempotence died with the commit dir)
    assert(!Similarity.appendToIvfIndex(partB, "vec_id", "embedding", dir,
      commitTag = "b1"))
    assert(Similarity.loadIvfIndex(spark, dir).cells.collect().toSet == cellsBefore)
    // a rebuilt index re-opens the tag space (save wipes committed/)
    Similarity.saveIvfIndex(partA, "vec_id", "embedding", dir,
      nCentroids = 4, maxIter = 5)
    assert(Similarity.appendToIvfIndex(partB, "vec_id", "embedding", dir,
      commitTag = "b1"))
  }

  test("refitIvfIndex: new centroid family, exact vector set, tombstoned tags, re-openable crashed tags") {
    val partA = emb.filter(col("vec_id") % 3 === 0)
    val partB = emb.filter(col("vec_id") % 3 === 1)
    val queries = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_refit").toString
    Similarity.saveIvfIndex(partA, "vec_id", "embedding", dir,
      nCentroids = 4, maxIter = 5)
    assert(Similarity.appendToIvfIndex(partB, "vec_id", "embedding", dir,
      commitTag = "b1"))
    val before = Similarity.loadIvfIndex(spark, dir)
    val famBefore = before.centroids.collect().map(_.getLong(0)).toSet
    val vecsBefore = before.cells.select("id", "vec").collect().toSet

    // refit with a different seed: genuinely new family, same vectors
    Similarity.refitIvfIndex(spark, dir, nCentroids = 4, seed = 7L, maxIter = 5)
    val after = Similarity.loadIvfIndex(spark, dir)
    assert(after.cells.select("id", "vec").collect().toSet == vecsBefore,
      "refit must preserve the vector set exactly")
    // the rebuilt assignment is consistent with the NEW family: every
    // cell id is a live centroid id and assignment matches the kernel
    val famAfter = after.centroids.collect().map(_.getLong(0)).toSet
    assert(after.cells.select("cluster_id").distinct().collect()
      .map(_.getLong(0)).toSet.subsetOf(famAfter))
    assert(famAfter == famBefore, "4 centroid ids either way") // ids are 0..n-1
    // commit dirs folded, tag tombstoned: replay is a no-op forever
    assert(IndexFs.listDirNames(spark, s"$dir/commits").isEmpty)
    assert(!Similarity.appendToIvfIndex(partB, "vec_id", "embedding", dir,
      commitTag = "b1"))
    assert(Similarity.loadIvfIndex(spark, dir)
      .cells.select("id", "vec").collect().toSet == vecsBefore)
    // served results after refit = exact fresh assignment under the new
    // family (non-exhaustive probing, the real serving regime)
    def results(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long](1),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet
    val served = results(Similarity.ivfTopKFromIndex(after, queries,
      "query_id", "qvec", k = 3, nProbe = 2))
    val fresh = results(Similarity.ivfTopK(
      emb.filter(col("vec_id") % 3 < 2), "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, nCentroids = 4, nProbe = 2,
      centroids = Some(after.centroids)))
    assert(served == fresh && served.nonEmpty)
    // a crashed append (its `staged/` orphan, never renamed in) is
    // dropped from the rebuild and NOT tombstoned — its tag may
    // re-append later under the new family. A fresh index, so the
    // crashed rows are new to it.
    val cDir = java.nio.file.Files.createTempDirectory("ivf_refit_crash").toString
    Similarity.saveIvfIndex(partA, "vec_id", "embedding", cDir,
      nCentroids = 4, maxIter = 5)
    val baseVecs = Similarity.loadIvfIndex(spark, cDir)
      .cells.select("id", "vec").collect().toSet
    val crashed = emb.filter(col("vec_id") % 3 === 1 && col("vec_id") < 10)
    crashed.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vec"), lit(0L).as("cluster_id"))
      .write.parquet(s"$cDir/staged/b2/cells")
    Similarity.refitIvfIndex(spark, cDir, nCentroids = 4, seed = 9L, maxIter = 5)
    assert(Similarity.loadIvfIndex(spark, cDir)
      .cells.select("id", "vec").collect().toSet == baseVecs,
      "a crashed append must not leak into the rebuild")
    assert(!IndexFs.isCommitted(spark, cDir, "b2"))
    assert(Similarity.appendToIvfIndex(crashed, "vec_id", "embedding", cDir,
      commitTag = "b2"), "a crashed tag must stay re-appendable")
    assert(Similarity.loadIvfIndex(spark, cDir)
      .cells.select("id", "vec").collect().toSet ==
        baseVecs ++ crashed.select(col("vec_id").cast("long"),
          col("embedding").cast("array<float>")).collect().toSet)
  }

  test("refitIvfIndex measurably resets append-induced cell imbalance") {
    import spark.implicits._
    // build on a seeded gaussian cloud, then append a DRIFTED batch
    // (every vector offset the same way): under the frozen centroids
    // the whole batch lands in whichever cells face the drift
    // direction, so the max cell share balloons — the documented
    // recall hazard at small nProbe. A refit re-clusters and must pull
    // the max share back down. Seeded end-to-end, so the inequality is
    // deterministic, not a flaky statistical bound.
    def gauss(i: Int, shift: Double): Seq[Float] = {
      val r = new scala.util.Random(i)
      Seq.fill(8)(r.nextGaussian().toFloat).updated(0, (r.nextGaussian() + shift).toFloat)
    }
    val base = (0L until 200L).map(i => (i, gauss(i.toInt, 0.0))).toDF("vec_id", "embedding")
    val drifted = (1000L until 1200L).map(i => (i, gauss(i.toInt, 25.0))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_drift").toString
    Similarity.saveIvfIndex(base, "vec_id", "embedding", dir,
      nCentroids = 8, maxIter = 10)
    Similarity.appendToIvfIndex(drifted, "vec_id", "embedding", dir,
      commitTag = "drift")
    def maxCellShare(): Double = {
      val counts = Similarity.loadIvfIndex(spark, dir)
        .cells.groupBy("cluster_id").count()
        .collect().map(_.getLong(1).toDouble)
      counts.max / counts.sum
    }
    val before = maxCellShare()
    // the drifted half crowds the facing cells: far above the 1/8 ideal
    assert(before > 0.25, s"fixture failed to drift: max share $before")
    Similarity.refitIvfIndex(spark, dir, maxIter = 10)
    val after = maxCellShare()
    assert(after < before * 0.75,
      s"refit should measurably rebalance cells: $before -> $after")
  }

  test("a crashed IVF refit is loud at every entry point and a re-run converges") {
    val partA = emb.filter(col("vec_id") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("ivf_crash_refit").toString
    Similarity.saveIvfIndex(partA, "vec_id", "embedding", dir,
      nCentroids = 4, maxIter = 5)
    val vecsBefore = Similarity.loadIvfIndex(spark, dir)
      .cells.select("id", "vec").collect().toSet
    // simulate a refit that died between the centroid overwrite and the
    // cell rebuild: the marker is what the crash window leaves behind
    IndexFs.beginRefit(spark, dir)
    intercept[IllegalStateException] { Similarity.loadIvfIndex(spark, dir) }
    intercept[IllegalStateException] {
      Similarity.appendToIvfIndex(partA, "vec_id", "embedding", dir, "c1")
    }
    intercept[IllegalStateException] { Similarity.compactIvfIndex(spark, dir) }
    // the documented recovery: re-run the refit (it derives everything
    // from the family-independent (id, vec) rows and republishes
    // centroids + cells together)
    Similarity.refitIvfIndex(spark, dir, nCentroids = 4, maxIter = 5)
    assert(Similarity.loadIvfIndex(spark, dir)
      .cells.select("id", "vec").collect().toSet == vecsBefore)
    // a full save also supersedes a crashed refit
    IndexFs.beginRefit(spark, dir)
    Similarity.saveIvfIndex(partA, "vec_id", "embedding", dir,
      nCentroids = 4, maxIter = 5)
    assert(Similarity.loadIvfIndex(spark, dir)
      .cells.select("id", "vec").collect().toSet == vecsBefore)
  }

  test("ivfTopKFromIndex: a queries frame carrying id/vec/cluster_id columns cannot collide with the cells schema") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_collide").toString
    Similarity.saveIvfIndex(emb, "vec_id", "embedding", dir,
      nCentroids = 4, maxIter = 5)
    val idx = Similarity.loadIvfIndex(spark, dir)
    val clean = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def results(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet
    val expected = results(Similarity.ivfTopKFromIndex(idx, clean,
      "query_id", "qvec", k = 3, nProbe = 2))
    assert(expected.nonEmpty)
    // the adversarial frame: every cells column name, PLUS a decoy `vec`
    // whose values would poison the cosine if the operand bound wrong —
    // exactly the shape of "a slice of the corpus used as queries"
    val dirty = clean
      .withColumn("id", col("query_id") + 1000)
      .withColumn("vec", org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.lit(0.0f)))
      .withColumn("cluster_id", org.apache.spark.sql.functions.lit(-1L))
    assert(results(Similarity.ivfTopKFromIndex(idx, dirty,
      "query_id", "qvec", k = 3, nProbe = 2)) == expected)
    // output schema is unchanged by the internal normalization
    assert(Similarity.ivfTopKFromIndex(idx, dirty, "query_id", "qvec", k = 3)
      .columns.toSeq == Seq("query_id", "id", "cosine", "rank"))
    // a queryId that collides with the fixed output names would yield
    // duplicate columns — rejected loudly, not deferred to a downstream
    // ambiguous-reference (or a silently wrong positional read)
    Seq("id", "cosine", "rank").foreach { bad =>
      assertThrows[IllegalArgumentException](
        Similarity.ivfTopKFromIndex(idx,
          clean.withColumnRenamed("query_id", bad), bad, "qvec", k = 3))
    }
  }

  test("annTopK (multi-probe LSH) recalls most of the exact top-k") {
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = Similarity.topKForQueries(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    // Testdata embeddings are near-uniform (max pairwise cosine ≈ 0.6), the
    // hardest case for angular LSH — recall is bucket-coverage-bound. With
    // 4 bits + multi-probe a query scans ~5/16 of the corpus; assert the
    // recall is clearly above that random-scan floor.
    val ann = Similarity.annTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, bits = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = exact.intersect(ann).size.toDouble / exact.size
    assert(recall >= 0.4, s"ANN recall $recall too low")
    // self-match must always survive bucketing (identical vector, same bucket)
    (0L until 5L).foreach(q => assert(ann.contains((q, q))))
  }

  test("ivfPqTopK: exhaustive ≡ brute force; approximation regime recall; index bytes shrink") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq").toString + "/idx"
    Similarity.saveIvfPqIndex(emb, "vec_id", "embedding", path,
      nCentroids = 8, nSub = 8, nCodes = 16, maxIter = 5)
    val idx = Similarity.loadIvfPqIndex(spark, path)
    // the cells relation must carry NO vectors — codes + norm only
    assert(idx.cells.columns.sorted.toSeq ==
      Seq("cluster_id", "codes", "id", "norm"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = Similarity.topKForQueries(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    // both knobs exhaustive: identical to brute force, scores included
    val exhaustive = Similarity.ivfPqTopK(idx, emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, nProbe = 8, rerank = 200)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet
    val exactFull = Similarity.topKForQueries(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet
    assert(exhaustive == exactFull)
    // approximation regime: modest probe + rerank still recalls most of
    // the true top-k on this near-uniform corpus (ADC selects, the
    // exact re-rank orders — errors can only drop candidates, not
    // misrank survivors)
    val approx = Similarity.ivfPqTopK(idx, emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, nProbe = 4, rerank = 8)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF-PQ recall $recall")
    info(f"IVF-PQ recall at nProbe=4/8, rerank=8: $recall%.2f")
    // self-match survives any probe width (a query's own cell is probed
    // first and the exact re-rank puts cosine 1.0 on top)
    assert(approx.count { case (q, i) => q == i } == 10)
    // the storage claim: quantized cells are an order of magnitude
    // smaller than the same vectors as floats (64 dims × 4B vs 8
    // tinyint codes + 1 float norm)
    def dirBytes(d: String): Long = {
      val f = IndexFs.fs(spark, d)
      f.getContentSummary(new org.apache.hadoop.fs.Path(d)).getLength
    }
    val fullDir = java.nio.file.Files.createTempDirectory("ivffull").toString + "/v"
    emb.select(col("vec_id"), col("embedding")).write.parquet(fullDir)
    val shrink = dirBytes(fullDir).toDouble / dirBytes(s"$path/pqcells")
    assert(shrink >= 4.0,
      s"PQ cells must be several times smaller than full vectors, got ${shrink}x")
    info(f"IVF-PQ cells shrink: $shrink%.1fx")
  }
}
