package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (extension surface; testdata `embeddings.embedding: array<float>`).
  *
  * Two tiers:
  *  - [[topKForVector]] / [[topKForQueries]] — exact brute force: one
  *    codegen'd scan computing cosine per row, `TakeOrderedAndProject`
  *    for the top-k (no full sort, no shuffle of the corpus).
  *  - [[hyperplaneLsh]] bucketing — the scale path: sign-random-projection
  *    buckets computed in one projection; queries probe only their own
  *    (and optionally 1-bit-flipped) buckets, turning a 100 TB scan into
  *    a bucket-local lookup. Hyperplanes are generated from a fixed seed
  *    on the driver and shipped as literals — deterministic across runs
  *    and executors.
  */
object Similarity {

  /** Exact top-k for one query vector (driver-side literal). */
  def topKForVector(
      vecs: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val queryCol = array(query.map(v => lit(v)): _*)
    vecs.select(col(idCol),
        roundPortable(cosine_similarity(col(vecCol), queryCol), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Per-query top-k ranking of a scored candidate relation via the
    * bounded [[graft.functions.TopKByScore]] aggregate: map-side partial
    * heaps, only k entries per query per partition cross the exchange.
    * The window spelling (`row_number().over(partitionBy(queryId))`)
    * would shuffle EVERY scored row into one partition per query — with
    * few queries the whole scored corpus lands on that many tasks.
    * Ordering (cosine desc, id asc) is total, so the result is identical
    * to the window's and independent of partitioning. */
  private def rankTopK(
      cand: DataFrame, queryId: String, corpusId: String, k: Int): DataFrame =
    cand.groupBy(col(queryId))
      .agg(top_k_by_score(col(corpusId), col("cosine"), k).as("__topk"))
      .select(col(queryId), posexplode(col("__topk")).as(Seq("__pos", "__e")))
      .select(col(queryId), col("__e.id").as(corpusId),
        col("__e.score").as("cosine"),
        (col("__pos") + 1).cast("int").as("rank"))

  /** Exact top-k for a (small) set of query rows: broadcast the queries,
    * one pass over the corpus, bounded per-query top-k aggregate. */
  def topKForQueries(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val joined = corpus.crossJoin(broadcast(queries))
      .withColumn("cosine", roundPortable(cosine_similarity(col(corpusVec), col(queryVec)), 6))
    rankTopK(joined, queryId, corpusId, k)
  }

  /** Deterministic pseudo-random hyperplanes (fixed seed). */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new java.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Adds an LSH bucket id: bit b = sign(v · hyperplane_b). Cosine-similar
    * vectors collide with probability 1 - θ/π per bit. */
  def withHyperplaneBucket(
      vecs: DataFrame, vecCol: String,
      planes: Seq[Seq[Double]]): DataFrame = {
    val bucket = planes.zipWithIndex.map { case (p, b) =>
      val planeCol = array(p.map(lit): _*)
      when(dot_product(col(vecCol), planeCol) >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    vecs.withColumn("bucket", bucket)
  }

  /** The k-means fit input, bounded: at 100 TB an unbounded fit would
    * pass the FULL corpus `maxIter` times; the cap keeps the fit to one
    * bounded read (limit short-circuits the scan). Centroid choice only
    * shapes cell balance — IVF exactness comes from the probe/rank
    * stages — so a bounded fit never changes result correctness, and an
    * uneven sample costs at most some recall at small nProbe.
    * `Int.MaxValue` opts into the full-corpus fit. */
  private[operators] def fitInput(
      corpus: DataFrame, vecCol: String, sampleRows: Int): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val feats = corpus.select(array_to_vector(col(vecCol)).as("features"))
    if (sampleRows == Int.MaxValue) feats
    else {
      // re-spread after the limit: GlobalLimit funnels the sample into
      // ONE partition, which would single-thread every k-means iteration
      // (measured: 100× ivfTopK 3.9 s → 22.7 s). A MODEST spread — the
      // sample is ≤ sampleRows rows, and full-core fan-out costs more in
      // per-iteration task waves than it buys on a bounded fit
      // (measured: spread 32 doubled the 1× time)
      val cores = corpus.sparkSession.sparkContext.defaultParallelism
      feats.limit(sampleRows).repartition(math.min(math.max(1, cores), 8))
    }
  }

  /** K-means centroids for the IVF index (`spark.ml` KMeans over the
    * corpus vectors, fixed seed). Returns (centroid_id, cvec) rows —
    * nCentroids of them, aggregate-sized, built for broadcasting. The
    * fit reads at most `sampleRows` vectors ([[fitInput]]) so the
    * DEFAULT path does one bounded pass at any corpus scale; the
    * centroid count stays driver-sized either way. */
  def kmeansCentroids(
      corpus: DataFrame, vecCol: String, nCentroids: Int,
      seed: Long = 42L, maxIter: Int = 20,
      sampleRows: Int = 100000): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    val feats = fitInput(corpus, vecCol, sampleRows)
    val model = new KMeans().setK(nCentroids).setSeed(seed)
      .setMaxIter(maxIter).setFeaturesCol("features").fit(feats)
    val centers = model.clusterCenters.zipWithIndex.map { case (v, i) =>
      (i.toLong, v.toArray.map(_.toFloat))
    }.toSeq
    corpus.sparkSession.createDataFrame(centers).toDF("centroid_id", "cvec")
  }

  /** Persist an IVF index — the (centroid_id, cvec) relation from
    * [[kmeansCentroids]] — as parquet. This closes the 100 TB loop "fit
    * once, probe many": the fit (a bounded-sample k-means) runs once,
    * the saved index is nCentroids rows (aggregate-sized at any corpus
    * scale — one part-file on purpose), and every later query batch
    * [[loadIndex]]es it into [[ivfTopK]]'s `centroids` injection seam
    * instead of re-fitting. Schema is normalized on write (long id,
    * float vector) so a reloaded index is bit-identical input to the
    * assignment kernel regardless of what built it. Published through
    * [[graft.operators.IndexFs.publishRelation]], so a refit that
    * crashes mid-write leaves the old centroids whole for its re-run. */
  def saveIndex(centroids: DataFrame, path: String): Unit =
    IndexFs.publishRelation(centroids
      .select(col("centroid_id").cast("long").as("centroid_id"),
        col("cvec").cast("array<float>").as("cvec"))
      .coalesce(1), path)

  /** Reload a [[saveIndex]]-written IVF index for [[ivfTopK]]'s
    * `centroids` parameter. */
  def loadIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Collect a centroid relation to its driver-side kernel form:
    * (sorted ids, dense double vectors) — nCentroids rows by contract
    * (aggregate-sized at any corpus scale — that is what makes IVF an
    * index). Sorted by id for a deterministic kernel layout.
    * float→double is exact, so the kernel's cosine is bit-identical to
    * cosine_similarity against the original float centroid vectors.
    * Null ELEMENTS inside a centroid become 0.0 (contributing nothing
    * to dot/nb; cosine_similarity would also skip the position's na —
    * a documented, vanishingly-rare divergence only for null-holed
    * centroid vectors; k-means centroids are always dense). */
  private[operators] def centroidKernel(
      centroidRel: DataFrame): (Seq[Long], Seq[Seq[Double]]) = {
    val rows = centroidRel
      .select(col("centroid_id").cast("long"), col("cvec"))
      .filter(col("cvec").isNotNull).collect()
      .sortBy { r =>
        require(!r.isNullAt(0),
          "centroid_id must be non-null and long-castable " +
            "(string ids need a numeric surrogate)")
        r.getLong(0)
      }
    (rows.map(_.getLong(0)).toSeq,
      rows.map(_.getSeq[Any](1).map {
        case null => 0.0
        case f: Float => f.toDouble
        case d: Double => d
      }.toSeq).toSeq)
  }

  /** A persisted IVF index WITH its assigned corpus: the frozen
    * centroid family (`centroids`: centroid_id, cvec) plus the cell
    * relation (`cells`: id, vec, cluster_id) — the
    * [[graft.operators.TextDedup.MinhashIndex]] pattern for ANN, so
    * new vectors can be absorbed and future query batches served
    * without re-assigning (or even re-reading) the corpus. */
  final case class IvfIndex(centroids: DataFrame, cells: DataFrame)

  /** Fit centroids on `corpus`, assign every corpus vector to its cell
    * (the pure-projection codegen kernel — no shuffle), and persist
    * both relations (`centroids/`, `cells/`). The fit-once half of
    * fit-once/serve-many: appends ([[appendToIvfIndex]]) and probes
    * ([[ivfTopKFromIndex]]) both run under THIS frozen centroid
    * family. A save is a full rebuild
    * ([[graft.operators.IndexFs.resetForRebuild]]). */
  def saveIvfIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      path: String, nCentroids: Int = 16, seed: Long = 42L,
      maxIter: Int = 20, sampleRows: Int = 100000): Unit = {
    val spark = corpus.sparkSession
    IndexFs.resetForRebuild(spark, path)
    saveIndex(
      kmeansCentroids(corpus, corpusVec, nCentroids, seed, maxIter, sampleRows),
      s"$path/centroids")
    val (ids, vecs) = centroidKernel(loadIndex(spark, s"$path/centroids"))
    require(ids.nonEmpty, "saveIvfIndex: empty corpus yields no centroids")
    cellRows(corpus, corpusId, corpusVec, ids, vecs)
      .write.mode("overwrite").parquet(s"$path/cells")
  }

  /** Normalized cell rows (id, vec, cluster_id) for `vectors` under the
    * kernel-form centroids — THE single spelling of the assignment,
    * shared by the index build and the append so the two can never
    * disagree. */
  private def cellRows(vectors: DataFrame, idCol: String, vecCol: String,
      ids: Seq[Long], vecs: Seq[Seq[Double]]): DataFrame =
    vectors.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"),
      element_at(nearest_centroids(col(vecCol), ids, vecs, 1), 1)
        .cast("long").as("cluster_id"))

  /** Absorb a new vector batch into a persisted IVF index WITHOUT a
    * refit: assign under the frozen persisted centroids (the codegen
    * projection — per-batch cost is one pass over the batch, blind to
    * index size) and append the cell rows exactly-once per
    * `commitTag`, as [[graft.operators.TextDedup.appendToMinhashIndex]]
    * does (staged dir + one atomic rename, idempotent replay, safe
    * against a concurrent [[compactIvfIndex]]). The frozen-centroid
    * trade is the standard IVF maintenance one: cell BALANCE can drift
    * from what a refit would choose (costing recall at small nProbe,
    * never correctness of the in-cell exact rank); refit + rebuild
    * when drift matters.
    *
    * @return true if the batch's rows landed in this call; false when
    *         `commitTag` was already committed (idempotent skip). */
  def appendToIvfIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      path: String, commitTag: String): Boolean = {
    val spark = newVecs.sparkSession
    // assigning under a crashed refit's centroids would entrench the
    // family/assignment mismatch; converge with a refit re-run first
    IndexFs.requireNoCrashedRefit(spark, path)
    if (IndexFs.isCommitted(spark, path, commitTag))
      return false // already landed (live commit OR folded tombstone) —
                   // skip even the assignment
    val (ids, vecs) = centroidKernel(loadIndex(spark, s"$path/centroids"))
    IndexFs.stagedAppend(spark, path, commitTag,
      Seq("cells" -> cellRows(newVecs, idCol, vecCol, ids, vecs)))
  }

  /** Reload a [[saveIvfIndex]]-written index: centroids plus the cell
    * relation unioned across base and landed commits. `excludeCommits`
    * hides specific append tags for deterministic batch replay — only
    * until a compaction folds the tag; window and tombstone semantics
    * as documented on
    * [[graft.operators.TextDedup.loadMinhashIndex]]. */
  def loadIvfIndex(spark: SparkSession, path: String,
      excludeCommits: Set[String] = Set.empty): IvfIndex = {
    IndexFs.requireNoCrashedRefit(spark, path)
    IvfIndex(
      loadIndex(spark, s"$path/centroids"),
      spark.read.parquet(
        IndexFs.relationDirs(spark, path, "cells", excludeCommits): _*))
  }

  /** Fold landed cell commits into the base cell relation — the
    * [[graft.operators.TextDedup.compactMinhashIndex]] engine with the
    * same concurrency contract (appends landing mid-compact survive).
    * Centroids are frozen and never rewritten. */
  def compactIvfIndex(spark: SparkSession, path: String): Unit =
    TextDedup.compactIndex(spark, path, Seq("cells"),
      n => Seq(graft.GraftSession.partitionsFor(spark, n)))

  /** Re-fit the centroid family from the index's CURRENT vectors and
    * rebuild the cell relation under the new family — the maintenance
    * op that closes [[appendToIvfIndex]]'s frozen-centroid drift trade
    * (cell balance drifts as appends accumulate; recall at small
    * nProbe degrades, never in-cell rank correctness). Cost tracks
    * INDEX size, like compaction: one bounded-sample k-means fit, one
    * assignment pass (the codegen kernel) over the indexed vectors,
    * one cell rewrite — the original corpus is never re-read.
    *
    * Contract: the [[saveIvfIndex]] REBUILD contract (single
    * maintainer, no concurrent appends or probes), NOT compaction's —
    * a refit changes what cluster ids MEAN, so an append staged under
    * the old family and landing mid-refit would insert stale
    * assignments. What survives the refit:
    *  - landed commit tags fold into the rebuilt base and are
    *    tombstoned in the compact ordering (tombstone BEFORE the
    *    commit dir is deleted), so exactly-once replay of an absorbed
    *    append stays an idempotent no-op forever;
    *  - crashed appends (`staged/` orphans) are dropped from the
    *    rebuild and deliberately NOT tombstoned — their tag may
    *    legitimately re-append later, and will assign under the NEW
    *    family.
    * The vectors are pinned through the scratch seam BEFORE any dir is
    * rewritten — the rebuild reads the very relation it overwrites. */
  def refitIvfIndex(spark: SparkSession, path: String,
      /** -1 (default) keeps the persisted family SIZE — a refit
        * re-fits the centroids, it doesn't silently shrink an index
        * built with nCentroids=64 to a 16-cell default; pass
        * explicitly to re-size on purpose. */
      nCentroids: Int = -1,
      seed: Long = 42L, maxIter: Int = 20,
      sampleRows: Int = 100000): Unit = {
    import graft.GraftSession.Pinnable
    Seq("cells", "centroids").foreach(r => IndexFs.rollForwardPublish(spark, s"$path/$r"))
    val snapshot = IndexFs.maintenanceSnapshot(spark, path)
    val useCentroids =
      if (nCentroids != -1) nCentroids
      else loadIndex(spark, s"$path/centroids").count().toInt
    val vectors = spark.read.parquet(
        s"$path/cells" +:
          snapshot.landed.map(t => s"$path/commits/$t/cells"): _*)
      .select(col("id"), col("vec")).distinct()
      .pinScratch()
    val nVecs = vectors.count()
    require(nVecs > 0, "refitIvfIndex: index holds no vectors")
    // marker ON from the first family-changing write to the last: a
    // crash between the centroid overwrite and the cell rebuild leaves
    // assignments under the OLD family served as if they were the new
    // one — a recall-losing state that looks healthy — so loads refuse
    // until a re-run converges (IndexFs.RefitMarker)
    IndexFs.beginRefit(spark, path)
    saveIndex(
      kmeansCentroids(vectors, "vec", useCentroids, seed, maxIter, sampleRows),
      s"$path/centroids")
    val (ids, vecs) = centroidKernel(loadIndex(spark, s"$path/centroids"))
    IndexFs.publishRelation(
      cellRows(vectors, "id", "vec", ids, vecs)
        .repartition(graft.GraftSession.partitionsFor(spark, nVecs)),
      s"$path/cells")
    IndexFs.retireFoldedCommits(spark, path, snapshot.landed)
    IndexFs.reapDeadOrphans(spark, path, snapshot)
    IndexFs.endRefit(spark, path)
  }

  /** Serve a query batch from a persisted [[IvfIndex]]: probe nProbe
    * cells per query, rank exactly within them — [[ivfTopK]]'s plan
    * with the corpus-assignment stage REPLACED by the persisted cell
    * relation (the serve-many half: the corpus is never re-read or
    * re-assigned). Output columns (queryId, id, cosine, rank). */
  def ivfTopKFromIndex(index: IvfIndex, queries: DataFrame,
      queryId: String, queryVec: String, k: Int, nProbe: Int = 3): DataFrame = {
    // the output contract is (queryId, id, cosine, rank): a queryId that
    // collides with one of the fixed output names would yield a frame
    // with duplicate columns — ambiguous downstream, silently wrong on
    // positional access. Loud beats deferred.
    require(!Set("id", "cosine", "rank").contains(queryId),
      s"queryId '$queryId' collides with the output schema " +
        "(id, cosine, rank) — alias the query id column first")
    val (ids, vecs) = centroidKernel(index.centroids)
    // Project to EXACTLY the two query columns, under internal names,
    // before anything joins against the cell relation: a queries frame
    // already carrying `id`, `vec`, or `cluster_id` (e.g. a slice of the
    // corpus itself) would otherwise collide with the cells schema —
    // ambiguous-column failures or, worse, the cosine binding to the
    // wrong `vec` operand. Mirrors cellRows' corpus-side normalization.
    val q = queries.select(
      col(queryId).as("__query_id"), col(queryVec).as("__query_vec"))
    if (ids.isEmpty)
      return q.limit(0).select(col("__query_id").as(queryId),
        lit(0L).as("id"), lit(0.0).as("cosine"), lit(1).as("rank"))
    val probedQueries = q.withColumn("cluster_id",
      explode(nearest_centroids(col("__query_vec"), ids, vecs, nProbe)))
    val cand = index.cells
      .join(broadcast(probedQueries), Seq("cluster_id"))
      .withColumn("cosine",
        roundPortable(cosine_similarity(col("vec"), col("__query_vec")), 6))
    rankTopK(cand, "__query_id", "id", k)
      .withColumnRenamed("__query_id", queryId)
  }

  /** IVF (inverted-file) ANN: corpus vectors are assigned to their
    * nearest of `nCentroids` centroids — k-means by default
    * ([[kmeansCentroids]]); `useKMeans = false` falls back to the
    * lowest-id corpus vectors (deterministic regardless of partition
    * layout, at lower recall). A query probes its `nProbe` nearest
    * centroids and ranks exactly within those cells only — the classic
    * cell-probe trade: recall grows with nProbe, cost stays
    * |corpus|·nProbe/nCentroids per query.
    *
    * Physical shape: assignment is a PURE PROJECTION — the centroid
    * matrix (aggregate-sized, driver-known) ships inside a codegen'd
    * [[graft.functions.NearestCentroids]] expression, so no shuffle, no
    * join, no corpus amplification; the probe join broadcasts the
    * (tiny) probed-query side so the corpus never moves; the final
    * ranking is the bounded top-k aggregate.
    */
  def ivfTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nCentroids: Int = 16, nProbe: Int = 3,
      useKMeans: Boolean = true,
      /** Precomputed (centroid_id, cvec) rows — the index-reuse path:
        * fit [[kmeansCentroids]] once (on a sample at 100 TB), pass it to
        * every query batch. Without it, useKMeans = true re-fits on each
        * call — fine for one-shot jobs, wasteful for repeated ones. */
      centroids: Option[DataFrame] = None): DataFrame = {
    val centroidRel = centroids.getOrElse(
      if (useKMeans) kmeansCentroids(corpus, corpusVec, nCentroids)
      else corpus.orderBy(col(corpusId)).limit(nCentroids)
        .select(col(corpusId).as("centroid_id"), col(corpusVec).as("cvec")))
    val (ids, vecs) = centroidKernel(centroidRel)
    if (ids.isEmpty) // empty corpus / all-null index → empty result
      return queries.limit(0).crossJoin(corpus.limit(0))
        .select(col(queryId), col(corpusId),
          lit(0.0).as("cosine"), lit(1).as("rank"))

    val assignedCorpus = corpus.withColumn("cluster_id",
      element_at(nearest_centroids(col(corpusVec), ids, vecs, 1), 1))
    val probedQueries = queries.withColumn("cluster_id",
      explode(nearest_centroids(col(queryVec), ids, vecs, nProbe)))

    val cand = assignedCorpus.join(broadcast(probedQueries), Seq("cluster_id"))
      .withColumn("cosine", roundPortable(cosine_similarity(col(corpusVec), col(queryVec)), 6))
    rankTopK(cand, queryId, corpusId, k)
  }

  // ───────────────────────── IVF-PQ ─────────────────────────
  // Product-quantized IVF (Jégou et al., TPAMI 2011): the cells
  // relation stores nSub small codes + one norm per vector instead of
  // dim floats — at 100 TB the embedding bytes dominate index storage
  // and probe IO, and PQ shrinks both ~8-16× while ADC keeps probe
  // scoring at nSub array reads per candidate. Quantization costs
  // recall, not correctness: the ADC top-m is exactly re-ranked
  // against the FULL vectors (fetched by id from the corpus relation,
  // a broadcast semi-join — the index itself never stores them).

  /** A persisted IVF-PQ index: coarse centroids, per-subspace
    * codebooks, and the quantized cell relation
    * (`id, cluster_id, codes: array<tinyint>, norm: float`). */
  final case class IvfPqIndex(centroids: DataFrame, codebooks: DataFrame,
    cells: DataFrame)

  /** Collect the codebook relation to kernel form (m)(code)(d),
    * validated dense and rectangular. */
  private def codebookKernel(cbRel: DataFrame): graft.functions.PqKernel.Codebook = {
    val rows = cbRel
      .select(col("sub").cast("int"), col("code").cast("int"), col("subvec"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Any](2).map {
        case f: Float => f.toDouble
        case d: Double => d
        case null => 0.0
      }.toArray))
    require(rows.nonEmpty, "empty PQ codebook relation")
    val nSub = rows.map(_._1).max + 1
    val nCodes = rows.map(_._2).max + 1
    require(rows.length == nSub * nCodes,
      s"ragged PQ codebook: ${rows.length} entries for $nSub×$nCodes")
    val cb = Array.ofDim[Array[Double]](nSub, nCodes)
    rows.foreach { case (m, j, v) => cb(m)(j) = v }
    cb.asInstanceOf[graft.functions.PqKernel.Codebook]
  }

  /** Fit and persist an IVF-PQ index: coarse centroids
    * ([[kmeansCentroids]]) at `path/centroids`, per-subspace residual
    * codebooks (k-means on a bounded residual sample, fixed seeds) at
    * `path/codebooks`, and the quantized cells — `nSub` codes + a norm
    * per vector, NO full vectors — at `path/pqcells`. Encoding is one
    * codegen'd corpus pass ([[graft.functions.PqEncode]], codebook as a
    * constant); both fit stages read bounded samples, so build cost is
    * corpus-linear with driver-sized state at any scale. `nCodes` ≤ 128
    * keeps codes in a tinyint: a byte per subspace, which measured the
    * quantized cells 7.3× smaller on disk than the raw embedding parquet
    * at 200k 64-dim vectors (2.6 MB vs 18.9 MB). */
  def saveIvfPqIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      path: String, nCentroids: Int = 16, nSub: Int = 8, nCodes: Int = 16,
      seed: Long = 42L, maxIter: Int = 20, sampleRows: Int = 100000): Unit = {
    require(nSub >= 1 && nCodes >= 2 && nCodes <= 128,
      s"nSub=$nSub must be >= 1, nCodes=$nCodes in [2, 128] (tinyint codes)")
    val spark = corpus.sparkSession
    saveIndex(
      kmeansCentroids(corpus, corpusVec, nCentroids, seed, maxIter, sampleRows),
      s"$path/centroids")
    val centRel = loadIndex(spark, s"$path/centroids")
    val (ids, vecs) = centroidKernel(centRel)
    require(ids.nonEmpty, "saveIvfPqIndex: empty corpus yields no centroids")
    val dim = vecs.head.size
    require(dim % nSub == 0,
      s"vector dim $dim is not divisible by nSub=$nSub")
    val subDim = dim / nSub
    import graft.GraftSession.Pinnable
    val assigned = corpus
      .select(col(corpusId).cast("long").as("id"),
        col(corpusVec).cast("array<float>").as("vec"))
      .withColumn("cluster_id",
        element_at(nearest_centroids(col("vec"), ids, vecs, 1), 1)
          .cast("long"))
      .join(broadcast(centRel
        .select(col("centroid_id").as("cluster_id"), col("cvec"))), "cluster_id")
    // per-subspace codebooks: k-means over the residual subvectors of a
    // bounded sample; seed offset per subspace so subspaces do not
    // share degenerate initializations
    import org.apache.spark.ml.clustering.KMeans
    // pinned: the residual relation feeds nSub k-means fits AND the
    // encode pass — without the pin each consumer re-ran the corpus
    // scan + assignment + broadcast join (measured: 9 recomputations
    // behind q_ann_ivf_pq's fit loop). localCheckpoint preserves the
    // partition layout, so the bounded fitInput sample (limit +
    // round-robin respread) sees byte-identical partitions and every
    // fit is unchanged.
    val resid = assigned
      .withColumn("__resid", zip_with(col("vec"), col("cvec"), (a, b) => a - b))
      .pinScratch()
    // the nSub fits are INDEPENDENT (own subspace slice, own seed, all
    // over the pinned residual blocks) — overlap up to 4 of them so one
    // fit's driver latency (init rounds, per-iteration collects)
    // back-fills another's idle executors. Each fit's input, seed and
    // iteration count are unchanged, so every model is bit-identical to
    // the sequential spelling; rows come back in subspace order.
    val cbRows = graft.GraftSession.concurrently(spark, 4)(
      (0 until nSub).map { m => () =>
        val sub = resid.select(
          slice(col("__resid"), m * subDim + 1, subDim).as("sv"))
        val model = new KMeans().setK(nCodes).setSeed(seed + 1 + m)
          .setMaxIter(maxIter).setFeaturesCol("features")
          .fit(fitInput(sub, "sv", sampleRows))
        model.clusterCenters.zipWithIndex.map { case (v, j) =>
          (m, j, v.toArray.map(_.toFloat).toSeq)
        }.toSeq
      }).flatten
    spark.createDataFrame(cbRows).toDF("sub", "code", "subvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    // encode: one codegen pass — codes + the true norm (kept so ADC can
    // return a cosine, and so re-rank-free consumers get magnitudes);
    // reads the pinned residual relation (same columns + __resid) so
    // the assignment join is not recomputed a 10th time
    val cb = codebookKernel(spark.read.parquet(s"$path/codebooks"))
    resid.select(col("id"), col("cluster_id"),
        pq_encode(col("vec"), col("cvec"), cb).cast("array<tinyint>")
          .as("codes"),
        sqrt(dot_product(col("vec"), col("vec"))).cast("float").as("norm"))
      .write.mode("overwrite").parquet(s"$path/pqcells")
  }

  /** Reload a [[saveIvfPqIndex]]-written index. */
  def loadIvfPqIndex(spark: SparkSession, path: String): IvfPqIndex =
    IvfPqIndex(
      loadIndex(spark, s"$path/centroids"),
      spark.read.parquet(s"$path/codebooks"),
      spark.read.parquet(s"$path/pqcells"))

  /** Serve a query batch from an IVF-PQ index: probe `nProbe` cells,
    * ADC-score every candidate code ([[graft.functions.PqAdcScore]] —
    * nSub array reads each, never a vector access), keep the ADC top
    * `rerank·k` per query, then EXACT re-rank: fetch just those
    * candidates' full vectors from `fullVecs` by id (broadcast
    * semi-join — the big relation never shuffles) and rank true cosine.
    * Output (queryId, id, cosine, rank) — `cosine` is exact, the ADC
    * estimate only selects.
    *
    * Physical shape: LUT computed once per query BEFORE the probe
    * explode; probed queries (+LUT, +per-cell `dot(q,c)`) broadcast
    * into the cells relation; candidate scoring is inside whole-stage
    * codegen; both rank stages are the bounded top-k aggregate. Probe
    * IO is the quantized cells — the 8-16× shrink is exactly the
    * bytes this stage no longer reads. `rerank·k ≥ |corpus|` makes
    * the ADC cut vacuous (exhaustive re-rank ≡ brute force — the
    * oracle trick); production uses small factors (4-16) and pays
    * recall, bounded in SimilaritySpec. */
  def ivfPqTopK(index: IvfPqIndex, fullVecs: DataFrame, fvId: String,
      fvVec: String, queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nProbe: Int = 3, rerank: Int = 8): DataFrame = {
    require(k >= 1 && nProbe >= 1 && rerank >= 1,
      s"k=$k, nProbe=$nProbe, rerank=$rerank must all be >= 1")
    require(!Set("id", "cosine", "rank").contains(queryId),
      s"queryId '$queryId' collides with the output schema " +
        "(id, cosine, rank) — alias the query id column first")
    val (ids, vecs) = centroidKernel(index.centroids)
    val q = queries.select(
      col(queryId).as("__query_id"), col(queryVec).as("__query_vec"))
    if (ids.isEmpty)
      return q.limit(0).select(col("__query_id").as(queryId),
        lit(0L).as("id"), lit(0.0).as("cosine"), lit(1).as("rank"))
    val cb = codebookKernel(index.codebooks)
    val probed = q
      .withColumn("__lut", pq_lut(col("__query_vec"), cb))
      .withColumn("cluster_id",
        explode(nearest_centroids(col("__query_vec"), ids, vecs, nProbe)))
      .join(broadcast(index.centroids
        .select(col("centroid_id").as("cluster_id"), col("cvec"))), "cluster_id")
      .withColumn("__cdot", dot_product(col("__query_vec"), col("cvec")))
      .drop("cvec")
    val cand = index.cells
      .withColumn("codes", col("codes").cast("array<int>"))
      .join(broadcast(probed), Seq("cluster_id"))
      .withColumn("cosine",
        pq_adc_score(col("codes"), col("__lut"), col("__cdot"),
          col("norm").cast("double")))
    val adcTop = rankTopK(cand, "__query_id", "id", rerank * k)
      .select(col("__query_id"), col("id"))
    // exact re-rank: candidates (small) broadcast into the full-vector
    // relation — one selective pass, no corpus shuffle
    val fv = fullVecs.select(col(fvId).cast("long").as("id"),
      col(fvVec).as("__fvec"))
    val exact = fv
      .join(broadcast(adcTop.join(q, "__query_id")), Seq("id"))
      .withColumn("cosine",
        roundPortable(cosine_similarity(col("__fvec"), col("__query_vec")), 6))
    rankTopK(exact, "__query_id", "id", k)
      .withColumnRenamed("__query_id", queryId)
  }

  /** ANN top-k via hyperplane LSH: corpus and queries bucketed with the
    * same planes; candidates = same-bucket ∪ hamming-1 buckets
    * (multi-probe); exact cosine rank within candidates. */
  def annTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, bits: Int = 12, seed: Long = 42L, multiProbe: Boolean = true,
      dim: Int = -1): DataFrame = {
    // dim < 0 → infer from the first non-null corpus vector; a wrong dim
    // would silently bucket on a prefix and collapse recall. Empty (or
    // all-null-vector) corpus → empty result, not a crash.
    val planeDim =
      if (dim > 0) dim
      else corpus.select(size(col(corpusVec)).as("__d"))
        .filter(col("__d") > 0).take(1) match {
        case Array(r) => r.getInt(0)
        case _ =>
          return queries.limit(0).crossJoin(corpus.limit(0))
            .select(col(queryId), col(corpusId),
              lit(0.0).as("cosine"), lit(1).as("rank"))
      }
    val planes = hyperplanes(planeDim, bits, seed)
    val bc = withHyperplaneBucket(corpus, corpusVec, planes)
    val bq0 = withHyperplaneBucket(queries, queryVec, planes)
    // multi-probe: query also probes every bucket at hamming distance 1
    val probes =
      if (!multiProbe) bq0.withColumn("probe", col("bucket"))
      else bq0.withColumn("probe",
        explode(concat(array(col("bucket")),
          transform(sequence(lit(0), lit(bits - 1)),
            b => col("bucket").bitwiseXOR(shiftL(lit(1L), b))))))
    // broadcast the probe side (|queries|·(bits+1) rows): the bucketed
    // corpus stays in place — no corpus shuffle for candidate generation
    val cand = bc.withColumnRenamed("bucket", "probe")
      .join(broadcast(probes), Seq("probe"))
      .withColumn("cosine", roundPortable(cosine_similarity(col(corpusVec), col(queryVec)), 6))
    rankTopK(cand, queryId, corpusId, k)
  }
}
