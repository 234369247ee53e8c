package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession.Pinnable
import graft.functions.GraftFunctions._

/** Document deduplication suite — the scale-generalization of the
  * reference's key-dedup D1 (`tasks/quality_parallel.py:76-101`) to the
  * near-duplicate regimes a training-data pipeline needs.
  *
  * Algorithms are the standard public constructions: MinHash resemblance
  * sketching (Broder, "On the resemblance and containment of documents",
  * SEQUENCES 1997) with LSH banding (Leskovec/Rajaraman/Ullman, Mining of
  * Massive Datasets ch.3), and SimHash (Charikar, "Similarity estimation
  * techniques from rounding algorithms", STOC 2002; Manku et al.,
  * "Detecting near-duplicates for web crawling", WWW 2007 for the
  * chunk-join search).
  *
  * Cost ladder (pick per corpus size):
  *  - [[exactDedup]]          O(n) — one shuffle on a 128-bit content hash
  *  - [[minhashLsh]]          O(n·k) + bucket joins — the 100 TB path:
  *                            candidates only within LSH buckets, never a
  *                            full pairwise product
  *  - [[simhashBuckets]]      O(n) fingerprint + band join for hamming≤r
  *  - [[jaccardPairs]]        exact pairwise via shingle inverted index —
  *                            oracle/verification tool, quadratic in
  *                            bucket sizes; use on samples or as the
  *                            verify stage after LSH candidate generation
  */
object TextDedup {

  /** Exact dedup: group identical texts by md5 (content hash), keep the
    * lowest id as canonical. One hash-shuffle, no pairwise work. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Distinct word-n-gram shingle sets per doc (the unit of Jaccard) —
    * native [[graft.functions.WordShingles]] loop (the HOF spelling is
    * interpreted; see its scaladoc for the measured gap). */
  def withShingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs.select(col(idCol), word_shingles(col(textCol), n).as("shingles"))

  /** Exact pairwise n-gram Jaccard ≥ threshold via a shingle inverted
    * index: explode → self-join on shingle → count intersections → join
    * per-doc set sizes (broadcast — it's |docs| rows of two ints).
    *
    * The shingle join is the quadratic-in-bucket step; at scale run it
    * only on LSH candidates ([[minhashLsh]]) or a sample.
    */
  def jaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.7): DataFrame = {
    // The exploded shingle index feeds THREE plan branches (sizes + both
    // join sides). Materialize it once — without this the shingling
    // projection is recomputed per branch (3× scan+split at any scale).
    val sh = withShingles(docs, idCol, textCol, n)
      .select(col(idCol), explode(col("shingles")).as("s"))
      .pinScratch()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    // A shingle held by a single doc cannot form a pair — drop it before
    // the self-join. On natural text most shingles are unique, so this
    // shrinks the join input by an order of magnitude (sizes still count
    // every shingle, keeping the Jaccard denominator exact).
    val shared = sh.groupBy(col("s")).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= 2).select(col("s"))
    val shJoin = sh.join(shared, Seq("s"))
    val a = shJoin.select(col(idCol).as("d1"), col("s"))
    val b = shJoin.select(col(idCol).as("d2"), col("s"))
    val inter = a.join(b, Seq("s")).filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col(idCol).as("d1"), col("n_sh").as("n1"))), Seq("d1"))
      .join(broadcast(sizes.select(col(idCol).as("d2"), col("n_sh").as("n2"))), Seq("d2"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), roundPortable(col("jaccard"), 4).as("jaccard"))
  }

  /** Benchmark DECONTAMINATION: cross-corpus n-gram containment between
    * a (huge) training corpus and a (small) evaluation set — the overlap
    * check run before training so eval answers don't leak into the
    * training mix. Scores containment = |shingles(corpus doc) ∩
    * shingles(eval doc)| / |shingles(eval doc)| — the decontamination
    * metric (asymmetric on purpose: a long training document that
    * EMBEDS a short eval item scores 1.0 where symmetric Jaccard would
    * dilute it toward 0).
    *
    * 100 TB shape: the EVAL shingle index is broadcast (eval sets are
    * aggregate-sized by contract), so candidate generation is a
    * map-side join — the corpus never shuffles; only MATCHED
    * (corpus, eval) shingle hits reach the counting aggregate, whose
    * volume tracks true contamination, not corpus size.
    */
  def crossContainmentPairs(
      corpus: DataFrame, corpusId: String, corpusText: String,
      eval: DataFrame, evalId: String, evalText: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val cSh = withShingles(corpus, corpusId, corpusText, n)
      .select(col(corpusId).as("corpus_id"), explode(col("shingles")).as("s"))
    // the eval shingle relation feeds the index AND the sizes —
    // materialize once (the checkpoint-multiply-consumed pattern)
    val eShingled = withShingles(eval, evalId, evalText, n)
      .filter(size(col("shingles")) > 0)
      .pinScratch()
    val eSh = eShingled.select(col(evalId).as("eval_id"),
      explode(col("shingles")).as("s"))
    val eSizes = eShingled.select(col(evalId).as("eval_id"),
      size(col("shingles")).as("n_eval"))
    containmentFromShingles(cSh, eSh, eSizes, threshold)
  }

  /** THE single spelling of the containment verify join — shared by
    * [[crossContainmentPairs]] (eval shingled in-flight) and
    * [[Decontaminate.decontaminateAgainstIndex]] (eval shingles read
    * from the persisted artifact), so the two decontamination paths can
    * never diverge on the metric. Inputs: corpus shingles
    * `(corpus_id, s)`, eval shingles `(eval_id, s)` (distinct per doc —
    * [[withShingles]]' contract — which is what makes `count(*)` the
    * intersection size), eval sizes `(eval_id, n_eval)`. */
  private[operators] def containmentFromShingles(cSh: DataFrame,
      eSh: DataFrame, eSizes: DataFrame, threshold: Double): DataFrame =
    cSh.join(broadcast(eSh), Seq("s"))
      .groupBy(col("corpus_id"), col("eval_id"))
      .agg(count(lit(1)).as("inter")) // shingle sets are distinct per doc
      .join(broadcast(eSizes), Seq("eval_id"))
      .withColumn("containment", col("inter").cast("double") / col("n_eval"))
      .filter(col("containment") >= threshold)
      .select(col("corpus_id"), col("eval_id"),
        roundPortable(col("containment"), 4).as("containment"))

  /** MinHash signatures via the native [[graft.functions.MinHashSignature]]
    * expression: each shingle string-hashed once, slot i = min of the
    * cheap long re-hash — one codegen'd loop per row. (The equivalent
    * higher-order-function composition is CodegenFallback and interpreted
    * its lambda tree per (shingle, slot): measured 6.6 s vs 0.2 s for the
    * sf0.1 signature stage.) */
  def withMinhashSignature(shingled: DataFrame, k: Int = 32): DataFrame =
    shingled.withColumn("sig", minhash_signature(col("shingles"), k))

  /** MinHash + LSH banding near-dup detection — the 100 TB dedup path.
    *
    * Pipeline: shingle → k-slot signature → split into `bands` bands of
    * `k/bands` rows → hash each band → self-join per (band, bandHash)
    * bucket → DISTINCT candidate pairs → exact Jaccard verify on the
    * candidates only. Two hash-shuffles over n rows plus a join whose
    * size is the true near-dup candidate count (plus LSH false
    * positives), never n².
    *
    * With k=32, bands=8 (r=4): P(candidate) = 1-(1-j⁴)⁸ — ≈0.97 at j=0.8,
    * ≈0.04 at j=0.3 — a sharp threshold around j≈0.6.
    */
  def minhashLsh(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.7,
      maxBucketSize: Int = Int.MaxValue,
      /** Width of the banding/candidate shuffles. Default = sized to the
        * corpus ([[graft.GraftSession.partitionsFor]]) — SCALE.md knob
        * #2: at a fixed width the per-task state of the bucket aggregate
        * and the candidate-distinct grows linearly with the corpus (the
        * measured 100× OOM); tracking rows keeps it bounded. Applied as
        * explicit repartition-by-key nodes so the width binds in the
        * plan regardless of session conf. */
      numPartitions: Option[Int] = None): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands
    // Docs with no shingles (< n tokens) would all share the identical
    // all-sentinel signature and collide in EVERY band — a quadratic
    // candidate blowup on short-doc-heavy corpora. They can't be n-gram
    // near-dups by definition: drop them before signing.
    val signable = withShingles(docs, idCol, textCol, n)
      .filter(size(col("shingles")) > 0)
    // Signature computation (k hashes × every shingle) is the expensive
    // stage and is consumed by FOUR plan branches: both sides of the
    // band-bucket self-join and both sides of the verify join. Materialize
    // it once (at cluster scale this would be a parquet/checkpoint stage;
    // the lineage-truncating local checkpoint is the single-app form).
    val sigs = withMinhashSignature(signable, k)
      .pinScratch()
    val shingled = sigs.select(col(idCol), col("shingles"))
    // count on the just-materialized checkpoint — no extra input pass
    val p = numPartitions.getOrElse(
      graft.GraftSession.partitionsFor(docs.sparkSession, sigs.count()))

    // repartition BEFORE capBuckets: the sizes aggregate, the cap join
    // and the candidate self-join all cluster on (band, bh), so one
    // corpus-sized exchange serves all three (ReuseExchange dedups the
    // two sides' identical subtrees).
    val bucketed = capBuckets(
      withBands(sigs, idCol, bands, r).repartition(p, col("band"), col("bh")),
      maxBucketSize)
    val cand = bucketed.select(col(idCol).as("d1"), col("band"), col("bh"))
      .join(bucketed.select(col(idCol).as("d2"), col("band"), col("bh")), Seq("band", "bh"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      // cluster the dedup on the pair key at the scaled width — the
      // fixed-width distinct was the measured 100× OOM site
      .repartition(p, col("d1"), col("d2")).distinct()

    // verify candidates with exact Jaccard on the (small) shingle arrays
    val sets = shingled.select(col(idCol), col("shingles"))
    cand
      .join(sets.select(col(idCol).as("d1"), col("shingles").as("sh1")), Seq("d1"))
      .join(sets.select(col(idCol).as("d2"), col("shingles").as("sh2")), Seq("d2"))
      .withColumn("jaccard", jaccard(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), roundPortable(col("jaccard"), 4).as("jaccard"))
  }

  /** A persisted-form MinHash LSH index: the banded bucket keys
    * (`bands`: id, band, bh) and the shingle sets the verify stage
    * needs (`shingles`: id, shingles), plus the signing parameters —
    * everything required to dedup a FUTURE batch against this corpus
    * without re-shingling or re-signing it. Built by
    * [[buildMinhashIndex]], persisted by [[saveMinhashIndex]] /
    * [[loadMinhashIndex]], queried by [[minhashLshAgainstIndex]]. */
  final case class MinhashIndex(
      bands: DataFrame, shingles: DataFrame, n: Int, k: Int, numBands: Int)

  /** Sign a corpus once into a [[MinhashIndex]] (shingle → signature →
    * banding — the same kernels as [[minhashLsh]], so index and
    * self-dedup can never disagree on bucket keys). */
  def buildMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 8): MinhashIndex = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    // one signature pass feeds both the banding and the shingle relation
    val sigs = withMinhashSignature(
      withShingles(docs, idCol, textCol, n).filter(size(col("shingles")) > 0), k)
      .pinScratch()
    MinhashIndex(
      withBands(sigs, idCol, bands, k / bands)
        .select(col(idCol).as("id"), col("band"), col("bh")),
      sigs.select(col(idCol).as("id"), col("shingles")),
      n, k, bands)
  }

  /** Build and persist a [[MinhashIndex]] as parquet (`bands/`,
    * `shingles/`, one-row `meta/` carrying the signing parameters so a
    * loader can never band a batch with mismatched n/k/bands). The
    * offline half of incremental dedup: at 100 TB this runs once per
    * corpus snapshot; each incoming batch pays only its own signing.
    * A save is a full rebuild ([[graft.operators.IndexFs.resetForRebuild]]). */
  def saveMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, n: Int = 3, k: Int = 32, bands: Int = 8): Unit = {
    val spark = docs.sparkSession
    IndexFs.resetForRebuild(spark, path)
    val idx = buildMinhashIndex(docs, idCol, textCol, n, k, bands)
    idx.bands.write.mode("overwrite").parquet(s"$path/bands")
    idx.shingles.write.mode("overwrite").parquet(s"$path/shingles")
    spark.range(1)
      .select(lit(n).as("n"), lit(k).as("k"), lit(bands).as("bands"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Fold an ACCEPTED batch into a persisted index: sign the batch with
    * the index's own persisted parameters (meta row — the caller cannot
    * mismatch n/k/bands) and APPEND its band and shingle rows to the
    * parquet relations (≙ the reference's closest analog: the
    * upsert-shaped JSONL ledger, `utils/paths.py:75-96` — fold new run
    * rows in without rewriting history; here generalized to the dedup
    * index itself). The index-maintenance step of the crawl loop:
    * dedup a batch against the index ([[minhashLshAgainstIndex]]), drop
    * its duplicates, append the survivors — after which the NEXT batch
    * sees them, with per-batch cost tracking the BATCH (signing + two
    * batch-sized appends), never the corpus; a full [[buildMinhashIndex]]
    * re-sign is only ever needed to compact or re-parameterize.
    * Append-after-append ≡ full rebuild because both run the exact same
    * signing kernels ([[buildMinhashIndex]] is called on the batch here)
    * and band keys are a pure function of (text, n, k, bands) — oracled
    * end-to-end by q_minhash_index_append.
    *
    * Exactly-once per `commitTag` via
    * [[graft.operators.IndexFs.stagedAppend]]: the batch's relations
    * stage under `staged/<tag>/` and land with one atomic directory
    * rename to `commits/<tag>/`; a replay of an already-landed tag
    * writes nothing and returns false, INCLUDING after a compaction
    * folded the tag into the base, because the fold leaves a
    * `committed/<tag>` tombstone that
    * [[graft.operators.IndexFs.isCommitted]] honors. Because commits
    * live BESIDE the base relations, a concurrent [[compactMinhashIndex]]
    * can never swap a just-landed batch away: compaction folds only the
    * commits it listed at start and deletes exactly those. The
    * streaming/crawl loop ([[graft.streaming.StreamingOps.incrementalDedupStream]])
    * keys the tag by batch id.
    * The caller owns id uniqueness across appends (see the id-space
    * contract on [[minhashLshAgainstIndex]]).
    *
    * @return true if the batch's rows landed in this call; false when
    *         `commitTag` was already committed (idempotent skip). */
  def appendToMinhashIndex(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, commitTag: String): Boolean = {
    val spark = newDocs.sparkSession
    if (IndexFs.isCommitted(spark, path, commitTag))
      return false // already landed (live commit OR folded tombstone) —
                   // skip even the batch signing
    val m = spark.read.parquet(s"$path/meta").head()
    val idx = buildMinhashIndex(newDocs, idCol, textCol,
      m.getAs[Int]("n"), m.getAs[Int]("k"), m.getAs[Int]("bands"))
    IndexFs.stagedAppend(spark, path, commitTag,
      Seq("bands" -> idx.bands, "shingles" -> idx.shingles))
  }

  /** Compact a persisted index IN PLACE without re-signing any
    * document: fold the base relations plus every LANDED commit
    * ([[appendToMinhashIndex]] tags) through distinct → rewrite, so the
    * cost tracks INDEX size (id + hashes + shingle sets), never corpus
    * text. Three things accumulate under appends and all collapse
    * here: (a) duplicate rows, from the same rows appended under two
    * tags or from a commit a stopped compaction published but did not
    * retire (identical rows collapse exactly under `distinct`),
    * (b) per-append small part-files and commit dirs (each batch lands its own files;
    * at daily-crawl cadence the scan cost creeps — the rewrite re-bins
    * to the partition width the compacted size asks for and retires the
    * commit dirs into the base), and (c) the `commits/` listing itself.
    * Distinct DOCUMENTS sharing an id are an id-space violation (see
    * [[minhashLshAgainstIndex]]) and are NOT merged.
    *
    * Folded tags leave `committed/<tag>` tombstones
    * ([[graft.operators.IndexFs.markCommitted]]) so replay protection
    * SURVIVES the fold; orphaned `staged/` dirs from crashed appends
    * are reaped (see [[compactIndex]]).
    *
    * Concurrency contract: appends may run concurrently with
    * compaction — the commit set is snapshotted up front, only those
    * dirs are folded and deleted, and a batch committing mid-compact
    * simply stays in `commits/` for the next cycle (TextDedupSpec
    * "tagged appends are exactly-once, excludable at load, and survive
    * a concurrent compact" lands one right after the listing). Crash-safe via
    * [[graft.operators.IndexFs.publishRelation]] (write-then-swap): a
    * crash mid-compact leaves every row reachable (at worst both in the
    * new base and in a not-yet-deleted commit dir — duplicates,
    * collapsed by the next compact). */
  def compactMinhashIndex(spark: SparkSession, path: String): Unit = {
    val numBands = spark.read.parquet(s"$path/meta").head().getAs[Int]("bands")
    compactIndex(spark, path, Seq("bands", "shingles"), n => {
      val p = graft.GraftSession.partitionsFor(spark, n)
      Seq(p, math.max(1, p / math.max(1, numBands)))
    })
  }

  /** The shared compact engine (minhash and embedding twins): snapshot
    * the landed commits, fold base + exactly those commits per relation
    * (distinct at the width `widths` assigns from the first relation's
    * row count), swap each in, then delete ONLY the folded commit dirs.
    * Relation DataFrames are built from explicit dir lists, so a commit
    * landing after the snapshot is neither read nor deleted. A stop
    * between the publish and the commit retirement leaves duplicates
    * that probes do not repeat (TextDedupSpec "a compaction stopped
    * between its publish and the commit retirement …"); CrashSweepSpec
    * crashes it at every point. */
  private[graft] def compactIndex(spark: SparkSession, path: String,
      relations: Seq[String], widths: Long => Seq[Int]): Unit = {
    // a crashed refit leaves family metadata and bucket/cell rows that
    // may disagree — folding commits into that base would entrench the
    // mixed-family state; converge with a refit re-run first
    IndexFs.requireNoCrashedRefit(spark, path)
    relations.foreach(r => IndexFs.rollForwardPublish(spark, s"$path/$r"))
    // the snapshot / fold / orphan-reap machinery is shared with the
    // index refits (IndexFs.maintenanceSnapshot / retireFoldedCommits /
    // reapDeadOrphans — one spec-proven copy of the ordering)
    val snapshot = IndexFs.maintenanceSnapshot(spark, path)
    def read(name: String): DataFrame = spark.read.parquet(
      (s"$path/$name" +:
        snapshot.landed.map(t => s"$path/commits/$t/$name")): _*)
    val ws = widths(read(relations.head).count())
    relations.zip(ws).foreach { case (name, w) =>
      IndexFs.publishRelation(read(name).distinct().repartition(w), s"$path/$name")
    }
    IndexFs.retireFoldedCommits(spark, path, snapshot.landed)
    IndexFs.reapDeadOrphans(spark, path, snapshot)
  }

  /** Reload a [[saveMinhashIndex]]-written index (base relations plus
    * every landed commit); parameters come from the persisted meta row,
    * never the caller. `excludeCommits` hides specific append tags —
    * how a replayed streaming batch reads the index exactly as its
    * first execution did (see
    * [[graft.streaming.StreamingOps.incrementalDedupStream]]).
    *
    * Exclusion can hide only commits NOT YET folded: once a compaction
    * folds a tag into the base, its rows are indistinguishable there
    * and the pre-append state genuinely cannot be reconstructed. The
    * APPEND side stays exactly-once across the fold (tombstones —
    * [[appendToMinhashIndex]]), so the index is never corrupted; what
    * the fold bounds is byte-determinism of a REPLAYED batch's own
    * output, which may then see self-matches its first execution
    * lacked. Operators needing replay determinism should compact on a
    * cadence longer than their replay horizon (e.g. checkpoint
    * retention). */
  def loadMinhashIndex(spark: SparkSession, path: String,
      excludeCommits: Set[String] = Set.empty): MinhashIndex = {
    val m = spark.read.parquet(s"$path/meta").head()
    MinhashIndex(
      spark.read.parquet(IndexFs.relationDirs(spark, path, "bands", excludeCommits): _*),
      spark.read.parquet(IndexFs.relationDirs(spark, path, "shingles", excludeCommits): _*),
      m.getAs[Int]("n"), m.getAs[Int]("k"), m.getAs[Int]("bands"))
  }

  /** INCREMENTAL near-dup dedup: new batch vs a prebuilt
    * [[MinhashIndex]], emitting (new_id, index_id, jaccard ≥ threshold)
    * — the daily-crawl shape: the corpus was signed once, offline; this
    * operator signs ONLY the batch and finds its duplicates against the
    * index through the same band-bucket candidate generation and exact
    * Jaccard verify as [[minhashLsh]].
    *
    * Physical shape by regime:
    *  - broadcast regime (the intended incremental case — batch ≤
    *    `broadcastMaxNewDocs` docs AND the batch's shingle payload ≤
    *    [[verifyBroadcastMaxBytes]], estimated from actual shingle
    *    lengths: doc COUNT alone would let a 50k-doc long-document
    *    batch broadcast GBs): the batch's band rows BROADCAST into the
    *    bucket join, so the index side is a pure scan — no corpus-sized
    *    shuffle anywhere; the verify stage semi-joins the index shingles
    *    down to matched ids (broadcast again) before the final join, so
    *    index shingles never shuffle either. Per-batch cost = batch
    *    signing + one index scan + work proportional to MATCHES. The
    *    candidate set itself is counted before the verify broadcasts:
    *    past `maxBroadcastCandidates` (a hot templated-text bucket with
    *    the default uncapped `maxBucketSize` can make matches
    *    corpus-scale) the verify degrades to the repartitioned joins
    *    instead of OOMing the driver.
    *  - bigger batches: symmetric repartitioned joins at the
    *    corpus-tracked width, exactly [[minhashLsh]]'s plan shape.
    *
    * `maxBucketSize` caps each SIDE's bucket population (the
    * [[capBuckets]] trade); a bucket can still emit capA×capB cross
    * candidates — set the cap with that product in mind.
    *
    * Id-space contract: `new_id =!= index_id` assumes batch and index
    * ids are either DISJOINT or that an equal id means the same document
    * (re-submitted rows skip self-matching). If two DIFFERENT documents
    * can share an id across the two corpora, remap one side first — a
    * genuine cross-corpus duplicate on a colliding id would be silently
    * dropped. */
  def minhashLshAgainstIndex(
      newDocs: DataFrame, idCol: String, textCol: String,
      index: MinhashIndex, threshold: Double = 0.7,
      maxBucketSize: Int = Int.MaxValue,
      broadcastMaxNewDocs: Long = 50000L,
      /** Byte bound for the batch's broadcast shingle payload (estimated
        * from actual shingle lengths — doc count alone is blind to
        * document LENGTH). */
      broadcastMaxNewBytes: Long = verifyBroadcastMaxBytes,
      /** Verify-stage fallback bound: candidate pairs counted above this
        * route through the shuffle verify (the broadcast of match-sized
        * relations stops being "match-sized" under hot buckets). */
      maxBroadcastCandidates: Long = 2000000L,
      numPartitions: Option[Int] = None): DataFrame = {
    val spark = newDocs.sparkSession
    val sigs = withMinhashSignature(
      withShingles(newDocs, idCol, textCol, index.n)
        .filter(size(col("shingles")) > 0), index.k)
      .pinScratch()
    val nNew = sigs.count()
    val newBands = capBuckets(
      withBands(sigs, idCol, index.numBands, index.k / index.numBands),
      maxBucketSize)
      .select(col(idCol).as("new_id"), col("band"), col("bh"))
    val idxBands = capBuckets(index.bands, maxBucketSize)
      .select(col("id").as("index_id"), col("band"), col("bh"))
    val newSets = sigs.select(col(idCol).as("new_id"), col("shingles").as("sh1"))
    val idxSets = index.shingles
      .select(col("id").as("index_id"), col("shingles").as("sh2"))
    // Broadcast decision on estimated BYTES, not just doc count: the
    // payload that ships is the shingle sets, whose size tracks document
    // LENGTH — one aggregate over the already-checkpointed signatures
    // (string bytes + per-element overhead), same bound as the embedding
    // verify's. Evaluated lazily: count-disqualified batches never pay it.
    lazy val newSetBytes: Long = sigs.agg(
      coalesce(sum(aggregate(col("shingles"), lit(0L),
        (acc, s) => acc + length(s) + lit(16L)) + lit(32L)), lit(0L)))
      .head().getLong(0)
    val shuffleWidth = () => numPartitions.getOrElse(
      graft.GraftSession.partitionsFor(spark,
        nNew + index.bands.count() / math.max(1, index.numBands)))
    def shuffleVerify(cand: DataFrame, p: Int): DataFrame =
      cand.repartition(p, col("new_id")).join(newSets, Seq("new_id"))
        .repartition(p, col("index_id")).join(idxSets, Seq("index_id"))
    val verified =
      if (nNew <= broadcastMaxNewDocs && newSetBytes <= broadcastMaxNewBytes) {
        val cand = idxBands.join(broadcast(newBands), Seq("band", "bh"))
          .filter(col("new_id") =!= col("index_id"))
          .select("new_id", "index_id").distinct()
          .pinScratch() // counted, then feeds the verify joins
        if (cand.count() <= maxBroadcastCandidates) {
          // matched ids only — the index shingle relation is scanned, not
          // shuffled, and everything downstream is match-sized
          val matchedIdx = idxSets.join(
            broadcast(cand.select("index_id").distinct()), Seq("index_id"))
          cand.join(broadcast(newSets), Seq("new_id"))
            .join(matchedIdx, Seq("index_id"))
        } else shuffleVerify(cand, shuffleWidth())
      } else {
        val p = shuffleWidth()
        val cand = idxBands.repartition(p, col("band"), col("bh"))
          .join(newBands.repartition(p, col("band"), col("bh")), Seq("band", "bh"))
          .filter(col("new_id") =!= col("index_id"))
          .select("new_id", "index_id")
          .repartition(p, col("new_id"), col("index_id")).distinct()
        shuffleVerify(cand, p)
      }
    // an index row held twice (one batch appended under two tags, or a
    // compaction stopped before its commit retirement) joins twice; the
    // distinct keeps each pair once, and needs no exchange of its own
    // (both arms are already clustered on the pair's ids)
    verified
      .withColumn("jaccard", jaccard(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("index_id"),
        roundPortable(col("jaccard"), 4).as("jaccard"))
      .distinct()
  }

  /** LSH banding: one (band, bandHash) row per signature band — the
    * bucket key of the candidate self-join. Shared by [[minhashLsh]] and
    * the persisted index ([[buildMinhashIndex]]), so a self-dedup and an
    * index probe bucket identically. At the shipped k = 32, bands = 8
    * with a 100-doc bucket cap, the sf0.01 and sf0.1 testdata corpora
    * lost no pair against exact Jaccard at threshold 0.7. */
  def withBands(sigs: DataFrame, idCol: String, bands: Int, r: Int): DataFrame =
    sigs.select(
      col(idCol),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        j => struct(j.as("band"), xxhash64(slice(col("sig"), j * r + 1, lit(r))).as("bh"))))
        .as("b"))
      .select(col(idCol), col("b.band").as("band"), col("b.bh").as("bh"))

  /** Bucket-size cap: a bucket holding B docs emits B²/2 candidates in
    * the downstream self-join. On natural text big buckets are rare; on
    * degenerate corpora (tiny vocab, templated text) a single hot bucket
    * can dominate the whole job. Capped buckets are SKIPPED — a
    * deliberate recall trade documented to the caller via the parameter
    * (no silent default in the operators: Int.MaxValue keeps exact
    * behavior unless opted in). Shared by the minhash banding
    * (`band`/`bh` keys) and the simhash chunk join (`chunk`/`ch`). */
  def capBuckets(banded: DataFrame, maxBucketSize: Int,
      keyCols: Seq[String] = Seq("band", "bh")): DataFrame =
    if (maxBucketSize == Int.MaxValue) banded
    else {
      val keys = keyCols.map(col)
      val sizes = banded.groupBy(keys: _*)
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") <= maxBucketSize)
        .select(keys: _*)
      banded.join(sizes, keyCols)
    }

  /** SimHash near-dup buckets: 64-bit fingerprint per doc; candidate pairs
    * = docs sharing at least one of `chunks` fingerprint chunks (the
    * pigeonhole guarantee: hamming ≤ chunks-1 ⇒ some chunk equal), then
    * exact hamming filter ≤ `maxHamming`. */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      chunks: Int = 4, maxHamming: Int = 3,
      fingerprint: Column => Column = ts => simhash64(ts),
      /** Hot-bucket guard, same trade as [[minhashLsh]]'s: a (chunk,
        * value) bucket of B docs feeds B²/2 join pairs, and a 16-bit
        * chunk key has only 65 536 values — at web scale buckets grow
        * linearly with the corpus, so the cap is what keeps the join
        * candidate-bounded. Capping forfeits the pigeonhole EXACTNESS
        * for pairs whose only shared chunk was hot. */
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    simhashPairsFromFingerprints(
      docs.select(col(idCol), fingerprint(split(col(textCol), " ")).as("fp")),
      idCol, "fp", chunks, maxHamming, maxBucketSize)

  /** The chunk-pigeonhole pair search over an already-computed
    * `(id, fingerprint)` relation — the [[simhashPairs]] back half, public
    * so a caller can materialize the fingerprints (e.g. snapshot them for
    * an external checker) and still run the identical join machinery. */
  def simhashPairsFromFingerprints(
      fps: DataFrame, idCol: String, fpCol: String,
      chunks: Int = 4, maxHamming: Int = 3,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // chunks=1 would compute mask via 1L<<64 (wraps to mask 0: every doc
    // in one bucket → full cross product) and implies maxHamming<=0;
    // non-divisors would drop fingerprint bits from the bucketing.
    require(chunks >= 2 && 64 % chunks == 0,
      s"chunks=$chunks must divide 64 and be >= 2")
    // Recall regime: EXACT when maxHamming < chunks (pigeonhole: hamming
    // ≤ chunks-1 ⇒ some chunk equal — the default 4/3 config), otherwise
    // approximate (pairs differing in every chunk are never candidates).
    // Fingerprints feed both sides of the chunk self-join — materialize.
    val fp = fps.select(col(idCol), col(fpCol).as("fp"))
      .pinScratch()
    val w = 64 / chunks
    val chunked = fp.select(col(idCol), col("fp"),
      explode(transform(sequence(lit(0), lit(chunks - 1)),
        j => struct(j.as("chunk"),
          shiftRUnsigned(col("fp"), j * lit(w)).bitwiseAND(lit((1L << w) - 1)).as("ch"))))
        .as("c"))
      .select(col(idCol), col("fp"), col("c.chunk").as("chunk"), col("c.ch").as("ch"))
    val bucketed = capBuckets(chunked, maxBucketSize, Seq("chunk", "ch"))
    bucketed.select(col(idCol).as("d1"), col("fp").as("fp1"), col("chunk"), col("ch"))
      .join(bucketed.select(col(idCol).as("d2"), col("fp").as("fp2"), col("chunk"), col("ch")),
        Seq("chunk", "ch"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2", "fp1", "fp2").distinct()
      .withColumn("hamming", hamming64(col("fp1"), col("fp2")))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Connected components of a near-dup pair relation — the cluster step
    * real corpus pipelines run on LSH pairs: pairwise drops (keep-first)
    * under-merge chains (A~B, B~C but A≁C), while components give each
    * duplicate CLUSTER one canonical id (its minimum member).
    *
    * Algorithm: alternating large-star/small-star (Kiveris et al.,
    * "Connected components in MapReduce and beyond", SoCC 2014,
    * Alg. 3). Edges are kept directed at the smaller id (src > dst);
    * large-star re-hangs every LARGER-than-u neighbor off the minimum
    * of u's closed neighborhood, small-star re-hangs u and its SMALLER
    * neighbors off that minimum. The fixed point is a star forest —
    * every non-root points directly at its component's minimum id — and
    * it is reached in O(log² n) alternations REGARDLESS of component
    * diameter, where min-label propagation (this operator's previous
    * algorithm) needs diameter+1 rounds: a million-node edit chain is
    * ~a dozen alternations here vs a million shuffles there. Each
    * alternation is a bounded handful of shuffles carrying |edges|
    * rows, and the edge set is localCheckpointed per round so the plan
    * doesn't grow with iterations (lineage would otherwise double per
    * round).
    *
    * @param pairs relation with two id columns (`d1Col`, `d2Col`), one
    *              row per undirected edge
    * @return (node, component) — every node appearing in `pairs`, with
    *         component = min id reachable from it
    */
  def connectedComponents(
      pairs: DataFrame, d1Col: String = "d1", d2Col: String = "d2",
      /** Alternation budget, NOT a diameter bound. Observed behavior is
        * ≈log n alternations (a 1M-node pure chain converges in ~20);
        * the PROVEN worst case is O(log² n), which at n = 10⁹ allows
        * ≈900 — hence a default sized to the BOUND, not the observation:
        * the loop exits at the fixed point, so the generous budget costs
        * nothing on real graphs and only caps a genuinely pathological
        * non-convergence (which still fails loudly via `require`). */
      maxIter: Int = 1000,
      /** Size-adaptive strategy switch: a pair set at or below this is
        * collected and union-found on the driver (near-dup pair sets are
        * usually aggregate-sized — tiny relative to the corpus — and a
        * driver pass beats paying log-many distributed rounds of fixed
        * cost); above it, the star-contraction loop runs fully
        * distributed. Both paths produce identical components. */
      driverUnionFindLimit: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    // every snapshot is a localPin, and each is unpinned as soon as it
    // is superseded — otherwise up to maxIter full label snapshots pile
    // up in the block manager until the caller's scope closes
    import graft.GraftSession.{localPin, unpin}

    val dedupedPairs = localPin(
      pairs.select(col(d1Col).as("p1"), col(d2Col).as("p2")).distinct())
    // The driver path reads ids as primitive longs — gate it on BOTH
    // pair columns being LongType so int/string ids route to the
    // type-generic distributed loop (same components, same schema as the
    // input) instead of a runtime ClassCastException.
    val bothLong = Seq(d1Col, d2Col).forall(c =>
      pairs.schema(c).dataType == org.apache.spark.sql.types.LongType)
    if (bothLong && dedupedPairs.count() <= driverUnionFindLimit) {
      // driver union-find (path compression; representative = min id).
      // find is ITERATIVE — recursive path compression would overflow
      // the stack on a degenerate chain near the size limit.
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x
        while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        root
      }
      def union(a: Long, b: Long): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = scala.collection.mutable.LinkedHashSet.empty[Long]
      dedupedPairs.collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        nodes += a += b
        union(a, b)
      }
      import spark.implicits._
      val result = nodes.toSeq.map(n => (n, find(n)))
      val out = result.toDF("node", "component")
      unpin(dedupedPairs) // collected — the checkpoint blocks are done
      return out
    }
    // the node set is pinned BEFORE self-loops are dropped, so a node
    // that only ever appears as (a, a) still gets its self-labeled row
    // blocks stay live past return (the result reads them) — released
    // with the caller's scratch scope, like the final edge snapshot
    val allNodes = localPin(
      dedupedPairs.select(col("p1").as("node"))
        .union(dedupedPairs.select(col("p2").as("node")))
        .distinct())
    var edges = localPin(
      dedupedPairs.filter(col("p1") =!= col("p2"))
        .select(greatest(col("p1"), col("p2")).as("src"),
          least(col("p1"), col("p2")).as("dst"))
        .distinct())
    unpin(dedupedPairs) // nodes + edges materialized — the pair snapshot is done
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star over both orientations: m = min(Γ(u) ∪ {u}); every
      // neighbor v > u re-hangs as (v, m). Output keeps src > dst:
      // m ≤ u < v always.
      val nbrs = edges.union(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val withMin = nbrs.groupBy("src").agg(min("dst").as("__mn"))
        .select(col("src"), least(col("src"), col("__mn")).as("__m"))
      val large = nbrs.join(withMin, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("__m").as("dst"))
        .distinct()
      // small-star on the (big → small) edges: m = min of u's smaller
      // neighbors (≤ all of them ≤ u); u and each smaller neighbor
      // re-hang as (·, m). The root's own (m, m) row is filtered.
      val sMin = large.groupBy("src").agg(min("dst").as("__m"))
      val joined = large.join(sMin, "src")
      val next = localPin(
        joined.select(col("src"), col("__m").as("dst"))
          .union(joined.select(col("dst").as("src"), col("__m").as("dst")))
          .filter(col("src") =!= col("dst"))
          .distinct())
      // fixed point = edge set unchanged (both are distinct sets, so
      // equal counts + empty one-sided anti-join ⇒ set equality)
      converged = next.count() == edges.count() &&
        next.join(edges, Seq("src", "dst"), "left_anti").isEmpty
      unpin(edges) // superseded snapshot — both consumers are done
      edges = next
      i += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter alternations — " +
        "pathological for star-contraction (needs O(log² n)); raise maxIter")
    // converged edges are a star forest: every non-root has exactly one
    // (node → root) row; roots and self-loop-only nodes label themselves
    allNodes.join(edges.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("dst"), col("node")).as("component"))
  }

  /** Quality-aware duplicate-cluster canonicalization: given the docs
    * relation (with a per-doc quality score — [[graft.functions
    * .TextAnalysis]]' quality, an LM perplexity, any caller metric) and
    * the near-dup PAIRS, label clusters via [[connectedComponents]] and
    * keep the BEST-scoring member of each cluster instead of the
    * conventional smallest-id one — the representative-selection rule
    * real curation pipelines want: when a page and its mirror differ
    * only in extraction noise, keep the cleaner extraction, not the one
    * that happened to crawl first.
    *
    * Scale posture: components cost what [[connectedComponents]] costs
    * (pair-set-sized, never corpus-sized); the label relation is then
    * LEFT-joined onto the corpus (docs outside every pair are their own
    * singleton cluster — no explosion), and the per-cluster argmax is a
    * bounded 1-row-per-cluster struct-max aggregate with map-side
    * partials, shipped back by ONE equi-join on the cluster label.
    * Nothing here is ever quadratic in the corpus.
    *
    * Determinism: the argmax orders by (rounded score desc, id asc) —
    * `max(struct(score, -id))` with the rounding shared by both engines
    * of the oracle — so equal-quality duplicates keep the smaller id,
    * and the result is partitioning-independent.
    *
    * NULL scores sort below every real score (the struct-max skips to
    * a scored member when one exists); an all-null cluster falls back
    * to pure smallest-id. Output: one row per INPUT doc — (idCol,
    * `component`, `rep_id`, `is_rep`, scoreCol) — so both the kept set
    * (`is_rep`) and the drop audit (who replaced me) read off one
    * relation. */
  def clusterRepresentatives(
      docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, d1Col: String = "d1", d2Col: String = "d2",
      roundDecimals: Int = 6): DataFrame = {
    Seq(idCol, scoreCol).foreach(c =>
      require(docs.columns.contains(c),
        s"column $c absent from ${docs.columns.mkString(",")}"))
    val comps = connectedComponents(pairs, d1Col, d2Col)
    val labeled = docs
      .select(col(idCol), roundPortable(col(scoreCol).cast("double"),
        roundDecimals).as(scoreCol))
      .join(comps.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    // (score desc, id asc) argmax: struct comparison is lexicographic,
    // null score sorts FIRST under asc — i.e. last under max — exactly
    // the "prefer any scored member" rule documented above
    val reps = labeled
      .groupBy(col("component"))
      .agg(max(struct(col(scoreCol).as("s"),
        (-col(idCol)).as("ni"), col(idCol).as("rid"))).as("__r"))
      .select(col("component"), col("__r.rid").as("rep_id"))
    labeled
      .join(reps, "component")
      .select(col(idCol), col("component"), col("rep_id"),
        (col(idCol) === col("rep_id")).as("is_rep"), col(scoreCol))
  }

  /** Embedding near-dup: pairs with cosine ≥ threshold. Exact pairwise —
    * the verify/oracle tool. At scale use [[embeddingNearDupPairsLsh]],
    * which generates candidates through bucket joins and applies this
    * exact predicate only within them. */
  def embeddingNearDupPairs(
      vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = vecs.select(col(idCol).as("d1"), col(vecCol).as("v1"))
    val b = vecs.select(col(idCol).as("d2"), col(vecCol).as("v2"))
    a.join(b, col("d1") < col("d2"))
      .withColumn("cosine", cosine_similarity(col("v1"), col("v2")))
      .filter(col("cosine") >= threshold)
      .select(col("d1"), col("d2"), roundPortable(col("cosine"), 6).as("cosine"))
  }

  /** Embedding near-dup via multi-table sign-random-projection LSH — the
    * scale path (mirror of the [[minhashLsh]] design: bucket join for
    * candidates, exact similarity as the verify stage).
    *
    * Each of `tables` tables buckets every vector by `bits` hyperplane
    * signs (Charikar SRP: P[bit agrees] = 1 − θ/π); candidates are
    * same-(table, bucket) pairs, OR-ed across tables, then verified with
    * exact cosine ≥ threshold. Never forms the n² product — the join key
    * is (table, bucket).
    *
    * Recall per pair = 1 − (1 − pᵇ)ᵗ with p = 1 − θ/π. The DEFAULTS
    * solve both sides of that trade from the corpus and the threshold:
    * bits = [[srpBitsFor]](n) bounds in-bucket work, then tables =
    * [[srpTablesFor]](bits, threshold) buys back the recall those bits
    * cost (per-pair miss ≤ 1e-4 a priori). Planes are seeded literals:
    * plans — and hence realized recall on a fixed corpus — are
    * deterministic across runs and executors.
    */
  /** SRP bucket width for an expected per-bucket population near
    * `targetBucketSize`: buckets per table = 2^bits, so bits =
    * ceil(log2(n / target)). THE SCALE KNOB of [[embeddingNearDupPairsLsh]]:
    * in-bucket candidate work is B²/2 per bucket, so a FIXED bits value
    * degrades quadratically as the corpus grows (measured: defaults
    * bits=4 went 1.1 s → 46 s on a 10× corpus; bits from this helper
    * restore near-linear growth). Fewer bits per table lower per-table
    * recall; compensate with `tables` (recall = 1 − (1 − pᵇ)ᵗ,
    * p = 1 − θ/π). Clamped to [1, 30]. */
  def srpBitsFor(n: Long, targetBucketSize: Int = 32): Int =
    math.min(30, math.max(1,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucketSize)) /
        math.log(2.0)).toInt))

  /** The OTHER half of the SRP scale knob: [[srpBitsFor]] widens the
    * bucket key to bound in-bucket work, which LOWERS per-table recall —
    * this sizes the table count to buy it back. Per-pair recall at
    * cosine = threshold is 1 − (1 − pᵇ)ᵗ with p = 1 − θ/π
    * (θ = acos(threshold)), so t = ln(missProb) / ln(1 − pᵇ) holds the
    * a-priori per-pair miss probability at `targetMissProb` regardless
    * of corpus size. Capped at `maxTables` (each table costs b·dim
    * multiplies per vector and n bucket rows): past the cap the target
    * is unattainable for that (threshold, bits) point — raise
    * `targetBucketSize` in [[srpBitsFor]], use a higher threshold, or
    * fall back to [[embeddingNearDupPairs]]. Planes are seeded, so the
    * realized recall for a given corpus is deterministic — gate-critical
    * configs are verified empirically, not just by this formula. */
  def srpTablesFor(bits: Int, threshold: Double,
      targetMissProb: Double = 1e-4, maxTables: Int = 256): Int =
    math.min(maxTables, srpTablesNeeded(bits, threshold, targetMissProb))

  /** The UNCAPPED table count for (bits, threshold, targetMissProb) —
    * what [[srpTablesFor]] would return with no `maxTables` bound
    * (clamped to Int range). */
  private def srpTablesNeeded(bits: Int, threshold: Double,
      targetMissProb: Double): Int = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val pb = math.pow(p, bits)
    if (pb >= 1.0) 1
    else {
      val t = math.ceil(math.log(targetMissProb) / math.log1p(-pb))
      if (t > Int.MaxValue) Int.MaxValue else math.max(1, t.toInt)
    }
  }

  /** True when [[srpTablesFor]]'s `maxTables` cap truncated the table
    * count for this config — i.e. the a-priori per-pair recall target is
    * NOT attainable and realized recall degrades silently as bits grow
    * with the corpus. Recall-gated builds assert on this
    * ([[buildEmbeddingIndex]] `requireRecallTarget`). */
  def srpConfigCapped(bits: Int, threshold: Double,
      targetMissProb: Double = 1e-4, maxTables: Int = 256): Boolean =
    srpTablesNeeded(bits, threshold, targetMissProb) > maxTables

  def embeddingNearDupPairsLsh(
      vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double,
      /** Bucket width per table. Default (-1) sizes it to the corpus via
        * [[srpBitsFor]], the default because a fixed bits value
        * measurably blew up quadratically: it degrades B²/2-per-bucket
        * as the corpus grows. Explicit values keep exact caller control. */
      bits: Int = -1,
      /** Table count. Default (-1) sizes it from (bits, threshold) via
        * [[srpTablesFor]] so the per-pair recall target survives the
        * corpus-sized bits — wider bucket keys alone would silently
        * trade recall for speed as n grows. */
      tables: Int = -1,
      seed: Long = 42L, dim: Int = -1,
      /** Width of the bucket/candidate shuffles; default sized to the
        * corpus ([[graft.GraftSession.partitionsFor]]) — same knob as
        * [[minhashLsh]]'s. */
      numPartitions: Option[Int] = None): DataFrame = {
    require(bits == -1 || (bits >= 1 && bits <= 30), s"bits=$bits out of range")
    val planeDim =
      if (dim > 0) dim
      else vecs.select(size(col(vecCol)).as("__d"))
        .filter(col("__d") > 0).take(1) match {
        case Array(r) => r.getInt(0)
        case _ => return vecs.limit(0).select(
          col(idCol).as("d1"), col(idCol).as("d2"), lit(0.0).as("cosine"))
      }
    // One count serves both auto-knobs (bucket bits + shuffle width) and
    // the verify broadcast decision; parquet-backed counts are footer-stat
    // cheap. When the caller supplies BOTH knobs the count never fires
    // (see autoKnobs below) — a derived, non-parquet-backed input would
    // otherwise pay a full lineage recomputation just to pick a join
    // strategy.
    lazy val nVecs = vecs.count()
    val autoKnobs = bits == -1 || numPartitions.isEmpty
    val useBits = if (bits == -1) srpBitsFor(nVecs) else bits
    val useTables = if (tables == -1) srpTablesFor(useBits, threshold) else tables
    // Width sized from the BUCKET ROWS (tables × n), not the input: the
    // candidate stream this operator shuffles is in-bucket pairs, whose
    // volume tracks t·n (≈ B/2 pairs per bucket row) — sizing from n
    // alone measured an executor OOM at 100× (width 80 for a ~270M-pair
    // dedup; bucket-row sizing lands at the width the same volume is
    // measured to sustain in the 8 g heap).
    val p = numPartitions.getOrElse(
      graft.GraftSession.partitionsFor(vecs.sparkSession, nVecs * useTables))
    // The bucket projection feeds BOTH sides of the candidate self-join —
    // materialize it once (the sibling operators' pattern) so the
    // tables×bits dot products aren't recomputed per side. Repartitioned
    // on the bucket key at the scaled width: the self-join clusters on
    // (t, bkt) with no further exchange (ReuseExchange dedups the sides).
    val bucketed = srpBucketRows(vecs, idCol, vecCol, useBits, useTables, seed, planeDim)
      .pinScratch()
      .repartition(p, col("t"), col("bkt"))
    val cand = bucketed.select(col(idCol).as("d1"), col("t"), col("bkt"))
      .join(bucketed.select(col(idCol).as("d2"), col("t"), col("bkt")),
        Seq("t", "bkt"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      .repartition(p, col("d1"), col("d2")).distinct()
    // the verify joins also carry the (deduped) candidate stream — bind
    // their exchanges to the same width rather than the session default
    // Verify stage: exact cosine over the candidates. The vectors
    // relation is orders of magnitude smaller than the candidate stream
    // (t·n bucket rows fan out to B/2 pairs each) — when it fits a
    // broadcast, both lookups go map-side and the candidate stream
    // crosses no exchange beyond its distinct; above the bound (the
    // 100 TB regime) the repartitioned shuffle joins at the
    // corpus-tracked width take over.
    val v1 = vecs.select(col(idCol).as("d1"), col(vecCol).as("v1"))
    val v2 = vecs.select(col(idCol).as("d2"), col(vecCol).as("v2"))
    // Element width from the actual schema: array<double> vectors carry
    // 2× the payload of array<float>, so a float-only constant would let
    // a ~64 MB double-vector relation squeak under the 32 MB bound and
    // ship broadcast twice. Callers that supplied every knob take the
    // shuffle path outright (autoKnobs) — correct at any size, and it
    // keeps this decision from forcing the nVecs count.
    val elemBytes = elemBytesFor(vecs, vecCol)
    val joined =
      if (autoKnobs && nVecs * (16L + elemBytes * planeDim) <= verifyBroadcastMaxBytes)
        cand.join(broadcast(v1), Seq("d1")).join(broadcast(v2), Seq("d2"))
      else
        cand.repartition(p, col("d1")).join(v1, Seq("d1"))
          .repartition(p, col("d2")).join(v2, Seq("d2"))
    joined
      .withColumn("cosine", cosine_similarity(col("v1"), col("v2")))
      .filter(col("cosine") >= threshold)
      .select(col("d1"), col("d2"), roundPortable(col("cosine"), 6).as("cosine"))
  }

  /** Broadcast bound for [[embeddingNearDupPairsLsh]]'s verify lookups:
    * 32 MB of estimated (id + vector) payload — small enough to ship to
    * every executor twice, far past any corpus where the shuffle path
    * isn't already the right plan. */
  private[operators] val verifyBroadcastMaxBytes: Long = 32L << 20

  /** Per-element byte width from the actual schema: array<double>
    * vectors carry 2× the payload of array<float>, so a float-only
    * constant would let a ~64 MB double-vector relation squeak under
    * the 32 MB broadcast bound and ship twice. */
  private[operators] def elemBytesFor(vecs: DataFrame, vecCol: String): Long =
    vecs.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, _) => 8L
      case _ => 4L
    }

  /** SRP bucket rows (id, t, bkt) under the (bits, tables, seed, dim)
    * plane family — THE single spelling of the hyperplane-bucketing
    * kernel, shared by the self-dedup ([[embeddingNearDupPairsLsh]]),
    * the persisted-index build ([[buildEmbeddingIndex]]) and batch
    * probing against it ([[embeddingNearDupAgainstIndex]]), so the two
    * sides of any bucket join can never disagree on planes or bit
    * order. All tables×bits planes (allPlanes[t*bits+i] = table t,
    * bit i) ship as one reference object inside a single native
    * [[graft.functions.SrpSignatures]] expression — NOT tables×bits
    * separate dot_product nodes each carrying its own array literal
    * (which bloats the generated code by orders of magnitude and makes
    * Janino compilation dominate the query), and NOT a nested HOF over
    * a plane literal (interpreted per element — an expression-tree walk
    * per (table, bit) dot). Planes are a pure function of
    * (dim, bits, seed + t): deterministic across runs and executors. */
  def srpBucketRows(vecs: DataFrame, idCol: String, vecCol: String,
      bits: Int, tables: Int, seed: Long, dim: Int): DataFrame = {
    // the tables×bits sign folds as ONE native expression
    // (graft.functions.SrpSignatures — the planes ride as a task-binary
    // reference object, not a plan literal). The previous nested-HOF
    // spelling over a plane literal was interpreted per element: an
    // expression-tree walk per (table, bit) dot product — measured
    // seconds of interpreter time on the sf0.1 bucketing stages for
    // ~50 ms of multiply-adds — and embedded a tables×bits×dim constant
    // in every analyzed plan. Bit-identical output (same dot fold, sign
    // rule, null-vector → all-zero buckets row; TextDedupSpec asserts).
    val allPlanes: Array[Array[Double]] = (0 until tables).flatMap(t =>
      Similarity.hyperplanes(dim, bits, seed + t).map(_.toArray)).toArray
    vecs.select(col(idCol),
        posexplode(graft.functions.GraftFunctions.srp_signatures(
          col(vecCol), allPlanes, bits, tables)).as(Seq("t", "bkt")))
  }

  /** A persisted-form embedding near-dup index — the [[MinhashIndex]]
    * pattern for the vector modality: SRP bucket rows (`buckets`: id, t,
    * bkt) for candidate generation, the vectors themselves (`vectors`:
    * id, vec) for the exact-cosine verify, and the plane-family
    * parameters, so a FUTURE batch can be deduped against this corpus
    * without re-bucketing it. */
  final case class EmbeddingIndex(
      buckets: DataFrame, vectors: DataFrame,
      bits: Int, tables: Int, seed: Long, dim: Int)

  /** Bucket a corpus once into an [[EmbeddingIndex]]. Knob defaults are
    * the self-dedup's ([[srpBitsFor]] / [[srpTablesFor]] at `threshold`)
    * — sizing happens at BUILD time because the plane family is frozen
    * into the index; probing batches inherit it from the meta. */
  def buildEmbeddingIndex(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = -1, tables: Int = -1,
      seed: Long = 42L, dim: Int = -1,
      /** When true, the build REFUSES (loud `require`) any auto-sized
        * config whose table count [[srpTablesFor]] had to cap — i.e.
        * whose a-priori per-pair recall target is unattainable. Recall-
        * GATED builds (an oracle compares the probabilistic result to an
        * exact one) set this so growing the corpus past the attainable
        * range fails at build time with the knobs to turn, instead of
        * failing the hash gate with silently-missing pairs: at
        * threshold 0.4 the default config is attainable up to
        * bits = 7 ⇔ roughly 4k index vectors (≥ sf0.1's third with
        * margin; ~sf1 crosses it), at 0.5 up to bits = 8. Remedies when
        * it fires: raise `maxTables` (more tables = linear cost), raise
        * `targetBucketSize` via explicit `bits` (bigger buckets = more
        * verify work), or raise the gate threshold. */
      requireRecallTarget: Boolean = false): EmbeddingIndex = {
    require(bits == -1 || (bits >= 1 && bits <= 30), s"bits=$bits out of range")
    val planeDim =
      if (dim > 0) dim
      else vecs.select(size(col(vecCol)).as("__d"))
        .filter(col("__d") > 0).take(1) match {
        case Array(r) => r.getInt(0)
        case _ => throw new IllegalArgumentException(
          "buildEmbeddingIndex: empty corpus (or all-null vectors) — " +
            "pass dim explicitly to build an empty index")
      }
    lazy val nVecs = vecs.count()
    val useBits = if (bits == -1) srpBitsFor(nVecs) else bits
    val useTables = if (tables == -1) srpTablesFor(useBits, threshold) else tables
    if (requireRecallTarget && tables == -1)
      require(!srpConfigCapped(useBits, threshold),
        s"buildEmbeddingIndex: recall target unattainable — " +
          s"srpTablesFor capped at 256 tables for bits=$useBits (corpus " +
          s"n=$nVecs) at threshold=$threshold; this build feeds a " +
          "recall-gated oracle, which would fail on silently-missing " +
          "pairs. Raise maxTables, pass explicit smaller bits (bigger " +
          "buckets), or raise the threshold.")
    // spread-small seam: the tables×bits×dim SRP fold is the expensive
    // map stage of the index build, and over a sub-split-size corpus it
    // runs as ONE task feeding the buckets write (measured in the
    // 168-query driver bench: a ~0.8 s single-task job per save). No-op
    // at scale, and on the refit path (pinned, already-wide input).
    val bucketed = srpBucketRows(graft.GraftSession.spreadSmallInput(vecs),
      idCol, vecCol, useBits, useTables, seed, planeDim)
      .select(col(idCol).as("id"), col("t"), col("bkt"))
    EmbeddingIndex(bucketed,
      vecs.select(col(idCol).as("id"), col(vecCol).as("vec")),
      useBits, useTables, seed, planeDim)
  }

  /** Build and persist an [[EmbeddingIndex]] as parquet (`buckets/`,
    * `vectors/`, one-row `meta/` with the plane-family parameters — a
    * loader can never bucket a batch under mismatched planes). The
    * offline half of incremental embedding dedup: runs once per corpus
    * snapshot; each incoming batch pays only its own bucketing. A save
    * is a full rebuild ([[graft.operators.IndexFs.resetForRebuild]]). */
  def saveEmbeddingIndex(vecs: DataFrame, idCol: String, vecCol: String,
      path: String, threshold: Double, bits: Int = -1, tables: Int = -1,
      seed: Long = 42L, dim: Int = -1,
      requireRecallTarget: Boolean = false): Unit = {
    IndexFs.resetForRebuild(vecs.sparkSession, path)
    val idx = buildEmbeddingIndex(vecs, idCol, vecCol, threshold, bits, tables,
      seed, dim, requireRecallTarget)
    // the buckets and vectors relations are independent projections of
    // the same input — overlap their writes so the cheap
    // vectors write rides the SRP-heavy buckets write's idle capacity
    graft.GraftSession.concurrently(vecs.sparkSession)(
      idx.buckets.write.mode("overwrite").parquet(s"$path/buckets"),
      idx.vectors.write.mode("overwrite").parquet(s"$path/vectors"))
    writeEmbeddingMeta(vecs.sparkSession, path,
      idx.bits, idx.tables, idx.seed, idx.dim, threshold)
  }

  /** THE single spelling of the embedding index's meta row — save and
    * refit both route here so the persisted parameter set can never
    * fork. `threshold` rides along: the refit re-derives
    * `srpTablesFor` from it by default, so a mistyped refit threshold
    * can no longer silently re-target the family's recall. Published
    * ([[IndexFs.publishRelation]]), so a refit that crashes mid-write
    * leaves a whole meta row for its re-run to read. */
  private def writeEmbeddingMeta(spark: SparkSession, path: String,
      bits: Int, tables: Int, seed: Long, dim: Int, threshold: Double): Unit =
    IndexFs.publishRelation(spark.range(1)
      .select(lit(bits).as("bits"), lit(tables).as("tables"),
        lit(seed).as("seed"), lit(dim).as("dim"),
        lit(threshold).as("threshold"))
      .coalesce(1), s"$path/meta")

  /** Fold an ACCEPTED vector batch into a persisted embedding index —
    * [[appendToMinhashIndex]]'s contract for the vector modality: the
    * batch is bucketed under the INDEX's persisted plane family (the
    * caller cannot mismatch bits/tables/seed/dim) and its bucket and
    * vector rows land exactly-once per `commitTag` (staged dir + one
    * atomic rename, idempotent replay, safe against a concurrent
    * [[compactEmbeddingIndex]]). The family comes from `meta` alone:
    * the append never reads the base relations. Same id-space contract
    * as the minhash twin.
    *
    * @return true if the batch's rows landed in this call; false when
    *         `commitTag` was already committed (idempotent skip). */
  def appendToEmbeddingIndex(newVecs: DataFrame, idCol: String,
      vecCol: String, path: String, commitTag: String): Boolean = {
    val spark = newVecs.sparkSession
    if (IndexFs.isCommitted(spark, path, commitTag))
      return false // already landed (live commit OR folded tombstone) —
                   // skip even the batch bucketing
    // bucketing under a crashed refit's family would entrench the
    // family/bucket mismatch; converge with a refit re-run first
    IndexFs.requireNoCrashedRefit(spark, path)
    val m = spark.read.parquet(s"$path/meta").head()
    // spread-small seam: a sub-split-size batch pays the
    // tables×bits×dim SRP fold on one task otherwise; no-op at scale
    val buckets =
      srpBucketRows(graft.GraftSession.spreadSmallInput(newVecs),
        idCol, vecCol, m.getAs[Int]("bits"), m.getAs[Int]("tables"),
        m.getAs[Long]("seed"), m.getAs[Int]("dim"))
        .select(col(idCol).as("id"), col("t"), col("bkt"))
    val vectors = newVecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
    IndexFs.stagedAppend(spark, path, commitTag,
      Seq("buckets" -> buckets, "vectors" -> vectors))
  }

  /** [[compactMinhashIndex]] for the embedding index: fold base +
    * landed commits per relation through distinct → rewrite, retiring
    * commit dirs into the base; cost tracks index size, never
    * re-bucketing work (the bucket rows ARE the index). Same
    * [[compactIndex]] engine, so the same concurrency contract: appends
    * landing mid-compact survive. */
  def compactEmbeddingIndex(spark: SparkSession, path: String): Unit = {
    val tables = spark.read.parquet(s"$path/meta").head().getAs[Int]("tables")
    compactIndex(spark, path, Seq("buckets", "vectors"),
      n => {
        val p = graft.GraftSession.partitionsFor(spark, n)
        Seq(p, math.max(1, p / math.max(1, tables)))
      })
  }

  /** Re-size the plane family to the index's CURRENT vector count and
    * re-bucket every vector under it — the embedding twin of
    * [[graft.operators.Similarity.refitIvfIndex]], closing the same
    * drift class: planes are sized at SAVE time (`srpBitsFor(n)` /
    * `srpTablesFor`), so a corpus grown by appends crowds its buckets
    * (per-bucket work rises, hot-bucket caps engage earlier, realized
    * recall sags). Cost tracks INDEX size: one distinct pass over the
    * persisted vectors + the bucketing projection + the rewrite — the
    * original corpus relation is never touched.
    *
    * Contract: the [[saveEmbeddingIndex]] REBUILD contract (single
    * maintainer, no concurrent appends or probes) — a refit changes
    * the persisted plane family (`meta`), so an append bucketing under
    * the old family and landing mid-refit would insert
    * foreign-family bucket rows. Landed commit tags fold into the
    * rebuilt base and are tombstoned BEFORE their commit dirs are
    * deleted (exactly-once replay survives, forever); crashed appends
    * (`staged/` orphans) are dropped and deliberately NOT tombstoned —
    * their tag may re-append later under the new family. Vectors are
    * pinned through the scratch seam before any dir is rewritten. */
  def refitEmbeddingIndex(spark: SparkSession, path: String,
      /** -1 (default) re-uses the threshold PERSISTED in the index meta
        * at save time, so the refit re-derives `srpTablesFor` for the
        * same recall target the index was built for — a re-supplied
        * mistyped value can no longer silently re-target the family
        * (mirrors how the seed is preserved). Pass explicitly to
        * re-target on purpose. Indexes written before the threshold was
        * persisted (no `threshold` meta column) require an explicit
        * value. */
      threshold: Double = -1.0,
      bits: Int = -1, tables: Int = -1,
      /** -1 (default) keeps the index's persisted plane seed — a refit
        * re-SIZES the family by default, it doesn't silently rotate a
        * custom seed to 42; pass explicitly to re-seed on purpose. */
      seedOverride: Long = -1L,
      requireRecallTarget: Boolean = false): Unit = {
    import graft.GraftSession.Pinnable
    Seq("buckets", "vectors", "meta").foreach(r =>
      IndexFs.rollForwardPublish(spark, s"$path/$r"))
    val snapshot = IndexFs.maintenanceSnapshot(spark, path)
    val meta = spark.read.parquet(s"$path/meta").head()
    val dim = meta.getAs[Int]("dim")
    val seed = if (seedOverride == -1L) meta.getAs[Long]("seed") else seedOverride
    val useThreshold =
      if (threshold != -1.0) threshold
      else {
        require(meta.schema.fieldNames.contains("threshold"),
          "refitEmbeddingIndex: this index predates the persisted " +
            "threshold (no `threshold` meta column) — pass threshold " +
            "explicitly (or re-save the index)")
        meta.getAs[Double]("threshold")
      }
    val crashed = IndexFs.refitCrashed(spark, path)
    val vectors = spark.read.parquet(
        s"$path/vectors" +:
          snapshot.landed.map(t => s"$path/commits/$t/vectors"): _*)
      .distinct()
      .pinScratch()
    val nVecs = vectors.count()
    require(nVecs > 0, "refitEmbeddingIndex: index holds no vectors")
    // bits resolved HERE from the count already taken — passing -1 down
    // would have buildEmbeddingIndex recount the pinned frame
    val useBits = if (bits == -1) srpBitsFor(nVecs) else bits
    val useTables = if (tables == -1) srpTablesFor(useBits, useThreshold) else tables
    // Unchanged family ⇒ the re-bucket would rewrite every row to
    // produce a bit-identical index (the full re-bucket measured 2.1 s
    // at 1× and 15.6 s at 100× of the index). What remains useful is exactly
    // compaction: fold landed commits (a rewrite only when there ARE
    // any), else just reap orphans / fold tombstones — zero relation
    // writes. Never taken after a CRASHED refit: there the persisted
    // meta can't be trusted to describe the bucket rows, so the full
    // rebuild must run to converge.
    if (!crashed && useBits == meta.getAs[Int]("bits") &&
        useTables == meta.getAs[Int]("tables") &&
        seed == meta.getAs[Long]("seed")) {
      if (snapshot.landed.isEmpty) IndexFs.reapDeadOrphans(spark, path, snapshot)
      else compactEmbeddingIndex(spark, path)
      return
    }
    val idx = buildEmbeddingIndex(vectors, "id", "vec", useThreshold,
      useBits, tables, seed, dim, requireRecallTarget)
    // marker ON from the first family-changing write to the last: a
    // crash inside this window leaves family metadata and bucket rows
    // that may disagree — a recall-losing state that looks healthy —
    // so loads refuse until a re-run converges (IndexFs.RefitMarker)
    IndexFs.beginRefit(spark, path)
    // independent relations of the same pinned input — overlap the two
    // publishes (the saveEmbeddingIndex twin)
    graft.GraftSession.concurrently(spark)(
      IndexFs.publishRelation(
        idx.buckets.repartition(
          graft.GraftSession.partitionsFor(spark, nVecs * idx.tables)),
        s"$path/buckets"),
      IndexFs.publishRelation(
        idx.vectors.repartition(
          graft.GraftSession.partitionsFor(spark, nVecs)),
        s"$path/vectors"))
    writeEmbeddingMeta(spark, path, idx.bits, idx.tables, idx.seed, idx.dim,
      useThreshold)
    IndexFs.retireFoldedCommits(spark, path, snapshot.landed)
    IndexFs.reapDeadOrphans(spark, path, snapshot)
    IndexFs.endRefit(spark, path)
  }

  /** Reload a [[saveEmbeddingIndex]]-written index (base relations plus
    * every landed commit); parameters come from the persisted meta row,
    * never the caller. `excludeCommits` hides specific append tags for
    * deterministic batch replay — only until a compaction folds the
    * tag; the determinism window and the tombstone-backed append
    * idempotence that outlives it are documented on
    * [[loadMinhashIndex]]. */
  def loadEmbeddingIndex(spark: SparkSession, path: String,
      excludeCommits: Set[String] = Set.empty): EmbeddingIndex = {
    IndexFs.requireNoCrashedRefit(spark, path)
    val m = spark.read.parquet(s"$path/meta").head()
    EmbeddingIndex(
      spark.read.parquet(IndexFs.relationDirs(spark, path, "buckets", excludeCommits): _*),
      spark.read.parquet(IndexFs.relationDirs(spark, path, "vectors", excludeCommits): _*),
      m.getAs[Int]("bits"), m.getAs[Int]("tables"),
      m.getAs[Long]("seed"), m.getAs[Int]("dim"))
  }

  /** INCREMENTAL embedding near-dup: new batch vs a prebuilt
    * [[EmbeddingIndex]], emitting (new_id, index_id, cosine ≥ threshold)
    * — [[minhashLshAgainstIndex]]'s contract for the vector modality.
    * The batch is bucketed under the INDEX's plane family
    * ([[srpBucketRows]] with the persisted bits/tables/seed/dim), so
    * candidate generation is the same (t, bkt) equi-join the self-dedup
    * plans — never the batch×corpus product.
    *
    * Physical shape by regime (the incremental-dedup plan family):
    *  - broadcast regime (batch ≤ `broadcastMaxNewVecs` AND its
    *    estimated vector payload ≤ [[verifyBroadcastMaxBytes]]): batch
    *    bucket rows broadcast into the bucket join — the index side is a
    *    pure scan; the verify broadcasts the batch vectors and semi-joins
    *    the index vectors down to matched ids, so index vectors never
    *    shuffle. Per-batch cost = batch bucketing + one index scan +
    *    work proportional to MATCHES.
    *  - candidate blowup (hot buckets — count > `maxBroadcastCandidates`)
    *    or big batches: repartitioned joins at the corpus-tracked width.
    *
    * Same id-space contract as [[minhashLshAgainstIndex]]: equal ids
    * across batch and index are treated as the same document. Recall is
    * the plane family's 1 − (1 − pᵇ)ᵗ per pair — identical to the
    * self-dedup's at the build threshold, deterministic per corpus
    * (seeded planes). */
  def embeddingNearDupAgainstIndex(
      newVecs: DataFrame, idCol: String, vecCol: String,
      index: EmbeddingIndex, threshold: Double,
      broadcastMaxNewVecs: Long = 100000L,
      maxBroadcastCandidates: Long = 2000000L,
      numPartitions: Option[Int] = None): DataFrame = {
    val spark = newVecs.sparkSession
    // ONE materialization of the batch input: bucket rows, the verify's
    // v1 lookup, and the size/byte gates all derive from this checkpoint
    // — a batch produced by an expensive upstream pipeline pays its
    // compute exactly once per call (the minhash twin's `sigs` pattern)
    // spread BEFORE the pin: the pin freezes the layout,
    // and a one-split batch would otherwise run the SRP fold and every
    // later batch-side stage single-task; no-op at scale
    val batchVecs = graft.GraftSession.spreadSmallInput(
      newVecs.select(col(idCol), col(vecCol))).pinScratch()
    val newBuckets = srpBucketRows(batchVecs, idCol, vecCol,
      index.bits, index.tables, index.seed, index.dim)
      .select(col(idCol).as("new_id"), col("t"), col("bkt"))
    val nNew = batchVecs.count()
    val v1 = batchVecs.select(col(idCol).as("new_id"), col(vecCol).as("v1"))
    val v2 = index.vectors.select(col("id").as("index_id"), col("vec").as("v2"))
    val newVecBytes = nNew * (16L + elemBytesFor(batchVecs, vecCol) * index.dim)
    val shuffleWidth = () => numPartitions.getOrElse(
      graft.GraftSession.partitionsFor(spark,
        (nNew + index.buckets.count() / math.max(1, index.tables)) * index.tables))
    def shuffleVerify(cand: DataFrame, p: Int): DataFrame =
      cand.repartition(p, col("new_id")).join(v1, Seq("new_id"))
        .repartition(p, col("index_id")).join(v2, Seq("index_id"))
    val verified =
      if (nNew <= broadcastMaxNewVecs && newVecBytes <= verifyBroadcastMaxBytes) {
        val cand = index.buckets
          .select(col("id").as("index_id"), col("t"), col("bkt"))
          .join(broadcast(newBuckets), Seq("t", "bkt"))
          .filter(col("new_id") =!= col("index_id"))
          .select("new_id", "index_id").distinct()
          .pinScratch() // counted, then feeds the verify joins
        if (cand.count() <= maxBroadcastCandidates) {
          val matchedIdx = v2.join(
            broadcast(cand.select("index_id").distinct()), Seq("index_id"))
          cand.join(broadcast(v1), Seq("new_id"))
            .join(matchedIdx, Seq("index_id"))
        } else shuffleVerify(cand, shuffleWidth())
      } else {
        val p = shuffleWidth()
        val cand = index.buckets
          .select(col("id").as("index_id"), col("t"), col("bkt"))
          .repartition(p, col("t"), col("bkt"))
          .join(newBuckets.repartition(p, col("t"), col("bkt")), Seq("t", "bkt"))
          .filter(col("new_id") =!= col("index_id"))
          .select("new_id", "index_id")
          .repartition(p, col("new_id"), col("index_id")).distinct()
        shuffleVerify(cand, p)
      }
    // each pair once however many copies of an index row the index
    // holds ([[minhashLshAgainstIndex]]'s distinct)
    verified
      .withColumn("cosine", cosine_similarity(col("v1"), col("v2")))
      .filter(col("cosine") >= threshold)
      .select(col("new_id"), col("index_id"),
        roundPortable(col("cosine"), 6).as("cosine"))
      .distinct()
  }
}
