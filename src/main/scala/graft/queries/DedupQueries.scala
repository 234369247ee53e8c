package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Decontaminate, RecallProbe, SemDedup, Similarity, TextDedup}
import graft.sources.Scan

/** Dedup + similarity-search extension queries over `documents` /
  * `embeddings`. Every entry carries a DuckDB oracle: SQL-expressible
  * ones directly; the hash-based ones (minhash/simhash — xxhash64 has no
  * DuckDB twin) through an equivalence the oracle can check instead
  * (minhash-LSH ≡ exact Jaccard while recall holds; simhash chunk join ≡
  * exact hamming over a fingerprint snapshot by pigeonhole).
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  val exactTextDedup: Q = (s, dir) =>
    TextDedup.exactDedup(Scan.table(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("content_hash"))

  /** The exact quadratic tool demoed on a bounded id-range: it exists to
    * verify LSH candidates / small samples, so the standalone entry runs
    * it on the first 500 doc ids (the whole corpus at sf0.01) rather than
    * promoting an O(n²)-in-bucket scan to a full-corpus headline. */
  val ngramJaccardPairs: Q = (s, dir) =>
    TextDedup.jaccardPairs(
        Scan.table(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", n = 3, threshold = 0.7)
      .orderBy(col("d1"), col("d2"))

  /** Full-corpus near-dup sweep — the scale path. maxBucketSize = 100
    * bounds per-bucket candidate work (B²/2 ≤ 4950) against degenerate
    * templated-text buckets; measured zero recall loss on testdata at
    * sf0.01 and sf0.1. Oracled against exact Jaccard: valid
    * exactly while LSH recall is 100%, so the oracle doubles as a recall
    * regression gate. */
  val minhashLshPairs: Q = (s, dir) =>
    TextDedup.minhashLsh(Scan.table(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 32, bands = 8, threshold = 0.7, maxBucketSize = 100)
      .orderBy(col("d1"), col("d2"))

  /** Duplicate-CLUSTER canonicalization: connected components over the
    * exact near-dup pairs (bounded id-range, like the pair query) — the
    * step that merges chains (A~B~C ⇒ one cluster) where pairwise drops
    * under-merge. Oracle = a DuckDB recursive CTE computing min
    * reachable id per node over the same edges. */
  val dedupComponents: Q = (s, dir) => {
    val pairs = TextDedup.jaccardPairs(
      Scan.table(s, dir, "documents").filter(col("doc_id") < 500),
      "doc_id", "text", n = 3, threshold = 0.7)
    TextDedup.connectedComponents(pairs).orderBy(col("node"))
  }

  /** The DISTRIBUTED components path under the hard gate: the same
    * pairs and the same recursive-CTE oracle as [[dedupComponents]],
    * but with the driver union-find gated off so the large-star/
    * small-star contraction loop itself — the path a 100 TB pair set
    * takes — must reproduce the exact labels. At this SF the default
    * strategy switch would pick the driver pass; forcing the limit to
    * 0 is the only delta, so any divergence between the two strategies
    * fails one gate or the other. */
  val dedupComponentsStar: Q = (s, dir) => {
    val pairs = TextDedup.jaccardPairs(
      Scan.table(s, dir, "documents").filter(col("doc_id") < 500),
      "doc_id", "text", n = 3, threshold = 0.7)
    TextDedup.connectedComponents(pairs, driverUnionFindLimit = 0L)
      .orderBy(col("node"))
  }

  /** Quality-aware cluster canonicalization under the hash gate: the
    * q_dedup_components pair/cluster machinery, but the representative
    * is the BEST-[[graft.functions.TextAnalysis.qualityScore]] member
    * (ties → smaller id) instead of the smallest id. The oracle walks
    * the same edges recursively, re-derives quality from the shared SQL
    * spelling, and picks the argmax per component — a drifted score,
    * cluster label, or tie-break fails row-for-row across all 500
    * docs. */
  val clusterReps: Q = (s, dir) => {
    val docs = Scan.table(s, dir, "documents").filter(col("doc_id") < 500)
    val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.7)
    TextDedup.clusterRepresentatives(
        docs.select(col("doc_id"),
          graft.functions.TextAnalysis.qualityScore(col("text")).as("quality")),
        "doc_id", "quality", pairs)
      .orderBy(col("doc_id"))
  }

  /** Substring-level exact dedup (Lee et al.) under the hash gate:
    * 20-token windows over the full corpus — the testdata's planted
    * near-dup documents share long verbatim spans, so the rule bites
    * (~876 distinct duplicated 20-token windows at sf0.001). The oracle
    * re-derives the portable tokenization, the per-token md5 hash, BOTH
    * rolling-hash channels (fold spelling — ≡ the native expression's
    * O(n) roll, spec-asserted), the corpus-order winner rule, the range
    * marks and the cut+reassembly — one drifted key, winner, or kept
    * token fails row-for-row. */
  val substringDedup: Q = (s, dir) =>
    graft.operators.SubstringDedup.dedupSubstrings(
        Scan.table(s, dir, "documents"), "doc_id", "text", minTokens = 20)
      .orderBy(col("doc_id"))

  /** Path the q_simhash_pairs oracle reads back — derived from the data
    * dir AND the session (see [[SnapshotPaths]]): different scale
    * factors / dirs never clobber or silently reuse each other's
    * snapshot, and two concurrent sessions on the SAME data dir get
    * disjoint dirs too. The snapshot write below is part of the
    * measured query. */
  def simhashFpSnapshotDir(s: SparkSession, dataDir: String): String =
    SnapshotPaths.dirFor("simhash_fp", dataDir, s)

  /** xxhash64 simhash has no DuckDB twin, so the fingerprint bytes are
    * snapshotted to parquet and the oracle derives the pair set by exact
    * all-pairs hamming over the SAME bytes — which the engine's
    * pigeonhole chunk join provably equals while maxHamming < chunks.
    * That puts the fast-path join machinery under the hard hash gate
    * even though the hash itself is engine-specific. */
  val simhashPairs: Q = (s, dir) => {
    import graft.functions.GraftFunctions.simhash64
    val snap = simhashFpSnapshotDir(s, dir)
    Scan.table(s, dir, "documents")
      .select(col("doc_id"), simhash64(split(col("text"), " ")).as("fp"))
      .coalesce(1).write.mode("overwrite").parquet(snap)
    TextDedup.simhashPairsFromFingerprints(
        s.read.parquet(snap), "doc_id", "fp",
        chunks = 4, maxHamming = 3)
      .orderBy(col("d1"), col("d2"))
  }

  /** Same pigeonhole chunk-join pair derivation, but over the
    * engine-portable md5-based fingerprint — DuckDB recomputes the
    * identical fingerprints and derives pairs by exact all-pairs hamming,
    * which the chunk join provably equals (maxHamming < chunks). This
    * puts the simhash machinery under the hard hash-match gate; the
    * xxhash64-based default stays as the fast path (rows-only). */
  val simhashPortablePairs: Q = (s, dir) =>
    TextDedup.simhashPairs(Scan.table(s, dir, "documents"), "doc_id", "text",
        chunks = 4, maxHamming = 3,
        fingerprint = ts => graft.functions.GraftFunctions.simhash64Portable(ts))
      .orderBy(col("d1"), col("d2"))

  /** Benchmark decontamination: first 100 doc ids stand in as the eval
    * set, the rest as the training corpus — cross-corpus 3-gram
    * containment ≥ 0.5 flags the leaks. */
  val decontaminate: Q = (s, dir) => {
    val docs = Scan.table(s, dir, "documents")
    TextDedup.crossContainmentPairs(
        docs.filter(col("doc_id") >= 100), "doc_id", "text",
        docs.filter(col("doc_id") < 100), "doc_id", "text",
        n = 3, threshold = 0.5)
      .orderBy(col("corpus_id"), col("eval_id"))
  }

  /** The 100 TB decontamination spelling under the hard gate: eval
    * shingle membership compressed into a Bloom filter probed by a
    * codegen'd zero-shuffle corpus map, exact verify only on the
    * candidates. Shares q_decontaminate's EXACT oracle — the operator's
    * result-preservation proof (no Bloom false negatives; verify
    * removes false positives) is what the identical hash certifies. */
  val decontaminateBloom: Q = (s, dir) => {
    val docs = Scan.table(s, dir, "documents")
    Decontaminate.bloomDecontaminate(
        docs.filter(col("doc_id") >= 100), "doc_id", "text",
        docs.filter(col("doc_id") < 100), "doc_id", "text",
        n = 3, threshold = 0.5)
      .orderBy(col("corpus_id"), col("eval_id"))
  }

  /** Same result through the PERSISTED artifact: the eval suite is
    * saved (Bloom bytes in meta + shingle index + sizes), loaded back,
    * and the corpus decontaminated against the loaded index — the crawl
    * loop's steady-state shape, where the eval side is built once and
    * every batch pays only the map-side probe + candidate verify. The
    * save/load round-trip is INSIDE the measured query, as with the
    * other index queries. */
  val decontaminateBloomIndex: Q = (s, dir) => {
    val docs = Scan.table(s, dir, "documents")
    val path = SnapshotPaths.dirFor("decontam_index", dir, s)
    Decontaminate.saveDecontaminationIndex(
      docs.filter(col("doc_id") < 100), "doc_id", "text",
      path, n = 3, threshold = 0.5)
    Decontaminate.decontaminateAgainstIndex(
        docs.filter(col("doc_id") >= 100), "doc_id", "text",
        Decontaminate.loadDecontaminationIndex(s, path))
      .orderBy(col("corpus_id"), col("eval_id"))
  }

  val embeddingNearDup: Q = (s, dir) =>
    TextDedup.embeddingNearDupPairs(Scan.table(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.5)
      .orderBy(col("d1"), col("d2"))

  /** Scale path for the same result: multi-table SRP-LSH candidates +
    * exact-cosine verify (bucket-key join, never the n² product), on the
    * operator's self-sizing defaults (srpBitsFor × srpTablesFor). Shares
    * the exact query's oracle — valid exactly while REALIZED recall is
    * 100%, which seeded planes make deterministic per corpus (verified
    * green at sf0.01 and sf0.1); a recall regression fails the gate.
    *
    * Bench note: at sf0.1 (2 000 vectors) with the deliberately hostile
    * gate threshold 0.5, the recall-guaranteed default costs ~4× the
    * exact pairwise tool — at 64 buckets/table the candidate set is
    * nearly all pairs, so the LSH machinery is pure overhead. That is
    * the expected small-corpus regime; LSH pays off as buckets outgrow
    * the corpus ratio (SCALE.md carries the measured 100× growth —
    * below linear, while the exact tool's n² grows 10 000×). The gate
    * pins the default path's CORRECTNESS at a size where the oracle is
    * affordable, not its speed. */
  val embeddingNearDupLsh: Q = (s, dir) =>
    TextDedup.embeddingNearDupPairsLsh(Scan.table(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.5)
      .orderBy(col("d1"), col("d2"))

  /** The SHUFFLE-verify branch under the hard gate: supplying every
    * knob routes the exact-cosine verify through the repartitioned
    * shuffle joins — the plan the operator picks past the 32 MB
    * broadcast bound, i.e. the 100 TB regime — while the knob VALUES
    * are exactly what the defaults would compute, so the only delta vs
    * [[embeddingNearDupLsh]] is the join strategy. Same exact-cosine
    * oracle ⇒ a correctness or recall regression in the big-corpus
    * branch fails the gate. */
  val embeddingNearDupLshShuffle: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val n = emb.count()
    val bits = TextDedup.srpBitsFor(n)
    val tables = TextDedup.srpTablesFor(bits, 0.5)
    TextDedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding",
        threshold = 0.5, bits = bits, tables = tables,
        numPartitions = Some(graft.GraftSession.partitionsFor(s, n * tables)))
      .orderBy(col("d1"), col("d2"))
  }

  /** INCREMENTAL embedding dedup under the hard gate — q_minhash_incremental's
    * shape for the vector modality: the even-id half of the embeddings is
    * bucketed and persisted as an SRP index (parquet round-trip INSIDE the
    * measured query), and the odd-id half is deduped AGAINST the loaded
    * index without re-bucketing it. Oracle = exact cross-parity cosine, so
    * the cross-corpus LSH recall AND the index round-trip (lost bucket
    * row, plane-parameter drift, vector truncation) sit under one hash
    * gate. */
  val embeddingIncremental: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val path = SnapshotPaths.dirFor("embedding_index", dir, s)
    TextDedup.saveEmbeddingIndex(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      path, threshold = 0.5, requireRecallTarget = true)
    TextDedup.embeddingNearDupAgainstIndex(
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        TextDedup.loadEmbeddingIndex(s, path), threshold = 0.5)
      .orderBy(col("new_id"), col("index_id"))
  }

  /** INCREMENTAL dedup under the hard gate: the even-id half of the
    * corpus is signed and persisted as a minhash LSH index (the parquet
    * round-trip is INSIDE the measured query, like q_ann_ivf_loaded),
    * and the odd-id half is deduped AGAINST the loaded index without
    * re-signing it — the daily-crawl shape whose offline half runs once
    * per corpus snapshot at 100 TB. Oracle = exact n-gram Jaccard
    * restricted to cross-parity pairs, so LSH recall on the
    * cross-corpus path is gated exactly like q_minhash_lsh_pairs, and
    * an index-persistence corruption (lost band row, shingle drift,
    * parameter mismatch) surfaces as a hash mismatch. */
  val minhashIncremental: Q = (s, dir) => {
    val docs = Scan.table(s, dir, "documents")
    val path = SnapshotPaths.dirFor("minhash_index", dir, s)
    TextDedup.saveMinhashIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
    TextDedup.minhashLshAgainstIndex(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        TextDedup.loadMinhashIndex(s, path), threshold = 0.7)
      .orderBy(col("new_id"), col("index_id"))
  }

  /** The STREAMING spelling of incremental dedup under the SAME hard
    * gate: even ids are signed into a persisted index; the odd-id half
    * is staged as TWO part-files and arrives through the actual
    * streaming path — file source with `maxFilesPerTrigger = 1` →
    * `Trigger.AvailableNow` → `foreachBatch` → dedup-against-index →
    * per-batch parquet — so TWO real micro-batch executions run and the
    * read-back union of their outputs is oracled with
    * q_minhash_incremental's exact cross-parity Jaccard SQL (the result
    * is batch-split-invariant without fold-in, so the union must equal
    * the one-shot batch operator row-for-row). This is the reference's
    * 15-minute-cron semantics (T1) composed with the index: multi-batch
    * streaming execution ≡ the batch operator, or the gate fails. */
  val streamIncrementalDedup: Q = (s, dir) => {
    import graft.streaming.StreamingOps
    val docs = Scan.table(s, dir, "documents")
    val idxPath = SnapshotPaths.dirFor("minhash_index_stream", dir, s)
    val srcDir = SnapshotPaths.dirFor("stream_dedup_src", dir, s)
    val outDir = SnapshotPaths.dirFor("stream_dedup_out", dir, s)
    val ckptDir = SnapshotPaths.dirFor("stream_dedup_ckpt", dir, s)
    // stale batch outputs from a previous differently-batched run would
    // otherwise union into the read-back; the checkpoint goes with them —
    // this gate query is a FRESH run each time (source files and index
    // are regenerated), not a resumed one (restart-with-checkpoint
    // semantics are spec-proven in StreamingOpsSpec)
    graft.operators.IndexFs.deleteRecursively(s, outDir)
    graft.operators.IndexFs.deleteRecursively(s, ckptDir)
    TextDedup.saveMinhashIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idxPath)
    docs.filter(col("doc_id") % 2 === 1).repartition(2)
      .write.mode("overwrite").parquet(srcDir)
    StreamingOps.incrementalDedupStream(
        StreamingOps.readDocumentsStreamFrom(s, srcDir),
        idxPath, outDir, ckptDir, threshold = 0.7)
      .awaitTermination()
    StreamingOps.readBatchOutputs(s, outDir, srcDir)
      .orderBy(col("new_id"), col("index_id"))
  }

  /** INDEX MAINTENANCE under the hard gate: thirds of the corpus play
    * corpus / accepted batch / new batch — an index is saved on
    * doc_id%3==0, doc_id%3==1 is APPENDED (the accepted batch of a crawl
    * round), and doc_id%3==2 is deduped against the appended index, all
    * inside the measured query. Oracle = exact Jaccard over pairs that
    * cross from the new third into EITHER of the other two, so
    * dedup-after-append must equal dedup-against-a-full-rebuild exactly:
    * a lost append row, a parameter drift, or a bands/shingles
    * disagreement surfaces as a missing pair → hash mismatch. */
  val minhashIndexAppend: Q = (s, dir) => {
    val docs = Scan.table(s, dir, "documents")
    val path = SnapshotPaths.dirFor("minhash_index_append", dir, s)
    TextDedup.saveMinhashIndex(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", path)
    // the save above wipes the tag space, so the tag lands fresh every run
    TextDedup.appendToMinhashIndex(
      docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", path,
      commitTag = "accepted_batch")
    TextDedup.minhashLshAgainstIndex(
        docs.filter(col("doc_id") % 3 === 2), "doc_id", "text",
        TextDedup.loadMinhashIndex(s, path), threshold = 0.7)
      .orderBy(col("new_id"), col("index_id"))
  }

  /** The embedding twin of [[minhashIndexAppend]], same thirds shape:
    * SRP index saved on vec_id%3==0, vec_id%3==1 APPENDED (bucketed
    * under the INDEX's persisted planes), vec_id%3==2 deduped against
    * the appended index. Oracle = exact cosine over pairs crossing from
    * the new third into either indexed third — append ≡ full rebuild
    * for vectors, under the hash gate. */
  val embeddingIndexAppend: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val path = SnapshotPaths.dirFor("embedding_index_append", dir, s)
    // threshold 0.4 (vs the incremental query's 0.5): the thirds split
    // has NO cross pairs at cosine 0.5 at the driver's sf0.01, which
    // would make this a vacuous 0-row gate — 0.4 yields 26 pairs there
    // (426 at sf0.1) AND stresses recall harder (lower-cosine pairs
    // collide less per table; srpTablesFor compensates at build time)
    // requireRecallTarget: this probabilistic build feeds an EXACT
    // oracle, so a corpus grown past the attainable-recall range (the
    // 256-table cap — ~4k index vectors at threshold 0.4, well past
    // sf0.1's third) must fail loudly at build time, not as a
    // mysterious hash mismatch
    TextDedup.saveEmbeddingIndex(
      emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
      path, threshold = 0.4, requireRecallTarget = true)
    TextDedup.appendToEmbeddingIndex(
      emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding", path,
      commitTag = "accepted_batch")
    TextDedup.embeddingNearDupAgainstIndex(
        emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding",
        TextDedup.loadEmbeddingIndex(s, path), threshold = 0.4)
      .orderBy(col("new_id"), col("index_id"))
  }

  /** Embedding-index REFIT under the hash gate — the drift-reset
    * maintenance op pinned end-to-end, [[annIvfRefit]]'s shape for the
    * SRP index: save on thirds 0 (planes sized for ONE third),
    * tagged-append thirds 1 (the drifted state: 2× the vectors the
    * family was sized for), REFIT (planes re-sized to the grown count,
    * every vector re-bucketed, the absorbed tag tombstoned), replay
    * the tag (must be a no-op — a re-append would bucket under the NEW
    * family and duplicate candidates), then dedup thirds 2 against the
    * rebuilt index. Oracle = the exact-cosine append SQL: the refit
    * must preserve the vector set and hold the recall regime under the
    * re-sized family. */
  val embeddingIndexRefit: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val path = SnapshotPaths.dirFor("embedding_index_refit", dir, s)
    TextDedup.saveEmbeddingIndex(
      emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
      path, threshold = 0.4, requireRecallTarget = true)
    TextDedup.appendToEmbeddingIndex(
      emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding", path,
      commitTag = "accepted_batch")
    TextDedup.refitEmbeddingIndex(s, path, threshold = 0.4,
      requireRecallTarget = true)
    TextDedup.appendToEmbeddingIndex(
      emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding", path,
      commitTag = "accepted_batch")
    TextDedup.embeddingNearDupAgainstIndex(
        emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding",
        TextDedup.loadEmbeddingIndex(s, path), threshold = 0.4)
      .orderBy(col("new_id"), col("index_id"))
  }

  /** The ANN recall probe under the hard gate — the "when to refit"
    * signal pinned end-to-end. An IVF index is built on the even ids;
    * the probe draws 10 query vectors and the eval slice from it by
    * portable md5 order, then probes EXHAUSTIVELY (nProbe =
    * nCentroids): with every cell probed, the restricted-index answer
    * must equal exact brute force over the slice, so every per-query
    * row must read exactly (n_true = k, n_found = k, recall = 1.0). A
    * lost cell row, a sampling divergence (Spark md5 vs DuckDB md5),
    * or an intersection bug each surface as a hash mismatch. The
    * DRIFT regime (nProbe < nCentroids: recall sags as appends crowd
    * cells, refit restores it) is spec-proven in SimilaritySpec —
    * this entry pins the probe machinery itself. */
  val recallProbeIvf: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val path = SnapshotPaths.dirFor("ivf_recall_probe", dir, s)
    Similarity.saveIvfIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nCentroids = 8, maxIter = 5)
    RecallProbe.ivfIndexRecall(s, path, k = 3, nProbe = 8, nQueries = 10)
      .orderBy(col("query_id"))
  }

  /** The embedding-index recall probe under the hard gate: index on
    * even ids at the build-time recall target 0.4 (persisted in meta —
    * the probe DEFAULTS its threshold from there, so the
    * meta-threshold plumbing is itself gated), odd ids as the query
    * batch, eval slice = the whole indexed half. Oracle = exact
    * cross-parity cosine pair counts with recall 1.0 — valid exactly
    * while the family's REALIZED recall is 100% (requireRecallTarget
    * sizes the tables for it; seeded planes make it deterministic per
    * corpus), so this entry doubles as a realized-recall regression
    * gate, the very signal the probe exists to measure. */
  val recallProbeEmbedding: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val path = SnapshotPaths.dirFor("embedding_recall_probe", dir, s)
    TextDedup.saveEmbeddingIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, threshold = 0.4,
      requireRecallTarget = true)
    RecallProbe.embeddingIndexRecall(s, path,
        emb.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("batch_id"), col("embedding").as("bvec")),
        "batch_id", "bvec")
      .orderBy(col("query_id"))
  }

  val annTopK: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect().head
      .getSeq[Float](0)
    Similarity.topKForVector(emb, "vec_id", "embedding", query, k = 10)
  }

  val annMultiTopK: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    Similarity.topKForQueries(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hyperplane-LSH ANN under the hard gate: bits = 1 makes the 1-bit
    * multi-probe EXHAUSTIVE — a query probes its own bucket and its
    * single flip, i.e. the whole space — so the plane/bucket/probe/rank
    * machinery must reproduce exact brute force (same SQL as
    * q_ann_multi_topk; the trick q_ann_ivf_topk plays with exhaustive
    * cell probing). The approximation regime (bits ≫ 1) is covered by
    * SimilaritySpec's recall bound; this pins the machinery. */
  val annLshTopK: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    Similarity.annTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 3, bits = 1)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF ANN under the hard gate: with nProbe = nCentroids every cell is
    * probed, so the cell-probe machinery (k-means assignment, probe
    * join, in-cell exact ranking) must reproduce the exact brute-force
    * top-k — the same SQL as q_ann_multi_topk. The approximation regime
    * (nProbe < nCentroids) is covered by SimilaritySpec's recall bounds;
    * this entry pins the machinery itself. */
  val annIvfTopK: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    // injected centroids = the index-reuse path (fit once, query many);
    // few iterations suffice — with exhaustive probing the result is
    // centroid-independent, the fit only shapes cell sizes
    val centroids = Similarity.kmeansCentroids(emb, "embedding",
      nCentroids = 8, maxIter = 5)
    Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 3, nCentroids = 8, nProbe = 8,
        centroids = Some(centroids))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-PQ under the hard gate — the full product-quantization loop
    * (fit coarse + per-subspace residual codebooks → encode the corpus
    * to tinyint codes → ADC-probe → exact re-rank) runs inside the
    * measured query, with BOTH approximation knobs opened to
    * exhaustive: nProbe = nCentroids probes every cell and rerank·k ≥
    * |corpus| makes the ADC cut vacuous, so the exact re-rank must
    * reproduce brute force bit-for-bit (the q_ann_ivf_topk trick —
    * same SQL oracle). What the gate pins: codebook fit/persist/reload,
    * the codegen encode and ADC kernels preserving candidate identity,
    * the LUT/probe joins, and the full-vector re-rank semi-join. The
    * approximation regime (small nProbe/rerank) is covered by
    * SimilaritySpec's recall bound. */
  val annIvfPq: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val path = SnapshotPaths.dirFor("ivfpq_index", dir, s)
    Similarity.saveIvfPqIndex(emb, "vec_id", "embedding", path,
      nCentroids = 8, nSub = 8, nCodes = 16, maxIter = 5)
    Similarity.ivfPqTopK(Similarity.loadIvfPqIndex(s, path),
        emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 3, nProbe = 8, rerank = 200)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("query_id"), col("rank"))
  }

  /** SemDeDup under the hard gate: cluster assignment (seeded k-means,
    * engine-side) snapshotted to parquet — the [[simhashPairs]] trick —
    * then the cluster-scoped one-pass drop rule re-derived by DuckDB's
    * NOT EXISTS over the SAME assignments and the same rounded cosines.
    * The clustering itself is pinned by construction (the oracle reads
    * the snapshot, so ANY assignment works); what the gate pins is the
    * drop rule: witness scoping, the id tie-break, the ≥ tau boundary
    * on the 6-decimal rounding. */
  val semDedupKept: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val snap = SnapshotPaths.dirFor("semdedup_assign", dir, s)
    SemDedup.withClusters(emb, "vec_id", "embedding", nClusters = 8,
        maxIter = 5)
      .select(col("vec_id"), col("cluster_id"))
      .coalesce(1).write.mode("overwrite").parquet(snap)
    SemDedup.semDedup(emb, "vec_id", "embedding", tau = 0.3,
        assignments = Some(s.read.parquet(snap)))
      .select(col("vec_id"), col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** The audit half: every dropped row with its SMALLEST qualifying
    * witness and the rounded cosine — the min-aggregate tie-break must
    * match the oracle's window row-for-row. */
  val semDedupDropped: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val snap = SnapshotPaths.dirFor("semdedup_assign", dir, s)
    SemDedup.withClusters(emb, "vec_id", "embedding", nClusters = 8,
        maxIter = 5)
      .select(col("vec_id"), col("cluster_id"))
      .coalesce(1).write.mode("overwrite").parquet(snap)
    SemDedup.droppedWithWitness(emb, "vec_id", "embedding", tau = 0.3,
        assignments = Some(s.read.parquet(snap)))
      .orderBy(col("vec_id"))
  }

  /** The index-PERSISTENCE path under the hard gate: fit → saveIndex →
    * loadIndex → probe, all inside the measured query. With exhaustive
    * probing the result must equal exact brute force (same SQL oracle as
    * q_ann_ivf_topk), so a save/load corruption — schema drift, lost
    * centroid, float truncation changing an assignment — fails the gate.
    * The parquet round-trip is the "fit once, probe many" deployment
    * shape at 100 TB; per-data-dir index path, like the other snapshots. */
  val annIvfLoaded: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val idxPath = SnapshotPaths.dirFor("ivf_centroids", dir, s)
    Similarity.saveIndex(
      Similarity.kmeansCentroids(emb, "embedding", nCentroids = 8, maxIter = 5),
      idxPath)
    Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 3, nCentroids = 8, nProbe = 8,
        centroids = Some(Similarity.loadIndex(s, idxPath)))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF INDEX MAINTENANCE under the hard gate — the ANN twin of
    * [[minhashIndexAppend]]'s thirds shape: vec_id%3==0 is fitted and
    * assigned into a persisted cells index, %3==1 is APPENDED under the
    * frozen centroids (tagged — the exactly-once staged-commit path),
    * and %3==2 queries probe the loaded index EXHAUSTIVELY
    * (nProbe = nCentroids), which makes the result centroid-independent:
    * exact brute-force top-k over thirds 0∪1 (the q_ann_ivf_topk trick).
    * A lost append row drops a corpus vector from some cell → a
    * different top-k → hash mismatch; a drifted assignment between the
    * build and append kernels surfaces the same way at smaller nProbe
    * in SimilaritySpec. */
  val annIvfAppend: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val path = SnapshotPaths.dirFor("ivf_cells_append", dir, s)
    Similarity.saveIvfIndex(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", path, nCentroids = 8, maxIter = 5)
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", path, commitTag = "accepted_batch")
    val queries = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") < 15)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    Similarity.ivfTopKFromIndex(Similarity.loadIvfIndex(s, path), queries,
        "query_id", "qvec", k = 3, nProbe = 8)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF REFIT under the hard gate — the maintenance op that closes
    * the frozen-centroid drift trade, pinned end-to-end. Thirds 0 is
    * built (8 centroids), thirds 1 tagged-appended under the frozen
    * family, then REFIT re-clusters the union and rebuilds the cells
    * under a NEW centroid family, the SAME tag is replayed (must be a
    * tombstoned no-op — a re-append would duplicate every appended
    * vector, duplicating top-k candidates → hash mismatch), and
    * thirds-2 queries probe exhaustively. Exhaustive probing makes the
    * result centroid-family-independent: exact brute force over 0∪1,
    * the same SQL as q_ann_ivf_append — so the gate proves the refit
    * preserved the vector SET exactly (no lost cell row, no
    * re-appended duplicate) while the family changed underneath. */
  val annIvfRefit: Q = (s, dir) => {
    val emb = Scan.table(s, dir, "embeddings")
    val path = SnapshotPaths.dirFor("ivf_cells_refit", dir, s)
    Similarity.saveIvfIndex(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", path, nCentroids = 8, maxIter = 5)
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", path, commitTag = "accepted_batch")
    // refit with a DIFFERENT seed: the new family is genuinely not the
    // frozen one, so family-independence is exercised, not vacuous
    Similarity.refitIvfIndex(s, path, nCentroids = 8, seed = 7L, maxIter = 5)
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", path, commitTag = "accepted_batch")
    val queries = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") < 15)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    Similarity.ivfTopKFromIndex(Similarity.loadIvfIndex(s, path), queries,
        "query_id", "qvec", k = 3, nProbe = 8)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("query_id"), col("rank"))
  }

  val queries: ListMap[String, Q] = ListMap(
    "q_dedup_exact_text" -> exactTextDedup,
    "q_ngram_jaccard_pairs" -> ngramJaccardPairs,
    "q_minhash_lsh_pairs" -> minhashLshPairs,
    "q_minhash_incremental" -> minhashIncremental,
    "q_minhash_index_append" -> minhashIndexAppend,
    "q_stream_incremental_dedup" -> streamIncrementalDedup,
    "q_dedup_components" -> dedupComponents,
    "q_dedup_components_star" -> dedupComponentsStar,
    "q_cluster_reps" -> clusterReps,
    "q_substring_dedup" -> substringDedup,
    "q_simhash_pairs" -> simhashPairs,
    "q_simhash_portable_pairs" -> simhashPortablePairs,
    "q_decontaminate" -> decontaminate,
    "q_decontaminate_bloom" -> decontaminateBloom,
    "q_decontaminate_bloom_index" -> decontaminateBloomIndex,
    "q_embedding_neardup" -> embeddingNearDup,
    "q_embedding_neardup_lsh" -> embeddingNearDupLsh,
    "q_embedding_neardup_lsh_shuffle" -> embeddingNearDupLshShuffle,
    "q_embedding_incremental" -> embeddingIncremental,
    "q_embedding_index_append" -> embeddingIndexAppend,
    "q_embedding_index_refit" -> embeddingIndexRefit,
    "q_ann_topk" -> annTopK,
    "q_ann_multi_topk" -> annMultiTopK,
    "q_ann_lsh_topk" -> annLshTopK,
    "q_ann_ivf_topk" -> annIvfTopK,
    "q_ann_ivf_loaded" -> annIvfLoaded,
    "q_ann_ivf_append" -> annIvfAppend,
    "q_ann_ivf_refit" -> annIvfRefit,
    "q_ann_ivf_pq" -> annIvfPq,
    "q_semdedup_kept" -> semDedupKept,
    "q_semdedup_dropped" -> semDedupDropped,
    "q_recall_probe_ivf" -> recallProbeIvf,
    "q_recall_probe_embedding" -> recallProbeEmbedding)

  import graft.functions.GraftFunctions.roundPortableSql

  /** Exact cross-corpus containment — shared by q_decontaminate (exact
    * operator), q_decontaminate_bloom (Bloom prefilter + exact verify,
    * provably result-identical) and q_decontaminate_bloom_index (same
    * through the persisted artifact). */
  private lazy val decontamSql: String =
    s"""WITH sh AS (${shingleSelect("documents")}),
        se AS (SELECT doc_id, s FROM sh WHERE doc_id < 100),
        sc AS (SELECT doc_id, s FROM sh WHERE doc_id >= 100),
        esz AS (SELECT doc_id, COUNT(*) AS n FROM se GROUP BY 1),
        ip AS (SELECT c.doc_id AS corpus_id, e.doc_id AS eval_id,
                      COUNT(*) AS inter
               FROM sc c JOIN se e ON c.s = e.s GROUP BY 1, 2)
        SELECT corpus_id, eval_id,
               ${roundPortableSql("inter::DOUBLE / esz.n", 4)} AS containment
        FROM ip JOIN esz ON esz.doc_id = eval_id
        WHERE inter::DOUBLE / esz.n >= 0.5
        ORDER BY corpus_id, eval_id"""

  private val cosExpr =
    "list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
  private[queries] val cosR6 = roundPortableSql(cosExpr, 6)

  /** THE single SQL spelling of the engine's distinct word-n-gram list
    * over a `text` column — every n-gram-consuming oracle (exact/LSH
    * dedup, curation stage 4, decontamination, repetition) derives from
    * this expression so the oracle-side shingling can never fork. */
  private[queries] def ngramListSql(n: Int): String =
    s"""LIST_DISTINCT(LIST_TRANSFORM(
          GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - ${n - 1}),
          i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+${n - 1}], ' ')))"""

  /** [[ngramListSql]] at n = 3, exploded — the dedup oracles' shape. */
  private[queries] def shingleSelect(src: String): String =
    s"""SELECT doc_id, UNNEST(${ngramListSql(3)}) AS s
        FROM $src WHERE LEN(STRING_SPLIT(text, ' ')) >= 3"""

  /** CTE fragment deriving exact Jaccard intersection pairs from a
    * `(doc_id, text)` relation on [[shingleSelect]]'s shingles: defines
    * `sh` (distinct shingles), `sizes`, and `ip` (d1 < d2, intersection
    * counts). */
  private[queries] def jaccardPairCtes(src: String): String =
    s"""sh AS (${shingleSelect(src)}),
       sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       ip AS (
         SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2)"""

  /** CTE fragment: connected components of the threshold-0.7 pairs
    * derived from [[jaccardPairCtes]]'s `ip`/`sizes` — defines `jp`,
    * `edges`, `reach`, and `comp(node, component)`. Must run under
    * `WITH RECURSIVE`. THE single SQL spelling of the components walk,
    * shared by q_dedup_components and the cluster-curation oracle. */
  private[queries] val componentCtes: String =
    s"""jp AS (
         SELECT d1, d2 FROM ip
         JOIN sizes sa ON sa.doc_id = d1
         JOIN sizes sb ON sb.doc_id = d2
         WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter) >= 0.7),
       edges AS (
         SELECT d1 AS src, d2 AS dst FROM jp
         UNION SELECT d2, d1 FROM jp),
       reach(node, r) AS (
         SELECT src, src FROM edges
         UNION
         SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.node),
       comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)"""

  /** Exact n-gram-Jaccard pair SQL (n=3, threshold 0.7) over an optional
    * doc_id bound. Shared by the exact query's oracle (bounded) and the
    * LSH query's oracle (unbounded — LSH output ≡ exact pairs while
    * recall is 100%). */
  private def jaccardPairsSql(docBound: String): String =
    s"""WITH ${jaccardPairCtes(
           s"(SELECT doc_id, text FROM documents WHERE TRUE$docBound)")}
       SELECT d1, d2,
              ${roundPortableSql("inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)", 4)} AS jaccard
       FROM ip
       JOIN sizes sa ON sa.doc_id = d1
       JOIN sizes sb ON sb.doc_id = d2
       WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter) >= 0.7
       ORDER BY d1, d2"""

  private val embNearDupSql =
    s"""SELECT a.vec_id AS d1, b.vec_id AS d2, $cosR6 AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE $cosR6 >= 0.5
        ORDER BY d1, d2"""

  val oracles: ListMap[String, String] = ListMap(
    "q_dedup_exact_text" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id,
                COUNT(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY content_hash""",
    // Lee et al. substring dedup re-derived from scratch: the portable
    // split, per-token md5 hash, both rolling-hash channels (constants
    // interpolated from the SAME object the engine's native expression
    // reads — they cannot fork), the corpus-order (doc, pos) winner
    // rule, the L-token range marks and the cut+reassembly. Window
    // starts are 1-based here, 0-based engine-side; the kept token SET
    // is base-independent.
    "q_substring_dedup" -> {
      import graft.functions.SubstringWindowKeys.{B1, B2, P1, P2}
      val L = 20
      s"""WITH tok AS (
            SELECT doc_id,
              LIST_FILTER(STRING_SPLIT_REGEX(text,
                '${graft.functions.GraftFunctions.WsRun}'),
                x -> x <> '') AS ts
            FROM documents),
          th AS (
            SELECT doc_id, LEN(ts) AS n,
              LIST_TRANSFORM(ts,
                t -> ('0x' || SUBSTR(MD5(t), 1, 15))::BIGINT) AS hs
            FROM tok),
          pos AS (
            SELECT doc_id, hs,
              UNNEST(RANGE(1, GREATEST(n - $L + 1, 0) + 1)) AS i
            FROM th),
          win AS (
            SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
              LIST_REDUCE(LIST_PREPEND(0::BIGINT,
                LIST_TRANSFORM(hs[i:i+$L-1], x -> x % $P1)),
                (a, x) -> (a * $B1 + x) % $P1) * $P2
            + LIST_REDUCE(LIST_PREPEND(0::BIGINT,
                LIST_TRANSFORM(hs[i:i+$L-1], x -> x % $P2)),
                (a, x) -> (a * $B2 + x) % $P2) AS key
            FROM pos),
          losers AS (
            SELECT doc_id, pos FROM (
              SELECT doc_id, pos,
                ROW_NUMBER() OVER (PARTITION BY key
                  ORDER BY doc_id, pos) AS rn
              FROM win) WHERE rn > 1),
          st AS (SELECT doc_id, LIST(pos) AS starts
                 FROM losers GROUP BY doc_id),
          cut AS (
            SELECT t.doc_id,
              LIST_FILTER(
                LIST_TRANSFORM(RANGE(1, LEN(t.ts) + 1),
                  j -> CASE WHEN LEN(LIST_FILTER(COALESCE(s.starts, []),
                         p -> p <= j - 1 AND j - 1 < p + $L)) = 0
                       THEN t.ts[j] END),
                x -> x IS NOT NULL) AS kept,
              LEN(t.ts) AS n_all
            FROM tok t LEFT JOIN st s USING (doc_id)
            WHERE t.ts IS NOT NULL)
          SELECT doc_id, ARRAY_TO_STRING(kept, ' ') AS text,
            CAST(LEN(kept) AS BIGINT) AS n_tokens_kept,
            CAST(n_all - LEN(kept) AS BIGINT) AS n_tokens_dropped
          FROM cut WHERE LEN(kept) > 0 ORDER BY doc_id"""
    },
    "q_ngram_jaccard_pairs" -> jaccardPairsSql(" AND doc_id < 500"),
    "q_minhash_lsh_pairs" -> jaccardPairsSql(""),
    // exact Jaccard over the full corpus, restricted to pairs that CROSS
    // the parity split (even ids = indexed corpus, odd ids = new batch);
    // ip keeps d1 < d2, so each side of the CASE picks the right parity
    "q_minhash_incremental" -> crossParityJaccardSql,
    // IDENTICAL SQL by design: the Spark side runs the same dedup
    // through the streaming engine (file source → AvailableNow →
    // foreachBatch), so streaming ≡ batch is oracled, not just asserted
    "q_stream_incremental_dedup" -> crossParityJaccardSql,
    // exact Jaccard over pairs that cross from the new third (%3==2)
    // into either indexed third (%3∈{0,1}): the appended index must
    // behave exactly like a full rebuild over thirds 0+1
    "q_minhash_index_append" ->
      s"""WITH ${jaccardPairCtes("(SELECT doc_id, text FROM documents)")}
         SELECT CASE WHEN d1 % 3 = 2 THEN d1 ELSE d2 END AS new_id,
                CASE WHEN d1 % 3 = 2 THEN d2 ELSE d1 END AS index_id,
                ${roundPortableSql("inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)", 4)} AS jaccard
         FROM ip
         JOIN sizes sa ON sa.doc_id = d1
         JOIN sizes sb ON sb.doc_id = d2
         WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter) >= 0.7
           AND ((d1 % 3 = 2) <> (d2 % 3 = 2))
         ORDER BY new_id, index_id""",
    // Components = min reachable id per node, walked by a recursive CTE
    // over the same exact-Jaccard edges the engine clusters.
    "q_dedup_components" ->
      s"""WITH RECURSIVE ${jaccardPairCtes(
             "(SELECT doc_id, text FROM documents WHERE doc_id < 500)")},
         $componentCtes
         SELECT node, component FROM comp ORDER BY node""",
    // identical SQL to q_dedup_components BY DESIGN: the Spark side is
    // the forced-distributed star-contraction loop, so strategy
    // equivalence is oracled, not just spec-asserted
    "q_dedup_components_star" ->
      s"""WITH RECURSIVE ${jaccardPairCtes(
             "(SELECT doc_id, text FROM documents WHERE doc_id < 500)")},
         $componentCtes
         SELECT node, component FROM comp ORDER BY node""",
    // same recursive component walk + the shared quality spelling
    // (TextQueries.qualityScoreSql); the representative is the
    // (quality desc, doc_id asc) first value per component — DuckDB's
    // default NULLS LAST under DESC matches the engine's null-loses rule
    "q_cluster_reps" ->
      s"""WITH RECURSIVE ${jaccardPairCtes(
             "(SELECT doc_id, text FROM documents WHERE doc_id < 500)")},
         $componentCtes,
         ql AS (SELECT doc_id, ${TextQueries.qualityScoreSql} AS quality
                FROM documents WHERE doc_id < 500),
         lab AS (SELECT ql.doc_id,
                   COALESCE(c.component, ql.doc_id) AS component, ql.quality
                 FROM ql LEFT JOIN comp c ON c.node = ql.doc_id),
         rr AS (SELECT lab.*, FIRST_VALUE(doc_id) OVER (
                  PARTITION BY component
                  ORDER BY quality DESC, doc_id) AS rep_id
                FROM lab)
         SELECT doc_id, component, rep_id,
           (doc_id = rep_id) AS is_rep, quality
         FROM rr ORDER BY doc_id""",
    // Pairs by exact all-pairs hamming over the Spark-computed
    // fingerprint snapshot (≡ the engine's chunk join: maxHamming <
    // chunks ⇒ pigeonhole-exact). Gates the join machinery bit-for-bit.
    // The snapshot dir carries the data-dir token; Verify resolves it.
    "q_simhash_pairs" ->
      s"""SELECT a.doc_id AS d1, b.doc_id AS d2,
                 CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
          FROM read_parquet('${SnapshotPaths.tokenDirFor("simhash_fp")}/*.parquet') a
          JOIN read_parquet('${SnapshotPaths.tokenDirFor("simhash_fp")}/*.parquet') b
            ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.fp, b.fp)) <= 3
          ORDER BY d1, d2""",
    // Portable simhash: identical md5-60-bit fingerprints recomputed in
    // DuckDB; oracle derives pairs by exact all-pairs hamming (≡ the
    // engine's pigeonhole chunk join for maxHamming < chunks).
    "q_simhash_portable_pairs" ->
      """WITH tok AS (
           SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
         fp AS (
           SELECT doc_id,
                  CAST(list_sum(list_transform(range(60), b ->
                    CASE WHEN list_sum(list_transform(ts, t ->
                        CASE WHEN ((('0x' || substr(md5(t), 1, 15))::BIGINT >> b) & 1) = 1
                             THEN 1 ELSE -1 END)) >= 0
                         THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS fp
           FROM tok)
         SELECT a.doc_id AS d1, b.doc_id AS d2,
                CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 3
         ORDER BY d1, d2""",
    // cross-corpus containment: |∩ shingles| / |eval shingles| — the
    // asymmetric decontamination metric, same shared shingle spelling
    "q_decontaminate" -> decontamSql,
    // SAME exact-containment SQL: the Bloom prefilter is provably
    // result-preserving (no false negatives + the exact verify removes
    // false positives — Decontaminate's object doc), so any over-prune,
    // a build/probe hash divergence, or a needed-hits cut that drops a
    // true positive fails the hash here
    "q_decontaminate_bloom" -> decontamSql,
    // and through the persisted artifact (save → load → decontaminate):
    // a lost shingle row, a corrupted filter byte, or a meta round-trip
    // bug surfaces as a result delta against the identical oracle
    "q_decontaminate_bloom_index" -> decontamSql,
    "q_embedding_neardup" -> embNearDupSql,
    "q_embedding_neardup_lsh" -> embNearDupSql,
    // same exact-cosine SQL: only the Spark-side verify join strategy
    // differs (forced shuffle branch)
    "q_embedding_neardup_lsh_shuffle" -> embNearDupSql,
    // exact cosine restricted to cross-parity pairs (odd = new batch,
    // even = persisted index) — the embedding twin of the
    // q_minhash_incremental oracle
    "q_embedding_incremental" ->
      s"""SELECT a.vec_id AS new_id, b.vec_id AS index_id, $cosR6 AS cosine
          FROM embeddings a JOIN embeddings b
            ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0
          WHERE $cosR6 >= 0.5
          ORDER BY new_id, index_id""",
    // exact cosine over pairs crossing from the new third (%3==2) into
    // either indexed third — the appended SRP index must behave exactly
    // like a full rebuild over thirds 0+1; the refit variant re-sizes
    // the plane family and re-buckets mid-query and must preserve the
    // same vector set and recall regime (identical oracle)
    "q_embedding_index_append" -> embThirdsSql,
    "q_embedding_index_refit" -> embThirdsSql,
    "q_ann_topk" ->
      s"""SELECT b.vec_id,
          ${roundPortableSql(
            """list_cosine_similarity(b.embedding::DOUBLE[],
              (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[])""", 6)}
            AS cosine
         FROM embeddings b
         ORDER BY cosine DESC, vec_id LIMIT 10""",
    "q_ann_multi_topk" -> annMultiTopKSql,
    // exhaustive-probe IVF ≡ exact brute force — identical oracle;
    // the loaded-index variant adds the parquet save/load round-trip
    // inside the gated query
    "q_ann_lsh_topk" -> annMultiTopKSql,
    "q_ann_ivf_topk" -> annMultiTopKSql,
    "q_ann_ivf_loaded" -> annMultiTopKSql,
    // exhaustive-probe IVF over a built-then-appended cells index ≡
    // exact brute force over thirds 0∪1 for queries in third 2 —
    // append-under-frozen-centroids must equal a full rebuild; the
    // refit variant re-clusters and rebuilds mid-query and must
    // preserve the same vector set (identical oracle)
    "q_ann_ivf_append" -> ivfThirdsSql,
    "q_ann_ivf_refit" -> ivfThirdsSql,
    // exhaustive probe + vacuous ADC cut + exact re-rank ≡ brute force
    "q_ann_ivf_pq" -> annMultiTopKSql,
    // the cluster-scoped one-pass drop rule over the engine-written
    // assignment snapshot: NOT EXISTS a smaller-id same-cluster
    // neighbor at round6(cosine) >= 0.3
    "q_semdedup_kept" ->
      s"""WITH assign AS (
            SELECT vec_id, cluster_id FROM read_parquet(
              '${SnapshotPaths.tokenDirFor("semdedup_assign")}/*.parquet'))
          SELECT a.vec_id, a.cluster_id FROM assign a
          WHERE NOT EXISTS (
            SELECT 1 FROM assign w
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = w.vec_id
            WHERE w.cluster_id = a.cluster_id AND w.vec_id < a.vec_id
              AND ${roundPortableSql(
                "list_cosine_similarity(ea.embedding::DOUBLE[], " +
                  "eb.embedding::DOUBLE[])", 6)} >= 0.3)
          ORDER BY a.vec_id""",
    // the dropped rows with the smallest qualifying witness — the
    // engine's min-struct aggregate ≡ the window's (w_id, cosine) rank
    "q_semdedup_dropped" ->
      s"""WITH assign AS (
            SELECT vec_id, cluster_id FROM read_parquet(
              '${SnapshotPaths.tokenDirFor("semdedup_assign")}/*.parquet')),
          p AS (
            SELECT a.vec_id, a.cluster_id, w.vec_id AS w_id,
              ${roundPortableSql(
                "list_cosine_similarity(ea.embedding::DOUBLE[], " +
                  "eb.embedding::DOUBLE[])", 6)} AS c
            FROM assign a
            JOIN assign w ON w.cluster_id = a.cluster_id
              AND w.vec_id < a.vec_id
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = w.vec_id),
          q AS (SELECT * FROM p WHERE c >= 0.3),
          r AS (SELECT vec_id, cluster_id, w_id, c,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY w_id, c) AS rk FROM q)
          SELECT vec_id, cluster_id, w_id AS witness_id, c AS cosine
          FROM r WHERE rk = 1 ORDER BY vec_id""",
    // the probe's sampled query ids are reproduced by the SAME portable
    // md5 order; exhaustive probing pins every recall row at exactly
    // (k, k, 1.0) — any lost candidate anywhere in the probe machinery
    // breaks the hash
    "q_recall_probe_ivf" ->
      """WITH s AS (
           SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0
           ORDER BY md5(CAST(vec_id AS VARCHAR) || '/recall-q'), vec_id
           LIMIT 10)
         SELECT vec_id AS query_id, 3 AS n_true, 3 AS n_found,
                CAST(1.0 AS DOUBLE) AS recall
         FROM s ORDER BY query_id""",
    // exact cross-parity pair counts; recall pinned at 1.0 — valid
    // exactly while the family's realized recall is 100%, so the gate
    // IS the recall regression check the probe exists to provide
    "q_recall_probe_embedding" ->
      s"""SELECT a.vec_id AS query_id,
                 CAST(COUNT(*) AS INTEGER) AS n_true,
                 CAST(COUNT(*) AS INTEGER) AS n_found,
                 CAST(1.0 AS DOUBLE) AS recall
          FROM embeddings a JOIN embeddings b
            ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0
          WHERE $cosR6 >= 0.4
          GROUP BY a.vec_id
          ORDER BY query_id"""
  )

  private lazy val embThirdsSql: String =
    s"""SELECT a.vec_id AS new_id, b.vec_id AS index_id, $cosR6 AS cosine
        FROM embeddings a JOIN embeddings b
          ON a.vec_id % 3 = 2 AND b.vec_id % 3 <> 2
        WHERE $cosR6 >= 0.4
        ORDER BY new_id, index_id"""

  private lazy val ivfThirdsSql: String =
    s"""SELECT * FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                 $cosR6 AS cosine,
                 CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
                   ORDER BY $cosR6 DESC, b.vec_id) AS INTEGER) AS rank
          FROM embeddings a JOIN embeddings b
            ON a.vec_id % 3 = 2 AND a.vec_id < 15 AND b.vec_id % 3 <> 2)
        WHERE rank <= 3 ORDER BY query_id, rank"""

  private lazy val crossParityJaccardSql: String =
    s"""WITH ${jaccardPairCtes("(SELECT doc_id, text FROM documents)")}
       SELECT CASE WHEN d1 % 2 = 1 THEN d1 ELSE d2 END AS new_id,
              CASE WHEN d1 % 2 = 0 THEN d1 ELSE d2 END AS index_id,
              ${roundPortableSql("inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)", 4)} AS jaccard
       FROM ip
       JOIN sizes sa ON sa.doc_id = d1
       JOIN sizes sb ON sb.doc_id = d2
       WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter) >= 0.7
         AND (d1 % 2) <> (d2 % 2)
       ORDER BY new_id, index_id"""

  private lazy val annMultiTopKSql: String =
    s"""SELECT * FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                 $cosR6 AS cosine,
                 CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
                   ORDER BY $cosR6 DESC, b.vec_id) AS INTEGER) AS rank
          FROM embeddings a JOIN embeddings b ON a.vec_id < 5)
        WHERE rank <= 3 ORDER BY query_id, rank"""
}
