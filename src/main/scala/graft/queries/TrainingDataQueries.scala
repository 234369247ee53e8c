package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession.{Pinnable, concurrently, withJobLabels}
import graft.operators.{Blocklist, Chunking, Curation, Dsir, Packing,
  ParagraphDedup, QualityClassifier, Sampling, SemDedup, Sharding,
  SubstringDedup, TextDedup}
import graft.sources.Scan

/** The training-data CAPSTONE: the full crawl-ingest flow — curate →
  * dedup-against-index → append survivors → pack → split — as ONE
  * hash-gated query (`q_training_data_e2e`), the extension-brief analog
  * of `q_orchestrator_e2e`. Every stage is individually gated elsewhere;
  * what only this entry catches is COMPOSITION bugs: schema drift
  * between stages, id-space collisions, an append whose effect the next
  * stage silently fails to see.
  *
  * Shape: the even-id half of `documents` plays the existing corpus
  * (signed into a persisted minhash index); the odd half arrives as two
  * crawl WAVES (doc_id % 4 = 1, then 3). Each wave is curated
  * ([[Curation.curate]]: lang/quality filter → exact dedup → in-wave
  * near-dup removal), deduped against the LOADED index, and its accepted
  * docs are APPENDED (tagged — the exactly-once staged-commit path)
  * before the next wave loads. The append is LOAD-BEARING in the output:
  * wave-B docs near-duplicating wave-A survivors are dropped only
  * because wave A's commit landed — a lost append changes the accepted
  * set and fails the hash gate. Accepted docs then get train/val/test
  * splits ([[Sampling.withSplit]]) and 2048-token packing offsets
  * ([[Packing.withPackingBins]] — the distributed prefix sum).
  *
  * Oracle: the existing exact-SQL spellings composed — curation feature
  * CTEs ([[TextQueries.curationFeatureCtes]]) with per-wave stage-3
  * canon, one global exact-Jaccard pair relation
  * ([[DedupQueries.jaccardPairCtes]]) driving in-wave keep-first drops
  * AND both against-index stages, the md5 split buckets
  * ([[MixtureQueries.bucketSql]]), and the window cumsum for packing.
  * Valid in the shared every-LSH-oracle regime: 100% LSH recall on the
  * testdata corpus (measured; threshold 0.7).
  */
object TrainingDataQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The flow the gated query runs. Signs the even-id half into
    * `idxPath`, ingests the two odd-id waves, returns the accepted set
    * with split + packing columns (unordered — the query adds its total
    * ORDER BY). */
  def ingestFlow(docs: DataFrame, idxPath: String): DataFrame = {
    val s = docs.sparkSession
    // The up-front legs share no data dependency — wave curation
    // touches only the wave's documents, and only the against-index
    // step reads the index — so the index save and both waves' curation
    // overlap, and wave B's curation also overlaps wave A's ingest. The
    // against-index → append chain stays strictly ordered (wave B must
    // see wave A's append). Every leg's inputs are unchanged, so results
    // equal the sequential spelling.
    def curateWave(wave: Int): DataFrame = withJobLabels(s, "e2e") { label =>
      label(s"curate_wave_$wave")
      // pinned: the curated wave feeds the against-index dedup AND the
      // anti-join below; the pin also FORCES the wave's curation jobs
      // now, inside the overlap window (and inside the label)
      Curation.curate(docs.filter(col("doc_id") % 4 === wave), "doc_id", "text")
        .pinScratch()
    }
    // one crawl wave: drop curated docs already in the (current) index,
    // fold the accepted survivors in for the NEXT wave to see
    def ingestWave(curated: DataFrame, tag: String): DataFrame = {
      val dupIds = TextDedup.minhashLshAgainstIndex(
          curated, "doc_id", "text",
          TextDedup.loadMinhashIndex(s, idxPath), threshold = 0.7)
        .select(col("new_id").as("doc_id")).distinct()
      val accepted = curated.join(dupIds, Seq("doc_id"), "left_anti")
        .pinScratch() // feeds the append AND the final output
      TextDedup.appendToMinhashIndex(
        accepted, "doc_id", "text", idxPath, commitTag = tag)
      accepted
    }
    val (acceptedA, curatedB) = concurrently(s)({
      val (_, curatedA) = concurrently(s)({
        // the pre-existing corpus, signed once (save wipes stale
        // commits, so re-runs in one session start from the same state)
        withJobLabels(s, "e2e") { label =>
          label("index_save")
          TextDedup.saveMinhashIndex(
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idxPath)
        }
      }, curateWave(1))
      ingestWave(curatedA, "wave_a")
    }, curateWave(3))
    val acceptedB = ingestWave(curatedB, "wave_b")
    val accepted = acceptedA.unionByName(acceptedB)
      .select(col("doc_id"), col("pred_lang"), col("quality"),
        col("n_tokens"), col("text"))
      .pinScratch() // consumed by split AND packing

    val packed = Packing.withPackingBins(
      accepted.select(col("doc_id"), col("n_tokens")),
      "doc_id", "n_tokens", budget = 2048)
      .select(col("doc_id"), col("start_offset"), col("bin"), col("bin_offset"))
    Sampling.withSplit(accepted, "doc_id")
      .join(packed, Seq("doc_id"))
      .select(col("doc_id"), col("pred_lang"), col("quality"),
        col("n_tokens"), col("split"), col("start_offset"),
        col("bin"), col("bin_offset"))
  }

  val trainingDataE2E: Q = (s, dir) =>
    ingestFlow(Scan.table(s, dir, "documents"),
        SnapshotPaths.dirFor("e2e_index", dir, s))
      .orderBy(col("doc_id"))

  // ---- capstone v2: the modern-curation stack, composed ----

  /** v2 stage constants — shared by the flow and the oracle
    * generator so the two can never drift. */
  private val V2BlockTerms = Seq("dup")
  private val V2Tau = 0.3
  private[graft] val V2ResampleK = 150
  private[graft] val V2TempTotal = 12000L
  private val V2ChunkTokens = 64
  private[graft] val V2ChunkStride = 48
  private val V2PackBudget = 2048L

  /** The MODERN-curation capstone (`q_training_data_v2`): every r16
    * operator family composed into one hash-gated flow —
    *
    *   blocklist → learned-classifier filter → paragraph-level exact
    *   dedup → substring-level exact dedup → SemDeDup → DSIR
    *   importance resample → temperature-scaled BPE-token budget take
    *   → chunk → pack → shard
    *
    * Each stage is individually gated elsewhere; what only this entry
    * catches is COMPOSITION: schema drift between stages (both dedups
    * REBUILD the text column and drop empty survivors; lang/p_good
    * must be re-attached), an id space that survives one dedup but not
    * the next, a downstream stage silently reading pre-dedup text, and
    * boundary effects (a classifier filter on unrounded scores, a
    * budget take over the wrong token currency) that single-op gates
    * can't see. The oracle composes each stage's EXISTING SQL spelling
    * over the previous stage's CTE — blocklist token filter, the
    * snapshot-scored sigmoid, both corpus-order winner rules, the
    * NOT-EXISTS witness over the snapshotted v2 clustering, the
    * bucket-LM mean log-ratio + A-ES priority, quantized √-share
    * budgets, the recursive-CTE BPE tokenizer, slice chunking, the
    * global packing cumsum, and the md5 shard hash — one drifted value
    * at ANY stage boundary fails the final chunk-row hash.
    *
    * Scale shape: every stage keeps its own posture (map-only
    * projections; bounded-aggregate ranks; one key exchange per dedup;
    * broadcast LMs; the two-pass prefix machinery for take/pack) — the
    * composition adds joins on the shrinking survivor id set only.
    * [[graft.GraftSession.pin]] seams sit exactly where a stage's
    * output feeds two consumers (assignment snapshot + witness join;
    * resample's score + join-back; take's chunk + enrich join). */
  def curationFlowV2(docs: DataFrame, embeddings: DataFrame,
      qcModelDir: String, assignDir: String,
      /** Cluster count for the SemDeDup stage — 8 fits the 500-doc
        * gate corpus; at scale pass [[SemDedup.clustersFor]] of the
        * embedded-corpus size (the paper's fixed-target-size posture).
        * The gate is cluster-count-agnostic: the oracle reads the
        * assignment snapshot. */
      nClusters: Int = 8,
      /** Hot-cluster guard for the SemDeDup stage (see
        * [[SemDedup.semDedup]]); the gate keeps exact behavior. */
      maxClusterSize: Long = Long.MaxValue,
      /** Reference corpus for the DSIR stage's target/raw LMs —
        * defaults to `docs` itself (the v2 shape). The v3 capstone
        * passes the RAW labeled table instead: DSIR's target LM must
        * come from a TRUSTED slice (`lang = 'en'` by true labels), and
        * the crawl corpus's `lang` is an NB prediction — on the
        * synthetic gate corpus a degenerate one, which would make the
        * target slice empty and null every importance weight. */
      dsirRef: DataFrame = null): DataFrame = {
    val s = docs.sparkSession
    val dsRef = Option(dsirRef).getOrElse(docs)
    import graft.functions.GraftFunctions.roundPortable
    // §1.5 job labels: attribute each eager seam (pin/write/collect) to
    // its stage in the UI / JobProbe
    withJobLabels(s, "v2") { label =>

    // the DSIR reference-LM pair depends ONLY on dsRef (the raw
    // corpus), not on stages 1-5, so it is fitted as a leg beside them;
    // its jobs back-fill executors idled by the serial qc/dedup pins.
    // Same inputs, seeds and spelling, so the LMs are bit-identical.
    val ((scored, sem), (tLm, rLm)) = concurrently(s)({
      // stage 1: blocklist drop (C4 rule; null text has no hits → kept,
      // and then dropped at stage 2 where a null can't score)
      val blok = Blocklist.filterBlocked(
        docs.select(col("doc_id"), col("text"), col("lang")),
        "text", V2BlockTerms)

      // stage 2: learned-classifier filter. The fit slice is the RAW
      // corpus (doc_id < 300, rule-based labels) — a reference model,
      // not a function of upstream stages; the snapshot is what the
      // oracle scores with. Filter on the ROUNDED score so the 0.5
      // boundary is engine-portable.
      val labeled = docs.filter(col("doc_id") < 300)
        .withColumn("y",
          (graft.functions.TextAnalysis.stopwordHits(col("text"), "en") >= 2)
            .cast("double"))
      label("qc_fit")
      val model = QualityClassifier.fit(labeled, "text", "y", buckets = 128)
      label("qc_snapshot")
      QualityClassifier.modelRelation(s, model)
        .coalesce(1).write.mode("overwrite").parquet(qcModelDir)
      label("qc_score_pin")
      val scored = QualityClassifier.score(blok, "text", model)
        .withColumn("p_good", roundPortable(col("p_good"), 6))
        .filter(col("p_good") >= 0.5)
        .pinScratch() // feeds stage 3 AND the post-resample enrich join

      // stages 3+4: paragraph- then substring-level exact dedup — both
      // rebuild `text`, so downstream stages must see the REBUILT copy
      val para = ParagraphDedup.dedupParagraphs(
          scored.select(col("doc_id"), col("text")), "doc_id", "text",
          sepRegex = " table ", joiner = " | ")
        .select(col("doc_id"), col("text"))
      val sub = SubstringDedup.dedupSubstrings(para, "doc_id", "text",
          minTokens = 20)
        .select(col("doc_id"), col("text"))

      // stage 5: SemDeDup over the survivors' embeddings — clusters FIT
      // ON THE SURVIVOR SET (the composition point: a clustering of the
      // raw corpus would leak dropped docs into the witness scope),
      // snapshotted for the oracle's NOT-EXISTS twin
      label("semdedup_vec_pin")
      val withVec = sub.join(
          embeddings.select(col("vec_id").as("doc_id"), col("embedding")),
          "doc_id")
        .pinScratch() // read by the cluster fit, the snapshot AND the witness join
      label("semdedup_fit_snapshot")
      SemDedup.withClusters(withVec, "doc_id", "embedding", nClusters,
          maxIter = 5)
        .select(col("doc_id"), col("cluster_id"))
        .coalesce(1).write.mode("overwrite").parquet(assignDir)
      label("semdedup_pin")
      val sem = SemDedup.semDedup(withVec, "doc_id", "embedding",
          tau = V2Tau, assignments = Some(s.read.parquet(assignDir)),
          maxClusterSize = maxClusterSize)
        .select(col("doc_id"), col("text"))
        .pinScratch() // scored AND joined back inside the resample
      (scored, sem)
    }, {
      label("dsir_lm_fit")
      Dsir.fitHashedLmPair(dsRef, "text", col("lang") === "en", buckets = 1024)
    })

    // stage 6: DSIR importance resample — reference LMs from the RAW
    // corpus (target = the en slice), documents scored on their
    // REBUILT text, A-ES priority with weight exp(log_ratio)
    label("dsir_resample")
    // target = the en slice OF dsRef: one fused reference pass fitted
    // both LMs (bit-identical counts; see Dsir.fitHashedLmPair)
    val res = Dsir.resampleByImportance(sem, "doc_id", "text",
        dsRef.filter(col("lang") === "en"), "text", dsRef, "text",
        k = V2ResampleK, buckets = 1024,
        targetLm = Some(tLm), rawLm = Some(rLm))
      .join(scored.select(col("doc_id"), col("lang"), col("p_good")),
        "doc_id")

    // stages 7+8: temperature-scaled budgets (α = 0.5, the cross-engine
    // exactness point) SPENT IN BPE TOKENS of the rebuilt text
    label("bpe_count_pin")
    // spread before the BPE count (guide §2.5): the resample output is
    // ≤ k rows on ONE post-join partition, and bpe_token_count is the
    // heaviest per-row kernel in the flow — the pin ran as a single
    // ~0.7 s task (JobProbe r22). MODEST width (~k/16 rows per task,
    // capped at cores): per-task fixed cost on this plan is ~100 ms,
    // so a full-core fan-out of ≤ k tiny rows costs more than it buys.
    val cores = math.max(1, s.sparkContext.defaultParallelism)
    val withBpe = res
      .repartition(math.max(1, math.min(cores, V2ResampleK / 16)))
      .withColumn("n_tokens",
        graft.functions.GraftFunctions.bpe_token_count(col("text")))
      .pinScratch() // budget allocation collect AND the take both read it
    label("budgets")
    val budgets = Sampling.temperatureBudgets(withBpe, "lang", "n_tokens",
      totalBudget = V2TempTotal, alpha = 0.5)
    label("take_pin")
    // explicit width from the flow's OWN bound (the take input is the
    // ≤ V2ResampleK resample survivors): partitionsForPlan's byte
    // estimate multiplies through the upstream joins to ~19 GB here
    // and sized these stages 150 wide — ~5× the honest width, pure
    // scheduling overhead (JobProbe r22). Same fix for the chunk
    // packing below: the chunk stream is bounded by the token budget
    // over the stride, a flow constant.
    val taken = Sampling.takeTokenBudget(withBpe, "doc_id", "lang",
        "n_tokens", budgets, defaultBudget = 0L,
        numPartitions = Some(
          graft.GraftSession.partitionsFor(s, V2ResampleK.toLong)))
      .pinScratch() // chunked AND enrich-joined below

    // stage 9: chunk the taken documents (64-token windows, stride 48)
    label("chunk_pack")
    val chunks = Chunking.chunkByTokens(
      taken.select(col("doc_id"), col("text")), "doc_id", "text",
      maxTokens = V2ChunkTokens, stride = V2ChunkStride)

    // stage 10: pack the CHUNK stream (global prefix sum over the
    // (doc, chunk) order via a single packing key)
    val withUid = chunks.withColumn("chunk_uid",
      col("doc_id") * 1000L + col("chunk_id"))
    val packed = Packing.withPackingBins(
        withUid.select(col("chunk_uid"), col("n_chunk_tokens")),
        "chunk_uid", "n_chunk_tokens", budget = V2PackBudget,
        numPartitions = Some(graft.GraftSession.partitionsFor(
          s, V2TempTotal / V2ChunkStride + V2ResampleK)))
      .select(col("chunk_uid"), col("start_offset"), col("bin"),
        col("bin_offset"))

    // stage 11: shard by the portable order hash of the chunk key
    label("final")
    Sharding.withShard(withUid.join(packed, "chunk_uid"), "chunk_uid",
        nShards = 16)
      .join(taken.select(col("doc_id"), col("lang"), col("p_good"),
        col("log_ratio"), col("n_tokens"), col("group_start")), "doc_id")
      .select(col("doc_id"), col("chunk_id"), col("lang"), col("p_good"),
        col("log_ratio"), col("n_tokens"), col("group_start"),
        col("chunk_text"), col("n_chunk_tokens"), col("start_offset"),
        col("bin"), col("bin_offset"), col("shard"))
    }
  }

  val trainingDataV2: Q = (s, dir) =>
    curationFlowV2(
        Scan.table(s, dir, "documents"), Scan.table(s, dir, "embeddings"),
        SnapshotPaths.dirFor("qc_model_v2", dir, s),
        SnapshotPaths.dirFor("semdedup_assign_v2", dir, s))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** The v3 capstone keeps ALL the NB model's languages through the
    * crawl screens (see [[HtmlQueries.CrawlKeepLangs]]), so the
    * downstream temperature-budget stage stays genuinely multilingual. */
  private val V3KeepLangs = HtmlQueries.CrawlKeepLangs

  /** THE unifying capstone (`q_training_data_v3`, r18): raw HTML →
    * training shards in ONE gated query — the crawl front-end
    * ([[HtmlQueries.crawlCorpus]]: URL screens → extract → NFC clean →
    * Gopher shape → trainable-NB language ID → curation screens +
    * exact dedup) feeding the full 11-stage modern-curation stack
    * ([[curationFlowV2]]). What only this composition catches: doc-id
    * stability across the front-end's row-DROPPING stages (a dropped
    * page whose id re-enters via any downstream join is a leak), the
    * lang column handoff (downstream budgets spend per NB-predicted
    * language), and text-form drift (the v2 stack must hash/tokenize
    * the extractor's cleaned text, never the raw page). The oracle
    * composes the crawl CTE stack and the v2 stack — both already
    * proven alone — over the same seam. */
  val trainingDataV3: Q = (s, dir) => {
    val corpus = HtmlQueries.crawlCorpus(s, dir,
        graft.operators.Curation.Config(keepLangs = V3KeepLangs.toSet))
      .select(col("doc_id"), col("text"), col("pred_lang").as("lang"))
    curationFlowV2(corpus, Scan.table(s, dir, "embeddings"),
        SnapshotPaths.dirFor("qc_model_v3", dir, s),
        SnapshotPaths.dirFor("semdedup_assign_v3", dir, s),
        dsirRef = Scan.table(s, dir, "documents"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val queries: ListMap[String, Q] = ListMap(
    "q_training_data_e2e" -> trainingDataE2E,
    "q_training_data_v2" -> trainingDataV2,
    "q_training_data_v3" -> trainingDataV3)

  import MixtureQueries.{bucketSql, ppm}

  val oracles: ListMap[String, String] = ListMap(
    // the composed exact spelling; see the object doc for the mapping
    "q_training_data_e2e" ->
      s"""WITH ${TextQueries.curationFeatureCtes(
             "(SELECT * FROM documents WHERE doc_id % 2 = 1)")},
          canon AS (
            SELECT doc_id % 4 AS wave, content_hash, MIN(doc_id) AS doc_id
            FROM kept GROUP BY doc_id % 4, content_hash),
          surv AS (
            SELECT k.doc_id, k.pred_lang, k.quality, k.n_tokens
            FROM kept k JOIN canon c
              ON k.content_hash = c.content_hash AND k.doc_id = c.doc_id),
          ${DedupQueries.jaccardPairCtes("(SELECT doc_id, text FROM documents)")},
          jp AS (
            SELECT d1, d2 FROM ip
            JOIN sizes sa ON sa.doc_id = d1
            JOIN sizes sb ON sb.doc_id = d2
            WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter) >= 0.7),
          sym AS (SELECT d1, d2 FROM jp
                  UNION ALL SELECT d2 AS d1, d1 AS d2 FROM jp),
          s4drop AS (
            SELECT DISTINCT jp.d2 AS doc_id
            FROM jp
            JOIN surv a ON a.doc_id = jp.d1
            JOIN surv b ON b.doc_id = jp.d2
            WHERE jp.d1 % 4 = jp.d2 % 4),
          cur AS (SELECT * FROM surv
                  WHERE doc_id NOT IN (SELECT doc_id FROM s4drop)),
          acc_a AS (
            SELECT * FROM cur WHERE doc_id % 4 = 1
              AND NOT EXISTS (SELECT 1 FROM sym
                              WHERE sym.d1 = cur.doc_id AND sym.d2 % 2 = 0)),
          acc_b AS (
            SELECT * FROM cur WHERE doc_id % 4 = 3
              AND NOT EXISTS (
                SELECT 1 FROM sym
                WHERE sym.d1 = cur.doc_id
                  AND (sym.d2 % 2 = 0
                       OR sym.d2 IN (SELECT doc_id FROM acc_a)))),
          acc AS (SELECT * FROM acc_a UNION ALL SELECT * FROM acc_b),
          packed AS (
            SELECT doc_id, pred_lang, quality, n_tokens,
                   CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) - n_tokens AS start_offset
            FROM acc)
          SELECT doc_id, pred_lang, quality, n_tokens,
                 CASE WHEN ${bucketSql("split")} < ${ppm(0.05)} THEN 'val'
                      WHEN ${bucketSql("split")} < ${2 * ppm(0.05)} THEN 'test'
                      ELSE 'train' END AS split,
                 start_offset,
                 start_offset // 2048 AS bin,
                 start_offset % 2048 AS bin_offset
          FROM packed ORDER BY doc_id""",
    "q_training_data_v2" -> trainingDataV2OracleSql,
    // raw HTML → shards: the crawl CTE stack (multilingual keep set)
    // produces the survivor corpus, the v2 stack consumes it — the
    // same two proven spellings, composed at the v3corpus seam
    "q_training_data_v3" ->
      s"""WITH RECURSIVE
          ${HtmlQueries.crawlCorpusCtes(V3KeepLangs)},
          v3corpus AS MATERIALIZED (SELECT doc_id, text, pred_lang AS lang FROM surv),
          ${v2StackOracle("v3corpus", "qc_model_v3", "semdedup_assign_v3",
            dsirSrc = "documents")}""")

  /** The v2 oracle: each stage's existing SQL spelling composed over
    * the previous stage's CTE (see [[curationFlowV2]]'s scaladoc for
    * the stage map). Generated, not hand-unrolled, so the stage
    * constants come from the SAME vals the flow uses. */
  private lazy val trainingDataV2OracleSql: String =
    "WITH RECURSIVE " +
      v2StackOracle("documents", "qc_model_v2", "semdedup_assign_v2")

  /** The 11-stage v2 CTE stack + final SELECT over an arbitrary
    * `(doc_id, text, lang)` corpus source — shared by the v2 gate
    * (source = the raw documents table) and the v3 capstone (source =
    * the crawl front-end's survivor corpus). Caller supplies the
    * `WITH RECURSIVE` prefix and any upstream CTEs. */
  private def v2StackOracle(src: String, qcSnapName: String,
      asSnapName: String, dsirSrc: String = null): String = {
    val dsSrc = Option(dsirSrc).getOrElse(src)
    import graft.functions.GraftFunctions.{WsRun, roundPortableSql}
    import graft.functions.SubstringWindowKeys.{B1, B2, P1, P2}
    val L = 20 // substring window, = the flow's minTokens
    val qcSnap = SnapshotPaths.tokenDirFor(qcSnapName)
    val asSnap = SnapshotPaths.tokenDirFor(asSnapName)
    val terms = V2BlockTerms.map(t => s"'$t'").mkString(", ")
    val sigma = roundPortableSql(
      """1.0 / (1.0 + EXP(-(COALESCE(dt.s, 0.0)
         / GREATEST(LEN(t.ts), 1) + b.intercept)))""", 6)
    val dsirBucket =
      "(('0x' || substr(md5(f || '/dsir'), 1, 15))::BIGINT % 1024)"
    s"""v2_blok AS (
          SELECT doc_id, text, lang FROM $src
          WHERE text IS NULL OR LEN(LIST_FILTER(
            STRING_SPLIT_REGEX(LOWER(text), '$WsRun'),
            x -> x IN ($terms))) = 0),
        v2_w AS (SELECT bucket, weight FROM read_parquet(
          '$qcSnap/*.parquet') WHERE bucket >= 0),
        v2_bi AS (SELECT weight AS intercept FROM read_parquet(
          '$qcSnap/*.parquet') WHERE bucket = -1),
        v2_tok AS MATERIALIZED (
          SELECT doc_id, text, lang,
            LIST_FILTER(STRING_SPLIT_REGEX(text, '$WsRun'),
              x -> x <> '') AS ts
          FROM v2_blok),
        v2_occ AS (SELECT doc_id, UNNEST(ts) AS t FROM v2_tok),
        v2_ob AS (
          SELECT doc_id,
            CAST(('0x' || SUBSTR(MD5(t || '/qc'), 1, 15))::BIGINT % 128
              AS INTEGER) AS bucket
          FROM v2_occ),
        v2_dt AS (SELECT v2_ob.doc_id, SUM(w.weight) AS s
                  FROM v2_ob JOIN v2_w w USING (bucket)
                  GROUP BY v2_ob.doc_id),
        v2_qc AS MATERIALIZED (
          SELECT t.doc_id, t.text, t.lang, $sigma AS p_good
          FROM v2_tok t LEFT JOIN v2_dt dt ON dt.doc_id = t.doc_id
          CROSS JOIN v2_bi b
          WHERE t.text IS NOT NULL AND $sigma >= 0.5),
        v2_pt AS (
          SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, ' table '),
            x -> TRIM(x) <> '') AS ps
          FROM v2_qc),
        v2_pp AS (SELECT doc_id, ps, UNNEST(RANGE(1, LEN(ps) + 1)) AS i
                  FROM v2_pt),
        v2_pk AS (
          SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ps[i] AS para,
            MD5(TRIM(REGEXP_REPLACE(ps[i], '$WsRun', ' ', 'g'))) AS key
          FROM v2_pp),
        v2_pm AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                    ORDER BY doc_id, pos) AS rn FROM v2_pk),
        v2_para AS MATERIALIZED (
          SELECT doc_id,
            STRING_AGG(para, ' | ' ORDER BY pos) FILTER (WHERE rn = 1)
              AS text
          FROM v2_pm GROUP BY doc_id
          HAVING COUNT(*) FILTER (WHERE rn = 1) > 0),
        v2_st AS (
          SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, '$WsRun'),
            x -> x <> '') AS ts
          FROM v2_para),
        v2_sh AS (
          SELECT doc_id, LEN(ts) AS n,
            LIST_TRANSFORM(ts,
              t -> ('0x' || SUBSTR(MD5(t), 1, 15))::BIGINT) AS hs
          FROM v2_st),
        v2_sp AS (SELECT doc_id, hs,
            UNNEST(RANGE(1, GREATEST(n - $L + 1, 0) + 1)) AS i
          FROM v2_sh),
        v2_sw AS (
          SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
            LIST_REDUCE(LIST_PREPEND(0::BIGINT,
              LIST_TRANSFORM(hs[i:i+$L-1], x -> x % $P1)),
              (a, x) -> (a * $B1 + x) % $P1) * $P2
          + LIST_REDUCE(LIST_PREPEND(0::BIGINT,
              LIST_TRANSFORM(hs[i:i+$L-1], x -> x % $P2)),
              (a, x) -> (a * $B2 + x) % $P2) AS key
          FROM v2_sp),
        v2_sl AS (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos, ROW_NUMBER() OVER (PARTITION BY key
              ORDER BY doc_id, pos) AS rn
            FROM v2_sw) WHERE rn > 1),
        v2_ss AS (SELECT doc_id, LIST(pos) AS starts FROM v2_sl
                  GROUP BY doc_id),
        v2_cut AS (
          SELECT t.doc_id,
            LIST_FILTER(
              LIST_TRANSFORM(RANGE(1, LEN(t.ts) + 1),
                j -> CASE WHEN LEN(LIST_FILTER(COALESCE(s.starts, []),
                       p -> p <= j - 1 AND j - 1 < p + $L)) = 0
                     THEN t.ts[j] END),
              x -> x IS NOT NULL) AS kept
          FROM v2_st t LEFT JOIN v2_ss s USING (doc_id)),
        v2_sub AS MATERIALIZED (
          SELECT doc_id, ARRAY_TO_STRING(kept, ' ') AS text
          FROM v2_cut WHERE LEN(kept) > 0),
        v2_assign AS (
          SELECT doc_id, cluster_id FROM read_parquet(
            '$asSnap/*.parquet')),
        v2_sem AS MATERIALIZED (
          SELECT s.doc_id, s.text FROM v2_sub s JOIN v2_assign a
            USING (doc_id)
          WHERE NOT EXISTS (
            SELECT 1 FROM v2_assign w
            JOIN embeddings ea ON ea.vec_id = a.doc_id
            JOIN embeddings eb ON eb.vec_id = w.doc_id
            WHERE w.cluster_id = a.cluster_id AND w.doc_id < a.doc_id
              AND ${roundPortableSql(
                "list_cosine_similarity(ea.embedding::DOUBLE[], " +
                  "eb.embedding::DOUBLE[])", 6)} >= $V2Tau)),
        ds_tk AS (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS w
                  FROM $dsSrc),
        ds_feats AS (
          SELECT doc_id, lang, UNNEST(w) AS f FROM ds_tk
          UNION ALL
          SELECT doc_id, lang,
            UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 1),
              i -> w[i] || ' ' || w[i + 1])) AS f
          FROM ds_tk WHERE LEN(w) >= 2),
        ds_fb AS (SELECT doc_id, lang, $dsirBucket AS bucket
                  FROM ds_feats),
        ds_tc AS (SELECT bucket, COUNT(*) AS n FROM ds_fb
                  WHERE lang = 'en' GROUP BY 1),
        ds_rc AS (SELECT bucket, COUNT(*) AS n FROM ds_fb GROUP BY 1),
        ds_tt AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM ds_tc),
        ds_rt AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM ds_rc),
        sv_tk AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM v2_sem),
        sv_feats AS (
          SELECT doc_id, UNNEST(w) AS f FROM sv_tk
          UNION ALL
          SELECT doc_id,
            UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 1),
              i -> w[i] || ' ' || w[i + 1])) AS f
          FROM sv_tk WHERE LEN(w) >= 2),
        sv_fb AS (SELECT doc_id, $dsirBucket AS bucket FROM sv_feats),
        sv_dc AS (SELECT doc_id, bucket, COUNT(*) AS c FROM sv_fb
                  GROUP BY 1, 2),
        sv_sc AS (
          SELECT doc_id,
            ${roundPortableSql(
              "SUM(c * (LN((COALESCE(ds_tc.n, 0) + 1.0) / (ds_tt.t + " +
                "1024.0)) - LN((COALESCE(ds_rc.n, 0) + 1.0) / (ds_rt.t + " +
                "1024.0)))) / CAST(SUM(c) AS DOUBLE)", 4)} AS log_ratio
          FROM sv_dc LEFT JOIN ds_tc USING (bucket)
          LEFT JOIN ds_rc USING (bucket)
          CROSS JOIN ds_tt CROSS JOIN ds_rt
          GROUP BY doc_id),
        v2_res AS MATERIALIZED (
          SELECT * FROM (
            SELECT s.doc_id, q.lang, q.p_good, sc.log_ratio, s.text
            FROM v2_sem s JOIN sv_sc sc USING (doc_id)
            JOIN v2_qc q USING (doc_id)
            ORDER BY CAST((('0x' || substr(md5(s.doc_id::VARCHAR ||
              '/weighted'), 1, 15))::BIGINT) AS DOUBLE)
              / EXP(sc.log_ratio), s.doc_id
            LIMIT $V2ResampleK)),
        ${TextQueries.bpeCtes("v2_res")},
        tb_t AS (
          SELECT doc_id, lang, p_good, log_ratio, text,
            bpe_tokens AS n_tokens,
            (('0x' || substr(md5(doc_id::VARCHAR || '/budget'), 1,
              15))::BIGINT) AS h
          FROM v2_res JOIN bpe_counts USING (doc_id)),
        tb_m AS (SELECT lang,
            CAST(SUM(COALESCE(n_tokens, 0)) AS BIGINT) AS mass
          FROM tb_t WHERE lang IS NOT NULL GROUP BY lang),
        tb_sh AS (
          SELECT lang, CASE WHEN mass <= 0 THEN 0
            ELSE CAST(FLOOR(SQRT(mass::DOUBLE) * 1000000.0 + 0.5)
              AS BIGINT) END AS sg
          FROM tb_m),
        tb_tot AS (SELECT SUM(sg::HUGEINT) AS st FROM tb_sh),
        tb_bud AS (
          SELECT lang, CASE WHEN st = 0 THEN 0
            ELSE CAST(($V2TempTotal::HUGEINT * sg) // st AS BIGINT) END AS b
          FROM tb_sh CROSS JOIN tb_tot),
        tb_c AS (
          SELECT doc_id, lang, p_good, log_ratio, text, n_tokens,
            CAST(SUM(COALESCE(n_tokens, 0)) OVER (PARTITION BY lang
              ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              - COALESCE(n_tokens, 0) AS group_start
          FROM tb_t),
        v2_take AS MATERIALIZED (
          SELECT doc_id, lang, p_good, log_ratio, n_tokens, group_start,
            text
          FROM tb_c JOIN tb_bud USING (lang)
          WHERE group_start < b),
        ck_t AS (
          SELECT doc_id, lang, p_good, log_ratio, n_tokens, group_start,
            LIST_FILTER(STRING_SPLIT_REGEX(text, '$WsRun'),
              x -> x <> '') AS toks
          FROM v2_take),
        ck_s AS (
          SELECT doc_id, lang, p_good, log_ratio, n_tokens, group_start,
            toks, UNNEST(RANGE(0, LEN(toks), $V2ChunkStride)) AS s
          FROM ck_t WHERE LEN(toks) > 0),
        v2_chunks AS MATERIALIZED (
          SELECT doc_id, lang, p_good, log_ratio, n_tokens, group_start,
            CAST(s // $V2ChunkStride AS BIGINT) AS chunk_id,
            ARRAY_TO_STRING(toks[s + 1 : s + $V2ChunkTokens], ' ')
              AS chunk_text,
            CAST(LEN(toks[s + 1 : s + $V2ChunkTokens]) AS BIGINT)
              AS n_chunk_tokens
          FROM ck_s),
        v2_pack AS (
          SELECT *,
            CAST(SUM(n_chunk_tokens) OVER (ORDER BY doc_id, chunk_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              - n_chunk_tokens AS start_offset
          FROM v2_chunks)
        SELECT doc_id, chunk_id, lang, p_good, log_ratio, n_tokens,
          group_start, chunk_text, n_chunk_tokens, start_offset,
          start_offset // $V2PackBudget AS bin,
          start_offset % $V2PackBudget AS bin_offset,
          ((('0x' || substr(md5((doc_id * 1000 + chunk_id)::VARCHAR ||
            '/shard'), 1, 15))::BIGINT) % 16) AS shard
        FROM v2_pack ORDER BY doc_id, chunk_id"""
  }
}
