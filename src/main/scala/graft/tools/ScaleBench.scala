package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.TextAnalysis
import graft.operators.{Curation, Packing, RecallProbe, Similarity, TextDedup}

/** Scaling-evidence probe (SCALE.md): runs the scale-path operators —
  * minhash-LSH near-dup, full curation, SRP-LSH embedding near-dup,
  * IVF ANN, connected components — on synthetic corpora at 1× and N×
  * the sf0.1 shape, generated by the SAME deterministic generator, and
  * prints per-operator min-of-2 timings. Near-linear growth here is the
  * design claim the operators make (banded/bucketed candidate
  * generation, never n²) measured rather than asserted.
  *
  * Generator shape mirrors the testdata distributions: documents of
  * 30–79 words over a 5 000-word vocabulary with a planted 5% near-dup
  * rate (one appended word → Jaccard ≈ 0.97); 64-dim embeddings with a
  * planted 1% near-identical pair rate. All content is a pure function
  * of (id, seed) — no driver-side data, no randomness.
  *
  * Usage: `runMain graft.tools.ScaleBench [multiplier] [baseDocs] [ops]`
  * (defaults 10 and 5000 — sf0.1's document count; `ops` is an
  * optional comma-separated op-name filter so a new row can be
  * measured without repeating the whole sweep — fixtures still build).
  */
object ScaleBench {

  def synthDocs(spark: SparkSession, n: Long): DataFrame = {
    // 5% of docs (id % 20 == 1) re-generate the PREVIOUS id's words plus
    // one unique extra word — a planted near-dup pair per 20 docs.
    // Every 8th word is an English stopword so the docs classify as
    // lang=en and clear the curation quality gate (stopword term) —
    // otherwise the curation measurement is vacuous (everything
    // filtered at stage 1).
    val base = when(col("id") % 20 === 1, col("id") - 1).otherwise(col("id"))
    val nWords = (pmod(xxhash64(base, lit("len")), lit(50)) + 30).cast("int")
    val stopwords = array(lit("the"), lit("and"), lit("of"), lit("to"), lit("a"))
    val words = transform(sequence(lit(0), nWords - 1),
      j => when(j % 8 === 0,
        element_at(stopwords, (pmod(xxhash64(base, j, lit("sw")), lit(5)) + 1).cast("int")))
        .otherwise(concat(lit("w"), pmod(xxhash64(base, j), lit(5000)))))
    val withExtra = when(col("id") % 20 === 1,
      concat(words, array(concat(lit("x"), col("id"))))).otherwise(words)
    spark.range(0, n, 1, 32).select(
      col("id").as("doc_id"),
      concat_ws(" ", withExtra).as("text"))
  }

  def synthEmbeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame = {
    // 1% of vectors (id % 100 == 1) copy the previous id's vector with
    // the first component nudged — a planted cosine≈1 pair per 100
    val base = when(col("id") % 100 === 1, col("id") - 1).otherwise(col("id"))
    val vec = transform(sequence(lit(0), lit(dim - 1)),
      k => ((pmod(xxhash64(base, k), lit(2000)) - 1000) / lit(1000.0) +
        when(col("id") % 100 === 1 && k === 0, lit(0.01)).otherwise(lit(0.0)))
        .cast("float"))
    spark.range(0, n, 1, 32).select(
      col("id").as("vec_id"), vec.as("embedding"))
  }

  /** Synthetic event stream for the temporal-join rows: constant
    * per-user rate (one event/second, 1000 events per user over a fixed
    * ~17-minute span), so scaling up adds USERS — the realistic axis: a
    * bigger deployment has more keys, not denser ones. Every 20th
    * per-user event is a state change (the as-of right side / the
    * interval opener), so matches are guaranteed at every scale and the
    * carry-forward span is a constant ~20 events. */
  def synthEvents(spark: SparkSession, n: Long): DataFrame = {
    val users = math.max(1L, n / 1000L)
    val seq = floor(col("id") / lit(users.toDouble)).cast("long") // per-user tick
    spark.range(0, n, 1, 32).select(
      col("id").as("event_id"),
      (col("id") % users).as("user_id"),
      timestamp_micros(lit(1704067200000000L) + seq * lit(1000000L)).as("ts"),
      (seq % 20 === 0).as("is_state"))
  }

  /** Messy URL for the curation rows — the UrlQueries gate's synthesis
    * shape (scheme/host case, www, default ports, tracking params,
    * fragments) keyed on any id; ~1000 distinct domains. */
  private def scaleUrl(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
    when(id % 5 === 0, lit("HTTPS")).otherwise(lit("http")), lit("://"),
    when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
    lit("Site"), pmod(id, lit(1000L)), lit(".Example.COM"),
    when(id % 2 === 0,
      when(id % 5 === 0, lit(":443")).otherwise(lit(":80")))
      .otherwise(lit("")),
    lit("/Page/"), id,
    when(id % 4 === 0, concat(lit("?utm_source=feed&p="), pmod(id, lit(7L))))
      .otherwise(lit("")),
    when(id % 8 === 0, lit("#Frag")).otherwise(lit("")))

  private def timed(body: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val rows = body
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  /** min-of-2 with per-run scratch release (the Bench protocol). */
  private def minOf2(spark: SparkSession)(body: => Long): (Double, Long) = {
    def run(): (Double, Long) =
      GraftSession.releasingScratch(spark)(timed(body))
    val (a, rowsA) = run()
    val (b, _) = run()
    (math.min(a, b), rowsA)
  }

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val baseDocs = args.lift(1).map(_.toLong).getOrElse(5000L)
    val baseVecs = baseDocs * 2 / 5 // sf0.1 ratio: 5000 docs / 2000 vecs
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    Seq(1, mult).foreach { m =>
      // No manual tuning here by design: shuffle width and SRP bucket
      // bits are the operators' own corpus-sized defaults
      // (GraftSession.partitionsFor / srpBitsFor) — this run is the
      // evidence the LIBRARY defaults hold at scale, not a tuned setup.
      val dir = s"/tmp/graft_scale/x$m"
      // materialize through parquet so the measured path includes the
      // real scan (pushdown, column pruning), like the driver bench
      synthDocs(spark, baseDocs * m).write.mode("overwrite").parquet(s"$dir/documents")
      synthEmbeddings(spark, baseVecs * m).write.mode("overwrite").parquet(s"$dir/embeddings")
      val docs = spark.read.parquet(s"$dir/documents")
      val embs = spark.read.parquet(s"$dir/embeddings")

      // Fixtures are LAZY: each builds the first time an op in the
      // (possibly filtered) run touches it, so measuring one new row
      // never pays for the full fixture sweep — at 100× the index
      // saves + LM fit + events write dominate an op-filtered run's
      // wall clock otherwise.
      //
      // Incremental-dedup fixture: 99% of the corpus signed into a
      // persisted minhash index (the OFFLINE step — once per corpus
      // snapshot, so deliberately outside the timed op), 1% held out as
      // the "daily batch". Every batch doc with id%20==1 has its planted
      // near-dup (id-1) in the index, so matches are guaranteed at every
      // scale. The timed op below is the ONLINE per-batch cost only.
      lazy val mhIndex = {
        TextDedup.saveMinhashIndex(
          docs.filter(col("doc_id") % 100 =!= 1), "doc_id", "text",
          s"$dir/minhash_index")
        TextDedup.loadMinhashIndex(spark, s"$dir/minhash_index")
      }
      val newBatch = docs.filter(col("doc_id") % 100 === 1)
      // Embedding twin of the fixture: 99% of vectors bucketed into a
      // persisted SRP index, 1% held out as the batch (planted id-1
      // near-dups guarantee matches at every scale).
      lazy val embIndex = {
        TextDedup.saveEmbeddingIndex(
          embs.filter(col("vec_id") % 100 =!= 1), "vec_id", "embedding",
          s"$dir/embedding_index", threshold = 0.9)
        TextDedup.loadEmbeddingIndex(spark, s"$dir/embedding_index")
      }
      val newEmbBatch = embs.filter(col("vec_id") % 100 === 1)
      // Refit fixture: a DEDICATED index copy (refit rewrites relations
      // and meta in place — sharing embIndex would leave other rows'
      // loaded frames pointing at deleted files), pre-drifted by one
      // appended batch so the refit folds a real commit
      lazy val embRefitFixture: Unit = {
        TextDedup.saveEmbeddingIndex(
          embs.filter(col("vec_id") % 100 =!= 1), "vec_id", "embedding",
          s"$dir/embedding_index_refit", threshold = 0.9)
        TextDedup.appendToEmbeddingIndex(
          embs.filter(col("vec_id") % 100 === 1), "vec_id", "embedding",
          s"$dir/embedding_index_refit", commitTag = Some("batch_0"))
        // pre-fold the commit OUTSIDE the timed loop: otherwise run 1
        // absorbs the fold + orphan reap and run 2 refits a commit-free
        // index, and min-of-2 systematically reports the lighter run
        TextDedup.compactEmbeddingIndex(spark, s"$dir/embedding_index_refit")
        ()
      }
      // rotates the refit row's plane seed so every timed run is a
      // genuine family change (see the embedding_refit comment)
      var refitSeedCounter = 0L
      // MERGE fixtures: the docs corpus as a 256-shard keyed snapshot
      // (offline — build once per scale point), and a FIXED 50-key
      // correction batch (constant at every scale: the
      // key-cardinality ≪ shards regime where sharding pays)
      val mergeBatch = docs.filter(col("doc_id") < 50)
        .withColumn("text", concat(lit("corrected "), col("text")))
      lazy val mergeShardedFixture: Unit = {
        if (!graft.operators.SnapshotMerge.existsSharded(
            spark, s"$dir/merge_sharded"))
          graft.operators.SnapshotMerge.createSharded(
            docs, Seq("doc_id"), 256, s"$dir/merge_sharded")
        ()
      }
      // CDF fixture: a sharded snapshot with exactly one committed CDC
      // batch on top (tagged — replay-safe across re-runs), so versions
      // 1→2 exist and differ in the ≤50 shards the batch touched. The
      // timed op is the FEED READ only: cost must track the touched
      // shards' bytes (≈50/256 of the corpus), never the full snapshot
      // twice.
      lazy val mergeCdfFixture: Unit = {
        if (!graft.operators.SnapshotMerge.existsSharded(
            spark, s"$dir/merge_cdf")) {
          graft.operators.SnapshotMerge.createSharded(
            docs, Seq("doc_id"), 256, s"$dir/merge_cdf")
          graft.operators.SnapshotMerge.upsertSharded(
            mergeBatch, Seq("doc_id"), s"$dir/merge_cdf",
            commitTag = Some("cdf_b1"))
        }
        ()
      }
      // Restore fixture: its own sharded snapshot with one committed
      // tagged batch on top (versions 1 and 2 exist) — the timed
      // restore always targets version 1, which is legal at any live
      // version (the only guard is target ≠ live), so every timed run
      // is a real CAS commit of v1's shard map
      lazy val mergeRestoreFixture: Unit = {
        if (!graft.operators.SnapshotMerge.existsSharded(
            spark, s"$dir/merge_restore")) {
          graft.operators.SnapshotMerge.createSharded(
            docs, Seq("doc_id"), 256, s"$dir/merge_restore")
          graft.operators.SnapshotMerge.upsertSharded(
            mergeBatch, Seq("doc_id"), s"$dir/merge_restore",
            commitTag = Some("restore_b1"))
        }
        ()
      }
      // Reshard fixture + the alternating target count so every timed
      // run is a real full rewrite (already-at-n is a committed no-op)
      var reshardNext = 0
      lazy val mergeReshardFixture: Unit = {
        if (!graft.operators.SnapshotMerge.existsSharded(
            spark, s"$dir/merge_reshard"))
          graft.operators.SnapshotMerge.createSharded(
            docs, Seq("doc_id"), 256, s"$dir/merge_reshard")
        ()
      }
      // Compact fixtures: TWO fragmented snapshot copies (compaction is
      // one-shot — after it nothing qualifies, so min-of-2 on a single
      // copy would report the no-op's metadata time; alternating copies
      // keeps both timed runs real). Fragmentation comes from
      // maxRecordsPerFile at create time — the same knob that splits
      // hot shards into small files in production writes.
      var compactNext = 0
      lazy val mergeCompactFixture: Unit = {
        val key = "spark.sql.files.maxRecordsPerFile"
        val saved = spark.conf.getOption(key)
        spark.conf.set(key, math.max(1L, baseDocs * m / 256 / 4).toString)
        try Seq("a", "b").foreach { t =>
          if (!graft.operators.SnapshotMerge.existsSharded(
              spark, s"$dir/merge_compact_$t"))
            graft.operators.SnapshotMerge.createSharded(
              docs, Seq("doc_id"), 256, s"$dir/merge_compact_$t")
        } finally saved match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        ()
      }
      // Evolve fixture: its OWN sharded snapshot — evolveSharded widens
      // the schema, which would poison the shared merge fixture's
      // fixed-width batches
      // the next evo_N column index, seeded OUTSIDE the timed loop from
      // the snapshot's current schema (a re-run against the persistent
      // fixture continues the sequence instead of crashing on "nothing
      // to evolve") and incremented per timed run — the timed region
      // stays pure evolve, no schema-inference job inside it
      var evolveNext = 1
      lazy val mergeEvolveFixture: Unit = {
        if (!graft.operators.SnapshotMerge.existsSharded(
            spark, s"$dir/merge_evolve"))
          graft.operators.SnapshotMerge.createSharded(
            docs, Seq("doc_id"), 256, s"$dir/merge_evolve")
        evolveNext = graft.operators.SnapshotMerge
          .readSharded(spark, s"$dir/merge_evolve")
          .columns.count(_.startsWith("evo_")) + 1
      }
      // Pruned-read fixture: a clustered dataset with its stats sidecar
      // (offline — the write cost is zorder_write's row; this one
      // measures the READ side the layout exists for)
      lazy val zorderReadFixture: Unit = {
        if (!graft.operators.IndexFs.exists(spark,
            graft.operators.IndexFs.resolveDir(spark, s"$dir/zorder_read_in")))
          graft.operators.Layout.writeZOrdered(
            docs.select(col("doc_id"), length(col("text")).as("len"),
              col("text")),
            Seq("doc_id", "len"), s"$dir/zorder_read_in", numFiles = 32)
        ()
      }
      // Streaming fixture: a dedicated index copy (the stream folds
      // survivors in; the timed op resets its commits per run so the
      // work stays constant) and the batch staged as TWO part-files =
      // two real micro-batches under maxFilesPerTrigger = 1. The
      // stream reader's documents schema is a superset of the synth
      // shape — the absent columns read as nulls, unused by dedup.
      lazy val streamFixture: Unit = {
        TextDedup.saveMinhashIndex(
          docs.filter(col("doc_id") % 100 =!= 1), "doc_id", "text",
          s"$dir/minhash_index_stream")
        newBatch.repartition(2).write.mode("overwrite")
          .parquet(s"$dir/stream_batches")
      }
      // Timed-path minhash index: index_build times this exact build,
      // but index_append/index_compact need it to EXIST when they run
      // op-filtered without index_build — as a fixture it pre-builds
      // (and index_build's timed body then measures its own overwrite)
      lazy val mhTimedFixture: Unit = {
        TextDedup.saveMinhashIndex(
          docs.filter(col("doc_id") % 100 =!= 1), "doc_id", "text",
          s"$dir/minhash_index_timed")
        ()
      }
      // IVF fixture: cells index over the 99% corpus (frozen centroids
      // — the offline fit, outside the timed append)
      lazy val ivfFixture: Unit =
        Similarity.saveIvfIndex(
          embs.filter(col("vec_id") % 100 =!= 1), "vec_id", "embedding",
          s"$dir/ivf_index_timed", nCentroids = 16, maxIter = 5)
      // IVF-PQ fixture: the quantized index served by ivfpq_probe /
      // measured by ivfpq_index_bytes (the offline build — timed
      // separately by ivfpq_build against its own dir)
      lazy val ivfPqFixture: Unit =
        Similarity.saveIvfPqIndex(embs, "vec_id", "embedding",
          s"$dir/ivfpq_index", nCentroids = 16, nSub = 8, nCodes = 16,
          maxIter = 5)
      var cdfDrainNext = 0
      // LM fixture for the scoring row: the reference model fitted on
      // the 99% corpus (the offline half — timed separately by lm_fit)
      lazy val refLm = graft.operators.NgramLm.fit(
        docs.filter(col("doc_id") % 100 =!= 1), "doc_id", "text")
      // Temporal-join fixture: events at 8× the document count, through
      // parquet like everything else so the timed path includes the scan
      lazy val evSynth = {
        synthEvents(spark, baseDocs * m * 8)
          .write.mode("overwrite").parquet(s"$dir/events_synth")
        spark.read.parquet(s"$dir/events_synth")
      }

      // learned-quality-classifier fixture: the fit is BOUNDED-sample
      // work by design (2k labeled docs at every scale) — only the
      // scoring pass is corpus-sized, which is exactly what the
      // quality_score row times
      lazy val qcModel = graft.operators.QualityClassifier.fit(
        docs.filter(col("doc_id") < 2000)
          .withColumn("y",
            (TextAnalysis.stopwordHits(col("text"), "en") >= 4)
              .cast("double")),
        "text", "y", buckets = 128)

      val ops: Seq[(String, () => Long)] = Seq(
        "minhash_lsh" -> (() =>
          TextDedup.minhashLsh(docs, "doc_id", "text",
            n = 3, k = 32, bands = 8, threshold = 0.7, maxBucketSize = 100).count()),
        "curation_full" -> (() =>
          Curation.curate(docs, "doc_id", "text").count()),
        "dedup_components" -> (() =>
          TextDedup.connectedComponents(
            TextDedup.minhashLsh(docs, "doc_id", "text",
              n = 3, k = 32, bands = 8, threshold = 0.7, maxBucketSize = 100)).count()),
        // star-contraction stress: a PURE CHAIN of 10k·m nodes forced
        // down the distributed path (driver union-find gated off). The
        // worst case for the previous min-label algorithm — diameter+1
        // rounds, i.e. literally impossible at 1M nodes — and the shape
        // where O(log² n) alternations must show: time should grow
        // ~linearly in edges with only a log-factor more rounds at 100×.
        "chain_components" -> (() => {
          val n = 10000L * m
          TextDedup.connectedComponents(
            spark.range(0, n - 1, 1, 32)
              .select(col("id").as("d1"), (col("id") + 1).as("d2")),
            driverUnionFindLimit = 0L).count()
        }),
        // bits MUST scale with the corpus: a fixed bits=4 measured 46 s
        // at 10× (n/16 vectors per bucket → B²/2 in-bucket work). Now
        // the operator's DEFAULT (bits = -1 → srpBitsFor).
        "embedding_lsh" -> (() =>
          TextDedup.embeddingNearDupPairsLsh(embs, "vec_id", "embedding",
            threshold = 0.9).count()),
        // The OTHER verify branch: caller-supplied knobs route the
        // exact-cosine verify through the repartitioned shuffle joins —
        // the plan the operator picks PAST the 32 MB broadcast bound
        // (the 100 TB regime) — so both branches stay measured, not just
        // the small-corpus broadcast one. Knob values are exactly what
        // the defaults would compute; the only delta is the branch.
        "embedding_lsh_shuffle_verify" -> (() => {
          val n = embs.count()
          val bits = TextDedup.srpBitsFor(n)
          val tables = TextDedup.srpTablesFor(bits, 0.9)
          TextDedup.embeddingNearDupPairsLsh(embs, "vec_id", "embedding",
            threshold = 0.9, bits = bits, tables = tables,
            numPartitions = Some(GraftSession.partitionsFor(spark, n * tables))).count()
        }),
        "ivf_topk" -> (() => {
          val queries = embs.filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
          Similarity.ivfTopK(embs, "vec_id", "embedding",
            queries, "query_id", "qvec", k = 10, nCentroids = 16, nProbe = 3).count()
        }),
        // IVF-PQ build: coarse fit + nSub codebook fits (all on bounded
        // samples) + ONE codegen encode pass over the corpus writing
        // codes+norm — corpus-linear with driver-sized fit state
        "ivfpq_build" -> (() => {
          Similarity.saveIvfPqIndex(embs, "vec_id", "embedding",
            s"$dir/ivfpq_index_timed", nCentroids = 16, nSub = 8,
            nCodes = 16, maxIter = 5)
          spark.read.parquet(s"$dir/ivfpq_index_timed/pqcells").count()
        }),
        // IVF-PQ probe at production knobs (nProbe=3, rerank=8): probe
        // IO is the QUANTIZED cells (codes+norm — the bytes PQ shrank),
        // scoring is ADC lookups in codegen, then the bounded exact
        // re-rank; must track the probed fraction like ivf_topk but on
        // ~10× fewer index bytes
        "ivfpq_probe" -> (() => {
          val queries = embs.filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"),
              col("embedding").as("qvec"))
          Similarity.ivfPqTopK(
            Similarity.loadIvfPqIndex(spark, s"$dir/ivfpq_index"),
            embs, "vec_id", "embedding",
            queries, "query_id", "qvec", k = 10, nProbe = 3,
            rerank = 8).count()
        }),
        // the storage claim measured, rows = BYTES of the quantized
        // cells relation (compare against the flat IVF cells / raw
        // embedding parquet at the same scale: the 8-16× shrink that
        // cuts index storage and probe IO at 100 TB)
        "ivfpq_index_bytes" -> (() =>
          graft.operators.IndexFs.fs(spark, s"$dir/ivfpq_index")
            .getContentSummary(new org.apache.hadoop.fs.Path(
              s"$dir/ivfpq_index/pqcells")).getLength),
        // two-pass distributed prefix sum: must stay linear with no
        // single-partition stage at any width
        "packing_bins" -> (() =>
          Packing.withPackingBins(
            docs.select(col("doc_id"),
              TextAnalysis.wsTokenCount(col("text")).as("n_tokens")),
            "doc_id", "n_tokens", budget = 2048).count()),
        // weighted top-k sample, fixed k: TakeOrderedAndProject — one
        // scan + per-partition heaps + a k-sized merge, so the row must
        // track the SCAN (linear) and never a global sort's exchange
        "weighted_sample" -> (() =>
          graft.operators.Sampling.weightedSampleByHash(
            docs.withColumn("w", length(col("text")).cast("long")),
            "doc_id", "w", k = 1000).count()),
        // the per-group prefix-sum mixture take over 5 synthetic
        // groups, budgets scaling with the corpus (~half of each
        // group's mass): corpus-linear like packing_bins — the naive
        // PARTITION BY window would put a fifth of the corpus in ONE
        // task and fall over exactly where this stays flat
        "token_budget" -> (() => {
          val grouped = docs.select(col("doc_id"),
            concat(lit("g"), pmod(col("doc_id"), lit(5))).as("grp"),
            TextAnalysis.wsTokenCount(col("text")).as("n_tokens"))
          graft.operators.Sampling.takeTokenBudget(
            grouped, "doc_id", "grp", "n_tokens",
            budgets = (0 until 5).map(g =>
              s"g$g" -> baseDocs * m * 5L).toMap).count()
        }),
        // the same take with the epoch fan-out engaged: budgets ~3× each
        // group's token mass, upsample=true — must stay corpus-linear
        // like token_budget (epochs are emitted in-task from the same
        // seeded running sum; rows ≈ 3× the input with NO extra shuffle)
        "token_budget_upsample" -> (() => {
          val grouped = docs.select(col("doc_id"),
            concat(lit("g"), pmod(col("doc_id"), lit(5))).as("grp"),
            TextAnalysis.wsTokenCount(col("text")).as("n_tokens"))
          graft.operators.Sampling.takeTokenBudget(
            grouped, "doc_id", "grp", "n_tokens",
            budgets = (0 until 5).map(g =>
              s"g$g" -> baseDocs * m * 33L).toMap,
            upsample = true).count()
        }),
        // exact BPE token counting: the per-row codegen apply loop with
        // the bounded word memo — must be scan-bound linear like
        // pii_redact (the filter keeps the count in the plan)
        "bpe_count" -> (() =>
          docs.select(graft.functions.GraftFunctions
              .bpe_token_count(col("text")).as("n"))
            .filter(col("n") > 0).count()),
        // incremental dedup: the 1% batch against the persisted 99%
        // index — per-batch cost must track batch + one index scan +
        // matches, NOT corpus-sized shuffles (broadcast regime at both
        // scales: 50 and 5 000 batch docs)
        "incremental_dedup" -> (() =>
          TextDedup.minhashLshAgainstIndex(newBatch, "doc_id", "text",
            mhIndex, threshold = 0.7).count()),
        // the OFFLINE half, timed: one-time corpus signing cost — the
        // capacity-planning number for adopting the incremental regime
        // (amortized over every batch the index then serves). Must grow
        // ~linearly in corpus size: shingle → sign → band is a pure
        // projection pipeline with no corpus-wide shuffle.
        "index_build" -> (() => {
          TextDedup.saveMinhashIndex(
            docs.filter(col("doc_id") % 100 =!= 1), "doc_id", "text",
            s"$dir/minhash_index_timed")
          spark.read.parquet(s"$dir/minhash_index_timed/bands").count()
        }),
        // fold the batch into the timed index: cost must track the BATCH
        // (its signing + two batch-sized appends), NOT the index size —
        // the claim that makes the crawl loop (dedup → accept → append)
        // run at batch cost forever. Appends accumulate across the
        // min-of-2 runs by design: append cost being index-size-blind is
        // exactly what the repeated measurement verifies.
        "index_append" -> (() => {
          TextDedup.appendToMinhashIndex(newBatch, "doc_id", "text",
            s"$dir/minhash_index_timed")
          newBatch.count()
        }),
        // compaction: read → distinct → rewrite, cost tracks INDEX size
        // (linear) — the maintenance op that collapses replayed appends
        // and per-append small files
        "index_compact" -> (() => {
          TextDedup.compactMinhashIndex(spark, s"$dir/minhash_index_timed")
          spark.read.parquet(s"$dir/minhash_index_timed/bands").count()
        }),
        // embedding twin of incremental_dedup: 1% vector batch bucketed
        // under the index's planes, broadcast into the bucket join —
        // index side scan-only, cost tracks batch + matches
        "embedding_incremental" -> (() =>
          TextDedup.embeddingNearDupAgainstIndex(newEmbBatch, "vec_id",
            "embedding", embIndex, threshold = 0.9).count()),
        // SRP plane-family refit: re-size + re-bucket the whole index —
        // the drift-reset maintenance op; cost must track INDEX size
        // (bucketing projection + rewrite). Same work across min-of-2
        // by construction: the fixture pre-folds the staged commit
        // (both runs refit a commit-free index — the first run used to
        // absorb the fold, so min-of-2 reported the fold-free run) and
        // each run rotates the plane seed, so the unchanged-family
        // early exit (which would silently measure compaction instead)
        // never engages.
        "embedding_refit" -> (() => {
          refitSeedCounter += 1
          TextDedup.refitEmbeddingIndex(spark,
            s"$dir/embedding_index_refit", threshold = 0.9,
            seedOverride = 9000L + refitSeedCounter)
          spark.read.parquet(graft.operators.IndexFs.resolveDir(
            spark, s"$dir/embedding_index_refit/vectors")).count()
        }),
        // decontamination: fixed 1000-doc eval set against the growing
        // corpus — cost must track the corpus scan + matched hits only
        "decontaminate" -> (() =>
          TextDedup.crossContainmentPairs(
            docs.filter(col("doc_id") >= 1000), "doc_id", "text",
            docs.filter(col("doc_id") < 1000), "doc_id", "text",
            n = 3, threshold = 0.5).count()),
        // Bloom-prefiltered decontamination on the SAME fixture: the
        // corpus pays a zero-shuffle filter probe instead of feeding
        // every shingle into the broadcast verify join; only candidates
        // reach the exact verify. Includes the eval-side filter build
        // (eval-sized — the honest in-flight cost). Must track the
        // corpus scan, with a smaller constant than `decontaminate`.
        "decontaminate_bloom" -> (() =>
          graft.operators.Decontaminate.bloomDecontaminate(
            docs.filter(col("doc_id") >= 1000), "doc_id", "text",
            docs.filter(col("doc_id") < 1000), "doc_id", "text",
            n = 3, threshold = 0.5).count()),
        // the eval-size axis — the dimension the Bloom spelling exists
        // for: eval = 20% of the corpus, so scaling up grows BOTH
        // sides. The exact path's broadcast carries every eval shingle
        // STRING (grows ~20× faster in bytes than the filter bits);
        // these two rows measure where the compact-membership trade
        // starts paying
        "decontaminate_bigeval" -> (() =>
          TextDedup.crossContainmentPairs(
            docs.filter(col("doc_id") >= baseDocs * m / 5), "doc_id", "text",
            docs.filter(col("doc_id") < baseDocs * m / 5), "doc_id", "text",
            n = 3, threshold = 0.5).count()),
        "decontaminate_bloom_bigeval" -> (() =>
          graft.operators.Decontaminate.bloomDecontaminate(
            docs.filter(col("doc_id") >= baseDocs * m / 5), "doc_id", "text",
            docs.filter(col("doc_id") < baseDocs * m / 5), "doc_id", "text",
            n = 3, threshold = 0.5).count()),
        // Keyed MERGE of a fixed 50-key correction batch (the
        // GDPR-delete / hot-fix shape — key cardinality ≪ shards, where
        // rewrite-what-changed pays): only the ≤50 touched shards of
        // 256 rewrite, so cost must track the touched fraction, not the
        // corpus. The fixture builds the snapshot outside the timed
        // loop; the repeated batch is a fixed point, so run 2 measures
        // the same merge. (upsertSharded is EAGER — the merge write
        // happens inside the call; the count only reports the batch
        // size)
        "merge_upsert_sharded" -> (() => {
          graft.operators.SnapshotMerge.upsertSharded(
            mergeBatch, Seq("doc_id"), s"$dir/merge_sharded")
          mergeBatch.count()
        }),
        // CHANGE DATA FEED v1→v2 over the sharded snapshot: the typed
        // diff reads ONLY the ≤50 shards the committed batch touched
        // (plus the join over them) — must track the touched fraction,
        // ≈20% of a corpus-sized scan here, never 2× the snapshot
        "merge_cdf" -> (() =>
          graft.operators.SnapshotMerge.readShardedChanges(
            spark, s"$dir/merge_cdf", Seq("doc_id"), 1L, 2L).count()),
        // CDF CONSUMER full drain from a fresh checkpoint over the same
        // fixture: bootstrap (oldest readable version as inserts — one
        // snapshot read) + the v1→v2 diff + two checkpoint swaps. The
        // bootstrap term makes this row snapshot-linear; a CAUGHT-UP
        // consumer's per-call cost is merge_cdf's (the diff alone) plus
        // the O(1) checkpoint round-trip
        "cdf_consume" -> (() => {
          val ckpt = s"$dir/cdf_consume_ckpt_$cdfDrainNext"
          cdfDrainNext += 1
          graft.operators.IndexFs.deleteRecursively(spark, ckpt)
          var n = 0L
          graft.streaming.StreamingOps.consumeShardedChanges(
            spark, s"$dir/merge_cdf", Seq("doc_id"), ckpt) {
            (changes, _, _) => n += changes.count()
          }
          n
        }),
        // SMALL-FILE COMPACTION: bin-packs every qualifying shard's
        // files to one (the fixture fragments ~4 files/shard via
        // maxRecordsPerFile, so qualifying = the whole snapshot and the
        // row is corpus-linear like any full maintenance pass — in
        // production qualifying bytes ≪ snapshot and the cost tracks
        // them). Cheaper constant than optimizeSharded: no z-value
        // computation, no range exchange, no per-file sort.
        "merge_compact_sharded" -> (() => {
          val t = if (compactNext % 2 == 0) "a" else "b"
          compactNext += 1
          graft.operators.SnapshotMerge.compactSharded(
            spark, s"$dir/merge_compact_$t").toLong
        }),
        // RESTORE: the metadata-only rollback — two manifest reads +
        // one CAS commit, ZERO data movement. The one row in this sweep
        // whose cost must stay FLAT in corpus size: a rollback of a
        // 100 TB table is the same three small-file operations as a
        // 100 MB one
        "merge_restore" -> (() =>
          graft.operators.SnapshotMerge.restoreSharded(
            spark, s"$dir/merge_restore", 1L)),
        // RESHARD: full rewrite under the alternating target count
        // (128 ↔ 192 — both differ from the created 256 and from each
        // other, so min-of-2 measures real work twice) — corpus-linear
        // by design, the same maintenance-window posture as
        // optimizeSharded but with the shard hash exchange instead of
        // the range exchange. The leading vacuum reaps the previous
        // run's retired corpus copy so scratch disk stays bounded.
        "merge_reshard" -> (() => {
          graft.operators.SnapshotMerge.vacuumSharded(
            spark, s"$dir/merge_reshard")
          val t = if (reshardNext % 2 == 0) 128 else 192
          reshardNext += 1
          if (!graft.operators.SnapshotMerge.reshardSharded(
              spark, s"$dir/merge_reshard", Seq("doc_id"), t))
            graft.operators.SnapshotMerge.reshardSharded(
              spark, s"$dir/merge_reshard", Seq("doc_id"),
              if (t == 128) 192 else 128)
          t.toLong
        }),
        // OPTIMIZE over the sharded snapshot: vacuum (reaps the
        // previous run's retire-logged dirs — metadata-sized) + the
        // full per-shard re-cluster — a deliberate maintenance-window
        // op, so the row must track SNAPSHOT size (one read + one
        // clustered write), like Layout.optimize and the index refits
        "merge_optimize_sharded" -> (() => {
          graft.operators.SnapshotMerge.vacuumSharded(
            spark, s"$dir/merge_sharded")
          graft.operators.SnapshotMerge.optimizeSharded(
            spark, s"$dir/merge_sharded", Seq("doc_id"), Seq("doc_id"))
          graft.operators.IndexFs.listDirNames(spark, s"$dir/merge_sharded")
            .count(_.startsWith("shards-v")).toLong
        }),
        // SCHEMA MIGRATION of the sharded snapshot: vacuum + full
        // per-shard rewrite under a widened schema — snapshot-linear by
        // construction (the same maintenance-window posture as
        // optimizeSharded; each run widens by one more null column, so
        // run 2 rewrites marginally wider rows — same complexity)
        "merge_evolve_sharded" -> (() => {
          graft.operators.SnapshotMerge.vacuumSharded(
            spark, s"$dir/merge_evolve")
          // every timed run brings a genuinely NEW column (the op
          // loudly refuses a no-op) — index seeded by the fixture
          graft.operators.SnapshotMerge.evolveSharded(
            spark, s"$dir/merge_evolve", Seq("doc_id"),
            docs.limit(0).withColumn(s"evo_$evolveNext", lit(0.0)))
          evolveNext += 1
          graft.operators.IndexFs.listDirNames(spark, s"$dir/merge_evolve")
            .count(_.startsWith("shards-v")).toLong
        }),
        // the sidecar-served pruned read: ONE small metadata read picks
        // the ~10% of files whose stats admit the band, then only those
        // scan — cost must track the SELECTED fraction (band scales
        // with the corpus, so sec grows ~linearly in selected bytes but
        // stays ~10× under a full scan; the metadata plane itself is
        // O(1) reads)
        "pruned_read" -> (() =>
          graft.operators.Layout.readPruned(spark, s"$dir/zorder_read_in",
              Seq(graft.operators.Layout.Band("doc_id", 0L, baseDocs * m / 10)))
            .filter(col("doc_id") <= baseDocs * m / 10)
            .count()),
        // Z-order clustered write: one min/max pass + one range
        // exchange + per-file sorts — must track corpus size like any
        // clustered write (the layout benefit is on the READ side,
        // asserted in LayoutSpec)
        "zorder_write" -> (() => {
          graft.operators.Layout.writeZOrdered(
            docs.select(col("doc_id"), length(col("text")).as("len"),
              col("text")),
            Seq("doc_id", "len"), s"$dir/zorder_out", numFiles = 32)
          spark.read.parquet(s"$dir/zorder_out").count()
        }),
        // same write, equi-depth ranks: adds one percentile_approx pass
        // (t-digest, mergeable, bounded state) over the min/max pass —
        // the skew-robustness premium must stay a constant factor of
        // the clustered write, never a complexity change
        "zorder_write_equidepth" -> (() => {
          graft.operators.Layout.writeZOrdered(
            docs.select(col("doc_id"), length(col("text")).as("len"),
              col("text")),
            Seq("doc_id", "len"), s"$dir/zorder_eq_out", numFiles = 32,
            rankMode = "equidepth")
          spark.read.parquet(s"$dir/zorder_eq_out").count()
        }),
        // same write, Hilbert key: the per-row kernel call must stay
        // scan-bound — the curve choice is a constant-factor question,
        // never a complexity one
        "hilbert_write" -> (() => {
          graft.operators.Layout.writeZOrdered(
            docs.select(col("doc_id"), length(col("text")).as("len"),
              col("text")),
            Seq("doc_id", "len"), s"$dir/hilbert_out", numFiles = 32,
            curve = "hilbert")
          spark.read.parquet(s"$dir/hilbert_out").count()
        }),
        // the STREAMING crawl loop end-to-end: the 1% batch arrives as
        // TWO micro-batch files (fixed batch count, growing batch size)
        // through file source → AvailableNow → foreachBatch →
        // dedup-against-index with fold-in ON. What this row isolates
        // that incremental_dedup cannot: the per-micro-batch FIXED
        // overhead (stream query planning, state bookkeeping, index
        // reload and commit per batch) — the number that decides
        // micro-batch sizing at 100 TB (too-small batches pay this
        // overhead per trigger). Each run first resets the index's
        // commits (batch-sized delete) so fold-ins re-land rather than
        // being idempotently skipped, and the measured loop stays the
        // same work at both runs.
        "stream_dedup" -> (() => {
          val idxDir = s"$dir/minhash_index_stream"
          val outDir = s"$dir/stream_dedup_out"
          val ckptDir = s"$dir/stream_dedup_ckpt"
          graft.operators.IndexFs.deleteRecursively(spark, s"$idxDir/commits")
          graft.operators.IndexFs.deleteRecursively(spark, s"$idxDir/staged")
          graft.operators.IndexFs.deleteRecursively(spark, s"$idxDir/committed")
          graft.operators.IndexFs.deleteRecursively(spark, outDir)
          // fresh checkpoint per timed run: a resumed one would see the
          // batch files as already processed and no-op the measured loop
          graft.operators.IndexFs.deleteRecursively(spark, ckptDir)
          graft.streaming.StreamingOps.incrementalDedupStream(
              graft.streaming.StreamingOps.readDocumentsStreamFrom(
                spark, s"$dir/stream_batches", maxFilesPerTrigger = 1),
              idxDir, outDir, ckptDir, threshold = 0.7, foldInSurvivors = true)
            .awaitTermination()
          spark.read.parquet(s"$outDir/batch_*").count()
        }),
        // IVF maintenance twin of index_append: assign the 1% vector
        // batch under the FROZEN persisted centroids (pure codegen
        // projection) and append cell rows — cost must track the batch,
        // blind to index size (appends accumulate across the min-of-2
        // runs by design, same as index_append)
        // LM quality scoring, both halves: the fit cost tracks the
        // corpus but its shuffles carry VOCABULARY rows (Heaps-law
        // bounded — the synth generator's 5k-word vocab makes this the
        // pure aggregate cost); the per-batch score must track the
        // BATCH + the vocabulary joins, never the training corpus
        "lm_fit" -> (() =>
          graft.operators.NgramLm.fit(
            docs.filter(col("doc_id") % 100 =!= 1), "doc_id", "text")
            .bigrams.count()),
        "lm_score" -> (() =>
          graft.operators.NgramLm.scoreAvgLogProb(
            newBatch, "doc_id", "text", refLm).count()),
        "ivf_append" -> (() => {
          Similarity.appendToIvfIndex(newEmbBatch, "vec_id", "embedding",
            s"$dir/ivf_index_timed")
          newEmbBatch.count()
        }),
        // refit: re-cluster + full cell rebuild — the maintenance op
        // that resets frozen-centroid drift; cost must track INDEX size
        // (one bounded fit + one assignment pass + the rewrite), like
        // compaction, never the original corpus. Same work across the
        // min-of-2 runs here because the fixture appends UNTAGGED (rows
        // land in the base dir; there is no commit for run 1 to fold) —
        // a tagged fixture would need the embedding_refit pre-fold
        "ivf_refit" -> (() => {
          Similarity.refitIvfIndex(spark, s"$dir/ivf_index_timed",
            nCentroids = 16, maxIter = 5)
          spark.read.parquet(
            graft.operators.IndexFs.resolveDir(spark, s"$dir/ivf_index_timed/cells"))
            .count()
        }),
        // the recall-drift probes — the "when to refit" signal. Cost
        // must be SAMPLE-bounded: nQueries/maxEval are FIXED across
        // scales, so the bounded exact-vs-index compare is constant
        // work and the only index-sized term is the column-pruned
        // sampling scan — what makes probing every crawl round
        // affordable at 100 TB (vs a full-index brute force, which
        // would be corpus-quadratic)
        "recall_probe_ivf" -> (() =>
          RecallProbe.ivfIndexRecall(spark, s"$dir/ivf_index_timed",
            k = 5, nProbe = 4, nQueries = 20, maxEval = 2000).count()),
        // threshold deliberately omitted: defaults from the index meta,
        // the same plumbing the q_recall_probe_embedding gate pins
        "recall_probe_embedding" -> (() =>
          RecallProbe.embeddingIndexRecall(spark, s"$dir/embedding_index",
            RecallProbe.sampleByMd5(newEmbBatch, "vec_id", 50, "probe"),
            "vec_id", "embedding", maxEval = 2000).count()),
        // the carry-forward as-of plan: one exchange, window scan —
        // growth should track |events|, never pairs. Counting MATCHED
        // rows (not rows) keeps the window in the plan: a bare count()
        // lets Catalyst prune the unused window projection and times an
        // empty shell.
        "asof_join" -> (() =>
          graft.operators.TemporalJoins.asofJoin(
            evSynth.filter(!col("is_state"))
              .select("event_id", "user_id", "ts"),
            evSynth.filter(col("is_state"))
              .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
                col("event_id").as("state_id")),
            "user_id", "s_user", "ts", "s_ts", Seq("state_id"))
            .filter(col("state_id").isNotNull).count()),
        // the bucketed range join: 10 s intervals on 10 s buckets
        // (fanout ≤ 2 per interval), equi-join on (key, bucket)
        "range_join" -> (() =>
          graft.operators.TemporalJoins.pointInIntervalJoin(
            evSynth.filter(!col("is_state"))
              .select("event_id", "user_id", "ts"),
            evSynth.filter(col("is_state"))
              .select(col("event_id").as("state_id"),
                col("user_id").as("s_user"), col("ts").as("s_start"),
                (col("ts") + expr("INTERVAL 10 SECONDS")).as("s_end")),
            "user_id", "ts", "s_user", "s_start", "s_end",
            bucketMicros = 10000000L).count()),
        // PII scrub: a pure codegen regexp projection — must be
        // scan-bound linear. The length filter forces the redacted
        // string itself (a bare count would let column pruning drop
        // the regexp chain and time an empty scan).
        "pii_redact" -> (() =>
          docs.select(
              graft.functions.TextRedact.redactPii(col("text")).as("r"))
            .filter(length(col("r")) > 0).count()),
        // fixed-window chunking: tokenize → explode, shuffle-free; the
        // filters keep BOTH the chunk text build and the token count in
        // the timed plan
        "chunking" -> (() =>
          graft.operators.Chunking.chunkByTokens(
              docs, "doc_id", "text", maxTokens = 64, stride = 48)
            .filter(length(col("chunk_text")) > 0 && col("n_chunk_tokens") > 0)
            .count()),
        // tf-idf: two hash aggregates + vocabulary-sized joins — the
        // shuffles carry (doc, token) and vocab rows, never pairs; the
        // filter keeps the weight arithmetic in the plan
        "tfidf" -> (() =>
          graft.operators.TfIdf.tfidfVectors(docs, "doc_id", "text")
            .filter(col("tfidf") >= 0).count()),
        // BM25 retrieval: the corpus pays the same two hash aggregates
        // as tfidf, then an 8-query posting-list equi-join — must track
        // the tfidf row's growth (corpus tokens + matches), never a
        // corpus×queries product
        "bm25" -> (() => {
          val queries = spark.createDataFrame(Seq(
            (1L, "w17 w230 the"), (2L, "w42 w999"), (3L, "w5 of w77"),
            (4L, "w1234 w8 and"), (5L, "w300 w301 w302"),
            (6L, "w60 to w61"), (7L, "w2500 a w7"), (8L, "w9 w10 w11")))
            .toDF("query_id", "qtext")
          graft.operators.TfIdf.bm25TopK(docs, "doc_id", "text",
            queries, "query_id", "qtext", k = 10).count()
        }),
        // DSIR scoring: two bucket-bounded LM aggregates + the per-doc
        // feature aggregate against broadcast models — corpus-linear
        // with a HARD-capped (4096-row) join side at any scale. The
        // log_ratio filter makes the row HONEST (SCALE.md ¹⁰): a bare
        // count() lets Catalyst prune the ratio aggregate and both
        // broadcast LM inputs out of the counted plan, under-measuring
        // scoring by ~2×
        "dsir_score" -> (() =>
          graft.operators.Dsir.importanceLogRatio(
            docs, "doc_id", "text",
            docs.filter(col("doc_id") % 10 === 0), "text",
            docs, "text")
            .filter(col("log_ratio") > -1e18).count()),
        // DSIR resample: scoring + the A-ES TakeOrderedAndProject —
        // the k-sized merge must stay invisible next to the scoring
        "dsir_resample" -> (() =>
          graft.operators.Dsir.resampleByImportance(
            docs, "doc_id", "text",
            docs.filter(col("doc_id") % 10 === 0), "text",
            docs, "text", k = 1000).count()),
        // SemDeDup at the paper's design point: cluster count GROWS
        // with the corpus (clustersFor, fixed ~1k target size), so the
        // within-cluster pair join is ~n·targetSize — the row must
        // stay near-linear, never corpus-quadratic
        "semdedup" -> (() => {
          val n = embs.count()
          graft.operators.SemDedup.semDedup(embs, "vec_id", "embedding",
            tau = 0.9,
            nClusters = graft.operators.SemDedup.clustersFor(n),
            maxIter = 5).count()
        }),
        // paragraph-level exact dedup: split on a frequent stopword
        // (" the " ≈ every ~40 words here), so the explode and the
        // per-distinct-paragraph winner aggregate both track the corpus
        // token volume — must stay scan-shaped linear (explode + one
        // key exchange + one doc-id exchange), never a corpus window
        "paragraph_dedup" -> (() =>
          graft.operators.ParagraphDedup.dedupParagraphs(
              docs, "doc_id", "text", sepRegex = " the ", joiner = " | ")
            .count()),
        // exact global rank (curriculum order by quality): one range
        // exchange + O(partitions) driver prefix + a narrow counter —
        // must track the corpus linearly with NO single-task funnel
        // (the global-window spelling this op replaces)
        "global_rank" -> (() =>
          graft.operators.Ranking.withGlobalRank(
            docs.select(col("doc_id"),
              TextAnalysis.qualityScore(col("text")).as("q")),
            Seq(col("q").desc, col("doc_id")), "rank").count()),
        // blocklist annotation vs a realistic 500-term list (10% of the
        // synthetic vocabulary): one codegen array_intersect per doc,
        // map-only — must be scan-bound linear at any corpus size
        "blocklist" -> (() =>
          graft.operators.Blocklist.annotateBlocked(docs, "text",
              (0 until 500).map(i => s"w${i * 10}"))
            .filter(col("n_blocked_terms") >= 0).count()),
        // corpus datasheet: three corpus-linear aggregate branches (the
        // vocabulary pass is the only token-granular exchange) meeting
        // in a 1×1 join — must track the corpus, never blow up on the
        // distinct side (partial-distinct aggregates, no driver sets)
        "corpus_stats" -> (() =>
          graft.operators.CorpusStats.statsCard(
              docs.withColumn("src", (col("doc_id") % 4).cast("string")),
              "text", Some("src"))
            .filter(col("value") >= 0).count()),
        // classifier scoring: map-only — one md5 + one array lookup per
        // token against the literal weight vector; must be scan-bound
        // linear with ZERO exchanges (the filter keeps the sigmoid in
        // the counted plan)
        "quality_score" -> (() =>
          graft.operators.QualityClassifier.score(docs, "text", qcModel)
            .filter(col("p_good") >= 0.0).count()),
        // substring-level dedup: one native O(n) rolling-key projection
        // (tokens never leave the row), one key exchange whose winner
        // side is 1 row per distinct window, one doc-id exchange of
        // losing starts, map-side cut — must be token-volume linear;
        // the length filter keeps the cut+reassembly in the timed plan
        "substring_dedup" -> (() =>
          graft.operators.SubstringDedup.dedupSubstrings(
              docs, "doc_id", "text", minTokens = 20)
            .filter(length(col("text")) > 0).count()),
        // RRF fusion in isolation: inputs are ranked LISTS (queries ×
        // k × lists), never the corpus — this row scales the list
        // volume itself (1000·m queries × 10 × 2) to show fusion is
        // linear in ITS input and absolutely tiny next to any
        // retriever row above (the q_rrf_fusion gate covers the
        // composed hybrid stack; here the claim is "fusing is free")
        "rrf_fuse" -> (() => {
          val nq = 1000L * m
          def list(salt: String) = spark.range(0, nq * 10, 1, 32)
            .select((col("id") / 10).cast("long").as("query_id"),
              pmod(xxhash64(col("id"), lit(salt)), lit(100000))
                .as("doc_id"),
              (col("id") % 10 + 1).cast("int").as("rank"))
          graft.operators.Fusion.rrfFuse(
            Seq(list("lex") -> 1.0, list("dense") -> 1.0),
            "query_id", "doc_id", "rank", k = 10).count()
        }),
        // cluster representatives: corpus-sized quality projection +
        // pair-set-sized components (one planted pair per 20 docs via
        // the synthetic near-dup ids) + the bounded per-cluster argmax
        // and ONE label equi-join — must track the corpus linearly,
        // with the component machinery riding the PAIR count
        "cluster_reps" -> (() =>
          graft.operators.TextDedup.clusterRepresentatives(
            docs.select(col("doc_id"),
              graft.functions.TextAnalysis.qualityScore(col("text"))
                .as("quality")),
            "doc_id", "quality",
            docs.filter(col("doc_id") % 20 === 1)
              .select((col("doc_id") - 1).as("d1"), col("doc_id").as("d2")))
            .count()),
        // shard write: ONE hash exchange + per-shard local sort + 16
        // partitioned dirs — the materialized training-output stage;
        // must track corpus size with no global sort
        "shard_write" -> (() => {
          graft.operators.Sharding.writeShards(
            docs, "doc_id", 16, s"$dir/shards_out")
          spark.read.parquet(s"$dir/shards_out").count()
        }),
        // the composed training-data flow — the SAME spelling the
        // q_training_data_e2e hash gate runs (TrainingDataQueries
        // .ingestFlow): sign the even half, curate + dedup-against-
        // index + tagged-append two crawl waves, split + pack. Measures
        // what the per-stage rows cannot: the composed plan (stage
        // boundaries are localCheckpoints, so no stage's plan changes,
        // but the signing, two index reloads and two appends all land
        // inside one timed body — the "adopt the whole pipeline" cost)
        "training_e2e" -> (() =>
          graft.queries.TrainingDataQueries.ingestFlow(
            docs, s"$dir/e2e_index_timed").count()),
        // URL canonicalization + domain extraction: pure codegen regex
        // projections over a synthesized messy URL — map-only, must be
        // scan-bound linear (the filter keeps both in the counted plan)
        "url_canonical" -> (() =>
          graft.operators.UrlCuration.withDomain(
            graft.operators.UrlCuration.withCanonicalUrl(
              docs.withColumn("url", scaleUrl(col("doc_id"))), "url"),
            "url")
            .filter(length(col("canonical_url")) + length(col("domain")) > 0)
            .count()),
        // canonical-URL dedup: ~10 URL variants collapse per page key
        // (id/10), one canonical-key aggregate + one id semi-join —
        // must track the corpus with no skew blowup on the winner side
        "url_dedup" -> (() =>
          graft.operators.UrlCuration.dedupByUrl(
            docs.withColumn("url",
              scaleUrl(floor(col("doc_id") / 10).cast("long"))), "doc_id",
            "url").count()),
        // per-domain cap against ~1000 domains: the bounded top-k
        // aggregate per domain (cap rows per domain per partition cross
        // the exchange) + the id join-back — never a per-domain window
        "domain_cap" -> (() =>
          graft.operators.UrlCuration.domainCap(
            docs.withColumn("url", scaleUrl(col("doc_id"))), "doc_id",
            "url", cap = 100).count()),
        // registered-domain (PSL eTLD+1) cap: the same bounded top-k
        // machinery with the native label-walk expression as the unit
        // — must cost ≈ domain_cap (the walk is per-row O(labels) over
        // the table's hash sets, never a rules join; a deep subdomain
        // prefix forces a 5-label walk on every row)
        "psl_domain_cap" -> (() =>
          graft.operators.UrlCuration.registeredDomainCap(
            docs.withColumn("url",
              concat(lit("http://a"), pmod(col("doc_id"), lit(50L)),
                lit(".b.site"), pmod(col("doc_id"), lit(1000L)),
                lit(".example.com/p/"), col("doc_id"))),
            "doc_id", "url", cap = 100,
            table = graft.functions.PslTable.fixture).count()),
        // C4 line-level cleanup: one split + in-row HOF line filter +
        // two literal page checks per doc — zero exchanges, must be
        // scan-bound linear (stopwords become sentence breaks so the
        // line rules do real work on every row)
        "c4_line_filter" -> (() =>
          graft.operators.LineFilters.c4Clean(
            docs.select(col("doc_id"),
              regexp_replace(col("text"), " (the|and|of|to) ", ".\n")
                .as("text")),
            "doc_id", "text", minWordsPerLine = 3, minLines = 1)
            .count()),
        // crawl frontier: in-row link explosion (3 links/page, one
        // relative) + ONE canonical anti-join against the seen set +
        // ONE partial-aggregated in-degree exchange — link-volume
        // linear, never a window
        "crawl_frontier" -> (() => {
          val pages = docs.select(col("doc_id"),
            concat(lit("http://s"), pmod(col("doc_id"), lit(1000L)),
              lit(".ex.com/p/"), col("doc_id")).as("url"),
            concat(
              lit("<a href=\"http://s"),
              pmod(col("doc_id") + 1, lit(1000L)),
              lit(".ex.com/p/"), pmod(col("doc_id") * 3, lit(100000L)),
              lit("?utm_source=x\">a</a>"),
              lit("<a href='http://s"), pmod(col("doc_id"), lit(7L)),
              lit(".ex.com/q/"), pmod(col("doc_id") * 7, lit(100000L)),
              lit("/'>b</a>"),
              lit("<a href=\"/rel\">c</a>")).as("html"))
          graft.operators.UrlCuration.crawlFrontier(
            pages, "doc_id", "url", "html").count()
        }),
        // robots.txt politeness: one keyed join of pages against the
        // ~1000-domain robots relation + the native per-row REP match
        // (parse memoized per distinct text) — join-bound linear
        "robots_filter" -> (() => {
          val pages = docs.select(col("doc_id"),
            concat(lit("http://s"), pmod(col("doc_id"), lit(1000L)),
              lit(".ex.com"),
              when(pmod(col("doc_id"), lit(3L)) === 0,
                concat(lit("/blocked/"), col("doc_id")))
                .otherwise(concat(lit("/ok/"), col("doc_id")))).as("url"))
          val robots = spark.range(0, 1000).select(
            concat(lit("s"), col("id"), lit(".ex.com")).as("domain"),
            lit("User-agent: *\nDisallow: /blocked/\n" +
              "Allow: /blocked/except*\nDisallow: /deep/*/x$")
              .as("robots_txt"))
          graft.operators.Robots.filterAllowed(
            pages, "url", robots, "domain", "robots_txt").count()
        }),
        // fetch-wave scheduling: one keyed join against the ~1000-host
        // robots relation for the Crawl-delay, then ONE bounded heap
        // per host (k = maxWaves × maxPerWave, constant no matter how
        // hot the host) — never a per-host window; beyond-horizon rows
        // drop, so the exchange carries at most k rows per host per
        // partition
        "fetch_waves" -> (() => {
          val fr = docs.select(
            concat(lit("http://s"), pmod(col("doc_id"), lit(1000L)),
              lit(".ex.com/p/"), col("doc_id")).as("url"),
            pmod(col("doc_id"), lit(17L)).cast("double").as("n_refs"))
          val robots = spark.range(0, 1000).select(
            concat(lit("s"), col("id"), lit(".ex.com")).as("domain"),
            when(col("id") % 2 === 0,
              lit("User-agent: *\nCrawl-delay: 10"))
              .otherwise(lit("User-agent: *\nDisallow: /x/"))
              .as("robots_txt"))
          graft.operators.UrlCuration.fetchWaves(fr, "url", robots,
            "domain", "robots_txt", waveSeconds = 30.0, maxWaves = 5,
            priority = col("n_refs")).count()
        }),
        // recrawl planner: fetch_waves' shape plus one map-side exp per
        // row (the Poisson staleness priority) — must cost ≈ the
        // fetch_waves row; the horizon-capped output is what keeps the
        // 100× cell flat
        "recrawl_waves" -> (() => {
          val fresh = docs.select(
            concat(lit("http://s"), pmod(col("doc_id"), lit(1000L)),
              lit(".ex.com/p/"), col("doc_id")).as("url"),
            timestamp_seconds(lit(1767225600L) -
              pmod(col("doc_id"), lit(97L)) * 21600L).as("last_fetch_ts"),
            (pmod(col("doc_id"), lit(7L)).cast("double") * 0.25 + 0.25)
              .as("change_rate"))
          val robots = spark.range(0, 1000).select(
            concat(lit("s"), col("id"), lit(".ex.com")).as("domain"),
            when(col("id") % 2 === 0,
              lit("User-agent: *\nCrawl-delay: 10"))
              .otherwise(lit("User-agent: *\nDisallow: /x/"))
              .as("robots_txt"))
          graft.operators.UrlCuration.recrawlWaves(fresh, "url",
            "last_fetch_ts", "change_rate",
            asOf = timestamp_seconds(lit(1767225600L)),
            robots = robots, domainCol = "domain",
            robotsCol = "robots_txt", waveSeconds = 30.0,
            maxWaves = 5).count()
        }),
        // revisit folding: one keyed-down outcome aggregate + the 304
        // carry join + ONE SnapshotMerge upsert — the merge dominates
        // (already scaled by the merge rows); snapshot seeded per run
        // at Revisit's first-contact 16 shards
        "revisit_merge" -> (() => {
          val snap = s"$dir/revisit_snap"
          graft.operators.IndexFs.deleteRecursively(spark, snap)
          graft.operators.SnapshotMerge.createSharded(
            docs.select(
              concat(lit("http://v.ex.com/p/"), col("doc_id")).as("url"),
              col("text").as("body"),
              timestamp_seconds(lit(1767225600L) + col("doc_id"))
                .as("last_fetch_ts")),
            Seq("url"), nShards = 16, snap)
          val m = pmod(col("doc_id"), lit(5L))
          val revisits = docs.select(
            concat(lit("http://v.ex.com/p/"), col("doc_id")).as("url"),
            timestamp_seconds(lit(1767325600L) + col("doc_id"))
              .as("fetch_ts"),
            when(m === 0, lit(200)).when(m === 1, lit(304))
              .when(m === 2, lit(301)).when(m === 3, lit(404))
              .otherwise(lit(503)).as("http_status"),
            when(m === 0, concat(lit("v2 "), col("text")))
              .otherwise(lit(null).cast("string")).as("body"))
          graft.operators.Revisit.applyRevisitOutcomes(spark, snap,
            revisits, "url", "fetch_ts", "http_status", "body")
            .values.sum
        }),
        // the composed maintenance cycle: estimate + fold + plan —
        // must cost ≈ the sum of its three measured parts
        "crawl_maintain" -> (() => {
          val hist = docs.select(
            concat(lit("http://f.ex.com/p/"),
              pmod(col("doc_id"), lit(1000L))).as("url"),
            timestamp_seconds(lit(1767225600L) + col("doc_id") * 60L)
              .as("fetch_ts"),
            concat(lit("h"), floor(floor(col("doc_id") / 1000) /
              (lit(1) + pmod(col("doc_id"), lit(5L)))).cast("long"))
              .as("content_hash"))
          val snap = s"$dir/maintain_snap"
          graft.operators.IndexFs.deleteRecursively(spark, snap)
          graft.operators.SnapshotMerge.createSharded(
            hist.groupBy(col("url"))
              .agg(max(col("fetch_ts")).as("last_fetch_ts"))
              .select(col("url"), col("url").as("body"),
                col("last_fetch_ts")),
            Seq("url"), nShards = 16, snap)
          val k = regexp_extract(col("url"), "/p/([0-9]+)$", 1)
            .cast("long")
          val wave = hist.select(col("url")).distinct().select(
            col("url"),
            timestamp_seconds(lit(1768225600L) + k).as("fetch_ts"),
            when(k % 5 === 0, lit(200)).when(k % 5 === 1, lit(304))
              .when(k % 5 === 2, lit(301)).when(k % 5 === 3, lit(404))
              .otherwise(lit(503)).as("http_status"),
            when(k % 5 === 0, concat(lit("v "), k))
              .otherwise(lit(null).cast("string")).as("body"))
          graft.operators.Revisit.applyRevisitOutcomes(spark, snap,
            wave, "url", "fetch_ts", "http_status", "body")
          val rates = graft.operators.UrlCuration.estimateChangeRate(
            hist, "url", "fetch_ts", "content_hash")
          val fresh = graft.operators.SnapshotMerge.readSharded(spark, snap)
            .select(col("url"), col("last_fetch_ts"))
            .join(rates.select(col("url"), col("change_rate_per_day")),
              Seq("url"), "left")
            .select(col("url"), col("last_fetch_ts"),
              coalesce(col("change_rate_per_day"), lit(0.25))
                .as("change_rate"))
          val robots = spark.range(0, 1).select(
            lit("f.ex.com").as("rb_domain"),
            lit("User-agent: *\nCrawl-delay: 3").as("robots_txt"))
          graft.operators.UrlCuration.recrawlWaves(fresh, "url",
            "last_fetch_ts", "change_rate",
            asOf = timestamp_seconds(lit(1769225600L)),
            robots = robots, domainCol = "rb_domain",
            robotsCol = "robots_txt", waveSeconds = 30.0,
            maxWaves = 3).count()
        }),
        // sitemap XML expand: in-row block/field regexes + one
        // per-(sitemap, kind, loc) dedup aggregate — scan-bound over
        // the sitemap files (every doc is one small sitemap here)
        "sitemap_parse" -> (() => {
          val pages = docs.select(col("doc_id"),
            concat(lit("http://s"), pmod(col("doc_id"), lit(1000L)),
              lit(".ex.com/m"), col("doc_id"), lit(".xml")).as("url"),
            concat(lit("<urlset><url><loc>/p/"), col("doc_id"),
              lit("</loc><lastmod>2026-03-01</lastmod>" +
                "<changefreq>daily</changefreq></url><url><loc>/q/"),
              col("doc_id"),
              lit("</loc></url><sitemap><loc>/maps/sub.xml</loc>" +
                "</sitemap></urlset>")).as("xml"))
          graft.operators.Sitemaps.parseSitemapPages(
            pages, "doc_id", "url", "xml").count()
        }),
        // change-rate estimation: one keyed lag window over per-url
        // histories (~500 fetches per url here) + one per-url
        // aggregate — corpus-linear, keyed, no global window
        "change_rate" -> (() => {
          val hist = docs.select(
            concat(lit("http://f.ex.com/p/"),
              pmod(col("doc_id"), lit(1000L))).as("url"),
            timestamp_seconds(lit(1767225600L) + col("doc_id") * 60L)
              .as("fetch_ts"),
            concat(lit("h"), floor(floor(col("doc_id") / 1000) /
              (lit(1) + pmod(col("doc_id"), lit(5L)))).cast("long"))
              .as("content_hash"))
          graft.operators.UrlCuration.estimateChangeRate(
            hist, "url", "fetch_ts", "content_hash").count()
        }),
        // redirect resolution: pointer doubling — log2(maxHops) keyed
        // self-joins of the ALIAS MAP (the ~1/7 of pages that are 3xx
        // here), one final join back; cost must track the alias
        // fraction, not maxHops × corpus
        "redirect_resolve" -> (() => {
          val m = pmod(col("doc_id"), lit(7L))
          val pages = docs.select(
            concat(lit("http://r.ex.com/u/"), col("doc_id")).as("url"),
            when(m === 1, lit(301)).when(m === 2, lit(302))
              .when(m === 5, lit(301)).when(m === 6, lit(308))
              .otherwise(lit(200)).as("http_status"),
            when(m.isin(1L, 2L, 5L),
                concat(lit("http://r.ex.com/u/"), col("doc_id") + 1))
              .when(m === 6,
                concat(lit("http://r.ex.com/u/"), col("doc_id") - 1))
              .otherwise(lit(null).cast("string")).as("location"))
          graft.operators.UrlCuration.resolveRedirects(pages, "url",
            "http_status", "location", maxHops = 8).count()
        }),
        // sitemap-seeded frontier: the link frontier + the robots
        // relation's sitemap parse (memoized per distinct text) + one
        // shared seen anti-join per branch — must cost ≈ the frontier
        // row plus the small robots-side explode
        "sitemap_frontier" -> (() => {
          val pages = docs.select(col("doc_id"),
            concat(lit("http://s"), pmod(col("doc_id"), lit(1000L)),
              lit(".ex.com/p/"), col("doc_id")).as("url"),
            concat(lit("<a href=\"/rel/"),
              pmod(col("doc_id") * 3, lit(100000L)),
              lit("\">a</a>")).as("html"))
          val robots = spark.range(0, 1000).select(
            concat(lit("s"), col("id"), lit(".ex.com")).as("domain"),
            concat(lit("User-agent: *\nDisallow: /x/\nSitemap: http://s"),
              col("id"), lit(".ex.com/map.xml")).as("robots_txt"))
          graft.operators.UrlCuration.crawlFrontierWithSitemaps(pages,
            "doc_id", "url", "html", robots, "domain", "robots_txt")
            .count()
        }),
        // WARC round-trip: one .warc file per partition on the write,
        // one whole-file task per .warc on the read — both sides
        // corpus-linear, zero shuffle; the read parses raw bytes and
        // splits the HTTP payload per record
        "warc_roundtrip" -> (() => {
          graft.sources.WarcScan.write(
            docs.select(col("doc_id"),
              concat(lit("http://w.ex.com/d/"), col("doc_id")).as("url"),
              timestamp_seconds(lit(1767225600L) + col("doc_id")).as("ts"),
              col("text").as("html"), lit(200).as("status"),
              lit("").as("flag")),
            "doc_id", "url", "ts", "html", "status", "flag",
            s"$dir/warc_out")
          graft.sources.WarcScan.read(spark, s"$dir/warc_out/*.warc")
            .count()
        }),
        // WARC round-trip through the Common Crawl .warc.gz convention
        // (one gzip member per record): same shuffle-free shape as the
        // plain row plus per-record deflate/inflate CPU — the
        // compression cost the real archive format pays
        "warc_gz_roundtrip" -> (() => {
          graft.sources.WarcScan.write(
            docs.select(col("doc_id"),
              concat(lit("http://w.ex.com/d/"), col("doc_id")).as("url"),
              timestamp_seconds(lit(1767225600L) + col("doc_id")).as("ts"),
              col("text").as("html"), lit(200).as("status"),
              lit("").as("flag")),
            "doc_id", "url", "ts", "html", "status", "flag",
            s"$dir/warc_gz_out", gzip = true)
          graft.sources.WarcScan.read(spark, s"$dir/warc_gz_out/*.warc.gz")
            .count()
        }),
        // robots bootstrap: the /robots.txt page screen is a map-only
        // projection pruning the corpus down to the ~1000 robots
        // fetches BEFORE the one per-domain min_by exchange — cost must
        // be scan-bound, not corpus-shuffle-bound
        "robots_bootstrap" -> (() => {
          val pages = docs.select(col("doc_id"),
            when(pmod(col("doc_id"), lit(500L)) === 0,
              concat(lit("http://s"),
                pmod(floor(col("doc_id") / 500), lit(1000L)),
                lit(".ex.com/robots.txt")))
              .otherwise(concat(lit("http://s"),
                pmod(col("doc_id"), lit(1000L)),
                lit(".ex.com/p/"), col("doc_id"))).as("url"),
            lit("User-agent: *\nDisallow: /blocked/").as("body"))
          graft.operators.Robots.robotsFromPages(
            pages, "doc_id", "url", "body").count()
        }),
        // crawl-to-corpus capstone: the composed front-end (messy page
        // → extract → NFC clean → Gopher filter → curation screens +
        // exact dedup) — the first three stages are map-only, so the
        // composition must cost ≈ extract + curation's one dedup
        // exchange, corpus-linear
        "crawl_to_corpus" -> (() =>
          graft.queries.HtmlQueries.crawlFlow(
            docs.select(col("doc_id"),
              graft.queries.HtmlQueries.messyHtml(
                col("doc_id"), lit("src"), col("text")).as("html")),
            // labeled slice for the NB fit (the training_v2 label
            // shape); keep all 5 synthetic labels — the synthetic text
            // is label-agnostic, so a 1-label screen would zero the
            // row and measure nothing
            docs.withColumn("lang",
              when(pmod(col("doc_id"), lit(5L)) === 0, lit("en"))
                .otherwise(concat(lit("l"), pmod(col("doc_id"), lit(5L))))),
            graft.operators.Curation.Config(
              keepLangs = Set("en", "l1", "l2", "l3", "l4")))
            .count()),
        // the crawl front-end as a stream (2 micro-batches): stateless
        // projections under the streaming runner — cost must be the
        // extract row + fixed stream machinery, corpus-linear
        // the COMPOSED planning cycle: robots bootstrap (pinned — three
        // consumers) → frontier → REP screen → fetch waves; must cost
        // ≈ the frontier row + the screens' keyed joins + the bounded
        // wave heap — the whole planning stage is one frontier-shaped
        // pass, never a corpus re-scan per stage
        "crawl_cycle" -> (() => {
          import graft.GraftSession.Pinnable
          val content = docs.select(col("doc_id"),
            concat(lit("http://s"), pmod(col("doc_id"), lit(1000L)),
              lit(".ex.com/p/"), col("doc_id")).as("url"),
            concat(
              lit("<a href=\"/p/"), pmod(col("doc_id") * 3, lit(100000L)),
              lit("\">a</a><a href=\"/q/"),
              pmod(col("doc_id") * 7, lit(100000L)),
              lit("\">b</a>")).as("html"))
          val robotsPages = spark.range(0, 1000).select(
            (col("id") + 100000000L).as("doc_id"),
            concat(lit("http://s"), col("id"),
              lit(".ex.com/robots.txt")).as("url"),
            concat(lit("User-agent: *\nCrawl-delay: 10\n" +
              "Disallow: /blocked/\nSitemap: http://s"), col("id"),
              lit(".ex.com/map.xml")).as("html"))
          val fetched = content.unionByName(robotsPages)
          val robots = graft.operators.Robots.robotsFromPages(
            fetched, "doc_id", "url", "html").pinScratch()
          val fr = graft.operators.UrlCuration.crawlFrontierWithSitemaps(
            fetched, "doc_id", "url", "html", robots, "domain", "robots_txt")
          val polite = graft.operators.Robots.filterAllowed(
            fr, "url", robots, "domain", "robots_txt")
          graft.operators.UrlCuration.fetchWaves(polite, "url", robots,
            "domain", "robots_txt", waveSeconds = 30.0, maxWaves = 5,
            priority = col("n_refs")).count()
        }),
        // WARC ingestion as a stream: 32 .warc.gz files, 16 per
        // trigger — per-batch cost is the batch parse (per-file tasks)
        // + the fixed stream machinery; the sink carries lengths so
        // the memory table never ingests the bodies
        "warc_stream" -> (() => {
          val srcDir = s"$dir/warc_stream_src"
          graft.sources.WarcScan.write(
            docs.select(col("doc_id"),
              concat(lit("http://w.ex.com/d/"), col("doc_id")).as("url"),
              timestamp_seconds(lit(1767225600L) + col("doc_id")).as("ts"),
              col("text").as("html"), lit(200).as("status"),
              lit("").as("flag")).repartition(32),
            "doc_id", "url", "ts", "html", "status", "flag",
            srcDir, gzip = true)
          val out = graft.sources.WarcScan
            .readStream(spark, srcDir, maxFilesPerTrigger = 16)
            .select(col("record_id"), length(col("body")).as("n_chars"))
          graft.streaming.StreamingOps.runAvailableNow(
            out, s"graft_scale_warc_stream_x$m").count()
        }),
        "crawl_stream" -> (() => {
          val srcDir = s"$dir/crawl_stream_src"
          // 32 files, 16 per trigger: a micro-batch's parallelism IS
          // its file count (one ~80 MB file = ONE task — a 1-file
          // trigger measured 22× this row's cost at 100×, pure
          // single-thread starvation, not operator cost); two triggers
          // still exercise the cross-batch path
          docs.select(col("doc_id"),
              graft.queries.HtmlQueries.messyHtml(
                col("doc_id"), lit("src"), col("text")).as("html"))
            .repartition(32).write.mode("overwrite").parquet(srcDir)
          val stream = spark.readStream
            .schema(spark.read.parquet(srcDir).schema)
            .option("maxFilesPerTrigger", 16).parquet(srcDir)
          // sink carries LENGTHS, not text: the memory sink is a
          // driver-side result table, and half a GB of cleaned text
          // measures driver ingest, not the operator (the length
          // keeps cleanText in the plan — column pruning can't drop it)
          val out = graft.operators.HtmlExtract
            .extractMainContent(stream, "doc_id", "html")
            .select(col("doc_id"),
              length(graft.functions.TextNormalize.cleanText(col("text")))
                .as("n_chars_clean"),
              col("n_paras_kept"))
          graft.streaming.StreamingOps.runAvailableNow(
            out, s"graft_scale_crawl_stream_x$m").count()
        }),
        // the STATEFUL streaming capstone: the whole crawl-to-corpus
        // pipeline across 2 micro-batches with the three cross-batch
        // screens (URL state, domain counts, content hashes) written
        // and read back per batch — must cost ≈ the batch capstone +
        // the stream machinery + the per-batch state reads (state
        // relations are KEYS, so the reads stay cheap at any corpus)
        "crawl_corpus_stream" -> (() => {
          val base = s"$dir/crawl_corpus_stream"
          Seq("state", "out", "ckpt").foreach(d =>
            graft.operators.IndexFs.deleteRecursively(spark, s"$base/$d"))
          docs.select(col("doc_id"),
              concat(lit("http://s"), pmod(col("doc_id"), lit(1000L)),
                lit(".ex.com/p/"), pmod(col("doc_id"), lit(200000L)))
                .as("url"),
              graft.queries.HtmlQueries.messyHtml(
                col("doc_id"), lit("src"), col("text")).as("html"))
            .repartition(32).write.mode("overwrite")
            .parquet(s"$base/src")
          val stream = spark.readStream
            .schema(spark.read.parquet(s"$base/src").schema)
            .option("maxFilesPerTrigger", 16).parquet(s"$base/src")
          graft.streaming.StreamingOps.crawlToCorpusStream(stream,
              "doc_id", "url", "html", s"$base/state", s"$base/out",
              s"$base/ckpt", domainCap = 1000)
            .awaitTermination()
          spark.read.parquet(s"$base/out/batch_*").count()
        }),
        // tokenizer fertility: learn merges, count the corpus in its
        // OWN tokens, one O(langs) aggregate — fit + codegen count
        // pass, corpus-linear
        "tokenizer_fertility" -> (() => {
          val res = graft.operators.BpeTrain.fit(docs, "text", nMerges = 8)
          docs.withColumn("lang", concat(lit("l"), pmod(col("doc_id"), lit(5L))))
            .select(col("lang"),
              graft.functions.GraftFunctions.bpe_token_count(
                col("text"), res.table).as("t"))
            .groupBy("lang").agg(sum("t").as("toks"))
            .count()
        }),
        // NB language-ID: fit = ONE explode + partially-aggregated
        // (lang,bucket) count exchange + bounded model pull; predict
        // = map-only with the log-prob matrix as plan literals — both
        // stages must be corpus-linear (5 synthetic langs by id band)
        "langid_nb" -> (() => {
          val labeled = docs.withColumn("lang",
            concat(lit("l"), pmod(col("doc_id"), lit(5L))))
          val model = graft.operators.LangIdNb.fit(
            labeled, "lang", "text", buckets = 1024)
          graft.operators.LangIdNb.predict(docs, "text", model)
            .filter(col("pred_lang").isNotNull).count()
        }),
        // Gopher shape rules: five band metrics + the composed keep
        // rule, all length/replace/list arithmetic — map-only, zero
        // exchanges, scan-bound linear
        "gopher_quality" -> (() =>
          docs.filter(graft.functions.TextAnalysis.gopherShapeOk(col("text")))
            .count()),
        // BPE tokenizer training: ONE corpus explode + word-count
        // aggregate (the shuffle carries DISTINCT words), a bounded
        // TakeOrdered vocab pull, then the data-size-independent
        // in-memory merge loop — must track the corpus only through
        // the word-count pass
        "bpe_train" -> (() =>
          graft.operators.BpeTrain.fit(docs, "text", nMerges = 16)
            .merges.length.toLong),
        // ftfy-style unicode cleanup: native NFC + five codegen
        // regex/replace passes — map-only, scan-bound linear; the
        // appended messy suffix forces the non-ASCII path on every row
        "text_normalize" -> (() =>
          docs.select(graft.functions.TextNormalize.cleanText(
              concat(col("text"),
                lit("\u00A0x\u200B line\r\nCafe\u0301 nai\u0308ve \u212B")))
              .as("t"))
            .filter(length(col("t")) > 0).count()),
        // HTML strip: one codegen regex/replace chain per page — map-
        // only, must be scan-bound linear (the length filter keeps the
        // whole chain in the counted plan)
        "html_strip" -> (() =>
          docs.select(
              graft.operators.HtmlExtract.stripHtml(
                graft.queries.HtmlQueries.messyHtml(
                  col("doc_id"), lit("src"), col("text"))).as("t"))
            .filter(length(col("t")) > 0).count()),
        // jusText-lite extraction: in-row paragraph split + per-
        // fragment link-density features via higher-order functions —
        // ZERO exchanges (never explode + corpus-wide regroup), must
        // be scan-bound linear with per-task memory bounded by one doc
        "html_extract" -> (() =>
          graft.operators.HtmlExtract.extractMainContent(
              docs.select(col("doc_id"),
                graft.queries.HtmlQueries.messyHtml(
                  col("doc_id"), lit("src"), col("text")).as("html")),
              "doc_id", "html")
            .filter(col("n_paras_kept") >= 0).count()),
        // the composed modern-curation flow — the SAME spelling the
        // q_training_data_v2 hash gate runs: blocklist → classifier
        // (fit + snapshot inside the timed body) → paragraph +
        // substring dedup → SemDeDup over survivor-fit clusters →
        // DSIR resample → temperature-scaled BPE budgets → chunk →
        // pack → shard. Measures the composition cost the per-stage
        // rows can't see (enrich joins on the shrinking id set, the
        // pin seams, two snapshot writes)
        // the UNIFYING v3 capstone: raw messy pages → crawl front-end
        // (extract, clean, Gopher, NB lang) → the full 11-stage v2
        // stack — the end-to-end "raw HTML to training shards" cost;
        // must be ≈ crawl_to_corpus + training_v2 (the seam adds one
        // projection, never a rescan)
        "training_v3" -> (() => {
          val labeled = docs.withColumn("lang",
            when(pmod(col("doc_id"), lit(5L)) === 0, lit("en"))
              .otherwise(concat(lit("l"), pmod(col("doc_id"), lit(5L)))))
          val corpus = graft.queries.HtmlQueries.crawlFlow(
              docs.select(col("doc_id"),
                graft.queries.HtmlQueries.messyHtml(
                  col("doc_id"), lit("src"), col("text")).as("html")),
              labeled,
              graft.operators.Curation.Config(
                keepLangs = Set("en", "l1", "l2", "l3", "l4")))
            .select(col("doc_id"), col("text"), col("pred_lang").as("lang"))
          graft.queries.TrainingDataQueries.curationFlowV2(corpus, embs,
            s"$dir/v3_qc_model", s"$dir/v3_assign",
            nClusters = graft.operators.SemDedup.clustersFor(baseVecs * m),
            maxClusterSize = 4096L, dsirRef = labeled).count()
        }),
        "training_v2" -> (() =>
          graft.queries.TrainingDataQueries.curationFlowV2(
            // 5 languages, one of them "en" — the flow's DSIR stage
            // targets the en slice, so the target LM must be non-empty
            // (an empty target nulls every importance weight and the
            // A-ES sample correctly drops weightless rows)
            docs.withColumn("lang",
              when(pmod(col("doc_id"), lit(5L)) === 0, lit("en"))
                .otherwise(concat(lit("l"), pmod(col("doc_id"), lit(5L))))),
            embs,
            s"$dir/v2_qc_model", s"$dir/v2_assign",
            nClusters = graft.operators.SemDedup.clustersFor(baseVecs * m),
            maxClusterSize = 4096L).count()))

      // Offline fixtures forced BEFORE an op's timed loop (r11 advice:
      // a lazy fixture first touched inside a timed closure lands its
      // offline build in run 1 — min-of-2 hides it in the reported
      // number but leaves only one clean sample, contradicting the
      // "deliberately outside the timed op" contract). Keyed per op so
      // an op-filtered invocation still builds exactly what it needs.
      val fixtureOf: Map[String, () => Any] = Map(
        "merge_upsert_sharded" -> (() => mergeShardedFixture),
        "merge_optimize_sharded" -> (() => mergeShardedFixture),
        "merge_cdf" -> (() => mergeCdfFixture),
        "cdf_consume" -> (() => mergeCdfFixture),
        "ivfpq_probe" -> (() => ivfPqFixture),
        "ivfpq_index_bytes" -> (() => ivfPqFixture),
        "merge_restore" -> (() => mergeRestoreFixture),
        "merge_reshard" -> (() => mergeReshardFixture),
        "merge_compact_sharded" -> (() => mergeCompactFixture),
        "merge_evolve_sharded" -> (() => mergeEvolveFixture),
        "pruned_read" -> (() => zorderReadFixture),
        "incremental_dedup" -> (() => mhIndex),
        "index_append" -> (() => mhTimedFixture),
        "index_compact" -> (() => mhTimedFixture),
        "embedding_incremental" -> (() => embIndex),
        "embedding_refit" -> (() => embRefitFixture),
        "stream_dedup" -> (() => streamFixture),
        "lm_score" -> (() => refLm),
        "quality_score" -> (() => qcModel),
        "ivf_append" -> (() => ivfFixture),
        "ivf_refit" -> (() => ivfFixture),
        "recall_probe_ivf" -> (() => ivfFixture),
        "recall_probe_embedding" -> (() => embIndex),
        "asof_join" -> (() => evSynth),
        "range_join" -> (() => evSynth))

      val opFilter = args.lift(2).map(_.split(",").toSet)
      ops.filter(o => opFilter.forall(_.contains(o._1)))
        .foreach { case (name, body) =>
          fixtureOf.get(name).foreach(_.apply())
          val (sec, rows) = minOf2(spark)(body())
          println(f"""{"op":"$name","scale":$m,"docs":${baseDocs * m},"vecs":${baseVecs * m},"sec":$sec%.3f,"rows":$rows}""")
        }
      // the temporal-join fixture is 8× the corpus and only read inside
      // this multiplier's rows — reclaim it before the next multiplier
      // writes its own (at 100× it would otherwise sit in the scratch
      // dir for the rest of the sweep); the shard-write output is a
      // full corpus copy, same treatment
      graft.operators.IndexFs.deleteRecursively(spark, s"$dir/events_synth")
      graft.operators.IndexFs.deleteRecursively(spark, s"$dir/shards_out")
    }
    spark.stop()
  }
}
