package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  // A corpus with: an exact duplicate pair (1,2), a near-duplicate pair
  // (3,4: one word changed out of 12), and unrelated docs.
  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river"),
    (2L, "the quick brown fox jumps over the lazy dog near the river"),
    (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
    (5L, "completely different content about spark catalyst optimizer internals"),
    (6L, "yet another unrelated document mentioning shuffle partitions and joins")
  ).toDF("doc_id", "text")

  test("native word_shingles ≡ array_distinct(word_ngrams) on testdata") {
    import graft.functions.GraftFunctions._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val both = d.select(
      word_shingles(col("text"), 3).as("native"),
      array_distinct(word_ngrams(col("text"), 3)).as("hof"))
    // same SET and same first-occurrence ORDER (LinkedHashSet ≡
    // array_distinct's keep-first semantics)
    assert(both.filter(not(col("native") === col("hof"))).count() == 0)
    // n > token count → empty array, not null (both spellings)
    val tiny = spark.sql("SELECT 'one two' AS text")
    assert(tiny.select(word_shingles(col("text"), 3)).head.getSeq[String](0).isEmpty)
  }

  test("native minhash_signature: k slots, deterministic, sensitive to content") {
    import graft.functions.GraftFunctions._
    val sig = docs.select(word_shingles(col("text"), 3).as("sh"))
      .select(minhash_signature(col("sh"), 32).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(sig.forall(_.length == 32))
    assert(sig(0) == sig(1)) // identical docs → identical signatures
    assert(sig(0) != sig(4)) // different docs → different signatures
    // empty shingle set → all-sentinel signature (the LSH layer drops it)
    val empty = spark.sql("SELECT 'a b' AS text")
      .select(minhash_signature(word_shingles(col("text"), 3), 8))
      .head.getSeq[Long](0)
    assert(empty.forall(_ == Long.MaxValue))
  }

  test("exactDedup collapses identical texts, keeps lowest id") {
    val out = TextDedup.exactDedup(docs, "doc_id", "text")
    assert(out.count() == 5)
    val dup = out.filter(col("n_copies") === 2).collect()
    assert(dup.length == 1)
    assert(dup.head.getAs[Long]("canonical_id") == 1L)
  }

  test("jaccardPairs finds exact and near duplicates, not unrelated docs") {
    val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).intersect(Set(5L, 6L)).nonEmpty })
  }

  test("minhashLsh finds the same duplicate pairs as exact jaccard") {
    val exact = TextDedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.minhashLsh(docs, "doc_id", "text",
        n = 3, k = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verify stage guarantees precision (lsh ⊆ exact); recall on these
    // high-jaccard pairs should be total
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((1L, 2L)))
    assert(lsh.contains((3L, 4L)))
  }

  test("minhashLsh on testdata documents matches exact jaccard pairs (full recall)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = TextDedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.minhashLsh(d, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(exact.nonEmpty) // corpus has natural near-dups
    assert(lsh.size.toDouble / exact.size >= 0.9) // LSH recall ≥ 90%
  }

  test("minhashLsh bucket cap drops hot-bucket candidates, keeps exact behavior by default") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val unCapped = TextDedup.minhashLsh(d, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cap of 1: every multi-doc bucket skipped → no candidates at all
    val fullyCapped = TextDedup.minhashLsh(d, "doc_id", "text", threshold = 0.7,
      maxBucketSize = 1)
    assert(fullyCapped.count() == 0)
    // generous cap: identical to uncapped on this corpus
    val bigCap = TextDedup.minhashLsh(d, "doc_id", "text", threshold = 0.7,
        maxBucketSize = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bigCap == unCapped)
  }

  test("simhashPairs: identical docs at hamming 0; 1-token change on a long doc stays near") {
    // SimHash margins grow with token count: on a 100-token doc a single
    // substitution flips only the bits whose majority vote was balanced.
    val tokens = (0 until 100).map(i => s"tok$i")
    val longDocs = Seq(
      (1L, tokens.mkString(" ")),
      (2L, tokens.mkString(" ")),
      (3L, tokens.updated(50, "changed").mkString(" ")),
      (4L, (100 until 200).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = TextDedup.simhashPairs(longDocs, "doc_id", "text",
        chunks = 8, maxHamming = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 2L)).contains(0))
    assert(pairs.contains((1L, 3L))) // near-dup caught
    assert(!pairs.contains((1L, 4L))) // disjoint vocab not a near-dup
  }

  test("native simhash64Portable ≡ HOF spelling bit-for-bit on testdata") {
    import graft.functions.GraftFunctions._
    import graft.functions.ReferenceHofs.simhash64PortableHOF
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = d.select(
        simhash64Portable(split(col("text"), " ")).as("native"),
        simhash64PortableHOF(split(col("text"), " ")).as("hof"))
      .filter(not(col("native") === col("hof")))
    assert(diff.count() == 0)
    // incl. null elements (a SQL caller can produce them): both spell a
    // -1 vote per null token
    val withNull = spark.sql("SELECT array('a', CAST(NULL AS STRING), 'b') AS ts")
    val r = withNull.select(
      simhash64Portable(col("ts")).as("n"), simhash64PortableHOF(col("ts")).as("h")).head
    assert(r.getLong(0) == r.getLong(1))
  }

  test("simhashPairs hot-bucket cap: a giant identical cluster is skipped, not exploded") {
    // 20 identical docs share EVERY chunk bucket; cap below the cluster
    // size skips those buckets entirely (the documented trade), the
    // default keeps exact pigeonhole behavior.
    val cluster = (0 until 20).map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val capped = TextDedup.simhashPairs(cluster, "doc_id", "text",
      chunks = 4, maxHamming = 3, maxBucketSize = 10)
    assert(capped.count() == 0)
    val uncapped = TextDedup.simhashPairs(cluster, "doc_id", "text",
      chunks = 4, maxHamming = 3)
    assert(uncapped.count() == 20L * 19 / 2) // all pairs at hamming 0
  }

  test("simhash64Portable pairs agree with exact hamming derivation (pigeonhole exactness)") {
    // With maxHamming < chunks the chunk join is EXACT: its output must
    // equal brute-force hamming over the portable fingerprints.
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import graft.functions.GraftFunctions._
    val viaJoin = TextDedup.simhashPairs(d, "doc_id", "text",
        chunks = 4, maxHamming = 3, fingerprint = ts => simhash64Portable(ts))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val fp = d.select(col("doc_id"),
      simhash64Portable(split(col("text"), " ")).as("fp"))
    val brute = fp.select(col("doc_id").as("d1"), col("fp").as("fp1"))
      .join(fp.select(col("doc_id").as("d2"), col("fp").as("fp2")), col("d1") < col("d2"))
      .withColumn("hamming", hamming64(col("fp1"), col("fp2")))
      .filter(col("hamming") <= 3)
      .select("d1", "d2", "hamming")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(viaJoin == brute)
    assert(viaJoin.nonEmpty) // corpus has exact dups → hamming-0 pairs exist
  }

  test("embeddingNearDupPairsLsh equals the exact pairwise result on testdata") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = asSet(TextDedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.5))
    val lsh = asSet(TextDedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding", 0.5))
    assert(lsh == exact) // verify stage ⇒ precision; tables×bits tuned ⇒ recall
    // empty corpus → empty result, not a crash (dim inference path)
    assert(TextDedup.embeddingNearDupPairsLsh(
      emb.limit(0), "vec_id", "embedding", 0.5).count() == 0)
  }

  test("embeddingNearDupPairsLsh: shuffle-verify branch (caller knobs) ≡ broadcast-verify defaults") {
    // Caller-supplied bits+numPartitions route the exact-cosine verify
    // through the repartitioned shuffle joins (the >32 MB / 100 TB plan)
    // AND skip the nVecs count; with knob values equal to what the
    // defaults compute, the pair set must be identical — only the
    // physical verify plan differs.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val n = emb.count()
    val bits = TextDedup.srpBitsFor(n)
    val tables = TextDedup.srpTablesFor(bits, 0.5)
    val shuffled = TextDedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding",
      threshold = 0.5, bits = bits, tables = tables,
      numPartitions = Some(graft.GraftSession.partitionsFor(spark, n * tables)))
    assert(asSet(shuffled) ==
      asSet(TextDedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding", 0.5)))
  }

  test("connectedComponents merges chains into one cluster, keeps disjoint clusters apart") {
    import spark.implicits._
    // path 1-2-3-4-5, a separate pair 10-11, and a triangle 20-21-22
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)
    ).toDF("d1", "d2")
    // both strategies must agree: driver union-find (small-input path)
    // and the distributed star-contraction loop (forced via limit 0)
    def run(limit: Long) = TextDedup.connectedComponents(
        pairs, driverUnionFindLimit = limit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccDriver = run(Long.MaxValue)
    val ccDist = run(0L)
    assert(ccDriver == ccDist)
    val cc = ccDriver
    assert((1L to 5L).forall(cc(_) == 1L))   // chain fully merged
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(cc(_) == 20L))
    assert(cc.size == 10) // only nodes that appear in pairs
    // pairwise keep-first would under-merge the chain: dropping d2 of
    // each pair removes 2,3,4,5 correctly here, but via FOUR pair
    // decisions — components give the same answer in one clustering,
    // and generalize to cases where the pair list is not transitive
  }

  test("connectedComponents preserves non-Long id types (string/int route past the driver path)") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, StringType}
    // String ids: the driver union-find reads primitive longs, so these
    // must route to the type-generic distributed loop (the LongType gate)
    // and come back with the INPUT id type, not a cast or a crash.
    val sPairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("d1", "d2")
    val sc = TextDedup.connectedComponents(sPairs) // default limit would pick driver path
    assert(sc.schema("node").dataType == StringType)
    assert(sc.schema("component").dataType == StringType)
    val sm = sc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sm == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    // Int ids: same route, same components, IntegerType preserved.
    val iPairs = Seq((1, 2), (2, 3), (10, 11)).toDF("d1", "d2")
    val ic = TextDedup.connectedComponents(iPairs)
    assert(ic.schema("node").dataType == IntegerType)
    val im = ic.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(im == Map(1 -> 1, 2 -> 1, 3 -> 1, 10 -> 10, 11 -> 10))
  }

  test("connectedComponents fails LOUDLY when the alternation budget is exhausted") {
    import spark.implicits._
    // A 1-alternation budget on a 64-node chain cannot reach the star-
    // forest fixed point AND observe it — the loop must throw, not
    // silently return truncated (wrong) labels, on the distributed path
    // (driverUnionFindLimit = 0 forces it; the driver union-find has no
    // rounds budget to exhaust).
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalArgumentException] {
      TextDedup.connectedComponents(chain, maxIter = 1, driverUnionFindLimit = 0L)
        .collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponents: star-contraction merges a 300-deep chain within the default budget") {
    import spark.implicits._
    // Diameter 299 — min-label propagation (the previous algorithm)
    // would need 300 rounds and the old default budget of 20 threw
    // here. Large-star/small-star contracts it in O(log n) alternations,
    // so the DEFAULT budget must now converge and label every node 1.
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("d1", "d2")
    val cc = TextDedup.connectedComponents(chain, driverUnionFindLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 300 && cc.values.forall(_ == 1L))
  }

  test("connectedComponents: distributed path matches driver union-find on a seeded random graph") {
    import spark.implicits._
    // 400 edges over ~300 nodes from a fixed-seed generator: many
    // components of irregular shape (isolated pairs, bushy stars,
    // mid-length chains). Both strategies must produce IDENTICAL labels
    // — the strongest equivalence evidence short of exhaustive search,
    // and it covers merge orders the hand-built cases never hit.
    val rnd = new scala.util.Random(20260812L)
    val pairs = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .toDF("d1", "d2")
    def run(limit: Long) = TextDedup.connectedComponents(
        pairs, driverUnionFindLimit = limit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = run(Long.MaxValue)
    val dist = run(0L)
    assert(driver == dist)
    // every label is its component's minimum: no node maps below itself
    // to a foreign component, and each component id labels itself
    assert(dist.forall { case (n, c) => c <= n && dist(c) == c })
  }

  test("minhashLshAgainstIndex: batch-vs-index pairs == exact cross Jaccard; parquet round-trip; both regimes agree") {
    import spark.implicits._
    // corpus of distinct sentences; three planted near-dups CROSS the
    // index/batch split (one appended word ⇒ Jaccard ≈ 0.9+), one
    // planted near-dup INSIDE the index (must NOT be reported — this
    // operator dedups batch-vs-index only)
    def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
    val indexDocs = ((0L until 20L).map(i => (i * 2, sent(i.toInt))) :+
      (100L, sent(0) + " extra")).toDF("doc_id", "text") // 100~0: in-index dup
    val newDocs = Seq(
      (1L, sent(1) + " tail"),   // ~ index doc 2
      (3L, sent(5) + " tail"),   // ~ index doc 10
      (5L, sent(9) + " tail"),   // ~ index doc 18
      (7L, sent(999))            // unique — no match
    ).toDF("doc_id", "text")
    val idx = TextDedup.buildMinhashIndex(indexDocs, "doc_id", "text")
    def asPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = TextDedup.minhashLshAgainstIndex(
      newDocs, "doc_id", "text", idx, threshold = 0.7)
    assert(asPairs(direct) == Set((1L, 2L), (3L, 10L), (5L, 18L)))
    // the broadcast-regime plan generates candidates through broadcast
    // joins (index side scan-only — the incremental contract)
    assert(direct.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // parquet round-trip: loaded index ≡ in-memory index, params carried
    val dir = java.nio.file.Files.createTempDirectory("mh_idx").toString
    TextDedup.saveMinhashIndex(indexDocs, "doc_id", "text", dir)
    val loaded = TextDedup.loadMinhashIndex(spark, dir)
    assert((loaded.n, loaded.k, loaded.numBands) == (idx.n, idx.k, idx.numBands))
    assert(asPairs(TextDedup.minhashLshAgainstIndex(
      newDocs, "doc_id", "text", loaded, threshold = 0.7)) == asPairs(direct))
    // symmetric (shuffle) regime forced via broadcastMaxNewDocs = 0:
    // identical pairs through the repartitioned plan
    assert(asPairs(TextDedup.minhashLshAgainstIndex(
      newDocs, "doc_id", "text", loaded, threshold = 0.7,
      broadcastMaxNewDocs = 0L)) == asPairs(direct))
    // BYTE gate: a batch small in COUNT but over the byte bound must
    // also take the shuffle plan (long documents would broadcast GBs)
    assert(asPairs(TextDedup.minhashLshAgainstIndex(
      newDocs, "doc_id", "text", loaded, threshold = 0.7,
      broadcastMaxNewBytes = 0L)) == asPairs(direct))
    // hot-bucket fallback: candidate count over the bound degrades the
    // verify stage to repartitioned joins instead of broadcasting a
    // corpus-scale "match" set — same pairs either way
    assert(asPairs(TextDedup.minhashLshAgainstIndex(
      newDocs, "doc_id", "text", loaded, threshold = 0.7,
      maxBroadcastCandidates = 0L)) == asPairs(direct))
  }

  test("appendToMinhashIndex: the next batch sees earlier accepted docs; append ≡ rebuild") {
    import spark.implicits._
    def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
    val baseDocs = (0L until 20L).map(i => (i * 2, sent(i.toInt))).toDF("doc_id", "text")
    // batch1: one doc near-duplicating the BASE corpus, one novel doc
    val batch1 = Seq(
      (101L, sent(5) + " tail"), // ~ base doc 10
      (103L, sent(500))          // novel — enters the index via append
    ).toDF("doc_id", "text")
    // batch2 near-duplicates batch1's NOVEL doc — invisible to the base
    // index, visible only if the append actually landed
    val batch2 = Seq((201L, sent(500) + " tail")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_append").toString
    TextDedup.saveMinhashIndex(baseDocs, "doc_id", "text", dir)
    def asPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val b1 = TextDedup.minhashLshAgainstIndex(
      batch1, "doc_id", "text", TextDedup.loadMinhashIndex(spark, dir), threshold = 0.7)
    assert(asPairs(b1) == Set((101L, 10L)))
    // fold the whole batch in (a real pipeline would drop 101 first —
    // keeping it also checks appended near-dups of base docs surface)
    TextDedup.appendToMinhashIndex(batch1, "doc_id", "text", dir, "b1")

    // collected ONCE: later in-place compaction rewrites the files a
    // lazy plan would re-scan
    val b2 = TextDedup.minhashLshAgainstIndex(
      batch2, "doc_id", "text", TextDedup.loadMinhashIndex(spark, dir), threshold = 0.7)
    val b2Rows = b2.collect().toSet
    val b2Pairs = asPairs(b2)
    assert(b2Pairs == Set((201L, 103L))) // the APPENDED doc, not a base one
    // append ≡ rebuild: a fresh index over base ∪ batch1 yields the
    // exact same result relation (values included) for batch2
    val rebuilt = java.nio.file.Files.createTempDirectory("mh_idx_rebuild").toString
    TextDedup.saveMinhashIndex(
      baseDocs.union(batch1), "doc_id", "text", rebuilt)
    val viaRebuild = TextDedup.minhashLshAgainstIndex(
      batch2, "doc_id", "text", TextDedup.loadMinhashIndex(spark, rebuilt), threshold = 0.7)
    assert(b2Rows == viaRebuild.collect().toSet)
    // meta params survive the append untouched
    val idx = TextDedup.loadMinhashIndex(spark, dir)
    assert((idx.n, idx.k, idx.numBands) == (3, 32, 8))

    // the same rows appended again under a second, distinct tag:
    // duplicate index rows widen candidates but results stay exact…
    TextDedup.appendToMinhashIndex(batch1, "doc_id", "text", dir, "b1-again")
    val replayed = TextDedup.loadMinhashIndex(spark, dir)
    assert(replayed.bands.count() > idx.bands.count()) // dups really landed
    assert(asPairs(TextDedup.minhashLshAgainstIndex(
      batch2, "doc_id", "text", replayed, threshold = 0.7)) == b2Pairs)
    // …and compaction collapses them back to EXACTLY the rebuilt index's
    // row multiset, without touching any document text
    TextDedup.compactMinhashIndex(spark, dir)
    val compacted = TextDedup.loadMinhashIndex(spark, dir)
    val rebuiltIdx = TextDedup.loadMinhashIndex(spark, rebuilt)
    assert(compacted.bands.count() == rebuiltIdx.bands.count())
    assert(compacted.shingles.count() == rebuiltIdx.shingles.count())
    assert(compacted.bands.exceptAll(rebuiltIdx.bands).isEmpty &&
      rebuiltIdx.bands.exceptAll(compacted.bands).isEmpty)
    assert(asPairs(TextDedup.minhashLshAgainstIndex(
      batch2, "doc_id", "text", compacted, threshold = 0.7)) == b2Pairs)
  }

  test("tagged appends are exactly-once, excludable at load, and survive a concurrent compact") {
    import spark.implicits._
    def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
    val baseDocs = (0L until 20L).map(i => (i * 2, sent(i.toInt))).toDF("doc_id", "text")
    val batch1 = Seq((101L, sent(500)), (103L, sent(501))).toDF("doc_id", "text")
    val batch2 = Seq((201L, sent(600))).toDF("doc_id", "text")
    graft.FaultFs.install(spark.sparkContext.hadoopConfiguration)
    val local = java.nio.file.Files.createTempDirectory("mh_idx_tagged").toString
    val (dir, fault) = (graft.FaultFs.uri(local), graft.FaultFs.scope(local))
    TextDedup.saveMinhashIndex(baseDocs, "doc_id", "text", dir)
    val baseBands = TextDedup.loadMinhashIndex(spark, dir).bands.collect().toSet

    // a crashed earlier attempt left a partial staging dir — the retry
    // must overwrite it and land cleanly
    IndexFs.fs(spark, dir).mkdirs(new org.apache.hadoop.fs.Path(s"$dir/staged/b1/bands"))
    assert(TextDedup.appendToMinhashIndex(batch1, "doc_id", "text", dir,
      commitTag = "b1"))
    assert(IndexFs.listDirNames(spark, s"$dir/commits") == Seq("b1"))
    assert(!IndexFs.exists(spark, s"$dir/staged/b1")) // staging retired by the commit rename
    val afterB1 = TextDedup.loadMinhashIndex(spark, dir).bands.collect().toSet
    assert(afterB1.size > baseBands.size)

    // replaying the same tag writes NOTHING (returns false, row-set identical)
    assert(!TextDedup.appendToMinhashIndex(batch1, "doc_id", "text", dir,
      commitTag = "b1"))
    assert(TextDedup.loadMinhashIndex(spark, dir).bands.collect().toSet == afterB1)

    // excluding the tag reads the index exactly as it was before the append
    assert(TextDedup.loadMinhashIndex(spark, dir, excludeCommits = Set("b1"))
      .bands.collect().toSet == baseBands)

    // a tagged append landing mid-compact (after the commit snapshot,
    // just before the first publish write — the window where a wholesale
    // swap of the index dir would lose rows) SURVIVES: the compact folds
    // and deletes only the commits it listed
    fault.before("mkdirs", _.endsWith("/bands.tmp-publish")) {
      TextDedup.appendToMinhashIndex(batch2, "doc_id", "text", dir,
        commitTag = "b2")
      ()
    }
    TextDedup.compactMinhashIndex(spark, dir)
    assert(fault.mutations.nonEmpty)
    assert(IndexFs.listDirNames(spark, s"$dir/commits") == Seq("b2")) // b1 folded, b2 kept
    val afterCompact = TextDedup.loadMinhashIndex(spark, dir)
    val ids = afterCompact.shingles.select("id").as[Long].collect().toSet
    assert(Set(101L, 103L, 201L).subsetOf(ids)) // both batches fully present
    // compacted base = the pre-compact rows exactly once; full load =
    // that base plus b2's commit rows
    assert(TextDedup.loadMinhashIndex(spark, dir, excludeCommits = Set("b2"))
      .bands.collect().toSet == afterB1)
    assert(afterCompact.bands.collect().toSet.size == afterB1.size +
      spark.read.parquet(s"$dir/commits/b2/bands").collect().length)
  }

  test("embeddingNearDupAgainstIndex: batch-vs-index pairs, parquet round-trip, all regimes agree") {
    import spark.implicits._
    def vec(i: Int, nudge: Float = 0f): Seq[Float] = {
      val r = new scala.util.Random(i)
      val v = Seq.fill(16)(r.nextGaussian().toFloat)
      if (nudge == 0f) v else v.updated(0, v.head + nudge)
    }
    val indexVecs = (0L until 20L).map(i => (i * 2, vec(i.toInt))).toDF("vec_id", "embedding")
    val batch = Seq(
      (101L, vec(1, 0.01f)),  // ~ index vec 2
      (103L, vec(5, 0.01f)),  // ~ index vec 10
      (105L, vec(999))        // unique — no match at 0.9
    ).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("emb_idx").toString
    TextDedup.saveEmbeddingIndex(indexVecs, "vec_id", "embedding", dir, threshold = 0.9)
    val loaded = TextDedup.loadEmbeddingIndex(spark, dir)
    def asPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = TextDedup.embeddingNearDupAgainstIndex(
      batch, "vec_id", "embedding", loaded, threshold = 0.9)
    assert(asPairs(direct) == Set((101L, 2L), (103L, 10L)))
    // pairs AND cosines must equal the exact batch×index predicate —
    // the loaded index is bit-faithful input to the verify
    val exact = batch.select(col("vec_id").as("new_id"), col("embedding").as("v1"))
      .crossJoin(indexVecs.select(col("vec_id").as("index_id"), col("embedding").as("v2")))
      .withColumn("cosine", graft.functions.GraftFunctions.cosine_similarity(col("v1"), col("v2")))
      .filter(col("cosine") >= 0.9)
      .select(col("new_id"), col("index_id"),
        graft.functions.GraftFunctions.roundPortable(col("cosine"), 6).as("cosine"))
    assert(direct.collect().toSet == exact.collect().toSet)
    // forced shuffle regime (count gate) and hot-bucket fallback
    // (candidate cap) produce identical relations
    assert(asPairs(TextDedup.embeddingNearDupAgainstIndex(
      batch, "vec_id", "embedding", loaded, threshold = 0.9,
      broadcastMaxNewVecs = 0L)) == asPairs(direct))
    assert(asPairs(TextDedup.embeddingNearDupAgainstIndex(
      batch, "vec_id", "embedding", loaded, threshold = 0.9,
      maxBroadcastCandidates = 0L)) == asPairs(direct))
    // meta round-trip carries the plane family
    assert(loaded.dim == 16 && loaded.seed == 42L &&
      loaded.bits >= 1 && loaded.tables >= 1)

    // append: a second batch near-duplicating batch-1's NOVEL vector
    // matches only if the append landed (the crawl loop for vectors)
    TextDedup.appendToEmbeddingIndex(batch, "vec_id", "embedding", dir, "b1")
    val batch2 = Seq((201L, vec(999, 0.01f))).toDF("vec_id", "embedding")
    val afterAppend = TextDedup.loadEmbeddingIndex(spark, dir)
    // collected ONCE: the plan lazily scans index files that the
    // in-place compaction below rewrites
    val b2Pairs = asPairs(TextDedup.embeddingNearDupAgainstIndex(
      batch2, "vec_id", "embedding", afterAppend, threshold = 0.9))
    assert(b2Pairs == Set((201L, 105L)))
    // append the same rows under a second tag, compact, and the index
    // row multiset returns to exactly one copy per (id, bucket) —
    // results unchanged throughout.
    // (Counts are captured BEFORE compaction: the in-place rewrite
    // deletes the files earlier DataFrames lazily point at.)
    val cleanBuckets = afterAppend.buckets.count()
    val cleanVectors = afterAppend.vectors.count()
    TextDedup.appendToEmbeddingIndex(batch, "vec_id", "embedding", dir, "b1-again")
    val replayed = TextDedup.loadEmbeddingIndex(spark, dir)
    assert(replayed.buckets.count() > cleanBuckets)
    assert(asPairs(TextDedup.embeddingNearDupAgainstIndex(
      batch2, "vec_id", "embedding", replayed, threshold = 0.9)) == b2Pairs)
    TextDedup.compactEmbeddingIndex(spark, dir)
    val compacted = TextDedup.loadEmbeddingIndex(spark, dir)
    assert(compacted.buckets.count() == cleanBuckets)
    assert(compacted.vectors.count() == cleanVectors)
    assert(asPairs(TextDedup.embeddingNearDupAgainstIndex(
      batch2, "vec_id", "embedding", compacted, threshold = 0.9)) == b2Pairs)
  }

  test("refitEmbeddingIndex: re-sized planes, exact vector set, tombstoned tags, results preserved") {
    import spark.implicits._
    def vec(i: Int, nudge: Float = 0f): Seq[Float] = {
      val r = new scala.util.Random(i)
      val v = Seq.fill(16)(r.nextGaussian().toFloat)
      if (nudge == 0f) v else v.updated(0, v.head + nudge)
    }
    // 100 index vectors: big enough that srpBitsFor(n) > 1, so the
    // refit's re-sizing is observable (a 20-vector corpus auto-sizes
    // to the same 1 bit the build pinned)
    val indexVecs = (0L until 100L).map(i => (i * 2, vec(i.toInt))).toDF("vec_id", "embedding")
    val batch = Seq(
      (201L, vec(1, 0.01f)), (203L, vec(5, 0.01f)), (205L, vec(999))
    ).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("emb_refit").toString
    // undersized on purpose: bits sized as if for a tiny corpus — the
    // drifted state a refit exists to reset
    TextDedup.saveEmbeddingIndex(indexVecs, "vec_id", "embedding", dir,
      threshold = 0.9, bits = 1)
    assert(TextDedup.appendToEmbeddingIndex(batch, "vec_id", "embedding", dir,
      commitTag = "b1"))
    val before = TextDedup.loadEmbeddingIndex(spark, dir)
    val vecsBefore = before.vectors.collect().toSet
    def asPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probe = Seq((301L, vec(999, 0.01f))).toDF("vec_id", "embedding")
    val pairsBefore = asPairs(TextDedup.embeddingNearDupAgainstIndex(
      probe, "vec_id", "embedding", before, threshold = 0.9))
    assert(pairsBefore == Set((301L, 205L)))

    TextDedup.refitEmbeddingIndex(spark, dir, threshold = 0.9)
    val after = TextDedup.loadEmbeddingIndex(spark, dir)
    // the family was genuinely re-sized...
    assert(after.bits > before.bits,
      s"expected re-sized planes, got bits ${before.bits} -> ${after.bits}")
    // ...but the persisted plane SEED survives by default (a refit
    // re-sizes, it doesn't silently rotate a custom seed)
    assert(after.seed == before.seed)
    // vector set preserved exactly; buckets consistent with the new
    // family (every vector appears in exactly `tables` buckets)
    assert(after.vectors.collect().toSet == vecsBefore)
    assert(after.buckets.count() == vecsBefore.size.toLong * after.tables)
    // commit folded + tombstoned: replay is a no-op forever
    assert(IndexFs.listDirNames(spark, s"$dir/commits").isEmpty)
    assert(!TextDedup.appendToEmbeddingIndex(batch, "vec_id", "embedding", dir,
      commitTag = "b1"))
    assert(TextDedup.loadEmbeddingIndex(spark, dir).vectors.collect().toSet
      == vecsBefore)
    // probing under the re-sized family preserves the result
    assert(asPairs(TextDedup.embeddingNearDupAgainstIndex(
      probe, "vec_id", "embedding", after, threshold = 0.9)) == pairsBefore)
  }

  test("refitEmbeddingIndex measurably decrowds buckets after 10x growth") {
    import spark.implicits._
    // planes sized for a 20-vector corpus, then grown 10×: per-bucket
    // population explodes (bits stayed at the 20-vector size), which
    // is the documented recall/verify-cost hazard — crowded buckets
    // hit candidate caps earlier and quadratic in-bucket verify work
    // grows. The refit re-sizes bits to the grown count and must cut
    // the mean bucket population. Seeded → deterministic.
    def vec(i: Int): Seq[Float] = {
      val r = new scala.util.Random(i)
      Seq.fill(16)(r.nextGaussian().toFloat)
    }
    val small = (0L until 20L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val growth = (100L until 280L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("emb_crowd").toString
    TextDedup.saveEmbeddingIndex(small, "vec_id", "embedding", dir, threshold = 0.9)
    TextDedup.appendToEmbeddingIndex(growth, "vec_id", "embedding", dir,
      commitTag = "growth")
    def meanBucketPop(): Double = {
      val idx = TextDedup.loadEmbeddingIndex(spark, dir)
      val pops = idx.buckets.groupBy("t", "bkt").count()
        .collect().map(_.getLong(2).toDouble)
      pops.sum / pops.length
    }
    val bitsBefore = TextDedup.loadEmbeddingIndex(spark, dir).bits
    val before = meanBucketPop()
    TextDedup.refitEmbeddingIndex(spark, dir, threshold = 0.9)
    val after = TextDedup.loadEmbeddingIndex(spark, dir)
    assert(after.bits > bitsBefore,
      s"refit must widen the bucket key: bits $bitsBefore -> ${after.bits}")
    val afterPop = meanBucketPop()
    assert(afterPop < before * 0.6,
      s"refit should measurably decrowd buckets: mean pop $before -> $afterPop")
  }

  test("refitEmbeddingIndex: unchanged family early-exits without rewriting relations; threshold defaults from meta") {
    import spark.implicits._
    def vec(i: Int): Seq[Float] = {
      val r = new scala.util.Random(i)
      Seq.fill(16)(r.nextGaussian().toFloat)
    }
    val vecs = (0L until 50L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("emb_noop_refit").toString
    TextDedup.saveEmbeddingIndex(vecs, "vec_id", "embedding", dir, threshold = 0.9)
    val metaBefore = spark.read.parquet(s"$dir/meta").head()
    assert(metaBefore.getAs[Double]("threshold") == 0.9,
      "save must persist the threshold in meta")
    // (file name, mtime) fingerprints of the physical relation dirs: a
    // rewrite lands NEW part-file names, a no-op leaves both untouched
    def relState(name: String): Set[(String, Long)] = {
      val p = s"$dir/$name"
      IndexFs.fs(spark, p).listStatus(new org.apache.hadoop.fs.Path(p))
        .map(s => (s.getPath.getName, s.getModificationTime)).toSet
    }
    val vecsBefore = relState("vectors")
    val bktsBefore = relState("buckets")
    // no threshold passed: defaults from meta; same vector count ⇒ same
    // resolved family ⇒ the re-bucket must be skipped entirely
    TextDedup.refitEmbeddingIndex(spark, dir)
    assert(relState("vectors") == vecsBefore && relState("buckets") == bktsBefore,
      "an unchanged-family refit must not rewrite the relations")
    assert(spark.read.parquet(s"$dir/meta").head() == metaBefore)
    // an explicit seed change IS a family change: the rebuild runs and
    // the meta-persisted threshold still governs the table re-derivation
    TextDedup.refitEmbeddingIndex(spark, dir, seedOverride = 7L)
    assert(relState("vectors") != vecsBefore,
      "a changed family must rewrite the relations")
    val after = TextDedup.loadEmbeddingIndex(spark, dir)
    assert(after.seed == 7L)
    assert(after.tables == TextDedup.srpTablesFor(after.bits, 0.9))
    assert(spark.read.parquet(s"$dir/meta").head()
      .getAs[Double]("threshold") == 0.9,
      "the refit must carry the persisted threshold forward")
  }

  test("refitEmbeddingIndex: unchanged family with landed commits folds them at compaction cost") {
    import spark.implicits._
    def vec(i: Int): Seq[Float] = {
      val r = new scala.util.Random(i)
      Seq.fill(16)(r.nextGaussian().toFloat)
    }
    val base = (0L until 20L).map(i => (i * 2, vec(i.toInt))).toDF("vec_id", "embedding")
    val batch = (100L until 110L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("emb_fold_refit").toString
    // explicit family: the post-append count must not drift the resolved
    // bits, so the early-exit path (not the rebuild) is what folds
    TextDedup.saveEmbeddingIndex(base, "vec_id", "embedding", dir,
      threshold = 0.9, bits = 2, tables = 3)
    assert(TextDedup.appendToEmbeddingIndex(batch, "vec_id", "embedding", dir,
      commitTag = "b1"))
    val unionVecs = TextDedup.loadEmbeddingIndex(spark, dir).vectors.collect().toSet
    TextDedup.refitEmbeddingIndex(spark, dir, bits = 2, tables = 3)
    // folded: commit dirs retired, tag tombstoned, vector set preserved
    assert(IndexFs.listDirNames(spark, s"$dir/commits").isEmpty)
    assert(!TextDedup.appendToEmbeddingIndex(batch, "vec_id", "embedding", dir,
      commitTag = "b1"))
    val after = TextDedup.loadEmbeddingIndex(spark, dir)
    assert(after.vectors.collect().toSet == unionVecs)
    assert(after.bits == 2 && after.tables == 3)
  }

  test("a crashed embedding refit is loud at every entry point and a re-run converges") {
    import spark.implicits._
    def vec(i: Int): Seq[Float] = {
      val r = new scala.util.Random(i)
      Seq.fill(16)(r.nextGaussian().toFloat)
    }
    val vecs = (0L until 30L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("emb_crash_refit").toString
    TextDedup.saveEmbeddingIndex(vecs, "vec_id", "embedding", dir, threshold = 0.9)
    val vecsBefore = TextDedup.loadEmbeddingIndex(spark, dir).vectors.collect().toSet
    // simulate a refit that died mid-publish: the marker is what the
    // crash window leaves behind
    IndexFs.beginRefit(spark, dir)
    intercept[IllegalStateException] { TextDedup.loadEmbeddingIndex(spark, dir) }
    intercept[IllegalStateException] { TextDedup.compactEmbeddingIndex(spark, dir) }
    intercept[IllegalStateException] {
      TextDedup.appendToEmbeddingIndex(vecs, "vec_id", "embedding", dir, "c1")
    }
    // the documented recovery: re-run the refit. The marker forces the
    // full rebuild (family metadata can't be trusted to describe the
    // bucket rows), which republishes family + assignments together.
    TextDedup.refitEmbeddingIndex(spark, dir)
    val after = TextDedup.loadEmbeddingIndex(spark, dir) // loud no more
    assert(after.vectors.collect().toSet == vecsBefore)
    // a full save also supersedes a crashed refit
    IndexFs.beginRefit(spark, dir)
    TextDedup.saveEmbeddingIndex(vecs, "vec_id", "embedding", dir, threshold = 0.9)
    assert(TextDedup.loadEmbeddingIndex(spark, dir)
      .vectors.collect().toSet == vecsBefore)
  }

  test("refitEmbeddingIndex on a pre-threshold meta requires an explicit threshold") {
    import spark.implicits._
    def vec(i: Int): Seq[Float] = {
      val r = new scala.util.Random(i)
      Seq.fill(16)(r.nextGaussian().toFloat)
    }
    val vecs = (0L until 30L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("emb_legacy_meta").toString
    TextDedup.saveEmbeddingIndex(vecs, "vec_id", "embedding", dir, threshold = 0.9)
    // rewrite meta WITHOUT the threshold column — an index written
    // before r13 persisted it
    val m = spark.read.parquet(s"$dir/meta").head()
    spark.range(1)
      .select(lit(m.getAs[Int]("bits")).as("bits"),
        lit(m.getAs[Int]("tables")).as("tables"),
        lit(m.getAs[Long]("seed")).as("seed"), lit(m.getAs[Int]("dim")).as("dim"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val e = intercept[IllegalArgumentException] {
      TextDedup.refitEmbeddingIndex(spark, dir, seedOverride = 7L)
    }
    assert(e.getMessage.contains("threshold"))
    // explicit threshold still works on the legacy meta
    TextDedup.refitEmbeddingIndex(spark, dir, threshold = 0.9, seedOverride = 7L)
    assert(TextDedup.loadEmbeddingIndex(spark, dir).seed == 7L)
  }

  test("crossContainmentPairs flags embedded eval docs; corpus side never shuffles for candidates") {
    import spark.implicits._
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"), // embeds eval 1
      (101L, "one two three four five six seven eight nine"),  // unrelated
      (102L, "alpha beta gamma something else entirely here")  // partial overlap
    ).toDF("doc_id", "text")
    val eval = Seq(
      (1L, "beta gamma delta epsilon"), // inside 100: containment 1.0
      (2L, "completely disjoint words herein")
    ).toDF("doc_id", "text")
    val hits = TextDedup.crossContainmentPairs(
        corpus, "doc_id", "text", eval, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // eval 1 has 2 distinct 3-gram shingles, both inside corpus 100
    assert(hits((100L, 1L)) == 1.0)
    assert(!hits.keySet.exists(_._2 == 2L)) // clean eval doc stays clean
    assert(!hits.contains((101L, 1L)))      // unrelated corpus doc too
    // the asymmetry is the point: symmetric jaccard of (100, eval 1)
    // would be 2/6 — under a 0.5 bar the leak would slip through
    // 100 TB shape: ONE shuffle total (the counting aggregate) — the
    // eval index and sizes ride broadcasts, the corpus stays in place
    val plan = TextDedup.crossContainmentPairs(
        corpus, "doc_id", "text", eval, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval index not broadcast:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 1, s"expected only the counting aggregate to shuffle, got $shuffles:\n$plan")
  }

  test("srpTablesFor holds the per-pair recall target as srpBitsFor widens buckets") {
    def recall(bits: Int, tables: Int, threshold: Double): Double = {
      val p = 1.0 - math.acos(threshold) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, bits), tables)
    }
    // the two knobs compose: for any corpus-sized bits, the table count
    // keeps a-priori per-pair recall >= 1 - 1e-4 (until the cap)
    for (bits <- 1 to 10; thr <- Seq(0.5, 0.7, 0.9)) {
      val t = TextDedup.srpTablesFor(bits, thr)
      if (t < 256) assert(recall(bits, t, thr) >= 1.0 - 1e-4,
        s"bits=$bits thr=$thr tables=$t recall=${recall(bits, t, thr)}")
    }
    // more bits (bigger corpora) -> at least as many tables
    val seq = (1 to 12).map(TextDedup.srpTablesFor(_, 0.9))
    assert(seq == seq.sorted)
    // unattainable points hit the documented cap instead of exploding
    assert(TextDedup.srpTablesFor(12, 0.5) == 256)
    assert(TextDedup.srpTablesFor(30, 0.99, maxTables = 64) <= 64)
  }

  test("tombstones: append → compact → replay is a no-op; bounded committed/; save* re-opens the tag space") {
    import spark.implicits._
    def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
    val baseDocs = (0L until 20L).map(i => (i * 2, sent(i.toInt))).toDF("doc_id", "text")
    val batch1 = Seq((101L, sent(500))).toDF("doc_id", "text")
    graft.FaultFs.install(spark.sparkContext.hadoopConfiguration)
    val local = java.nio.file.Files.createTempDirectory("mh_idx_tomb").toString
    val (dir, fault) = (graft.FaultFs.uri(local), graft.FaultFs.scope(local))
    TextDedup.saveMinhashIndex(baseDocs, "doc_id", "text", dir)
    assert(TextDedup.appendToMinhashIndex(batch1, "doc_id", "text", dir,
      commitTag = "b1"))
    val full = TextDedup.loadMinhashIndex(spark, dir).bands.collect().toSet

    // compact folds b1 into the base; replay protection must OUTLIVE the
    // commit dir (idempotence cannot key on the dir itself). A replay
    // runs INSIDE the window between markCommitted and the commit-dir
    // delete — no instant exists at which the landed tag reads as
    // uncommitted.
    var windowChecked = false
    var tag = ""
    fault.before("delete", p => {
      val hit = p.contains("/commits/")
      if (hit) tag = p.split('/').last
      hit
    }) {
      assert(tag == "b1")
      assert(IndexFs.isCommitted(spark, dir, "b1"))
      assert(!TextDedup.appendToMinhashIndex(batch1, "doc_id", "text", dir,
        commitTag = "b1"))
      windowChecked = true
    }
    TextDedup.compactIndex(spark, dir, Seq("bands", "shingles"), n => Seq(4, 4))
    assert(windowChecked)
    assert(IndexFs.listDirNames(spark, s"$dir/commits").isEmpty)
    // post-fold replay: still false, row-set identical
    assert(!TextDedup.appendToMinhashIndex(batch1, "doc_id", "text", dir,
      commitTag = "b1"))
    assert(TextDedup.loadMinhashIndex(spark, dir).bands.collect().toSet == full)
    // the compact's own fold already bounded committed/ to ONE file, and
    // recognition survives further compactions
    def committedFiles() = {
      val f = IndexFs.fs(spark, dir)
      val p = new org.apache.hadoop.fs.Path(s"$dir/committed")
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).map(_.getPath.getName).toSeq.sorted
    }
    assert(committedFiles() == Seq("_folded-1"))
    TextDedup.compactMinhashIndex(spark, dir)
    assert(committedFiles() == Seq("_folded-1"))
    assert(!TextDedup.appendToMinhashIndex(batch1, "doc_id", "text", dir,
      commitTag = "b1"))

    // a save* FULL REBUILD wipes the whole tag namespace: a rebuilt
    // index must accept tags the previous incarnation had folded
    TextDedup.saveMinhashIndex(baseDocs, "doc_id", "text", dir)
    assert(committedFiles().isEmpty)
    assert(TextDedup.appendToMinhashIndex(batch1, "doc_id", "text", dir,
      commitTag = "b1"))
  }

  test("tombstones: the embedding-index twin survives its compaction") {
    import spark.implicits._
    def vec(i: Int): Seq[Float] = {
      val r = new scala.util.Random(i)
      Seq.fill(16)(r.nextGaussian().toFloat)
    }
    val base = (0L until 20L).map(i => (i * 2, vec(i.toInt))).toDF("vec_id", "embedding")
    val batch = Seq((101L, vec(500))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("emb_idx_tomb").toString
    TextDedup.saveEmbeddingIndex(base, "vec_id", "embedding", dir, threshold = 0.9)
    assert(TextDedup.appendToEmbeddingIndex(batch, "vec_id", "embedding", dir,
      commitTag = "b1"))
    TextDedup.compactEmbeddingIndex(spark, dir)
    assert(IndexFs.listDirNames(spark, s"$dir/commits").isEmpty)
    val after = TextDedup.loadEmbeddingIndex(spark, dir)
    val buckets = after.buckets.collect().toSet
    assert(buckets.exists(_.getLong(0) == 101L)) // the fold kept the batch
    assert(!TextDedup.appendToEmbeddingIndex(batch, "vec_id", "embedding", dir,
      commitTag = "b1"))
    assert(TextDedup.loadEmbeddingIndex(spark, dir).buckets.collect().toSet == buckets)
  }

  test("the whole staged-commit cycle: save, tagged append, compact, replay, query") {
    import spark.implicits._
    def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
    val baseDocs = (0L until 20L).map(i => (i * 2, sent(i.toInt))).toDF("doc_id", "text")
    val batch1 = Seq((101L, sent(500))).toDF("doc_id", "text")
    val batch2 = Seq((201L, sent(500) + " tail")).toDF("doc_id", "text")
    // save → tagged append → compact → replay → compact → query
    val dir = java.nio.file.Files.createTempDirectory("mh_rename").toString
    TextDedup.saveMinhashIndex(baseDocs, "doc_id", "text", dir)
    assert(TextDedup.appendToMinhashIndex(batch1, "doc_id", "text", dir,
      commitTag = "b1"))
    TextDedup.compactMinhashIndex(spark, dir)
    assert(!TextDedup.appendToMinhashIndex(batch1, "doc_id", "text", dir,
      commitTag = "b1")) // the tombstone survives the fold
    TextDedup.compactMinhashIndex(spark, dir) // a second fold cycle
    val idx = TextDedup.loadMinhashIndex(spark, dir)
    // the folded base equals a fresh build of base ∪ batch1
    assert(idx.bands.collect().toSet == TextDedup.buildMinhashIndex(
      baseDocs.union(batch1), "doc_id", "text").bands.collect().toSet)
    assert(TextDedup.minhashLshAgainstIndex(batch2, "doc_id", "text", idx,
        threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((201L, 101L)))
    assert(IndexFs.exists(spark, s"$dir/bands"))
  }

  test("a publish stopped between its two renames rolls forward before the next write") {
    import spark.implicits._
    def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
    val baseDocs = (0L until 20L).map(i => (i * 2, sent(i.toInt))).toDF("doc_id", "text")
    val batch = Seq((101L, sent(500))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_rollfwd").toString
    TextDedup.saveMinhashIndex(baseDocs, "doc_id", "text", dir)
    // a compaction that stopped between the two renames of its bands
    // publish: the new bands lie complete in the tmp sibling, the old
    // ones in `.old-publish`, and no `bands` dir exists
    spark.read.parquet(s"$dir/bands").write.parquet(s"$dir/bands.tmp-publish")
    IndexFs.rename(spark, s"$dir/bands", s"$dir/bands.old-publish")
    assert(!IndexFs.exists(spark, s"$dir/bands"))
    // a tagged append, then a compaction: neither may drop the base
    assert(TextDedup.appendToMinhashIndex(batch, "doc_id", "text", dir, "b1"))
    TextDedup.compactMinhashIndex(spark, dir)
    val idx = TextDedup.loadMinhashIndex(spark, dir)
    val want = TextDedup.buildMinhashIndex(baseDocs.union(batch), "doc_id", "text")
    assert(idx.bands.collect().toSet == want.bands.collect().toSet,
      "the bands must hold base ∪ batch")
    assert(idx.shingles.select("id").as[Long].collect().toSet ==
      (0L until 40L by 2).toSet + 101L)
    assert(!IndexFs.exists(spark, s"$dir/bands.tmp-publish"))
    assert(!IndexFs.exists(spark, s"$dir/bands.old-publish"))
    // the embedding twin: its append reads only `meta`, so the missing
    // `vectors` dir must not fail it
    def vec(i: Int): Seq[Float] = {
      val r = new scala.util.Random(i)
      Seq.fill(16)(r.nextGaussian().toFloat)
    }
    val eDir = java.nio.file.Files.createTempDirectory("emb_rollfwd").toString
    TextDedup.saveEmbeddingIndex((0L until 20L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", eDir, threshold = 0.9)
    spark.read.parquet(s"$eDir/vectors").write.parquet(s"$eDir/vectors.tmp-publish")
    IndexFs.rename(spark, s"$eDir/vectors", s"$eDir/vectors.old-publish")
    assert(TextDedup.appendToEmbeddingIndex(Seq((101L, vec(101))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", eDir, "b1"))
    TextDedup.compactEmbeddingIndex(spark, eDir)
    assert(TextDedup.loadEmbeddingIndex(spark, eDir).vectors.select("id").as[Long]
      .collect().toSet == (0L until 20L).toSet + 101L)
  }

  test("a compaction stopped between its publish and the commit retirement stays exact and converges") {
    import spark.implicits._
    def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
    val baseDocs = (0L until 20L).map(i => (i * 2, sent(i.toInt))).toDF("doc_id", "text")
    val batch = Seq((101L, sent(500)), (103L, sent(501))).toDF("doc_id", "text")
    // one probe doc near-duplicates an appended doc, one a base doc
    val probe = Seq((201L, sent(500) + " tail"), (203L, sent(7) + " tail"))
      .toDF("doc_id", "text")
    graft.FaultFs.install(spark.sparkContext.hadoopConfiguration)
    val local = java.nio.file.Files.createTempDirectory("mh_stopped_compact").toString
    val (dir, fault) = (graft.FaultFs.uri(local), graft.FaultFs.scope(local))
    TextDedup.saveMinhashIndex(baseDocs, "doc_id", "text", dir)
    assert(TextDedup.appendToMinhashIndex(batch, "doc_id", "text", dir, "b1"))
    // the bag of (new_id, index_id, jaccard) rows: an index row held
    // twice must not repeat its output row
    def pairs(idx: TextDedup.MinhashIndex) = TextDedup.minhashLshAgainstIndex(
        probe, "doc_id", "text", idx, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val clean = TextDedup.loadMinhashIndex(spark, dir)
    val cleanPairs = pairs(clean)
    assert(cleanPairs.map(p => (p._1, p._2)) == Seq((201L, 101L), (203L, 14L)))
    val cleanBands = clean.bands.count()
    // the folded base is published and b1 tombstoned, then the
    // compaction stops before it deletes `commits/b1`
    fault.before("delete", _.endsWith("/commits/b1")) {
      throw new IllegalStateException("stopped")
    }
    intercept[IllegalStateException] {
      TextDedup.compactIndex(spark, dir, Seq("bands", "shingles"), _ => Seq(4, 4))
    }
    assert(IndexFs.listDirNames(spark, s"$dir/commits") == Seq("b1"))
    val stopped = TextDedup.loadMinhashIndex(spark, dir)
    assert(stopped.bands.count() > cleanBands) // b1 in the base AND its commit
    assert(pairs(stopped) == cleanPairs)
    assert(!TextDedup.appendToMinhashIndex(batch, "doc_id", "text", dir, "b1"))
    TextDedup.compactMinhashIndex(spark, dir)
    assert(IndexFs.listDirNames(spark, s"$dir/commits").isEmpty)
    val bands = TextDedup.loadMinhashIndex(spark, dir).bands
    val want = TextDedup.buildMinhashIndex(baseDocs.union(batch), "doc_id", "text").bands
    assert(bands.count() == want.count())
    assert(bands.collect().toSet == want.collect().toSet)
  }

  test("index probes emit each pair once while an index holds the same rows under two tags") {
    import spark.implicits._
    def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
    val baseDocs = (0L until 20L).map(i => (i * 2, sent(i.toInt))).toDF("doc_id", "text")
    val batch = Seq((101L, sent(500)), (103L, sent(501))).toDF("doc_id", "text")
    val probe = Seq((201L, sent(500) + " tail"), (203L, sent(7) + " tail"))
      .toDF("doc_id", "text")
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    // minhash: the broadcast arm, the shuffle verify and the symmetric regime
    def minhash(dir: String) = {
      val idx = TextDedup.loadMinhashIndex(spark, dir)
      Seq(TextDedup.minhashLshAgainstIndex(probe, "doc_id", "text", idx, threshold = 0.7),
        TextDedup.minhashLshAgainstIndex(probe, "doc_id", "text", idx, threshold = 0.7,
          maxBroadcastCandidates = 0L),
        TextDedup.minhashLshAgainstIndex(probe, "doc_id", "text", idx, threshold = 0.7,
          broadcastMaxNewDocs = 0L)).map(bag)
    }
    val once = java.nio.file.Files.createTempDirectory("mh_twice_once").toString
    val twice = java.nio.file.Files.createTempDirectory("mh_twice").toString
    Seq(once, twice).foreach(TextDedup.saveMinhashIndex(baseDocs, "doc_id", "text", _))
    assert(TextDedup.appendToMinhashIndex(batch, "doc_id", "text", once, "b1"))
    assert(TextDedup.appendToMinhashIndex(batch, "doc_id", "text", twice, "b1"))
    assert(TextDedup.appendToMinhashIndex(batch, "doc_id", "text", twice, "b2"))
    val want = minhash(once)
    assert(want.head.map(p => (p._1, p._2)) == Seq((201L, 101L), (203L, 14L)))
    minhash(twice).zip(want).foreach { case (got, w) => assert(got == w) }

    // embedding: the broadcast arm, the shuffle verify and the symmetric regime
    def vec(i: Int, nudge: Float = 0f): Seq[Float] = {
      val r = new scala.util.Random(i)
      val v = Seq.fill(16)(r.nextGaussian().toFloat)
      if (nudge == 0f) v else v.updated(0, v.head + nudge)
    }
    val vecs = (0L until 20L).map(i => (i * 2, vec(i.toInt))).toDF("vec_id", "embedding")
    val vBatch = Seq((101L, vec(999))).toDF("vec_id", "embedding")
    val vProbe = Seq((201L, vec(999, 0.01f)), (203L, vec(5, 0.01f))).toDF("vec_id", "embedding")
    def embedding(dir: String) = {
      val idx = TextDedup.loadEmbeddingIndex(spark, dir)
      Seq(TextDedup.embeddingNearDupAgainstIndex(vProbe, "vec_id", "embedding", idx, 0.9),
        TextDedup.embeddingNearDupAgainstIndex(vProbe, "vec_id", "embedding", idx, 0.9,
          maxBroadcastCandidates = 0L),
        TextDedup.embeddingNearDupAgainstIndex(vProbe, "vec_id", "embedding", idx, 0.9,
          broadcastMaxNewVecs = 0L)).map(bag)
    }
    val eOnce = java.nio.file.Files.createTempDirectory("emb_twice_once").toString
    val eTwice = java.nio.file.Files.createTempDirectory("emb_twice").toString
    Seq(eOnce, eTwice).foreach(
      TextDedup.saveEmbeddingIndex(vecs, "vec_id", "embedding", _, threshold = 0.9))
    assert(TextDedup.appendToEmbeddingIndex(vBatch, "vec_id", "embedding", eOnce, "b1"))
    assert(TextDedup.appendToEmbeddingIndex(vBatch, "vec_id", "embedding", eTwice, "b1"))
    assert(TextDedup.appendToEmbeddingIndex(vBatch, "vec_id", "embedding", eTwice, "b2"))
    val eWant = embedding(eOnce)
    assert(eWant.head.map(p => (p._1, p._2)) == Seq((201L, 101L), (203L, 10L)))
    embedding(eTwice).zip(eWant).foreach { case (got, w) => assert(got == w) }
  }

  test("staged-orphan reap: live appends survive, committed and stale orphans are reaped") {
    import spark.implicits._
    def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
    val baseDocs = (0L until 10L).map(i => (i * 2, sent(i.toInt))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_reap").toString
    TextDedup.saveMinhashIndex(baseDocs, "doc_id", "text", dir)
    val f = IndexFs.fs(spark, dir)
    def stage(tag: String): Unit = {
      f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/staged/$tag/bands"))
      f.create(new org.apache.hadoop.fs.Path(s"$dir/staged/$tag/bands/part-0"), true).close()
    }
    def ageTo(tag: String, ms: Long): Unit =
      Seq(s"$dir/staged/$tag", s"$dir/staged/$tag/bands",
          s"$dir/staged/$tag/bands/part-0").foreach { p =>
        java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(p),
          java.nio.file.attribute.FileTime.fromMillis(ms))
      }
    // three orphan shapes at snapshot time:
    //  - "live": RECENT mtime, uncommitted — a slow append still writing
    //    (the ADVICE race: r9 reaped it, letting the append recreate the
    //    dir mid-write and commit a half batch). Must SURVIVE.
    //  - "stale": uncommitted, older than the TTL — a crashed append
    //    nobody will retry. Must be reaped.
    //  - "dead": its tag is committed — stagedAppend early-returns on
    //    that tag forever, so the staged copy can never be consumed.
    //    Must be reaped regardless of mtime.
    stage("live"); stage("stale"); stage("dead")
    ageTo("stale", System.currentTimeMillis() - 48L * 3600 * 1000)
    IndexFs.markCommitted(spark, dir, "dead")
    TextDedup.compactMinhashIndex(spark, dir)
    assert(IndexFs.exists(spark, s"$dir/staged/live"),
      "reaper deleted a possibly-live staged append")
    assert(!IndexFs.exists(spark, s"$dir/staged/stale"))
    assert(!IndexFs.exists(spark, s"$dir/staged/dead"))
    // the survivor's tag still lands cleanly afterwards
    assert(TextDedup.appendToMinhashIndex(
      Seq((301L, sent(700))).toDF("doc_id", "text"), "doc_id", "text", dir,
      commitTag = "live"))
  }

  test("embeddingNearDupPairs finds planted duplicate vector") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(1.0f, 2.0f, 3.0f)),      // exact dup of 1
      (3L, Array(1.01f, 2.0f, 3.0f)),     // near dup
      (4L, Array(-3.0f, 1.0f, -2.0f))     // far away
    ).toDF("vec_id", "embedding")
    val pairs = TextDedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("srpBucketRows' native expression equals the nested-HOF spelling") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bits = 6; val tables = 3; val seed = 42L; val dim = 4
    // edge fixtures: normal, negative, null ELEMENTS, empty, short,
    // long, NaN, and a NULL vector (must still emit all-zero buckets)
    val vecs = Seq(
      (1L, Seq[java.lang.Float](0.5f, -1.0f, 2.0f, 0.25f)),
      (2L, Seq[java.lang.Float](-0.5f, 1.0f, -2.0f, -0.25f)),
      (3L, Seq[java.lang.Float](null, 1.0f, null, 0.0f)),
      (4L, Seq.empty[java.lang.Float]),
      (5L, Seq[java.lang.Float](1.5f)),
      (6L, Seq[java.lang.Float](1f, 2f, 3f, 4f, 5f, 6f)),
      (7L, Seq[java.lang.Float](Float.NaN, 1f, 1f, 1f)),
      (8L, null.asInstanceOf[Seq[java.lang.Float]])
    ).toDF("vid", "vec")
    val fast = TextDedup.srpBucketRows(vecs, "vid", "vec",
      bits, tables, seed, dim).orderBy("vid", "t").collect()
    // the pre-r21 HOF spelling, verbatim
    val allPlanes = typedLit((0 until tables).flatMap(t =>
      Similarity.hyperplanes(dim, bits, seed + t)))
    val tb = transform(sequence(lit(0), lit(tables - 1)), t =>
      struct(t.as("t"),
        aggregate(sequence(lit(0), lit(bits - 1)), lit(0),
          (acc, i) => acc + when(
            graft.functions.GraftFunctions.dot_product(col("vec"),
              element_at(allPlanes, t * bits + i + 1)) >= 0,
            graft.functions.GraftFunctions.shiftL(lit(1), i).cast("int"))
            .otherwise(lit(0))).as("bkt")))
    val slow = vecs.select(col("vid"), explode(tb).as("tb"))
      .select(col("vid"), col("tb.t").as("t"), col("tb.bkt").as("bkt"))
      .orderBy("vid", "t").collect()
    assert(fast.length == slow.length,
      s"row counts differ: ${fast.length} vs ${slow.length}")
    fast.zip(slow).foreach { case (f, s) =>
      assert(f == s, s"bucket row mismatch: $f vs $s")
    }
  }
}
