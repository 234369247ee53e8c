package graft.sources

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkSpec
import graft.spec.ObjectSpec

/** Plan-shape regression tests: the pushdown claims from SURVEY §2.3
  * (P1 projection pruning, P2 predicate pushdown, P3 limit pushdown)
  * asserted against the explain output, not just eyeballed via
  * `tools/Explain`. If an optimizer conf or a refactor silently breaks a
  * pushdown, these fail — the scan reading extra columns at 100 TB is
  * exactly the regression that never shows up in row-level results. */
class PlanShapeSpec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("parquet spec scan: ReadSchema pruned to spec fields, predicate pushed (P1/P2)") {
    val orders = Scan.table(spark, "/root/testdata/sf0.001", "orders")
    val spec = ObjectSpec("Opportunity",
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"),
      Nil, Seq("o_orderstatus"), ListMap.empty,
      where = "o_totalprice > 1000.0")
    val plan = formatted(Scan.specScan(orders, spec))

    val read = plan.linesIterator.map(_.trim).find(_.startsWith("ReadSchema:"))
      .getOrElse(fail(s"no ReadSchema in plan:\n$plan"))
    Seq("o_orderkey", "o_orderstatus", "o_totalprice")
      .foreach(c => assert(read.contains(c), s"$c missing from $read"))
    Seq("o_orderpriority", "o_custkey", "o_comment")
      .foreach(c => assert(!read.contains(c), s"$c NOT pruned: $read"))

    val pushed = plan.linesIterator.map(_.trim).find(_.startsWith("PushedFilters:"))
      .getOrElse(fail(s"no PushedFilters in plan:\n$plan"))
    assert(pushed.contains("GreaterThan(o_totalprice"),
      s"where-predicate not pushed to the scan: $pushed")
  }

  test("DSv2 pushed limit caps the scan and collapses to one input partition (P3)") {
    val remote = spark.read.format("graft.sources.v2.SalesforceSimSource")
      .option("object", "Opportunity")
      .option("rows", "10000").option("partitions", "4").load()
    // un-limited: the fan-out is the configured partition count
    assert(remote.rdd.getNumPartitions == 4)

    val limited = remote.limit(7)
    assert(formatted(limited).contains("PushedLimit: 7"),
      s"limit not pushed into the DSv2 scan:\n${formatted(limited)}")
    // one reader emits at most `limit` rows; parallel partitions would
    // overfetch from the remote
    assert(limited.rdd.getNumPartitions == 1)
    assert(limited.count() == 7)
  }

  test("embedding near-dup LSH plans a bucket-key join, never a cartesian product") {
    import graft.operators.TextDedup
    val emb = Scan.table(spark, "/root/testdata/sf0.001", "embeddings")
    val lshPlan = TextDedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding", 0.5)
      .queryExecution.executedPlan.toString
    assert(!lshPlan.contains("CartesianProduct") &&
      !lshPlan.contains("BroadcastNestedLoopJoin"),
      s"LSH candidate generation degraded to an all-pairs join:\n$lshPlan")
    // the exact tool IS the all-pairs join — sanity-check the contrast
    val exactPlan = TextDedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.5)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("CartesianProduct") ||
      exactPlan.contains("BroadcastNestedLoopJoin"))
  }

  test("full curation pipeline plans no cartesian product (LSH-gated near-dup stage)") {
    import graft.operators.Curation
    val docs = Scan.table(spark, "/root/testdata/sf0.001", "documents")
    val plan = Curation.curate(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"curation near-dup stage degraded to an all-pairs join:\n$plan")
  }

  test("ANN ranking is a bounded partial+final top-k aggregate, not a per-query window") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = Scan.table(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val plan = Similarity.topKForQueries(emb, "vec_id", "embedding",
      queries, "query_id", "qvec", 3).queryExecution.executedPlan.toString
    // the window spelling shuffles every scored corpus row into one
    // partition per query — the 100TB straggler this replaces
    assert(!plan.contains("Window"), s"per-query window crept back:\n$plan")
    assert("top_k_by_score".r.findAllIn(plan).length >= 2,
      s"expected partial+final top_k_by_score aggregate:\n$plan")
  }

  test("IVF assignment is a pure projection: no cross join, one shuffle total (final rank agg)") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = Scan.table(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val plan = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 3, nCentroids = 8, nProbe = 3,
        useKMeans = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"IVF assignment degraded to a centroid cross join:\n$plan")
    assert(!plan.contains("Window"), s"per-query window crept back:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"probe join should broadcast the query side:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 1,
      s"expected at most one shuffle (the final top-k agg), got $shuffles:\n$plan")
  }

  test("minhashLsh shuffle width binds in the plan (partitionsFor knob, SCALE.md #2)") {
    import graft.operators.TextDedup
    val docs = Scan.table(spark, "/root/testdata/sf0.001", "documents")
    // explicit width: both the (band, bh) bucket exchange and the
    // (d1, d2) candidate-dedup exchange must carry exactly that width —
    // plan-bound, not session-conf-dependent
    val plan = TextDedup.minhashLsh(docs, "doc_id", "text",
        maxBucketSize = 100, numPartitions = Some(7))
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(band[^)]*, 7\\)".r.findFirstIn(plan).isDefined,
      s"bucket exchange not at the requested width:\n$plan")
    assert("hashpartitioning\\(d1[^)]*, 7\\)".r.findFirstIn(plan).isDefined,
      s"candidate-dedup exchange not at the requested width:\n$plan")
    // default: the knob self-sizes — floored at the session parallelism
    val dPlan = TextDedup.minhashLsh(docs, "doc_id", "text", maxBucketSize = 100)
      .queryExecution.executedPlan.toString
    val floor = spark.sparkContext.defaultParallelism
    assert(s"hashpartitioning\\(band[^)]*, $floor\\)".r.findFirstIn(dPlan).isDefined,
      s"default width should be the partitionsFor floor ($floor):\n$dPlan")
  }

  test("incremental dedup: batch regime broadcasts, no cartesian; big-batch regime binds the width") {
    import org.apache.spark.sql.functions.col
    import graft.operators.TextDedup
    val docs = Scan.table(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_plan").toString
    TextDedup.saveMinhashIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
    val idx = TextDedup.loadMinhashIndex(spark, dir)
    val batch = docs.filter(col("doc_id") % 2 === 1)

    // incremental regime: the batch ships broadcast into the bucket join
    // and the matched-id semi-join, so the index side is scan-only — the
    // only hash exchanges left carry candidate/match-sized streams
    val inc = TextDedup.minhashLshAgainstIndex(
      batch, "doc_id", "text", idx, threshold = 0.7)
    val plan = inc.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"incremental dedup degraded to a cross join:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"expected broadcast bucket join + matched-id semi-join:\n$plan")
    // ≤4 exchanges: candidate distinct + the match-sized verify SMJ
    // sides — never the index relations themselves (their FileScans sit
    // directly under the broadcast joins, asserted above via BHJ count)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 4,
      s"unexpected extra reshuffle in the batch regime, got $shuffles exchanges:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(id#"),
      s"the index relation itself reshuffled (raw id column in an exchange):\n$plan")

    // symmetric regime (forced): repartitioned joins at the requested
    // width, plan-bound like minhashLsh's knob
    val sym = TextDedup.minhashLshAgainstIndex(
        batch, "doc_id", "text", idx, threshold = 0.7,
        broadcastMaxNewDocs = 0L, numPartitions = Some(7))
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(band[^)]*, 7\\)".r.findFirstIn(sym).isDefined,
      s"bucket exchange not at the requested width:\n$sym")
    assert("hashpartitioning\\(new_id[^)]*, 7\\)".r.findFirstIn(sym).isDefined,
      s"candidate exchange not at the requested width:\n$sym")
  }

  test("embedding incremental dedup: batch regime broadcasts, index side scan-only") {
    import org.apache.spark.sql.functions.col
    import graft.operators.TextDedup
    val emb = Scan.table(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("emb_idx_plan").toString
    TextDedup.saveEmbeddingIndex(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", dir, threshold = 0.5)
    val idx = TextDedup.loadEmbeddingIndex(spark, dir)
    val inc = TextDedup.embeddingNearDupAgainstIndex(
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, threshold = 0.5)
    val plan = inc.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"embedding incremental dedup degraded to a cross join:\n$plan")
    // batch vectors + matched-id semi-join ship broadcast; the index
    // vector relation is scanned, never reshuffled on its raw id
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"expected broadcast verify joins:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(id#"),
      s"the index relation itself reshuffled:\n$plan")
  }

  test("training-data capstone: final assembly has no cartesian and bounded exchanges") {
    // the e2e chain's per-stage plans are asserted by the curation /
    // incremental-dedup tests above; what composition can newly break is
    // the FINAL assembly (accepted ∪ accepted → split → packing join) —
    // a lost join key degrading to a nested-loop product, or the packing
    // prefix-sum re-shuffling more than its one range partition + the
    // O(partitions) subtotal exchange
    val out = graft.queries.TrainingDataQueries.trainingDataE2E(
      spark, "/root/testdata/sf0.001")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"capstone assembly degraded to a cross join:\n$plan")
    // split is a pure projection (no exchange); packing contributes its
    // range partition + subtotal exchanges; the doc_id join and final
    // orderBy add at most a handful — anything past this bound means a
    // stage re-shuffled data another stage had already placed
    val shuffles = "Exchange ".r.findAllIn(plan).length
    assert(shuffles <= 8,
      s"capstone assembly shuffled $shuffles times:\n$plan")
  }

  test("capstone v2: final assembly has no cartesian and bounded exchanges") {
    // every stage's own plan is asserted by its operator spec; the v2
    // composition's final assembly (chunks → uid → packing join →
    // shard → enrich join → order) is what can newly degrade — a lost
    // equi-key turning a join into a nested-loop product, or a stage
    // re-shuffling rows the pin seams already placed
    val out = graft.queries.TrainingDataQueries.trainingDataV2(
      spark, "/root/testdata/sf0.001")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"v2 assembly degraded to a cross join:\n$plan")
    val shuffles = "Exchange ".r.findAllIn(plan).length
    assert(shuffles <= 8,
      s"v2 assembly shuffled $shuffles times:\n$plan")
    assert(out.count() > 0)
  }

  test("crawl-to-corpus capstone: front-end stages stay map-only, bounded exchanges") {
    // extract + normalize + gopher are pure projections/filters — the
    // only exchanges the composition may add are curation's exact-dedup
    // aggregate + winner join (plus the final order)
    val out = graft.queries.HtmlQueries.crawlToCorpus(
      spark, "/root/testdata/sf0.001")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"crawl capstone degraded to a cross join:\n$plan")
    val shuffles = "Exchange ".r.findAllIn(plan).length
    assert(shuffles <= 4,
      s"crawl capstone shuffled $shuffles times:\n$plan")
    assert(out.count() > 0)
  }

  test("partitionsFor tracks rows below the cores floor and up to the 6x-cores cap") {
    import graft.GraftSession.partitionsFor
    // r22 contract: sub-core-scale inputs no longer saturate at cores —
    // width tracks the input at >=64 rows/task (tasks smaller than that
    // are pure overhead; the 8-core bench beat 32-core on exactly the
    // queries that paid cores-wide exchanges for a few hundred rows)
    assert(partitionsFor(0L, 32) == 1)             // empty input → one task
    assert(partitionsFor(150L, 32) == 3)           // tiny input → ~64 rows/task
    assert(partitionsFor(500L, 32) == 8)
    assert(partitionsFor(64L * 32, 32) == 32)      // reaches full parallelism
    assert(partitionsFor(5000L, 32) == 32)         // sf0.1 shape: unchanged
    assert(partitionsFor(500000L, 32) == 192)      // 100x hits the 6x cap
    assert(partitionsFor(250000L, 32) == 100)      // linear in between
    assert(partitionsFor(1L << 40, 32) == 192)     // cap holds at any size
    assert(partitionsFor(1000L, 0) == 1)           // degenerate cores guarded
  }

  /** The `Exchange` nodes of a plan, one per line of its tree string. */
  private def exchanges(plan: String): Seq[String] =
    plan.linesIterator.map(_.trim).filter(_.contains("Exchange ")).toSeq

  private val HashExchange = """Exchange hashpartitioning\((.*), (\d+)\), """.r.unanchored

  /** Runs `body` and returns the executed plan of every action it ran,
    * the eager pins included. */
  private def actionPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      org.apache.spark.scheduler.DagProbe.drainListeners(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    plans.toArray(Array.empty[String]).toSeq
  }

  test("capstone v2 tail: range exchange widths come from the flow's own bounds") {
    import graft.GraftSession.partitionsFor
    import graft.queries.TrainingDataQueries.{V2ChunkStride, V2ResampleK, V2TempTotal}
    // both widths come from flow constants, never from partitionsForPlan's
    // byte estimate, which multiplies through the upstream joins and
    // sizes these stages several times too wide; the v3 capstone runs
    // the same curationFlowV2 tail
    val plans = actionPlans {
      graft.queries.TrainingDataQueries.trainingDataV2(
        spark, "/root/testdata/sf0.001").count()
    }
    def widths(pattern: scala.util.matching.Regex): Set[Int] =
      plans.flatMap(pattern.findAllMatchIn(_).map(_.group(1).toInt)).toSet
    val take = widths("""rangepartitioning\(lang#[^)]*__order_hash#[^)]*, (\d+)\)""".r)
    val pack = widths("""rangepartitioning\(chunk_uid#\d+L? ASC NULLS FIRST, (\d+)\)""".r)
    assert(take == Set(partitionsFor(spark, V2ResampleK.toLong)),
      s"take-budget range exchange widths $take")
    assert(pack == Set(partitionsFor(spark, V2TempTotal / V2ChunkStride + V2ResampleK)),
      s"chunk-packing range exchange widths $pack")
  }

  test("LSH at the 100x knob values: every hash exchange at that width") {
    import graft.GraftSession.partitionsFor
    import graft.operators.TextDedup
    val cores = spark.sparkContext.defaultParallelism
    def check(plan: String, width: Int, nExchanges: Int): Unit = {
      val all = exchanges(plan)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"LSH candidate generation degraded to an all-pairs join:\n$plan")
      val hashWidths = all.collect { case HashExchange(_, n) => n.toInt }
      assert(hashWidths.nonEmpty && hashWidths.forall(_ == width),
        s"hash exchanges not all at width $width:\n${all.mkString("\n")}")
      assert(all.size == nExchanges,
        s"expected $nExchanges exchanges, got ${all.size}:\n${all.mkString("\n")}")
    }
    // the width a 500k-document corpus gets. On the sf0.001 fixture the
    // plan holds (band, bh) twice and (d1, d2) as hash exchanges, and
    // three broadcasts: one side of the bucket self-join and both
    // verify lookups
    val docs = Scan.table(spark, "/root/testdata/sf0.001", "documents")
    val mhWidth = partitionsFor(500000L, cores)
    check(TextDedup.minhashLsh(docs, "doc_id", "text",
        numPartitions = Some(mhWidth)).queryExecution.executedPlan.toString,
      mhWidth, nExchanges = 6)
    // the knobs 200k vectors get. Caller-supplied knobs take the shuffle
    // verify branch: (t, bkt) twice, (d1, d2), d1 and d2 are hash
    // exchanges, beside the same three broadcasts
    val emb = Scan.table(spark, "/root/testdata/sf0.001", "embeddings")
    val bits = TextDedup.srpBitsFor(200000L)
    val tables = TextDedup.srpTablesFor(bits, 0.5)
    val embWidth = partitionsFor(200000L * tables, cores)
    check(TextDedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding", 0.5,
        bits = bits, tables = tables, numPartitions = Some(embWidth))
        .queryExecution.executedPlan.toString,
      embWidth, nExchanges = 8)
  }

  test("star rollup broadcasts the dimension tables (no shuffle join for dims)") {
    val plan = graft.queries.AnalyticsQueries.revenueBySegment(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension join not broadcast:\n$plan")
  }

  test("NgramLm scoring plan: no cartesian, count-relation joins, scan pruned to (doc_id, text)") {
    val docs = Scan.table(spark, "/root/testdata/sf0.001", "documents")
    val lm = graft.operators.NgramLm.fit(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
      "doc_id", "text")
    val scored = graft.operators.NgramLm.scoreAvgLogProb(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
      "doc_id", "text", lm)
    val plan = formatted(scored)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"LM scoring must join on gram keys, never a product:\n$plan")
    // per-doc mean is a partial+final hash aggregate (map-side combine)
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
    // the candidate scan reads only the two columns the scorer needs
    val reads = plan.linesIterator.map(_.trim)
      .filter(_.startsWith("ReadSchema:")).toSeq
    assert(reads.nonEmpty && reads.forall(r =>
        r.contains("doc_id") && r.contains("text") && !r.contains("lang") &&
        !r.contains("source") && !r.contains("n_chars")),
      s"scan not pruned to (doc_id, text): $reads")
  }

  test("projection-only spec scan pushes no filters but still prunes (P1 alone)") {
    val customer = Scan.table(spark, "/root/testdata/sf0.001", "customer")
    val spec = ObjectSpec("Account", Seq("c_custkey", "c_mktsegment"),
      Nil, Seq("c_mktsegment"), ListMap.empty)
    val plan = formatted(Scan.specScan(customer, spec))
    val read = plan.linesIterator.map(_.trim).find(_.startsWith("ReadSchema:")).get
    assert(read.contains("c_custkey") && read.contains("c_mktsegment"))
    assert(!read.contains("c_acctbal") && !read.contains("c_name"))
  }
}
