package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{roundPortable, roundPortableSql}
import graft.operators.Salting
import graft.sources.Scan

/** Deeper analytics exercising the engine beyond the reference's own
  * surface: multi-join star-schema rollup, exact distinct counts,
  * analytic window functions, top-n-per-group, and a skew-salted
  * aggregate proven identical to its unsalted oracle.
  */
object AnalyticsQueries {

  type Q = (SparkSession, String) => DataFrame

  /** TPC-H-style revenue rollup: lineitem ⋈ orders ⋈ customer; revenue =
    * Σ extendedprice·(1-discount) per market segment. orders is a FACT
    * table (it scales with lineitem), so no broadcast hint — Catalyst's
    * size estimate + AQE pick broadcast at small SF and shuffle-join at
    * scale. customer is the true dim and broadcasts explicitly. */
  val revenueBySegment: Q = (s, dir) => {
    val li = Scan.table(s, dir, "lineitem")
      .select(col("l_orderkey"), (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val o = Scan.table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val c = Scan.table(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("records"),
        roundPortable(coalesce(sum(col("rev")), lit(0.0)), 4).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  /** Exact distinct counts (A9 standalone): customers and order dates per
    * priority class. Catalyst plans multi-distinct via Expand. */
  val distinctCustomers: Q = (s, dir) =>
    Scan.table(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(col("o_orderdate")).as("n_order_dates"),
        count(lit(1)).as("records"))
      .orderBy(col("o_orderpriority"))

  /** Analytic window functions: per-customer running order count and
    * running spend in order-date order. */
  val runningCustomerTotals: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Scan.table(s, dir, "orders")
      .filter(col("o_custkey") < 100) // bounded output, deterministic
      .select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))).as("order_seq"),
        roundPortable(sum(col("o_totalprice")).over(w), 4).as("running_spend"))
      .orderBy(col("o_custkey"), col("order_seq"))
  }

  /** Top-3 orders by price per priority class (top-n-per-group). */
  val topPerPriority: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Scan.table(s, dir, "orders")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("o_orderpriority"), col("rank"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rank"))
  }

  /** Skew-salted rollup over lineitem's 3-value returnflag (each key
    * holds ~1/3 of 600k rows — the aggregate-skew shape). The oracle is
    * the PLAIN group-by: salting must be result-invariant. */
  val saltedReturnflagRollup: Q = (s, dir) =>
    Salting.saltedRollup(Scan.table(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_quantity", buckets = 16)
      .select(col("l_returnflag"), col("records"),
        roundPortable(col("sum_l_quantity"), 4).as("sum_l_quantity"),
        roundPortable(col("min_l_quantity"), 4).as("min_l_quantity"),
        roundPortable(col("max_l_quantity"), 4).as("max_l_quantity"),
        roundPortable(col("avg_l_quantity"), 4).as("avg_l_quantity"))
      .orderBy(col("l_returnflag"))

  /** The custom TopKFreq aggregate (single-pass top-k) exploded back to
    * rows — oracle-checked against the classic groupBy/count/limit
    * formulation it replaces. */
  val topkAggregate: Q = (s, dir) => {
    import graft.functions.GraftFunctions.top_k_freq
    Scan.table(s, dir, "orders")
      .agg(top_k_freq(col("o_orderpriority"), 5).as("t"))
      .selectExpr("inline(t)")
      .toDF("o_orderpriority", "cnt")
  }

  /** Exact quantile profile (A-series extension): per-returnflag
    * p25/p50/p75/p95 of extendedprice via the exact `percentile`
    * aggregate — one hash aggregate, interpolation identical to
    * DuckDB's `quantile_cont` ((n-1)·p rank, linear), portably rounded.
    * The exact form is the profile/debug spelling; the 100 TB curation
    * path is `approx_percentile` (t-digest, mergeable, bounded state) —
    * its error vs this exact answer is spec-bounded in QuantileSpec. */
  val quantileProfile: Q = (s, dir) =>
    Scan.table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("records"),
        roundPortable(percentile(col("l_extendedprice"), lit(0.25)), 4).as("p25"),
        roundPortable(percentile(col("l_extendedprice"), lit(0.5)), 4).as("p50"),
        roundPortable(percentile(col("l_extendedprice"), lit(0.75)), 4).as("p75"),
        roundPortable(percentile(col("l_extendedprice"), lit(0.95)), 4).as("p95"))
      .orderBy(col("l_returnflag"))

  /** Z-order clustered layout under the hard gate: events re-written
    * clustered on (user_id, ts) — the Morton-curve write
    * ([[graft.operators.Layout]]) whose per-file min/max windows stay
    * narrow in BOTH dimensions (the file-skipping property, measured in
    * LayoutSpec/SCALE.md) — then read back in full. Layout changes
    * BYTES PLACEMENT, never content: the oracle is the plain table, so
    * a row lost, duplicated, or mangled by the range exchange +
    * per-file sort + parquet round-trip fails the hash. The write is
    * inside the measured query, as with the other snapshot queries. */
  val zorderLayout: Q = (s, dir) => {
    val events = Scan.table(s, dir, "events")
    val path = SnapshotPaths.dirFor("zorder_layout", dir, s)
    graft.operators.Layout.writeZOrdered(
      events, Seq("user_id", "ts"), path, numFiles = 8)
    s.read.parquet(path)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"), col("props"))
      .orderBy(col("event_id"))
  }

  /** Stats-based file skipping under the hard gate: the z-ordered
    * snapshot is read back through [[graft.operators.Layout.readPruned]]
    * — file selection from the parquet footers — under a TWO-dimensional
    * band (user_id × ts), the conjunction a multi-dim clustered layout
    * exists to serve, with the exact filters re-applied. The oracle
    * filters the plain table, so a file wrongly pruned (lost rows) or
    * the superset contract breaking in either direction fails the
    * hash. At sf0.1 the band covers ~5% of users × a third of the time
    * range: most of the 8 files never open (2-dim prunes at least as
    * hard as either 1-dim — LayoutSpec asserts strictly harder on its
    * fixture). */
  val zorderPrunedRead: Q = (s, dir) => {
    import graft.operators.Layout
    val events = Scan.table(s, dir, "events")
    val path = SnapshotPaths.dirFor("zorder_pruned", dir, s)
    Layout.writeZOrdered(events, Seq("user_id", "ts"), path, numFiles = 8)
    val tsLo = java.time.Instant.parse("2024-01-08T00:00:00Z")
    val tsHi = java.time.Instant.parse("2024-01-18T00:00:00Z")
    Layout.readPruned(s, path, Seq(
        Layout.Band("user_id", 3L, 9L),
        // micros, inclusive band ending one tick before tsHi
        Layout.Band("ts", tsLo.getEpochSecond * 1000000L,
          tsHi.getEpochSecond * 1000000L - 1L)))
      .filter(col("user_id").between(3L, 9L))
      .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-18 00:00:00").cast("timestamp"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"), col("props"))
      .orderBy(col("event_id"))
  }

  /** The layout LIFECYCLE under the hard gate: half the events written
    * clustered, the other half arriving through the cheap unclustered
    * append (the ingest path — batch cost, layout drift), then
    * [[graft.operators.Layout.optimize]] re-clusters everything and
    * swaps it in atomically. The oracle is the full plain table: a row
    * lost or duplicated by the append, the full re-cluster, or the
    * publish swap fails the hash. Drift-and-restore of the pruning
    * windows themselves is spec-asserted (LayoutSpec). */
  val zorderOptimize: Q = (s, dir) => {
    val events = Scan.table(s, dir, "events")
    val path = SnapshotPaths.dirFor("zorder_optimize", dir, s)
    graft.operators.Layout.writeZOrdered(
      events.filter(col("event_id") % 2 === 0), Seq("user_id", "ts"),
      path, numFiles = 8)
    graft.operators.Layout.appendUnclustered(
      events.filter(col("event_id") % 2 === 1), path)
    graft.operators.Layout.optimize(s, path, Seq("user_id", "ts"), numFiles = 8)
    graft.operators.Layout.readPruned(s, path, "user_id", Long.MinValue, Long.MaxValue)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"), col("props"))
      .orderBy(col("event_id"))
  }

  /** The EQUI-DEPTH clustered layout under the hard gate: same write
    * shape as [[zorderLayout]] with `rankMode = "equidepth"` — ranks
    * from one `percentile_approx` boundary pass + the codegen
    * binary-search bucket ([[graft.functions.BucketSearch]]), the
    * skew-robust construction — then a stats-pruned band read with the
    * exact filter re-applied. The oracle filters the plain table:
    * placement may move with the (t-digest) boundaries, but rows lost
    * or duplicated by the quantile ranking, or a file wrongly pruned,
    * fail the hash regardless of placement (the superset contract is
    * placement-independent). Skew-robustness itself — equi-depth
    * keeping pruning power where equi-width collapses — is
    * spec-asserted on a decoupled exponential fixture (LayoutSpec). */
  val zorderEquidepth: Q = (s, dir) => {
    import graft.operators.Layout
    val events = Scan.table(s, dir, "events")
    val path = SnapshotPaths.dirFor("zorder_equidepth", dir, s)
    Layout.writeZOrdered(events, Seq("user_id", "ts"), path, numFiles = 8,
      rankMode = "equidepth")
    Layout.readPruned(s, path, Seq(Layout.Band("user_id", 3L, 9L)))
      .filter(col("user_id").between(3L, 9L))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"), col("props"))
      .orderBy(col("event_id"))
  }

  /** The Hilbert-curve layout under the same content gate: identical
    * write shape to [[zorderLayout]] with `curve = "hilbert"` — tighter
    * per-file windows (unit-step curve adjacency, LayoutSpec), same
    * layout-never-changes-content contract against the plain table. */
  val hilbertLayout: Q = (s, dir) => {
    val events = Scan.table(s, dir, "events")
    val path = SnapshotPaths.dirFor("hilbert_layout", dir, s)
    graft.operators.Layout.writeZOrdered(
      events, Seq("user_id", "ts"), path, numFiles = 8, curve = "hilbert")
    s.read.parquet(path)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"), col("props"))
      .orderBy(col("event_id"))
  }

  val queries: ListMap[String, Q] = ListMap(
    "q_zorder_layout" -> zorderLayout,
    "q_zorder_pruned_read" -> zorderPrunedRead,
    "q_zorder_optimize" -> zorderOptimize,
    "q_zorder_equidepth" -> zorderEquidepth,
    "q_hilbert_layout" -> hilbertLayout,
    "q_quantile_profile" -> quantileProfile,
    "q_topk_aggregate_single_pass" -> topkAggregate,
    "q_join_revenue_by_segment" -> revenueBySegment,
    "q_distinct_customers" -> distinctCustomers,
    "q_running_customer_totals" -> runningCustomerTotals,
    "q_top_per_priority" -> topPerPriority,
    "q_salted_returnflag_rollup" -> saltedReturnflagRollup)

  val oracles: ListMap[String, String] = ListMap(
    // the z-ordered snapshot must carry EXACTLY the source table's rows
    "q_zorder_layout" ->
      """SELECT event_id, user_id, ts, event_type, value, props
         FROM events ORDER BY event_id""",
    // footer-pruned read + exact 2-dim filter ≡ filtering the
    // plain table on the same conjunction
    "q_zorder_pruned_read" ->
      """SELECT event_id, user_id, ts, event_type, value, props
         FROM events WHERE user_id BETWEEN 3 AND 9
           AND ts >= TIMESTAMP '2024-01-08 00:00:00'
           AND ts <  TIMESTAMP '2024-01-18 00:00:00'
         ORDER BY event_id""",
    // clustered-write + unclustered-append + optimize ≡ the plain table
    "q_zorder_optimize" ->
      """SELECT event_id, user_id, ts, event_type, value, props
         FROM events ORDER BY event_id""",
    // equi-depth ranks + pruned band read ≡ filtering the plain table
    "q_zorder_equidepth" ->
      """SELECT event_id, user_id, ts, event_type, value, props
         FROM events WHERE user_id BETWEEN 3 AND 9 ORDER BY event_id""",
    // the Hilbert-curve layout carries the same rows, exactly
    "q_hilbert_layout" ->
      """SELECT event_id, user_id, ts, event_type, value, props
         FROM events ORDER BY event_id""",
    "q_quantile_profile" ->
      s"""SELECT l_returnflag, COUNT(*) AS records,
          ${roundPortableSql("quantile_cont(l_extendedprice, 0.25)", 4)} AS p25,
          ${roundPortableSql("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50,
          ${roundPortableSql("quantile_cont(l_extendedprice, 0.75)", 4)} AS p75,
          ${roundPortableSql("quantile_cont(l_extendedprice, 0.95)", 4)} AS p95
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_topk_aggregate_single_pass" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt
         FROM orders GROUP BY o_orderpriority
         ORDER BY cnt DESC, o_orderpriority LIMIT 5""",
    "q_join_revenue_by_segment" ->
      s"""SELECT c_mktsegment, COUNT(*) AS records,
          ${roundPortableSql("COALESCE(SUM(l_extendedprice * (1.0 - l_discount)), 0.0)", 4)} AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_distinct_customers" ->
      """SELECT o_orderpriority,
          COUNT(DISTINCT o_custkey) AS n_customers,
          COUNT(DISTINCT o_orderdate) AS n_order_dates,
          COUNT(*) AS records
          FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_running_customer_totals" ->
      s"""SELECT o_custkey, o_orderkey,
          CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS order_seq,
          ${roundPortableSql(
            """SUM(o_totalprice) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""", 4)} AS running_spend
          FROM orders WHERE o_custkey < 100
          ORDER BY o_custkey, order_seq""",
    "q_top_per_priority" ->
      """SELECT o_orderpriority, CAST(rank AS INTEGER) AS rank, o_orderkey, o_totalprice
         FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey) AS rank
               FROM orders)
         WHERE rank <= 3 ORDER BY o_orderpriority, rank""",
    "q_salted_returnflag_rollup" ->
      s"""SELECT l_returnflag, COUNT(*) AS records,
          ${roundPortableSql("COALESCE(SUM(l_quantity), 0.0)", 4)} AS sum_l_quantity,
          ${roundPortableSql("MIN(l_quantity)", 4)} AS min_l_quantity,
          ${roundPortableSql("MAX(l_quantity)", 4)} AS max_l_quantity,
          ${roundPortableSql("AVG(l_quantity)", 4)} AS avg_l_quantity
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
}
