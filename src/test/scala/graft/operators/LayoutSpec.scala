package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.GraftFunctions.z_interleave

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def events =
    graft.sources.Scan.table(spark, "/root/testdata/sf0.001", "events")

  test("z_interleave: known Morton values, null propagation, bounds") {
    // 2 dims × 2 bits: (x=0b10, y=0b01) → bits x0→0, y0→1, x1→2, y1→3
    // x = 10b: bit0=0 → pos0, bit1=1 → pos2;  y = 01b: bit0=1 → pos1
    // result = 0b0110 = 6
    val r = Seq((2L, 1L)).toDF("x", "y")
      .select(z_interleave(Seq(col("x"), col("y")), 2).as("z"))
      .head.getLong(0)
    assert(r == 6L)
    // identity in 1 dim: interleave of one column is the column
    val one = Seq(5L).toDF("x")
      .select(z_interleave(Seq(col("x")), 3).as("z")).head.getLong(0)
    assert(one == 5L)
    // null rank → null key
    val n = Seq((Some(1L), Option.empty[Long])).toDF("x", "y")
      .select(z_interleave(Seq(col("x"), col("y")), 2))
    assert(n.head.isNullAt(0))
    // locality: nearby points interleave to nearby keys, far to far
    val z00 = Seq((0L, 0L)).toDF("x", "y")
      .select(z_interleave(Seq(col("x"), col("y")), 8).as("z")).head.getLong(0)
    val zFF = Seq((255L, 255L)).toDF("x", "y")
      .select(z_interleave(Seq(col("x"), col("y")), 8).as("z")).head.getLong(0)
    assert(z00 == 0L && zFF == 65535L)
  }

  test("z_interleave: interpreted eval ≡ codegen on testdata ranks") {
    val ranks = events.select(
      pmod(col("user_id"), lit(16)).as("a"), pmod(col("event_id"), lit(16)).as("b"))
    val viaExpr = ranks
      .select(z_interleave(Seq(col("a"), col("b")), 4).as("z"))
    // reference spelling in pure column arithmetic (bit-by-bit sums)
    val viaSql = ranks.select(
      (0 until 4).map(b =>
        shiftleft(shiftright(col("a"), b).bitwiseAND(1), b * 2) +
          shiftleft(shiftright(col("b"), b).bitwiseAND(1), b * 2 + 1))
        .reduce(_ + _).cast("long").as("z"))
    assert(viaExpr.exceptAll(viaSql).count() == 0)
    assert(viaSql.exceptAll(viaExpr).count() == 0)
  }

  test("withZValue: no corpus shuffle — only the aggregate-sized stats subplan") {
    val z = Layout.withZValue(events, Seq("user_id", "ts"))
    val plan = z.queryExecution.executedPlan.toString
    // allowed: the global min/max aggregate's SinglePartition exchange
    // (aggregate-sized) + its broadcast; forbidden: any hash/range
    // repartition of the events scan itself
    assert(!plan.contains("hashpartitioning"), s"corpus shuffled:\n$plan")
    assert(!plan.contains("rangepartitioning"), s"corpus shuffled:\n$plan")
    assert(z.columns.contains("__zvalue"))
    assert(z.count() == events.count())
    // reserved-name guard
    val clash = events.withColumn("__zvalue", lit(1L))
    assertThrows[IllegalArgumentException] {
      Layout.withZValue(clash, Seq("user_id"))
    }
  }

  test("writeZOrdered round-trips content exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    Layout.writeZOrdered(events, Seq("user_id", "ts"), s"$dir/z", numFiles = 8)
    val back = spark.read.parquet(s"$dir/z")
    assert(back.columns.sorted.toSeq == events.columns.sorted.toSeq)
    assert(back.count() == events.count())
    val a = events.select(events.columns.sorted.map(col): _*)
    val b = back.select(back.columns.sorted.map(col): _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("z-ordered files are narrow in BOTH dimensions; single-sort is not") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zprune").toString
    Layout.writeZOrdered(events, Seq("user_id", "ts"), s"$dir/z", numFiles = 16)
    // the comparison layout: clustered on ts alone (the "obvious" sort)
    events.repartitionByRange(16, col("ts")).sortWithinPartitions("ts")
      .write.parquet(s"$dir/ts_sorted")

    def avgWidth(path: String, column: String): Double = {
      val stats = Layout.fileStats(spark.read.parquet(path), Seq(column))
        .select(col(s"min_$column").cast("double"),
          col(s"max_$column").cast("double"))
        .collect()
      val gMin = stats.map(_.getDouble(0)).min
      val gMax = stats.map(_.getDouble(1)).max
      stats.map(r => (r.getDouble(1) - r.getDouble(0)) / (gMax - gMin))
        .sum / stats.length
    }

    val zUser = avgWidth(s"$dir/z", "user_id")
    val zTs = avgWidth(s"$dir/z", "ts")
    val sortedUser = avgWidth(s"$dir/ts_sorted", "user_id")
    val sortedTs = avgWidth(s"$dir/ts_sorted", "ts")
    // ts-sorted: perfect on ts, useless on user_id (every file spans
    // all users). z-order: BOTH windows narrow — a filter on either
    // column (or both) skips most files. 16 files ≈ a 4×4 grid → ≈0.25
    // expected per dim; 0.6 is the generous red line.
    assert(sortedUser > 0.9, s"fixture vacuous: ts-sort clustered user_id ($sortedUser)")
    assert(zUser < 0.6, s"z-order user_id width $zUser — no pruning power")
    assert(zTs < 0.6, s"z-order ts width $zTs — no pruning power")
    assert(sortedTs < zTs, "single-column sort should beat z-order on its own column")
  }

  test("string dimension: hash ranks cluster equal values into few files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zstr").toString
    Layout.writeZOrdered(events, Seq("event_type"), s"$dir/z", numFiles = 8)
    val spread = spark.read.parquet(s"$dir/z")
      .select(col("event_type"), input_file_name().as("f"))
      .distinct()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_files"))
      .agg(max(col("n_files"))).head.getLong(0)
    // equal strings share a rank, so a value spans at most a couple of
    // boundary-adjacent files — equality predicates prune the rest
    assert(spread <= 3, s"one event_type spread over $spread of 8 files")
  }

  test("prunedFiles/readPruned: footer-level skipping is a lossless superset") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zpruneread").toString
    Layout.writeZOrdered(events, Seq("user_id", "ts"), s"$dir/z", numFiles = 16)
    val (sel, total) = Layout.prunedFiles(spark, s"$dir/z", "user_id", 3L, 5L)
    assert(total == 16)
    assert(sel.nonEmpty && sel.length < total,
      s"selected ${sel.length}/$total — footer pruning has no effect")
    // pruned read + exact filter ≡ full-scan filter, row for row
    val pruned = Layout.readPruned(spark, s"$dir/z", "user_id", 3L, 5L)
      .filter(col("user_id").between(3, 5))
    val full = spark.read.parquet(s"$dir/z")
      .filter(col("user_id").between(3, 5))
    assert(pruned.exceptAll(full).count() == 0)
    assert(full.exceptAll(pruned).count() == 0)
    assert(full.count() > 0, "fixture vacuous: no rows in the probe band")
    // band outside the data → zero files, empty frame, schema intact
    val (none, _) = Layout.prunedFiles(spark, s"$dir/z", "user_id", 100000L, 200000L)
    assert(none.isEmpty)
    val empty = Layout.readPruned(spark, s"$dir/z", "user_id", 100000L, 200000L)
    assert(empty.count() == 0)
    assert(empty.columns.sorted.toSeq == events.columns.sorted.toSeq)
    // absent column → nothing pruned (safe), never an error
    val (all, t2) = Layout.prunedFiles(spark, s"$dir/z", "no_such_col", 0L, 1L)
    assert(all.length == t2)
  }

  test("append drifts the layout; optimize restores it; content survives both") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zopt").toString
    val evens = events.filter(col("event_id") % 2 === 0)
    val odds = events.filter(col("event_id") % 2 === 1)
    Layout.writeZOrdered(evens, Seq("user_id", "ts"), s"$dir/z", numFiles = 12)
    val (selFresh, totalFresh) =
      Layout.prunedFiles(spark, s"$dir/z", "user_id", 3L, 5L)
    assert(selFresh.length < totalFresh)
    // the cheap ingest path: odd half appended UNCLUSTERED
    Layout.appendUnclustered(odds, s"$dir/z")
    // content is already complete…
    val afterAppend = spark.read.parquet(s"$dir/z")
    assert(afterAppend.count() == events.count())
    // …but the appended files span every user — pruning degraded: the
    // same band now admits MORE files (the fresh hits plus appends)
    val (selDrift, totalDrift) =
      Layout.prunedFiles(spark, s"$dir/z", "user_id", 3L, 5L)
    assert(totalDrift > totalFresh)
    assert(selDrift.length > selFresh.length,
      s"append should widen the selection: ${selFresh.length} → ${selDrift.length}")
    // the maintenance reset: re-cluster everything, atomic swap
    Layout.optimize(spark, s"$dir/z", Seq("user_id", "ts"), numFiles = 12)
    val back = spark.read.parquet(s"$dir/z")
    val a = events.select(events.columns.sorted.map(col): _*)
    val b = back.select(back.columns.sorted.map(col): _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    val (selOpt, totalOpt) =
      Layout.prunedFiles(spark, s"$dir/z", "user_id", 3L, 5L)
    assert(totalOpt == 12)
    assert(selOpt.length < totalOpt,
      s"optimize must restore pruning: ${selOpt.length}/$totalOpt")
    assert(selOpt.length <= selDrift.length)
  }

  test("single-value and null dimensions degrade gracefully") {
    val df = events.withColumn("const", lit(7L))
      .withColumn("maybe", when(col("event_id") % 2 === 0, col("user_id")))
    // constant dim: lo == hi → rank 0 everywhere, no crash
    val z1 = Layout.withZValue(df, Seq("const", "user_id"))
    assert(z1.count() == df.count())
    // nullable dim: nulls rank 0, key never null
    val z2 = Layout.withZValue(df, Seq("maybe", "ts"))
    assert(z2.filter(col("__zvalue").isNull).count() == 0)
  }

  test("hilbert_index: a true Hilbert curve — bijective, unit-step adjacent") {
    import graft.functions.GraftFunctions.hilbert_index
    // every cell of the 8×8 grid, keyed; the curve property that makes
    // Hilbert better than Morton: consecutive keys are ALWAYS one unit
    // step in exactly one dimension (Morton jumps diagonally across
    // half the grid when a high bit flips)
    val cells = spark.range(64)
      .select((col("id") / 8).cast("long").as("x"), (col("id") % 8).as("y"))
      .select(col("x"), col("y"),
        hilbert_index(Seq(col("x"), col("y")), 3).as("h"))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    assert(cells.map(_._1).toSeq == (0L until 64L), "keys must be a bijection onto 0..63")
    cells.sliding(2).foreach { case Array((_, (x1, y1)), (_, (x2, y2))) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"non-adjacent consecutive cells ($x1,$y1)→($x2,$y2)")
    }
    // 3 dims × 2 bits: same properties on the 64-cell cube
    val cube = spark.range(64)
      .select((col("id") / 16).cast("long").as("x"),
        ((col("id") / 4) % 4).cast("long").as("y"), (col("id") % 4).as("z"))
      .select(col("x"), col("y"), col("z"),
        hilbert_index(Seq(col("x"), col("y"), col("z")), 2).as("h"))
      .collect().map(r => (r.getLong(3), (r.getLong(0), r.getLong(1), r.getLong(2))))
      .sortBy(_._1)
    assert(cube.map(_._1).toSeq == (0L until 64L))
    cube.sliding(2).foreach { case Array((_, (a1, b1, c1)), (_, (a2, b2, c2))) =>
      assert(math.abs(a1 - a2) + math.abs(b1 - b2) + math.abs(c1 - c2) == 1)
    }
  }

  test("curve = hilbert clusters at least as tightly as morton; content survives") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hilbert").toString
    Layout.writeZOrdered(events, Seq("user_id", "ts"), s"$dir/h",
      numFiles = 16, curve = "hilbert")
    val back = spark.read.parquet(s"$dir/h")
    assert(back.count() == events.count())
    val a = events.select(events.columns.sorted.map(col): _*)
    val b = back.select(back.columns.sorted.map(col): _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)

    def avgWidth(path: String, column: String): Double = {
      val stats = Layout.fileStats(spark.read.parquet(path), Seq(column))
        .select(col(s"min_$column").cast("double"),
          col(s"max_$column").cast("double")).collect()
      val gMin = stats.map(_.getDouble(0)).min
      val gMax = stats.map(_.getDouble(1)).max
      stats.map(r => (r.getDouble(1) - r.getDouble(0)) / (gMax - gMin))
        .sum / stats.length
    }
    Layout.writeZOrdered(events, Seq("user_id", "ts"), s"$dir/m", numFiles = 16)
    val hW = avgWidth(s"$dir/h", "user_id") * avgWidth(s"$dir/h", "ts")
    val mW = avgWidth(s"$dir/m", "user_id") * avgWidth(s"$dir/m", "ts")
    assert(hW < 0.36, s"hilbert window area $hW — no clustering")
    // locality: hilbert's per-file window area should not lose to
    // morton by more than measurement slack on this fixture
    assert(hW <= mW * 1.25, s"hilbert $hW vs morton $mW")
  }

  test("a failed rewrite leaves the previous dataset intact (write-then-swap)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zcrash").toString
    Layout.writeZOrdered(events, Seq("user_id", "ts"), s"$dir/z", numFiles = 4)
    val before = spark.read.parquet(s"$dir/z").count()
    assert(before > 0)
    // a rewrite whose job dies mid-write (simulated: a poisoned column
    // that throws during evaluation) must NOT have deleted the only
    // complete copy first — the publishRelation crash contract
    val poison = events.withColumn("value",
      when(col("event_id") >= 0,
        raise_error(lit("simulated executor death")).cast("double")))
    intercept[Exception] {
      Layout.writeZOrdered(poison, Seq("user_id", "ts"), s"$dir/z", numFiles = 4)
    }
    assert(spark.read.parquet(s"$dir/z").count() == before)
  }

  test("pruning reads footers only: no stats file is written, a stale one is ignored") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zfooters").toString
    def statsFiles(d: String): Seq[String] =
      new java.io.File(d).listFiles().map(_.getName).filter(_ == "_stats.tsv").toSeq
    Layout.writeZOrdered(events, Seq("user_id", "ts"), s"$dir/z", numFiles = 16)
    assert(statsFiles(s"$dir/z").isEmpty, "writeZOrdered wrote a stats file")
    Layout.optimize(spark, s"$dir/z", Seq("user_id", "ts"), numFiles = 12)
    assert(statsFiles(s"$dir/z").isEmpty, "optimize wrote a stats file")
    val snap = s"$dir/snap"
    SnapshotMerge.createSharded(events, Seq("event_id"), 4, snap)
    SnapshotMerge.optimizeSharded(spark, snap, Seq("event_id"), Seq("user_id"))
    val shardDirs = SnapshotMerge.readManifest(spark, snap).shards.values.toSeq
    assert(shardDirs.nonEmpty)
    shardDirs.foreach(d =>
      assert(statsFiles(d).isEmpty, s"optimizeSharded wrote a stats file in $d"))
    // a v1 stats file an older build left behind, claiming every file's
    // user_id lies in [0, 0]: trusting it would prune every file away
    val bands = Seq(Layout.Band("user_id", 3L, 5L))
    val (clean, total) = Layout.prunedFiles(spark, s"$dir/z", bands)
    assert(clean.nonEmpty && clean.length < total)
    val names = new java.io.File(s"$dir/z").listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/z/_stats.tsv"),
      (Seq("graft-layout-stats\tv1", "cols\tuser_id") ++
        names.map(n => s"$n\t0\tuser_id\trange\t0\t0")).mkString("\n"))
    val (planted, total2) = Layout.prunedFiles(spark, s"$dir/z", bands)
    assert(total2 == total)
    assert(planted == clean,
      s"a stale stats file changed the selection: ${clean.length} → ${planted.length} files")
    val exact = col("user_id").between(3, 5)
    val pruned = Layout.readPruned(spark, s"$dir/z", bands).filter(exact)
    val full = spark.read.parquet(s"$dir/z").filter(exact)
    assert(full.count() > 0, "fixture vacuous: no rows in the probe band")
    assert(pruned.exceptAll(full).count() == 0)
    assert(full.exceptAll(pruned).count() == 0)
  }

  test("2-dim band: conjunction prunes harder than either dimension alone") {
    val dir = java.nio.file.Files.createTempDirectory("graft_z2d").toString
    // uniform 32×32 grid → 16 z-ordered files ≈ a 4×4 block grid
    val grid = spark.range(1024)
      .select((col("id") / 32).cast("long").as("x"),
        (col("id") % 32).cast("long").as("y"))
    Layout.writeZOrdered(grid, Seq("x", "y"), s"$dir/g", numFiles = 16)
    val bx = Layout.Band("x", 0L, 7L)
    val by = Layout.Band("y", 0L, 7L)
    val selX = Layout.prunedFiles(spark, s"$dir/g", Seq(bx))._1
    val selY = Layout.prunedFiles(spark, s"$dir/g", Seq(by))._1
    val selXY = Layout.prunedFiles(spark, s"$dir/g", Seq(bx, by))._1
    assert(selX.length < 16 && selY.length < 16, "fixture vacuous")
    assert(selXY.length < selX.length && selXY.length < selY.length,
      s"2-dim must out-prune 1-dim: xy=${selXY.length} x=${selX.length} y=${selY.length}")
    // and the conjunction read is still a lossless superset
    val pruned = Layout.readPruned(spark, s"$dir/g", Seq(bx, by))
      .filter(col("x").between(0, 7) && col("y").between(0, 7))
    val full = spark.read.parquet(s"$dir/g")
      .filter(col("x").between(0, 7) && col("y").between(0, 7))
    assert(pruned.exceptAll(full).count() == 0)
    assert(full.exceptAll(pruned).count() == 0)
    assert(full.count() == 64)
  }

  test("timestamp dimension prunes (INT64 micros stats, not INT96)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zts").toString
    Layout.writeZOrdered(events, Seq("ts"), s"$dir/t", numFiles = 8)
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z")
    val hi = java.time.Instant.parse("2024-01-13T00:00:00Z")
    val band = Layout.Band("ts",
      lo.getEpochSecond * 1000000L, hi.getEpochSecond * 1000000L - 1L)
    val (sel, total) = Layout.prunedFiles(spark, s"$dir/t", Seq(band))
    assert(sel.nonEmpty && sel.length < total,
      s"timestamp stats must prune: ${sel.length}/$total — INT96 regression?")
    val cond = col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-01-13 00:00:00").cast("timestamp")
    val pruned = Layout.readPruned(spark, s"$dir/t", Seq(band)).filter(cond)
    val full = spark.read.parquet(s"$dir/t").filter(cond)
    assert(pruned.exceptAll(full).count() == 0)
    assert(full.exceptAll(pruned).count() == 0)
    assert(full.count() > 0, "fixture vacuous: no rows in the time band")
  }

  test("appended unclustered files are footer-read, never lost") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zappend").toString
    val evens = events.filter(col("event_id") % 2 === 0)
    val odds = events.filter(col("event_id") % 2 === 1)
    Layout.writeZOrdered(evens, Seq("user_id", "ts"), s"$dir/z", numFiles = 8)
    Layout.appendUnclustered(odds, s"$dir/z")
    val bands = Seq(Layout.Band("user_id", 3L, 5L))
    val pruned = Layout.readPruned(spark, s"$dir/z", bands)
      .filter(col("user_id").between(3, 5))
    val full = spark.read.parquet(s"$dir/z").filter(col("user_id").between(3, 5))
    assert(pruned.exceptAll(full).count() == 0)
    assert(full.exceptAll(pruned).count() == 0)
    // odd rows in the band came only from appended files
    assert(pruned.filter(col("event_id") % 2 === 1).count() > 0)
  }

  test("bucket_search: known ranks, null propagation, interpreted ≡ codegen") {
    import graft.functions.GraftFunctions.bucket_search
    val bs = typedLit(Seq(1.0, 2.0, 3.0))
    def rank(v: Double): Long =
      Seq(v).toDF("v").select(bucket_search(col("v"), bs)).head.getLong(0)
    assert(rank(0.5) == 0L)
    assert(rank(1.0) == 1L) // value == boundary counts as past it
    assert(rank(2.5) == 2L)
    assert(rank(99.0) == 3L)
    val n = Seq(Option.empty[Double]).toDF("v")
      .select(bucket_search(col("v"), bs))
    assert(n.head.isNullAt(0))
    // interpreted ≡ codegen over real data: binary search against the
    // deciles must agree with the count-of-boundaries-below spelling
    val deciles = typedLit((1 to 9).map(_ * 100.0))
    val vals = events.select(col("value"))
    val viaExpr = vals.select(bucket_search(col("value"), deciles).as("r"))
    val viaSql = vals.select(
      aggregate(deciles, lit(0L),
        (acc, b) => acc + when(col("value") >= b, 1L).otherwise(0L)).as("r"))
    assert(viaExpr.exceptAll(viaSql).count() == 0)
    assert(viaSql.exceptAll(viaExpr).count() == 0)
  }

  test("equidepth ranks keep pruning power on a skewed dimension; content survives") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zdepth").toString
    // exponential skew DECOUPLED from id (v monotone in id would make
    // any id-clustering cluster v for free and the fixture vacuous):
    // ~72% of rows live in the bottom ~0.4% of the value range at
    // bits=8. Partition count pinned (8) — the shared test session's
    // parallelism varies with suite order, and range-exchange sampling
    // + percentile partials both see it; bits pinned equal so the two
    // modes differ ONLY in rank construction
    val skewed = spark.range(0, 10000, 1, 8)
      .select(col("id"),
        exp(pmod(xxhash64(col("id")), lit(10000)) / lit(500.0)).as("v"))
    Layout.writeZOrdered(skewed, Seq("v", "id"), s"$dir/w", numFiles = 16,
      bits = 8)
    Layout.writeZOrdered(skewed, Seq("v", "id"), s"$dir/d", numFiles = 16,
      bits = 8, rankMode = "equidepth")
    // content round-trip under the quantile ranks
    val back = spark.read.parquet(s"$dir/d")
    assert(back.exceptAll(skewed).count() == 0 &&
      skewed.exceptAll(back).count() == 0)
    // the dense low region (~25% of rows, a sliver of the value range):
    // equi-width ranks put ~72% of rows in v-bucket 0, so low-v rows
    // interleave through every z range and ~every file catches them;
    // equi-depth confines the region to its own rank window
    val lowHi = math.exp(5.0) // e ≤ 2500 of 10000
    def selectedLow(path: String): Int = {
      // v is double — footer DoubleStatistics are not integer-backed, so
      // prune via fileStats directly (the diagnostic the stats serve)
      val stats = Layout.fileStats(spark.read.parquet(path), Seq("v"))
        .select(col("min_v"), col("max_v")).collect()
      stats.count(r => r.getDouble(0) <= lowHi) // file admits low-band rows
    }
    val selW = selectedLow(s"$dir/w")
    val selD = selectedLow(s"$dir/d")
    assert(selW >= 13, s"fixture vacuous: equi-width should catch ~all files, got $selW/16")
    assert(selD < selW,
      s"equi-depth must out-prune equi-width on the skewed dim: $selD vs $selW of 16")
    assert(selD <= 10, s"equi-depth low-band files $selD/16 — no concentration")
  }

  test("DateType dimensions range-rank (via epoch days, not an illegal cast)") {
    val df = events.withColumn("day", to_date(col("ts")))
    // a bare DATE→DOUBLE cast is not a legal Spark cast — the rank and
    // the min/max stats must route through unix_date
    val z = Layout.withZValue(df, Seq("day", "user_id"))
    assert(z.count() == df.count())
    assert(z.filter(col("__zvalue").isNull).count() == 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_zdate").toString
    Layout.writeZOrdered(df, Seq("day", "user_id"), s"$dir/z", numFiles = 4)
    assert(spark.read.parquet(s"$dir/z").count() == df.count())
  }
}
