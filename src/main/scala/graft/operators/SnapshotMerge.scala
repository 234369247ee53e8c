package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.sources.Footers

/** A sharded-snapshot commit lost its compare-and-swap: another writer
  * committed the same target version first. Thrown by the maintenance
  * ops ([[SnapshotMerge.optimizeSharded]], [[SnapshotMerge.evolveSharded]],
  * [[SnapshotMerge.migrateSharded]], [[SnapshotMerge.compactSharded]],
  * [[SnapshotMerge.reshardSharded]], [[SnapshotMerge.restoreSharded]]),
  * which must NOT silently redo their work against a moved snapshot —
  * and by [[SnapshotMerge.upsertSharded]] only after its bounded
  * re-read-and-retry loop is exhausted. Everything the losing attempt
  * wrote is already deleted when this surfaces; no committed state is
  * ever touched. */
final class ConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

/** Keyed MERGE (upsert + delete) into a versioned parquet snapshot —
  * the CDC/crawl-loop generalization of the reference's keep-last
  * dedup (`utils/paths.py:75-96`, last write per key wins) from a JSONL
  * ledger to a table-sized snapshot with atomic publication.
  *
  * The snapshot lives as key-hash shard directories behind a versioned
  * manifest ([[createSharded]]). A batch of updates is folded in by
  * [[upsertSharded]] in one pass: rows whose key exists REPLACE the
  * current row, new keys are inserted, and rows flagged in `deleteCol`
  * remove their key. Only the shards the batch's keys hash into are
  * read and rewritten; the new version goes live with one manifest
  * create, so readers see the complete old version or the complete new
  * one, and a crash mid-merge leaves the old version intact. A
  * one-shard snapshot is the unpartitioned case: every batch rewrites
  * the whole snapshot.
  *
  * Key semantics are NULL-SAFE: a null key component matches itself
  * (the anti-join uses `<=>`), consistent with how
  * [[graft.ops.Dedup.keepLast]] groups nulls and how [[shardExpr]]
  * routes them — upserting a null-keyed row REPLACES the existing
  * null-keyed row instead of silently duplicating it.
  *
  * Scale shape: the updates' KEY SET is broadcast (a CDC batch is
  * batch-sized by contract) so the survivor anti-join is map-side —
  * the touched shards never shuffle.
  *
  * Replay: `commitTag` short-circuits an already-committed tag
  * (at-most-once per tag); a crash AFTER the commit but BEFORE the tag
  * marker lands re-runs the merge on replay, which is harmless —
  * upserting the same batch twice is idempotent by construction (the
  * anti-join removes what the re-insert re-adds).
  */
object SnapshotMerge {

  /** Thread bound for the driver-side per-shard metadata round-trips
    * (footer reads, listStatus, exists): overlapped so their latency is
    * not additive in shard count, bounded so a 10k-shard snapshot does
    * not start 10k threads. */
  private val MetadataFanOut = 16

  /** Trailing-slash-insensitive snapshot root (a caller spelling
    * `dir/` must address the same snapshot as `dir`). */
  private def norm(dir: String): String =
    if (dir.length > 1 && dir.endsWith("/")) dir.dropRight(1) else dir

  /** The EXACT column names [[survivorAntiJoin]] reserves for the
    * given keys — the only spellings that can collide (a snapshot
    * column named `__mergekey_notes` under key `id` is harmless). */
  private def reservedKeyNames(keyCols: Seq[String]): Seq[String] =
    keyCols.map(c => s"__mergekey_$c")

  /** Rejects an input frame that carries one of this merge's reserved
    * renamed-key columns — checked at EVERY entry point (including the
    * snapshot-creating first upsert and createSharded), because a
    * reserved column persisted at creation would brick every LATER
    * incremental merge with an ambiguous-reference error. */
  private def requireNoReservedKeyNames(df: DataFrame,
      keyCols: Seq[String], what: String): Unit = {
    val clash = reservedKeyNames(keyCols).filter(df.columns.contains)
    require(clash.isEmpty,
      s"reserved internal column name(s) ${clash.mkString(",")} in $what " +
        s"(the merge renames key columns to __mergekey_<key> internally)")
  }

  /** Refuses key names the manifest header cannot persist: a tab or
    * line break frames the header, [[KeySep]] separates the names. */
  private def requireEncodableKeys(keyCols: Seq[String]): Unit = {
    val bad = keyCols.filter(k => Seq(KeySep, "\t", "\n", "\r").exists(k.contains))
    require(bad.isEmpty,
      s"key name(s) ${bad.map(k => s"'$k'").mkString(", ")} hold a tab, line " +
        "break or \\u001f, which the snapshot manifest cannot persist")
  }

  /** Every writer that routes rows by key names the snapshot's merge
    * keys, in order, exactly as the manifest records them: other keys
    * (or the same keys reordered) hash rows into other shards, and the
    * next merge would then keep two rows for one key. */
  private def requireManifestKeys(op: String, dir: String, m: Manifest,
      keyCols: Seq[String]): Unit =
    require(keyCols == m.keys,
      s"$op at $dir: keyCols ${keyCols.mkString("[", ", ", "]")} are not the " +
        s"snapshot's merge keys ${m.keys.mkString("[", ", ", "]")} (in order) " +
        "— rows would route by a different hash; nothing was committed")

  /** The survivor side of a merge: current rows whose key does NOT
    * appear in the batch's key set. NULL-SAFE equality (`<=>`) on every
    * key component — plain equality would let a null-keyed current row
    * survive its own replacement (nulls never `=` each other) and the
    * re-insert would duplicate it. Spark hash joins support
    * EqualNullSafe keys, so the broadcast shape is preserved.
    * Factored out so the broadcast plan is directly spec-assertable. */
  private[operators] def survivorAntiJoin(current: DataFrame,
      touchedKeys: DataFrame, keyCols: Seq[String]): DataFrame = {
    // same reserved-name discipline as __shard, scoped to the EXACT
    // names this merge renames to — a snapshot column colliding with
    // them would make the join condition ambiguous with an error that
    // names neither cause
    requireNoReservedKeyNames(current, keyCols, "snapshot")
    val keyed = touchedKeys.toDF(keyCols.map(c => s"__mergekey_$c"): _*)
    val cond = keyCols.map(c => col(c) <=> col(s"__mergekey_$c"))
      .reduce(_ && _)
    current.join(broadcast(keyed), cond, "left_anti")
  }

  // ------------------------------------------------------------------
  // Layout: key-hash shard directories behind a MANIFEST (shard →
  // physical dir), and a batch rewrites ONLY the shards its keys touch.
  // Untouched shards are not read, not rewritten, not even listed —
  // merge cost tracks the TOUCHED fraction, not the snapshot. Unchanged
  // data is REFERENCED by the next manifest, not copied — what a table
  // format's metadata layer does, in one small file.
  //
  // The commit record is `manifest-v<N>`, one file per version, in one
  // format (see [[tryCommitManifest]]); the live version is the newest
  // such file (one root listing). Every writer goes through the same
  // two steps: [[writeDelta]] writes the attempt's data under
  // writer-unique `shards-v<N>-<uid>` / `schema-v<N>-<uid>` dirs that
  // nothing references yet, then [[commit]] no-clobber creates
  // `manifest-v<N>`. A crash anywhere before that create leaves the
  // previous version live and the attempt's dirs inert until
  // [[vacuumSharded]] reaps them; once the create lands the version is
  // committed, whatever happens after.
  //
  // COMMIT vs RETIRE are separate phases (the Delta/Iceberg posture):
  // superseded shard dirs, anchors and manifests are never deleted
  // inline. The winning commit records them in a retire log
  // (`_retired/retired-v<N>`, mtime = the moment of supersession) and
  // [[vacuumSharded]] reaps them behind a caller-chosen retention
  // window — so a long-running reader that resolved the OLD manifest
  // keeps a complete, scannable old snapshot for at least `minAgeMs`.
  //
  // CONCURRENCY is optimistic (the Delta commit-file posture): a
  // writer that read version N-1 can publish N only if no one else
  // has, so two concurrent writers (a mergeStream CDC batch racing an
  // optimizeSharded maintenance window, say) can never silently
  // discard each other's committed work. A losing attempt deletes what
  // it wrote; what happens next is per-op: upsertSharded re-reads the
  // moved snapshot and retries its (batch-sized) merge, every other
  // writer fails loudly with [[ConcurrentCommitException]].
  // ------------------------------------------------------------------

  private def retiredDir(dir: String) = s"${norm(dir)}/_retired"

  /** Version tag of the shard-assignment function, persisted in the
    * manifest header: a snapshot built under a DIFFERENT assignment
    * must fail loudly at read (silently looking keys up in the wrong
    * shard dirs would duplicate rows on upsert) — any change to
    * [[shardExpr]]'s encoding must bump this. */
  private val ShardHashVersion = "h1"

  /** Header flag announcing the body ends in a `end\t<n>` count
    * trailer (manifest self-validation — see [[tryCommitManifest]]). */
  private val TrailerFlag = "t1"

  /** Separator of the key-name list in the manifest header: a name
    * holding it (or a tab or line break, which frame the header) cannot
    * be persisted and is refused at [[createSharded]]. */
  private val KeySep = "\u001f"

  /** The default hash salt of [[createSharded]]. */
  private val DefaultSalt = "merge"

  /** (version, nShards, salt, merge key names in order, shard →
    * physical dir, anchor dir, mirrored source version). In-memory
    * paths are always rooted at the snapshot dir the caller named; on
    * disk they are stored RELATIVE to the root, so the snapshot
    * survives being moved/mounted under a different spelling and no
    * maintenance op ever compares paths across spellings.
    * `anchor` is the zero-row schema relation THIS version reads with:
    * schema changes write a fresh `schema-v<N>-<uid>` dir, every other
    * commit carries the anchor forward by reference, and a restore
    * across a schema change rolls the schema back with the data.
    * `mirrors` is the source version a replica's [[copySpan]] copied;
    * only copySpan writes it, so a manifest that records version v holds
    * exactly source version v, and every other writer drops it. */
  private[operators] final case class Manifest(
      version: Long, nShards: Int, salt: String, keys: Seq[String],
      shards: Map[Long, String], anchor: String,
      mirrors: Option[Long] = None)

  /** A stored (relative) path, resolved against the snapshot root. */
  private def resolveShardPath(dir: String, p: String): String =
    s"${norm(dir)}/$p"

  /** The on-disk (relative) spelling of a shard path under `dir`. */
  private def relativizeShardPath(dir: String, p: String): String = {
    val root = norm(dir) + "/"
    if (p.startsWith(root)) p.stripPrefix(root) else p
  }

  /** Writer-unique suffix for a version's delta dir: two writers racing
    * the same target version must never share a physical dir — the
    * loser's `mode=overwrite` write would clobber the winner's
    * already-committed files. The manifest stores whatever dir the
    * winner wrote, so the spelling carries no meaning beyond the
    * `shards-v` / `schema-v` prefixes the vacuum walks. */
  private def writerUid(): String =
    f"${java.util.concurrent.ThreadLocalRandom.current().nextLong() & 0xffffffffL}%08x"

  private def shardExpr(keyCols: Seq[String], nShards: Int,
      salt: String): Column = {
    // \u0001-separated components with a \u0002 null sentinel:
    // ("a", null) ≠ ("a", "") and ("ab","c") ≠ ("a","bc") — the control
    // chars never occur in real key text, so the encoding is injective
    val key = concat_ws("\u0001",
      keyCols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*)
    pmod(Sharding.orderHash(key, salt), lit(nShards.toLong))
  }

  // --- the commit seam: every sharded writer commits through
  // writeDelta + commit, and nothing else partitions by __shard,
  // creates a manifest or writes a retire log (SeamGuardSpec) ---

  /** CAS-creates `manifest-v<version>` — no-clobber, so at most one
    * writer per version number ever wins; false when the version is
    * already committed. The format is the only one readers accept
    * ([[readManifestFile]]): an eight-field tab-separated header
    * `meta, nShards, salt, hash version, anchor, key names, mirrored
    * source version, trailer flag` (key names in order,
    * [[KeySep]]-separated; `-` when the version mirrors nothing), one
    * `shard, path` line per shard (paths relative to the root), and an
    * `end\t<shard-line count>` trailer. The trailer makes the body
    * SELF-VALIDATING: a torn or truncated file (a damaged copy, a
    * partial restore) fails to parse instead of reading as a smaller
    * snapshot. */
  private[operators] def tryCommitManifest(spark: SparkSession, dir: String,
      m: Manifest): Boolean = {
    val header = Seq("meta", m.nShards.toString, m.salt, ShardHashVersion,
      relativizeShardPath(dir, m.anchor), m.keys.mkString(KeySep),
      m.mirrors.fold("-")(_.toString), TrailerFlag).mkString("\t")
    val shardLines = m.shards.toSeq.sortBy(_._1)
      .map { case (k, p) => s"$k\t${relativizeShardPath(dir, p)}" }
    val body = ((header +: shardLines) :+ s"end\t${shardLines.length}")
      .mkString("\n")
    IndexFs.writeSmallFileNoClobber(spark, IndexFs.fs(spark, dir),
      new org.apache.hadoop.fs.Path(s"${norm(dir)}/manifest-v${m.version}"), body)
  }

  /** Writes the retire log entry for version `supersededBy`: the dirs
    * and manifest file it made unreachable. The LOG FILE's mtime is the
    * supersession instant — exactly what [[vacuumSharded]]'s retention
    * window must measure from (a shard dir's own mtime is its WRITE
    * time, which can be arbitrarily older than the merge that retired
    * it). Advisory, not transactional: a torn write degrades to the
    * orphan path (mtime-cutoff reaping), never to data loss. */
  private def writeRetireLog(spark: SparkSession, dir: String,
      supersededBy: Long, retiredDirs: Seq[String],
      retiredManifest: String): Unit = {
    val f = IndexFs.fs(spark, dir)
    val body = (retiredManifest +: retiredDirs.map(relativizeShardPath(dir, _)))
      .mkString("\n")
    val p = new org.apache.hadoop.fs.Path(
      s"${retiredDir(dir)}/retired-v$supersededBy")
    val out = f.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** What one commit attempt wrote: the `shards-v<N>-<uid>` dir, the
    * shard map listed back from it, and the `schema-v<N>-<uid>` anchor
    * when the attempt changes the schema. */
  private[operators] final case class Delta(dir: String,
      shards: Map[Long, String], anchor: Option[String]) {
    def written: Seq[String] = dir +: anchor.toSeq

    /** The version after `base`: this delta's shards replace their own
      * ids and every id in `replaced`; every other shard is carried by
      * reference, and so is the anchor unless this delta wrote one. It
      * mirrors no source version. */
    def over(base: Manifest, replaced: Set[Long] = Set.empty): Manifest =
      base.copy(version = base.version + 1,
        shards = (base.shards -- replaced) ++ shards,
        anchor = anchor.getOrElse(base.anchor), mirrors = None)
  }

  /** `rows` (carrying `__shard`) exchanged so that each of `shards` —
    * the ids being written, which every caller holds on the driver —
    * is one shuffle partition. The partition is the id's dense index,
    * an exact map (a hash of ids 0–7 fills only 4 of 8 partitions), and
    * AQE never coalesces an exchange of explicit width: it coalesced
    * the hashed `__shard` exchange of an upsert rewriting 8 shards (50k
    * rows) into one write task of 0.6–0.7 s. */
  private def byShard(rows: DataFrame, shards: Iterable[Long]): DataFrame = {
    val index = shards.toSeq.distinct.sorted.zipWithIndex.toMap
    rows.repartitionById(math.max(1, index.size),
      element_at(typedLit(index), col("__shard")))
  }

  /** Writes version `version`'s delta: `rows` (carrying `__shard`, laid
    * out as the caller wants the files) partitioned by shard, plus
    * `anchor` as a zero-row schema relation when given. The width
    * invariant: every writer but [[optimizeSharded]] (whose (shard, z)
    * range layout splits a shard into `filesPerShard` slices) lays
    * `rows` out with [[byShard]], so the write runs one task per shard
    * written, and a shard's file count under `maxRecordsPerFile` is that
    * of a single-task write. Shard files are
    * internal — read back only through Spark — so they are written with
    * micros timestamps ([[Layout.withMicrosTimestamps]]), whose INT64
    * stats let a timestamp band prune in [[readShardedPruned]]. */
  private[operators] def writeDelta(spark: SparkSession, dir: String,
      version: Long, rows: DataFrame,
      anchor: Option[DataFrame] = None): Delta = {
    val uid = writerUid()
    val deltaDir = s"${norm(dir)}/shards-v$version-$uid"
    val anchorDir = anchor.map(_ => s"${norm(dir)}/schema-v$version-$uid")
    Layout.withMicrosTimestamps(spark) {
      for (a <- anchor; d <- anchorDir) a.write.mode("overwrite").parquet(d)
      rows.write.partitionBy("__shard").mode("overwrite").parquet(deltaDir)
    }
    val shards = IndexFs.listDirNames(spark, deltaDir)
      .filter(_.startsWith("__shard="))
      .map(n => n.stripPrefix("__shard=").toLong -> s"$deltaDir/$n")
      .toMap
    Delta(deltaDir, shards, anchorDir)
  }

  /** The file-level twin of [[writeDelta]]: version `version`'s delta
    * made by COPYING committed dirs of another snapshot (`shards`: shard
    * id → source shard dir, plus an optional source anchor dir) into the
    * same writer-unique `shards-v<N>-<uid>/__shard=<K>` and
    * `schema-v<N>-<uid>` layout. Driver-side file copies overlapped
    * [[MetadataFanOut]] wide, no Spark job. Copies, never references:
    * the copy outlives the source's vacuum. */
  private[operators] def copyDelta(spark: SparkSession, dir: String,
      version: Long, shards: Map[Long, String],
      anchor: Option[String] = None): Delta = {
    val uid = writerUid()
    val deltaDir = s"${norm(dir)}/shards-v$version-$uid"
    val anchorDir = anchor.map(_ => s"${norm(dir)}/schema-v$version-$uid")
    val copied = shards.map { case (k, _) => k -> s"$deltaDir/__shard=$k" }
    val conf = spark.sparkContext.hadoopConfiguration
    GraftSession.concurrently(spark, MetadataFanOut)(
      (shards.toSeq.sortBy(_._1).map { case (k, src) => src -> copied(k) } ++
        anchor.zip(anchorDir)).map { case (src, dst) => () =>
        val (from, to) = (new org.apache.hadoop.fs.Path(src),
          new org.apache.hadoop.fs.Path(dst))
        require(org.apache.hadoop.fs.FileUtil.copy(from.getFileSystem(conf), from,
          to.getFileSystem(conf), to, false, false, conf),
          s"copying $src to $dst failed")
      })
    Delta(deltaDir, copied, anchorDir)
  }

  /** Commits `next` over `base` (None only for the first version). A
    * lost CAS deletes every dir in `written` and returns false —
    * committed state is untouched and the caller decides what a lost
    * race means. A won CAS retire-logs every dir of `base` that `next`
    * no longer references, plus `base`'s manifest. */
  private[operators] def commit(spark: SparkSession, dir: String,
      base: Option[Manifest], next: Manifest, written: Seq[String]): Boolean = {
    val won = tryCommitManifest(spark, dir, next)
    if (!won) written.foreach(IndexFs.deleteRecursively(spark, _))
    else base.foreach { b =>
      val live = next.shards.values.toSet + next.anchor
      writeRetireLog(spark, dir, next.version,
        (b.shards.toSeq.sortBy(_._1).map(_._2) :+ b.anchor).filterNot(live),
        s"manifest-v${b.version}")
    }
    won
  }

  /** The loud verdict of every writer but upsertSharded on a lost CAS:
    * re-running a rewrite or restore against a snapshot that moved
    * underneath it is an operator decision, never a silent retry. */
  private def lostRace(op: String, dir: String, version: Long) =
    new ConcurrentCommitException(
      s"$op lost the commit race for version $version of $dir — a " +
        "concurrent writer committed first; the snapshot is untouched " +
        "and this attempt was discarded. Re-read and re-run against the " +
        "new current version if still wanted")

  /** The LIVE manifest — the newest committed manifest file (one root
    * listing; a manifest file exists iff its commit CAS won, so the
    * listing can never surface an in-flight version). Fails loudly
    * when `dir` holds no sharded snapshot. */
  private[operators] def readManifest(spark: SparkSession,
      dir: String): Manifest = {
    val versions = shardedVersions(spark, dir)
    require(versions.nonEmpty,
      s"no sharded snapshot at $dir — createSharded first")
    readManifestFile(spark, dir, s"manifest-v${versions.last}")
  }

  /** Reads a named manifest file — shared by [[readManifest]] and the
    * time-travel path. Anything but the [[tryCommitManifest]] format
    * fails loudly and names the file: a torn tail (the header promises
    * a trailer, and a torn read can lose the tail but never the first
    * line), a foreign hash version, or a header missing a field or
    * carrying an empty one. */
  private def readManifestFile(spark: SparkSession, dir: String,
      name: String): Manifest = {
    val lines = IndexFs.readSmallFile(IndexFs.fs(spark, dir),
      new org.apache.hadoop.fs.Path(s"${norm(dir)}/$name"))
      .split("\n").toSeq.filter(_.nonEmpty)
    def corrupt(why: String) = s"corrupt or torn manifest $name at $dir: $why"
    val header = lines.headOption.getOrElse("")
    val meta = header.split("\t", -1)
    require(meta.length == 8 && meta(0) == "meta" && meta(4).nonEmpty &&
      meta(5).split(KeySep, -1).forall(_.nonEmpty) &&
      meta(6).matches("-|\\d+") && meta(7) == TrailerFlag,
      corrupt(s"header '$header' is not meta/nShards/salt/hash version/" +
        s"anchor/key names/mirrored version/$TrailerFlag"))
    require(meta(3) == ShardHashVersion,
      s"$name at $dir was sharded under hash version ${meta(3)}, " +
        s"this build uses $ShardHashVersion — rebuild it (createSharded) " +
        "before merging into it")
    val body = lines.tail
    require(body.nonEmpty && body.last.startsWith("end\t"),
      corrupt("missing end trailer"))
    require(body.last == s"end\t${body.init.length}",
      corrupt(s"trailer '${body.last}' does not match ${body.init.length} " +
        "shard lines"))
    Manifest(name.stripPrefix("manifest-v").toLong, meta(1).toInt, meta(2),
      meta(5).split(KeySep, -1).toSeq,
      body.init.map { l =>
        val Array(k, p) = l.split("\t", 2)
        k.toLong -> resolveShardPath(dir, p)
      }.toMap,
      resolveShardPath(dir, meta(4)),
      Some(meta(6)).filter(_ != "-").map(_.toLong))
  }

  /** A version's rows: the union scan of its shard dirs, or of its
    * zero-row anchor when it holds no shard (shards carry the schema
    * themselves; the anchor keeps an empty version readable with its
    * full schema). */
  private def scan(spark: SparkSession, m: Manifest): DataFrame =
    spark.read.parquet((
      if (m.shards.isEmpty) Seq(m.anchor)
      else m.shards.toSeq.sortBy(_._1).map(_._2)): _*)

  def existsSharded(spark: SparkSession, dir: String): Boolean =
    shardedVersions(spark, dir).nonEmpty

  /** Bootstraps a sharded snapshot: rows land in `nShards` key-hash
    * shard dirs (ONE partitioned write — a hash exchange on the shard
    * key, like any clustered write), plus the zero-row anchor so an
    * all-deleted snapshot stays readable. `nShards` and the hash salt
    * are persisted in the manifest — every later batch derives the
    * IDENTICAL assignment from there, never from its own params — and
    * so are the key names, which every later keyed writer must repeat. */
  def createSharded(df: DataFrame, keyCols: Seq[String], nShards: Int,
      dir: String, salt: String = DefaultSalt): Unit = {
    val spark = df.sparkSession
    require(keyCols.nonEmpty && keyCols.forall(df.columns.contains),
      s"bad key columns $keyCols for ${df.columns.mkString(",")}")
    requireEncodableKeys(keyCols)
    require(nShards > 0, s"nShards=$nShards must be positive")
    require(!df.columns.contains("__shard"),
      "reserved internal column name in input: __shard")
    requireNoReservedKeyNames(df, keyCols, "input")
    require(!existsSharded(spark, dir),
      s"sharded snapshot already exists at $dir — upsertSharded into it")
    val d = writeDelta(spark, dir, 1L,
      byShard(df.withColumn("__shard", shardExpr(keyCols, nShards, salt)),
        0L until nShards),
      anchor = Some(df.limit(0)))
    if (!commit(spark, dir, None,
        Manifest(1L, nShards, salt, keyCols, d.shards, d.anchor.get), d.written))
      throw new ConcurrentCommitException(
        s"sharded snapshot at $dir was created concurrently (version 1 " +
          "already committed) — upsertSharded into it instead")
  }

  /** The current sharded snapshot — a union scan of the manifest's
    * shard dirs (the manifest's zero-row anchor stands in when no
    * shard holds rows, so even an empty snapshot reads with full
    * schema). */
  def readSharded(spark: SparkSession, dir: String): DataFrame =
    scan(spark, readManifest(spark, dir))

  /** The snapshot versions currently READABLE — every manifest whose
    * file [[vacuumSharded]] has not yet reaped, ascending. The newest
    * entry is the live version; older entries are time-travel targets
    * for as long as the retention window keeps them. One driver
    * listing of the snapshot root. */
  def shardedVersions(spark: SparkSession, dir: String): Seq[Long] =
    try {
      IndexFs.fs(spark, dir).listStatus(new org.apache.hadoop.fs.Path(norm(dir)))
        .toSeq
        .filter(st => st.isFile && st.getPath.getName.matches("manifest-v\\d+"))
        .map(_.getPath.getName.stripPrefix("manifest-v").toLong).sorted
    } catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** TIME TRAVEL: the snapshot exactly as version `version` committed
    * it — the emergent read the commit-vs-retire split pays for: every
    * commit leaves its predecessor's manifest AND dirs intact until
    * [[vacuumSharded]]'s window expires, so any version inside the
    * window is a complete, consistent union scan (the Delta/Iceberg
    * `VERSION AS OF` shape). Fails LOUDLY — never a partial result —
    * when the version's manifest or any of its dirs has been vacuumed:
    * a time-travel read outside the retention window is a caller
    * error, not a silently-smaller snapshot. Each version carries its
    * own anchor, so an EMPTY version reads with ITS OWN schema, even
    * across a later [[evolveSharded]]/[[migrateSharded]]. */
  def readShardedVersion(spark: SparkSession, dir: String,
      version: Long): DataFrame =
    scan(spark, requireReadableVersion(spark, dir, version))

  /** Merge `updates` into the snapshot at `dir` by `keyCols`: reads
    * and rewrites ONLY the shards the batch's keys hash into;
    * everything else is carried into the new manifest by REFERENCE.
    * Commit = a CAS-create of the target version's manifest file
    * (atomic, no-clobber); superseded dirs are NOT deleted here — they
    * are logged to `_retired/` and reaped by [[vacuumSharded]] behind
    * its retention window, so a reader that resolved the old manifest
    * keeps a complete old snapshot. A crash before the commit leaves
    * the old manifest resolving the complete old snapshot, and the
    * half-written delta dirs are inert until [[vacuumSharded]] reaps
    * them. The batch must carry the snapshot's exact columns (plus
    * `deleteCol`); widening is the explicit [[evolveSharded]] op.
    *
    * CONCURRENT writers are safe (optimistic concurrency): a writer
    * that read version N can commit N+1 only if nobody else has — a
    * lost CAS re-reads the moved snapshot and REDOES the merge against
    * it, so no committed batch is ever silently discarded. The outcome
    * for keys both writers touch is keep-last in commit order, exactly
    * as if the batches had arrived sequentially. The retry is bounded;
    * exhaustion throws [[ConcurrentCommitException]] rather than
    * spinning against a sustained hotter writer (the batch stays
    * replayable — nothing was committed and the tag was not marked).
    *
    * @param deleteCol boolean column in `updates` marking rows whose
    *        key is REMOVED (the column itself never reaches the
    *        snapshot); null reads as false
    * @param updateOrder when the batch can carry several rows per key,
    *        the within-batch precedence: LAST under this order wins
    *        (the reference's ledger rule, [[graft.ops.Dedup.keepLast]]
    *        spelling). None = the caller guarantees one row per key
    * @param commitTag exactly-once handle: an already-committed tag
    *        skips the merge entirely
    * @param onCommitAttempt hook invoked on EVERY attempt, after the
    *        delta write and immediately before the commit CAS — the
    *        observability/test seam for the race window (count commit
    *        retries, or interleave a competing writer deterministically
    *        the way SnapshotMergeSpec does). Must not mutate this
    *        writer's inputs.
    * @return true if this call merged the batch; false on an
    *         idempotent replay skip */
  def upsertSharded(updates: DataFrame, keyCols: Seq[String], dir: String,
      deleteCol: Option[String] = None,
      updateOrder: Option[Seq[Column]] = None,
      commitTag: Option[String] = None,
      onCommitAttempt: () => Unit = () => ()): Boolean = {
    val spark = updates.sparkSession
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    require(keyCols.forall(updates.columns.contains),
      s"key columns ${keyCols.filterNot(updates.columns.contains)} absent from updates")
    deleteCol.foreach(c => require(updates.columns.contains(c),
      s"deleteCol $c absent from updates"))
    requireNoReservedKeyNames(updates, keyCols, "updates")
    commitTag.foreach(IndexFs.requireValidTag)
    // a snapshot's only tag state is the per-tag marker this writer
    // (and Revisit's first fold) leaves: no commit dirs, no fold files
    if (commitTag.exists(t => IndexFs.exists(spark, s"$dir/committed/$t"))) return false
    // every key of the keep-last batch, deleted or not, knocks its
    // current row out; deleted rows and deleteCol never reach the inserts
    val ranked = updateOrder.fold(updates)(
      graft.ops.Dedup.keepLast(updates, keyCols, _))
    val insertRows = deleteCol.fold(ranked)(c =>
      ranked.filter(!coalesce(col(c), lit(false))).drop(c))

    // everything below depends on the manifest just read, so a lost CAS
    // restarts from here against the moved snapshot: the shard → dir
    // map, the schema anchor and even nShards/salt (reshardSharded) can
    // move between attempts, so shardExpr is re-derived every time
    val maxCommitAttempts = 5
    for (_ <- 1 to maxCommitAttempts) {
      val m = readManifest(spark, dir)
      requireManifestKeys("upsertSharded", dir, m, keyCols)
      val shard = shardExpr(keyCols, m.nShards, m.salt)
      val inserts = insertRows.withColumn("__shard", shard)
      // the key set stays a plan-side distinct: collecting it to the
      // driver as a LocalRelation would embed the key rows in every
      // downstream plan, which costs more analysis and task-binary
      // time than the broadcast build it saves
      val touchedKeys = ranked.select(keyCols.map(col): _*).distinct()
        .withColumn("__shard", shard)
      // the batch's shard footprint — at most nShards rows
      val touched = touchedKeys.select(col("__shard")).distinct()
        .collect().map(_.getLong(0)).toSet
      val keySide = touchedKeys.drop("__shard")

      // schema gate against the zero-row anchor relation, NOT just the
      // touched dirs (a batch landing only in empty shards must not
      // smuggle a divergent schema past the check): the sharded layout
      // does not evolve in place — untouched shards are carried by
      // reference with their old physical schema, so evolution is the
      // explicit evolveSharded/migrateSharded maintenance op
      val anchor = Footers.parquetSchema(spark, m.anchor).getOrElse(
        throw new IllegalStateException(s"anchor ${m.anchor} of $dir records no schema"))
      val anchorCols = anchor.fieldNames
      require(
        anchorCols.sorted.toSeq ==
          inserts.columns.filterNot(_ == "__shard").sorted.toSeq,
        s"upsertSharded schema mismatch: snapshot has " +
          s"${anchorCols.sorted.mkString(",")}, updates bring " +
          s"${inserts.drop("__shard").columns.sorted.mkString(",")} — " +
          "the sharded layout does not evolve in place (untouched shards " +
          "are carried by reference); run evolveSharded first")
      val currentTouchedDirs =
        m.shards.view.filterKeys(touched).values.toSeq
      val survivors =
        if (currentTouchedDirs.isEmpty) inserts.limit(0)
        else {
          // under the anchor's schema, which every shard file was
          // written with (this gate; evolveSharded rewrites all rows):
          // inferring it again from a shard footer costs a job
          val current = spark.read.schema(anchor).parquet(currentTouchedDirs: _*)
          survivorAntiJoin(current, keySide, keyCols)
            .withColumn("__shard", shard)
        }

      val d = writeDelta(spark, dir, m.version + 1,
        byShard(survivors.unionByName(inserts), touched))
      onCommitAttempt()
      // touched shards remap to the delta (one rewritten to zero rows
      // drops out); the rest ride along by reference
      if (commit(spark, dir, Some(m), d.over(m, touched), d.written)) {
        commitTag.foreach(t => IndexFs.markCommitted(spark, dir, t))
        return true
      }
    }
    throw new ConcurrentCommitException(
      s"upsertSharded at $dir lost the commit CAS $maxCommitAttempts " +
        "times in a row — a sustained concurrent writer owns this " +
        "snapshot; back off and replay the batch (idempotent, and " +
        "at-most-once under its commitTag)")
  }

  /** Re-clusters every shard of a sharded snapshot on `clusterCols`
    * ([[Layout]] curve layout, per shard) — the OPTIMIZE that gives the
    * MERGE store the same footer-stat file skipping the plain z-ordered
    * datasets have ([[Layout.readPruned]] /
    * [[readShardedPruned]]). ONE Spark job for all shards: the z-key is
    * computed over the full snapshot (global min/max ranks, so a band
    * maps to the same rank window in every shard), rows are
    * range-exchanged on (shard, z) into ≈`nShards × filesPerShard`
    * slices, and the partitioned write splits boundary slices per
    * shard — clustered files land under each `__shard=` dir, each with
    * a narrow footer-stats window.
    * Commits like every writer ([[commit]]). Content is preserved
    * row-for-row (hash-gated in q_merge_optimize_sharded). A lost CAS
    * (a concurrent CDC batch committed mid-rewrite) throws
    * [[ConcurrentCommitException]] — retrying a FULL-rewrite against a
    * moved snapshot is an operator decision, not something to spin on
    * silently. Maintenance-window cost: one full snapshot
    * read + clustered write — the same posture as [[Layout.optimize]]
    * and the index refits. `keyCols` must be the snapshot's merge keys
    * in order, as the manifest persists them; the shard assignment is
    * recomputed from them, deterministically identical to every
    * batch's. */
  def optimizeSharded(spark: SparkSession, dir: String,
      keyCols: Seq[String], clusterCols: Seq[String],
      filesPerShard: Int = 1, curve: String = "morton",
      rankMode: String = "equiwidth"): Unit = {
    require(filesPerShard > 0, s"filesPerShard=$filesPerShard must be positive")
    val m = readManifest(spark, dir)
    requireManifestKeys("optimizeSharded", dir, m, keyCols)
    require(m.shards.nonEmpty, s"nothing to optimize at $dir (empty snapshot)")
    val current = scan(spark, m)
    require(clusterCols.nonEmpty && clusterCols.forall(current.columns.contains),
      s"bad cluster columns $clusterCols for ${current.columns.mkString(",")}")
    val withShard = current.withColumn("__shard",
      shardExpr(keyCols, m.nShards, m.salt))
    val d = writeDelta(spark, dir, m.version + 1,
      Layout.withZValue(withShard, clusterCols, curve = curve,
          rankMode = rankMode)
        .repartitionByRange(math.max(1, m.shards.size * filesPerShard),
          col("__shard"), col("__zvalue"))
        .sortWithinPartitions("__shard", "__zvalue")
        .drop("__zvalue"))
    if (!commit(spark, dir, Some(m), d.over(m), d.written))
      throw lostRace("optimizeSharded", dir, m.version + 1)
  }

  /** Small-file COMPACTION without re-clustering — the maintenance op
    * between CDC batches and a full [[optimizeSharded]] (Delta's
    * OPTIMIZE minus ZORDER): after N batches a hot shard holds one
    * small file per batch that touched it, and every read of that
    * shard pays N opens. This bin-packs each QUALIFYING shard's files
    * back into one and carries every other shard by reference, so the
    * cost tracks the touched SMALL-FILE bytes, not the snapshot.
    * Qualifying = at least `minFiles` parquet files AND total bytes
    * ≤ `targetFileBytes`: a shard already past the target needs the
    * full re-cluster (which decides row order for the split); plain
    * bin-packing it would write multi-file output in arbitrary order
    * and destroy any clustering it had. Row content is preserved
    * exactly; the compacted file's footer stats span the files it
    * replaces, so pruned reads skip less until the next OPTIMIZE.
    *
    * ONE Spark job for all qualifying shards (each shard's rows tagged
    * with its manifest shard id — no key re-hash, so no `keyCols`
    * param and no reshard risk), then the shared [[commit]] (a lost
    * race throws [[ConcurrentCommitException]]).
    * The per-shard listing fan-out is overlapped
    * ([[GraftSession.concurrently]]). Returns the number of shards
    * compacted (0 = nothing qualified, no version committed). */
  def compactSharded(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minFiles: Int = 2): Int = {
    require(targetFileBytes > 0 && minFiles >= 2,
      s"need targetFileBytes > 0 and minFiles >= 2, got " +
        s"($targetFileBytes, $minFiles)")
    val m = readManifest(spark, dir)
    val f = IndexFs.fs(spark, dir)
    val stats = GraftSession.concurrently(spark, MetadataFanOut)(
      m.shards.toSeq.sortBy(_._1).map { case (k, p) => () =>
        val sts = f.listStatus(new org.apache.hadoop.fs.Path(p))
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        (k, p, sts.length, sts.map(_.getLen).sum)
      })
    val qualifying = stats.filter { case (_, _, n, bytes) =>
      n >= minFiles && bytes <= targetFileBytes }
    if (qualifying.isEmpty) return 0
    // ONE multi-dir scan (not a per-shard union — a 256-leaf union plan
    // costs more to plan and schedule than the data); each row's shard
    // id is recovered from its file's immediate PARENT dir (`__shard=K`
    // — parent-only, so a user root path that happens to contain a
    // `__shard=` segment can never hijack it), evaluated at the scan
    // before the exchange — no key re-hash
    val packed = spark.read.parquet(qualifying.map(_._2): _*)
      .withColumn("__shard",
        regexp_extract(element_at(split(input_file_name(), "/"), -2),
          "^__shard=(\\d+)$", 1).cast("long"))
    val d = writeDelta(spark, dir, m.version + 1,
      byShard(packed, qualifying.map(_._1)))
    if (!commit(spark, dir, Some(m), d.over(m), d.written))
      throw lostRace("compactSharded", dir, m.version + 1)
    qualifying.size
  }

  /** The sharded snapshot's SCHEMA MIGRATION — the maintenance op the
    * [[upsertSharded]] mismatch error points at: rewrites EVERY shard
    * under the union of the current schema and `template`'s (survivor
    * rows null-fill columns only the template brings; a column the
    * template drops is KEPT — evolution only widens, narrowing is
    * [[migrateSharded]]) and writes the widened zero-row anchor as a NEW
    * versioned dir beside the shard delta. Both become visible together
    * at the manifest CAS, so there is no anchor-vs-manifest crash
    * window, and the superseded shard dirs and anchor are retire-logged
    * for [[vacuumSharded]]'s retention window. After it,
    * batches carrying the new columns merge normally. Full-rewrite
    * cost by design — the same maintenance-window posture as
    * [[optimizeSharded]]: the sharded layout's by-reference carry means
    * there is no cheaper sound evolution (untouched shards would keep
    * the old physical schema and every read would need file-level
    * schema merging forever). Shard ASSIGNMENT is untouched (same
    * nShards/salt — keys don't move), so `keyCols` are needed only to
    * recompute each row's shard. A lost commit CAS throws
    * [[ConcurrentCommitException]], like every maintenance op. */
  def evolveSharded(spark: SparkSession, dir: String,
      keyCols: Seq[String], template: DataFrame): Unit = {
    val m = readManifest(spark, dir)
    requireManifestKeys("evolveSharded", dir, m, keyCols)
    val anchor = spark.read.parquet(m.anchor)
    require(!template.columns.contains("__shard"),
      "reserved internal column name in template: __shard")
    // same guard as every other entry point: a __mergekey_<key> column
    // persisted into the shards + anchor here would brick every later
    // upsertSharded at survivorAntiJoin's snapshot check, and
    // widening-only evolution offers no way back short of a rebuild
    requireNoReservedKeyNames(template, keyCols, "template")
    val newCols = template.columns.filterNot(anchor.columns.contains)
    require(newCols.nonEmpty,
      s"nothing to evolve at $dir: template brings no new columns " +
        s"(snapshot already has ${anchor.columns.sorted.mkString(",")})")
    val widened = anchor.limit(0)
      .unionByName(template.limit(0), allowMissingColumns = true)
    val rewrittenRows = scan(spark, m)
      .unionByName(widened.limit(0), allowMissingColumns = true)
      .withColumn("__shard", shardExpr(keyCols, m.nShards, m.salt))
    val d = writeDelta(spark, dir, m.version + 1,
      byShard(rewrittenRows, m.shards.keys), anchor = Some(widened))
    if (!commit(spark, dir, Some(m), d.over(m), d.written))
      throw lostRace("evolveSharded", dir, m.version + 1)
  }

  /** RESTORE — roll the LIVE snapshot back to a retained version (the
    * Delta `RESTORE TABLE ... VERSION AS OF` shape): commits the target
    * version's shard map as a NEW version, so the rollback is itself
    * versioned, CAS-protected against concurrent writers, and
    * time-travel-able (the rolled-back-over versions stay readable
    * inside the retention window — a restore never destroys history).
    * METADATA-ONLY: no shard data moves; the cost is two manifest
    * reads + one commit, regardless of snapshot size. The target must
    * still be inside [[vacuumSharded]]'s window (loud otherwise — same
    * gate as time travel); restoring to the current version is a loud
    * no-op error. Dirs only the superseded current version referenced
    * are retire-logged; dirs the restore makes live again are protected
    * from every pending retire entry by vacuum's liveness check (live
    * paths are never reaped, whatever named them).
    *
    * Composes with the other maintenance ops: the restored manifest
    * carries ITS OWN nShards/salt/key names AND its own schema anchor, so
    * restoring across a [[reshardSharded]] boundary re-activates the
    * old assignment, and restoring across an
    * [[evolveSharded]]/[[migrateSharded]] rolls the SCHEMA (and a
    * migration's key renames) back with the data — the next upsert
    * merges under the restored schema and keys.
    * Returns the new (restored) version number. */
  def restoreSharded(spark: SparkSession, dir: String,
      version: Long): Long = {
    val m = readManifest(spark, dir)
    require(version != m.version,
      s"restoreSharded: version $version IS the live version of $dir")
    val next = requireReadableVersion(spark, dir, version)
      .copy(version = m.version + 1, mirrors = None)
    if (!commit(spark, dir, Some(m), next, Nil))
      throw lostRace("restoreSharded", dir, next.version)
    next.version
  }

  /** RESHARD — change the snapshot's shard COUNT (the answer to
    * [[describeSharded]]'s bytes-skew signal: shards sized for last
    * year's corpus stop matching this year's): a full rewrite under
    * the new assignment (`newNShards`, same salt), committed like
    * every maintenance op (CAS; lost race throws
    * [[ConcurrentCommitException]]; every old shard dir retire-logged).
    * Key VALUES and rows are untouched — only which shard each key
    * hashes into changes, and every later batch reads the new
    * `nShards` from the manifest, so the assignment can never diverge
    * between writers. Old versions time-travel with THEIR assignment
    * (each manifest carries its own params), and a CDF span crossing
    * the reshard compares by value and emits nothing for it. Returns
    * false (committing nothing) when the snapshot is already at
    * `newNShards` — so callers can invoke it idempotently from a
    * maintenance loop. Full-rewrite cost by design. */
  def reshardSharded(spark: SparkSession, dir: String,
      keyCols: Seq[String], newNShards: Int): Boolean = {
    require(newNShards > 0, s"newNShards=$newNShards must be positive")
    val m = readManifest(spark, dir)
    requireManifestKeys("reshardSharded", dir, m, keyCols)
    if (newNShards == m.nShards) return false
    val d = writeDelta(spark, dir, m.version + 1,
      byShard(scan(spark, m).withColumn("__shard",
        shardExpr(keyCols, newNShards, m.salt)), 0L until newNShards))
    if (!commit(spark, dir, Some(m),
        d.over(m, replaced = m.shards.keySet).copy(nShards = newNShards),
        d.written))
      throw lostRace("reshardSharded", dir, m.version + 1)
    true
  }

  /** COLUMN RENAME / DROP migration — the narrowing counterpart of
    * [[evolveSharded]] (which only widens): rewrites EVERY shard under
    * the target schema (`renames` applied, `drops` removed) beside a new
    * zero-row anchor of that schema, and commits like every maintenance
    * op (a lost race throws [[ConcurrentCommitException]]; superseded
    * shard dirs and anchor retire-logged). Old versions keep their OLD
    * schema: shard files are immutable and time travel reads them as
    * written, so a `readShardedVersion` before the migration still
    * shows the dropped column. After it, batches must arrive in the NEW
    * spelling and callers address the snapshot with the NEW key names,
    * which the new manifest records.
    *
    * Renaming a KEY column is legal — the shard assignment hashes key
    * VALUES, which don't move (the assignment is recomputed under the
    * old names before the rename is applied). Dropping a key column is
    * refused: it would merge previously-distinct keys, which is a
    * semantic rekey, not a migration — rebuild via [[createSharded]].
    * Full-rewrite cost by design, same posture (and same reason) as
    * [[evolveSharded]]. */
  def migrateSharded(spark: SparkSession, dir: String, keyCols: Seq[String],
      renames: Map[String, String] = Map.empty,
      drops: Seq[String] = Nil): Unit = {
    val m = readManifest(spark, dir)
    requireManifestKeys("migrateSharded", dir, m, keyCols)
    val anchor = spark.read.parquet(m.anchor)
    val cols = anchor.columns.toSeq
    require(renames.nonEmpty || drops.nonEmpty,
      s"nothing to migrate at $dir: no renames, no drops")
    val absent = (renames.keys ++ drops).filterNot(cols.contains).toSeq
    require(absent.isEmpty,
      s"migrateSharded names absent column(s) ${absent.mkString(",")} " +
        s"(snapshot has ${cols.sorted.mkString(",")})")
    require(!drops.exists(keyCols.contains),
      s"cannot drop key column(s) ${drops.filter(keyCols.contains).mkString(",")} " +
        "— merging distinct keys is a rekey; rebuild with createSharded")
    require(!renames.keys.exists(drops.contains),
      "a column cannot be both renamed and dropped")
    val newKeyCols = keyCols.map(c => renames.getOrElse(c, c))
    requireEncodableKeys(newKeyCols)
    // the target anchor carries every remaining validation: duplicate
    // targets fail in withColumnsRenamed, reserved names in the guards
    val newAnchor = renames.foldLeft(
        drops.foldLeft(anchor.limit(0))(_.drop(_))) {
      case (df, (from, to)) =>
        require(!df.columns.contains(to) || from == to,
          s"rename target $to collides with an existing column")
        df.withColumnRenamed(from, to)
    }
    require(!newAnchor.columns.contains("__shard"),
      "reserved internal column name in migrated schema: __shard")
    requireNoReservedKeyNames(newAnchor, newKeyCols, "migrated schema")

    // shard BEFORE renaming: assignment hashes the same key values
    // every batch hashed, regardless of what the columns are called
    val rewrittenRows = renames.foldLeft(
        drops.foldLeft(
          scan(spark, m).withColumn("__shard", shardExpr(keyCols, m.nShards, m.salt))
        )(_.drop(_))) {
      case (df, (from, to)) => df.withColumnRenamed(from, to)
    }
    // the narrowed anchor lands beside the shard delta and goes live at
    // the same CAS: the old manifest keeps reading the old anchor, the
    // new one the new anchor, and no crash point mixes them
    val d = writeDelta(spark, dir, m.version + 1,
      byShard(rewrittenRows, m.shards.keys), anchor = Some(newAnchor))
    if (!commit(spark, dir, Some(m), d.over(m).copy(keys = newKeyCols),
        d.written))
      throw lostRace("migrateSharded", dir, m.version + 1)
  }

  /** CHANGE DATA FEED between two retained versions — what turns the
    * snapshot from a thing CDC flows INTO into a thing downstream
    * incremental consumers flow OUT of (index maintenance, replication,
    * cache invalidation — the Delta CDF shape): every row-level change
    * that takes version `fromVersion` to `toVersion`, typed in
    * `_change_type` as `insert` / `delete` / `update_preimage` /
    * `update_postimage` (updates emit BOTH images, one row each).
    *
    * Computed from the two version manifests' DIFFERING shards only —
    * shards carried by reference between the versions are provably
    * unchanged and are not read, so the cost tracks the bytes the
    * intervening merges touched, not the snapshot (a span containing an
    * [[optimizeSharded]]/[[evolveSharded]] full rewrite honestly reads
    * everything — and emits nothing for it, because both rewrites
    * preserve content: rows are compared by VALUE, null-safe, never by
    * file identity). Both sides are diffed with ONE null-safe full-outer
    * join on `keyCols` over struct-packed payloads; schemas are widened
    * to their union first, so a span crossing a schema evolution
    * compares old and new rows on common ground (a column one side
    * lacks reads as null there).
    *
    * Both versions must still be inside [[vacuumSharded]]'s retention
    * window — a vacuumed endpoint fails loudly via
    * [[readShardedVersion]]'s checks, never returns a partial feed.
    * `keyCols` are the snapshot's merge keys, caller-owned as
    * everywhere. Deterministic: one output row per (key, change side).
    */
  def readShardedChanges(spark: SparkSession, dir: String,
      keyCols: Seq[String], fromVersion: Long, toVersion: Long,
      changeTypeCol: String = "_change_type"): DataFrame = {
    require(fromVersion < toVersion,
      s"readShardedChanges needs fromVersion < toVersion, got " +
        s"$fromVersion >= $toVersion")
    val mFrom = requireReadableVersion(spark, dir, fromVersion)
    val mTo = requireReadableVersion(spark, dir, toVersion)
    // only shards whose PHYSICAL dir moved can differ; identical
    // entries are byte-identical by the commit protocol (dirs are
    // immutable once committed) and are skipped unread
    val changedIds = (mFrom.shards.keySet ++ mTo.shards.keySet)
      .filter(k => mFrom.shards.get(k) != mTo.shards.get(k))
    def side(m: Manifest): DataFrame = {
      val dirs = m.shards.view.filterKeys(changedIds).values.toSeq.sorted
      if (dirs.isEmpty)
        spark.read.parquet(m.anchor).limit(0)
      else spark.read.parquet(dirs: _*)
    }
    val oldSide = side(mFrom)
    val newSide = side(mTo)
    require(keyCols.nonEmpty &&
      keyCols.forall(c => oldSide.columns.contains(c) &&
        newSide.columns.contains(c)),
      s"bad key columns $keyCols for CDF over $dir " +
        s"(${oldSide.columns.mkString(",")} / ${newSide.columns.mkString(",")})")
    require(!oldSide.columns.contains(changeTypeCol) &&
      !newSide.columns.contains(changeTypeCol),
      s"snapshot already carries a $changeTypeCol column — pass a " +
        "different changeTypeCol")
    // union schema so a cross-evolution span compares on common ground
    val widen = oldSide.limit(0)
      .unionByName(newSide.limit(0), allowMissingColumns = true)
    val dataCols = widen.columns.filterNot(keyCols.contains).toSeq
    def packed(df: DataFrame, payload: String): DataFrame = {
      val w = df.unionByName(widen, allowMissingColumns = true)
      w.select(keyCols.map(col) :+
        struct(dataCols.map(col): _*).as(payload): _*)
    }
    val o = packed(oldSide, "__pre")
    val n = packed(newSide, "__post")
      .toDF(keyCols.map(c => s"__mergekey_$c") :+ "__post": _*)
    val cond = keyCols.map(c => col(c) <=> col(s"__mergekey_$c"))
      .reduce(_ && _)
    val joined = o.join(n, cond, "full_outer")
    val keyOut = keyCols.map(c =>
      coalesce(col(c), col(s"__mergekey_$c")).as(c))
    // one pass over the join: deletes (old only), inserts (new only),
    // and VALUE-changed keys as (pre, post) image pairs — null-safe
    // struct equality makes an untouched row (or a pure
    // re-cluster/evolution rewrite) fall through every branch to a null
    // change array, which explode drops
    val changes = joined.select(keyOut ++ Seq(
      when(col("__post").isNull,
          array(struct(lit("delete").as("t"), col("__pre").as("p"))))
        .when(col("__pre").isNull,
          array(struct(lit("insert").as("t"), col("__post").as("p"))))
        .when(!(col("__pre") <=> col("__post")), array(
          struct(lit("update_preimage").as("t"), col("__pre").as("p")),
          struct(lit("update_postimage").as("t"), col("__post").as("p"))))
        .as("__changes")): _*)
    val exploded = changes
      .select(keyCols.map(col) :+ explode(col("__changes")).as("__c"): _*)
    exploded.select(
      (keyCols.map(col) ++
        dataCols.map(c => col(s"__c.p.$c").as(c))) :+
        col("__c.t").as(changeTypeCol): _*)
  }

  /** REPLICATES one change-feed span of `srcDir` into `replicaDir` —
    * the one path of [[graft.streaming.StreamingOps.replicateSharded]].
    * The invariant: the replica MIRRORS its source file for file. Once
    * span `(fromVersion, toVersion)` commits, the replica's manifest
    * records `toVersion` and carries the source's `toVersion` header
    * (`nShards`, salt, ordered key names) and shard-id set, replica
    * shard K is a copy of source shard K and its anchor a copy of the
    * source's. The span copies the `__shard=K` dirs whose physical path
    * differs between the two source manifests ([[copyDelta]]), plus the
    * `toVersion` anchor when it differs from the `fromVersion` one,
    * drops the ids that left, and commits the replica's next version
    * through [[commit]]. The bootstrap (`fromVersion` = 0) copies every
    * shard and the anchor and replaces whatever the replica held. No
    * Spark job runs: only manifests are read. Copies, never references,
    * so a source vacuum never breaks the replica.
    *
    * A span whose `toVersion` the replica's head already records is
    * done, and skips (a crash between the commit and the caller's
    * checkpoint replays as this skip). Any other span copies only onto
    * a head that records `fromVersion` with `fromVersion`'s header and
    * shard ids — a replica that something else wrote, or one at another
    * version, fails loudly before anything is written. A lost commit
    * race throws [[ConcurrentCommitException]] with the copy deleted
    * (StreamingOpsSpec "replicateSharded: a non-mirror replica, …"
    * commits a restore just before the replica's manifest CAS). */
  private[graft] def copySpan(spark: SparkSession, srcDir: String,
      replicaDir: String, fromVersion: Long, toVersion: Long): Unit = {
    val base = if (existsSharded(spark, replicaDir))
      Some(readManifest(spark, replicaDir)) else None
    if (base.exists(_.mirrors.contains(toVersion))) return
    val to = requireReadableVersion(spark, srcDir, toVersion)
    val from = if (fromVersion == 0L) None
      else Some(requireReadableVersion(spark, srcDir, fromVersion))
    def layout(m: Manifest) = (m.nShards, m.salt, m.keys, m.shards.keySet)
    for (f <- from) require(
      base.exists(r => r.mirrors.contains(fromVersion) && layout(r) == layout(f)),
      s"replica $replicaDir does not mirror version $fromVersion of $srcDir " +
        s"(replica ${base.map(r => (r.mirrors, layout(r))).getOrElse("absent")}, " +
        s"source ${layout(f)}) — nothing was written; clear its checkpoint " +
        "to re-bootstrap it")
    val fromShards = from.fold(Map.empty[Long, String])(_.shards)
    val b = base.getOrElse(to.copy(version = 0L, shards = Map.empty))
    val d = copyDelta(spark, replicaDir, b.version + 1,
      to.shards.filter { case (k, p) => !fromShards.get(k).contains(p) },
      anchor = Some(to.anchor).filterNot(a => from.exists(_.anchor == a)))
    if (!commit(spark, replicaDir, base,
        d.over(b, replaced = b.shards.keySet -- to.shards.keySet)
          .copy(nShards = to.nShards, salt = to.salt, keys = to.keys,
            mirrors = Some(toVersion)),
        d.written))
      throw lostRace("replicateSharded", replicaDir, b.version + 1)
  }

  /** Fails loudly, naming both layouts, unless version `version` of
    * `dir` is sharded `nShards` ways on `keyCols` in order. */
  private[graft] def requireLayout(spark: SparkSession, dir: String,
      version: Long, keyCols: Seq[String], nShards: Int): Unit = {
    val m = readManifestFile(spark, dir, s"manifest-v$version")
    require(m.keys == keyCols && m.nShards == nShards,
      s"version $version of $dir is sharded ${m.nShards} ways on " +
        s"${m.keys.mkString("[", ", ", "]")}, not $nShards ways on " +
        s"${keyCols.mkString("[", ", ", "]")} — nothing was written")
  }

  /** Loud readable-version gate shared by [[readShardedVersion]] and
    * [[readShardedChanges]]: the version's manifest AND every shard dir
    * it references must have survived vacuum. */
  private def requireReadableVersion(spark: SparkSession, dir: String,
      version: Long): Manifest = {
    val name = s"manifest-v$version"
    require(IndexFs.exists(spark, s"${norm(dir)}/$name"),
      s"version $version of $dir is not readable — never committed, or " +
        s"its manifest was vacuumed past the retention window " +
        s"(readable versions: ${shardedVersions(spark, dir).mkString(",")})")
    val m = readManifestFile(spark, dir, name)
    val missing = GraftSession.concurrently(spark, MetadataFanOut)(
        (m.shards.values.toSeq :+ m.anchor).map(p => () =>
          p -> IndexFs.exists(spark, p))).collect { case (p, false) => p }
    require(missing.isEmpty,
      s"version $version of $dir lost ${missing.size} dir(s) to " +
        s"vacuum — raise vacuumSharded's minAgeMs above the longest " +
        s"time-travel horizon (first missing: ${missing.head})")
    m
  }

  /** Footer-stat pruned read over a sharded snapshot (after
    * [[optimizeSharded]]): file selection across every live shard dir
    * from each shard's parquet footers — a SUPERSET of
    * the rows matching `bands` (re-apply the exact filter), same
    * contract as [[Layout.readPruned]]. */
  def readShardedPruned(spark: SparkSession, dir: String,
      bands: Seq[Layout.Band]): DataFrame = {
    val m = readManifest(spark, dir)
    val dirs = m.shards.toSeq.sortBy(_._1).map(_._2)
    // one footer pass per shard, overlapped — serial passes would make
    // the driver stall additive in shard count
    val selected = GraftSession.concurrently(spark, MetadataFanOut)(
      dirs.map(d => () => Layout.prunedFiles(spark, d, bands)._1)).flatten
    if (selected.isEmpty)
      spark.read.parquet(m.anchor).limit(0)
    else spark.read.parquet(selected: _*)
  }

  /** The operational DESCRIBE of a sharded snapshot — one row per live
    * shard: (version, shard, path, files, bytes) — plus what an
    * operator planning maintenance needs to see at a glance: which
    * shards have accumulated small files (the OPTIMIZE signal), how the
    * bytes skew across shards (the re-shard signal), and which version
    * is live. Driver-side metadata listing, O(shards) — the same
    * plane `vacuumSharded` walks; read-only. Retained older versions
    * are visible through [[shardedVersions]], not here. */
  def describeSharded(spark: SparkSession, dir: String): DataFrame = {
    val m = readManifest(spark, dir)
    val f = IndexFs.fs(spark, dir)
    // one listStatus per shard, overlapped — a serial walk makes
    // DESCRIBE latency additive in shard count
    val rows = GraftSession.concurrently(spark, MetadataFanOut)(
      m.shards.toSeq.sortBy(_._1).map { case (k, pth) => () =>
        val sts = f.listStatus(new org.apache.hadoop.fs.Path(pth))
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        (m.version, k, pth, sts.length.toLong, sts.map(_.getLen).sum)
      })
    spark.createDataFrame(rows)
      .toDF("version", "shard", "path", "files", "bytes")
  }

  /** Reaps snapshot state nothing can reach anymore, behind a
    * retention window:
    *
    *  - RETIRED dirs + manifests (logged by every winning [[commit]]
    *    at supersession time): deleted once their
    *    retire-log entry is older than `minAgeMs` — measured from the
    *    SUPERSESSION instant (the log file's mtime), so "readers get at
    *    least `minAgeMs` to finish a scan of the old version" holds
    *    regardless of when the data was originally written.
    *  - ORPHANS (delta dirs a crashed writer half-wrote before its
    *    commit — reachable by no manifest, logged by no retire entry):
    *    under a real window these are reaped CONSERVATIVELY — a
    *    synthesized retire-log entry is written at first sight and the
    *    dir falls to phase 1 a full window later, because an unlogged
    *    dead dir can also be a just-superseded shard whose merge
    *    crashed before its retire-log write (write-time mtime says
    *    nothing about the supersession instant). `minAgeMs = 0` reaps
    *    them immediately on newest-mtime.
    *
    * Liveness is decided on QUALIFIED paths (`fs.makeQualified`) — a
    * caller spelling `dir` differently than at write time (trailing
    * slash, `file:` scheme, a moved snapshot read via relative
    * manifests) can never make a live dir look dead. The current
    * manifest and its shard dirs are never touched. Default
    * `minAgeMs = 0` reaps everything superseded — the spec/CI setting;
    * production callers pass a window comfortably above their longest
    * query (the Delta VACUUM posture). */
  def vacuumSharded(spark: SparkSession, dir: String,
      minAgeMs: Long = 0L): Int = {
    require(minAgeMs >= 0, s"minAgeMs=$minAgeMs must be >= 0")
    val m = readManifest(spark, dir)
    val f = IndexFs.fs(spark, dir)
    def qual(p: String): String =
      f.makeQualified(new org.apache.hadoop.fs.Path(p)).toString
    val cutoff = System.currentTimeMillis() - minAgeMs
    // liveness covers the anchor too: it is a versioned dir the
    // manifest references like any shard dir
    val live = (m.shards.values.toSeq :+ m.anchor).map(qual).toSet
    val curManifest = s"manifest-v${m.version}"
    var reaped = 0
    // version dirs this pass reaped a shard dir from: reaping bumps a
    // dir's own mtime, so their age is that of what they still hold
    val emptied = scala.collection.mutable.Set.empty[String]
    def reap(p: String): Unit = {
      IndexFs.deleteRecursively(spark, p); reaped += 1
      emptied += qual(new org.apache.hadoop.fs.Path(p).getParent.toString)
    }

    // phase 1: expired retire logs — delete what they name, then them.
    // TWO passes over the log files: a path can appear in SEVERAL
    // retire entries (retired at vN, reactivated by restoreSharded,
    // superseded again at vM — a second retire log, or a crash-window
    // orphan marker), so the protection set from ALL unexpired entries
    // must be complete BEFORE any expired entry deletes — a single
    // interleaved pass would reap a dir inside a later entry's
    // retention window, breaking the "readers keep the old version for
    // minAgeMs after supersession" guarantee. A protected path skipped
    // here is reaped one window later, when its protecting entry
    // expires and names it again.
    val rDir = new org.apache.hadoop.fs.Path(retiredDir(dir))
    val protectedPaths = scala.collection.mutable.Set.empty[String]
    val protectedManifests = scala.collection.mutable.Set.empty[String]
    if (f.exists(rDir)) {
      val retireLogs = f.listStatus(rDir).filter(_.isFile)
        .sortBy(_.getPath.getName)
        .map(st => (st, IndexFs.readSmallFile(f, st.getPath)
          .split("\n").map(_.trim).filter(_.nonEmpty)))
      // pass A: everything any UNEXPIRED entry names stays
      retireLogs.foreach { case (st, entries) =>
        if (st.getModificationTime > cutoff) {
          entries.foreach { e =>
            if (e.startsWith("manifest-v")) protectedManifests += e
            else protectedPaths += qual(resolveShardPath(dir, e))
          }
        }
      }
      // pass B: expired entries reap what they name, minus the
      // protected sets, then delete themselves
      retireLogs.foreach { case (st, entries) =>
        if (st.getModificationTime <= cutoff) {
          entries.foreach { e =>
            if (e.startsWith("manifest-v")) {
              if (e != curManifest && !protectedManifests.contains(e)) {
                val mp = new org.apache.hadoop.fs.Path(s"${norm(dir)}/$e")
                if (f.exists(mp)) { f.delete(mp, false); reaped += 1 }
              }
            } else {
              val p = resolveShardPath(dir, e)
              if (!live.contains(qual(p)) &&
                  !protectedPaths.contains(qual(p)) &&
                  IndexFs.exists(spark, p)) {
                reap(p)
              }
            }
          }
          f.delete(st.getPath, false)
        }
      }
    }

    // phase 2: orphans — unreachable and unlogged. With a real window
    // these are NOT reaped on their write-time mtime: an unlogged dead
    // dir can be a JUST-superseded shard whose upsert crashed between
    // the manifest commit and its retire-log write, and its write mtime
    // can be arbitrarily older than the supersession instant — reaping
    // on it would break the "readers keep the old version for minAgeMs
    // after supersession" guarantee across that crash. Instead a
    // retire-log entry is SYNTHESIZED at first sight (mtime = now, the
    // earliest provable supersession bound) and phase 1 reaps it one
    // full window later. True orphans (crashed half-writes) pay the
    // same extra window — slower hygiene, never data loss. minAgeMs=0
    // (the spec/CI setting) keeps the immediate-reap behavior: a zero
    // window waives the reader guarantee by definition.
    val versionDirs = IndexFs.listDirNames(spark, dir)
      .filter(_.startsWith("shards-v")).map(v => s"${norm(dir)}/$v")
    // versioned anchor dirs are top-level candidates with the
    // same orphan rule — an unreferenced one is a crashed writer's
    // debris or a retire-log-crash leftover, never deletable while the
    // live manifest (or an unexpired retire entry) names it
    val anchorCandidates = IndexFs.listDirNames(spark, dir)
      .filter(_.startsWith("schema-v"))
      .map(s => (norm(dir), s"${norm(dir)}/$s"))
    val shardDirCandidates = versionDirs.flatMap { vDir =>
      IndexFs.listDirNames(spark, vDir).filter(_.startsWith("__shard="))
        .map(s => (vDir, s"$vDir/$s"))
    } ++ anchorCandidates
    // the slow per-dir decision input (a recursive mtime walk each) is
    // gathered with overlapped round-trips; the mutations below stay
    // serial and cheap
    val candidateMtimes = GraftSession.concurrently(spark, MetadataFanOut)(
      shardDirCandidates.map { case (_, p) => () =>
        p -> IndexFs.newestMtime(spark, p) }).toMap
    shardDirCandidates.foreach { case (_, p) =>
        val q = qual(p)
        if (!live.contains(q) && !protectedPaths.contains(q)) {
          if (minAgeMs == 0L) {
            if (candidateMtimes(p) <= cutoff) {
              reap(p)
            }
          } else {
            // deterministic name per qualified path: re-sighting never
            // refreshes the window (create only when absent)
            val digest = java.security.MessageDigest.getInstance("MD5")
              .digest(q.getBytes("UTF-8")).map("%02x".format(_)).mkString
            val marker = new org.apache.hadoop.fs.Path(
              s"${retiredDir(dir)}/orphan-$digest")
            if (!f.exists(marker)) {
              val rel = relativizeShardPath(dir, p)
              val out = f.create(marker, false)
              try out.write(rel.getBytes("UTF-8")) finally out.close()
            }
          }
        }
    }
    // a version dir with no shard dir left is a husk (write markers like
    // _SUCCESS, or a crashed job's _temporary, remain) — drop it whole
    versionDirs.foreach { vDir =>
      val rest = f.listStatus(new org.apache.hadoop.fs.Path(vDir))
      if (!rest.exists(_.getPath.getName.startsWith("__shard=")) &&
          rest.forall(st => IndexFs.newestMtime(spark, st.getPath.toString) <= cutoff) &&
          (emptied(qual(vDir)) || IndexFs.newestMtime(spark, vDir) <= cutoff))
        IndexFs.deleteRecursively(spark, vDir)
    }

    // phase 3: superseded manifest FILES no retire log names (a commit
    // that crashed before its retire-log write); the current one and
    // any named by an unexpired retire log stay. Same conservative
    // rule as phase 2: under a real
    // window an UNLOGGED superseded manifest gets a synthesized retire
    // entry (its file mtime is the version's COMMIT time, not its
    // supersession time — reaping on it would shrink a time-travel
    // reader's window across the crash); minAgeMs = 0 reaps inline.
    f.listStatus(new org.apache.hadoop.fs.Path(norm(dir)))
      .filter(st => st.isFile && st.getPath.getName.matches("manifest-v\\d+")
        && st.getPath.getName != curManifest
        && !protectedManifests.contains(st.getPath.getName))
      .foreach { st =>
        val name = st.getPath.getName
        if (minAgeMs == 0L) {
          if (st.getModificationTime <= cutoff) {
            f.delete(st.getPath, false); reaped += 1
          }
        } else {
          val digest = java.security.MessageDigest.getInstance("MD5")
            .digest(name.getBytes("UTF-8")).map("%02x".format(_)).mkString
          val marker = new org.apache.hadoop.fs.Path(
            s"${retiredDir(dir)}/orphanm-$digest")
          if (!f.exists(marker)) {
            val out = f.create(marker, false)
            try out.write(name.getBytes("UTF-8")) finally out.close()
          }
        }
      }
    // CAS tmp debris (a crashed writer's `.manifest-v<N>.cas-<uid>`
    // body that never renamed in): never referenced by anything — reap
    // past the window on write mtime
    f.listStatus(new org.apache.hadoop.fs.Path(norm(dir)))
      .filter(st => st.isFile
        && st.getPath.getName.matches("\\.manifest-v\\d+\\.cas-.*")
        && st.getModificationTime <= cutoff)
      .foreach { st => f.delete(st.getPath, false); reaped += 1 }
    reaped
  }
}
