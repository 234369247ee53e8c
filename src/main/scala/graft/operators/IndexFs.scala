package graft.operators

import org.apache.hadoop.fs.{FileContext, FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Filesystem plumbing for persisted-index maintenance, routed through
  * the Hadoop `FileSystem` API, so the session's Hadoop configuration
  * (`fs.defaultFS`, scheme bindings) applies to every operation.
  *
  * One commit protocol, built on directory rename. A relation publish
  * writes a tmp sibling and swaps it in with two renames
  * ([[publishRelation]]); a tagged append stages its batch under
  * `staged/<tag>/` and lands it with one no-clobber rename to
  * `commits/<tag>/` ([[stagedAppend]]); a manifest commit creates its
  * file with the same no-clobber rename ([[writeSmallFileNoClobber]]).
  * The no-clobber and overwrite primitives go through `FileContext`,
  * and a scheme with no `AbstractFileSystem` binding makes them throw.
  * The no-clobber rename is atomic on HDFS, which rejects an existing
  * destination in the NameNode, and on `file:` under
  * [[graft.LocalFsBinding]], which makes it one link(2) (a file) or
  * rename(2) (a directory) that fails on an existing destination.
  * Hadoop's stock `file:` binding is not atomic here: it checks the
  * destination and then renames, so racing writers could both win, a
  * file could be replaced under its `.crc`, and a directory could be
  * copied into the winner's. Object stores emulate rename as a
  * non-atomic copy-and-delete and are not supported.
  */
private[graft] object IndexFs {

  /** The `FileSystem` owning `path`'s scheme, from the session's Hadoop
    * configuration (so `fs.defaultFS`, credentials, etc. all apply). */
  def fs(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new HPath(path))

  /** Recursive delete; absent paths are a no-op (idempotent cleanup). */
  def deleteRecursively(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new HPath(path)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  /** Directory rename, the atomic-on-HDFS-like-FS commit step. Hadoop's
    * `rename` signals failure by RETURNING false (parent missing, dest
    * exists, cross-FS move) — turn that into a loud error so a failed
    * commit can never read as a successful one. */
  def rename(spark: SparkSession, src: String, dst: String): Unit = {
    val f = fs(spark, src)
    val d = new HPath(dst)
    val parent = d.getParent
    if (parent != null && !f.exists(parent)) f.mkdirs(parent)
    if (!f.rename(new HPath(src), d))
      throw new java.io.IOException(s"IndexFs.rename failed: $src -> $dst")
  }

  /** No-clobber directory rename — the commit step of [[stagedAppend]].
    * Returns true when THIS call moved `src` to `dst`; false when `dst`
    * already exists (a same-tag writer won the race). Built on
    * `FileContext.rename` with `Rename.NONE`, which rejects an existing
    * destination — atomically on HDFS and on `file:` under
    * [[graft.LocalFsBinding]] (one rename(2); see the header). Under
    * Hadoop's stock `file:` binding a racing loser could pass the
    * existence check and then be copied INTO the winner's dir, as
    * `FileSystem.rename` always does with an existing destination
    * directory: the loser's data nested as `dst/<srcName>` while the
    * call returns true. */
  def renameNoClobber(spark: SparkSession, src: String, dst: String): Boolean = {
    val f = fs(spark, src)
    val srcP = f.makeQualified(new HPath(src))
    val dstP = f.makeQualified(new HPath(dst))
    val parent = dstP.getParent
    if (parent != null && !f.exists(parent)) f.mkdirs(parent)
    try { fileContext(spark, srcP).rename(srcP, dstP); true }
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
  }

  /** The `FileContext` of `p`'s scheme; throws for a scheme with no
    * `AbstractFileSystem` binding. */
  private def fileContext(spark: SparkSession, p: HPath): FileContext =
    FileContext.getFileContext(
      p.toUri, spark.sparkContext.hadoopConfiguration)

  /** A tag counts as committed when its commit dir is present (landed,
    * not yet folded), OR its tombstone survives under `committed/`
    * (landed, then folded into the base by a compaction), OR it is
    * recorded in the folded-tombstone relation ([[foldTombstones]]) —
    * the replay-protection check that OUTLIVES both the commit dir and
    * the per-tag tombstone file. Keyed on `commits/<tag>` alone, a
    * batch replayed after a compaction would re-append its rows
    * (duplicates) and, load-side, could no longer exclude its own
    * folded-in data. */
  def isCommitted(spark: SparkSession, path: String, tag: String): Boolean =
    exists(spark, s"$path/commits/$tag") ||
      exists(spark, s"$path/committed/$tag") ||
      foldedTags(spark, path).contains(tag)

  /** Zero-byte tombstone recording that `tag` landed and was folded;
    * written by compaction BEFORE it deletes `commits/<tag>`, so there
    * is no instant at which a landed tag reads as uncommitted. Per-tag
    * files are transient: each compaction ends by folding them into one
    * versioned `_folded-<n>` text file ([[foldTombstones]]), so
    * `committed/` stays O(1) files at any append cadence — unfolded, a
    * tag-per-15-minutes crawl loop would add ~35k listing entries per
    * year per index. A `save*Index` full rebuild wipes the whole tag namespace
    * (commits, staged, committed — fold file included) together. */
  def markCommitted(spark: SparkSession, path: String, tag: String): Unit = {
    // path-safety only, NOT the full new-tag rule: maintenance must be
    // able to tombstone a commit dir that ALREADY EXISTS under a name the
    // new-tag rule no longer accepts (a legacy `_`-prefixed tag) —
    // rejecting it here would abort every future compaction of that
    // index. The fold-file test is exact (`_folded-<digits>`), so
    // even those legacy names can't be misparsed as fold versions.
    requirePathSegment(tag)
    val f = fs(spark, path)
    val p = new HPath(s"$path/committed/$tag")
    if (!f.exists(p)) { f.create(p, true).close() }
  }

  /** Reserved prefix of the folded-tombstone files under `committed/`
    * ([[requireValidTag]] keeps user tags out of this namespace). */
  private val FoldedPrefix = "_folded-"

  /** Fold files are `_folded-<digits>` EXACTLY — a stricter test than a
    * prefix check so a crashed fold's temp file (or a legacy tag that
    * happens to start with `_`) can never be parsed as a version. */
  private def isFoldFile(name: String): Boolean =
    name.startsWith(FoldedPrefix) &&
      name.length > FoldedPrefix.length &&
      name.drop(FoldedPrefix.length).forall(_.isDigit)

  /** Tags recorded in the NEWEST folded-tombstone file (empty when none
    * exists). Fold files are versioned `_folded-<n>`: a fold writes
    * version n+1 (containing everything it absorbs) BEFORE deleting
    * version n and the per-tag files, so a concurrent reader finds
    * every folded tag in whichever version its listing surfaces. The
    * list→open window can still see a version vanish mid-read (the fold
    * deleting what it superseded); that reads again — the replacement
    * version is a superset — and a persistent failure is LOUD, never an
    * empty (silently-wrong) answer. */
  private[graft] def foldedTags(spark: SparkSession, path: String): Set[String] = {
    def readOnce(): Set[String] = {
      val f = fs(spark, path)
      val dir = new HPath(s"$path/committed")
      if (!f.exists(dir)) return Set.empty
      val folds = f.listStatus(dir)
        .filter(s => s.isFile && isFoldFile(s.getPath.getName))
      if (folds.isEmpty) return Set.empty
      val latest = folds.maxBy(_.getPath.getName.stripPrefix(FoldedPrefix).toLong)
      val in = f.open(latest.getPath)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toSet
      finally in.close()
    }
    try readOnce()
    catch { case _: java.io.FileNotFoundException =>
      try readOnce()
      catch { case _: java.io.FileNotFoundException => readOnce() }
    }
  }

  /** Fold the per-tag tombstone files under `committed/` into a single
    * versioned `_folded-<n>` text file (one tag per line) — the growth
    * bound on replay protection: recognition of every folded tag is
    * permanent, but the FILE COUNT under `committed/` stays constant
    * instead of growing by one per folded tag forever. Two orderings
    * make it safe: the new version is written to a temp name and
    * RENAMED into place (a crash mid-write leaves only the temp, which
    * the fold-file test ignores and the next fold deletes — a truncated
    * newest version can never exist), and it lands before anything it
    * absorbed is deleted, so no concurrent [[isCommitted]] probe can
    * miss a tag. Driver-side IO on driver-sized data. */
  private[graft] def foldTombstones(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val dir = new HPath(s"$path/committed")
    if (!f.exists(dir)) return
    val entries = f.listStatus(dir).filter(_.isFile)
    val folds = entries.filter(e => isFoldFile(e.getPath.getName))
    // leftover temp from a crashed fold; stale, single-scheduler contract
    val crashedTmp = entries.filter(_.getPath.getName == FoldTmpName)
    val tagFiles = entries.filterNot(e =>
      isFoldFile(e.getPath.getName) || e.getPath.getName == FoldTmpName)
    if (tagFiles.isEmpty && folds.length <= 1 && crashedTmp.isEmpty) return
    val union = foldedTags(spark, path) ++ tagFiles.map(_.getPath.getName)
    val next =
      (0L +: folds.toSeq.map(_.getPath.getName.stripPrefix(FoldedPrefix).toLong))
        .max + 1
    crashedTmp.foreach(s => f.delete(s.getPath, false))
    val tmp = new HPath(dir, FoldTmpName)
    val out = f.create(tmp, true)
    try out.write((union.toSeq.sorted.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, new HPath(dir, FoldedPrefix + next)))
      throw new java.io.IOException(
        s"IndexFs.foldTombstones: rename of $tmp to version $next failed")
    // only now retire what the new version absorbed
    (folds ++ tagFiles).foreach(s => f.delete(s.getPath, false))
  }

  /** Temp name of an in-progress fold — `_`-prefixed (outside the tag
    * namespace) but NOT a valid fold-file name, so readers ignore it. */
  private val FoldTmpName = "_folding-tmp"

  private[graft] def readSmallFile(f: FileSystem, p: HPath): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** Publish `df` as the new content of relation `dir`: write a tmp
    * sibling, then swap it in with two renames (`dir`, when present, to
    * `.old-publish`, the tmp sibling to `dir`). A crash leaves the old
    * or the new data complete, never neither; one that stops between
    * the two renames leaves no `dir`, which [[rollForwardPublish]]
    * mends before the next write. The two renames are not one atomic
    * step, so a concurrent reader can see a missing dir: an error, never
    * partial data. A first publish goes through the tmp sibling too: a
    * job commit's renames land its files one at a time. */
  def publishRelation(df: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    rollForwardPublish(spark, dir)
    val tmp = dir + ".tmp-publish"
    val old = dir + ".old-publish"
    df.write.mode("overwrite").parquet(tmp)
    deleteRecursively(spark, old)
    if (exists(spark, dir)) rename(spark, dir, old)
    rename(spark, tmp, dir)
    deleteRecursively(spark, old)
  }

  /** Finish a [[publishRelation]] that stopped between its two renames:
    * `dir` is absent and its replacement lies complete (`_SUCCESS`
    * written) in the tmp sibling, so rename it in and drop the old copy.
    * Every writer that reads or appends to a relation calls this first;
    * without it `Layout.appendUnclustered`, the one writer that still
    * appends into a base relation, would write a fresh `dir` holding
    * only its batch, and the next publish would delete the base with
    * `.old-publish`. Readers never call it: a reader racing a live
    * publish would take the tmp sibling from under the publisher's
    * second rename. */
  private[operators] def rollForwardPublish(spark: SparkSession, dir: String): Unit = {
    val tmp = dir + ".tmp-publish"
    if (!exists(spark, dir) && exists(spark, s"$tmp/_SUCCESS")) {
      rename(spark, tmp, dir)
      deleteRecursively(spark, dir + ".old-publish")
    }
  }

  /** Replace a tiny control file (a stream checkpoint) with NO
    * truncation window: write a temp sibling, then rename it over `p`
    * with `FileContext.rename` under `Rename.OVERWRITE` (a bare
    * `create(overwrite = true)` would truncate the LIVE file first, so a
    * crash or a concurrent read in that window sees an empty file and
    * the whole read path bricks). The rename is atomic on HDFS and, under
    * [[graft.LocalFsBinding]], on `file:` (the stock local binding
    * deletes `p` and then renames). A `.crc` sidecar moves in a rename
    * of its own, so `p`'s is dropped first: a crash between the two
    * renames leaves a body without a checksum,
    * never one under the old body's checksum, which no read gets past
    * (CrashSweepSpec's copySpan sweep). */
  private[graft] def atomicWriteSmallFile(spark: SparkSession, f: FileSystem,
      p: HPath, content: String): Unit = {
    val tmp = new HPath(p.getParent, p.getName + ".tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    f match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        c.getRawFileSystem.delete(c.getChecksumFile(p), false)
      case _ =>
    }
    fileContext(spark, p).rename(f.makeQualified(tmp), f.makeQualified(p),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** No-clobber creation of a small control FILE — the compare-and-swap
    * primitive under [[graft.operators.SnapshotMerge]]'s optimistic
    * commit: at most ONE concurrent caller per target path ever returns
    * true, and a reader never observes a partial body. The body is
    * written to a dot-prefixed tmp sibling and moved in with
    * `FileContext.rename` under `Rename.NONE` (the file-shaped twin of
    * [[renameNoClobber]]), which rejects an existing destination
    * atomically on HDFS and on `file:` under [[graft.LocalFsBinding]]:
    * one link(2), so the loser's body never lands, and the winner's
    * `.crc` follows its body. Under Hadoop's stock `file:` binding the
    * check and the rename(2) were two steps, and the body and its `.crc`
    * moved separately: racing writers could both return true, and a
    * body could end up under another writer's `.crc`, unreadable.
    * Returns false when the destination already exists — the caller
    * lost the race (or found a previous crash's committed file, which
    * reads the same way by design). */
  private[graft] def writeSmallFileNoClobber(spark: SparkSession,
      f: FileSystem, p: HPath, content: String): Boolean = {
    if (f.exists(p)) return false // cheap fast-path; the rename is the gate
    val tmp = new HPath(p.getParent,
      s".${p.getName}.cas-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    try { fileContext(spark, p).rename(f.makeQualified(tmp), f.makeQualified(p)); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.ParentNotDirectoryException =>
        f.delete(tmp, false); false
    }
  }

  /** Newest modification time (epoch ms) across `path` and its children
    * two levels deep — the recency signal the staged-orphan reaper uses.
    * One level is not enough: a staged dir's relation subdirs are
    * created once, but their mtimes bump as each part-file lands, so an
    * append actively writing always reads as recent. Returns
    * Long.MinValue for an absent path. */
  private[graft] def newestMtime(spark: SparkSession, path: String): Long = {
    val f = fs(spark, path)
    val p = new HPath(path)
    if (!f.exists(p)) return Long.MinValue
    // entries can vanish mid-walk: the contract ALLOWS tagged appends
    // concurrent with the compaction that calls this (a retry's
    // delete-and-restage, a parquet writer retiring `_temporary`) — a
    // vanished entry is simply not evidence of recency, never a crash
    def mtimes(q: HPath, depth: Int): Seq[Long] =
      try {
        val st = f.getFileStatus(q)
        st.getModificationTime +: (
          if (depth <= 0 || !st.isDirectory) Seq.empty
          else f.listStatus(q).toSeq.flatMap(c => mtimes(c.getPath, depth - 1)))
      } catch { case _: java.io.FileNotFoundException => Seq.empty }
    val all = mtimes(p, 2)
    if (all.isEmpty) Long.MinValue else all.max
  }

  /** Names of the immediate child DIRECTORIES of `path` (empty when the
    * path is absent) — how maintenance enumerates landed commits. */
  def listDirNames(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val p = new HPath(path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** Bare path-segment safety — a `/` or `..` would escape the index's
    * namespace. The floor every tag-shaped input must clear. */
  private def requirePathSegment(tag: String): Unit =
    require(
      tag.nonEmpty && tag != "." && tag != ".." &&
        tag.forall(c => c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"tag must be a [A-Za-z0-9._-]+ path segment, got '$tag'")

  /** Valid NEW commit tags are single path segments — a `/` or `..`
    * would escape the index's `commits/` namespace — and may not start
    * with `_`, which is reserved for index metadata files (the folded
    * tombstones under `committed/`). Applied
    * at append time; maintenance of already-landed names is more
    * permissive ([[markCommitted]]). */
  def requireValidTag(tag: String): Unit = {
    requirePathSegment(tag)
    require(!tag.startsWith("_"),
      s"commit tag must not start with '_' (reserved for index metadata), " +
        s"got '$tag'")
  }

  /** Marker file a refit creates before its first family-changing write
    * and removes after its last — the crash-visibility fix for the one
    * failure mode that LOOKS healthy: a refit that dies between
    * publishing the re-bucketed/re-assigned relations and overwriting
    * the family metadata (or vice versa) leaves an index whose family
    * and assignments disagree, and unlike a crashed save nothing is
    * missing — probes would just silently lose recall. While the marker
    * exists, loads and maintenance refuse loudly
    * ([[requireNoCrashedRefit]]); re-running the refit converges (it
    * derives everything from the family-independent vector relation and
    * republishes family + assignments together), which is the documented
    * recovery. `_`-prefixed: outside the tag namespace, invisible to
    * parquet. */
  private val RefitMarker = "_REFIT-INPROGRESS"

  private[graft] def beginRefit(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    f.create(new HPath(s"$path/$RefitMarker"), true).close()
  }

  private[graft] def endRefit(spark: SparkSession, path: String): Unit =
    deleteRecursively(spark, s"$path/$RefitMarker")

  /** A `save*Index` is a full rebuild: it wipes the whole tag
    * namespace (`commits/`, `staged/`, `committed/` with its fold file)
    * and any crashed-refit marker first, so stale appends never shadow
    * a fresh corpus snapshot and the rebuilt index accepts every tag. */
  private[operators] def resetForRebuild(spark: SparkSession, path: String): Unit = {
    Seq("commits", "staged", "committed")
      .foreach(d => deleteRecursively(spark, s"$path/$d"))
    endRefit(spark, path)
  }

  private[graft] def refitCrashed(spark: SparkSession, path: String): Boolean =
    exists(spark, s"$path/$RefitMarker")

  /** The read-side guard: every index load and non-refit maintenance
    * entry point calls this, so a family/assignment mismatch left by a
    * crashed refit fails LOUDLY at the next touch instead of serving
    * silently-degraded recall. (A reader racing a LIVE refit hits the
    * same error — correctly: refits run under the rebuild contract,
    * single maintainer, no concurrent readers.) */
  def requireNoCrashedRefit(spark: SparkSession, path: String): Unit =
    if (refitCrashed(spark, path)) throw new IllegalStateException(
      s"index at $path has an in-progress or crashed refit " +
        s"($RefitMarker present): its family metadata and bucket/cell " +
        "assignments may disagree (a recall-losing state that looks " +
        "healthy). Re-run the refit to converge, then retry.")

  /** The commit-namespace snapshot every maintenance pass (compaction,
    * refit) takes FIRST: the landed tags it will fold, plus the staged
    * dirs present at start — the only dirs the orphan reap may later
    * consider (anything appearing AFTER the snapshot is a live
    * concurrent append, untouchable). */
  private[graft] final case class MaintenanceSnapshot(
      landed: Seq[String], stagedAtStart: Seq[String])

  private[graft] def maintenanceSnapshot(
      spark: SparkSession, path: String): MaintenanceSnapshot =
    MaintenanceSnapshot(listDirNames(spark, s"$path/commits"),
      listDirNames(spark, s"$path/staged"))

  /** Retire commit tags whose rows a maintenance pass just folded into
    * the rebuilt/compacted base: tombstone BEFORE delete, so a replay
    * arriving between the two still reads the tag as committed and no
    * instant exists at which a folded tag could re-append (idempotence
    * cannot key on the very commit dirs this loop deletes). TextDedupSpec
    * "tombstones: append → compact → replay is a no-op; …" replays
    * inside that window, and CrashSweepSpec crashes at every point of
    * it. THE single copy of this ordering: compaction and both index
    * refits route here. */
  private[graft] def retireFoldedCommits(spark: SparkSession, path: String,
      folded: Seq[String]): Unit =
    folded.foreach { t =>
      markCommitted(spark, path, t)
      deleteRecursively(spark, s"$path/commits/$t")
    }

  /** Reap provably-dead append orphans, then fold tombstones to O(1)
    * files — the shared tail of every maintenance pass. The contract
    * allows tagged appends CONCURRENT with maintenance, so "present at
    * snapshot and still uncommitted" is NOT proof of death — a slow
    * append staged before this pass began may still be mid-write, and
    * deleting under it would let its later relation writes recreate
    * the dir and commit a half-appended batch. Reap only what is
    * provably or overwhelmingly-likely dead: (a) tags already
    * committed (stagedAppend early-returns on those forever — the
    * staged copy can never be consumed), or (b) dirs whose newest
    * mtime, part-files included, is older than the TTL — far longer
    * than any plausible append. */
  private[graft] def reapDeadOrphans(spark: SparkSession, path: String,
      snapshot: MaintenanceSnapshot): Unit = {
    val now = System.currentTimeMillis()
    snapshot.stagedAtStart
      .filter(t => isCommitted(spark, path, t) ||
        now - newestMtime(spark, s"$path/staged/$t") > DefaultStagedOrphanTtlMs)
      .foreach(t => deleteRecursively(spark, s"$path/staged/$t"))
    foldTombstones(spark, path)
  }

  /** Staged-orphan reap age threshold: a staged dir untouched this long
    * (newest part-file mtime) is not a live append. Generous on purpose
    * — reaping is a space reclaim, never a correctness need. */
  private[graft] val DefaultStagedOrphanTtlMs: Long = 24L * 3600 * 1000

  /** The exactly-once half of index appends: write every relation of
    * the batch under `staged/<tag>/`, then commit with ONE no-clobber
    * directory rename to `commits/<tag>/`. Idempotent per tag ACROSS
    * compactions: if the tag [[isCommitted]] — its commit landed, or
    * only its tombstone survives a fold — the batch landed in a prior
    * attempt and NOTHING is written (returns false); a crash before the
    * rename leaves only a `staged/` orphan that the next attempt
    * overwrites and compaction eventually reaps. There is no
    * half-appended state — either every relation of the batch is
    * visible or none is.
    *
    * Concurrency: writers of DISTINCT tags never share a staged or
    * commit dir and may run fully concurrently (spec-proven). Two
    * writers of the SAME tag are formally out of contract (they would
    * interleave inside one staged dir); the rename still resolves the
    * detectable outcome — the loser gets `false` (never the nested
    * `commits/<tag>/<tag>` layout — see [[renameNoClobber]]), its staged
    * copy is discarded, and none of its data mixes into the winner's
    * commit. IndexFsSpec "stagedAppend: same-tag double commit …" and
    * "stagedAppend: a staged dir disturbed mid-write …" act just before
    * the commit rename; CrashSweepSpec crashes at every point. */
  def stagedAppend(spark: SparkSession, path: String, tag: String,
      relations: Seq[(String, org.apache.spark.sql.DataFrame)]): Boolean = {
    requireValidTag(tag)
    if (isCommitted(spark, path, tag)) return false
    val commitDir = s"$path/commits/$tag"
    val stageDir = s"$path/staged/$tag"
    deleteRecursively(spark, stageDir)
    // the batch's relations are independent projections — overlap their
    // writes; nothing is visible until the commit rename
    // below, so the all-or-nothing contract is untouched
    relations match {
      case Seq((n1, d1), (n2, d2)) =>
        graft.GraftSession.concurrently(spark)(
          d1.write.mode("overwrite").parquet(s"$stageDir/$n1"),
          d2.write.mode("overwrite").parquet(s"$stageDir/$n2"))
      case rs => rs.foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$stageDir/$name")
      }
    }
    if (!renameNoClobber(spark, stageDir, commitDir)) {
      deleteRecursively(spark, stageDir)
      return false
    }
    // Post-commit verification that the commit carries EVERY relation of
    // the batch: anything that disturbed the written relations mid-write
    // (an out-of-contract concurrent writer, or an orphan reaper racing
    // a slow append) would otherwise land a half-appended
    // batch — bands without shingles — that silently violates the
    // all-or-nothing invariant and breaks later loads. Fail LOUDLY and
    // clear the commit (the tag has no tombstone yet), so a clean retry
    // can land.
    val missing = relations.map(_._1)
      .filterNot(name => exists(spark, s"$commitDir/$name"))
    if (missing.nonEmpty) {
      deleteRecursively(spark, commitDir)
      throw new java.io.IOException(
        s"IndexFs.stagedAppend: commit '$tag' landed missing relation(s) " +
          s"${missing.mkString(", ")} — the batch's writes were disturbed " +
          "mid-append; commit removed, retry the append")
    }
    true
  }

  /** Parquet dirs holding relation `name` of the index at `path`: the
    * base dir plus every LANDED commit's copy, minus `exclude` — the
    * read-side contract of the staged-append protocol. Excluding a tag
    * is what makes a replayed batch deterministic: it reads the index
    * exactly as its first execution did, blind to its own append. */
  def relationDirs(spark: SparkSession, path: String, name: String,
      exclude: Set[String]): Seq[String] =
    s"$path/$name" +: listDirNames(spark, s"$path/commits")
      .filterNot(exclude)
      .map(tag => s"$path/commits/$tag/$name")
}
