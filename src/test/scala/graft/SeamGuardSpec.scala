package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps cross-cutting seams single: thread pools, execution contexts,
  * persisted-RDD registry reads and local checkpoints are spelled only
  * in `GraftSession.scala` ([[GraftSession.concurrently]],
  * [[GraftSession.localPin]]); shard exchanges, shard-partitioned
  * writes, shard-dir copies, manifest commits and retire logs only in
  * the commit seam of `SnapshotMerge.scala` (`byShard` / `writeDelta` /
  * `copyDelta` / `commit`), and the keyed
  * snapshot has that one format — `SnapshotMerge.scala` and
  * `Revisit.scala` never publish or resolve a flat relation; parquet
  * footers are read only by `Footers.footer`'s tail read; job
  * descriptions are set only by `GraftSession` (`withJobLabels`,
  * `concurrently`); the `file:`
  * binding is spelled only in `LocalFsBinding.scala` and registered
  * only in `GraftSession`'s settings list; and no `spark.graft.*` conf
  * key but the scratch dir exists. */
class SeamGuardSpec extends AnyFunSuite {

  private val banned =
    Seq("newFixedThreadPool", "ExecutionContext.from", "getPersistentRDDs", "localCheckpoint(")

  private def sources(): Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("thread pools, execution contexts, RDD-registry reads and local checkpoints live only in GraftSession") {
    val files = sources()
    val seam = files.filter(_.getFileName.toString == "GraftSession.scala")
    assert(seam.size == 1, "the scan must see GraftSession.scala")
    assert(files.size > 50, s"the scan saw only ${files.size} sources")
    val seamText = new String(Files.readAllBytes(seam.head), "UTF-8")
    assert(seamText.contains("newFixedThreadPool") && seamText.contains("localCheckpoint("),
      "GraftSession.scala must hold the seams the guard protects")
    val offenders = for {
      f <- files if f != seam.head
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      token <- banned if line.contains(token)
    } yield s"$f:${n + 1}: $token"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  private val commitTokens =
    Seq("repartitionById(", """.partitionBy("__shard")""", "FileUtil.copy(",
      "tryCommitManifest(", "writeRetireLog(")

  /** A hand-written shard exchange, in any spelling (`col("__shard")`,
    * `$"__shard"`, with or without a width), which the seam's `byShard`
    * replaces: AQE coalesced it, so one task wrote every shard.
    * `optimizeSharded`'s `repartitionByRange(` is not one. */
  private def handShardExchange(line: String): Boolean =
    line.contains("repartition(") && line.contains("\"__shard\"")

  private val flatSnapshotTokens = Seq("publishRelation(", "resolveDir(")

  test("shard-partitioned writes, manifest commits and retire logs live only in the commit seam") {
    val files = sources()
    val merge = files.filter(_.getFileName.toString == "SnapshotMerge.scala")
    assert(merge.size == 1, "the scan must see SnapshotMerge.scala")
    val lines = Files.readAllLines(merge.head).asScala.toIndexedSeq
    // the seam: from tryCommitManifest's definition to the end of commit's
    val start = lines.indexWhere(_.contains("def tryCommitManifest("))
    val commitDef = lines.indexWhere(_.contains("def commit("))
    val end = lines.indexWhere(_ == "  }", commitDef)
    assert(start >= 0 && start < commitDef && commitDef < end,
      "the seam must run from tryCommitManifest to the end of commit")
    val seam = lines.slice(start, end + 1)
    commitTokens.foreach(t =>
      assert(seam.exists(_.contains(t)), s"the commit seam must hold $t"))
    val offenders = for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if !(f == merge.head && n >= start && n <= end)
      token <- commitTokens.filter(line.contains) ++
        Seq("a hand-written shard exchange").filter(_ => handShardExchange(line))
    } yield s"$f:${n + 1}: $token"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
    val snapshotFiles = files.filter(f =>
      Set("SnapshotMerge.scala", "Revisit.scala")(f.getFileName.toString))
    assert(snapshotFiles.size == 2, "the scan must see SnapshotMerge.scala and Revisit.scala")
    val flatOffenders = for {
      f <- snapshotFiles
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      token <- flatSnapshotTokens if line.contains(token)
    } yield s"$f:${n + 1}: $token"
    assert(flatOffenders.isEmpty,
      "the keyed snapshot commits only through the manifest:" +
        flatOffenders.mkString("\n", "\n", ""))
  }

  test("job descriptions are set only in GraftSession") {
    val files = sources()
    val seam = files.filter(_.getFileName.toString == "GraftSession.scala")
    assert(seam.size == 1, "the scan must see GraftSession.scala")
    assert(new String(Files.readAllBytes(seam.head), "UTF-8").contains("def withJobLabels["),
      "GraftSession.scala must hold the job-label seam")
    val offenders = for {
      f <- files if f != seam.head
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("setJobDescription")
    } yield s"$f:${n + 1}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  private val footerTokens = Seq("ParquetFileReader", "readFooter")

  test("parquet footers are read only in Footers") {
    val files = sources()
    val seam = files.filter(_.getFileName.toString == "Footers.scala")
    assert(seam.size == 1, "the scan must see Footers.scala")
    assert(new String(Files.readAllBytes(seam.head), "UTF-8").contains("def footer("),
      "Footers.scala must hold the footer reader")
    val offenders = for {
      f <- files if f != seam.head
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      token <- footerTokens if line.contains(token)
    } yield s"$f:${n + 1}: $token"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  private val bindingTokens =
    Seq("RawLocalFileSystem", "DelegateToFileSystem", "fs.file.impl", "fs.AbstractFileSystem.")

  test("the file: binding lives only in LocalFsBinding and GraftSession's settings list") {
    val files = sources()
    val binding = files.filter(_.getFileName.toString == "LocalFsBinding.scala")
    val session = files.filter(_.getFileName.toString == "GraftSession.scala")
    assert(binding.size == 1 && session.size == 1,
      "the scan must see LocalFsBinding.scala and GraftSession.scala")
    val lines = Files.readAllLines(session.head).asScala.toIndexedSeq
    // the list: from its definition to the first blank line
    val start = lines.indexWhere(_.contains("private val settings = Seq("))
    val end = lines.indexWhere(_.trim.isEmpty, start)
    assert(start >= 0 && end > start, "GraftSession.scala must hold the settings list")
    Seq("fs.file.impl", "fs.AbstractFileSystem.").foreach(t =>
      assert(lines.slice(start, end).exists(_.contains(t)), s"the settings list must hold $t"))
    val offenders = for {
      f <- files if f != binding.head
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if !(f == session.head && n >= start && n < end)
      token <- bindingTokens if line.contains(token)
    } yield s"$f:${n + 1}: $token"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  /** A function-typed parameter with a default (`hook: () => Unit =
    * () => ()`) is a test hook in an operator's signature. Crash and
    * race windows are driven through the `fault:` file system
    * ([[FaultFs]]) instead; `upsertSharded`'s `onCommitAttempt` stays,
    * because the benchmark counts commit attempts through it. */
  private val hookParam = """=>\s*Unit\s*=(?!>)""".r

  test("no operator takes a test hook but upsertSharded's onCommitAttempt") {
    val ops = sources().filter(_.toString.contains("/graft/operators/"))
    assert(ops.size > 20, s"the scan saw only ${ops.size} operator sources")
    val hooks = for {
      f <- ops
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if hookParam.findFirstIn(line).isDefined
    } yield (f, n, line)
    val allowed = hooks.filter { case (f, _, line) =>
      f.getFileName.toString == "SnapshotMerge.scala" && line.contains("onCommitAttempt:") }
    def at(h: (Path, Int, String)) = s"${h._1}:${h._2 + 1}: ${h._3.trim}"
    assert(allowed.size == 1,
      "exactly one onCommitAttempt, upsertSharded's:" + allowed.map(at).mkString("\n", "\n", ""))
    val offenders = (hooks diff allowed).map(at)
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  /** Engine behaviour is chosen by code, not by `spark.graft.*` conf
    * knobs; the one key allowed names a deployment path. */
  private val allowedGraftKeys = Set("\"spark.graft.scratchDir\"")

  test("no spark.graft conf key in src/main but the scratch dir") {
    val literal = "\"spark\\.graft\\.[^\"]*\"?".r
    val found = for {
      f <- sources()
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      key <- literal.findAllIn(line)
    } yield (s"$f:${n + 1}", key)
    assert(found.exists(x => allowedGraftKeys(x._2)),
      "the scan must see the scratch dir key")
    val offenders = found.filterNot(x => allowedGraftKeys(x._2))
      .map { case (at, key) => s"$at: $key" }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
