package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{FaultFs, SparkSpec}
import graft.streaming.StreamingOps

/** Every storage writer, crashed at every crash point ([[FaultFs]]).
  * A writer runs once on a copy of its fixture to count its crash
  * points, n; then for every k ≤ n a fresh copy is crashed at point k
  * and three things must hold:
  *  1. a reader sees the complete old state, the complete new state or
  *     an error the writer documents (a publish stopped between its
  *     renames, a refit's `_REFIT-INPROGRESS`), never other rows;
  *  2. re-running the writer (same tag) gives the no-crash result;
  *  3. vacuum or compaction, with dirs aged past retention, then leaves
  *     no dir that nothing references.
  * This is the crash-point enumeration of ALICE (Pillai et al., OSDI
  * 2014) and CrashMonkey (Mohan et al., OSDI 2018) at the Hadoop
  * `FileSystem` API. Unsynced data is not modelled: a mutation that
  * returned is durable. Mutations inside a write job's `_temporary/`
  * form one crash point per run of them (see [[FaultFs]]).
  *
  * `Layout.appendUnclustered` is not swept: it has no replay handle and
  * its job commit lands its files one rename at a time, so a crash can
  * show part of a batch and a re-run appends the batch twice. */
class CrashSweepSpec extends SparkSpec {
  import CrashSweepSpec._

  private lazy val root: Path = {
    FaultFs.install(spark.sparkContext.hadoopConfiguration)
    Files.createTempDirectory("crash_sweep")
  }

  private def df(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name")
  }

  /** The bag of rows a frame holds, columns by name, with its sorted
    * column list first. */
  private def rows(d: DataFrame): Seen = {
    val cols = d.columns.sorted.toSeq
    Rows(cols.mkString(",") +:
      d.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted)
  }

  private def distinctRows(d: DataFrame): Seq[String] = rows(d.distinct()) match {
    case Rows(b) => b
    case other => Seq(other.toString)
  }

  private def local(u: String): Path = Paths.get(u.stripPrefix(s"${FaultFs.Scheme}:"))

  private def exists(u: String): Boolean = Files.exists(local(u))

  /** Every path under `u`, relative, `.crc` sidecars excluded. */
  private def tree(u: String): Seq[String] = {
    val base = local(u)
    if (!Files.exists(base)) Nil
    else {
      val walk = Files.walk(base)
      try walk.iterator().asScala.filter(_ != base).map(p => base.relativize(p).toString)
        .filterNot(_.endsWith(".crc")).toList.sorted
      finally walk.close()
    }
  }

  private def dirs(u: String): Seq[String] = {
    val p = local(u)
    if (!Files.isDirectory(p)) Nil
    else {
      val ls = Files.list(p)
      try ls.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toList.sorted
      finally ls.close()
    }
  }

  /** Sets every mtime under `u` a day and a half back: past the staged
    * orphan TTL and any retention window. */
  private def age(u: String): Unit = {
    val old = FileTime.fromMillis(System.currentTimeMillis() - 36L * 3600 * 1000)
    if (exists(u)) {
      val walk = Files.walk(local(u))
      try walk.iterator().asScala.toList.foreach(Files.setLastModifiedTime(_, old))
      finally walk.close()
    }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.toList.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toList.reverse.foreach(Files.delete)
    finally walk.close()
  }

  /** `_temporary` dirs and publish siblings anywhere under `u`. */
  private def debris(u: String): Seq[String] =
    tree(u).filter(p => p.split('/').exists(s =>
      s == "_temporary" || s.endsWith(".tmp-publish") || s.endsWith(".old-publish")))

  // --- the sharded snapshot ---

  private def snapshot(u: String): Seen =
    if (!SnapshotMerge.existsSharded(spark, u)) Absent
    else rows(SnapshotMerge.readSharded(spark, u))

  /** Dirs under the snapshot root the live manifest does not reference,
    * and CAS bodies that never renamed in. */
  private def snapshotLeftovers(u: String): Seq[String] = {
    val m = SnapshotMerge.readManifest(spark, u)
    val live = (m.shards.values.toSeq :+ m.anchor).map(_.stripPrefix(u + "/")).toSet
    val top = dirs(u)
    top.filter(_.startsWith("shards-v")).flatMap { v =>
      val kids = dirs(s"$u/$v").filter(_.startsWith("__shard=")).map(k => s"$v/$k")
      if (kids.isEmpty) Seq(v) else kids.filterNot(live)
    } ++ top.filter(s => s.startsWith("schema-v") && !live(s)) ++
      tree(u).filter(_.contains(".cas-")) ++ debris(u)
  }

  private def snapshotWriter(name: String, build: String => Unit,
      run: String => Unit, at: String => String = u => u): Writer =
    Writer(name, build, run, u => snapshot(at(u)), (_, _) => false,
      u => { SnapshotMerge.vacuumSharded(spark, at(u), minAgeMs = 0); () },
      u => snapshotLeftovers(at(u)))

  private val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
  private def create(u: String): Unit =
    SnapshotMerge.createSharded(df(v1: _*), Seq("id"), 2, u)
  private def upsert(u: String): Unit = {
    SnapshotMerge.upsertSharded(df((2L, "b2"), (5L, "e")), Seq("id"), u); ()
  }

  private def snapshotWriters: Seq[Writer] = Seq(
    snapshotWriter("createSharded", _ => (),
      u => if (!SnapshotMerge.existsSharded(spark, u)) create(u)),
    snapshotWriter("upsertSharded", create, upsert),
    snapshotWriter("upsertSharded (tagged)", create, u => {
      SnapshotMerge.upsertSharded(df((2L, "b2"), (5L, "e")), Seq("id"), u,
        commitTag = Some("t1")); ()
    }),
    snapshotWriter("compactSharded",
      u => {
        SnapshotMerge.createSharded(df((1L to 8L).map(i => (i, s"n$i")): _*), Seq("id"), 2, u)
        SnapshotMerge.optimizeSharded(spark, u, Seq("id"), Seq("id"), filesPerShard = 2)
      },
      u => { SnapshotMerge.compactSharded(spark, u); () }),
    snapshotWriter("optimizeSharded", create,
      u => SnapshotMerge.optimizeSharded(spark, u, Seq("id"), Seq("id"))),
    snapshotWriter("evolveSharded", create, u =>
      if (!SnapshotMerge.readSharded(spark, u).columns.contains("score"))
        SnapshotMerge.evolveSharded(spark, u, Seq("id"),
          df((9L, "z")).withColumn("score", lit(1.5)))),
    snapshotWriter("reshardSharded", create,
      u => { SnapshotMerge.reshardSharded(spark, u, Seq("id"), 3); () }),
    snapshotWriter("migrateSharded", create, u =>
      if (SnapshotMerge.readSharded(spark, u).columns.contains("name"))
        SnapshotMerge.migrateSharded(spark, u, Seq("id"), renames = Map("name" -> "title"))),
    snapshotWriter("restoreSharded", u => { create(u); upsert(u) },
      u => { SnapshotMerge.restoreSharded(spark, u, 1L); () }),
    snapshotWriter("copySpan (replicateSharded)",
      u => {
        create(s"$u/src")
        StreamingOps.replicateSharded(spark, s"$u/src", s"$u/rep", Seq("id"), s"$u/ck",
          nShards = 2)
        upsert(s"$u/src")
      },
      u => {
        StreamingOps.replicateSharded(spark, s"$u/src", s"$u/rep", Seq("id"), s"$u/ck",
          nShards = 2); ()
      },
      at = u => s"$u/rep"),
    snapshotWriter("vacuumSharded", u => { create(u); upsert(u); upsert(u) },
      u => { SnapshotMerge.vacuumSharded(spark, u, minAgeMs = 0); () }))

  // --- the persisted indexes ---

  private def sent(i: Int) = (0 until 12).map(j => s"w${i * 31 + j * 7}").mkString(" ")
  private def docs(rows: (Long, String)*): DataFrame = df(rows: _*).toDF("doc_id", "text")
  private val baseDocs = (0L until 8L).map(i => (i * 2, sent(i.toInt)))
  private val batchDocs = Seq((101L, sent(500)), (103L, sent(501)))

  /** Whether a replay of the fixtures' append tag `b1` would be skipped. */
  private def replayed(u: String): String = s"b1 committed: ${IndexFs.isCommitted(spark, u, "b1")}"

  /** The index's distinct row sets (probes emit each pair once however
    * many copies of a row it holds) and the append tag's replay
    * protection. */
  private def minhash(u: String): Seen = {
    val idx = TextDedup.loadMinhashIndex(spark, u)
    Rows(replayed(u) +: (distinctRows(idx.bands) ++ distinctRows(idx.shingles)))
  }

  private def vec(i: Int): Seq[Float] = {
    val r = new scala.util.Random(i)
    Seq.fill(8)(r.nextGaussian().toFloat)
  }
  private def vecs(ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
  }
  private def embedding(u: String): Seen = {
    val idx = TextDedup.loadEmbeddingIndex(spark, u)
    Rows(replayed(u) +: (distinctRows(idx.buckets) ++ distinctRows(idx.vectors) ++
      distinctRows(spark.read.parquet(s"$u/meta"))))
  }

  private def ivf(u: String): Seen = {
    val idx = Similarity.loadIvfIndex(spark, u)
    Rows(Seq(replayed(u), s"centroids: ${idx.centroids.count()}") ++
      distinctRows(idx.cells.select("id", "vec")))
  }

  /** The index dirs a compaction must leave empty, and debris. */
  private def indexLeftovers(u: String): Seq[String] =
    dirs(s"$u/staged").map("staged/" + _) ++ dirs(s"$u/commits").map("commits/" + _) ++
      debris(u) ++ tree(u).filter(_ == "_REFIT-INPROGRESS")

  /** A relation missing between a publish's two renames, with its
    * replacement complete: the documented loud state. */
  private def betweenRenames(u: String, rels: Seq[String]): Boolean =
    rels.exists(r => !exists(s"$u/$r") && exists(s"$u/$r.tmp-publish/_SUCCESS"))

  private def refitMarked(u: String, msg: String): Boolean =
    msg.contains("_REFIT-INPROGRESS") && exists(s"$u/_REFIT-INPROGRESS")

  private def indexWriter(name: String, build: String => Unit, run: String => Unit,
      read: String => Seen, compact: String => Unit, rels: Seq[String],
      refit: Boolean = false): Writer =
    Writer(name, build, run, read,
      (u, msg) => betweenRenames(u, rels) || (refit && refitMarked(u, msg)),
      u => { age(u); compact(u) }, indexLeftovers)

  private def saveMinhash(u: String): Unit =
    TextDedup.saveMinhashIndex(docs(baseDocs: _*), "doc_id", "text", u)
  private def appendMinhash(u: String): Unit = {
    TextDedup.appendToMinhashIndex(docs(batchDocs: _*), "doc_id", "text", u, "b1"); ()
  }

  private def indexWriters: Seq[Writer] = Seq(
    indexWriter("stagedAppend (appendToMinhashIndex)", saveMinhash, appendMinhash,
      minhash, TextDedup.compactMinhashIndex(spark, _), Seq("bands", "shingles")),
    indexWriter("compactIndex (compactMinhashIndex)",
      u => { saveMinhash(u); appendMinhash(u) },
      TextDedup.compactMinhashIndex(spark, _),
      minhash, TextDedup.compactMinhashIndex(spark, _), Seq("bands", "shingles")),
    indexWriter("refitEmbeddingIndex",
      u => {
        TextDedup.saveEmbeddingIndex(vecs(0L until 12L), "vec_id", "embedding", u,
          threshold = 0.9, bits = 2)
        TextDedup.appendToEmbeddingIndex(vecs(Seq(101L)), "vec_id", "embedding", u, "b1")
        ()
      },
      u => TextDedup.refitEmbeddingIndex(spark, u, bits = 3),
      embedding, TextDedup.compactEmbeddingIndex(spark, _), Seq("buckets", "vectors"),
      refit = true),
    indexWriter("refitIvfIndex",
      u => {
        Similarity.saveIvfIndex(vecs(0L until 12L), "vec_id", "embedding", u, nCentroids = 2)
        Similarity.appendToIvfIndex(vecs(Seq(101L)), "vec_id", "embedding", u, "b1")
        ()
      },
      u => Similarity.refitIvfIndex(spark, u),
      ivf, Similarity.compactIvfIndex(spark, _), Seq("cells"), refit = true))

  // --- publishRelation and the clustered layout ---

  private val layoutRows = (0L until 8L).map(i => (i, i % 3, (i * 7) % 5))
  private def layoutDf(rs: Seq[(Long, Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rs.toDF("id", "a", "b")
  }

  private def relationWriter(name: String, build: String => Unit, run: String => Unit): Writer =
    Writer(name, build, run,
      u => if (exists(s"$u/t")) rows(spark.read.parquet(s"$u/t"))
        else if (betweenRenames(u, Seq("t"))) Loud("a publish stopped between its renames")
        else Absent,
      (u, _) => betweenRenames(u, Seq("t")), _ => (), debris)

  private def relationWriters: Seq[Writer] = Seq(
    relationWriter("publishRelation (first)", _ => (),
      u => IndexFs.publishRelation(df(v1: _*).repartition(2), s"$u/t")),
    relationWriter("publishRelation", u => IndexFs.publishRelation(df(v1: _*), s"$u/t"),
      u => IndexFs.publishRelation(df((7L, "g"), (8L, "h")).repartition(2), s"$u/t")),
    relationWriter("Layout.optimize",
      u => {
        Layout.writeZOrdered(layoutDf(layoutRows), Seq("a", "b"), s"$u/t", numFiles = 2)
        Layout.appendUnclustered(layoutDf(Seq((100L, 1L, 1L))), s"$u/t")
      },
      u => Layout.optimize(spark, s"$u/t", Seq("a", "b"), numFiles = 2)))

  // --- the sweep ---

  private def seen(w: Writer, u: String): Seen =
    try w.read(u)
    catch {
      case e: Exception =>
        Loud(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(x => String.valueOf(x.getMessage)).mkString(" / "))
    }

  /** Crash runs proceed side by side, each on its own copy under its
    * own [[FaultFs.scope]]. */
  private val Legs = 6

  private def sweep(w: Writer): Unit = {
    val dir = Files.createDirectories(root.resolve(w.name.replaceAll("[^A-Za-z]+", "_")))
    val fixture = Files.createDirectories(dir.resolve("fixture"))
    w.build(FaultFs.uri(fixture.toString))
    /** A fresh copy of the fixture, named `k<k>`, and its control. */
    def fresh(k: Int): (String, FaultFs.Control) = {
      val c = dir.resolve(s"k$k")
      copyTree(fixture, c)
      (FaultFs.uri(c.toString), FaultFs.scope(c.toString))
    }
    val (clean, counting) = fresh(0)
    val old = seen(w, clean)
    counting.reset()
    w.run(clean)
    val n = counting.crashPoints
    val points = counting.mutations
    val now = seen(w, clean)
    assert(now.isInstanceOf[Rows], s"${w.name}: the no-crash run left $now")
    w.tidy(clean)
    assert(w.leftovers(clean).isEmpty, s"${w.name}, no crash: ${w.leftovers(clean)}")
    FaultFs.unscope(local(clean).toString)
    deleteTree(local(clean))
    info(s"${w.name}: n = $n")
    println(s"CrashSweepSpec ${w.name}: n = $n")

    // parallel legs can reorder mutations between runs: a crash that is
    // not the k-th mutation of the counting run is logged
    def shape(m: Option[FaultFs.Mutation], copy: String) =
      m.fold("no mutation")(_.toString.replace(local(copy).toString, "")
        .replaceAll("[0-9a-f]{8,}", "#"))
    def crashAt(k: Int): Seq[String] = {
      val (u, control) = fresh(k)
      control.dieAt(k)
      val outcome =
        try { w.run(u); "completed" }
        catch { case e: Throwable => s"threw ${e.getClass.getSimpleName}" }
      val crashed = control.crashed
      val planned = shape(points.find(_._1 == k).map(_._2), clean)
      if (shape(crashed, u) != planned)
        println(s"CrashSweepSpec ${w.name} k=$k: planned $planned, crashed at ${shape(crashed, u)}")
      // read while the crashed control still fails any straggling task
      val after = seen(w, u)
      FaultFs.scope(local(u).toString)
      val problems = Seq(
        Option.when(!(after == old || after == now || (after match {
          case Loud(msg) => w.documented(u, msg)
          case _ => false
        })))(s"reader saw $after"),
        {
          try { w.run(u); None }
          catch { case e: Throwable => Some(s"re-run threw $e") }
        }.orElse {
          val again = seen(w, u)
          Option.when(again != now)(s"re-run gave $again")
        }.orElse {
          try {
            w.tidy(u)
            Option.when(w.leftovers(u).nonEmpty)(s"tidy left ${w.leftovers(u).mkString(", ")}")
          } catch { case e: Throwable => Some(s"tidy threw $e") }
        }).flatten
      FaultFs.unscope(local(u).toString)
      deleteTree(local(u))
      problems.map(p => s"k=$k (${shape(crashed, u)}, $outcome): $p")
    }
    val failures = graft.GraftSession.concurrently(spark, Legs)(
      (1 to n).map(k => () => crashAt(k))).flatten
    deleteTree(dir)
    assert(failures.isEmpty,
      s"${w.name}: old $old, new $now" + failures.mkString("\n", "\n", ""))
  }

  (snapshotWriters ++ indexWriters ++ relationWriters).foreach { w =>
    test(s"crash sweep: ${w.name}") { sweep(w) }
  }
}

object CrashSweepSpec {
  sealed trait Seen
  case object Absent extends Seen
  final case class Rows(bag: Seq[String]) extends Seen
  final case class Loud(message: String) extends Seen

  /** One writer under the sweep, over a fixture root `u` (a `fault:`
    * URI): `build` makes the pre-state, `run` is the writer and its
    * re-run, `read` is what a reader sees, `documented` admits a loud
    * read the writer documents, `tidy` is the vacuum or compaction,
    * and `leftovers` lists what it must not leave. */
  final case class Writer(name: String, build: String => Unit, run: String => Unit,
      read: String => Seen, documented: (String, String) => Boolean,
      tidy: String => Unit, leftovers: String => Seq[String])
}
