package graft.meta

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.core.JsonToken

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The run-metadata ledger (SURVEY §1.1, §2.11 Q6-Q7): an append-only
  * JSONL table with size-based rotation, keep-last upsert semantics by
  * `run_id`, and pretty "latest"/"global" projections.
  *
  * Driver-side IO by design: the ledger holds O(1 row) per pipeline run
  * (`tasks/metadata.py`, `utils/paths.py:57-144`) — putting a Spark job in
  * front of a one-line append would be pure overhead at any scale. The
  * pipeline's keep-last upkeep ([[appendKeepLast]]) reads the run-id
  * sidecar's few slots, not the ledger, unless the sidecar cannot vouch
  * for it; the run counts it records come from the artifacts on disk
  * (`Orchestrator.recordMetadata`).
  */
object RunLedger {

  /** Rotation knobs ≙ `metadata.py:18-21` (50 MB × 5 backups, keep-last
    * 500 pretty entries). */
  final case class Config(
      maxBytes: Long = 50L * 1024 * 1024,
      maxBackups: Int = 5,
      globalKeepLast: Int = 500)

  private def parent(p: Path): Unit = Option(p.getParent).foreach(Files.createDirectories(_))

  /** K4: append one compact JSON line, rotating first if the file exceeds
    * `maxBytes` (`_rotate_if_big` `metadata.py:76-91`, `_append_jsonl_line`
    * `metadata.py:94-99`). */
  def append(ledgerPath: String, record: JObject, cfg: Config = Config()): Unit =
    appendLine(Paths.get(ledgerPath), record, cfg)

  /** [[append]]: whether it rotated first, and the line it wrote. */
  private def appendLine(p: Path, record: JObject, cfg: Config): (Boolean, Array[Byte]) = {
    parent(p)
    val rotated = rotateIfBig(p, cfg)
    val line = (JsonMethods.compact(JsonMethods.render(record)) + "\n").getBytes("UTF-8")
    Files.write(p, line, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    (rotated, line)
  }

  /** K4 and D3 for one new record: [[append]], then keep-last upkeep in
    * proportion to the append. The sidecar `<ledger>.ids` indexes the
    * ledger's run ids as an on-disk hash set ([[IdSet]]), stamped with
    * the byte length and modification time of the ledger it indexes.
    * When the stamp matches the ledger as this append found it, only the
    * new line's id is looked up, in a few slots: a new id is inserted and
    * the stamp moved to the grown ledger. A missing or stale sidecar (the
    * ledger was appended to or edited behind it), a rotation, a full set,
    * or an id the set already holds (or whose hash it holds) runs the
    * full [[dedupeKeepLast]] and rebuilds the sidecar from what it kept,
    * so the ledger always ends as `append` then `dedupeKeepLast` leaves
    * it. */
  def appendKeepLast(ledgerPath: String, record: JObject, cfg: Config = Config()): Unit =
    synchronized {
      val p = Paths.get(ledgerPath)
      val found = stamp(p)
      val (rotated, line) = appendLine(p, record, cfg)
      val id = topLevelRunId(line, 0, line.length - 1).map(IdSet.hash)
      val sidecar = Paths.get(s"$p.ids")
      val indexed = !rotated && found.nonEmpty && Files.exists(sidecar) &&
        IdSet.insert(sidecar, found.get, stamp(p).get, id)
      if (!indexed) {
        val kept = keepLast(p)._2 // may rewrite the ledger: stamp it after
        IdSet.write(sidecar, stamp(p).get, kept.map(IdSet.hash))
      }
    }

  /** A ledger's byte length and modification time in nanoseconds; None
    * when there is no ledger. */
  private def stamp(p: Path): Option[(Long, Long)] =
    if (!Files.exists(p)) None
    else Some((Files.size(p), Files.getLastModifiedTime(p).to(TimeUnit.NANOSECONDS)))

  /** The sidecar's on-disk hash set of 64-bit run-id hashes, as
    * big-endian longs: the stamp of the ledger it indexes (length,
    * modification time), the entry count, then a power-of-two table of
    * hashes, linearly probed, 0 marking an empty slot, at most half
    * full. */
  private object IdSet {
    private val Header = 3 * 8L

    def hash(id: String): Long = {
      val b = id.getBytes("UTF-8")
      val h = (MurmurHash3.bytesHash(b, 0x5bd1e995).toLong << 32) |
        (MurmurHash3.bytesHash(b, 0x1b873593) & 0xffffffffL)
      if (h == 0) 1L else h
    }

    private def home(h: Long, n: Int): Int = (h & (n - 1)).toInt

    /** Rewrites the sidecar `f` as the set of `hashes`, stamped `stamp`. */
    def write(f: Path, stamp: (Long, Long), hashes: Seq[Long]): Unit = {
      val set = hashes.distinct
      var n = 1024
      while (n < 2 * (set.size + 1)) n *= 2
      val slots = new Array[Long](n)
      set.foreach { h =>
        var i = home(h, n)
        while (slots(i) != 0) i = (i + 1) & (n - 1)
        slots(i) = h
      }
      val buf = ByteBuffer.allocate(Header.toInt + 8 * n)
      buf.putLong(stamp._1).putLong(stamp._2).putLong(set.size.toLong)
      slots.foreach(buf.putLong)
      Files.write(f, buf.array())
    }

    /** Adds `hash` (None: the line has no id) to the set in `f` and
      * restamps it `next`, when `f` is stamped `found` and `hash` is
      * absent with room to add it; otherwise changes nothing and returns
      * false. The stamp is written last, so a set left half-updated reads
      * stale. */
    def insert(f: Path, found: (Long, Long), next: (Long, Long), hash: Option[Long]): Boolean = {
      val ch = FileChannel.open(f, StandardOpenOption.READ, StandardOpenOption.WRITE)
      def long(at: Long): Long = {
        val b = ByteBuffer.allocate(8)
        while (b.hasRemaining && ch.read(b, at + b.position()) >= 0) {}
        b.flip().getLong
      }
      def put(at: Long, v: Long): Unit = ch.write(ByteBuffer.allocate(8).putLong(v).flip(), at)
      try {
        val n = ((ch.size() - Header) / 8).toInt
        if (n < 2 || Integer.bitCount(n) != 1 || (long(0), long(8)) != found) return false
        val entries = long(16)
        for (h <- hash) {
          if (2 * (entries + 2) > n) return false
          var i = home(h, n)
          var slot = long(Header + 8L * i)
          while (slot != 0) {
            if (slot == h) return false
            i = (i + 1) & (n - 1)
            slot = long(Header + 8L * i)
          }
          put(Header + 8L * i, h)
          put(16, entries + 1)
        }
        put(0, next._1)
        put(8, next._2)
        true
      } finally ch.close()
    }
  }

  private def rotateIfBig(p: Path, cfg: Config): Boolean = {
    if (!Files.exists(p) || Files.size(p) < cfg.maxBytes) return false
    // shift p.(n) → p.(n+1), dropping the oldest (metadata.py:82-90)
    (cfg.maxBackups - 1 to 1 by -1).foreach { i =>
      val src = Paths.get(s"$p.$i")
      if (Files.exists(src))
        Files.move(src, Paths.get(s"$p.${i + 1}"), StandardCopyOption.REPLACE_EXISTING)
    }
    Files.move(p, Paths.get(s"$p.1"), StandardCopyOption.REPLACE_EXISTING)
    true
  }

  /** D3: dedupe JSONL lines by `run_id`, LAST occurrence wins; lines with
    * missing/empty ids are all kept (`_dedupe_jsonl_inplace`,
    * `utils/paths.py:75-96`). Original order of the surviving lines is
    * preserved. The id is the top-level `run_id` string, read from the
    * line's bytes with a streaming parser; a line that is not a
    * well-formed JSON object, or whose `run_id` is absent, empty, repeated
    * or not a string, is kept as its own key (`paths.py:87-89`). Lines
    * end at '\n' (a '\r' before it is whitespace to the parser). The
    * file is rewritten in place only when that changes its lines: a line
    * dropped, a blank line removed, or the final newline restored. */
  def dedupeKeepLast(ledgerPath: String): Int = keepLast(Paths.get(ledgerPath))._1

  /** [[dedupeKeepLast]]: the lines dropped, and the ids of the kept
    * lines that have one. */
  private def keepLast(p: Path): (Int, Seq[String]) = {
    if (!Files.exists(p)) return (0, Nil)
    val bytes = Files.readAllBytes(p)
    val spans = lineSpans(bytes)
    val lines = spans.filter { case (s, e) => (s until e).exists(i => (bytes(i) & 0xff) > ' ') }
    val ids = lines.map { case (s, e) => topLevelRunId(bytes, s, e - s) }
    val lastIdx = ids.zipWithIndex.collect { case (Some(id), i) => id -> i }.toMap
    val kept = lines.indices.filter(i => ids(i).forall(lastIdx(_) == i))
    if (kept.size != spans.size || (bytes.nonEmpty && bytes.last != '\n')) {
      val out = new ByteArrayOutputStream(bytes.length)
      kept.map(lines).foreach { case (s, e) => out.write(bytes, s, e - s); out.write('\n') }
      Files.write(p, out.toByteArray)
    }
    (lines.size - kept.size, kept.flatMap(ids))
  }

  /** (start, end) of each line, the last one possibly unterminated. */
  private def lineSpans(bytes: Array[Byte]): Vector[(Int, Int)] = {
    val spans = Vector.newBuilder[(Int, Int)]
    var start = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == '\n') { spans += (start -> i); start = i + 1 }
      i += 1
    }
    if (start < bytes.length) spans += (start -> bytes.length)
    spans.result()
  }

  private def topLevelRunId(bytes: Array[Byte], offset: Int, length: Int): Option[String] = Try {
    val parser = JsonMethods.mapper.getFactory.createParser(bytes, offset, length)
    try {
      if (parser.nextToken() != JsonToken.START_OBJECT) None
      else {
        var ids = List.empty[Option[String]]
        while (parser.nextToken() == JsonToken.FIELD_NAME) {
          val name = parser.currentName()
          val value = parser.nextToken()
          if (name == "run_id")
            ids ::= (if (value == JsonToken.VALUE_STRING) Some(parser.getText) else None)
          parser.skipChildren()
        }
        require(parser.currentToken() == JsonToken.END_OBJECT)
        ids match {
          case List(id) => id.filter(_.nonEmpty)
          case _ => None
        }
      }
    } finally parser.close()
  }.toOption.flatten

  /** D2: merge a legacy JSONL file into the canonical one (append lines,
    * delete legacy) — `_merge_jsonl`, `utils/paths.py:57-72`. */
  def mergeLegacy(canonicalPath: String, legacyPath: String): Unit = {
    val legacy = Paths.get(legacyPath)
    if (!Files.exists(legacy)) return
    val canonical = Paths.get(canonicalPath)
    parent(canonical)
    val lines = Files.readAllLines(legacy).asScala.filter(_.trim.nonEmpty)
    if (lines.nonEmpty)
      Files.write(canonical, (lines.mkString("\n") + "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    Files.delete(legacy)
  }

  /** Q7: normalize the meta store — merge known legacy paths (incl. the
    * reference's `runs.josnl` typo artifact) then dedupe keep-last
    * (`normalize_meta_store`, `utils/paths.py:99-144`). */
  def normalize(canonicalPath: String, legacyPaths: Seq[String]): Int = {
    legacyPaths.foreach(mergeLegacy(canonicalPath, _))
    dedupeKeepLast(canonicalPath)
  }

  /** K5a: pretty-printed latest-run JSON (`_write_pretty_single`,
    * `metadata.py:139-142`). */
  def writePrettyLatest(path: String, record: JObject): Unit = {
    val p = Paths.get(path)
    parent(p)
    Files.write(p, JsonMethods.pretty(JsonMethods.render(record)).getBytes("UTF-8"))
  }

  /** K5b: upsert into the global pretty array, truncated keep-last-N
    * (`_upsert_global_pretty_array`, `metadata.py:122-136`). */
  def upsertGlobalPretty(path: String, record: JObject, cfg: Config = Config()): Unit = {
    val p = Paths.get(path)
    parent(p)
    val existing: List[JValue] =
      if (Files.exists(p))
        scala.util.Try(JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8")))
          .toOption.collect { case JArray(items) => items }.getOrElse(Nil)
      else Nil
    val updated = (existing :+ (record: JValue)).takeRight(cfg.globalKeepLast)
    Files.write(p, JsonMethods.pretty(JsonMethods.render(JArray(updated))).getBytes("UTF-8"))
  }

  /** Read the ledger back as parsed records (for tests / reporting). */
  def read(ledgerPath: String): Seq[JValue] = {
    val p = Paths.get(ledgerPath)
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p).asScala.filter(_.trim.nonEmpty)
      .map(l => JsonMethods.parse(l)).toSeq
  }
}
