package graft.meta

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.core.JsonToken

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The run-metadata ledger (SURVEY §1.1, §2.11 Q6-Q7): an append-only
  * JSONL table with size-based rotation, keep-last upsert semantics by
  * `run_id`, and pretty "latest"/"global" projections.
  *
  * Driver-side IO by design: the ledger holds O(1 row) per pipeline run
  * (`tasks/metadata.py`, `utils/paths.py:57-144`) — putting a Spark job in
  * front of a one-line append would be pure overhead at any scale.
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
  def append(ledgerPath: String, record: JObject, cfg: Config = Config()): Unit = {
    val p = Paths.get(ledgerPath)
    parent(p)
    rotateIfBig(p, cfg)
    val line = JsonMethods.compact(JsonMethods.render(record)) + "\n"
    Files.write(p, line.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def rotateIfBig(p: Path, cfg: Config): Unit = {
    if (!Files.exists(p) || Files.size(p) < cfg.maxBytes) return
    // shift p.(n) → p.(n+1), dropping the oldest (metadata.py:82-90)
    (cfg.maxBackups - 1 to 1 by -1).foreach { i =>
      val src = Paths.get(s"$p.$i")
      if (Files.exists(src))
        Files.move(src, Paths.get(s"$p.${i + 1}"), StandardCopyOption.REPLACE_EXISTING)
    }
    Files.move(p, Paths.get(s"$p.1"), StandardCopyOption.REPLACE_EXISTING)
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
  def dedupeKeepLast(ledgerPath: String): Int = {
    val p = Paths.get(ledgerPath)
    if (!Files.exists(p)) return 0
    val bytes = Files.readAllBytes(p)
    val spans = lineSpans(bytes)
    val lines = spans.filter { case (s, e) => (s until e).exists(i => (bytes(i) & 0xff) > ' ') }
    val ids = lines.map { case (s, e) => topLevelRunId(bytes, s, e - s) }
    val lastIdx = ids.zipWithIndex.collect { case (Some(id), i) => id -> i }.toMap
    val kept = lines.indices.collect { case i if ids(i).forall(lastIdx(_) == i) => lines(i) }
    if (kept.size != spans.size || (bytes.nonEmpty && bytes.last != '\n')) {
      val out = new ByteArrayOutputStream(bytes.length)
      kept.foreach { case (s, e) => out.write(bytes, s, e - s); out.write('\n') }
      Files.write(p, out.toByteArray)
    }
    lines.size - kept.size
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
