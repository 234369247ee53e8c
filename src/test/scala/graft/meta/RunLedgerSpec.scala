package graft.meta

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.JsonDSL._
import org.scalatest.funsuite.AnyFunSuite

class RunLedgerSpec extends AnyFunSuite {

  private def tmp() = Files.createTempDirectory("ledger")

  private def rec(id: String, n: Int): JObject =
    ("run_id" -> id) ~ ("n" -> n)

  test("append + read round-trips JSONL records") {
    val p = tmp().resolve("runs.jsonl").toString
    RunLedger.append(p, rec("r1", 1))
    RunLedger.append(p, rec("r2", 2))
    val rows = RunLedger.read(p)
    assert(rows.size == 2)
    assert((rows.head \ "run_id") == JString("r1"))
  }

  test("dedupeKeepLast: last occurrence wins, empty ids all kept") {
    val p = tmp().resolve("runs.jsonl").toString
    RunLedger.append(p, rec("r1", 1))
    RunLedger.append(p, rec("r2", 2))
    RunLedger.append(p, rec("r1", 3)) // supersedes first r1
    RunLedger.append(p, ("n" -> 4): JObject) // no run_id → kept
    RunLedger.append(p, ("run_id" -> "") ~ ("n" -> 5)) // empty id → kept
    val removed = RunLedger.dedupeKeepLast(p)
    assert(removed == 1)
    val rows = RunLedger.read(p)
    assert(rows.size == 4)
    val r1 = rows.find(r => (r \ "run_id") == JString("r1")).get
    assert((r1 \ "n") == JInt(3))
  }

  test("rotation shifts backups at size threshold") {
    val dir = tmp()
    val p = dir.resolve("runs.jsonl").toString
    val small = RunLedger.Config(maxBytes = 50, maxBackups = 2)
    (1 to 10).foreach(i => RunLedger.append(p, rec(s"r$i", i), small))
    assert(Files.exists(Paths.get(s"$p.1"))) // rotated at least once
    assert(RunLedger.read(p).nonEmpty)
  }

  test("mergeLegacy appends lines and deletes the legacy file") {
    val dir = tmp()
    val canonical = dir.resolve("runs.jsonl").toString
    val legacy = dir.resolve("runs.josnl").toString // the reference's typo file
    RunLedger.append(canonical, rec("a", 1))
    RunLedger.append(legacy, rec("b", 2))
    RunLedger.normalize(canonical, Seq(legacy))
    assert(!Files.exists(Paths.get(legacy)))
    assert(RunLedger.read(canonical).size == 2)
  }

  test("upsertGlobalPretty truncates keep-last-N") {
    val p = tmp().resolve("all.json").toString
    val cfg = RunLedger.Config(globalKeepLast = 3)
    (1 to 5).foreach(i => RunLedger.upsertGlobalPretty(p, rec(s"r$i", i), cfg))
    val arr = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(p)), "UTF-8")).asInstanceOf[JArray]
    assert(arr.arr.size == 3)
    assert((arr.arr.head \ "run_id") == JString("r3"))
  }

  test("dedupeKeepLast keys on the top-level string run_id only, as the json4s keying did") {
    import org.json4s.jackson.JsonMethods
    val lines = Seq(
      """{"run_id":"a","n":1}""",
      """{"meta":{"run_id":"a"},"n":2}""", // nested: not the record's id
      """{"run_id":"b","n":3}""",
      """{"n":4}""",
      """{"run_id":"","n":5}""",
      """{"run_id":7,"n":6}""",
      """{"run_id":null,"n":7}""",
      """{"run_id":{"v":"a"},"n":8}""",
      """{"run_id":"b","run_id":"b","n":9}""", // repeated key
      """{"run_id":"a","n":}""", // malformed after the id
      """{"run_id":"a","n":11""", // truncated
      """["run_id","a"]""",
      "not json",
      """{"run_id":"c"} {"run_id":"a"}""", // trailing content is ignored
      """{"run_id":"a","n":14}""",
      """{"run_id":"b","n":15}  """)
    // the keying dedupeKeepLast had with a full json4s parse per line
    val keys = lines.zipWithIndex.map { case (l, i) =>
      scala.util.Try(JsonMethods.parse(l) \ "run_id").toOption match {
        case Some(JString(s)) if s.nonEmpty => s
        case _ => s"__idx_$i"
      }
    }
    val expected = lines.indices.filter(i => keys.lastIndexOf(keys(i)) == i).map(lines(_))
    assert(expected.size == lines.size - 2) // only n=1 and n=3 are superseded
    val p = tmp().resolve("runs.jsonl")
    Files.write(p, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    assert(RunLedger.dedupeKeepLast(p.toString) == lines.size - expected.size)
    assert(new String(Files.readAllBytes(p), "UTF-8") == expected.mkString("\n") + "\n")
  }

  test("dedupeKeepLast leaves the file untouched when nothing is dropped") {
    import java.nio.file.attribute.FileTime
    val p = tmp().resolve("runs.jsonl")
    (1 to 3).foreach(i => RunLedger.append(p.toString, rec(s"r$i", i)))
    val before = Files.readAllBytes(p)
    Files.setLastModifiedTime(p, FileTime.fromMillis(0L))
    assert(RunLedger.dedupeKeepLast(p.toString) == 0)
    assert(Files.getLastModifiedTime(p).toMillis == 0L)
    assert(Files.readAllBytes(p).sameElements(before))
  }

  private def lines(p: java.nio.file.Path): Seq[String] =
    new String(Files.readAllBytes(p), "UTF-8").split("\n").toSeq.filter(_.nonEmpty)

  test("appendKeepLast: a re-recorded id keeps only its last line") {
    val p = tmp().resolve("runs.jsonl")
    RunLedger.appendKeepLast(p.toString, rec("r1", 1))
    RunLedger.appendKeepLast(p.toString, rec("r2", 2))
    assert(Files.exists(Paths.get(s"$p.ids")))
    RunLedger.appendKeepLast(p.toString, rec("r1", 3)) // the Q6 double record
    val rows = RunLedger.read(p.toString)
    assert(rows.map(r => (r \ "run_id", r \ "n")) ==
      Seq((JString("r2"), JInt(2)), (JString("r1"), JInt(3))))
    // the rebuilt sidecar is stamped with the rewritten ledger's length,
    // so the next append is checked against the sidecar alone
    val stamped = java.nio.ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"$p.ids"))).getLong
    assert(stamped == Files.size(p))
  }

  test("appendKeepLast ≡ append then dedupeKeepLast, with edits behind the sidecar's back") {
    val rnd = new scala.util.Random(7)
    val dir = tmp()
    val kept = dir.resolve("kept.jsonl")
    val plain = dir.resolve("plain.jsonl")
    (1 to 300).foreach { n =>
      val r: JObject = rnd.nextInt(10) match {
        case 0 => ("n" -> n): JObject // no id: always kept
        case _ => rec(s"r${rnd.nextInt(120)}", n)
      }
      RunLedger.appendKeepLast(kept.toString, r)
      RunLedger.append(plain.toString, r)
      RunLedger.dedupeKeepLast(plain.toString)
      if (n % 50 == 0) { // appended to behind the sidecar's back
        val extra = rec(s"r${rnd.nextInt(120)}", -n)
        RunLedger.append(kept.toString, extra)
        RunLedger.append(plain.toString, extra)
      }
      assert(lines(kept) == lines(plain), s"after record $n")
    }
  }

  test("appendKeepLast: a ledger edited behind the sidecar's back is fully deduped") {
    val p = tmp().resolve("runs.jsonl")
    RunLedger.appendKeepLast(p.toString, rec("a", 1))
    RunLedger.appendKeepLast(p.toString, rec("b", 2))
    // an edit that re-adds an existing id, then a fresh id: the stale
    // stamp forces the full pass, which drops the older "a"
    Files.write(p, (lines(p) :+ """{"run_id":"a","n":3}""").mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    RunLedger.appendKeepLast(p.toString, rec("c", 4))
    assert(RunLedger.read(p.toString).map(r => r \ "n") == Seq(JInt(2), JInt(3), JInt(4)))
    // a removed sidecar is rebuilt by the full pass too
    Files.delete(Paths.get(s"$p.ids"))
    RunLedger.appendKeepLast(p.toString, rec("b", 5))
    assert(RunLedger.read(p.toString).map(r => r \ "n") == Seq(JInt(3), JInt(4), JInt(5)))
    assert(Files.exists(Paths.get(s"$p.ids")))
  }

  test("appendKeepLast: rotation resets the sidecar to the new file's ids") {
    val p = tmp().resolve("runs.jsonl")
    val small = RunLedger.Config(maxBytes = 60, maxBackups = 2)
    Seq("r1", "r2", "r3").zipWithIndex.foreach { case (id, i) =>
      RunLedger.appendKeepLast(p.toString, rec(id, i + 1), small)
    }
    assert(!Files.exists(Paths.get(s"$p.1"))) // 3 lines of 22 bytes: not yet over
    RunLedger.appendKeepLast(p.toString, rec("r1", 4), small) // rotates first
    assert(lines(Paths.get(s"$p.1")).size == 3)
    assert(RunLedger.read(p.toString).map(r => r \ "n") == Seq(JInt(4)))
    // ids of the rotated file are not in the new index: r2 is simply added
    RunLedger.appendKeepLast(p.toString, rec("r2", 5), small)
    RunLedger.appendKeepLast(p.toString, rec("r1", 6), small) // indexed: deduped
    assert(RunLedger.read(p.toString).map(r => r \ "n") == Seq(JInt(5), JInt(6)))
  }
}
