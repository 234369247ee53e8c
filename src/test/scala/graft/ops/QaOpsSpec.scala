package graft.ops

import java.nio.file.Files

import graft.SparkSpec

class QaOpsSpec extends SparkSpec {
  import spark.implicits._

  test("schemaGate passes and reports when required cols present") {
    val df = Seq(("a", "n1", "x")).toDF("Id", "Name", "Extra")
    val report = Gates.schemaGate(df, Seq("Id", "Name"))
    assert(report.ok)
    assert(report.columnsPresent == Seq("Extra", "Id", "Name")) // sorted
  }

  test("schemaGate raises listing the missing set") {
    val df = Seq(("a")).toDF("Id")
    val e = intercept[Gates.GateFailure](Gates.schemaGate(df, Seq("Id", "Name", "Status")))
    assert(e.getMessage.contains("Name"))
    assert(e.getMessage.contains("Status"))
  }

  test("nonEmptyGate returns count or raises on empty") {
    assert(Gates.nonEmptyGate(3L) == 3)
    val e = intercept[Gates.GateFailure](Gates.nonEmptyGate(0L))
    assert(e.getMessage == "No data to process")
  }

  test("profile: dtype, null count, exact distinct, capped top-k") {
    val df = Seq(
      (Some("a"), 1), (Some("a"), 2), (Some("b"), 3), (None, 4), (Some("a"), 5)
    ).toDF("cat", "n")
    val profiles = Profile.profile(df, topK = 2)
    val cat = profiles.find(_.name == "cat").get
    assert(cat.dtype == "StringType")
    assert(cat.nullCount == 1)
    assert(cat.nUnique == 3) // Polars n_unique counts null as a value: a, b, null
    assert(cat.topValues.head == ("a", 3L))
    val n = profiles.find(_.name == "n").get
    assert(n.nullCount == 0)
    assert(n.nUnique == 5)
  }

  test("profile: high-cardinality columns get no top-k (cost guard)") {
    val df = (1 to 100).map(i => (s"v$i", i % 3)).toDF("hi", "lo")
    val profiles = Profile.profile(df, topK = 5, cardinalityCap = 10)
    assert(profiles.find(_.name == "hi").get.topValues.isEmpty)
    assert(profiles.find(_.name == "lo").get.topValues.size == 3)
  }

  test("drift: first run no alert, >=50% change alerts, state persisted") {
    val state = Files.createTempDirectory("drift").resolve("rowcount.txt").toString
    val r1 = Drift.checkRowcountDrift(100, state)
    assert(r1.previousRows.isEmpty && r1.alert.isEmpty)
    val r2 = Drift.checkRowcountDrift(30, state) // -70%
    assert(r2.previousRows.contains(100L))
    assert(r2.alert.exists(_.contains("drift")))
    val r3 = Drift.checkRowcountDrift(31, state) // ~3% vs 30
    assert(r3.alert.isEmpty)
  }
}
