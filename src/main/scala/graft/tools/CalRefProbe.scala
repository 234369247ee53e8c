package graft.tools
/** Dev probe: measures [[graft.Bench.microCalibrationBody]] in the
  * bench's session (the engine settings at the default cpus) to
  * (re-)pin [[graft.BenchHarness.calRefSeconds]].
  * Run on an idle host; take the printed min. */
object CalRefProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // warm: Janino + shuffle machinery
    graft.Bench.microCalibrationBody(spark)()
    graft.Bench.microCalibrationBody(spark)()
    val n = args.headOption.map(_.toInt).getOrElse(9)
    val times = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      graft.Bench.microCalibrationBody(spark)()
      (System.nanoTime() - t0) / 1e9
    }
    val s = times.sorted
    val median = if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    println(f"CALREF min=${times.min}%.4f median=$median%.4f all=${times.map(t => f"$t%.3f").mkString(",")}")
    // the fingerprint the pinned constant is valid for — when re-pinning
    // calRefSeconds, copy THIS into BenchHarness.calRefFingerprint
    println(s"CALREF_FINGERPRINT ${graft.Bench.microCalibrationFingerprint(spark)}" +
      (if (graft.Bench.microCalibrationFingerprint(spark) ==
        graft.BenchHarness.calRefFingerprint) " (matches pinned)"
       else s" (PINNED IS ${graft.BenchHarness.calRefFingerprint} — STALE)"))
    spark.stop()
  }
}
