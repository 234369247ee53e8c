package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.IOUtils
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.ops.Normalize
import graft.sources.Footers

/** Materialization sinks (SURVEY §2.2).
  *
  * The reference writes exactly one file per artifact (`load.py:77-84`,
  * `process.py:110`); Spark writes directories of part-files. Where the
  * artifact is an aggregate (tiny by construction) the sink collapses to a
  * single file to preserve the observable contract; raw/large relations
  * keep Spark's parallel directory layout — at 100 TB a single-file sink
  * is the anti-pattern, so each sink documents which side it's on.
  *
  * Row counts of a write come from the write itself ([[counted]]), never
  * from a second job over what was written.
  */
object Sinks {

  /** Runs `write` over `df` and returns the rows it wrote, counted by a
    * fresh [[Observation]] that rides on the write's own job, so counting
    * costs no job. Fresh per call: an observation reports only the first
    * action over its frame, so a retried write needs a new one. */
  def counted(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    rows.get("rows").asInstanceOf[Long]
  }

  /** Header CSV, overwrite (K1 ≙ `extract.py:99`, `process.py:110`).
    * Parallel directory write; `singleFile=true` coalesces to one part —
    * only for small aggregate outputs. */
  def csv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").option("header", "true").csv(path)
  }

  /** Array-of-records JSON in ONE file — the exact output shape of
    * `load_csv_to_json` (`load.py:39-87`): temporal columns stringified
    * first (`load.py:64-71`), then `[{...},{...}]`. Driver-side collect:
    * this sink is for aggregate summaries (O(groups) rows), never raw
    * data — and `maxRows` makes the misuse IMPOSSIBLE rather than
    * unlikely: past the cap the collect is refused before it runs
    * (checked with a cheap limit-probe, not a full count), directing the
    * caller to the distributed [[jsonLines]]. Returns the record count. */
  def jsonRecords(df: DataFrame, path: String,
      maxRows: Long = 1000000L): Long = {
    // clamp BEFORE incrementing: maxRows = Long.MaxValue ("no cap") must
    // not overflow to probeN = 0, which would silently write an empty
    // array — the cap saturates at the largest collectable probe instead
    val probeN = (math.min(maxRows, Int.MaxValue - 1L) + 1).toInt
    // single pass, bounded either way: collect at most maxRows+1 rows —
    // one row beyond the success path's own materialization, never the
    // unbounded input — and refuse BEFORE writing when the cap is hit
    val rows = Normalize.temporalsToString(df).toJSON.limit(probeN).collect()
    require(rows.length <= maxRows,
      s"jsonRecords is a driver-side sink for aggregate-sized outputs; " +
        s"input exceeds maxRows=$maxRows — use Sinks.jsonLines for large relations")
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, rows.mkString("[\n", ",\n", "\n]").getBytes("UTF-8"))
    rows.length.toLong
  }

  /** Distributed JSONL sink for large relations — the scale-path
    * counterpart of [[jsonRecords]]. */
  def jsonLines(df: DataFrame, path: String): Unit =
    Normalize.temporalsToString(df).write.mode("overwrite").json(path)

  /** Parquet snapshot, snappy (K3 ≙ `snapshot_parquet`,
    * `quality_parallel.py:143-156`). Parallel write. */
  def parquetSnappy(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)

  /** Parquet snapshot of a directory [[parquetSnappy]] wrote (K3 over the
    * parquet raw hand-off): its data files ([[Footers.dataFiles]]) are
    * byte-copied into the cleared directory `path`. The snapshot holds the
    * same rows under the same codec as a re-encode would, without the
    * second encode or its job. */
  def parquetCopy(spark: SparkSession, from: String, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(path)
    val fs = dst.getFileSystem(conf)
    fs.delete(dst, true)
    fs.mkdirs(dst)
    Footers.dataFiles(spark, from).foreach { p =>
      IOUtils.copyBytes(p.getFileSystem(conf).open(p), fs.create(new Path(dst, p.getName)),
        conf, true)
    }
  }

  /** Text scalar sink (K6 ≙ `quality_parallel.py:188`). */
  def textScalar(value: String, path: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, value.getBytes("UTF-8"))
  }
}
