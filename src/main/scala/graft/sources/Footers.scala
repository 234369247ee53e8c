package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import scala.jdk.CollectionConverters._

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side reads of what a Spark file scan of a directory would read:
  * its data files, a parquet directory's row count and writer schema from
  * the footers, and a CSV directory's record count. No Spark job runs; a
  * footer is a few KB read from the end of its file. Each answer equals
  * the one `spark.read` would give, because each applies Spark's own
  * rules: the same file selection, the footers' block row counts, and the
  * CSV reader's own parser settings. */
object Footers {

  /** The files a Spark scan of `dir` reads, sorted by name: names starting
    * with `_` or `.` (markers, checksums) are hidden, and an empty file is
    * skipped, as Spark plans no split for it. A subdirectory would be a
    * partition Spark reads as well, so one fails the listing instead of
    * being left out of a count. */
  def dataFiles(spark: SparkSession, dir: String): Seq[Path] = {
    val root = new Path(dir)
    val listed = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(root).toSeq
      .filterNot { s => val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".") }
    listed.find(_.isDirectory).foreach(d => throw new IllegalStateException(
      s"$dir holds the subdirectory ${d.getPath.getName}: not a flat file directory"))
    listed.filter(_.getLen > 0).map(_.getPath).sortBy(_.getName)
  }

  /** Rows in the parquet directory `dir`: the sum of its footers' block
    * row counts. A file without a readable footer (truncated, foreign)
    * throws. */
  def parquetRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(spark, dir).map(footer(conf, _).getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  /** The Spark schema the writer of the parquet directory `dir` recorded
    * in its first data file's footer; None when it recorded none. */
  def parquetSchema(spark: SparkSession, dir: String): Option[StructType] =
    dataFiles(spark, dir).headOption.flatMap { p =>
      Option(footer(spark.sparkContext.hadoopConfiguration, p).getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
    }

  /** Records in the header CSV directory `dir` as
    * `spark.read.option("header", "true").option("multiLine", "true")`
    * counts them: each file is tokenized whole by the reader's parser
    * settings, its first record is the header, and a quoted embedded
    * newline stays inside its record. For aggregate-sized files only: the
    * whole directory is parsed on the driver. */
  def csvRows(spark: SparkSession, dir: String): Long = {
    val options = new CSVOptions(Map("header" -> "true", "multiLine" -> "true"),
      false, spark.sessionState.conf.sessionLocalTimeZone)
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(spark, dir).map { p =>
      val in: InputStream = p.getFileSystem(conf).open(p)
      val parser = new CsvParser(options.asParserSettings)
      try {
        parser.beginParsing(in, options.charset)
        var n = 0L
        if (parser.parseNext() != null) // the header
          while (parser.parseNext() != null) n += 1
        n
      } finally { parser.stopParsing(); in.close() }
    }.sum
  }

  /** `p`'s footer: the file ends with the footer, its 4-byte
    * little-endian length and the magic `PAR1`. Only those bytes are
    * read, through a small stream buffer (the session's 64 KB default,
    * or a full reader's open, reads a hundred times the footer). The
    * one parquet footer reader of `src/main`. */
  private[graft] def footer(conf: Configuration, p: Path): ParquetMetadata = {
    val fs = p.getFileSystem(conf)
    val length = fs.getFileStatus(p).getLen
    val in = fs.open(p, 4096)
    try {
      val tail = new Array[Byte](8)
      in.readFully(length - 8, tail)
      require(new String(tail, 4, 4, "US-ASCII") == "PAR1", s"$p is not a plain parquet file")
      val footerLength = ByteBuffer.wrap(tail, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      require(footerLength > 0 && footerLength <= length - 12, s"$p has a torn footer")
      val bytes = new Array[Byte](footerLength)
      in.readFully(length - 8 - footerLength, bytes)
      new ParquetMetadataConverter().readParquetMetadata(
        new ByteArrayInputStream(bytes), ParquetMetadataConverter.NO_FILTER)
    } finally in.close()
  }
}
