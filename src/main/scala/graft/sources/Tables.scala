package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Reads are plain parquet scans so Catalyst keeps full freedom to push
  * filters and prune columns into the scan — at 100 TB the scan is the
  * dominant cost and `PushedFilters`/`ReadSchema` must stay tight. The
  * schema comes from one footer read on the driver ([[parquet]]), not from
  * Spark's inference job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, s"$dir/$name.parquet")
    else parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job: Spark
    * infers a parquet schema by running a Spark job over the footers, even
    * for one file. Here the driver reads the one footer that inference
    * would read (see [[footerSchema]]) and passes the schema it gives to
    * `spark.read.schema`. Partition columns are still discovered from the
    * directory names. The footer is read on every call, so a rewritten
    * table is never read with a stale schema. A path with no parquet file
    * falls through to `spark.read.parquet`, which fails with Spark's own
    * error.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The data schema Spark's inference gives `path` when it does not merge
    * schemas: that of a `_common_metadata` summary if present, else of a
    * `_metadata` summary, else of the first data file in path order,
    * searched through partition directories and skipping hidden names.
    * Converted under the session's parquet settings, as inference does.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return None
    val files = leafFiles(fs, fs.getFileStatus(root)).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !isSummary(f.getPath.getName)))
      .map { f =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  private def isSummary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_METADATA_FILE

  /** Spark's listing filter: `_`/`.` names (a `_` name with `=` is a
    * partition directory) and in-flight copies are hidden, summaries are not.
    */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) ||
        name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE))

  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => hidden(c.getPath.getName))
      .flatMap(c => leafFiles(fs, c))

  /** Schema-adaptive events load. Fixture generations have stored `ts` as
    * TIMESTAMP(NANOS) (rejected by Spark unless read as long nanos), as
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (lands as TimestampNTZType),
    * or could store plain TIMESTAMP. Normalize every layout to
    * `TimestampType` with identical instant values under the UTC session,
    * so downstream window/watermark/date-part queries — and the DuckDB
    * oracle reading the same parquet — agree regardless of fixture vintage.
    */
  private def loadEvents(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw =
      try parquet(spark, path)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
               e.getMessage.toLowerCase.contains("nanos") =>
          // Legacy NANOS fixtures: the nanosAsLong conf is the only way to
          // read them, and the vectorized reader consults it at execution
          // time too, so it must stay set for the frame's lifetime. Only
          // this dead-generation path mutates session state.
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          parquet(spark, path)
      }
    raw.schema("ts").dataType match {
      case LongType =>
        // long nanos → micros via integer division (a double roundtrip
        // would lose precision at 1e18 ns)
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        // NTZ wall-clock reinterpreted as UTC instant (session TZ is UTC,
        // so the displayed values are unchanged)
        raw.withColumn("ts", expr("cast(ts as timestamp)"))
      case _ => raw
    }
  }

  /** Register every table as a temp view (the `spark.sql` surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
