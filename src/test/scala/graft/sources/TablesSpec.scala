package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

import graft.SparkTestBase

/** [[Tables.parquet]] reads a parquet path with the schema Spark's
  * inference gives it, from one footer read and without a Spark job.
  */
class TablesSpec extends SparkTestBase {

  // the sf0.01 tables, beside the suite's default data set
  private val sf = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
  private val dataPresent = new java.io.File(sf).isDirectory

  test("every table reads with the schema inference gives, and building it runs no Spark job") {
    assume(dataPresent, s"$sf missing — driver fixtures not generated")
    val (frames, jobs) = jobsDuring(Tables.names.map(n => n -> Tables(spark, sf, n)).toMap)
    assert(jobs == 0, s"building the ${Tables.names.size} table frames ran $jobs Spark jobs")
    Tables.names.foreach { n =>
      val inferred = spark.read.parquet(s"$sf/$n.parquet").schema
      assert(Tables.parquet(spark, s"$sf/$n.parquet").schema == inferred, n)
      // events normalizes `ts` to TimestampType, whatever its stored layout
      val expected =
        if (n != "events") inferred
        else StructType(inferred.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f))
      assert(frames(n).schema == expected, n)
    }
  }

  test("footer schema equals inference: multi-file, partitioned, summary file, TIMESTAMP_NTZ") {
    import spark.implicits._
    val base = Files.createTempDirectory("tables_footer")
    def dataFile(d: Path): Path = {
      val s = Files.list(d)
      try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Seq(1, 2).toDF("a").coalesce(1).write.parquet(base.resolve("a").toString)
    Seq((3L, "x")).toDF("b", "s").coalesce(1).write.parquet(base.resolve("b").toString)
    val (fileA, fileB) = (dataFile(base.resolve("a")), dataFile(base.resolve("b")))

    // two files of different schemas: inference reads the first in path order
    val multi = Files.createDirectories(base.resolve("multi"))
    Files.copy(fileA, multi.resolve("part-b.parquet"))
    Files.copy(fileB, multi.resolve("part-a.parquet"))
    // a summary file wins over every data file
    val summary = Files.createDirectories(base.resolve("summary"))
    Files.copy(fileA, summary.resolve("part-0.parquet"))
    Files.copy(fileB, summary.resolve("_common_metadata"))
    // partition directories (9 sorts after 10 by path, and a NULL one),
    // with a TIMESTAMP_NTZ data column
    val parted = base.resolve("parted").toString
    spark.sql("""select * from values
        (1L, timestamp_ntz'2025-03-18 12:00:00', 9),
        (2L, timestamp_ntz'2025-03-19 08:30:00.123456', 10),
        (3L, cast(null as timestamp_ntz), cast(null as int)) as t(id, ts, k)""")
      .write.partitionBy("k").parquet(parted)

    Seq(multi.toString, summary.toString, parted).foreach { d =>
      val (df, jobs) = jobsDuring(Tables.parquet(spark, d))
      assert(jobs == 0, s"$d: $jobs Spark jobs")
      val inferred = spark.read.parquet(d)
      assert(df.schema == inferred.schema, d)
      assert(df.collect().toSet == inferred.collect().toSet, d)
    }
    assert(Tables.parquet(spark, multi.toString).columns.toSeq == Seq("b", "s"))
    assert(Tables.parquet(spark, parted).schema("ts").dataType == TimestampNTZType)
  }

  test("a written output reads back through Tables.parquet without a Spark job") {
    val out = Files.createTempDirectory("tables_readback").resolve("by_month").toString
    Partitioned.write(spark.sql("""select * from values
        (1L, 'a', '2024-01'), (2L, 'b', '2024-02'), (3L, 'c', '2024-01') as t(id, s, month)"""),
      "month", out)
    val (back, jobs) = jobsDuring(Partitioned.read(spark, out))
    assert(jobs == 0, s"the read-back ran $jobs Spark jobs")
    val inferred = spark.read.parquet(out)
    assert(back.schema == inferred.schema)
    assert(back.collect().toSet == inferred.collect().toSet)
  }

  test("legacy TIMESTAMP(NANOS) events still load as TimestampType") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("tables_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new HPath(s"$dir/events.parquet"), new Configuration()))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1742299200123456789L))
    finally w.close()

    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(conf)
    try {
      val ev = Tables(spark, dir, "events")
      assert(ev.schema("ts").dataType == TimestampType)
      // nanos → micros by integer division
      assert(ev.selectExpr("unix_micros(ts)").head().getLong(0) == 1742299200123456L)
    } finally before.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }
}
