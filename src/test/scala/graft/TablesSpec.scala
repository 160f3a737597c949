package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{LongType, TimestampType}

/** `Tables.load` reads a parquet table's schema from one footer on the
  * driver: the same schema Spark's inference gives, with no Spark job.
  */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001" // the TESTDATA.md fixtures

  /** A table dir `<base>/<name>.parquet` for `Tables.load(spark, base, name)`. */
  private def tableDir(prefix: String): (String, String) = {
    val base = Files.createTempDirectory(prefix).toString
    (base, s"$base/t.parquet")
  }

  test("every fixture table loads with the schema Spark's inference gives") {
    Tables.all.foreach { n =>
      val loaded = Tables.load(spark, sf, n)
      val inferred = spark.read.parquet(Tables.path(sf, n))
      assert(Tables.footerSchema(spark, Tables.path(sf, n)).isDefined, n)
      assert(loaded.schema === Tables.normalizeTs(inferred).schema, n)
    }
  }

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** A one-row table whose `ts` is TIMESTAMP(NANOS); returns (base, path). */
  private def nanosTable(): (String, String) = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val (base, p) = tableDir("graft_tables_nanos_")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    // 2024-01-01T00:00:00.000001 UTC in ns
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1704067200000001000L))
    finally w.close()
    (base, p)
  }

  test("a TIMESTAMP(NANOS) column reads as long under nanosAsLong, then as " +
      "a µs timestamp, as with Spark's inference") {
    val (base, p) = nanosTable()
    Engine.scoped(spark, Map(nanosKey -> "true")) { s =>
      val loaded = Tables.load(s, base, "t")
      assert(Tables.footerSchema(s, p).map(_("ts").dataType) === Some(LongType))
      assert(loaded.schema === Tables.normalizeTs(s.read.parquet(p)).schema)
      assert(loaded.schema("ts").dataType === TimestampType)
      assert(loaded.selectExpr("unix_micros(ts)").head().getLong(0) === 1704067200000001L)
    }
  }

  test("a TIMESTAMP(NANOS) column on a session without nanosAsLong fails " +
      "loudly, naming the key, and the load writes no conf") {
    val (base, _) = nanosTable()
    assert(!spark.conf.getOption(nanosKey).contains("true"),
      "an earlier load wrote nanosAsLong onto the session")
    Seq[() => Any](() => Tables.load(spark, base, "t"),
        () => Tables.loadStream(spark, base, "t")).foreach { load =>
      val e = intercept[IllegalArgumentException](load())
      assert(e.getMessage.contains(nanosKey), e.getMessage)
      assert(!spark.conf.getOption(nanosKey).contains("true"))
    }
  }

  test("a load or a stream start runs no Spark job") {
    assert(jobsStarted(Tables.all.foreach(n => Tables.load(spark, sf, n))) === 0)
    assert(jobsStarted(Tables.loadStream(spark, sf, "events")) === 0)
  }

  test("a Spark-written dir (_SUCCESS, .crc files) reads the first part's footer") {
    import spark.implicits._
    val (base, p) = tableDir("graft_tables_spark_")
    (1 to 20).map(i => (i.toLong, s"v$i", i * 0.5)).toDF("id", "name", "score")
      .repartition(2).write.parquet(p)
    val names = new java.io.File(p).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      names.mkString(","))
    assert(Tables.footerSchema(spark, p).isDefined)
    assert(Tables.load(spark, base, "t").schema === spark.read.parquet(p).schema)
    assert(jobsStarted(Tables.load(spark, base, "t")) === 0)
    assert(Tables.load(spark, base, "t").count() === 20)
  }

  test("a multi-file dir with differing schemas takes the file inference " +
      "takes: first data file in path order, a _metadata summary first") {
    import spark.implicits._
    val (base, p) = tableDir("graft_tables_multi_")
    val scratch = Files.createTempDirectory("graft_tables_parts_").toString
    def onePart(df: org.apache.spark.sql.DataFrame, as: String): Unit = {
      val out = s"$scratch/$as"
      df.coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(p))
      Files.copy(part.toPath, Paths.get(p, as), StandardCopyOption.REPLACE_EXISTING)
    }
    onePart(Seq((1L, "a")).toDF("id", "x"), "part-1.parquet")
    onePart(Seq((2L, 2.5)).toDF("id", "y"), "part-0.parquet")
    def loaded = Tables.load(spark, base, "t").schema
    assert(Tables.footerSchema(spark, p).isDefined)
    assert(loaded === spark.read.parquet(p).schema)
    assert(loaded.fieldNames.toSeq === Seq("id", "y"))
    // a summary file's footer wins over every data file
    onePart(Seq((3L, true)).toDF("id", "z"), "_metadata")
    assert(loaded === spark.read.parquet(p).schema)
    assert(loaded.fieldNames.toSeq === Seq("id", "z"))
  }

  test("an empty table dir still fails with Spark's UNABLE_TO_INFER_SCHEMA") {
    val (base, p) = tableDir("graft_tables_empty_")
    Files.createDirectories(Paths.get(p))
    assert(Tables.footerSchema(spark, p) === None)
    val e = intercept[AnalysisException](Tables.load(spark, base, "t"))
    assert(e.getCondition === "UNABLE_TO_INFER_SCHEMA", e.getMessage)
  }

  test("a partitioned dir keeps Spark's own inference, partition column included") {
    import spark.implicits._
    val (base, p) = tableDir("graft_tables_part_")
    (1 to 6).map(i => (i.toLong, i % 2)).toDF("id", "k").write.partitionBy("k").parquet(p)
    assert(Tables.footerSchema(spark, p) === None)
    val loaded = Tables.load(spark, base, "t")
    assert(loaded.schema === spark.read.parquet(p).schema)
    assert(loaded.schema.fieldNames.toSeq === Seq("id", "k"))
  }
}
