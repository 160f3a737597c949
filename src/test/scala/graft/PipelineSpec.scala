package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.pipeline._
import graft.sources.Catalog

/** Reference-parity semantics (SURVEY.md §5): the system-substring name
  * filter, null-time skip accounting, empty table, all-rows-skipped,
  * micro-batch clamping, and the written+skipped==total ledger property.
  */
class PipelineSpec extends SparkSpec {
  import PipelineSpec._

  test("nonSystem skips any name CONTAINING 'system' (index.js:298)") {
    val names = Seq("users", "system.indexes", "ecosystem_metrics", "orders")
    assert(Catalog.nonSystem(names) === Seq("users", "orders"))
  }

  private def writeSrc(rows: Seq[(Long, Option[Timestamp], Double)]): String = {
    val dir = Files.createTempDirectory("graft_src_").toString
    import spark.implicits._
    rows.toDF("event_id", "ts", "value")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  private def report(src: String, sink: Sink = noopSink) =
    Pipeline.migrateTable(spark, src, "events",
      df => df.withColumn("time", col("ts")).drop("ts", "event_id"), sink)

  test("null-time rows are skip-counted, not errored (index.js:235-239)") {
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    val src = writeSrc(Seq((1L, Some(t), 1.0), (2L, None, 2.0), (3L, Some(t), 3.0)))
    val r = report(src)
    assert(r.written === 2)
    assert(r.skipped === 1)
    assert(math.abs(r.success_rate - 200.0 / 3) < 1e-12)
  }

  test("empty table migrates cleanly (0 pages edge, index.js:186)") {
    val src = writeSrc(Seq.empty)
    val r = report(src)
    assert(r.written === 0 && r.skipped === 0)
    assert(r.success_rate === 100.0)
  }

  test("all rows skipped -> success rate 0% (index.js:271-272)") {
    val src = writeSrc(Seq((1L, None, 1.0), (2L, None, 2.0)))
    val r = report(src)
    assert(r.written === 0 && r.skipped === 2)
    assert(r.success_rate === 0.0)
  }

  test("a prepare with no time column skips every row") {
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    val src = writeSrc(Seq((1L, Some(t), 1.0)))
    val r = Pipeline.migrateTable(spark, src, "events",
      df => df.drop("ts"), noopSink)
    assert(r.written === 0 && r.skipped === 1)
  }

  test("MicroBatchSink: insertLimit-sized batches, short last batch, no empty flush") {
    batches.clear()
    val sink = new MicroBatchSink(3, recordBatch)
    import spark.implicits._
    val df = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1)
    sink.append(df, "t")
    val sizes = batches.asScala.toSeq.sorted
    assert(sizes === Seq(1, 3, 3, 3)) // 10 rows, limit 3 -> 3,3,3,1 clamp
    batches.clear()
    sink.append(df.where(lit(false)), "t")
    assert(batches.isEmpty) // zero rows -> zero flushes (fixes SURVEY §4.4.7)
  }

  test("line protocol renders fields and ns timestamp") {
    import spark.implicits._
    val row = Seq((Timestamp.valueOf("2024-01-01 00:00:00"), 1.5, 7L, "a\"b"))
      .toDF("time", "value", "n", "s").collect()(0)
    val line = InfluxLineProtocol.render("events", row)
    assert(line.startsWith("events "))
    assert(line.contains("value=1.5") && line.contains("n=7i"))
    assert(line.contains("s=\"a\\\"b\""))
    assert(line.endsWith((row.getAs[Timestamp]("time").getTime * 1000000L).toString))
  }

  test("a failing table is logged and skipped; the rest still migrate") {
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    val dir = Files.createTempDirectory("graft_src_").toString
    import spark.implicits._
    Seq((1L, t, 1.0)).toDF("event_id", "ts", "value")
      .write.parquet(s"$dir/events.parquet")
    Seq((1L, "y")).toDF("id", "v").write.parquet(s"$dir/other.parquet")
    val sinkDir = Files.createTempDirectory("graft_sink_").toString
    val prepare: String => (org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      case "other" => df => df.select(col("no_such_column")) // analysis error
      case n => Pipeline.defaultPrepare(n)
    }
    val rep = Pipeline.migrate(spark, dir, new ParquetSink(sinkDir), prepare)
    assert(rep.collect().map(_.getString(0)).toSeq === Seq("events"))
  }

  test("resume markers: set after append, gate the skip, cleared by truncate") {
    val sinkDir = Files.createTempDirectory("graft_resume_").toString
    val sink = new ParquetSink(sinkDir)
    assert(!sink.isDone("events"))
    sink.markDone("events")
    assert(sink.isDone("events"))
    // marker lives NEXT TO the table dir, so it cannot pollute the
    // parquet listing of the series itself
    assert(new java.io.File(s"$sinkDir/_done_events").exists())
    sink.truncate("events")
    assert(!sink.isDone("events"), "truncated series must lose its marker")
  }

  test("resume after crash-before-markDone re-writes exactly one copy") {
    // Crash window: append() landed the full table but the marker was
    // never written. A resume must NOT bare-append a second copy on the
    // orphaned data — Pipeline truncates an unmarked table first.
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    val src = writeSrc(Seq((1L, Some(t), 1.0), (2L, Some(t), 2.0)))
    val sinkDir = Files.createTempDirectory("graft_resume2_").toString
    val sink = new ParquetSink(sinkDir)
    val quiet = PipelineConfig(logging = false)
    Pipeline.migrate(spark, src, sink, config = quiet)
    assert(spark.read.parquet(s"$sinkDir/events").count() === 2)
    SinkFiles.deleteRecursive(s"$sinkDir/_done_events") // marker lost, data kept
    val resumed = Pipeline.migrate(spark, src, sink,
      config = quiet.copy(resume = true))
    assert(resumed.collect().map(_.getString(0)).toSeq === Seq("events"))
    assert(spark.read.parquet(s"$sinkDir/events").count() === 2,
      "resume must truncate-then-rewrite, not double-append")
    assert(sink.isDone("events"))
  }

  test("resume after data AND marker both lost restores exactly one copy") {
    // The other crash class: the sink volume lost the table dir and its
    // marker (or the append itself died mid-write and was cleaned up).
    // Resume must rebuild the table from source — and truncate on a
    // nonexistent path must not throw.
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    val src = writeSrc(Seq((1L, Some(t), 1.0), (2L, Some(t), 2.0)))
    val sinkDir = Files.createTempDirectory("graft_resume3_").toString
    val sink = new ParquetSink(sinkDir)
    val quiet = PipelineConfig(logging = false)
    Pipeline.migrate(spark, src, sink, config = quiet)
    SinkFiles.deleteRecursive(s"$sinkDir/events")
    SinkFiles.deleteRecursive(s"$sinkDir/_done_events")
    val resumed = Pipeline.migrate(spark, src, sink,
      config = quiet.copy(resume = true))
    assert(resumed.collect().map(_.getString(0)).toSeq === Seq("events"))
    assert(spark.read.parquet(s"$sinkDir/events").count() === 2,
      "resume must restore exactly one full copy of the lost table")
    assert(sink.isDone("events"))
  }

  test("property: written + skipped == input count (the reference ledger)") {
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    val genRows = Gen.listOf(Gen.oneOf(true, false))
    val prop = Prop.forAll(genRows) { rows =>
      val data = rows.zipWithIndex.map { case (hasTime, i) =>
        (i.toLong, if (hasTime) Some(t) else None, 1.0)
      }
      val r = report(writeSrc(data))
      r.written + r.skipped == data.size &&
        r.written == data.count(_._2.isDefined)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("queryLimit splits the migration's reads and leaves the caller's " +
      "session conf alone") {
    val key = "spark.sql.files.maxPartitionBytes"
    val src = Files.createTempDirectory("graft_qlimit_").toString
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/lineitem.parquet"),
      java.nio.file.Paths.get(s"$src/lineitem.parquet"))
    val before = spark.conf.getOption(key)
    val sinkSaw = new ConcurrentLinkedQueue[Option[String]]()
    val sink = new Sink {
      override def truncate(table: String): Unit = ()
      override def append(df: DataFrame, table: String): Unit = {
        sinkSaw.add(spark.conf.getOption(key)) // the caller's session
        noopSink.append(df, table)
      }
    }
    val prepared = new ConcurrentLinkedQueue[(String, Int)]()
    val ledger = Pipeline.migrate(spark, src, sink,
      name => df => {
        prepared.add(df.sparkSession.conf.get(key) -> df.rdd.getNumPartitions)
        Pipeline.defaultPrepare(name)(df)
      },
      PipelineConfig(queryLimit = Some(16384L), logging = false)).collect()
    assert(ledger.map(_.getString(0)).toSeq === Seq("lineitem"))
    assert(sinkSaw.asScala.toSeq === Seq(before))
    assert(spark.conf.getOption(key) === before)
    val (limit, partitions) = prepared.asScala.toSeq match { case Seq(p) => p }
    assert(limit === "16384")
    assert(partitions > 1, s"a 16 KiB split limit read lineitem as $partitions partition")
  }

  test("migrate runs all non-system tables and reports a sorted ledger") {
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    val dir = Files.createTempDirectory("graft_src_").toString
    import spark.implicits._
    Seq((1L, t, 1.0)).toDF("event_id", "ts", "value")
      .write.parquet(s"$dir/events.parquet")
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$dir/system_audit.parquet")
    Seq((1L, "y")).toDF("id", "v").write.parquet(s"$dir/plain.parquet")
    val sinkDir = Files.createTempDirectory("graft_sink_").toString
    val rep = Pipeline.migrate(spark, dir, new ParquetSink(sinkDir),
      Pipeline.defaultPrepare)
    val rows = rep.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq === Seq("events", "plain")) // system_audit skipped
    val byName = rows.map(r => r._1 -> (r._2, r._3)).toMap
    assert(byName("events") === ((1L, 0L)))
    assert(byName("plain") === ((0L, 1L))) // no time column -> all skipped
    // sink got exactly the written rows
    assert(spark.read.parquet(s"$sinkDir/events").count() === 1)
  }

  test("ProgressListener counts graft-influx rows: snapshot equals the ledger") {
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    val dir = Files.createTempDirectory("graft_src_").toString
    import spark.implicits._
    (1 to 60).map(i => (i.toLong, if (i % 12 == 0) None else Some(t), i * 0.5))
      .toDF("event_id", "ts", "value").repartition(3)
      .write.parquet(s"$dir/events.parquet")
    (1 to 25).map(i => (t, i.toLong)).toDF("time", "v")
      .write.parquet(s"$dir/metrics.parquet")
    val listener = new ProgressListener().register(spark)
    try {
      val sinkDir = Files.createTempDirectory("graft_sink_").toString
      val written = Pipeline.migrate(spark, dir,
          new InfluxDsv2Sink(sinkDir, insertLimit = 7), Pipeline.defaultPrepare)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(written === Map("events" -> 55L, "metrics" -> 25L))
      // listener events arrive asynchronously — poll briefly
      def rows() = listener.snapshot().map { case (k, v) => k -> v._1 }
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (rows() != written && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(rows() === written)
    } finally listener.unregister(spark)
  }
}

object PipelineSpec {
  /** Executor-side batch recorder (same JVM in local mode). */
  val batches = new ConcurrentLinkedQueue[Int]()
  val recordBatch: (String, Seq[Row]) => Unit = (_, b) => batches.add(b.size)
  val noopSink: Sink = new Sink {
    override def truncate(table: String): Unit = ()
    override def append(df: DataFrame, table: String): Unit =
      df.write.format("noop").mode("overwrite").save()
  }
}
