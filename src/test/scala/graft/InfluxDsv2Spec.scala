package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.pipeline.{FileFlushTransport, InfluxWrite}

/** DSv2 line-protocol sink (SURVEY §7.3(c)): append/truncate semantics
  * through the writer API, flush-file batching, and spec escaping.
  */
class InfluxDsv2Spec extends SparkSpec {

  private def src() = {
    import spark.implicits._
    Seq(
      (1L, "alpha", 1.5, Timestamp.valueOf("2024-01-01 00:00:00.000001")),
      (2L, "beta \"q\"", 2.5, Timestamp.valueOf("2024-01-01 00:00:01")),
      (3L, "gamma", 3.5, Timestamp.valueOf("2024-01-01 00:00:02")),
      (4L, "delta", 4.5, Timestamp.valueOf("2024-01-01 00:00:03")),
      (5L, "epsilon", 5.5, Timestamp.valueOf("2024-01-01 00:00:04"))
    ).toDF("id", "name", "score", "time").repartition(1)
  }

  private def lines(dir: String): Seq[String] =
    spark.read.text(s"$dir/m").collect().map(_.getString(0)).toSeq.sorted

  /** What a write left under the series' staging root (the root itself
    * may remain as an empty dir — readers skip `_`-prefixed paths).
    */
  private def leftInStaging(seriesDir: String): Seq[java.io.File] =
    Option(new java.io.File(s"$seriesDir/_staging").listFiles())
      .map(_.toSeq).getOrElse(Nil)

  /** The real graft-influx write over the file transport, for driving
    * task attempts and commits by hand.
    */
  private def fileWrite(seriesDir: String, insertLimit: Int) =
    new InfluxWrite(StructType(Seq(StructField("id", LongType),
        StructField("name", StringType))), "m", "time", insertLimit,
      truncateFirst = false, new FileFlushTransport(seriesDir, None))

  private val onePartition = new PhysicalWriteInfo {
    override def numPartitions(): Int = 1
  }

  test("append mode appends; overwrite mode truncates to one copy") {
    val dir = Files.createTempDirectory("graft_dsv2_").toString
    def write(mode: String): Unit =
      src().write.format("graft-influx")
        .option("path", dir).option("measurement", "m")
        .mode(mode).save()
    write("append")
    assert(lines(dir).size === 5)
    write("append")
    assert(lines(dir).size === 10)
    write("overwrite")
    assert(lines(dir).size === 5)
  }

  test("rendered lines carry fields + full-ns timestamp, spec-escaped") {
    val dir = Files.createTempDirectory("graft_dsv2_").toString
    src().write.format("graft-influx")
      .option("path", dir).option("measurement", "m")
      .mode("overwrite").save()
    val ls = lines(dir)
    // 2024-01-01T00:00:00.000001 UTC = 1704067200 s + 1 µs
    assert(ls.contains("m id=1i,name=\"alpha\",score=1.5 1704067200000001000"))
    // embedded quotes escape per the line-protocol spec
    assert(ls.exists(_.contains("name=\"beta \\\"q\\\"\"")))
  }

  test("measurement and field keys are spec-escaped, the same bytes as the " +
      "row renderer") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dsv2_keys_").toString
    val df = Seq((1L, "v", 2.5, Timestamp.valueOf("2024-01-01 00:00:00.000001")))
      .toDF("a b", "c,d", "e=f", "time").repartition(1)
    df.write.format("graft-influx")
      .option("path", dir).option("measurement", "m x,y").mode("append").save()
    val seriesDir = new java.io.File(s"$dir/m x,y")
    val got = seriesDir.listFiles().filter(_.getName.endsWith(".lp")).toSeq
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
    assert(got === Seq("m\\ x\\,y a\\ b=1i,c\\,d=\"v\",e\\=f=2.5 1704067200000001000"))
    assert(got === df.collect().toSeq.map(r =>
      graft.pipeline.InfluxLineProtocol.render("m x,y", r)))
  }

  test("insertlimit bounds each flush file (one simulated POST per file)") {
    val dir = Files.createTempDirectory("graft_dsv2_").toString
    src().write.format("graft-influx")
      .option("path", dir).option("measurement", "m")
      .option("insertlimit", "2")
      .mode("overwrite").save()
    // only the .lp flushes count
    val files = new java.io.File(s"$dir/m").listFiles().map(_.getName)
      .filter(_.endsWith(".lp")).sorted
    assert(files.length === 3, files.mkString(","))  // 2 + 2 + 1 rows
    assert(files.forall(_.endsWith(".lp")))
    assert(lines(dir).size === 5)
  }

  test("streaming write: epoch-stamped flush files, lines match the batch render") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_dsv2_src_").toString
    src().write.parquet(s"$srcDir/rows.parquet")
    val dir = Files.createTempDirectory("graft_dsv2_st_").toString
    val q = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/rows.parquet").schema)
      .parquet(s"$srcDir/{rows.parquet}")
      .writeStream.format("graft-influx")
      .option("path", dir).option("measurement", "m")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop()
    assert(lines(dir).size === 5)
    assert(lines(dir).contains(
      "m id=1i,name=\"alpha\",score=1.5 1704067200000001000"))
    val files = new java.io.File(s"$dir/m").listFiles().map(_.getName)
      .filter(_.endsWith(".lp"))
    assert(files.forall(_.startsWith("flush-e")), files.mkString(","))
  }

  test("streaming re-run against the same checkpoint adds nothing (source offsets committed)") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_dsv2_ck_").toString
    src().write.parquet(s"$srcDir/rows.parquet")
    val dir = Files.createTempDirectory("graft_dsv2_ck_out_").toString
    def run(): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(s"$srcDir/rows.parquet").schema)
        .parquet(s"$srcDir/{rows.parquet}")
        .writeStream.format("graft-influx")
        .option("path", dir).option("measurement", "m")
        .option("checkpointLocation", s"$dir/_ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.stop()
    }
    run()
    assert(lines(dir).size === 5)
    run() // no new source data + committed offsets -> no new flush files
    assert(lines(dir).size === 5)
  }

  test("Pipeline.migrateTable composes with the DSv2-backed sink") {
    import graft.pipeline.{InfluxDsv2Sink, Pipeline, PipelineConfig}
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_dsv2_mig_").toString
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    (1 to 40).map(i => (i.toLong, t0, i * 1.0))
      .toDF("event_id", "ts", "value")
      .write.parquet(s"$srcDir/events.parquet")
    val sinkDir = Files.createTempDirectory("graft_dsv2_mig_out_").toString
    val r = Pipeline.migrateTable(spark, srcDir, "events",
      Pipeline.defaultPrepare("events"), new InfluxDsv2Sink(sinkDir),
      PipelineConfig(emptySeries = true, logging = false))
    assert(r.written === 40)
    val got = spark.read.text(s"$sinkDir/events").count()
    assert(got === 40)
  }

  test("zombie task attempt leaves no visible lines (commit publishes only the committed attempt)") {
    import graft.pipeline._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft_dsv2_retry_").toString
    val seriesDir = s"$dir/m"
    val write = fileWrite(seriesDir, insertLimit = 2)
    val factory = write.createBatchWriterFactory(onePartition)
    def runAttempt(taskId: Long, tag: String): InfluxCommit = {
      val w = factory.createWriter(0, taskId)
      (1 to 5).foreach(i => w.write(InternalRow(i.toLong,
        UTF8String.fromString(s"$tag$i"))))
      w.commit().asInstanceOf[InfluxCommit]
    }
    // Attempt 1 stages all its flushes but is never committed (zombie:
    // Spark lost the executor after the task finished writing).
    val zombie = runAttempt(100L, "zombie")
    assert(zombie.fileNames.size === 3)
    // Attempt 2 (the retry Spark actually commits) stages the same rows.
    val committed = runAttempt(101L, "row")
    // Driver-side commit with ONLY the committed attempt's message.
    write.commit(Array[WriterCommitMessage](committed))
    val got = lines(dir)
    assert(got.size === 5, got.mkString("|"))
    assert(got.forall(_.contains("name=\"row")), got.mkString("|"))
    // the zombie's staged files are swept with the write's staging dir
    assert(!new java.io.File(s"$seriesDir/_staging/${zombie.attempt}").exists())
    assert(leftInStaging(seriesDir).isEmpty, leftInStaging(seriesDir).mkString(","))
  }

  test("epoch replay republishes the same file names (no duplicates)") {
    import graft.pipeline._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft_dsv2_replay_").toString
    val seriesDir = s"$dir/m"
    // One run of the query: epoch 7's one task stages 4 rows and the
    // epoch commits.
    def runEpoch7(taskId: Long): Unit = {
      val write = fileWrite(seriesDir, insertLimit = 10)
      val w = write.createStreamingWriterFactory(onePartition)
        .createWriter(0, taskId, 7L)
      (1 to 4).foreach(i => w.write(InternalRow(i.toLong,
        UTF8String.fromString(s"v$i"))))
      write.commit(7L, Array[WriterCommitMessage](w.commit()))
    }
    runEpoch7(1L)
    assert(lines(dir).size === 4)
    // The checkpoint update raced a failure: the restarted query (a new
    // write) re-runs epoch 7 end to end.
    runEpoch7(2L)
    assert(lines(dir).size === 4) // same final names overwritten, not added
  }

  /** Every `.crc` checksum sidecar under `dir`, staging included. */
  private def crcFiles(dir: String): Seq[String] = {
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".crc")).toSeq
    finally walk.close()
  }

  test("local staging is a plain write: no .crc in staging or the series, " +
      "flush names and line counts unchanged") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft_dsv2_plain_").toString
    val seriesDir = s"$dir/m"
    val write = fileWrite(seriesDir, insertLimit = 2)
    val w = write.createBatchWriterFactory(onePartition).createWriter(0, 1L)
    (1 to 5).foreach(i => w.write(InternalRow(i.toLong,
      UTF8String.fromString(s"v$i"))))
    val msg = w.commit().asInstanceOf[graft.pipeline.InfluxCommit]
    val staged = new java.io.File(s"$seriesDir/_staging/${msg.attempt}")
      .listFiles().map(_.getName).sorted.toSeq
    assert(staged === msg.fileNames.sorted, staged.mkString(","))
    assert(crcFiles(dir).isEmpty, crcFiles(dir).mkString(","))
    write.commit(Array[WriterCommitMessage](msg))
    val published = new java.io.File(seriesDir).listFiles()
      .filter(_.isFile).map(_.getName).sorted.toSeq
    assert(published === msg.fileNames.sorted, published.mkString(","))
    assert(published.forall(_.matches("flush-[0-9a-f]{8}-0-[0-9]+\\.lp")),
      published.mkString(","))
    assert(published.map(n => Files.readAllLines(
      java.nio.file.Paths.get(seriesDir, n)).size) === Seq(2, 2, 1))
    assert(crcFiles(dir).isEmpty, crcFiles(dir).mkString(","))
    assert(lines(dir).size === 5)
  }

  test("delivering the same staged name twice fails (create-new)") {
    val dir = Files.createTempDirectory("graft_dsv2_twice_").toString
    val t = new FileFlushTransport(s"$dir/m", None)
    val body = "m id=1i\n".getBytes("UTF-8")
    t.deliver("w/0-1", "flush-w-0-0.lp", body)
    intercept[java.io.IOException](t.deliver("w/0-1", "flush-w-0-0.lp", body))
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(
      s"$dir/m/_staging/w/0-1/flush-w-0-0.lp")), "UTF-8") === "m id=1i\n")
  }

  test("republishing over a flush published with a .crc drops the stale " +
      "checksum; the series reads back clean") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft_dsv2_stalecrc_").toString
    val seriesDir = s"$dir/m"
    // A flush of epoch 7 as a checksummed Hadoop create publishes it:
    // the file plus its `.crc` sidecar, over different bytes.
    val old = new Path(s"$seriesDir/flush-e7-0-0.lp")
    val out = graft.pipeline.SinkFiles.fileSystem(old).create(old, false)
    try out.write("m id=99i,name=\"stale line of another length\"\n".getBytes("UTF-8"))
    finally out.close()
    assert(new java.io.File(s"$seriesDir/.flush-e7-0-0.lp.crc").exists())
    // Epoch 7 replays and publishes the same name from a plain staged file.
    val write = fileWrite(seriesDir, insertLimit = 10)
    val w = write.createStreamingWriterFactory(onePartition).createWriter(0, 1L, 7L)
    (1 to 4).foreach(i => w.write(InternalRow(i.toLong,
      UTF8String.fromString(s"v$i"))))
    write.commit(7L, Array[WriterCommitMessage](w.commit()))
    assert(crcFiles(dir).isEmpty, crcFiles(dir).mkString(","))
    val got = lines(dir)
    assert(got.size === 4, got.mkString("|"))
    assert(got.forall(_.contains("name=\"v")), got.mkString("|"))
  }

  test("a non-local Hadoop FileSystem still stages through FileSystem.create") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${CountingFs.scheme}.impl", classOf[CountingFs].getName)
    val dir = Files.createTempDirectory("graft_dsv2_nonlocal_").toString
    val write = new InfluxWrite(StructType(Seq(StructField("id", LongType),
        StructField("name", StringType))), "m", "time", 2,
      truncateFirst = false,
      new FileFlushTransport(s"${CountingFs.scheme}://$dir/m", None))
    val before = CountingFs.creates.get
    val w = write.createBatchWriterFactory(onePartition).createWriter(0, 1L)
    (1 to 5).foreach(i => w.write(InternalRow(i.toLong,
      UTF8String.fromString(s"v$i"))))
    write.commit(Array[WriterCommitMessage](w.commit()))
    assert(CountingFs.creates.get - before === 3) // 2 + 2 + 1 rows
    assert(lines(dir).size === 5)
  }

  test("failed overwrite leaves the old series intact (truncate at commit, not start)") {
    val dir = Files.createTempDirectory("graft_dsv2_ow_").toString
    src().write.format("graft-influx")
      .option("path", dir).option("measurement", "m")
      .mode("overwrite").save()
    assert(lines(dir).size === 5)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val boom = udf((i: Long) => {
      if (i == 3L) throw new RuntimeException("boom"); i
    })
    intercept[Exception] {
      src().select(boom(col("id")).as("id"), col("name"), col("time"))
        .write.format("graft-influx")
        .option("path", dir).option("measurement", "m")
        .mode("overwrite").save()
    }
    // old contents survive the failed overwrite
    assert(lines(dir).size === 5)
  }

  test("complete mode: a failed micro-batch leaves the last published output; " +
      "a successful one leaves only its own complete output") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_dsv2_cm_src_").toString
    val dir = Files.createTempDirectory("graft_dsv2_cm_").toString
    def addFile(name: String, rows: Seq[(String, Long)]): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, name), rows
        .map { case (k, v) => s"""{"k":"$k","v":$v}""" }
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val boom = udf((v: Long) => {
      if (v == 666L && InfluxDsv2Spec.failing.get())
        throw new RuntimeException("boom")
      true
    })
    def run(): Unit = {
      val q = spark.readStream.schema("k STRING, v BIGINT").json(srcDir)
        .filter(boom($"v"))
        .groupBy($"k").agg(sum($"v").as("total"))
        .writeStream.format("graft-influx")
        .option("path", dir).option("measurement", "m")
        .option("checkpointLocation", s"$dir/_ckpt")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    addFile("a.json", Seq("a" -> 1L, "a" -> 2L, "b" -> 10L))
    run() // epoch 0
    val epoch0 = Seq("m k=\"a\",total=3i", "m k=\"b\",total=10i")
    assert(lines(dir) === epoch0)
    addFile("b.json", Seq("a" -> 4L, "b" -> 666L))
    InfluxDsv2Spec.failing.set(true)
    try intercept[Exception](run()) // epoch 1's task throws
    finally InfluxDsv2Spec.failing.set(false)
    assert(lines(dir) === epoch0)
    run() // epoch 1 replays from the checkpoint and succeeds
    assert(lines(dir) === Seq("m k=\"a\",total=7i", "m k=\"b\",total=676i"))
  }

  test("continuous trigger: an epoch commit publishes its own staging and " +
      "leaves later epochs' in-flight attempts alone") {
    val dir = Files.createTempDirectory("graft_dsv2_cont_").toString
    def epochs(): Set[String] =
      Option(new java.io.File(s"$dir/m").listFiles()).map(_.toSeq).getOrElse(Nil)
        .map(_.getName).filter(_.endsWith(".lp")).map(_.split("-")(1)).toSet
    val q = spark.readStream.format("rate").option("rowsPerSecond", "100")
      .option("numPartitions", "1").load()
      .writeStream.format("graft-influx")
      .option("path", dir).option("measurement", "m")
      .option("timecol", "timestamp").option("insertlimit", "20")
      .option("checkpointLocation", s"$dir/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.Continuous("200 milliseconds"))
      .start()
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (epochs().size < 3 && q.exception.isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(100)
      assert(q.exception.isEmpty, q.exception)
    } finally q.stop()
    assert(epochs().size >= 3, epochs())
    // every published line is one source row, published once
    val ls = lines(dir)
    assert(ls.nonEmpty && ls.distinct.size === ls.size)
  }

  test("a column type the renderer cannot write is refused when the write " +
      "is built: no job starts, no POST is sent; a NullType column writes") {
    val frame = src().withColumn("ntz", col("time").cast("timestamp_ntz"))
    def refused(e: Exception): Unit =
      assert(e.getMessage.contains("'ntz'") &&
        e.getMessage.contains("TimestampNTZType"), e.getMessage)
    val dir = Files.createTempDirectory("graft_dsv2_types_").toString
    assert(jobsStarted {
      refused(intercept[IllegalArgumentException] {
        frame.write.format("graft-influx")
          .option("path", dir).option("measurement", "m")
          .mode("append").save()
      })
    } === 0, "a job ran while building the refused write")
    val posts = new java.util.concurrent.atomic.AtomicInteger()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/write", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      posts.incrementAndGet()
      ex.sendResponseHeaders(204, -1)
      ex.close()
    })
    server.start()
    try refused(intercept[IllegalArgumentException] {
      frame.write.format("graft-influx")
        .option("measurement", "m").option("insertlimit", "2")
        .option("transport", "http")
        .option("url", s"http://127.0.0.1:${server.getAddress.getPort}/write")
        .mode("append").save()
    }) finally server.stop(0)
    assert(posts.get() === 0)
    // NullType values are always null: the column is accepted and skipped
    src().withColumn("nothing", lit(null)).write.format("graft-influx")
      .option("path", dir).option("measurement", "m")
      .mode("append").save()
    val ls = lines(dir)
    assert(ls.size === 5 && !ls.exists(_.contains("nothing")), ls.mkString("|"))
  }

  test("InfluxDsv2Sink: duplicated speculative attempt publishes once") {
    import graft.pipeline._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft_lp_spec_").toString
    // 1) A real append through the Sink adapter: multi-partition write
    //    must render every row exactly once and leave no staging behind.
    val sink = new InfluxDsv2Sink(dir, insertLimit = 2)
    sink.append(src().repartition(3), "m")
    assert(lines(dir).size === 5)
    // the write's staging namespace is swept (the _staging root may remain
    // as an empty dir — readers skip _-prefixed paths)
    val staged = leftInStaging(s"$dir/m")
    assert(staged.isEmpty, staged.mkString(","))
    // 2) The speculation scenario clusterDefaults enables: TWO attempts of
    //    the same partition run to completion (same writeId — one write),
    //    Spark commits only the winner. The loser's staged flushes must
    //    never become visible and must be swept by the job-level publish.
    val write = fileWrite(s"$dir/spec", insertLimit = 2)
    val factory = write.createBatchWriterFactory(onePartition)
    def attempt(taskId: Long): InfluxCommit = {
      val w = factory.createWriter(0, taskId)
      (1 to 5).foreach(i => w.write(InternalRow(i.toLong,
        UTF8String.fromString(s"v$i"))))
      w.commit().asInstanceOf[InfluxCommit]
    }
    val winner = attempt(1L)
    attempt(2L) // the speculative duplicate — finishes, is never committed
    write.commit(Array[WriterCommitMessage](winner))
    val got = spark.read.text(s"$dir/spec").collect().map(_.getString(0))
    assert(got.length === 5, got.mkString("|")) // once, not twice
    val specStaged = leftInStaging(s"$dir/spec")
    assert(specStaged.isEmpty, specStaged.mkString(",")) // loser swept
  }

  test("http transport POSTs each flush to the configured url (production seam)") {
    // A real localhost HTTP round-trip through the DSv2 writer — the
    // production form of the sink, exercised against a JDK-built-in
    // server standing in for InfluxDB's /write endpoint.
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/write", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      received.add(body)
      ex.sendResponseHeaders(204, -1)
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/write"
      // NO path option: the http transport never touches the local
      // filesystem, so none is required.
      src().write.format("graft-influx")
        .option("measurement", "m")
        .option("transport", "http").option("url", url)
        .option("insertlimit", "2")
        .mode("append").save()
      import scala.jdk.CollectionConverters._
      val bodies = received.asScala.toSeq
      assert(bodies.size === 3, s"expected 3 POSTs (2+2+1 rows): $bodies")
      val allLines = bodies.flatMap(_.split("\n")).filter(_.nonEmpty).sorted
      assert(allLines.size === 5)
      assert(allLines.contains(
        "m id=1i,name=\"alpha\",score=1.5 1704067200000001000"))
    } finally server.stop(0)
  }

  test("http transport carries db/rp/precision params and Basic auth; " +
      "non-2xx surfaces the server's error body") {
    // The InfluxDB 1.x /write API surface (reference connects with
    // user/password/database, index.js:27-38): credentials must arrive
    // as a decodable Authorization header (never in the URL), the
    // database/rp/precision options as query params, and a 400's JSON
    // error body must land in the thrown message.
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val auths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failNext = new java.util.concurrent.atomic.AtomicBoolean(false)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/write", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      queries.add(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      auths.add(Option(ex.getRequestHeaders.getFirst("Authorization"))
        .getOrElse(""))
      if (failNext.get()) {
        val err = """{"error":"retention policy not found: weekly"}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.sendResponseHeaders(400, err.length)
        val os = ex.getResponseBody
        try os.write(err) finally os.close()
      } else ex.sendResponseHeaders(204, -1)
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/write"
      def write(): Unit = src().write.format("graft-influx")
        .option("measurement", "m")
        .option("transport", "http").option("url", url)
        .option("database", "metrics db") // space → %20, proves encoding
        .option("rp", "weekly").option("precision", "u")
        .option("username", "dbuser").option("password", "s3cret")
        .mode("append").save()
      write()
      import scala.jdk.CollectionConverters._
      assert(queries.asScala.nonEmpty)
      queries.asScala.foreach { q =>
        assert(q.contains("db=metrics%20db") || q.contains("db=metrics+db"), q)
        assert(q.contains("rp=weekly") && q.contains("precision=u"), q)
        assert(!q.contains("s3cret"), s"credentials leaked into URL: $q")
      }
      auths.asScala.foreach { a =>
        assert(a.startsWith("Basic "), a)
        val decoded = new String(
          java.util.Base64.getDecoder.decode(a.stripPrefix("Basic ")),
          java.nio.charset.StandardCharsets.UTF_8)
        assert(decoded === "dbuser:s3cret", decoded)
      }
      failNext.set(true)
      val e = intercept[Exception] { write() }
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains("400") &&
        msg.contains("retention policy not found"), msg)
    } finally server.stop(0)
  }

  test("http-only options are rejected on the file transport") {
    val e = intercept[Exception] {
      src().write.format("graft-influx")
        .option("measurement", "m").option("path", "/tmp/unused")
        .option("database", "metrics")
        .mode("append").save()
    }
    assert(e.getMessage.contains("transport=http only"), e.getMessage)
  }

  test("http transport rejects overwrite mode up front (append-only)") {
    val e = intercept[Exception] {
      src().write.format("graft-influx")
        .option("measurement", "m")
        .option("transport", "http").option("url", "http://127.0.0.1:9/w")
        .mode("overwrite").save()
    }
    assert(e.getMessage.contains("append-only"), e.getMessage)
  }

  test("missing required options error clearly") {
    val e = intercept[Exception] {
      src().write.format("graft-influx").mode("append").save()
    }
    // measurement is validated first; path is required for the (default)
    // file transport — either way the message names the missing option
    assert(e.getMessage.contains("measurement") || e.getMessage.contains("path"))
    val e2 = intercept[Exception] {
      src().write.format("graft-influx").option("measurement", "m")
        .mode("append").save()
    }
    assert(e2.getMessage.contains("path"), e2.getMessage)
  }
}

object InfluxDsv2Spec {
  /** Arms the complete-mode test's throwing filter (tasks run in this JVM). */
  val failing = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** A FileSystem that is not Hadoop's `LocalFileSystem` (the raw local
  * one under its own scheme) and counts `create` calls and opens of
  * durable-store markers, so a test can see the file transport stage
  * through `FileSystem.create` there, or a sweep's marker reads.
  */
final class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${CountingFs.scheme}:///")

  // the overload `create(path, overwrite)` reaches
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    CountingFs.creates.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName.startsWith(graft.operators.DurableStore.Marker))
      CountingFs.markerOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingFs {
  val scheme = "graftcount"
  val creates = new java.util.concurrent.atomic.AtomicInteger()
  val markerOpens = new java.util.concurrent.atomic.AtomicInteger()
}
