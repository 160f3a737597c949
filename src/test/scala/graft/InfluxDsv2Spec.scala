package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

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

  test("insertlimit bounds each flush file (one simulated POST per file)") {
    val dir = Files.createTempDirectory("graft_dsv2_").toString
    src().write.format("graft-influx")
      .option("path", dir).option("measurement", "m")
      .option("insertlimit", "2")
      .mode("overwrite").save()
    // local-FS Hadoop writes .crc shadows; only the .lp flushes count
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
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft_dsv2_retry_").toString
    val seriesDir = s"$dir/m"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val writeId = "w1"
    def runAttempt(taskId: Long, tag: String): InfluxCommit = {
      val w = new InfluxDataWriter(schema, seriesDir, "m", "time", 2,
        new FileFlushTransport(None), partitionId = 0, taskId = taskId,
        writeId = writeId)
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
    // Driver-side publish with ONLY the committed attempt's message.
    InfluxCommitProtocol.publish(seriesDir, writeId, Array(committed))
    val got = lines(dir)
    assert(got.size === 5, got.mkString("|"))
    assert(got.forall(_.contains("name=\"row")), got.mkString("|"))
    // the zombie's staged files are swept with the write's staging dir
    assert(!new java.io.File(s"$seriesDir/_staging/$writeId").exists())
  }

  test("epoch replay republishes the same file names (no duplicates)") {
    import graft.pipeline._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft_dsv2_replay_").toString
    val seriesDir = s"$dir/m"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    def stageEpoch(taskId: Long): InfluxCommit = {
      val w = new InfluxDataWriter(schema, seriesDir, "m", "time", 10,
        new FileFlushTransport(None), partitionId = 0, taskId = taskId,
        writeId = "w1", nameTag = "e7-")
      (1 to 4).foreach(i => w.write(InternalRow(i.toLong,
        UTF8String.fromString(s"v$i"))))
      w.commit().asInstanceOf[InfluxCommit]
    }
    val sw = new InfluxStreamingWrite(schema, seriesDir, "m", "time", 10,
      truncateFirst = false)
    sw.commit(7L, Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
      stageEpoch(1L)))
    assert(lines(dir).size === 4)
    // The checkpoint update raced a failure: epoch 7 re-runs end to end.
    sw.commit(7L, Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
      stageEpoch(2L)))
    assert(lines(dir).size === 4) // same final names overwritten, not added
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

  test("InfluxDsv2Sink: duplicated speculative attempt publishes once") {
    import graft.pipeline._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft_lp_spec_").toString
    // 1) A real append through the Sink adapter: multi-partition write
    //    must render every row exactly once and leave no staging behind.
    val sink = new InfluxDsv2Sink(dir, insertLimit = 2)
    sink.append(src().repartition(3), "m")
    assert(lines(dir).size === 5)
    // the write's staging namespace is swept (the _staging root may remain
    // as an empty dir — readers skip _-prefixed paths)
    val staged = Option(new java.io.File(s"$dir/m/_staging").listFiles())
      .map(_.toSeq).getOrElse(Nil)
    assert(staged.isEmpty, staged.mkString(","))
    // 2) The speculation scenario clusterDefaults enables: TWO attempts of
    //    the same partition run to completion (same writeId — one write),
    //    Spark commits only the winner. The loser's staged flushes must
    //    never become visible and must be swept by the job-level publish.
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    def attempt(taskId: Long): InfluxCommit = {
      val w = new InfluxDataWriter(schema, s"$dir/spec", "spec", "time", 2,
        new FileFlushTransport(None), partitionId = 0, taskId = taskId,
        writeId = "w-spec")
      (1 to 5).foreach(i => w.write(InternalRow(i.toLong,
        UTF8String.fromString(s"v$i"))))
      w.commit().asInstanceOf[InfluxCommit]
    }
    val winner = attempt(1L)
    attempt(2L) // the speculative duplicate — finishes, is never committed
    InfluxCommitProtocol.publish(s"$dir/spec", "w-spec", Array(winner))
    val got = spark.read.text(s"$dir/spec").collect().map(_.getString(0))
    assert(got.length === 5, got.mkString("|")) // once, not twice
    val specStaged = Option(new java.io.File(s"$dir/spec/_staging").listFiles())
      .map(_.toSeq).getOrElse(Nil)
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
