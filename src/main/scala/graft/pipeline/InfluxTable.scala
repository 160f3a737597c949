package graft.pipeline

import java.nio.charset.StandardCharsets
import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 face of the line-protocol sink (SURVEY.md §7.3(c);
  * reference index.js:242-252 `writePoints` / index.js:321-336
  * `emptySeries`): `df.write.format("graft-influx")` with
  * `.mode("append")` mapping to the append contract and
  * `.mode("overwrite")` to DSv2 truncate-then-append — the engine-level
  * way to express the reference's emptyseries flag, so the sink composes
  * with everything that speaks the writer API instead of needing the
  * `graft.pipeline.Sink` trait. `writeStream.format("graft-influx")` is
  * the continuous migration: append mode, or complete mode (a truncate
  * per micro-batch).
  *
  * Options: `path` (base dir, required for the file transport),
  * `measurement` (series name, required), `timecol` (TimestampType column
  * rendered as the trailing epoch-ns timestamp; default "time"),
  * `insertlimit` (rows per flush = per POST body; default 1000),
  * `transport` (`file`, the default, or `http`) and the http-only `url`,
  * `httptimeoutms`, `database`, `rp`, `precision`, `username`,
  * `password`. A column type the renderer cannot write is refused when
  * the write is built, before any job runs.
  *
  * One commit protocol for batch writes and streaming epochs
  * (exactly-once visibility under task retries, see [[InfluxWrite]]):
  * each task attempt stages its flush files under
  * `<series>/_staging/<writeId>[/e<epoch>]/<partition>-<task>/`, named
  * deterministically `flush-<tag>-<partition>-<seq>.lp` (tag = `e<epoch>`
  * for streaming, a short write id for batch). Only the DRIVER-side commit — with the
  * one committed attempt per partition Spark hands it — truncates the
  * series (overwrite, complete mode), then renames the staged files into
  * the series dir; abort deletes the staging dir. So a
  * failed/speculative/zombie attempt's files never become visible
  * (readers filter `_`-prefixed dirs), a streaming epoch replayed after a
  * checkpoint race rewrites the SAME final file names (idempotent), and a
  * failed overwrite job or micro-batch leaves the old series intact. The
  * rename is per flush file on the driver — O(rows / insertlimit), no row
  * bytes — the same shape as a parquet commit protocol; the http
  * transport POSTs each flush instead and has nothing to stage.
  */
final class InfluxDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-influx"

  /** Write-only source: the table schema is the written query's schema
    * (`supportsExternalMetadata` makes Spark pass it to `getTable`).
    */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "graft-influx is write-only; reads go through spark.read.text on the flush files")

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new InfluxTable(schema, properties)
}

final class InfluxTable(tableSchema: StructType,
    props: util.Map[String, String]) extends SupportsWrite {

  private def opt(key: String): Option[String] = {
    // properties arrive lower-cased through the DSv2 option path, but be
    // tolerant of direct construction with mixed case
    val m = new CaseInsensitiveStringMap(props)
    Option(m.get(key))
  }

  private val measurement = opt("measurement").getOrElse(
    throw new IllegalArgumentException("graft-influx requires option 'measurement'"))
  private val timeCol = opt("timecol").getOrElse("time")
  private val insertLimit = opt("insertlimit").map(_.toInt).getOrElse(1000)
  require(insertLimit > 0, "insertlimit must be positive")
  // transport=file (default: staged flush files under path/measurement)
  // or transport=http (POST each flush to `url` — the production form).
  private val transport = opt("transport").getOrElse("file")
  private val httpUrl = opt("url")
  require(transport == "file" || transport == "http",
    s"graft-influx transport must be 'file' or 'http', got '$transport'")
  require(transport != "http" || httpUrl.isDefined,
    "graft-influx transport=http requires option 'url'")
  private val httpTimeoutMs = opt("httptimeoutms").map(_.toInt).getOrElse(60000)
  // InfluxDB 1.x /write API surface (reference index.js:27-38,92-97
  // connects with user/password/database): `database`→db=, `rp`→rp=,
  // `precision`→precision= query params; username/password ride as a
  // Basic Authorization header, never in the URL (query-string
  // credentials end up in server and proxy logs).
  private val httpDatabase = opt("database")
  private val httpRp = opt("rp")
  private val httpPrecision = opt("precision")
  private val httpUser = opt("username")
  private val httpPassword = opt("password")
  require(httpPrecision.forall(Set("ns", "u", "ms", "s", "m", "h")),
    s"graft-influx precision must be one of ns,u,ms,s,m,h, got " +
      s"'${httpPrecision.getOrElse("")}'")
  require(httpPassword.isEmpty || httpUser.isDefined,
    "graft-influx option 'password' requires 'username'")
  require(transport == "http" ||
      (Seq(httpDatabase, httpRp, httpPrecision, httpUser, httpPassword,
        httpUrl).forall(_.isEmpty) && opt("httptimeoutms").isEmpty),
    "graft-influx options url/httptimeoutms/database/rp/precision/" +
      "username/password apply to transport=http only")
  private val httpEndpoint: Option[HttpEndpoint] = httpUrl.map(u =>
    HttpEndpoint(u, httpTimeoutMs,
      httpUser.map(usr => (usr, httpPassword.getOrElse(""))),
      Seq("db" -> httpDatabase, "rp" -> httpRp,
        "precision" -> httpPrecision).collect { case (k, Some(v)) => k -> v }))
  // `path` is the file transport's destination; the http transport never
  // touches the local filesystem, so it needs none (the placeholder only
  // feeds cosmetic names).
  private val baseDir = opt("path").getOrElse {
    if (transport == "http") "graft-influx-http-unused"
    else throw new IllegalArgumentException("graft-influx requires option 'path'")
  }

  private def seriesDir = s"$baseDir/$measurement"

  override def name(): String = s"graft-influx:$seriesDir"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava

  /** DSv2 truncate (batch overwrite, streaming complete mode) empties the
    * series at commit — the reference's emptyseries flag
    * (index.js:321-336). The http transport cannot truncate a remote
    * database from here: rejected up front rather than silently appending.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val schema = info.schema()
    InfluxLineProtocol.requireWritable(schema)
    new WriteBuilder with SupportsTruncate {
      private var truncateFirst = false

      override def truncate(): WriteBuilder = {
        require(httpEndpoint.isEmpty,
          "graft-influx transport=http is append-only; truncate the " +
            "destination measurement server-side instead of mode(overwrite)")
        truncateFirst = true
        this
      }

      override def build(): Write = new Write {
        override def supportedCustomMetrics(): Array[CustomMetric] =
          Array(new InfluxRowsMetric)
        override def toBatch: BatchWrite = newWrite()
        override def toStreaming: streaming.StreamingWrite = newWrite()
      }

      // Driver-side: the file transport captures the session's hadoop
      // conf for executor-side staging writes.
      private def newWrite() = new InfluxWrite(schema, measurement, timeCol,
        insertLimit, truncateFirst, httpEndpoint.fold[FlushTransport](
          new FileFlushTransport(seriesDir, SinkFiles.captureConf()))(
          new HttpFlushTransport(_)))
    }
  }
}

/** Everything the http transport needs to address the server: the write
  * URL, socket timeouts, optional Basic-auth credentials, and the
  * InfluxDB /write query params (db, rp, precision). Serializable — it
  * ships inside the transport to executors.
  */
final case class HttpEndpoint(url: String, timeoutMs: Int,
    auth: Option[(String, String)], params: Seq[(String, String)])

/** Where a rendered flush body lands — the one seam between the sandbox
  * (file) and production (HTTP POST) forms of the sink. `deliver` and
  * `discard` run ON THE EXECUTOR (implementations must be serializable);
  * the staging steps run on the driver, called by [[InfluxWrite]].
  *
  *   - [[FileFlushTransport]] stages the body as a file under the task
  *     attempt's staging dir (locally one plain `java.nio` write: no
  *     forked `chmod`, no `.crc`); visibility is deferred to the
  *     driver-side `publish` (exactly-once).
  *   - [[HttpFlushTransport]] POSTs the body immediately (the reference's
  *     `writePoints` POST, index.js:242-252) and stages nothing, so every
  *     other step is a no-op. Delivery is AT-LEAST-ONCE under task
  *     retries/speculation — safe against InfluxDB because a line-protocol
  *     point is an upsert keyed by (measurement, tagset, timestamp): a
  *     replayed flush rewrites identical points, so the destination state
  *     equals once-delivered state. Append-only: overwrite mode requires a
  *     destination-side truncate and is rejected up front.
  */
sealed trait FlushTransport extends Serializable {
  /** Deliver one flush body; `attempt` (`<scope>/<partition>-<task>`,
    * scope = the write id, plus the epoch when streaming) and `fileName`
    * name the staged file.
    */
  def deliver(attempt: String, fileName: String, body: Array[Byte]): Unit

  /** Best-effort removal of what was staged under `attempt`: a task
    * attempt (executor), or a write's or an epoch's scope (driver).
    */
  def discard(attempt: String): Unit

  /** Driver, at factory creation: sweep staging left by a CRASHED earlier
    * write, whose driver died between task completion and commit/abort.
    */
  def sweepStaging(): Unit

  /** Driver, at commit: empty the published series, keeping the staging
    * the commit is about to publish.
    */
  def truncatePublished(): Unit

  /** Driver, at commit: make the committed attempts' flushes visible. */
  def publish(messages: Array[WriterCommitMessage]): Unit
}

/** Stages flush files under `<seriesDir>/_staging/` (see `deliver`) and
  * publishes them by rename. One writer per series at a time — the
  * assumption every file commit protocol makes: `sweepStaging` clears
  * the whole staging root.
  * Readers never see staging, but orphans are real storage on the object
  * stores the sink targets.
  */
final class FileFlushTransport(seriesDir: String,
    conf: Option[SerializableConfiguration]) extends FlushTransport {

  private def staging = s"$seriesDir/_staging"

  private def fs(p: Path) = SinkFiles.fileSystem(p, conf)

  /** Create-new, never overwrite: a task attempt stages each name once.
    * Locally that is one plain `java.nio` write ([[SinkFiles.createLocal]]:
    * no forked `chmod`, no `.crc`); `publish` still renames through the
    * checksummed filesystem, which drops a stale `.crc` left at the
    * destination. Every other filesystem stages through its own `create`.
    */
  override def deliver(attempt: String, fileName: String,
      body: Array[Byte]): Unit = {
    val p = new Path(s"$staging/$attempt/$fileName")
    val out = fs(p) match {
      case local: LocalFileSystem => SinkFiles.createLocal(local.pathToFile(p).toPath)
      case other => other.create(p, false)
    }
    try out.write(body)
    finally out.close()
  }

  // Best-effort: an abort must not mask the failure that triggered it,
  // and leftovers are swept by the next write's `sweepStaging`.
  private def remove(dir: String): Unit =
    try {
      val p = new Path(dir)
      val f = fs(p)
      if (f.exists(p)) f.delete(p, true)
    } catch { case _: java.io.IOException => () }

  override def discard(attempt: String): Unit = remove(s"$staging/$attempt")

  override def sweepStaging(): Unit = remove(staging)

  override def truncatePublished(): Unit = {
    val p = new Path(seriesDir)
    val f = fs(p)
    if (f.exists(p))
      f.listStatus(p).foreach { st =>
        if (st.getPath.getName != "_staging") f.delete(st.getPath, true)
      }
  }

  /** Move each staged file of each committed attempt to
    * `<seriesDir>/<fileName>`, overwriting a previous copy (epoch replay,
    * retried commit). Nulls are skipped partitions.
    */
  override def publish(messages: Array[WriterCommitMessage]): Unit = {
    val commits = messages.toSeq.flatMap {
      case c: InfluxCommit => Some(c)
      case null => None
      case other =>
        throw new IllegalStateException(s"unexpected commit message: $other")
    }
    if (commits.nonEmpty) {
      val root = new Path(seriesDir)
      val f = fs(root)
      f.mkdirs(root)
      for (c <- commits; name <- c.fileNames) {
        val src = new Path(s"$staging/${c.attempt}/$name")
        val dst = new Path(s"$seriesDir/$name")
        if (f.exists(dst)) f.delete(dst, false)
        if (!f.rename(src, dst))
          throw new java.io.IOException(s"commit rename failed: $src -> $dst")
      }
    }
  }
}

/** POSTs each flush to `url`. CAVEAT on the at-least-once safety claim:
  * the idempotent-replay argument (a replayed flush rewrites identical
  * points) holds only when every row is unique per (measurement, tagset,
  * timestamp) — InfluxDB's point identity. This sink renders all columns
  * as FIELDS (no tags), so two distinct source rows sharing a timestamp
  * merge at the destination even under once-delivery; deployments whose
  * rows collide on time must carry a discriminating tag column or accept
  * last-write-wins. The file transport has no such merge (every line is
  * kept), which is also why the p09/p10 count invariants only gate the
  * file path.
  */
final class HttpFlushTransport(endpoint: HttpEndpoint)
    extends FlushTransport {

  // Effective URL built once on the driver: the configured write URL
  // plus the InfluxDB /write query params (db, rp, precision),
  // url-encoded, composing with any query string already present.
  private val effectiveUrl: String =
    if (endpoint.params.isEmpty) endpoint.url
    else {
      val enc = (s: String) =>
        java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
      val qs = endpoint.params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }
        .mkString("&")
      endpoint.url + (if (endpoint.url.contains("?")) "&" else "?") + qs
    }

  // Pre-rendered Authorization header (credentials never enter the URL).
  private val authHeader: Option[String] = endpoint.auth.map { case (u, p) =>
    "Basic " + java.util.Base64.getEncoder.encodeToString(
      s"$u:$p".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** One POST per flush — the production request the file transport only
    * simulates. `HttpURLConnection`, not a pooled client: the object must
    * serialize to executors, and one connection per insertLimit-sized
    * body matches the reference's `{pool: false}` (index.js:242).
    */
  override def deliver(attempt: String, fileName: String,
      body: Array[Byte]): Unit = {
    val conn = new java.net.URI(effectiveUrl).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      // A hung endpoint must FAIL the task (so Spark retries it), not
      // block the executor forever — the JDK default is no timeout.
      conn.setConnectTimeout(endpoint.timeoutMs)
      conn.setReadTimeout(endpoint.timeoutMs)
      conn.setRequestProperty("Content-Type", "text/plain; charset=utf-8")
      authHeader.foreach(conn.setRequestProperty("Authorization", _))
      conn.setFixedLengthStreamingMode(body.length)
      val out = conn.getOutputStream
      try out.write(body) finally out.close()
      val code = conn.getResponseCode
      // Influx answers 204; treat any 2xx as delivered. A failure throws
      // and the TASK retries — at-least-once, idempotent at the server.
      // The server's error body (InfluxDB returns {"error": "..."} on
      // 400/401/404) is surfaced in the message: a partial-write or
      // auth diagnosis should not require server-side log access.
      if (code < 200 || code >= 300)
        throw new java.io.IOException(
          s"flush POST to ${endpoint.url} returned $code" +
            readErrorBody(conn).fold("")(b => s": $b"))
      conn.getInputStream.close()
    } finally conn.disconnect()
  }

  /** First bytes of the error stream, for the exception message only —
    * truncated and best-effort (a dead connection yields None).
    */
  private def readErrorBody(
      conn: java.net.HttpURLConnection): Option[String] =
    try Option(conn.getErrorStream).map { es =>
      try {
        val bytes = es.readNBytes(512)
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8).trim
      } finally es.close()
    }.filter(_.nonEmpty)
    catch { case _: java.io.IOException => None }

  override def discard(attempt: String): Unit = ()
  override def sweepStaging(): Unit = ()
  override def truncatePublished(): Unit = ()
  override def publish(messages: Array[WriterCommitMessage]): Unit = ()
}

/** The one graft-influx write, for batch jobs and streaming epochs alike.
  * Factory creation sweeps stale staging (Spark creates a streaming
  * factory per micro-batch, so this runs per epoch too). Commit
  * truncates an overwrite or complete-mode series, publishes the
  * committed attempts, then sweeps the staging of what it committed,
  * which also catches failed/zombie attempts that never sent a message.
  * Truncating at commit, never at start, means a failed job or
  * micro-batch leaves the series as it was. An epoch commits and aborts
  * through the same body, scoped to its own staging: under continuous
  * processing one factory serves every epoch, and later epochs' attempts
  * are staging while an earlier one commits.
  */
final class InfluxWrite(schema: StructType, measurement: String,
    timeCol: String, insertLimit: Int, truncateFirst: Boolean,
    transport: FlushTransport)
    extends BatchWrite with streaming.StreamingWrite {

  private val factory = InfluxWriterFactory(schema, measurement, timeCol,
    insertLimit, transport, java.util.UUID.randomUUID().toString)

  // Both interfaces default to the coordinator (one committed attempt per
  // partition); Scala needs the inherited pair resolved here.
  override def useCommitCoordinator(): Boolean = true

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    transport.sweepStaging()
    factory
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory = {
    transport.sweepStaging()
    factory
  }

  private def commitScope(scope: String,
      messages: Array[WriterCommitMessage]): Unit = {
    if (truncateFirst) transport.truncatePublished()
    transport.publish(messages)
    transport.discard(scope)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitScope(factory.writeId, messages)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    transport.discard(factory.writeId)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    commitScope(factory.epochScope(epochId), messages)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    transport.discard(factory.epochScope(epochId))
}

/** One factory for both paths; only the flush-name tag and the staging
  * scope differ. Batch names carry a short write id, so successive
  * appends don't collide. Streaming names carry the epoch and NO write
  * id: epoch numbering is monotonic under one checkpoint across
  * restarts, so a restart that replays the epoch whose sink commit raced
  * the offset-WAL update overwrites that epoch's files instead of
  * duplicating them. Retries within one write or epoch regenerate
  * identical names either way.
  */
final case class InfluxWriterFactory(schema: StructType, measurement: String,
    timeCol: String, insertLimit: Int, transport: FlushTransport,
    writeId: String)
    extends DataWriterFactory with streaming.StreamingDataWriterFactory {

  /** Where epoch `epochId`'s attempts stage, inside the write's own. */
  def epochScope(epochId: Long): String = s"$writeId/e$epochId"

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writer(writeId, writeId.take(8), partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    writer(epochScope(epochId), s"e$epochId", partitionId, taskId)

  private def writer(scope: String, tag: String, partitionId: Int, taskId: Long) =
    new InfluxDataWriter(schema, measurement, timeCol, insertLimit, transport,
      attempt = s"$scope/$partitionId-$taskId",
      namePrefix = s"flush-$tag-$partitionId-")
}

/** Commit message: the attempt's staging key (`<scope>/<attempt key>`)
  * plus the deterministic final names of the flush files it wrote (rows
  * for debugging).
  */
final case class InfluxCommit(attempt: String, fileNames: Seq[String],
    rows: Long) extends WriterCommitMessage

/** `graft.pipeline.Sink` adapter over the DSv2 writer, so
  * `Pipeline.migrate` (the reference's whole-catalog orchestration)
  * composes with the `format("graft-influx")` path unchanged: append maps
  * to a DSv2 append, truncate to a recursive delete of the series dir
  * (no write is in flight when the pipeline truncates).
  */
final class InfluxDsv2Sink(baseDir: String, insertLimit: Int = 1000,
    timeCol: String = "time") extends Sink {

  override def truncate(table: String): Unit =
    SinkFiles.deleteRecursive(s"$baseDir/$table")

  override def append(df: org.apache.spark.sql.DataFrame, table: String): Unit =
    df.write.format("graft-influx")
      .option("path", baseDir).option("measurement", table)
      .option("timecol", timeCol).option("insertlimit", insertLimit.toString)
      .mode("append").save()
}

/** Rows a graft-influx write task rendered. DSv2 writers leave the
  * task's `outputMetrics` at 0, so the count travels as a custom metric;
  * `ProgressListener` reads it by its accumulator name, `Description`.
  */
final class InfluxRowsMetric extends CustomSumMetric {
  override def name(): String = InfluxRowsMetric.Name
  override def description(): String = InfluxRowsMetric.Description
}

object InfluxRowsMetric {
  val Name = "graftInfluxRows"
  val Description = "graft-influx rows written"
}

/** Runs ON THE EXECUTOR: buffers rendered lines and delivers one flush
  * per `insertLimit` rows — one POST body (reference index.js:209-232
  * re-chunks pages into insertlimit-sized writePoints calls). The file
  * transport stages each flush under `attempt` with a deterministic final
  * name `<namePrefix><seq>.lp`; only the driver-side commit makes them
  * visible, and `abort` discards the attempt, so retried/speculative
  * attempts cannot leave duplicates behind.
  */
final class InfluxDataWriter(schema: StructType, measurement: String,
    timeCol: String, insertLimit: Int, transport: FlushTransport,
    attempt: String, namePrefix: String)
    extends DataWriter[InternalRow] {

  private val render = InfluxLineProtocol.renderInternal(measurement, schema, timeCol)
  private val buf = new ArrayBuffer[String](insertLimit)
  private val names = new ArrayBuffer[String]()
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    buf += render(row)
    rows += 1
    if (buf.size >= insertLimit) flush()
  }

  private def flush(): Unit = if (buf.nonEmpty) {
    val name = s"$namePrefix${names.size}.lp"
    transport.deliver(attempt, name,
      buf.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    names += name
    buf.clear()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    InfluxCommit(attempt, names.toSeq, rows)
  }

  override def abort(): Unit = {
    buf.clear()
    // the job-level abort sweeps attempts that never got here
    transport.discard(attempt)
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(new CustomTaskMetric {
      override def name(): String = InfluxRowsMetric.Name
      override def value(): Long = rows
    })

  override def close(): Unit = ()
}
