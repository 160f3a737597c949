package graft.pipeline

import java.nio.charset.StandardCharsets
import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 face of the line-protocol sink (SURVEY.md §7.3(c);
  * reference index.js:242-252 `writePoints` / index.js:321-336
  * `emptySeries`): `df.write.format("graft-influx")` with
  * `.mode("append")` mapping to the append contract and
  * `.mode("overwrite")` to DSv2 truncate-then-append — the engine-level
  * way to express the reference's emptyseries flag, so the sink composes
  * with everything that speaks the writer API instead of needing the
  * `graft.pipeline.Sink` trait.
  *
  * Options: `path` (base dir, required), `measurement` (series name,
  * required), `timecol` (TimestampType column rendered as the trailing
  * epoch-ns timestamp; default "time"), `insertlimit` (rows per flush
  * file = per simulated POST body; default 1000).
  *
  * Commit protocol (exactly-once visibility under task retries): each
  * task attempt stages its flush files under
  * `<series>/_staging/<writeId>/<attemptDir>/`, named deterministically
  * `flush-<tag><partition>-<seq>.lp` (tag = epoch for streaming, short write-id for batch). Only the DRIVER-side
  * commit — with the one committed attempt per partition Spark hands
  * it — renames staged files into the series dir; abort (task- or
  * job-level) deletes the staging dir. So a failed/speculative/zombie
  * attempt's files never become visible (readers filter `_`-prefixed
  * dirs), a streaming epoch replayed after a checkpoint race rewrites
  * the SAME final file names (idempotent), and overwrite-truncate runs
  * at commit time so a failed overwrite job leaves the old series
  * intact. The rename is per flush file on the driver — O(rows /
  * insertlimit), no row bytes — the same shape as a parquet commit
  * protocol; on rename-as-copy object stores a production deployment
  * would swap `writeFlush` for the actual HTTP POST and retire the file
  * layer entirely.
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
  private def httpEndpoint: Option[HttpEndpoint] = httpUrl.map(u =>
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

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new InfluxWriteBuilder(info.schema(), seriesDir, measurement, timeCol,
      insertLimit, truncateFirst = false, transport, httpEndpoint)
}

/** Everything the http transport needs to address the server: the write
  * URL, socket timeouts, optional Basic-auth credentials, and the
  * InfluxDB /write query params (db, rp, precision). Serializable — it
  * ships inside the transport to executors.
  */
final case class HttpEndpoint(url: String, timeoutMs: Int,
    auth: Option[(String, String)], params: Seq[(String, String)])

final class InfluxWriteBuilder(schema: StructType, seriesDir: String,
    measurement: String, timeCol: String, insertLimit: Int,
    truncateFirst: Boolean, transport: String = "file",
    endpoint: Option[HttpEndpoint] = None)
    extends WriteBuilder with SupportsTruncate {

  /** DSv2 truncate (= SaveMode.Overwrite): empty the series, then append —
    * the reference's emptyseries flag (index.js:321-336). The http
    * transport cannot truncate a remote database from here: rejected up
    * front rather than silently appending.
    */
  override def truncate(): WriteBuilder = {
    require(transport != "http",
      "graft-influx transport=http is append-only; truncate the " +
        "destination measurement server-side instead of mode(overwrite)")
    new InfluxWriteBuilder(schema, seriesDir, measurement, timeCol,
      insertLimit, truncateFirst = true, transport, endpoint)
  }

  // Driver-side at factory creation: the file transport captures the
  // session's hadoop conf for executor-side staging writes.
  private def makeTransport(): FlushTransport = transport match {
    case "http" => new HttpFlushTransport(endpoint.get)
    case _ => new FileFlushTransport(SinkFiles.captureConf())
  }

  override def build(): Write = new Write {
    override def supportedCustomMetrics(): Array[CustomMetric] =
      Array(new InfluxRowsMetric)

    override def toBatch: BatchWrite =
      new InfluxBatchWrite(schema, seriesDir, measurement, timeCol,
        insertLimit, truncateFirst, makeTransport())

    /** Continuous migration: `writeStream.format("graft-influx")` in
      * append mode — each micro-batch's tasks stage epoch-tagged flush
      * files and the epoch commit publishes them. Final names are
      * deterministic per (epoch, partition, flush-seq), so an epoch
      * replayed after a failed checkpoint update republishes the same
      * files instead of duplicating them.
      */
    override def toStreaming: streaming.StreamingWrite =
      new InfluxStreamingWrite(schema, seriesDir, measurement, timeCol,
        insertLimit, truncateFirst, makeTransport())
  }
}

/** Where a rendered flush body lands — the one seam between the sandbox
  * (file) and production (HTTP POST) forms of the sink. Runs ON THE
  * EXECUTOR; implementations must be serializable.
  *
  *   - [[FileFlushTransport]] stages the body as a file under the task
  *     attempt's staging dir; visibility is deferred to the driver-side
  *     commit rename (exactly-once, see `InfluxCommitProtocol`).
  *   - [[HttpFlushTransport]] POSTs the body immediately (the reference's
  *     `writePoints` POST, index.js:242-252). Delivery is AT-LEAST-ONCE
  *     under task retries/speculation — safe against InfluxDB because a
  *     line-protocol point is an upsert keyed by (measurement, tagset,
  *     timestamp): a replayed flush rewrites identical points, so the
  *     destination state equals once-delivered state. Append-only:
  *     overwrite mode requires a destination-side truncate and is
  *     rejected up front.
  */
sealed trait FlushTransport extends Serializable {
  /** Deliver one flush body. `attemptDir`/`fileName` name the staged file
    * for the file transport; the http transport ignores them.
    */
  def deliver(attemptDir: String, fileName: String, body: Array[Byte]): Unit

  /** Whether delivered flushes sit STAGED pending the driver commit
    * (file) or are already durable at the destination (http).
    */
  def staged: Boolean

  /** Best-effort cleanup of an aborted attempt's deliveries. */
  def abortAttempt(attemptDir: String): Unit
}

final class FileFlushTransport(conf: Option[SinkFiles.SerializableHadoopConf])
    extends FlushTransport {

  override def deliver(attemptDir: String, fileName: String,
      body: Array[Byte]): Unit = {
    val p = new Path(s"$attemptDir/$fileName")
    val out = SinkFiles.fileSystem(p, conf).create(p, false)
    try out.write(body)
    finally out.close()
  }

  override def staged: Boolean = true

  override def abortAttempt(attemptDir: String): Unit =
    try {
      val p = new Path(attemptDir)
      val fs = SinkFiles.fileSystem(p, conf)
      if (fs.exists(p)) fs.delete(p, true)
    } catch { case _: java.io.IOException => () }
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
  override def deliver(attemptDir: String, fileName: String,
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

  override def staged: Boolean = false
  override def abortAttempt(attemptDir: String): Unit = ()
}

/** Staging-dir layout + driver-side publish shared by the batch and
  * streaming commit paths.
  */
private[graft] object InfluxCommitProtocol {

  def stagingRoot(seriesDir: String): String = s"$seriesDir/_staging"

  def stagingDir(seriesDir: String, writeId: String): String =
    s"${stagingRoot(seriesDir)}/$writeId"

  /** Driver-side publish shared by batch and streaming commits: move
    * each staged file of each committed attempt to
    * `<seriesDir>/<finalName>`, overwriting any previous copy (epoch
    * replay / retried commit), then drop the attempt dir. Callers add
    * their own wider cleanup (batch: the whole write's staging dir).
    */
  /** The staged (file-transport) commits among `messages`: nulls are
    * skipped partitions, empty attemptDirs are http-transport attempts
    * (already durable, nothing local to act on), anything else is a bug.
    */
  def stagedCommits(messages: Array[WriterCommitMessage]): Seq[InfluxCommit] =
    messages.toSeq.flatMap {
      case c: InfluxCommit => if (c.attemptDir.nonEmpty) Some(c) else None
      case null => None
      case other =>
        throw new IllegalStateException(s"unexpected commit message: $other")
    }

  def publishAttempts(seriesDir: String,
      messages: Array[WriterCommitMessage]): Unit = {
    val staged = stagedCommits(messages)
    if (staged.isEmpty) return // pure-http write: no local series dir at all
    val root = new Path(seriesDir)
    val fs = SinkFiles.fileSystem(root)
    fs.mkdirs(root)
    staged.foreach { c =>
      c.fileNames.foreach { name =>
        val src = new Path(s"${c.attemptDir}/$name")
        val dst = new Path(s"$seriesDir/$name")
        if (fs.exists(dst)) fs.delete(dst, false)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"commit rename failed: $src -> $dst")
      }
      SinkFiles.deleteRecursive(c.attemptDir)
    }
  }

  /** Batch commit for the FILE transport: publish, then drop the write's
    * whole staging dir (sweeping failed/zombie attempts that never sent a
    * message). `InfluxBatchWrite.commit` inlines the transport.staged
    * guard around the sweep; this composed form serves direct
    * protocol-level callers (tests, recovery tooling).
    */
  def publish(seriesDir: String, writeId: String,
      messages: Array[WriterCommitMessage]): Unit = {
    publishAttempts(seriesDir, messages)
    SinkFiles.deleteRecursive(stagingDir(seriesDir, writeId))
  }

  /** Truncate the published series contents without touching `_staging`
    * (a commit-time overwrite must not delete the files it is about to
    * publish).
    */
  def truncatePublished(seriesDir: String): Unit = {
    val p = new Path(seriesDir)
    val fs = SinkFiles.fileSystem(p)
    if (fs.exists(p)) {
      fs.listStatus(p).foreach { st =>
        if (st.getPath.getName != "_staging") fs.delete(st.getPath, true)
      }
    }
  }
}

final class InfluxStreamingWrite(schema: StructType, seriesDir: String,
    measurement: String, timeCol: String, insertLimit: Int,
    truncateFirst: Boolean,
    // Default evaluated AT CALL TIME on the driver, so a direct
    // construction (bypassing InfluxWriteBuilder) still captures the
    // session's hadoop conf for executor-side staging writes.
    transport: FlushTransport = new FileFlushTransport(SinkFiles.captureConf()))
    extends streaming.StreamingWrite {

  // One staging namespace per query run; stale staging from a crashed
  // previous run is cleared at start (no concurrent writers per series —
  // the same assumption every file commit protocol makes).
  private val writeId = java.util.UUID.randomUUID().toString

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory = {
    // Driver-side at query start (called once per run, before epoch 0).
    // File transport only — the http transport has no local series dir.
    if (transport.staged) {
      if (truncateFirst) SinkFiles.deleteRecursive(seriesDir)
      else SinkFiles.deleteRecursive(InfluxCommitProtocol.stagingRoot(seriesDir))
    }
    // Final names are epoch-keyed with NO writeId: epoch numbering is
    // monotonic under one checkpoint across restarts, so a restart that
    // replays the one epoch whose sink commit raced the offset-WAL update
    // overwrites that epoch's files instead of duplicating them.
    InfluxStreamingWriterFactory(schema, seriesDir, measurement, timeCol,
      insertLimit, transport, writeId)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    // Publish only this epoch's attempts; later epochs of the same run
    // reuse the staging namespace, so drop attempt dirs — not the root.
    InfluxCommitProtocol.publishAttempts(seriesDir, messages)

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    // stagedCommits skips http-transport messages (empty attemptDir —
    // deleteRecursive("") would throw and mask the task failure that
    // triggered the abort) and null skipped partitions.
    InfluxCommitProtocol.stagedCommits(messages)
      .foreach(c => SinkFiles.deleteRecursive(c.attemptDir))
}

final case class InfluxStreamingWriterFactory(schema: StructType,
    seriesDir: String, measurement: String, timeCol: String,
    insertLimit: Int, transport: FlushTransport,
    writeId: String) extends streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new InfluxDataWriter(schema, seriesDir, measurement, timeCol,
      insertLimit, transport, partitionId, taskId, writeId,
      nameTag = s"e$epochId-")
}

/** Commit message: the attempt's staging dir plus the deterministic
  * final names of the flush files it wrote (rows for ledger/debug).
  */
final case class InfluxCommit(attemptDir: String, fileNames: Seq[String],
    rows: Long) extends WriterCommitMessage

final class InfluxBatchWrite(schema: StructType, seriesDir: String,
    measurement: String, timeCol: String, insertLimit: Int,
    truncateFirst: Boolean,
    // Call-time default: direct constructions capture the driver conf too.
    transport: FlushTransport = new FileFlushTransport(SinkFiles.captureConf()))
    extends BatchWrite {

  private val writeId = java.util.UUID.randomUUID().toString

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    // Driver-side, before any task launches: sweep staging left by a
    // CRASHED previous write (its driver died between task completion
    // and commit/abort, so nothing ever cleaned its writeId dir) —
    // same single-writer-per-series assumption the streaming path and
    // every file commit protocol make. Readers never see staging, but
    // orphans are real storage on the object stores the sink targets.
    if (transport.staged)
      SinkFiles.deleteRecursive(InfluxCommitProtocol.stagingRoot(seriesDir))
    InfluxWriterFactory(schema, seriesDir, measurement, timeCol, insertLimit,
      transport, writeId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // Overwrite semantics resolve HERE, not at job start: a failed
    // overwrite leaves the previous series contents untouched.
    if (truncateFirst) InfluxCommitProtocol.truncatePublished(seriesDir)
    InfluxCommitProtocol.publishAttempts(seriesDir, messages)
    // Sweep the write's staging namespace (catches failed/zombie attempts
    // that never sent a message). File transport only: an http write has
    // no local footprint — and `seriesDir` may be a placeholder.
    if (transport.staged)
      SinkFiles.deleteRecursive(InfluxCommitProtocol.stagingDir(seriesDir, writeId))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    if (transport.staged)
      SinkFiles.deleteRecursive(InfluxCommitProtocol.stagingDir(seriesDir, writeId))
}

final case class InfluxWriterFactory(schema: StructType, seriesDir: String,
    measurement: String, timeCol: String, insertLimit: Int,
    transport: FlushTransport,
    writeId: String) extends DataWriterFactory {

  // Batch final names carry a short writeId so successive APPEND writes
  // don't collide, while retries within one write (same writeId) still
  // regenerate identical names.
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new InfluxDataWriter(schema, seriesDir, measurement, timeCol, insertLimit,
      transport, partitionId, taskId, writeId, nameTag = writeId.take(8) + "-")
}

/** `graft.pipeline.Sink` adapter over the DSv2 writer, so
  * `Pipeline.migrate` (the reference's whole-catalog orchestration)
  * composes with the `format("graft-influx")` path unchanged: append maps
  * to a DSv2 append, truncate to the recursive series delete the DSv2
  * truncate also uses.
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

/** Runs ON THE EXECUTOR: buffers rendered lines and STAGES one flush file
  * per `insertLimit` rows — the moral equivalent of one POST body
  * (reference index.js:209-232 re-chunks pages into insertlimit-sized
  * writePoints calls). Files land under the attempt's staging dir with
  * deterministic final names `flush-<tag><partition>-<seq>.lp` (tag = epoch for streaming, short write-id for batch);
  * only the driver-side commit makes them visible, and `abort` removes
  * the attempt dir, so retried/speculative attempts cannot leave
  * duplicates behind.
  */
final class InfluxDataWriter(schema: StructType, seriesDir: String,
    measurement: String, timeCol: String, insertLimit: Int,
    transport: FlushTransport, partitionId: Int,
    taskId: Long, writeId: String, nameTag: String = "")
    extends DataWriter[InternalRow] {

  private val attemptDir =
    s"${InfluxCommitProtocol.stagingDir(seriesDir, writeId)}/$nameTag$partitionId-$taskId"

  private val buf = new ArrayBuffer[String](insertLimit)
  private var flushSeq = 0
  private val names = new ArrayBuffer[String]()
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    buf += InfluxLineProtocol.renderInternal(measurement, schema, timeCol, row)
    rows += 1
    if (buf.size >= insertLimit) flush()
  }

  private def flush(): Unit = if (buf.nonEmpty) {
    val name = s"flush-$nameTag$partitionId-$flushSeq.lp"
    flushSeq += 1
    transport.deliver(attemptDir, name,
      buf.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    if (transport.staged) names += name
    buf.clear()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    // http transport: already durable at the destination — nothing staged
    // for the driver to publish (empty attemptDir marks that).
    if (transport.staged) InfluxCommit(attemptDir, names.toSeq, rows)
    else InfluxCommit("", Nil, rows)
  }

  override def abort(): Unit = {
    buf.clear()
    // Best-effort: remove this attempt's staged files (job-level abort
    // sweeps the whole staging dir for attempts that never got here).
    // The file transport carries the captured driver conf — executors
    // have no active session; http has nothing to clean.
    transport.abortAttempt(attemptDir)
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(new CustomTaskMetric {
      override def name(): String = InfluxRowsMetric.Name
      override def value(): Long = rows
    })

  override def close(): Unit = ()
}
