package graft.pipeline

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Destination abstraction for the migration pipeline — the Spark face of
  * the reference's InfluxDB client surface: append a table's rows to a
  * series named after the source collection (reference: index.js:242
  * `writePoints(collectionName, data, ...)`) and optionally truncate the
  * series first (index.js:321-336 `emptySeries`).
  */
trait Sink extends Serializable {

  /** Remove existing contents of `table` (the `emptySeries` analogue). */
  def truncate(table: String): Unit

  /** Append all rows of `df` to `table`. Implementations decide batching. */
  def append(df: DataFrame, table: String): Unit

  /** Resume support (no reference counterpart — re-running the reference
    * re-writes everything, index.js:177-278). `markDone` is called by the
    * pipeline AFTER a table's append returns, so a crash mid-table leaves
    * no marker and the table re-migrates; `isDone` gates the skip on a
    * resumed run. Default: no persistence, nothing resumes.
    */
  def markDone(table: String): Unit = ()
  def isDone(table: String): Boolean = false
}

/** Bulk-file sink: one parquet dir per series. The idiomatic Spark write
  * path — executors write partition files in parallel; "micro-batching"
  * is the row-group/file structure parquet already has, so no re-chunking
  * layer is added (SURVEY.md §2 row 7: insertlimit exists only to bound a
  * single HTTP POST; a bulk columnar sink has no such constraint).
  *
  * `partitionCols` lays each series out hive-partitioned (the 100 TB
  * time-series layout: partition by date so readers' time filters prune
  * at the directory level and retention is a partition drop, not a
  * rewrite — the scalable form of the reference's `DELETE WHERE time <
  * now()` truncate, index.js:328).
  */
final class ParquetSink(baseDir: String, partitionCols: Seq[String] = Nil)
    extends Sink {
  private def path(table: String) = s"$baseDir/$table"

  // (truncate below: SaveMode.Overwrite on the next append would also
  // truncate, but the reference exposes truncation as its own operation
  // (index.js:321) — mirror that so truncate-without-rewrite stays
  // expressible.)

  override def append(df: DataFrame, table: String): Unit = {
    val w = df.write.mode(SaveMode.Append)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path(table))
  }

  // Completion marker: a zero-byte file NEXT TO the table dir (not inside
  // it — a marker inside would break spark.read.parquet's dir listing on
  // some metastores and be lost by a truncate-then-append).
  private def doneMarker(table: String) = new Path(s"$baseDir/_done_$table")

  override def markDone(table: String): Unit = {
    val fs = SinkFiles.fileSystem(doneMarker(table))
    fs.create(doneMarker(table), true).close()
  }

  override def isDone(table: String): Boolean =
    SinkFiles.fileSystem(doneMarker(table)).exists(doneMarker(table))

  override def truncate(table: String): Unit = {
    // a truncated series is no longer "done" — drop the marker with it
    SinkFiles.deleteRecursive(s"$baseDir/_done_$table")
    SinkFiles.deleteRecursive(path(table))
  }
}

/** Filesystem helpers shared by the sinks: all paths go through the Hadoop
  * `FileSystem` API so the same code works on local disk, HDFS, and object
  * stores — and deletes are recursive (a driver-local `java.io.File` walk
  * would silently skip nested dirs like an interrupted write's
  * `_temporary`, leaving stale files for the next append to double-count).
  */
object SinkFiles {

  /** The driver's Hadoop conf wrapped for shipping to executors, so
    * executor-side filesystem work (graft-influx flushes) sees the
    * session's `spark.hadoop.*` settings — object-store credentials,
    * endpoints — instead of a bare `new Configuration()`. None when no
    * session is active at capture time (plain-JVM library use).
    */
  def captureConf(): Option[SerializableConfiguration] =
    SparkSession.getActiveSession
      .map(s => new SerializableConfiguration(s.sparkContext.hadoopConfiguration))

  /** Resolve the filesystem for `p`: a conf captured on the driver if the
    * caller shipped one, else the active session's conf (driver side),
    * else a default conf (last resort — loses `spark.hadoop.*` settings).
    */
  def fileSystem(p: Path,
      captured: Option[SerializableConfiguration] = None): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(captured.map(_.value)
      .orElse(SparkSession.getActiveSession.map(_.sparkContext.hadoopConfiguration))
      .getOrElse(new Configuration()))

  /** The engine's one fork-free local write: create `f` new with
    * `java.nio`, parent dirs included, behind a buffer. Hadoop's local
    * `create` sets the file's permission on every call, and without
    * libhadoop (Spark ships none) each set forks a `chmod` process, twice
    * per file with the checksum sidecar: about 3 ms a fork. The nio file
    * has the JVM's default mode (0666 minus the process umask, 0644 under
    * the default) and no `.crc`, which `ChecksumFileSystem` and
    * `FileContext`'s `LocalFs` read without verification.
    */
  def createLocal(f: java.nio.file.Path): OutputStream = {
    Files.createDirectories(f.getParent)
    new BufferedOutputStream(Files.newOutputStream(f, StandardOpenOption.CREATE_NEW))
  }

  /** Recursively delete `dir` and assert it is gone (FileSystem.delete
    * returning false on a still-existing path would otherwise let the
    * caller append next to stale data).
    */
  def deleteRecursive(dir: String): Unit = {
    val p = new Path(dir)
    val fs = fileSystem(p)
    if (fs.exists(p)) {
      fs.delete(p, true)
      require(!fs.exists(p), s"truncate failed to remove $p")
    }
  }
}

/** Record-batch sink: `foreachPartition` + `grouped(insertLimit)` — the
  * shape a row-protocol destination (InfluxDB line protocol over HTTP, a
  * JDBC upsert, a message bus) needs: executors stream their partition
  * through fixed-size batches, amortizing one request per batch
  * (reference: index.js:209-232 re-chunks pages into insertlimit-sized
  * writePoints calls). `writeBatch` runs ON THE EXECUTOR — it must be
  * serializable and must not capture driver-only state.
  *
  * Delivery contract: AT-LEAST-ONCE. `foreachPartition` has no commit
  * protocol, so a retried or speculative task attempt re-issues its
  * batches and nothing here discards the duplicates — `writeBatch` must
  * be idempotent (upsert by key, dedup by batch id) if the destination
  * cannot tolerate replays. For exactly-once file/series visibility use
  * `InfluxDsv2Sink`, which stages attempts and publishes
  * only the committed one. This is the caveat `Engine.clusterDefaults`
  * attaches to `spark.speculation`.
  *
  * Empty batches are never issued (`grouped` emits no empty groups) —
  * deliberately diverging from the reference, which POSTs empty point
  * arrays (SURVEY.md §4.4.7).
  */
final class MicroBatchSink(
    insertLimit: Int,
    writeBatch: (String, Seq[Row]) => Unit,
    truncateFn: String => Unit = _ => ()) extends Sink {
  require(insertLimit > 0, "insertLimit must be positive")

  override def truncate(table: String): Unit = truncateFn(table)

  override def append(df: DataFrame, table: String): Unit = {
    val limit = insertLimit
    val fn = writeBatch
    df.foreachPartition { (rows: Iterator[Row]) =>
      rows.grouped(limit).foreach(batch => fn(table, batch))
    }
  }
}

/** InfluxDB line-protocol rendering for the fidelity path: one line per
  * row, `measurement field=value,... timestamp`. The reference's sink
  * speaks the 0.8-era JSON API (index.js:242); modern Influx ingests line
  * protocol, so that is what a production `MicroBatchSink.writeBatch`
  * would POST. Strings are quoted/escaped per the spec; the `time` column
  * becomes the trailing epoch-ns timestamp.
  */
object InfluxLineProtocol {

  private def escapeMeasurement(s: String): String =
    s.replace(",", "\\,").replace(" ", "\\ ")

  /** Field KEYS escape comma, equals, and space per the line-protocol
    * spec — an unescaped key containing any of them corrupts the line.
    */
  private def escapeKey(s: String): String =
    s.replace(",", "\\,").replace("=", "\\=").replace(" ", "\\ ")

  private def escapeFieldString(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Full-precision epoch nanoseconds: `getTime` alone is ms-grained and
    * would silently drop the microsecond component the fixtures carry;
    * `getNanos` holds the complete sub-second part.
    */
  private[pipeline] def epochNanos(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000000L + t.getNanos

  def renderField(v: Any): Option[String] = v match {
    case null => None
    case l: Long => Some(s"${l}i")
    case i: Int => Some(s"${i}i")
    case d: Double => Some(d.toString)
    case f: Float => Some(f.toString)
    case b: Boolean => Some(b.toString)
    case s: String => Some("\"" + escapeFieldString(s) + "\"")
    // Full ns precision, same as the trailing timestamp — `getTime` alone
    // is ms-grained and would silently drop sub-ms digits on field values
    // while the time column keeps them.
    case t: java.sql.Timestamp => Some(s"${epochNanos(t)}i")
    case other => Some("\"" + escapeFieldString(other.toString) + "\"")
  }

  /** Shared line assembly: `keys(i)`/`value(i)` per column, with
    * `timeIdx` (or -1) rendered as the trailing ns timestamp. The
    * measurement and the keys arrive escaped: they are the same on every
    * row, so a renderer escapes them once.
    */
  private def assemble(measurement: String, keys: Array[String],
      value: Int => Any, timeIdx: Int): String = {
    val fields = keys.indices.iterator
      .filter(_ != timeIdx)
      .flatMap(i => renderField(value(i)).map(v => s"${keys(i)}=$v"))
      .mkString(",")
    val ts = timeIdx match {
      case -1 => ""
      case i => value(i) match {
        case null => ""
        case t: java.sql.Timestamp => " " + epochNanos(t)
        case other => " " + other
      }
    }
    s"$measurement $fields$ts"
  }

  /** Render one row; `timeCol` (TimestampType) becomes the ns timestamp. */
  def render(measurement: String, row: Row, timeCol: String = "time"): String = {
    val names = row.schema.fieldNames
    assemble(escapeMeasurement(measurement), names.map(escapeKey), row.get(_),
      names.indexOf(timeCol))
  }

  /** The column types the DSv2 writer renders, each with its read from
    * an InternalRow to the JVM value `renderField` speaks (TimestampType's
    * internal epoch-µs long becomes a full-precision Timestamp). One list
    * for `renderInternal` and `requireWritable`, so the write-build check
    * and the per-row render cannot disagree. NullType values are always
    * null, so its columns are skipped like any null field.
    */
  private val internalValue: PartialFunction[DataType, (InternalRow, Int) => Any] = {
    case LongType => _.getLong(_)
    case IntegerType => _.getInt(_)
    case DoubleType => _.getDouble(_)
    case FloatType => _.getFloat(_)
    case BooleanType => _.getBoolean(_)
    case StringType => _.getUTF8String(_).toString
    case TimestampType => (row, i) =>
      val us = row.getLong(i)
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    case ShortType => _.getShort(_).toLong
    case ByteType => _.getByte(_).toLong
    case DateType => _.getInt(_).toLong
    case dt: DecimalType => _.getDecimal(_, dt.precision, dt.scale).toDouble
    case NullType => (_, _) => null
  }

  /** Refuse, before any job runs, a schema with a column the DSv2 writer
    * cannot render (a failure per row inside a task would come after
    * earlier flushes were already delivered).
    */
  def requireWritable(schema: StructType): Unit =
    schema.fields.find(f => !internalValue.isDefinedAt(f.dataType)).foreach { f =>
      throw new IllegalArgumentException(
        s"graft-influx cannot render column '${f.name}' of type ${f.dataType}")
    }

  /** The renderer for InternalRows of `schema` (the DSv2 writer path — no
    * Row conversion in the per-row hot loop; each column's read and the
    * escaped measurement and field keys are resolved once, not per row).
    * The schema has passed `requireWritable`.
    */
  def renderInternal(measurement: String, schema: StructType,
      timeCol: String): InternalRow => String = {
    val names = schema.fieldNames
    val keys = names.map(escapeKey)
    val escaped = escapeMeasurement(measurement)
    val reads = schema.fields.map(f => internalValue(f.dataType))
    val timeIdx = names.indexOf(timeCol)
    row => assemble(escaped, keys,
      i => if (row.isNullAt(i)) null else reads(i)(row, i), timeIdx)
  }
}
