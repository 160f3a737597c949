package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders over a scale-factor directory of parquet files.
  *
  * Plays the role of the reference's MongoDB database handle
  * (reference: index.js:105 binds one DB; index.js:356 enumerates its
  * collections): a namespace of named tables. In production this would be
  * the MongoDB Spark connector; for the harness each "collection" is one
  * parquet file under the scale-factor dir (TESTDATA.md).
  *
  * A parquet table's schema is read from ONE footer on the driver
  * (`footerSchema`, the file Spark's own inference picks), so a load
  * starts no Spark job; Spark's inference runs a footer job even for a
  * single file, and it sat on every migrated collection's path.
  */
object Tables {
  /** All fixture tables (TESTDATA.md). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Config key that swaps every table load from the parquet fixtures to
    * the MongoDB Spark connector — the production source of a mongo2x
    * engine (reference: index.js:99-105 opens the live DB). The swap is
    * config-only: no call site changes, `dir` is ignored, the collection
    * name is the table name. The connector jar is a deploy-time
    * dependency; when absent, Spark raises its standard
    * DATA_SOURCE_NOT_FOUND error at load (covered by SourcesSpec).
    */
  val mongoUriKey = "spark.graft.mongo.uri"
  val mongoDatabaseKey = "spark.graft.mongo.database"

  /** DSv2 format name the mongo swap resolves (default "mongodb", the
    * official connector's registered short name). Configurable because
    * the connector's name has varied across major versions ("mongo",
    * "mongodb", fully-qualified class) — and so the wiring is testable
    * against a registered double without the production jar
    * (SourcesSpec).
    */
  val mongoFormatKey = "spark.graft.mongo.format"

  /** Pass-through namespace for every other reader dial the production
    * connector takes: a session conf `spark.graft.mongo.option.<key> = v`
    * is forwarded verbatim as reader option `<key>` — e.g.
    * `readPreference.name`, `readConcern.level`, `sampleSize`,
    * `partitioner`, `authSource` / `authMechanism` variants not already
    * encoded in the URI's query string — so a new connector option never
    * needs a code change here. The three core options (connection.uri,
    * database, collection) are pinned AFTER the pass-throughs and cannot
    * be clobbered by them.
    */
  val mongoOptionPrefix = "spark.graft.mongo.option."

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.conf.getOption(mongoUriKey) match {
      case Some(uri) =>
        val extra = spark.conf.getAll
          .filter { case (k, _) => k.startsWith(mongoOptionPrefix) }
          .map { case (k, v) => k.stripPrefix(mongoOptionPrefix) -> v }
        spark.read
          .format(spark.conf.getOption(mongoFormatKey).getOrElse("mongodb"))
          .options(extra)
          .option("connection.uri", uri)
          .option("database",
            spark.conf.getOption(mongoDatabaseKey).getOrElse("graft"))
          .option("collection", name)
          .load()
      case None => loadParquet(spark, dir, name)
    }

  /** Streaming face of `load`: the same fixture table as an unbounded
    * `readStream` file source (schema pinned from the batch read, same
    * ns->µs ts conversion). In production the analogous swap is a Kafka /
    * Mongo change-stream source behind the same column contract.
    */
  def loadStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    // The fixture "table" is a single parquet file; the streaming file
    // source accepts a directory or a GLOB, not a bare file path — wrap
    // the file name in a brace-glob and anchor basePath at the parent.
    val df = spark.readStream
      .schema(footerSchema(spark, p).getOrElse(spark.read.parquet(p).schema))
      .option("basePath", dir)
      .parquet(s"$dir/{$name.parquet}")
    normalizeTs(df)
  }

  /** Normalize the fixture `ts` column to TimestampType (µs, UTC instant)
    * regardless of how the generator wrote it: TIMESTAMP(NANOS) parquet,
    * which Spark has no type for ([PARQUET_TYPE_ILLEGAL]), arrives as
    * LongType under `nanosAsLong` (ns -> µs integer `div`, not `/`: a
    * double division would round ns-since-epoch > 2^53);
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as TimestampNTZType
    * (cast reinterprets the wall-clock in the session timezone — UTC by
    * the Engine contract, so the µs value is unchanged and matches
    * DuckDB's naive read of the same file). Event-time streaming,
    * unix_micros(), and the influx sink all require plain TimestampType.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // The NTZ -> Timestamp cast reinterprets the wall-clock in the
        // SESSION timezone; only UTC leaves the µs value unchanged (the
        // DuckDB-naive-read contract above). Engine and the test harness
        // both pin UTC — fail loudly if a foreign session didn't, instead
        // of silently shifting every instant by the zone offset.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
        require(tz == "UTC",
          s"normalizeTs: TIMESTAMP_NTZ 'ts' needs spark.sql.session.timeZone=UTC (got '$tz')")
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  private def loadParquet(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    normalizeTs(footerSchema(spark, p)
      .fold(spark.read.parquet(p))(spark.read.schema(_).parquet(p)))
  }

  /** The schema Spark's parquet inference gives `p` (schema merging off),
    * read on the driver by `strictFooterSchema`. None — the caller falls
    * back to Spark's inference and its errors — for a glob, schema
    * merging on, no data file, a layout with subdirectories
    * (partitioned), or a footer that does not read. A TIMESTAMP(NANOS)
    * column on a session without `nanosAsLong` (which `Engine.session`
    * sets; a load never writes conf) fails here, naming the key.
    */
  private[graft] def footerSchema(spark: SparkSession, p: String): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled ||
        p.exists("{}[]*?\\".contains(_))) None
    else try strictFooterSchema(spark, p) catch {
      case e: NanosWithoutConf => throw e
      case NonFatal(_) => None
    }

  /** The file whose footer Spark's inference reads for `p`: `p`'s
    * entries under the file index's hidden-name rule (`_`/`.` prefixes,
    * but not the `_common_metadata`/`_metadata` summaries), sorted by
    * path; `_common_metadata`, else `_metadata`, else the first data
    * file. None = no data file. A subdirectory (a partitioned layout,
    * whose schema the footer does not hold) fails. Reads no conf.
    */
  private def footerFile(hadoopConf: Configuration, p: String): Option[FileStatus] = {
    val root = new Path(p)
    val listed = root.getFileSystem(hadoopConf).listStatus(root).filter { st =>
      val n = st.getPath.getName
      val hidden = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
      !hidden || n.startsWith("_common_metadata") || n.startsWith("_metadata")
    }
    require(!listed.exists(_.isDirectory), s"$p holds subdirectories")
    val files = listed.sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
  }

  /** The Spark schema of `p`'s `footerFile`, read on the driver (no Spark
    * job) and converted under the session's parquet conf exactly as
    * inference converts it. None = no data file. Strict: a footer that
    * does not read fails, naming `p` and the file.
    */
  private[graft] def strictFooterSchema(spark: SparkSession, p: String): Option[StructType] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val conf = spark.sessionState.conf
    footerFile(hadoopConf, p).map { f =>
      val footer =
        try {
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hadoopConf),
            HadoopReadOptions.builder(hadoopConf)
              .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
          try reader.getFooter finally reader.close()
        } catch {
          case NonFatal(e) => throw new java.io.IOException(
            s"unreadable parquet footer in $p: ${f.getPath}", e)
        }
      if (!conf.legacyParquetNanosAsLong && hasNanos(footer.getFileMetaData.getSchema))
        throw new NanosWithoutConf(p)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(conf))
    }
  }

  private def hasNanos(schema: MessageType): Boolean =
    schema.getColumns.asScala.exists(_.getPrimitiveType.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
      case _ => false
    })

  private final class NanosWithoutConf(p: String) extends IllegalArgumentException(
    s"$p has a TIMESTAMP(NANOS) column, which loads only under " +
      s"${SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key}=true (Engine.session sets it)")
}
