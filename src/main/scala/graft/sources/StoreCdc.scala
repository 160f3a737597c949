package graft.sources

import org.apache.spark.sql.{DataFrame, GraftBridge, SQLContext}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.{DataSource, LogicalRelation}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.operators.DurableStore

/** STREAMING CHANGE CAPTURE of a durable family's head line — the
  * `readStream` face of `DurableStore.changesBetween`:
  *
  * {{{
  * spark.readStream.format("graft-store")
  *   .option("family", "ingest_head").option("part", "t")
  *   .option("startingVersion", "snapshot")   // latest | snapshot | <n>
  *   .load()
  * }}}
  *
  * Stream OFFSETS are exactly the family's committed head versions
  * (`_GRAFT_HEAD.v<k>`), so each micro-batch is the window
  * (vPrev, vNow] and its rows come from ONLY the segments those
  * commits appended — a consumer tails an ever-growing corpus at
  * O(delta) per trigger, the reference's only change-detection shape
  * (re-scan everything and re-send it, index.js:186-198) replaced by
  * reading the commit log that ingest already writes. `latest` tails
  * commits after stream start; `snapshot` first emits the whole line
  * as of the first trigger, then tails (the Delta starting-snapshot
  * semantics); a numeric `startingVersion` replays from that commit
  * (it must still survive retention).
  *
  * The engine-facing shape is the V1 `Source` contract — the same
  * one Spark's own file source implements — because its `getBatch`
  * returns a DataFrame: each batch is a genuine parquet relation
  * PLANNED BY SPARK (column pruning, filter pushdown, vectorized
  * scan all apply), not a hand-rolled row reader; this source only
  * resolves WHICH immutable segment dirs compose the window.
  * Determinism on recovery: a replayed (start, end] window re-reads
  * the same immutable segments, so checkpoint recovery re-produces
  * the batch exactly — provided retention grace outlives the
  * recovery gap (a swept window errors loudly, never serves a
  * different answer; the Delta CDF-after-vacuum trade). An in-place
  * COMPACTION does not disturb a live tail: windows resolve from
  * the commit log (each head file names its commit's delta
  * segment), and the superseded segments survive tombstone-graced
  * for the whole retention grace.
  *
  * Scale: `getOffset` is one file listing; a micro-batch's plan
  * reads only the appended segments. Nothing ever rescans the
  * standing corpus, whatever its size.
  */
final class StoreCdcProvider extends StreamSourceProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-store"

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(StoreCdcProvider.partSchema(
      sqlContext.sparkSession.asInstanceOf[ClassicSession], parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val s = sqlContext.sparkSession.asInstanceOf[ClassicSession]
    new StoreCdcSource(s,
      schema.getOrElse(StoreCdcProvider.partSchema(s, parameters)),
      StoreCdcProvider.required(parameters, "family"),
      StoreCdcProvider.required(parameters, "part"),
      parameters.getOrElse("startingVersion", "latest"),
      metadataPath)
  }
}

object StoreCdcProvider {

  private def required(parameters: Map[String, String],
      key: String): String =
    parameters.getOrElse(key, sys.error(
      s"graft-store stream: option '$key' is required"))

  /** The part's schema from the CURRENT head chain's first copy of it,
    * through the durable store's memoised segment resolver (a footer
    * read at most once per JVM) — the schema every batch of the stream
    * serves.
    */
  private def partSchema(s: ClassicSession,
      parameters: Map[String, String]): StructType = {
    val family = required(parameters, "family")
    val part = required(parameters, "part")
    val (_, fp) = DurableStore.headState(s, family).getOrElse(sys.error(
      s"graft-store stream: family $family has no committed head — " +
        "publish a base manifest and initHead first"))
    val dirs = DurableStore.segmentPartDirs(s, family,
      DurableStore.manifestSegments(s, family, fp), part)
    require(dirs.nonEmpty,
      s"graft-store stream: no segment of $family/$fp carries part $part")
    DurableStore.segmentPartSchema(s, family, fp,
      DurableStore.Part(part, None), dirs.head)
  }
}

final class StoreCdcSource(s: ClassicSession,
    override val schema: StructType, family: String, part: String,
    startingVersion: String, metadataPath: String) extends Source {

  /** The head version at stream START — `latest` mode's exclusive
    * lower bound, and the earliest version `snapshot` can serve.
    * PERSISTED in the query's own source-metadata dir on first
    * creation: a restart must replay a WAL-logged-but-uncommitted
    * first batch against the ORIGINAL anchor, not whatever the head
    * is after the outage (commits during the downtime would
    * otherwise reverse the replayed window in `latest` mode).
    */
  private val anchor: Long = {
    val p = new org.apache.hadoop.fs.Path(metadataPath, "graft_anchor")
    val f = p.getFileSystem(s.sessionState.newHadoopConf())
    if (f.exists(p)) {
      val in = f.open(p)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    } else {
      val v = DurableStore.headState(s, family).map(_._1)
        .getOrElse(sys.error(
          s"graft-store stream: family $family has no committed head"))
      f.mkdirs(p.getParent)
      val out = f.create(p, false)
      try out.write(v.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      v
    }
  }

  // fail at STREAM DEFINITION on a malformed or already-unreadable
  // start, not at the first trigger
  startingVersion match {
    case "latest" | "snapshot" => ()
    case n =>
      val v = n.toLongOption.getOrElse(sys.error(
        "graft-store stream: startingVersion must be 'latest', " +
          s"'snapshot' or a head version number, got '$n'"))
      require(DurableStore.headFingerprintAt(s, family, v).isDefined,
        s"graft-store stream: startingVersion $v of $family is not " +
          "readable — never committed or swept by retention")
  }

  override def getOffset: Option[OffsetV1] =
    DurableStore.headState(s, family).map(st => LongOffset(st._1))

  // checkpoint recovery hands back SerializedOffset wrappers; a
  // LongOffset's json IS its version number, so one parse covers both
  private def versionOf(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  override def getBatch(start: Option[OffsetV1],
      end: OffsetV1): DataFrame = {
    val vEnd = versionOf(end)
    val vStart: Option[Long] = start.map(versionOf).orElse(
      startingVersion match {
        case "snapshot" => None
        case "latest" => Some(anchor)
        case n => Some(n.toLong)
      })
    vStart match {
      case None =>
        // first batch in snapshot mode: the whole line as of vEnd
        val fp = DurableStore.headFingerprintAt(s, family, vEnd)
          .getOrElse(sys.error(
            s"graft-store stream: snapshot version $vEnd of $family " +
              "is not readable"))
        streamingDfOverDirs(DurableStore.segmentPartDirs(s, family,
          DurableStore.manifestSegments(s, family, fp), part))
      case Some(v) =>
        streamingDfOverDirs(DurableStore.segmentPartDirs(s, family,
          DurableStore.changedSegments(s, family, v, vEnd), part))
    }
  }

  /** A micro-batch plan over immutable segment dirs: a real parquet
    * relation resolved by Spark (pruning/pushdown/vectorization as in
    * any batch scan), flagged streaming as the V1 contract requires —
    * the FileStreamSource discipline. An empty window is an empty
    * streaming relation in the declared schema.
    */
  private def streamingDfOverDirs(dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty)
      GraftBridge.ofRows(s, LocalRelation(
        DataTypeUtils.toAttributes(schema), Nil, isStreaming = true))
    else {
      val rel = DataSource(s, className = "parquet", paths = dirs,
        userSpecifiedSchema = Some(schema))
        .resolveRelation(checkFilesExist = false)
      GraftBridge.ofRows(s, LogicalRelation(rel, isStreaming = true))
    }

  override def commit(end: OffsetV1): Unit = ()

  override def stop(): Unit = ()

  override def toString: String =
    s"StoreCdcSource[family=$family, part=$part, start=$startingVersion]"
}
