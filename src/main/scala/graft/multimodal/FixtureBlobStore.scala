package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.AppCache

/** Application-scoped cache of the synthesized codec-fixture corpora —
  * the store-build discipline applied to the harness fixtures
  * themselves: the batch rungs of each modality tier (image l66/l71/
  * l85, audio l111/l117/l118, video l119/l120/l121) all synthesize the
  * SAME deterministic blob corpus per kind (id-derived formulas — the
  * oracle contract), and JPEG-encoding every AVI frame several times
  * per run is pure waste. Synthesis runs once per (application, corpus
  * dir, kind) through one `AppCache` per kind, the frame is
  * localCheckpoint'ed (blobs are KB-sized — tiny next to the corpus
  * text), and the build seconds land in the store layer as
  * `fixture_<kind>` so bench lines stay decomposable.
  *
  * The STREAMING faces (t30/t45/t47) deliberately do NOT read this
  * cache: a checkpointed static frame is not a stream, and live
  * synthesis inside the micro-batch is exactly the ingest shape those
  * queries exist to test. Corrupt variants stay derived per consumer
  * (`corruptBlobs` is a trivial narrow byte-zeroing map).
  */
object FixtureBlobStore {

  private val synth: Map[String, (DataFrame, String) => DataFrame] = Map(
    "png" -> Multimodal.withPngBlob,
    "image_mixed" -> Multimodal.withMixedImageBlob,
    "wav" -> Multimodal.withWavBlob,
    "avi" -> Multimodal.withAviBlob)

  private val caches: Map[String, AppCache[DataFrame]] =
    synth.keys.map(k => k -> new AppCache[DataFrame](s"fixture_$k")).toMap

  /** The shared clean blob frame (doc_id, content) for `kind` in
    * {png, image_mixed, wav, avi} over `dir`'s documents ids.
    */
  def shared(s: SparkSession, dir: String, kind: String): DataFrame = {
    val cache = caches.getOrElse(kind,
      sys.error(s"FixtureBlobStore: unknown kind $kind"))
    cache.get(s, dir)(()) { _ =>
      val ids = Tables.load(s, dir, "documents").select(col("doc_id"))
      synth(kind)(ids, "doc_id").localCheckpoint(eager = true)
    }
  }
}
