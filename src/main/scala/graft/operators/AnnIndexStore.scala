package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Application-scoped cache of built IVF-PQ index artifacts, keyed by
  * (corpus dir, build parameters) — the standing-artifact discipline
  * the ANN family argues for, applied to the harness itself: the index
  * is SUPPOSED to be built once and served many times, so the build
  * (t22), the persisted-table serve (l72) and the incremental update
  * (l82) all consume ONE shared build instead of each retraining
  * identical artifacts per query.
  *
  * The cache holds localCheckpoint'ed frames — centroids and codebook
  * are O(model), lists/codes/norms are O(corpus vectors), the same
  * footprint any one of the consumers already checkpointed.
  */
object AnnIndexStore {

  /** The harness's ONE shared build parameterization — 8 coarse
    * centroids (seeded, no Lloyd iterations — deterministic), m=16
    * sub-blocks at 64 codes with one PQ training round, the l72
    * fidelity-grade codebook. Single source of truth: `sharedIndex`'s
    * defaults and `sharedServe`'s cache key both read THESE constants,
    * so they cannot silently desync.
    */
  val DefaultNCentroids = 8
  val DefaultTrainIters = 0
  val DefaultM = 16
  val DefaultNCodes = 64
  val DefaultPqTrainIters = 1

  private val index = new AppCache[Similarity.AnnIndex]("ann_index")
  private val serve = new AppCache[(Similarity.AnnServeMeta, DataFrame)](
    "ann_serve")

  /** Checkpoint every part — of a fresh build or a durable reload — so
    * consumers share in-memory frames (serving raw table reads
    * measurably slows every later consumer).
    */
  private def pin(idx: Similarity.AnnIndex): Similarity.AnnIndex =
    Similarity.AnnIndex(
      idx.centroids.localCheckpoint(eager = true),
      idx.lists.localCheckpoint(eager = true),
      idx.codebook.localCheckpoint(eager = true),
      idx.codes.localCheckpoint(eager = true),
      idx.norms.localCheckpoint(eager = true))

  /** The canonical-parameterization miss path goes through the
    * DURABLE layout (the DupSpanStore discipline): index training
    * runs only if NO application ever saw this corpus — a warm
    * machine reloads the five persisted tables and the `ann_index`
    * ledger key times the checkpoints alone (a genuine build accrues
    * under `durable_ann_index`). Non-default parameterizations (no
    * durable layout — no standing consumer) build in-memory.
    */
  def sharedIndex(s: SparkSession, dir: String,
      nCentroids: Int = DefaultNCentroids,
      trainIters: Int = DefaultTrainIters, m: Int = DefaultM,
      nCodes: Int = DefaultNCodes,
      pqTrainIters: Int = DefaultPqTrainIters): Similarity.AnnIndex = {
    val params = Seq(nCentroids, trainIters, m, nCodes, pqTrainIters)
    val canonical = params == Seq(DefaultNCentroids, DefaultTrainIters,
      DefaultM, DefaultNCodes, DefaultPqTrainIters)
    index.get(s, dir, if (canonical) "" else params.mkString("/")) {
      if (canonical) durableIndex(s, dir, DurableStore.embeddingsFp(s, dir))
      else Similarity.buildAnnIndex(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        nCentroids, trainIters, m, nCodes, pqTrainIters)
    }(pin)
  }

  /** Durable layout of the index family: lists/codes/norms bucketed on
    * their serve join keys (the l72 writer's spec), centroids/codebook
    * unbucketed boot tables.
    */
  val DurableFamily = "ann_index"
  val DurableParts: Seq[DurableStore.Part] = Seq(
    DurableStore.Part("cent", None, "cent_id BIGINT, cent_emb ARRAY<FLOAT>"),
    DurableStore.Part("lists", Some("cent_id"), "c_id BIGINT, cent_id BIGINT"),
    DurableStore.Part("codebook", None,
      "blk INT, code BIGINT, cent ARRAY<FLOAT>"),
    DurableStore.Part("codes", Some("c_id"),
      "c_id BIGINT, codes ARRAY<BIGINT>"),
    DurableStore.Part("norms", Some("c_id"), "c_id BIGINT, c_norm DOUBLE"))

  /** Load-or-build the DURABLE index: later applications (and the
    * post-evict reload inside one) serve the five tables with zero
    * training jobs — the standing ANN pipeline's actual daily shape.
    * The raw training job lives HERE (the shared cache's miss path
    * calls down into this layout, never the other way, so build
    * seconds land un-nested under `durable_ann_index`).
    */
  def durableIndex(s: SparkSession, dir: String,
      fp: String): Similarity.AnnIndex =
    asIndex(DurableStore.loadOrBuild(s, DurableFamily, fp, DurableParts) {
      asParts(Similarity.buildAnnIndex(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        DefaultNCentroids, DefaultTrainIters, DefaultM, DefaultNCodes,
        DefaultPqTrainIters))
    })

  /** The INCREMENTAL durable lineage — a separate family from
    * `ann_index` because the two hold DIFFERENT artifacts for the same
    * corpus fingerprint: `ann_index/<fp>` is the retrain lineage
    * (centroids/codebook trained on exactly that corpus, l72/l123's
    * contract), `ann_index_inc/<fp>` is the frozen-model lineage (the
    * base build's centroids/codebook carried forward, lists/codes/
    * norms extended per append — the daily-ingest economics where only
    * the DELTA is encoded; centroid drift is a periodic retrain, which
    * is exactly a jump back to the other lineage).
    *
    * Since round 14 this is a MANIFEST family (the O(delta)-WRITE
    * shape): the base build is one segment holding all five parts;
    * each append writes ONE delta segment (lists/codes/norms of the
    * delta only — the frozen cent/codebook live in the base segment
    * and are never copied) and publishes the new fingerprint as a
    * manifest naming base segments + the delta. A day's publish
    * therefore writes O(delta) bytes, not a corpus-sized parquet copy
    * (l131 pins this with the segment-file-stats gate). Readers union
    * the listed segments; compaction — when the segment list grows
    * long or co-located serve joins are wanted — is the periodic jump
    * to the retrain lineage's single bucketed layout.
    */
  val IncFamily = "ann_index_inc"

  private def asParts(idx: Similarity.AnnIndex): Map[String, DataFrame] =
    Map("cent" -> idx.centroids, "lists" -> idx.lists,
      "codebook" -> idx.codebook, "codes" -> idx.codes,
      "norms" -> idx.norms)

  private def asIndex(t: Map[String, DataFrame]): Similarity.AnnIndex =
    Similarity.AnnIndex(t("cent"), t("lists"), t("codebook"),
      t("codes"), t("norms"))

  /** Load-or-build the incremental lineage's BASE layout: a one-time
    * training build over the base corpus (fingerprint = the base
    * FRAME's content hash, so any base change invalidates), published
    * as a single-segment manifest.
    */
  def durableIncBase(s: SparkSession, base: DataFrame, baseFp: String,
      idCol: String, embCol: String): Similarity.AnnIndex =
    asIndex(DurableStore.loadOrBuildBase(s, IncFamily, baseFp,
      DurableParts) {
      asParts(Similarity.buildAnnIndex(base, idCol, embCol,
        DefaultNCentroids, DefaultTrainIters, DefaultM, DefaultNCodes,
        DefaultPqTrainIters))
    })

  /** Extend a published incremental layout to an appended corpus and
    * republish under the new fingerprint — the l82 maintenance
    * discipline lifted to the durable tier, at O(delta) WRITE cost:
    * the delta is assigned + PQ-encoded against the base manifest's
    * FROZEN centroids/codebook (per-row functions, zero Lloyd
    * machinery — l82's update face) and written as ONE new segment
    * holding only the delta's lists/codes/norms; the publish is one
    * create-if-absent manifest marker naming base segments + the
    * delta. The standing segments are never copied or touched by the
    * append (l131's file-stats gate pins that), and the frozen model
    * is never duplicated — it resolves from the base segment through
    * every descendant manifest. If the new fingerprint is already
    * built this is a pure reload (a re-run day costs zero jobs —
    * gated in l131).
    */
  def durableUpdateTo(s: SparkSession, baseFp: String, newFp: String,
      delta: DataFrame, idCol: String, embCol: String): Similarity.AnnIndex =
    asIndex(DurableStore.loadOrBuildAppend(s, IncFamily, baseFp, newFp,
      DurableParts) {
      val baseT = DurableStore.manifestTables(s, IncFamily, baseFp,
        DurableParts)
      val (l, c, n) = Similarity.assignEncode(baseT("cent"),
        baseT("codebook"), delta, idCol, embCol, m = DefaultM)
      Map("lists" -> l, "codes" -> c, "norms" -> n)
    })

  /** Drop every in-memory artifact (the fresh-application simulation
    * of the durable-reload gates, spec-side / cold-boot t50 where the
    * query pays its own boot).
    */
  def evictAll(): Unit = { index.clear(); serve.clear() }

  /** Drop ONLY the index cache — the artifact whose durable reload
    * l123 gates. The serve-meta cache survives: its collected
    * codebook/centroids came from checkpointed frames that stay valid,
    * and clearing it would make t22 after the gate silently re-pay the
    * driver collect (ledger noise), while proving nothing — the
    * durable layout holds the five index tables, not the serve meta.
    */
  def evictIndex(): Unit = index.clear()

  /** Re-seed the shared cache with a (reloaded) index so sibling
    * queries after an evict-reload gate serve the durable tables
    * instead of silently re-paying the build (the serve-meta cache
    * re-derives lazily from these frames).
    */
  def seedIndex(s: SparkSession, dir: String,
      idx: Similarity.AnnIndex): Unit =
    index.seed(s, dir)("ann_index_seed")(pin(idx))

  /** The serve-tier view of the shared index (t22's boot artifacts):
    * the driver-collected meta (codebook + centroids) and the index's
    * own ARRAY-form codes table (already checkpointed by
    * `sharedIndex`) — since r17 the persisted codes ARE the serve
    * layout, so boot is just the two tiny collects, with zero
    * reconstruction jobs. The index resolves outside the timed pin:
    * its build seconds belong to `ann_index`, not `ann_serve`.
    */
  def sharedServe(s: SparkSession, dir: String)
      : (Similarity.AnnServeMeta, DataFrame) =
    serve.get(s, dir)(sharedIndex(s, dir)) { idx =>
      (Similarity.collectServeMeta(idx.centroids, idx.codebook), idx.codes)
    }
}
