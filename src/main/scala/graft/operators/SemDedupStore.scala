package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Standing store of the embedding-dedup family's shared builds — the
  * AnnIndexStore/NgramModelStore discipline applied to the SemDeDup
  * stack, now DURABLE: the semantic pair set and its connected-
  * component labels (l41/l61/l62/l99's inputs) live in the
  * DurableStore layout keyed by the embeddings content fingerprint,
  * so they are computed ONCE PER CORPUS LIFETIME — every later
  * application (and every later round of the harness) reloads the
  * persisted tables and pays only the per-application checkpoint. In
  * a production pipeline these ARE standing tables: the dedup ledger
  * written by the corpus build and read by every downstream curation
  * job.
  *
  * The exact all-pairs cosine set at the canonical threshold stays
  * IN-MEMORY by design: it is the O(n^2) GATE TWIN the approximate
  * side is measured against (l05's output, the recall baselines of
  * l30/l61/l62/l99), never a production artifact — persisting the
  * baseline a gate re-derives would let a stale ledger mask a broken
  * scale path.
  *
  * Durability also pins the clustering draw: semanticDedupPairs'
  * centroid means are shuffled doubles, so two applications could
  * compute two (both recall-valid) pair sets — the persisted build is
  * one fixed draw every consumer shares, which is strictly MORE
  * deterministic than the per-application rebuild it replaces.
  *
  * Canonical registry parameterization (hardcoded so consumers cannot
  * silently desync): the `embeddings` table's vec_id/embedding columns,
  * cosine threshold 0.4, 8 clusters x 1 Lloyd round x 3 probes.
  */
object SemDedupStore {

  /** Canonical cosine threshold of the dedup family. */
  val Threshold = 0.4

  /** Durable layout: pairs bucketed on a_id, labels on doc_id (the
    * consumers' join keys).
    */
  val DurableFamily = "semdedup"
  val DurableParts: Seq[DurableStore.Part] = Seq(
    DurableStore.Part("pairs", Some("a_id"),
      "a_id BIGINT, b_id BIGINT, cos DOUBLE"),
    DurableStore.Part("labels", Some("doc_id"),
      "doc_id BIGINT, cluster_id BIGINT"))

  private val exact = new AppCache[DataFrame]("semdedup_exact")
  private val semPairs = new AppCache[DataFrame]("semdedup_pairs")
  private val semLabels = new AppCache[DataFrame]("semdedup_labels")

  /** The exact all-pairs cosine set at the canonical threshold —
    * gate-only twin, app-scoped in-memory by design (see object doc).
    */
  def sharedExactPairs(s: SparkSession, dir: String): DataFrame =
    exact.get(s, dir)(()) { _ =>
      Similarity.exactCosinePairs(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", Threshold).localCheckpoint(eager = true)
    }

  /** Load-or-build the durable semantic tables (both parts build
    * together — labels derive from the pair frame). Returns the RAW
    * registered tables so serve-plan probes (l130) can see the catalog
    * leaves before any checkpoint hides them. A genuine build accrues
    * only under loadOrBuild's `durable_semdedup` ledger key.
    */
  def durableSem(s: SparkSession, dir: String,
      fp: String): Map[String, DataFrame] =
    DurableStore.loadOrBuild(s, DurableFamily, fp, DurableParts) {
      val e = Tables.load(s, dir, "embeddings")
      // checkpoint the pair frame so the labels' component rounds and
      // the pairs part-write share ONE evaluation of the cluster join
      val p = Similarity.semanticDedupPairs(e, "vec_id", "embedding",
          Threshold, nClusters = 8, trainIters = 1, probes = 3)
        .localCheckpoint(eager = true)
      Map("pairs" -> p, "labels" -> Dedup.components(p))
    }

  /** The cluster-bounded semantic pair set (SemDeDup candidates,
    * exact-verified). Miss path = durable reload; the `semdedup_pairs`
    * ledger key times the per-application checkpoint alone.
    */
  def sharedSemPairs(s: SparkSession, dir: String): DataFrame =
    semPairs.get(s, dir)(durableSem(s, dir,
      DurableStore.embeddingsFp(s, dir))("pairs"))(
      _.localCheckpoint(eager = true))

  /** Connected-component labels over the shared semantic pairs —
    * (doc_id, cluster_id), the keeper/dropped ledger. Same durable
    * miss path as the pairs.
    */
  def sharedSemLabels(s: SparkSession, dir: String): DataFrame =
    semLabels.get(s, dir)(durableSem(s, dir,
      DurableStore.embeddingsFp(s, dir))("labels"))(
      _.localCheckpoint(eager = true))

  /** The INCREMENTAL durable lineage of the semantic family — frozen-
    * model like the ANN one (l131): the base build trains ONE centroid
    * draw and persists it with its assignment, pair and label tables;
    * each append assigns ONLY the delta against the frozen centroids,
    * generates candidates delta-vs-cohabitants (old-new and new-new;
    * old-old pairs are the standing table's rows, unchanged under a
    * frozen assignment), exact-verifies them, and republishes —
    * per-row determinism makes standing ∪ delta EXACTLY equal to
    * assigning and pairing the whole union, which l134 multiset-gates.
    * Component labels recompute over the merged PAIR graph (pair-
    * bounded, never corpus-bounded). Centroid drift under sustained
    * ingest is a periodic retrain — a jump back to the `semdedup`
    * family's fresh build.
    */
  val IncFamily = "semdedup_inc"
  val IncParts: Seq[DurableStore.Part] = Seq(
    DurableStore.Part("cents", None, "cent_id BIGINT, cent_emb ARRAY<FLOAT>"),
    DurableStore.Part("assign", Some("cent_id"), "c_id BIGINT, cent_id BIGINT"),
    DurableStore.Part("pairs", Some("a_id"),
      "a_id BIGINT, b_id BIGINT, cos DOUBLE"))

  /** Since round 14 a MANIFEST family (O(delta) WRITE): the base
    * segment holds the frozen centroids + base assignment/pairs; each
    * append writes ONE segment with the DELTA's assignment and the
    * delta-touching verified pairs, published as base segments + the
    * delta (l134's file-stats gate pins that the standing segments are
    * untouched). Component LABELS left the persisted parts: they are
    * not additive (one new pair can merge two standing components), so
    * the manifest lineage derives them at read time from the merged
    * pair graph — `incLabelsOf`, pair-bounded work, never
    * corpus-bounded (the full-rewrite `semdedup` family still
    * materializes labels for standing consumers).
    */

  /** One-time training build of the incremental lineage's base layout
    * (fingerprint = the base frame's content hash), published as a
    * single-segment manifest.
    */
  def durableSemIncBase(s: SparkSession, base: DataFrame,
      baseFp: String): Map[String, DataFrame] =
    DurableStore.loadOrBuildBase(s, IncFamily, baseFp, IncParts) {
      val cents = Similarity.semanticCentroids(base, "vec_id",
        "embedding", nClusters = 8, trainIters = 1)
        .localCheckpoint(eager = true)
      val assign = Similarity.semanticAssign(base, "vec_id",
        "embedding", cents, probes = 3).localCheckpoint(eager = true)
      val pairs = Similarity.semanticPairsFromAssign(assign, base,
        "vec_id", "embedding", Threshold)
      Map("cents" -> cents, "assign" -> assign, "pairs" -> pairs)
    }

  /** Extend a published incremental layout by an appended vector
    * batch and republish under the new fingerprint: only the DELTA is
    * assigned (against the base manifest's frozen centroids), only
    * delta-touching candidates are verified, and only the delta's
    * rows are WRITTEN (one new segment + one manifest marker).
    */
  def durableSemIncUpdateTo(s: SparkSession, baseFp: String,
      newFp: String, delta: DataFrame,
      corpus: DataFrame): Map[String, DataFrame] =
    DurableStore.loadOrBuildAppend(s, IncFamily, baseFp, newFp,
      IncParts) {
      val baseT = DurableStore.manifestTables(s, IncFamily, baseFp,
        IncParts)
      val dAssign = Similarity.semanticAssign(delta, "vec_id",
        "embedding", baseT("cents"), probes = 3)
        .localCheckpoint(eager = true) // feeds candidates AND the write
      val dPairs = Similarity.semanticPairsDelta(dAssign,
        baseT("assign").unionByName(dAssign), corpus,
        "vec_id", "embedding", Threshold)
      Map("assign" -> dAssign, "pairs" -> dPairs)
    }

  /** Component labels of an incremental layout, derived at read time
    * from the merged pair graph (pair-bounded — the duplicated mass,
    * never the corpus).
    */
  def incLabelsOf(t: Map[String, DataFrame]): DataFrame =
    Dedup.components(t("pairs"))

  /** Drop the SEMANTIC caches (the artifacts the durable layout
    * holds) — the fresh-application simulation of the l130 gate. The
    * exact-pair twin survives: it is gate-only machinery, not part of
    * the durable contract being proven.
    */
  def evictSem(): Unit = { semPairs.clear(); semLabels.clear() }

  /** Drop every in-memory artifact (spec-side full reset). */
  def evictAll(): Unit = { exact.clear(); evictSem() }
}
