package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Application-scoped cache of the dedup-bootstrapped boilerplate
  * classifier (the AnnIndexStore discipline applied to the NB family):
  * a trained classifier is a STANDING artifact — labeled once by the
  * winnowing dedup pass, trained once, then served batch-side (l90)
  * and at ingest (t33) many times; retraining identical artifacts per
  * query is exactly what the classifier argues against. The cache
  * holds the localCheckpoint'ed label frame and count tables (all
  * vocab- or dup-bounded), plus the driver-collected serve model.
  */
object NbModelStore {

  /** The harness's ONE shared parameterization: l89's winnowing pair
    * frame (k=4, w=5, minShared=2, dfCap=64) labels the boilerplate
    * class; NB trains reference-vs-boilerplate on word-bigram
    * features over the full corpus. Single source of truth for l90
    * and t33.
    */
  val WinnowK = 4
  val WinnowW = 5
  val MinShared = 2
  val DfCap = 64

  private val model =
    new AppCache[(DataFrame, NbClassifier.NbModel)]("nb_model")
  private val serve = new AppCache[NbClassifier.NbServeModel]("nb_serve")

  /** The shared (labels, model): `labeled` is the (doc_id, is_dup=1)
    * frame of winnow-pair members. The miss path goes through the
    * DURABLE layout (the DupSpanStore discipline): the winnow pass
    * and training aggregate run only if NO application ever saw this
    * corpus — a warm machine reloads and the `nb_model` ledger key
    * times the checkpoint alone (a genuine build accrues under
    * `durable_nb_model`).
    */
  def sharedBoilerplateModel(s: SparkSession, dir: String)
      : (DataFrame, NbClassifier.NbModel) =
    model.get(s, dir)(durableBoilerplateModel(s, dir,
        DurableStore.documentsFp(s, dir))) { case (labeled, m) =>
      (labeled.localCheckpoint(eager = true), NbClassifier.NbModel(
        m.featCounts.localCheckpoint(eager = true),
        m.totals.localCheckpoint(eager = true)))
    }

  /** Durable layout of the classifier family (feat bucketed on the
    * serve join key; totals and the winnow label frame unbucketed).
    */
  val DurableFamily = "nb_model"
  val DurableParts: Seq[DurableStore.Part] = Seq(
    DurableStore.Part("feat", Some("feat"),
      "feat STRING, pos_c BIGINT, neg_c BIGINT"),
    DurableStore.Part("totals", None, "n_pos BIGINT, n_neg BIGINT, v BIGINT"),
    DurableStore.Part("labels", None, "doc_id BIGINT, is_dup BIGINT"))

  /** Load-or-build the DURABLE (labels, model): the winnow pass and
    * the training aggregate run in the first application ever to see
    * this corpus (the raw build lives HERE — the shared cache's miss
    * path calls down into this layout, never the other way, so build
    * seconds land un-nested under `durable_nb_model`); every later
    * application reloads with zero jobs.
    */
  def durableBoilerplateModel(s: SparkSession, dir: String,
      fp: String): (DataFrame, NbClassifier.NbModel) = {
    val t = DurableStore.loadOrBuild(s, DurableFamily, fp, DurableParts) {
      val d = Tables.load(s, dir, "documents")
      val pairs = Dedup.winnowPairs(d, "doc_id", "text",
        k = WinnowK, w = WinnowW, minShared = MinShared, dfCap = DfCap)
      // checkpointed: the label frame feeds BOTH trainNb sides
      val labeled = graft.Trace.span(s, "dedup", "winnow_pairs")(
        pairs.select(col("a_id").as("doc_id"))
          .unionByName(pairs.select(col("b_id").as("doc_id")))
          .distinct()
          .select(col("doc_id"), lit(1L).as("is_dup"))
          .localCheckpoint(eager = true))
      val model = NbClassifier.trainNb(
        d.join(labeled, Seq("doc_id"), "left_anti"),
        d.join(labeled.select("doc_id"), Seq("doc_id"), "left_semi"),
        "text", NbClassifier.bigramFeats)
      Map("feat" -> model.featCounts, "totals" -> model.totals,
        "labels" -> labeled)
    }
    (t("labels"), NbClassifier.NbModel(t("feat"), t("totals")))
  }

  /** The INCREMENTAL durable lineage of the classifier family — EXACT
    * like the LM one (l132), with the contract boundary stated
    * plainly: NB TRAINING is one feature-count aggregate, additive
    * over disjoint LABELED document batches — the additivity claim is
    * about the COUNT aggregate GIVEN per-batch labels. The LABELING
    * itself is upstream state, not part of this lineage: in production
    * the standing dedup machinery labels each arriving batch (the
    * l124/l125 persisted band index makes new-vs-old pair discovery
    * O(delta); t18's incremental-dedup face), and a label that flips
    * an already-counted document re-enters as a correction batch —
    * the same contract as any label-propagation pipeline. Batches
    * are therefore (doc_id, text, is_dup) frames, and the lineage
    * fingerprint hashes all three columns so a changed label
    * assignment invalidates the layout.
    *
    * MANIFEST family (O(delta) WRITE): each append writes one segment
    * with the delta batch's own (feat, pos_c, neg_c) counts; merge
    * moved to read time (`nbIncModelOf`, one vocab-bounded
    * groupBy-sum) — totals and the smoothing vocabulary V re-derive
    * from the merged table exactly as trainNb's own derivations, so
    * merged == full-corpus retrain integer-for-integer (l135's card
    * hash against l90's oracle proves it end-to-end).
    */
  val IncFamily = "nb_model_inc"
  val IncParts: Seq[DurableStore.Part] =
    Seq(DurableStore.Part("feat", Some("feat"),
      "feat STRING, pos_c BIGINT, neg_c BIGINT"))

  /** Labeled-batch fingerprint: doc_id + text + is_dup, so the same
    * documents under a different label assignment are a different
    * lineage generation.
    */
  def labeledFp(labeledBatch: DataFrame): String =
    DurableStore.frameFingerprint(labeledBatch,
      Seq("doc_id", "text", "is_dup"))

  /** One batch's feature-count slice: trainNb over the batch's own
    * keep/reject split (trainNb's totals are discarded — they are NOT
    * additive as published rows; the merged table re-derives them).
    */
  private def featSlice(labeledBatch: DataFrame): DataFrame =
    NbClassifier.trainNb(
      labeledBatch.where(col("is_dup") === 0L),
      labeledBatch.where(col("is_dup") === 1L),
      "text", NbClassifier.bigramFeats).featCounts

  /** One-time count build of the incremental lineage's base layout,
    * published as a single-segment manifest.
    */
  def durableNbIncBase(s: SparkSession, labeledBase: DataFrame,
      baseFp: String): Map[String, DataFrame] =
    DurableStore.loadOrBuildBase(s, IncFamily, baseFp, IncParts)(
      Map("feat" -> featSlice(labeledBase)))

  /** Extend a published layout by a labeled delta batch: only the
    * DELTA is featurized, counted and WRITTEN (one new segment + one
    * manifest marker naming base segments + the delta).
    */
  def durableNbIncUpdateTo(s: SparkSession, baseFp: String,
      newFp: String, labeledDelta: DataFrame): Map[String, DataFrame] =
    DurableStore.loadOrBuildAppend(s, IncFamily, baseFp, newFp, IncParts)(
      Map("feat" -> featSlice(labeledDelta)))

  /** Merge-on-read of an incremental layout: one vocab-bounded
    * groupBy-sum over the segment union, totals (n_pos, n_neg, V)
    * re-derived from the merged table — exactly trainNb's own
    * derivation order, so the assembled model is integer-for-integer
    * a full retrain's.
    */
  def nbIncModelOf(t: Map[String, DataFrame]): NbClassifier.NbModel = {
    val tc = t("feat").groupBy(col("feat"))
      .agg(sum(col("pos_c")).as("pos_c"), sum(col("neg_c")).as("neg_c"))
    NbClassifier.NbModel(tc,
      tc.agg(coalesce(sum(col("pos_c")), lit(0L)).as("n_pos"),
        coalesce(sum(col("neg_c")), lit(0L)).as("n_neg"),
        count(lit(1)).as("v")))
  }

  /** Drop every in-memory artifact (the fresh-application simulation
    * of the durable-reload gates).
    */
  def evictAll(): Unit = { model.clear(); serve.clear() }

  /** The serve-tier view (t33's boot artifact), cached alongside. The
    * model resolves outside the timed pin (its build seconds belong to
    * nb_model's ledger key, not nb_serve's).
    */
  def sharedServeModel(s: SparkSession, dir: String)
      : NbClassifier.NbServeModel =
    serve.get(s, dir)(sharedBoilerplateModel(s, dir)._2)(
      NbClassifier.collectNbServeModel(_))
}
