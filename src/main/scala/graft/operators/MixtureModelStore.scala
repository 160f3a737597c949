package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Application-scoped cache of trained data-selection artifacts — the
  * AnnIndexStore/NbModelStore standing-artifact discipline applied to
  * the mixture/selection family: the joint proxy+reference bigram
  * tables (l95 DoReMi weights, l97 RHO selection, l98 agreement, t36/
  * t37 serve boots) and DSIR's hashed-bucket frame (l94, t35, l98) are
  * each trained ONCE per application and consumed by every query,
  * instead of each query retraining identical artifacts.
  *
  * Canonical registry parameterization (hardcoded like AnnIndexStore's
  * build constants, so consumers cannot silently desync): the
  * `documents` table's doc_id/text/source columns, the held-out clean
  * slice doc_id % 7 = 0, DSIR's B = 4096 hashed buckets.
  *
  * Entries hold localCheckpoint'ed frames — the pair/bucket frames
  * are O(corpus n-gram occurrences) but narrow, the count tables
  * vocab-bounded.
  */
object MixtureModelStore {

  /** DSIR's canonical hashed-vocabulary size (l94/t35/l98). */
  val DsirBuckets = 4096

  private val joint = new AppCache[Doremi.JointLm]("mixture_joint")
  private val dsir = new AppCache[DataFrame]("dsir_buckets")

  /** The canonical held-out clean-slice predicate — PUBLIC so serve
    * consumers (l109's scoring-input frame) reference THE slice the
    * persisted counts were trained on instead of duplicating the
    * literal (a drifted copy would silently score against the wrong
    * reference).
    */
  def cleanSlicePred: org.apache.spark.sql.Column =
    col("doc_id") % 7 === 0

  /** The standing joint proxy+reference bigram model over `dir`'s
    * documents table. The COUNT tables' miss path goes through the
    * DURABLE layout (the DupSpanStore discipline — training runs only
    * if no application ever saw this corpus); the pair-occurrence
    * SCORING INPUT is per-corpus-row serve work that is deliberately
    * not persisted (the l109 contract), so its explode + checkpoint
    * is what the `mixture_joint` ledger key times on a warm machine.
    */
  def sharedJoint(s: SparkSession, dir: String): Doremi.JointLm =
    joint.get(s, dir)(durableJointCounts(s, dir,
        DurableStore.documentsFp(s, dir))) { case (pc, ctx, vocab) =>
      Doremi.JointLm(
        Doremi.pairsFrame(Tables.load(s, dir, "documents"), "doc_id",
          "text", "source", cleanSlicePred).localCheckpoint(eager = true),
        pc.localCheckpoint(eager = true),
        ctx.localCheckpoint(eager = true),
        vocab.localCheckpoint(eager = true))
    }

  /** The standing DSIR hashed-bucket frame over `dir`'s documents. */
  def sharedDsirBuckets(s: SparkSession, dir: String): DataFrame =
    dsir.get(s, dir)(()) { _ =>
      Dsir.bucketFrame(Tables.load(s, dir, "documents"), "doc_id", "text",
        cleanSlicePred, DsirBuckets).localCheckpoint(eager = true)
    }

  /** Durable layout of the joint count tables (pc/ctx bucketed on
    * prev, one-row vocab — the l109 writer's spec). The pair-
    * occurrence scoring INPUT is per-corpus-row work every scorer
    * re-derives at serve time and is deliberately not persisted.
    */
  val JointFamily = "mixture_joint"
  val JointParts: Seq[DurableStore.Part] = Seq(
    DurableStore.Part("pc", Some("prev"),
      "prev STRING, cur STRING, pair_f BIGINT, pair_r BIGINT"),
    DurableStore.Part("ctx", Some("prev"),
      "prev STRING, ctx_f BIGINT, ctx_r BIGINT"),
    DurableStore.Part("vocab", None, "v_f BIGINT, v_r BIGINT"))

  /** Load-or-build the DURABLE joint count tables (pc, ctx, vocab):
    * count training runs in the first application ever to see this
    * corpus (the raw training job lives HERE — the shared cache's
    * miss path calls down into this layout, never the other way, so
    * build seconds land un-nested under `durable_mixture_joint`);
    * later applications reload with zero jobs.
    */
  def durableJointCounts(s: SparkSession, dir: String,
      fp: String): (DataFrame, DataFrame, DataFrame) = {
    val t = DurableStore.loadOrBuild(s, JointFamily, fp, JointParts) {
      val jl = Doremi.trainJoint(Tables.load(s, dir, "documents"),
        "doc_id", "text", "source", cleanSlicePred)
      Map("pc" -> jl.pc, "ctx" -> jl.ctx, "vocab" -> jl.vocab)
    }
    (t("pc"), t("ctx"), t("vocab"))
  }

  /** The INCREMENTAL durable lineage of the DSIR family — EXACT like
    * the LM one (l132): the trained state's mergeable form is the
    * per-bucket class-count table (bkt, ct, cr — <= DsirBuckets rows),
    * additive over disjoint document sets; the importance projection
    * recomputes from merged counts integer-for-integer equal to a
    * full-corpus retrain (l133's card hash proves it end-to-end).
    * Since round 14 a MANIFEST family: each append writes only the
    * delta batch's own <= DsirBuckets-row count segment; the merge
    * moved to read time (`dsirIncCountsOf`, one bucket-bounded
    * groupBy-sum over the segment union — l133's file-stats gate pins
    * the O(delta) write).
    */
  val DsirIncFamily = "dsir_counts_inc"
  val DsirIncParts: Seq[DurableStore.Part] =
    Seq(DurableStore.Part("counts", None, "bkt BIGINT, ct BIGINT, cr BIGINT"))

  private def bucketCounts(docs: DataFrame): DataFrame =
    Dsir.bucketCountsOf(Dsir.bucketFrame(docs, "doc_id", "text",
      cleanSlicePred, DsirBuckets))

  /** One-time count build of the incremental lineage's base layout,
    * published as a single-segment manifest.
    */
  def durableDsirIncBase(s: SparkSession, base: DataFrame,
      baseFp: String): Map[String, DataFrame] =
    DurableStore.loadOrBuildBase(s, DsirIncFamily, baseFp, DsirIncParts)(
      Map("counts" -> bucketCounts(base)))

  /** Extend a published count layout by an appended document batch
    * and republish under the new fingerprint: only the DELTA is
    * hashed, counted and WRITTEN (one new segment; the publish is one
    * manifest marker naming base segments + the delta).
    */
  def durableDsirIncUpdateTo(s: SparkSession, baseFp: String,
      newFp: String, delta: DataFrame): Map[String, DataFrame] =
    DurableStore.loadOrBuildAppend(s, DsirIncFamily, baseFp, newFp,
      DsirIncParts)(Map("counts" -> bucketCounts(delta)))

  /** Merge-on-read of an incremental layout's count segments: one
    * <= DsirBuckets-row groupBy-sum (additivity makes it exact).
    */
  def dsirIncCountsOf(t: Map[String, DataFrame]): DataFrame =
    t("counts").groupBy(col("bkt"))
      .agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))

  /** The INCREMENTAL durable lineage of the JOINT proxy+reference
    * model (DoReMi/RHO's trained state) — the sixth lineage, EXACT
    * like the LM/DSIR/NB ones: the joint pair-count table (prev, cur,
    * pair_f, pair_r) is additive over disjoint document sets (pairs
    * never cross documents; is_r is a per-row function of doc_id), and
    * the vocab scalars' mergeable form is the distinct (tok, is_r)
    * pair set (counts don't merge, sets do — the l132 toks
    * discipline). MANIFEST family: each append writes one segment with
    * the delta batch's own counts and token set; `jointIncModelOf`
    * merges on read (vocab-bounded groupBy-sum + distinct) and
    * re-derives ctx and the vocab row exactly as trainJoint's own
    * derivations, so the assembled model serves l95's entire weight
    * ledger integer-for-integer equal to a full-corpus retrain
    * (l136's hash against l95's oracle).
    */
  val JointIncFamily = "mixture_joint_inc"
  val JointIncParts: Seq[DurableStore.Part] = Seq(
    DurableStore.Part("pc", Some("prev"),
      "prev STRING, cur STRING, pair_f BIGINT, pair_r BIGINT"),
    DurableStore.Part("toks", None, "tok STRING, is_r BIGINT"))

  /** One batch's slice of the joint trained state: its own pair
    * counts and its own distinct (tok, is_r) set.
    */
  private def jointSlice(docs: DataFrame): Map[String, DataFrame] = {
    val pairs = Doremi.pairsFrame(docs, "doc_id", "text", "source",
      cleanSlicePred)
    Map(
      "pc" -> pairs.groupBy(col("prev"), col("cur"))
        .agg(count(lit(1)).as("pair_f"), sum(col("is_r")).as("pair_r")),
      "toks" -> docs.select(
          when(cleanSlicePred, 1L).otherwise(0L).as("is_r"),
          explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("tok"))
        .select(col("tok"), col("is_r")).distinct())
  }

  /** One-time count build of the joint lineage's base layout. */
  def durableJointIncBase(s: SparkSession, base: DataFrame,
      baseFp: String): Map[String, DataFrame] =
    DurableStore.loadOrBuildBase(s, JointIncFamily, baseFp,
      JointIncParts)(jointSlice(base))

  /** Extend a published joint layout by an appended document batch:
    * only the DELTA is exploded, counted and WRITTEN.
    */
  def durableJointIncUpdateTo(s: SparkSession, baseFp: String,
      newFp: String, delta: DataFrame): Map[String, DataFrame] =
    DurableStore.loadOrBuildAppend(s, JointIncFamily, baseFp, newFp,
      JointIncParts)(jointSlice(delta))

  /** Assemble the servable joint model from an incremental layout:
    * pair counts merge by one vocab-bounded groupBy-sum, ctx derives
    * from the merged table, the vocab row from the merged distinct
    * token sets — exactly trainJoint's derivations. `pairs` is the
    * caller's pair-occurrence scoring input (per-corpus-row serve
    * work, the l109 contract — never persisted).
    */
  def jointIncModelOf(t: Map[String, DataFrame],
      pairs: DataFrame): Doremi.JointLm = {
    val pc = t("pc").groupBy(col("prev"), col("cur"))
      .agg(sum(col("pair_f")).as("pair_f"),
        sum(col("pair_r")).as("pair_r"))
    Doremi.JointLm(pairs, pc,
      pc.groupBy(col("prev"))
        .agg(sum(col("pair_f")).as("ctx_f"),
          sum(col("pair_r")).as("ctx_r")),
      t("toks").distinct()
        .agg(count_distinct(col("tok")).as("v_f"),
          count_distinct(when(col("is_r") === 1L, col("tok")))
            .as("v_r")))
  }

  /** Drop every in-memory artifact (the fresh-application simulation
    * of the durable-reload gates).
    */
  def evictAll(): Unit = { joint.clear(); dsir.clear() }
}
