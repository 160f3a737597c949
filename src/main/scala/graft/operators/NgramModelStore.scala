package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Application-scoped cache of the count-LM family's trained tables —
  * the MixtureModelStore discipline applied to NgramLm: the add-one
  * bigram tables (l83's model) also underlie the backoff (l87) and
  * Kneser-Ney (l88) artifacts and both serve boots (t28/t31), so the
  * clean-slice pair aggregate trains ONCE per application per order
  * and the derived smoothing tables attach to the shared base instead
  * of five queries re-counting the identical slice. Count tables are
  * integer aggregates — deterministic — so reuse is hash-invisible.
  *
  * Canonical registry parameterization (hardcoded so consumers cannot
  * silently desync): the `documents` table's doc_id/text columns, the
  * held-out clean slice doc_id % 7 = 0.
  */
object NgramModelStore {

  private val bigram = new AppCache[NgramLm.BigramModel]("lm_bigram")
  private val backoff = new AppCache[NgramLm.BackoffModel]("lm_backoff")
  private val kn = new AppCache[NgramLm.KneserNeyModel]("lm_kn")

  /** Checkpoint the count tables — of a fresh build or a durable
    * reload — so consumers share in-memory frames (serving raw table
    * reads measurably slows every later consumer).
    */
  private def pin(m: NgramLm.BigramModel): NgramLm.BigramModel =
    NgramLm.BigramModel(m.pairCounts.localCheckpoint(eager = true),
      m.ctxCounts.localCheckpoint(eager = true),
      m.vocab.localCheckpoint(eager = true))

  private def cleanSlice(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").where(col("doc_id") % 7 === 0)

  /** The standing add-one order-n count tables over `dir`'s clean
    * slice (pair/context/vocab frames checkpointed). The canonical
    * order-2 miss path goes through the DURABLE layout (the
    * DupSpanStore discipline): training runs only if NO application
    * ever saw this corpus — a warm machine reloads the persisted
    * tables and the `lm_bigram` ledger key times the checkpoint alone
    * (a genuine build accrues under `durable_lm_bigram`). Other orders
    * (no durable layout — no standing consumer) train in-memory.
    */
  def sharedBigram(s: SparkSession, dir: String,
      order: Int = 2): NgramLm.BigramModel =
    bigram.get(s, dir, s"$order") {
      if (order == 2) durableBigram(s, dir, DurableStore.documentsFp(s, dir))
      else NgramLm.trainBigram(cleanSlice(s, dir), "text", order)
    }(pin)

  /** The interpolated-backoff artifact on the shared bigram base (the
    * base resolves outside the timed pin — its build seconds belong to
    * lm_bigram's ledger key).
    */
  def sharedBackoff(s: SparkSession, dir: String): NgramLm.BackoffModel =
    backoff.get(s, dir)(sharedBigram(s, dir)) { base =>
      val m = NgramLm.trainBackoff(cleanSlice(s, dir), "text",
        baseOpt = Some(base))
      NgramLm.BackoffModel(m.base,
        m.uniCounts.localCheckpoint(eager = true),
        m.totals.localCheckpoint(eager = true))
    }

  /** Durable layout of the bigram family (pairs/ctx bucketed on prev —
    * the serve join key), shared by the l122 gate and any standing
    * deployment of the LM scorer.
    */
  val DurableFamily = "lm_bigram"
  val DurableParts: Seq[DurableStore.Part] = Seq(
    DurableStore.Part("pairs", Some("prev"),
      "prev STRING, cur STRING, pair_c BIGINT"),
    DurableStore.Part("ctx", Some("prev"), "prev STRING, ctx_c BIGINT"),
    DurableStore.Part("vocab", None, "v BIGINT"))

  /** Load-or-build the DURABLE bigram store: the first application
    * ever to see this corpus trains and persists (the raw training
    * job lives HERE, not in sharedBigram — the shared cache's miss
    * path calls down into this layout, never the other way, so build
    * seconds land un-nested under `durable_lm_bigram`); every later
    * application — and the post-evict reload inside one — serves from
    * the on-disk tables with zero training jobs.
    */
  def durableBigram(s: SparkSession, dir: String,
      fp: String): NgramLm.BigramModel = {
    val t = DurableStore.loadOrBuild(s, DurableFamily, fp, DurableParts) {
      val m = NgramLm.trainBigram(cleanSlice(s, dir), "text", 2)
      Map("pairs" -> m.pairCounts, "ctx" -> m.ctxCounts,
        "vocab" -> m.vocab)
    }
    NgramLm.BigramModel(t("pairs"), t("ctx"), t("vocab"))
  }

  /** The INCREMENTAL durable lineage of the LM family — count tables
    * are ADDITIVE over disjoint document sets (pairs never cross
    * document boundaries), so unlike the ANN lineage's frozen-model
    * approximation this update is EXACT: merged counts equal a
    * full-corpus retrain integer-for-integer, and l132 gates that with
    * the whole l83 card hash. Parts: the pair counts plus the DISTINCT
    * TOKEN table — the vocab COUNT's mergeable form (counts don't
    * merge across appends, sets do); context counts and the vocab
    * scalar re-derive from these (vocab-bounded work).
    *
    * Since round 14 a MANIFEST family (the O(delta)-WRITE shape): each
    * append writes ONE segment holding the DELTA batch's own counts
    * and token set; the merge moved from publish time to READ time —
    * `incModelOf` folds the segment union with one vocab-bounded
    * groupBy-sum / distinct, the LSM merge-on-read trade. A day's
    * publish therefore writes O(delta-vocab) bytes instead of
    * re-copying the corpus vocabulary (l132's file-stats gate);
    * compaction, when the segment list grows long, is `compactInc`
    * (the crash-atomic in-place swap, l137) — auto-firable past a
    * chain-length threshold via Maintenance.autoCompactManifest.
    */
  val IncFamily = "lm_bigram_inc"
  val IncParts: Seq[DurableStore.Part] = Seq(
    DurableStore.Part("pairs", Some("prev"),
      "prev STRING, cur STRING, pair_c BIGINT"),
    DurableStore.Part("toks", None, "tok STRING"))

  /** One batch's slice of the lineage: its clean-slice pair counts
    * and its distinct token set.
    */
  private def countSlice(docs: DataFrame): Map[String, DataFrame] = {
    val clean = docs.where(col("doc_id") % 7 === 0)
    Map("pairs" -> NgramLm.trainBigram(clean, "text", 2).pairCounts,
      "toks" -> clean.select(explode(
          graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .distinct())
  }

  /** One-time training build of the incremental lineage's base layout
    * (clean-slice counts of the BASE corpus; fingerprint = the base
    * frame's content hash), published as a single-segment manifest.
    */
  def durableIncBase(s: SparkSession, base: DataFrame,
      baseFp: String,
      family: String = IncFamily): Map[String, DataFrame] =
    DurableStore.loadOrBuildBase(s, family, baseFp, IncParts)(
      countSlice(base))

  /** Extend a published incremental layout by an appended document
    * batch and republish under the new fingerprint: ONLY the delta is
    * tokenized and counted, ONLY the delta's counts are written (one
    * new segment; the publish is one manifest marker naming base
    * segments + the delta — the standing segments are never copied).
    * Exact by additivity — l132's card hash proves merged == retrained.
    */
  def durableIncUpdateTo(s: SparkSession, baseFp: String,
      newFp: String, delta: DataFrame,
      family: String = IncFamily): Map[String, DataFrame] =
    DurableStore.loadOrBuildAppend(s, family, baseFp, newFp, IncParts)(
      countSlice(delta))

  /** Compact an incremental layout's segment chain into ONE merged
    * segment (the LSM maintenance face): applies exactly the
    * merge-on-read `incModelOf` performs — pair counts groupBy-summed,
    * token sets distinct'ed — so serving semantics are preserved by
    * construction; after the swap the chain's old segments are vacuum
    * stale data (the base generation's manifest keeps ITS segment
    * alive). Bounded I/O over vocab-sized tables, never a training
    * job; l137 gates the whole contract against l83's oracle.
    */
  def compactInc(s: SparkSession, fp: String,
      family: String = IncFamily): Unit =
    DurableStore.compactManifest(s, family, fp, IncParts) { t =>
      Map(
        "pairs" -> t("pairs").groupBy(col("prev"), col("cur"))
          .agg(sum(col("pair_c")).as("pair_c")),
        "toks" -> t("toks").distinct())
    }

  /** Assemble the servable model from an incremental layout: the
    * segment union merges by one vocab-bounded groupBy-sum (additive
    * counts) / distinct (token sets), then context counts and the
    * vocab scalar re-derive exactly as trainBigram's own derivations —
    * the manifest lineage's merge-on-read.
    */
  def incModelOf(t: Map[String, DataFrame]): NgramLm.BigramModel = {
    val pairs = t("pairs").groupBy(col("prev"), col("cur"))
      .agg(sum(col("pair_c")).as("pair_c"))
    NgramLm.BigramModel(pairs,
      pairs.groupBy(col("prev")).agg(sum(col("pair_c")).as("ctx_c")),
      t("toks").distinct().agg(count(lit(1)).as("v")))
  }

  /** Drop every in-memory artifact (the fresh-application simulation
    * of the durable-reload gates, spec-side where no siblings follow).
    */
  def evictAll(): Unit = { bigram.clear(); backoff.clear(); kn.clear() }

  /** Drop ONLY the bigram cache — the artifact whose durable reload
    * l122 gates. The derived backoff/KN caches survive: they were
    * built from checkpointed base frames that stay valid, and clearing
    * them would make sibling queries after the gate silently re-pay
    * derived builds the store exists to amortize (polluting their
    * bench lines with re-collect noise) while proving nothing — the
    * durable layout holds only the bigram tables.
    */
  def evictBigram(): Unit = bigram.clear()

  /** Re-seed the shared cache with a (reloaded) model so sibling
    * queries after an evict-reload gate serve the durable tables
    * instead of silently re-paying the training job.
    */
  def seedBigram(s: SparkSession, dir: String,
      m: NgramLm.BigramModel, order: Int = 2): Unit =
    bigram.seed(s, dir, s"$order")("lm_bigram_seed")(pin(m))

  /** The Kneser-Ney artifact on the shared bigram base (the three
    * continuation tables derive from the checkpointed pair table, so
    * building them is vocab-bounded work).
    */
  def sharedKneserNey(s: SparkSession, dir: String): NgramLm.KneserNeyModel =
    kn.get(s, dir)(sharedBigram(s, dir)) { base =>
      val m = NgramLm.trainKneserNey(cleanSlice(s, dir), "text",
        baseOpt = Some(base))
      NgramLm.KneserNeyModel(m.base,
        m.contCounts.localCheckpoint(eager = true),
        m.distinctCont.localCheckpoint(eager = true),
        m.pairTypes.localCheckpoint(eager = true))
    }
}
