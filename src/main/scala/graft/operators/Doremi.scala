package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi: Optimizing
  * Data Mixtures Speeds Up Language Model Pretraining"): compute a
  * training-mixture weight per SOURCE/domain from each domain's EXCESS
  * LOSS — how much worse the proxy model (trained on the raw mixture)
  * does on the domain than the reference model (trained on the held-out
  * clean/target slice). Domains with positive excess are
  * "reference-like but underfit by the mixture" and get upweighted;
  * domains the reference model itself cannot predict clip to zero
  * excess and fall back to the uniform floor. Completes the mixture
  * family: l95 sets the weights, l92 pours the token budget, l67/l73
  * execute the sampling, l94 selects documents.
  *
  * Both models are the add-one bigram count LMs of NgramLm (l83's
  * machinery) trained in ONE aggregate: the proxy's pair table counts
  * every corpus bigram and the reference's pair table is the `sum(is_r)`
  * column of the SAME aggregate (a pair unseen by the reference carries
  * pair_r = 0, numerically identical to l83's left-join miss under
  * add-one smoothing).
  *
  * The raw excess carries a systematic bias — the reference trains on a
  * fraction of the corpus, so add-one smoothing scores EVERYTHING higher
  * under it and every domain's excess would clip to zero. DoReMi itself
  * is insensitive to a shared offset (the DRO step renormalizes the
  * weight vector, so only RELATIVE excess moves it); we make that
  * explicit with the l94 mean-anchor discipline: each domain's excess is
  * measured against the CORPUS-average excess, which self-normalizes
  * across corpus sizes and smoothing sparsity.
  *
  * Determinism (the l47/l83/l94 no-libm contract): per-pair surprisal is
  * the INTEGER-QUANTIZED log2, bitlen(ctx+V) - bitlen(pair+1); per-domain
  * excess is the clipped mean-anchored milli-bit average
  * max(0, fdiv(1000*(self_bits - ref_bits), n_pairs) - anchor) with
  * anchor = fdiv(1000*(SUM self_bits - SUM ref_bits), SUM n_pairs), both
  * divisions the exact FLOOR form fdiv(x,n) = (x - pmod(x,n)) div n so
  * Spark's trunc-div and DuckDB's floor-div agree on negative numerators
  * (the l94 lesson); and DoReMi's exponentiated-gradient step
  * exp(excess) is realized as the EXACT piecewise-linear base-2
  * exponential (the float-mantissa construction, monotone, equal to 2^m
  * at whole bits):
  * w_raw = (1000 + m mod 1000) << min(m div 1000, 30). A domain at the
  * clip (m = 0) gets w_raw = 1000, so the uniform fallback — DoReMi's
  * epsilon-uniform smoothing — is built into the construction rather than
  * bolted on. Weights are published as floor basis points of w_raw over
  * the corpus total; everything is BIGINT, so the ledger hash-matches.
  *
  * 100 TB shape: the exploded pair frame is localCheckpoint'ed and feeds
  * the count aggregate AND the scoring join (the l78/l94 one-scan
  * discipline); both count tables are vocab-bounded and broadcast (past
  * broadcast size the same plan degrades to a shuffle join on prev,cur —
  * the NgramLm note); per-domain sums are map-side combined; the weight
  * arithmetic runs on the O(sources) ledger with two one-row scalar
  * attaches (vocab sizes, excess anchor, weight total). Overflow
  * headroom: excess is capped at 30 whole bits so 10000*w_raw <= 2.1e16,
  * and the milli-bit numerator 1000*|self-ref| stays under 2^63 for any
  * corpus whose summed per-pair bits fit 2^49 (~5e14 scored tokens at 20
  * bits each).
  */
object Doremi {

  private def bitlen(x: Column): Column = length(bin(x)).cast("long")

  /** Cap on whole-bit excess before the exponential: keeps
    * 10000 * w_raw comfortably inside BIGINT ((2000 << 30) * 1e4 ~ 2e16).
    */
  private val CapBits = 30L

  /** exp2 of a non-negative milli-bit excess as the exact piecewise-
    * linear base-2 exponential (the float-mantissa construction):
    * (1000 + m mod 1000) << min(m div 1000, 30). Monotone, equals
    * 1000 * 2^(m/1000) exactly at whole bits, and within a factor
    * (1+f)/2^f <= 1.0615 of it everywhere. NULL (a domain with no
    * conditioned pairs) maps to weight 0. Pinned against a plain-Scala
    * reference in DoremiSpec.
    */
  private[graft] def expWeight(excessMilli: Column): Column = {
    val whole = ((excessMilli - pmod(excessMilli, lit(1000L))) /
      lit(1000L)).cast("long")
    when(excessMilli.isNull, lit(0L))
      .otherwise(call_function("shiftleft",
        lit(1000L) + pmod(excessMilli, lit(1000L)),
        least(whole, lit(CapBits)).cast("int")))
  }

  /** Per-domain mixture ledger: (source, n_docs, n_pairs, ref_bits,
    * self_bits, excess_milli, weight_bp). `ref_bits`/`self_bits` are the
    * domain's summed quantized surprisal under the reference (clean
    * slice `refPred`) and proxy (full corpus) models; `excess_milli` the
    * clipped milli-bit average excess (NULL for a domain with no
    * conditioned pairs, which also takes weight 0); `weight_bp` the
    * DoReMi mixture weight in floor basis points (sums to <= 10000).
    */
  /** The shared trained artifact both models live in: the checkpointed
    * pair-occurrence frame (doc_id, source, is_r, prev, cur) plus the
    * joint count tables — proxy counts and reference counts are two
    * columns of ONE aggregate, context counts DERIVED from the pair
    * table (the NgramLm discipline), vocab sizes one row. Train once
    * per (corpus, clean-slice) — MixtureModelStore keeps the standing
    * instance the whole l95/l97/l98/t36/t37 family consumes.
    */
  final case class JointLm(pairs: DataFrame, pc: DataFrame,
      ctx: DataFrame, vocab: DataFrame)

  /** The pair-occurrence SCORING INPUT (doc_id, source, is_r, prev,
    * cur) — a deterministic per-row function of the corpus, not model
    * state: a serve tier that loads the count tables from PERSISTED
    * artifacts still re-derives this frame per batch (l109's shape),
    * exactly like NgramLm's scorer re-explodes the documents it
    * scores.
    */
  def pairsFrame(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, refPred: Column): DataFrame =
    docs
      // token array MATERIALIZED in its own projection before the ngram
      // HOF reads it — the t28 lesson applied to the batch path (see
      // NgramLm.pairRows: the inlined split is O(tokens^2) per document
      // under the HOF + the explode's inferred filter)
      .select(col(idCol).as("doc_id"), col(groupCol).as("source"),
        when(refPred, 1L).otherwise(0L).as("is_r"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("source"), col("is_r"),
        explode(NgramLm.ngramPairs(col("__toks"), 2)).as("p"))
      .select(col("doc_id"), col("source"), col("is_r"),
        col("p.prev").as("prev"), col("p.cur").as("cur"))

  def trainJoint(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, refPred: Column,
      eagerPairs: Boolean = false): JointLm = {
    // one pair explode feeds model training AND every scoring consumer
    // — checkpoint it (narrow: ids, is_r, prev, cur) or it re-explodes;
    // the store passes eagerPairs=true so the standing instance is
    // materialized exactly once
    val pairs = pairsFrame(docs, idCol, textCol, groupCol, refPred)
      .localCheckpoint(eager = eagerPairs)
    val pc = pairs.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("pair_f"), sum(col("is_r")).as("pair_r"))
    val ctx = pc.groupBy(col("prev"))
      .agg(sum(col("pair_f")).as("ctx_f"), sum(col("pair_r")).as("ctx_r"))
    val vocab = docs
      .select(when(refPred, 1L).otherwise(0L).as("is_r"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("v_f"),
        count_distinct(when(col("is_r") === 1L, col("tok"))).as("v_r"))
    JointLm(pairs, pc, ctx, vocab)
  }

  /** Summed surprisal under both models grouped by a pairs-frame key
    * ("source" for l95's domain weights, "doc_id" for l97's
    * per-document learnability): (key, n_pairs, ref_bits, self_bits).
    * The scoring subtree every consumer shares.
    */
  private[graft] def scoredBits(jl: JointLm, keyCol: String): DataFrame =
    jl.pairs
      .join(broadcast(jl.pc), Seq("prev", "cur"))
      .join(broadcast(jl.ctx), Seq("prev"))
      .crossJoin(broadcast(jl.vocab))
      .groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(bitlen(col("ctx_r") + col("v_r"))
          - bitlen(col("pair_r") + 1L)).as("ref_bits"),
        sum(bitlen(col("ctx_f") + col("v_f"))
          - bitlen(col("pair_f") + 1L)).as("self_bits"))

  def domainWeights(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, refPred: Column): DataFrame =
    domainWeightsFrom(
      trainJoint(docs, idCol, textCol, groupCol, refPred),
      docs, groupCol)

  /** `domainWeights` over a pretrained (typically store-shared) joint
    * model; `docs`/`groupCol` only feed the per-source doc counts.
    */
  def domainWeightsFrom(jl: JointLm, docs: DataFrame,
      groupCol: String): DataFrame = {
    val sb = scoredBits(jl, "source").withColumnRenamed("key", "source")
    // the O(sources) ledger feeds the anchor and weight-total attaches
    // AND the final projection — checkpoint it (tiny) or the corpus
    // scoring subtree runs once per consumer
    val led = docs
      .groupBy(col(groupCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .join(sb, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("ref_bits"), col("self_bits"),
        // exact floor division (the l94 pmod form) — the raw per-domain
        // excess is NEGATIVE under the sparse reference, and Spark div
        // truncates where DuckDB // floors, so the pmod subtraction is
        // what keeps the two engines equal pre-clip
        when(col("n_pairs") > 0,
          expr("""(1000 * (self_bits - ref_bits)
                 | - pmod(1000 * (self_bits - ref_bits), n_pairs))
                 | div n_pairs""".stripMargin.replace("\n", " ")))
          .as("dom_milli"))
      .localCheckpoint(eager = false)
    val anchor = led
      .agg(sum(col("self_bits")).as("sb"), sum(col("ref_bits")).as("rb"),
        sum(col("n_pairs")).as("np"))
      .select(when(col("np") > 0,
        expr("""(1000 * (sb - rb) - pmod(1000 * (sb - rb), np))
               | div np""".stripMargin.replace("\n", " ")))
        .otherwise(lit(0L)).as("anchor_milli"))
    // checkpoint again after the anchor attach (still O(sources) rows):
    // the weight-total attach would otherwise replay the whole
    // anchor-attach subtree on its build side
    val ww = led.crossJoin(broadcast(anchor))
      .withColumn("excess_milli",
        when(col("dom_milli").isNotNull,
          greatest(lit(0L), col("dom_milli") - col("anchor_milli"))))
      .withColumn("w_raw", expWeight(col("excess_milli")))
      .localCheckpoint(eager = false)
    val tot = ww.agg(coalesce(sum(col("w_raw")), lit(0L)).as("w_tot"))
    ww.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_pairs"),
        col("ref_bits"), col("self_bits"), col("excess_milli"),
        when(col("w_tot") > 0, expr("(10000 * w_raw) div w_tot"))
          .otherwise(lit(0L)).as("weight_bp"))
  }

  /** RHO-style per-document learnability selection (Mindermann et al.
    * 2022, "Prioritized Training on Points that are Learnable, Worth
    * Learning, and Not Yet Learnt"; the document-level shape of RHO-1,
    * Lin et al. 2024): keep the documents whose EXCESS LOSS — proxy
    * (raw-mixture) model surprisal minus reference (clean-slice) model
    * surprisal — is high: "the reference can predict it, the mixture
    * model can't yet", the learnable-and-not-yet-learnt signal. The
    * document-level counterpart of `domainWeights` (same two models,
    * same ONE-aggregate training, same mean anchor — l97's threshold is
    * the same corpus-mean l95 anchors its weights at) and of l94's DSIR
    * (importance selection under a target model; RHO selects under a
    * reference/proxy PAIR).
    *
    * Output is one typed frame (section, k, src, n_docs, n_sel):
    * 'band' rows census the mean-anchored relative excess in deci-bit
    * bands (k = fdiv(rel_milli, 100); k NULL collects the docs with no
    * conditioned pairs, which are never selected); 'source' rows ledger
    * per-source selection counts at the mean threshold (rel >= 0). All
    * arithmetic BIGINT with pmod floor divisions (the l94/l95
    * discipline), so the frame is hash-exact.
    *
    * 100 TB shape: the `groupedBits` scoring subtree (one checkpointed
    * pair explode, broadcast count tables, map-side-combined per-doc
    * sums); the per-doc ledger is checkpointed once and feeds the
    * anchor attach AND both section aggregates (the l55 shared-scan
    * pattern); two one-row scalar attaches (vocab, anchor).
    */
  /** Per-doc relative-excess frame (key, source, rel): the learnability
    * signal BEFORE the section aggregates — rel >= 0 is l97's keep
    * decision — for consumers that compose per-document decisions
    * (l98's selector-agreement census).
    */
  private[graft] def perDocRel(docs: DataFrame, idCol: String,
      textCol: String, groupCol: String, refPred: Column): DataFrame =
    perDocRelFrom(trainJoint(docs, idCol, textCol, groupCol, refPred),
      docs, idCol, groupCol)

  private[graft] def perDocRelFrom(jl: JointLm, docs: DataFrame,
      idCol: String, groupCol: String): DataFrame = {
    val pd = scoredBits(jl, "doc_id")
    val led = docs
      .select(col(idCol).as("key"), col(groupCol).as("source"))
      .join(pd, Seq("key"), "left")
      .select(col("key"), col("source"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("ref_bits"), col("self_bits"),
        when(col("n_pairs") > 0,
          expr("""(1000 * (self_bits - ref_bits)
                 | - pmod(1000 * (self_bits - ref_bits), n_pairs))
                 | div n_pairs""".stripMargin.replace("\n", " ")))
          .as("doc_milli"))
      .localCheckpoint(eager = false)
    val anchor = led
      .agg(sum(col("self_bits")).as("sb"), sum(col("ref_bits")).as("rb"),
        sum(col("n_pairs")).as("np"))
      .select(when(col("np") > 0,
        expr("""(1000 * (sb - rb) - pmod(1000 * (sb - rb), np))
               | div np""".stripMargin.replace("\n", " ")))
        .otherwise(lit(0L)).as("anchor_milli"))
    led.crossJoin(broadcast(anchor))
      .select(col("key"), col("source"),
        (col("doc_milli") - col("anchor_milli")).as("rel"))
  }

  def learnabilitySelect(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, refPred: Column): DataFrame =
    learnabilitySelectFrom(
      trainJoint(docs, idCol, textCol, groupCol, refPred),
      docs, idCol, groupCol)

  /** `learnabilitySelect` over a pretrained (store-shared) joint model. */
  def learnabilitySelectFrom(jl: JointLm, docs: DataFrame, idCol: String,
      groupCol: String): DataFrame = {
    // the scored per-doc frame feeds BOTH sections — checkpoint it
    val scored = perDocRelFrom(jl, docs, idCol, groupCol)
      .localCheckpoint(eager = false)
    val bands = scored
      .groupBy(expr("""case when rel is null then null
                      | else (rel - pmod(rel, 100)) div 100
                      | end""".stripMargin.replace("\n", " ")).as("k"))
      .agg(count(lit(1)).as("n_docs"))
      .select(lit("band").as("section"), col("k"),
        lit(null).cast("string").as("src"), col("n_docs"),
        lit(null).cast("long").as("n_sel"))
    val bySrc = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("rel") >= 0L, 1)).as("n_sel"))
      .select(lit("source").as("section"),
        lit(null).cast("long").as("k"), col("source").as("src"),
        col("n_docs"), col("n_sel"))
    bands.unionByName(bySrc)
  }

  /** The collected learnability serve artifact (the t25 codebook-at-boot
    * discipline): per-pair surprisal DIFFERENCES bits_proxy - bits_ref
    * precomputed — the excess of a document is the plain SUM of its
    * pairs' diffs, so the stream fold carries one integer per pair
    * instead of two models. Nested layout (the NgramLm.ServeModel
    * lesson): pairDiff for seen pairs, ctxDefault for a seen context
    * with an unseen continuation (both counts zero there), unseenDiff
    * bitlen(v_f)-bitlen(v_r) for unknown contexts. `anchorMilli` is the
    * corpus-mean excess resolved batch-side at collect time, so the
    * serve path never touches the corpus again.
    */
  final case class RhoServeModel(pairDiff: Map[String, Map[String, Int]],
      ctxDefault: Map[String, Int], unseenDiff: Int, anchorMilli: Long)

  def collectRhoServeModel(docs: DataFrame, idCol: String,
      textCol: String, refPred: Column,
      maxEntries: Int = 65536): RhoServeModel =
    collectRhoServeModelFrom(
      trainJoint(docs, idCol, textCol, idCol, refPred), maxEntries)

  /** `collectRhoServeModel` over a pretrained (store-shared) joint
    * model — the boot collect reads the standing count tables only.
    */
  def collectRhoServeModelFrom(jl: JointLm,
      maxEntries: Int = 65536): RhoServeModel = {
    def bl(x: Long) =
      math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(x))
    val pcRows = jl.pc.collect()
    require(pcRows.length <= maxEntries,
      s"collectRhoServeModel: ${pcRows.length} bigrams exceed the" +
        s" $maxEntries in-process bound — serve via the broadcast-join" +
        " batch path instead")
    val vRow = jl.vocab.collect().head
    val (vF, vR) = (vRow.getLong(0), vRow.getLong(1))
    val byPrev = pcRows
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val ctx = byPrev.map { case (p, rs) =>
      p -> (rs.map(_._3).sum, rs.map(_._4).sum)
    }
    def diff(pf: Long, pr: Long, cf: Long, cr: Long): Int =
      (bl(cf + vF) - bl(pf + 1L)) - (bl(cr + vR) - bl(pr + 1L))
    val pairDiff = byPrev.map { case (p, rs) =>
      val (cf, cr) = ctx(p)
      p -> rs.map(r => r._2 -> diff(r._3, r._4, cf, cr)).toMap
    }
    val ctxDefault = ctx.map { case (p, (cf, cr)) =>
      p -> diff(0L, 0L, cf, cr)
    }
    // the mean anchor, driver-side from the collected type counts: the
    // batch anchor's per-doc sums commute — sum over docs of self-ref
    // bits IS sum over pair occurrences of diff = sum over pair TYPES
    // of pair_f * diff — so no second corpus-scoring pass is needed
    // (halved the serve-boot cost, 8.2 -> ~4 s warm at sf0.1)
    val totalPairs = pcRows.map(_.getLong(2)).sum
    val totalDiff = byPrev.values.flatten.map { r =>
      val (cf, cr) = ctx(r._1)
      r._3 * diff(r._3, r._4, cf, cr).toLong
    }.sum
    val anchor =
      if (totalPairs > 0) Math.floorDiv(1000L * totalDiff, totalPairs)
      else 0L
    RhoServeModel(pairDiff, ctxDefault, bl(vF) - bl(vR), anchor)
  }

  /** Per-ROW learnability selection against the collected model (1 =
    * selected, 0 = not; 0 for docs with no conditioned pairs) — nested
    * map-literal lookups of precomputed per-pair diffs in ONE
    * single-pass (sum, count) fold with a single scalar output (the
    * t28 interpreted-HOF lessons; `toksCol` must be a MATERIALIZED
    * token-array column). Row-for-row equal to the batch threshold
    * rel >= 0 (pinned in DoremiSpec).
    */
  def selectLocal(serve: RhoServeModel, toksCol: Column): Column = {
    val pairLit = typedLit(serve.pairDiff)
    val ctxLit = typedLit(serve.ctxDefault)
    val diffs = transform(NgramLm.tokenPairs(toksCol), p =>
      coalesce(
        element_at(element_at(pairLit, p.getField("prev")),
          p.getField("cur")),
        element_at(ctxLit, p.getField("prev")),
        lit(serve.unseenDiff)).cast("long"))
    aggregate(diffs,
      struct(lit(0L).as("s"), lit(0L).as("c")),
      (acc, d) => struct((acc.getField("s") + d).as("s"),
        (acc.getField("c") + lit(1L)).as("c")),
      acc => {
        val (s, c) = (acc.getField("s"), acc.getField("c"))
        val m = lit(1000L) * s
        val docMilli = (m - pmod(m, c)) / c
        when(c > 0,
          (docMilli.cast("long") >= lit(serve.anchorMilli)).cast("long"))
          .otherwise(lit(0L))
      })
  }

  /** The collected serve artifact (the t25 codebook-at-boot discipline,
    * O(sources) entries): per-source ADMISSION RATES in basis points,
    * derived from the PUBLISHED weight ledger — the artifact a
    * downstream consumer actually holds — by scaling the top domain to
    * full pass-through: rate_s = (10000 * weight_bp_s) div max(weight_bp)
    * (the standard proportional-sampling reading of mixture weights; a
    * domain with weight 0 is never admitted).
    */
  final case class MixtureServeModel(rateBp: Map[String, Long])

  def collectMixtureRates(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, refPred: Column,
      maxEntries: Int = 65536): MixtureServeModel =
    collectMixtureRatesFrom(
      trainJoint(docs, idCol, textCol, groupCol, refPred),
      docs, groupCol, maxEntries)

  /** `collectMixtureRates` over a pretrained (store-shared) joint model. */
  def collectMixtureRatesFrom(jl: JointLm, docs: DataFrame,
      groupCol: String, maxEntries: Int = 65536): MixtureServeModel = {
    val rows = domainWeightsFrom(jl, docs, groupCol)
      .select(col("source"), col("weight_bp")).collect()
    require(rows.length <= maxEntries,
      s"collectMixtureRates: ${rows.length} sources exceed the" +
        s" $maxEntries in-process bound")
    val wbp = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val mx = if (wbp.isEmpty) 0L else wbp.values.max
    MixtureServeModel(
      wbp.view.mapValues(w => if (mx > 0) 10000L * w / mx else 0L).toMap)
  }

  /** Per-ROW admission decision against the collected rates (1 =
    * admitted, 0 = not; 0 for NULL-text rows and unknown sources) —
    * one map-literal lookup plus the l67 content-hash basis-point
    * window: stateless, streaming-safe anywhere a column is,
    * row-for-row equal to the batch replay (pinned in DoremiSpec).
    */
  def admitLocal(serve: MixtureServeModel, groupCol: Column,
      fpCol: Column): Column = {
    val rates = typedLit(serve.rateBp)
    val rate = coalesce(element_at(rates, groupCol), lit(0L))
    // fp < 1e9+7 so fp/100.0 is floor-exact in double (the l94 note)
    val win = pmod(floor(fpCol.cast("double") / 100.0).cast("long"),
      lit(10000L))
    when(fpCol.isNull, lit(0L)).otherwise((win < rate).cast("long"))
  }
}
