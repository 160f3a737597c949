package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Count-based n-gram language-model scoring — the CCNet/Gopher-style
  * "LM perplexity" quality filter of an LLM curation pipeline: train a
  * smoothed bigram model on a held-out clean slice, score every
  * document's per-token surprisal, band the corpus by bits-per-token
  * and surface the extremes (high = noise/garble candidates, low =
  * boilerplate/templating candidates).
  *
  * Determinism (the no-libm contract of QuerySpec.scala): add-one
  * smoothing keeps every token probability an exact BIGINT rational
  * num/den = (pairCount+1)/(ctxCount+V), and the per-token surprisal is
  * the INTEGER-QUANTIZED log2, bitlen(den) - bitlen(num) — computed as
  * `length(bin(x))` on both engines (neither pads), so scores are pure
  * integer arithmetic and hash-match cross-engine. floor(log2 den) -
  * floor(log2 num) is within 1 bit of the real -log2 p per token;
  * bands of its per-token mean ARE log2-perplexity bands (perplexity =
  * 2^bits-per-token), which is what the filter thresholds on — the
  * exact transcendental value never matters, its band does.
  *
  * 100 TB shape: training is ONE pair-count aggregate over the (small)
  * clean slice plus a context-count aggregate DERIVED from the pair
  * table (never a second corpus pass); both count tables are
  * vocab-bounded and broadcast to the scoring join, so scoring the full
  * corpus is explode → two broadcast joins → one map-side-combined
  * per-doc sum — no corpus-sized shuffle beyond the per-doc aggregate.
  * (If a real corpus's bigram table outgrew broadcast, the same plan
  * degrades gracefully to a shuffle join on `prev,cur`; the streaming
  * face in StreamingOps instead collects the tables once at serve
  * start, the t25 codebook-at-boot discipline.)
  */
object NgramLm {

  /** Adjacent (prev, cur) token-pair structs of a token array. The
    * `size >= 2` guard matters: Spark's `sequence(1, 0)` counts DOWN.
    */
  def tokenPairs(toks: Column): Column = ngramPairs(toks, 2)

  /** (context, cur) structs for an order-n model: context = the n-1
    * preceding tokens space-joined into ONE key string (tokens are
    * whitespace-split, so the join is unambiguous), cur = the
    * conditioned token. order=2 is `tokenPairs`; order=3 gives the
    * trigram frame with the SAME (prev, cur) schema, so the whole
    * count/score machinery below is order-generic for free.
    */
  def ngramPairs(toks: Column, order: Int): Column = {
    require(order >= 2, "ngramPairs needs order >= 2")
    val ctxLen = order - 1
    when(size(toks) >= order,
      transform(sequence(lit(1), size(toks) - lit(ctxLen)),
        i => struct(
          concat_ws(" ", slice(toks, i, lit(ctxLen))).as("prev"),
          element_at(toks, i + lit(ctxLen)).as("cur"))))
      .otherwise(array().cast("array<struct<prev:string,cur:string>>"))
  }

  /** The exploded (doc_id, prev, cur) pair rows of every document, with
    * the token array MATERIALIZED in its own projection before the
    * ngram HOF reads it. This is the t28 lesson applied to the BATCH
    * train/score paths (the serve tier learned it in round 10, these
    * didn't): HOFs evaluate without common-subexpression elimination,
    * so an inlined tokens(text) child is re-split by every slice/
    * element_at inside the lambda — O(tokens^2) per document, doubled
    * again by the filter InferFiltersFromGenerate synthesizes under the
    * explode. r16's phase timing measured the inline form at ~3.0 s of pure
    * pair generation on sf0.1 (5k docs) vs 0.08 s for the split itself;
    * the two-step projection is plan-neutral otherwise (same rows, same
    * broadcast-join scoring on top). CollapseProject keeps the
    * projection boundary because the alias is multiply-referenced and
    * non-cheap.
    */
  private[graft] def pairRows(docs: DataFrame, idCol: String,
      textCol: String, order: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), explode(ngramPairs(col("__toks"), order))
        .as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"),
        col("p.cur").as("cur"))

  /** The trained artifact: bigram counts (prev, cur, pair_c), context
    * counts (prev, ctx_c — the row sums of the pair table), and the
    * one-row vocab size (v). All three are vocab-bounded.
    */
  final case class BigramModel(pairCounts: DataFrame, ctxCounts: DataFrame,
      vocab: DataFrame)

  /** Train the add-one order-n model on `train` (the held-out clean
    * slice): one adjacent-ngram count aggregate, context counts
    * derived from it, distinct-token (unigram) vocab size for the
    * smoothing denominator. Default order 2 = the bigram model.
    */
  def trainBigram(train: DataFrame, textCol: String,
      order: Int = 2): BigramModel = {
    val pc = train
      .select(TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(explode(ngramPairs(col("__toks"), order)).as("p"))
      .select(col("p.prev").as("prev"), col("p.cur").as("cur"))
      .groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("pair_c"))
    val ctx = pc.groupBy(col("prev")).agg(sum(col("pair_c")).as("ctx_c"))
    val v = train
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    BigramModel(pc, ctx, v)
  }

  /** Per-pair quantized surprisal bits given resolved counts:
    * bitlen(ctx_c + V) - bitlen(pair_c + 1), always >= 0 because
    * pair_c <= ctx_c and 1 <= V. An unseen context scores the uniform
    * 1/V.
    */
  private def bitsExpr(pairC: Column, ctxC: Column, v: Column): Column =
    (length(bin(coalesce(ctxC, lit(0L)) + v))
      - length(bin(coalesce(pairC, lit(0L)) + lit(1L)))).cast("long")

  /** The per-doc assembly shared by every scorer: sum the per-pair
    * bits, restore unscored documents (n_scored 0, NULL bits), emit
    * the bits-per-token mean. `scored` is a (doc_id, bits) frame.
    */
  private def perDocBits(docs: DataFrame, idCol: String,
      scored: DataFrame): DataFrame = {
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(count(col("bits")).as("n_scored"),
        sum(col("bits")).as("total_bits"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        col("total_bits"),
        when(coalesce(col("n_scored"), lit(0L)) > 0,
          col("total_bits").cast("double") / col("n_scored")).as("bpt"))
  }

  /** Score every document against the model: (doc_id, n_scored,
    * total_bits, bpt) where n_scored is the number of conditioned
    * tokens (pairs), total_bits their summed quantized surprisal, bpt
    * the bits-per-token mean (NULL for docs with < 2 tokens, which
    * condition nothing).
    */
  def surprisalBits(docs: DataFrame, idCol: String, textCol: String,
      model: BigramModel, order: Int = 2): DataFrame = {
    val ap = pairRows(docs, idCol, textCol, order)
    val scored = ap
      .join(broadcast(model.pairCounts), Seq("prev", "cur"), "left")
      .join(broadcast(model.ctxCounts), Seq("prev"), "left")
      .crossJoin(broadcast(model.vocab))
      .select(col("doc_id"),
        bitsExpr(col("pair_c"), col("ctx_c"), col("v")).as("bits"))
    perDocBits(docs, idCol, scored)
  }

  /** The interpolated model: the bigram artifact plus unigram counts
    * (cur, uni_c) and the one-row train-token total (n).
    */
  final case class BackoffModel(base: BigramModel, uniCounts: DataFrame,
      totals: DataFrame)

  def trainBackoff(train: DataFrame, textCol: String,
      baseOpt: Option[BigramModel] = None): BackoffModel = {
    val toks = train
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
    BackoffModel(baseOpt.getOrElse(trainBigram(train, textCol)),
      toks.groupBy(col("tok").as("cur")).agg(count(lit(1)).as("uni_c")),
      toks.agg(count(lit(1)).as("n")))
  }

  /** Interpolated bigram↔unigram scoring — the smoothing shape real
    * CCNet-style LM filters use (a raw add-one bigram over-penalizes
    * frequent words after unseen contexts): p = ½·p_bi + ½·p_uni with
    * p_bi = (pair+1)/(ctx+V) and p_uni = (uni+1)/(N+V), carried as ONE
    * exact BIGINT rational — num = pbn·pud + pun·pbd, den = 2·pbd·pud
    * (num <= den since each mixture component is <= 1) — and quantized
    * to bits = bitlen(den) - bitlen(num) like `surprisalBits`, so the
    * output stays hash-exact with zero libm. Exactness bound: the den
    * product must fit a BIGINT, i.e. (ctx+V)·(N+V) < 2^62 — true for
    * any count table a broadcast join would ship; a corpus past that
    * scales its counts down first (the standard KenLM quantization
    * step, which this integer discipline models anyway).
    */
  def backoffBits(docs: DataFrame, idCol: String, textCol: String,
      model: BackoffModel): DataFrame = {
    val ap = pairRows(docs, idCol, textCol, 2)
    val pbd = coalesce(col("ctx_c"), lit(0L)) + col("v")
    val pud = col("n") + col("v")
    val num = (coalesce(col("pair_c"), lit(0L)) + lit(1L)) * pud +
      (coalesce(col("uni_c"), lit(0L)) + lit(1L)) * pbd
    val den = lit(2L) * pbd * pud
    val scored = ap
      .join(broadcast(model.base.pairCounts), Seq("prev", "cur"), "left")
      .join(broadcast(model.base.ctxCounts), Seq("prev"), "left")
      .join(broadcast(model.uniCounts), Seq("cur"), "left")
      .crossJoin(broadcast(model.base.vocab))
      .crossJoin(broadcast(model.totals))
      .select(col("doc_id"),
        (length(bin(den)) - length(bin(num))).cast("long").as("bits"))
    perDocBits(docs, idCol, scored)
  }

  /** The Kneser-Ney artifact: the bigram tables plus the three
    * continuation statistics, ALL derived from the pair table (never a
    * second corpus pass): per-context distinct-continuation counts
    * N1+(u.) (dcont_c), per-word distinct-context counts N1+(.w)
    * (cont_c), and the one-row bigram-type total T.
    */
  final case class KneserNeyModel(base: BigramModel, contCounts: DataFrame,
      distinctCont: DataFrame, pairTypes: DataFrame)

  def trainKneserNey(train: DataFrame, textCol: String,
      baseOpt: Option[BigramModel] = None): KneserNeyModel = {
    val base = baseOpt.getOrElse(trainBigram(train, textCol))
    KneserNeyModel(base,
      base.pairCounts.groupBy(col("cur")).agg(count(lit(1)).as("cont_c")),
      base.pairCounts.groupBy(col("prev")).agg(count(lit(1)).as("dcont_c")),
      base.pairCounts.agg(count(lit(1)).as("t")))
  }

  /** Kneser-Ney smoothed scoring — THE production bigram smoothing
    * (KenLM's default; CCNet filters ship KN 5-gram models): absolute
    * discount D = 3/4 off every seen pair, the freed mass backing off
    * to the CONTINUATION unigram p_cont(w) ~ "how many distinct
    * contexts does w follow" — the fix for add-one/interpolated's
    * over-scoring of frequent-but-context-bound words ("Francisco" is
    * frequent but only ever follows "San"; KN scores it low in novel
    * contexts, where l83/l87 score it high).
    *
    * Exact integer discipline (the l47/l87 rational contract, zero
    * libm): multiply p through by 4 so D = 3/4 stays integral, and
    * add-one the continuation model so unseen words keep mass:
    *   seen context u:  num = max(4 c(uw) - 3, 0) * (T + V)
    *                        + 3 * N1+(u.) * (N1+(.w) + 1)
    *                    den = 4 c(u) * (T + V)
    *   unseen context:  num = N1+(.w) + 1,  den = T + V
    * Summed over the vocab the seen-context numerators telescope to
    * exactly den (4c(u) - 3 N1+(u.) from the discounted terms plus
    * 3 N1+(u.) from the backoff mass), so num <= den per pair and the
    * quantized surprisal bits = bitlen(den) - bitlen(num) are >= 0.
    * Same broadcast-join scoring plan as l83/l87 — the three extra
    * tables are vocab-bounded rows derived from the pair table.
    */
  def kneserNeyBits(docs: DataFrame, idCol: String, textCol: String,
      model: KneserNeyModel): DataFrame = {
    val ap = pairRows(docs, idCol, textCol, 2)
    val contDen = col("t") + col("v")
    val contNum = coalesce(col("cont_c"), lit(0L)) + lit(1L)
    val seen = col("ctx_c").isNotNull
    val num = when(seen,
      greatest(lit(4L) * coalesce(col("pair_c"), lit(0L)) - lit(3L),
        lit(0L)) * contDen + lit(3L) * col("dcont_c") * contNum)
      .otherwise(contNum)
    val den = when(seen, lit(4L) * col("ctx_c") * contDen)
      .otherwise(contDen)
    // ctx_c and dcont_c are both prev-keyed aggregates of the SAME
    // pair table (identical key sets), so they fuse into one broadcast
    // — three corpus-sized probe joins instead of four
    val prevStats = model.base.ctxCounts
      .join(model.distinctCont, Seq("prev"))
    val scored = ap
      .join(broadcast(model.base.pairCounts), Seq("prev", "cur"), "left")
      .join(broadcast(prevStats), Seq("prev"), "left")
      .join(broadcast(model.contCounts), Seq("cur"), "left")
      .crossJoin(broadcast(model.pairTypes))
      .crossJoin(broadcast(model.base.vocab))
      .select(col("doc_id"),
        (length(bin(den)) - length(bin(num))).cast("long").as("bits"))
    perDocBits(docs, idCol, scored)
  }

  /** The collected serve-time artifact (the t25 codebook-at-boot
    * discipline), with the surprisal PRECOMPUTED: per context a map of
    * known continuations to their bits, the context's unseen-
    * continuation default (num=1), and the unknown-context constant
    * bitlen(V)-1. Collected ONCE at serve start so per-document
    * scoring becomes a pure per-row fold — the shape a streaming
    * score-at-ingest needs (no joins to re-plan per micro-batch, no
    * window). The NESTED layout matters: Spark scans literal maps
    * linearly on element_at, so two vocab-sized probes beat one
    * vocab-squared probe by the vocab factor. Guarded against silently
    * collecting an unbounded table.
    */
  final case class ServeModel(pairBits: Map[String, Map[String, Int]],
      ctxDefaultBits: Map[String, Int], unseenBits: Int, v: Long)

  def collectServeModel(model: BigramModel,
      maxEntries: Int = 65536): ServeModel = {
    // matches length(bin(x)) exactly INCLUDING x=0 (bin(0) is the
    // 1-char string "0", numberOfLeadingZeros(0) is 64): a degenerate
    // empty train slice (v=0) must score 0 bits on both paths, not -1
    def bitlen(x: Long) =
      math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(x))
    val v = model.vocab.collect().head.getLong(0)
    val ctx = model.ctxCounts.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pcRows = model.pairCounts.collect()
    require(pcRows.length <= maxEntries,
      s"collectServeModel: ${pcRows.length} bigrams exceed the" +
        s" $maxEntries in-process bound — serve this model via the" +
        " broadcast-join batch path instead")
    val pair = pcRows
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (prev, rs) =>
        val den = ctx(prev) + v
        prev -> rs.map(r => r._2 -> (bitlen(den) - bitlen(r._3 + 1L))).toMap
      }
    ServeModel(pair,
      ctx.map { case (prev, c) => prev -> (bitlen(c + v) - 1) },
      bitlen(v) - 1, v)
  }

  private def pairBitsArr(serve: ServeModel, toks: Column): Column = {
    val pairLit = typedLit(serve.pairBits)
    val ctxLit = typedLit(serve.ctxDefaultBits)
    transform(tokenPairs(toks), p =>
      coalesce(
        element_at(element_at(pairLit, p.getField("prev")),
          p.getField("cur")),
        element_at(ctxLit, p.getField("prev")),
        lit(serve.unseenBits)).cast("long"))
  }

  /** ONE aggregate pass over the per-pair bits, finished by `fin` over
    * the (sum, count) accumulator. Single-pass matters twice over:
    * higher-order functions are interpreted without common-
    * subexpression elimination, so (a) referencing the pair array from
    * several output expressions re-evaluates the WHOLE fold per
    * reference, and (b) callers must hand in `toks` as a MATERIALIZED
    * column (project `tokens(text)` first, then fold over the
    * attribute) — an inlined split(text) child would be re-split by
    * every element_at inside the lambda, O(tokens²) per document.
    * T28Probe measured the two together as a 10x difference.
    */
  private[graft] def foldBits(serve: ServeModel, toks: Column,
      fin: (Column, Column) => Column): Column =
    aggregate(pairBitsArr(serve, toks),
      struct(lit(0L).as("s"), lit(0L).as("c")),
      (acc, b) => struct((acc.getField("s") + b).as("s"),
        (acc.getField("c") + lit(1L)).as("c")),
      acc => fin(acc.getField("s"), acc.getField("c")))

  /** The perplexity BAND of one document (floor bits-per-token; NULL
    * under 2 tokens) as a single scalar column — the band-census serve
    * shape (t28): one fold, one output, no struct extraction.
    */
  def surprisalBandLocal(serve: ServeModel, toks: Column): Column =
    foldBits(serve, toks, (s, c) =>
      when(c > 0, floor(s.cast("double") / c).cast("long")))

  /** The collected backoff artifact. Unlike the pure-bigram
    * `ServeModel`, the surprisal of an (unseen-pair, seen-cur) event
    * depends on BOTH the context and the continuation, so bits cannot
    * be fully precomputed — the serve fold carries the count maps and
    * does the rational arithmetic per pair (the fold itself is the
    * cheap part once single-pass over a materialized token column).
    */
  final case class BackoffServeModel(pairC: Map[String, Map[String, Long]],
      ctxC: Map[String, Long], uniC: Map[String, Long], n: Long, v: Long)

  def collectBackoffServeModel(model: BackoffModel,
      maxEntries: Int = 65536): BackoffServeModel = {
    val pcRows = model.base.pairCounts.collect()
    require(pcRows.length <= maxEntries,
      s"collectBackoffServeModel: ${pcRows.length} bigrams exceed the" +
        s" $maxEntries in-process bound — serve via the broadcast-join" +
        " batch path instead")
    BackoffServeModel(
      pcRows.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (p, rs) => p -> rs.map(r => r._2 -> r._3).toMap },
      model.base.ctxCounts.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap,
      model.uniCounts.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap,
      model.totals.collect().head.getLong(0),
      model.base.vocab.collect().head.getLong(0))
  }

  /** Per-row interpolated band (t31's serve shape): same exact BIGINT
    * rational as `backoffBits`, computed in one fold per document.
    */
  def backoffBandLocal(serve: BackoffServeModel, toks: Column): Column = {
    val pairLit = typedLit(serve.pairC)
    val ctxLit = typedLit(serve.ctxC)
    val uniLit = typedLit(serve.uniC)
    val pairBits = transform(tokenPairs(toks), p => {
      val pbd = coalesce(element_at(ctxLit, p.getField("prev")), lit(0L)) +
        lit(serve.v)
      val pud = lit(serve.n + serve.v)
      val num = (coalesce(element_at(element_at(pairLit,
          p.getField("prev")), p.getField("cur")), lit(0L)) + lit(1L)) *
        pud +
        (coalesce(element_at(uniLit, p.getField("cur")), lit(0L)) +
          lit(1L)) * pbd
      (length(bin(lit(2L) * pbd * pud)) - length(bin(num))).cast("long")
    })
    aggregate(pairBits,
      struct(lit(0L).as("s"), lit(0L).as("c")),
      (acc, b) => struct((acc.getField("s") + b).as("s"),
        (acc.getField("c") + lit(1L)).as("c")),
      acc => {
        val (s, c) = (acc.getField("s"), acc.getField("c"))
        when(c > 0, floor(s.cast("double") / c).cast("long"))
      })
  }
}
