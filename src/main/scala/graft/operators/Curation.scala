package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one-command curation run — the LLM-pipeline equivalent of the
  * reference's single `migrate()` entry point (index.js:160-176 runs the
  * whole collection sweep off one call and reports a per-collection
  * ledger): chain scrub -> exact dedup -> containment dedup -> split ->
  * shard pack over a raw document corpus and return the per-stage
  * funnel ledger a production run is judged by.
  *
  * Every stage is one of the library's existing operators; this object
  * owns only the composition and the ledger. Stage semantics:
  *
  *   1_scrub                strip URLs/emails, collapse whitespace
  *                          (`TextAnalysis.cleanText`); documents whose
  *                          cleaned text is EMPTY (all-boilerplate) drop.
  *   2_dedup_exact          one keeper (min id) per identical cleaned
  *                          text, grouped on the SHA-256 digest — the
  *                          32-byte-shuffle-key scale shape (l17/l53).
  *   3_dedup_containment    drop a document contained (C >= threshold,
  *                          `Dedup.containmentPairs`) in a LARGER
  *                          surviving-stage-2 document (more shingles;
  *                          equal size ties keep the smaller id) — the
  *                          short-quoted-in-long class exact dedup
  *                          cannot see. DEFAULTS to the df-capped
  *                          candidate path (`containmentPairsCapped`,
  *                          the 100 TB shape) — an APPROXIMATION whose
  *                          recall is bounded by the l54 gate, not an
  *                          exact guarantee: a containment that
  *                          overlaps ONLY through shingles hotter than
  *                          `dfCap` is invisible to it (recall vs the
  *                          exact twin measures 1.000 at every fixture
  *                          sf, but that is a measurement, not a
  *                          contract). For oracle/verification use,
  *                          pass `exactContainment = true` — the
  *                          quadratic exact variant with the same
  *                          output contract.
  *   4_split_{train,val,test} deterministic content-hash split
  *                          (`TextAnalysis.hashSplit`, keep-all rate).
  *   5_pack                 token-budget shard packing
  *                          (`TextAnalysis.shardPack`); n_out is the
  *                          shard count.
  *
  * Ledger schema: (stage, n_in, n_out) — n_in of each stage is n_out of
  * the previous, so the funnel reads top-to-bottom like the reference's
  * per-collection report.
  *
  * Scale notes: the ledger assembles four one-row scalar aggregates with
  * 1-row broadcast cross-joins (the l47/l48 scalar-attach pattern). The
  * stage-1, stage-2 and stage-3 survivor frames each feed multiple
  * consumers (the ledger counts, the containment join, the size tables,
  * the anti-join, split, pack), so all three are localCheckpoint'ed —
  * the regex scrub, the digest aggregate and the shingle self-join run
  * ONCE, not once per consumer; n0 is a raw-row count that touches no
  * text. Storage is the cleaned/post-dedup (id, text) slivers and is
  * reclaimed on GC.
  */
object Curation {

  def curationRun(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, trainPct: Int = 80, valPct: Int = 10,
      shardTokens: Long = 2048L, exactContainment: Boolean = false,
      dfCap: Int = 64): DataFrame = {
    def phase[A](name: String)(body: => A): A =
      graft.Trace.span(docs.sparkSession, "curation", name)(body)
    val cleaned = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.cleanText(col(textCol)).as("text"))
    // The 3-regex scrub is the most text-heavy scan in the run and
    // feeds both stage 2 and the ledger; checkpointing s1 makes it run
    // ONCE (n0 below is a raw-row count that needs no scrub at all).
    val s1 = phase("scrub")(cleaned.where(length(col("text")) > 0)
      .localCheckpoint(eager = true))
    // Identical digest implies identical text (a collision needs a
    // SHA-256 break), so first() over the group's texts is
    // value-deterministic.
    val s2 = phase("dedup_exact")(
      s1.groupBy(sha2(col("text"), 256).as("__dig"))
        .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
        .drop("__dig")
        .localCheckpoint(eager = true))
    // One posting table feeds the containment join AND both size lookups
    // (docs with < k tokens have no postings, but they also can never
    // appear in a pair, so the inner size joins below stay complete).
    val postings = graft.Trace.span(docs.sparkSession, "containment",
      "postings")(Dedup.containmentPostings(s2, "doc_id", "text")
        .localCheckpoint(eager = true))
    val pairs =
      if (exactContainment)
        Dedup.containmentPairsFromPostings(postings, threshold)
      else
        Dedup.containmentPairsCappedFromPostings(postings, threshold, dfCap)
    val sizes = postings.groupBy(col("doc_id")).agg(max(col("n")).as("__n"))
    val szA = sizes.select(col("doc_id").as("a_id"), col("__n").as("__na"))
    val szB = sizes.select(col("doc_id").as("b_id"), col("__n").as("__nb"))
    val drops = pairs.join(szA, Seq("a_id")).join(szB, Seq("b_id"))
      .where(col("__nb") > col("__na") ||
        (col("__nb") === col("__na") && col("b_id") < col("a_id")))
      .select(col("a_id").as("doc_id")).distinct()
    val s3 = s2.join(drops, Seq("doc_id"), "left_anti")

    // Split and pack both reduce to functions of the SAME (doc_id,
    // n_tok, fp) projection — tokenize + rolling-hash the stage-3
    // survivors ONCE and feed both stages from the checkpointed sliver
    // (split is a fingerprint bucket, pack a prefix-sum over n_tok), so
    // the run's last text-heavy scan runs once, not per aggregate.
    // s3 itself is consumed only here, so the projection is the thing
    // worth materializing.
    val keys = phase("dedup_containment")(
      TextAnalysis.packKeys(s3, "doc_id", "text")
        .localCheckpoint(eager = true))

    val scrubAgg = docs.agg(count(lit(1)).as("n0"))
      .crossJoin(s1.agg(count(lit(1)).as("n1")))
    val dedupAgg = s2.agg(count(lit(1)).as("n2"))
    val splitAgg = keys
      .select(TextAnalysis.splitLabel(col("fp"), trainPct, valPct).as("split"))
      .agg(count(lit(1)).as("n3"),
        count(when(col("split") === "train", 1)).as("n_train"),
        count(when(col("split") === "val", 1)).as("n_val"),
        count(when(col("split") === "test", 1)).as("n_test"))
    val packAgg = TextAnalysis.shardPackFromKeys(keys, shardTokens)
      .agg(countDistinct(col("shard")).as("n_shards"))

    def row(stage: String, nIn: Column, nOut: Column) =
      struct(lit(stage).as("stage"), nIn.as("n_in"), nOut.as("n_out"))
    scrubAgg.crossJoin(dedupAgg).crossJoin(splitAgg).crossJoin(packAgg)
      .select(explode(array(
        row("1_scrub", col("n0"), col("n1")),
        row("2_dedup_exact", col("n1"), col("n2")),
        row("3_dedup_containment", col("n2"), col("n3")),
        row("4_split_train", col("n3"), col("n_train")),
        row("4_split_val", col("n3"), col("n_val")),
        row("4_split_test", col("n3"), col("n_test")),
        row("5_pack", col("n3"), col("n_shards")))).as("r"))
      .select(col("r.*"))
  }

  /** The one-command corpus DATA CARD — the standing ops report a
    * 100 TB corpus run ships with its output: one typed
    * (section, metric, value) frame covering corpus mass, exact-dup
    * structure, language/source composition, quality flags and the
    * shard-packing forecast. Every value is a BIGINT (pure integer
    * arithmetic end to end), so the card hash-matches the oracle.
    *
    * Scale contract: documents are read ONCE into a NARROW per-doc
    * frame (id, lang, source, counts, digest — never the text), which
    * is localCheckpoint'ed and feeds every section; each section is a
    * tiny aggregate over that frame (the l55 shared-scan pattern), so
    * the card costs one corpus scan + a handful of checkpoint-sized
    * aggregates. DataCardSpec plan-probes that no section replans the
    * parquet scan.
    */
  def dataCard(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, sourceCol: String, shardTokens: Long = 4096L,
      shortDocTokens: Int = 32): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    val perDoc = docs.select(
        col(idCol).as("doc_id"),
        col(langCol).as("lang"),
        col(sourceCol).as("source"),
        length(col(textCol)).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        sha2(col(textCol), 256).as("digest"))
      .localCheckpoint(eager = true)

    def rows(section: String, metrics: (String, Column)*)(src: DataFrame) =
      src.select(explode(array(metrics.map { case (m, v) =>
          struct(lit(m).as("metric"), v.cast("long").as("value"))
        }: _*)).as("r"))
        .select(lit(section).as("section"), col("r.metric"), col("r.value"))

    val corpus = rows("corpus",
      "n_docs" -> col("a"), "n_tokens" -> col("b"), "n_chars" -> col("c"))(
      perDoc.agg(count(lit(1)).as("a"), sum(col("n_tokens")).as("b"),
        sum(col("n_chars")).as("c")))
    // per-digest copy counts: identical text => identical token count,
    // so the duplicated token mass is sum (copies-1) * tokens
    val dedup = rows("dedup",
      "n_unique_digests" -> col("a"), "n_dup_docs" -> col("b"),
      "dup_token_mass" -> col("c"))(
      perDoc.groupBy(col("digest"))
        .agg(count(lit(1)).as("cnt"), max(col("n_tokens")).as("tok"))
        .agg(count(lit(1)).as("a"), sum(col("cnt") - 1).as("b"),
          sum((col("cnt") - 1) * col("tok")).as("c")))
    val byLang = perDoc.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .select(lit("lang").as("section"), col("lang").as("metric"),
        col("n").cast("long").as("value"))
    val bySource = perDoc.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .select(lit("source").as("section"), col("source").as("metric"),
        col("n").cast("long").as("value"))
    val quality = rows("quality",
      "n_short_docs" -> col("a"), "repeated_token_mass" -> col("b"))(
      perDoc.agg(
        count(when(col("n_tokens") < shortDocTokens, 1)).as("a"),
        sum(col("n_tokens") - col("n_distinct")).as("b")))
    val pack = rows("pack",
      s"n_shards_$shardTokens" ->
        expr(s"(b + ${shardTokens - 1}) div $shardTokens"))(
      perDoc.agg(sum(col("n_tokens")).as("b")))
    corpus.unionByName(dedup).unionByName(byLang).unionByName(bySource)
      .unionByName(quality).unionByName(pack)
  }

  /** Token-budget waterfill across sources — the mixture PLANNER the
    * sampling executors (temperature resampling, stratified quotas)
    * run downstream of: rank every source by its clean-token rate
    * (clean = not flagged by the dedup labeling pass the caller hands
    * in — the standing NbModelStore/winnowing artifact), then walk the
    * ranking pouring the token budget: each source contributes
    * min(its clean tokens, what remains), so the best sources are
    * taken whole, one marginal source is taken partially, and the
    * tail gets zero. All arithmetic is BIGINT (the clean rate is held
    * in basis points — clean_toks*10000 div total_toks — with the
    * (rate desc, source asc) tie-break), so the plan frame is
    * hash-exact.
    *
    * 100 TB shape: ONE per-source token aggregate over the corpus
    * (the labels frame joins broadcast — it is dup-bounded); the
    * waterfill itself is a cumulative window over O(sources) rows —
    * planning cost is independent of corpus size, which is the point
    * of planning before sampling.
    */
  def budgetWaterfill(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, labeled: DataFrame,
      budgetNum: Int = 3, budgetDen: Int = 5): DataFrame = {
    require(budgetNum >= 0 && budgetDen >= 1, "need a valid budget ratio")
    import org.apache.spark.sql.expressions.Window
    val perSource = docs
      .select(col(sourceCol).as("source"),
        size(graft.functions.TextFunctions.tokens(col(textCol)))
          .cast("long").as("n_toks"),
        col(idCol).as("doc_id"))
      .join(broadcast(labeled.select(col("doc_id"), col("is_dup"))),
        Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(sum(col("n_toks")).as("total_toks"),
        sum(when(col("is_dup").isNull, col("n_toks")).otherwise(lit(0L)))
          .as("clean_toks"))
      .select(col("source"), col("total_toks"), col("clean_toks"),
        expr("clean_toks * 10000 div greatest(total_toks, 1)")
          .as("clean_bp"))
    val rankW = Window.orderBy(col("clean_bp").desc, col("source"))
    val ranked = perSource
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .withColumn("cum_before",
        coalesce(sum(col("clean_toks")).over(
          rankW.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // budget = floor(total_clean * num / den), attached as a one-row
    // broadcast so the plan stays a single pass over the source rows
    val budget = perSource.agg(
      expr(s"sum(clean_toks) * $budgetNum div $budgetDen").as("budget"))
    ranked.crossJoin(broadcast(budget))
      .select(col("source"), col("rank"), col("total_toks"),
        col("clean_toks"), col("clean_bp"),
        greatest(lit(0L),
          least(col("clean_toks"), col("budget") - col("cum_before")))
          .as("toks_taken"))
      .withColumn("take_state",
        when(col("toks_taken") === col("clean_toks"), lit("full"))
          .when(col("toks_taken") === 0L, lit("none"))
          .otherwise(lit("partial")))
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining") — the FAIRNESS-based mixture planner next to
    * `budgetWaterfill`'s quality-greedy pour: spread the token budget
    * as uniformly as possible across sources, except no source repeats
    * more than `epochCap` epochs — small sources are capped at
    * epochCap x their capacity (the anti-oversampling rule), everyone
    * else sits at a common water level.
    *
    * Exact integer construction: sort sources by cap = epochCap*c_toks
    * ascending (source-name tie-break); a source is CAPPED iff
    * cap_i * (L - rank_i + 1) <= budget - capPrefix_{i-1} — the flag is
    * prefix-closed under the ascending sort (if a cap fits under the
    * waterline, every smaller cap did), so k = count(capped) and the
    * level is ONE floor division share = (budget - sum capped caps) div
    * (L - k). alloc = cap for capped sources, share for the rest; the
    * <= L-1-token floor remainder is deliberately left unallocated.
    * Everything is BIGINT, so the plan frame is hash-exact.
    *
    * 100 TB shape: ONE per-source token aggregate over the corpus; the
    * sort/flag/level arithmetic runs over O(sources) rows with two
    * one-row scalar attaches (budget+count, waterline) — planning cost
    * independent of corpus size, the l92 discipline.
    */
  def unimaxAllocate(docs: DataFrame, textCol: String, sourceCol: String,
      epochCap: Int = 1, budgetBp: Int = 9000): DataFrame = {
    require(epochCap >= 1 && budgetBp >= 0, "need epochCap>=1, budgetBp>=0")
    import org.apache.spark.sql.expressions.Window
    val perSource = docs
      .select(col(sourceCol).as("source"),
        size(graft.functions.TextFunctions.tokens(col(textCol)))
          .cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(sum(col("n_toks")).as("c_toks"))
      .select(col("source"), col("c_toks"),
        (col("c_toks") * epochCap).as("cap"))
    val tot = perSource.agg(
      expr(s"sum(c_toks) * $budgetBp div 10000").as("budget"),
      count(lit(1)).as("n_src"))
    val w = Window.orderBy(col("cap").asc, col("source"))
    // the flagged frame feeds the waterline aggregate AND the final
    // projection — checkpoint the O(sources) rows
    val flagged = perSource.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cap_before", coalesce(sum(col("cap")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("capped",
        col("cap") * (col("n_src") - col("rank") + 1L) <=
          col("budget") - col("cap_before"))
      .localCheckpoint(eager = false)
    val lvl = flagged.agg(
        coalesce(sum(when(col("capped"), 1L)), lit(0L)).as("k"),
        coalesce(sum(when(col("capped"), col("cap"))), lit(0L)).as("cap_k"),
        max(col("budget")).as("b"), max(col("n_src")).as("l"))
      .select(when(col("l") > col("k"),
        expr("(b - cap_k) div (l - k)")).otherwise(lit(0L)).as("share"))
    flagged.crossJoin(broadcast(lvl))
      .select(col("source"), col("c_toks"), col("cap"),
        when(col("capped"), col("cap")).otherwise(col("share"))
          .as("alloc"),
        when(col("capped"), lit("capped")).otherwise(lit("level"))
          .as("state"))
      .withColumn("epochs_bp",
        expr("(10000 * alloc) div greatest(c_toks, 1)"))
      .select(col("source"), col("c_toks"), col("cap"), col("alloc"),
        col("epochs_bp"), col("state"))
  }

  /** The collected UniMax serve artifact (the t25 codebook-at-boot
    * discipline): per-source ADMISSION RATES in basis points, which at
    * epochCap = 1 are exactly the plan's effective-epoch fractions —
    * capped sources pass whole (10000), level sources at
    * alloc/capacity. Only the single-epoch plan is realizable as a
    * one-pass admission filter (a multi-epoch allocation needs a
    * repeating sampler, not an ingest gate), hence the require.
    * Returns Doremi's MixtureServeModel so the same `admitLocal`
    * per-row decision serves both planners.
    */
  def collectUnimaxRates(docs: DataFrame, textCol: String,
      sourceCol: String, budgetBp: Int = 9000,
      maxEntries: Int = 65536): Doremi.MixtureServeModel = {
    val rows = unimaxAllocate(docs, textCol, sourceCol, epochCap = 1,
        budgetBp = budgetBp)
      .select(col("source"), col("epochs_bp")).collect()
    require(rows.length <= maxEntries,
      s"collectUnimaxRates: ${rows.length} sources exceed the" +
        s" $maxEntries in-process bound")
    Doremi.MixtureServeModel(
      rows.map(r => r.getString(0) -> math.min(r.getLong(1), 10000L))
        .toMap)
  }
}
