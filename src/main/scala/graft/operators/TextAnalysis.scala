package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions

/** Text analysis for training-data curation: language ID (marker-word
  * n-gram heuristic), quality scoring (length/punctuation/stopword
  * ratios), token counting (whitespace + BPE-ish regex), and rolling-hash
  * fingerprinting.
  *
  * Everything is per-row scalar column arithmetic — fully codegen'd, no
  * shuffle, trivially scalable; and every formula is mirror-expressible in
  * ANSI SQL for the DuckDB oracle (no libm transcendentals).
  */
object TextAnalysis {

  private def hits(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Marker-word counts per language. Kept deliberately simple and
    * SQL-mirrorable; a production language ID would use char n-gram
    * profiles, but the *shape* (per-row scalar scoring) is identical.
    */
  def langMarkerCounts(text: Column): Seq[(String, Column)] = Seq(
    "en" -> hits(text, "\\b(the|and|of|is)\\b"),
    "de" -> hits(text, "\\b(der|die|das|und)\\b"),
    "es" -> hits(text, "\\b(el|los|las|que)\\b"),
    "fr" -> hits(text, "\\b(le|les|et|est)\\b"))

  /** Predicted language: CJK codepoint presence wins, else the marker
    * language with the highest count (priority order en>de>es>fr on ties),
    * else 'unknown'.
    */
  def langId(text: Column): Column = {
    val counts = langMarkerCounts(text).toMap
    val (en, de, es, fr) = (counts("en"), counts("de"), counts("es"), counts("fr"))
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
      .when(en > 0 && en >= de && en >= es && en >= fr, "en")
      .when(de > 0 && de >= es && de >= fr, "de")
      .when(es > 0 && es >= fr, "es")
      .when(fr > 0, "fr")
      .otherwise("unknown")
  }

  /** Quality features + a composite score in [0, ~1.5] (pure +,*,/ — no
    * transcendentals, oracle-exact).
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nTokens = size(TextFunctions.tokens(t))
    val nChars = length(t)
    val noSpace = length(regexp_replace(t, " ", ""))
    val punct = nChars - length(regexp_replace(t, "[.,;:!?]", ""))
    val stop = hits(t, "\\b(the|a|of|and|is)\\b")
    df.withColumn("n_tokens", nTokens)
      .withColumn("n_chars_m", nChars)
      .withColumn("avg_token_len", noSpace.cast("double") / nTokens)
      .withColumn("punct_ratio", punct.cast("double") / nChars)
      .withColumn("stopword_ratio", stop.cast("double") / nTokens)
      .withColumn("quality_score",
        (lit(1.0) - col("punct_ratio")) *
          (lit(0.5) + col("stopword_ratio")) *
          when(nTokens >= 5, lit(1.0)).otherwise(lit(0.25)))
  }

  /** Whitespace vs BPE-ish regex token counts (letter runs, digit runs,
    * single punctuation — the usual pre-tokenizer split shape).
    */
  def tokenStats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("ws_tokens", size(TextFunctions.tokens(t)))
      .withColumn("bpe_tokens",
        size(regexp_extract_all(lower(t), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))))
      .withColumn("n_chars_m", length(t))
      .withColumn("n_bytes", octet_length(t))
  }

  /** Rolling-hash document fingerprint (codegen'd Catalyst expression). */
  def fingerprint(text: Column): Column = TextFunctions.rollingHash(text)

  /** Per-document salient terms: top-k tokens by a TF-IDF-style score
    * tf * N / df. The idf is the RATIONAL N/df rather than ln(N/df) so the
    * score stays inside the oracle determinism contract (no libm); a
    * production deployment can swap `ln` in — the plan shape (and the
    * [doc, token]-grouped ranking) is identical.
    *
    * 100 TB shape: tokens explode narrowly; tf is one (doc, token) hash
    * aggregate; df re-aggregates tf's (already-deduplicated) output by
    * token — no second pass over raw tokens; N is a metadata-served count;
    * the tf-df equi-join shuffles on token (a skewed-key candidate —
    * `Skew.saltedJoin` is the lever if one stopword dominates); the final
    * per-doc top-k is a bounded window.
    */
  /** Boilerplate scrub for curation: strip URLs and emails, collapse
    * whitespace runs, trim. Per-row regexp_replace chain — codegen'd,
    * shuffle-free, and each pattern is ANSI-regex so the oracle replays
    * it verbatim. Production pipelines append their own patterns; the
    * chain shape (and cost: one pass per pattern) is the real content.
    */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(text, "https?://\\S+", ""),
        "\\S+@\\S+", ""),
      "\\s+", " "))

  /** PII patterns, applied in this order: (type, regex, placeholder).
    * Each pattern is both Java-regex and RE2 compatible (ASCII classes,
    * \b, bounded quantifiers only) so the oracle replays the exact
    * chain. The chain is SEQUENTIAL — each type is counted on the text
    * as left by the previous redaction — so overlapping matches can
    * never be double-counted, whichever engine runs it.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"))

  /** PII redaction with a typed census — the curation step every
    * training corpus runs before anything else sees the text: emails,
    * IPv4 addresses and phone numbers are replaced by placeholder
    * tokens, and the per-document counts ship with the cleaned text so
    * a downstream audit can aggregate redaction volume per source
    * without re-scanning. Unlike `cleanText` (which DELETES boilerplate)
    * this PRESERVES document shape — the placeholder keeps token
    * positions stable for chunking/packing downstream.
    *
    * Per-row regexp chain: codegen'd, shuffle-free, linear in bytes —
    * the 100 TB cost is exactly one text pass per pattern.
    */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val redacted = piiPatterns.foldLeft(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))) {
      case (df, (name, pattern, placeholder)) =>
        df.withColumn(s"n_$name",
            size(regexp_extract_all(col("__t"), lit(pattern), lit(0)))
              .cast("long"))
          .withColumn("__t", regexp_replace(col("__t"), pattern, placeholder))
    }
    redacted.select(col("doc_id") +: col("__t").as("text_clean") +:
      piiPatterns.map { case (name, _, _) => col(s"n_$name") }: _*)
  }

  /** Deterministic content-hash train/val/test split plus mixture
    * sampling — the reproducibility workhorses of a training-data
    * pipeline: the assignment depends only on the DOCUMENT CONTENT
    * (rolling-hash fingerprint), so re-runs, re-shards, and re-ingests
    * land every document in the same split, and near-dup copies of a
    * leaked eval document land in the same split as the original.
    * `keepRate` (percent, 0-100) is evaluated per row — pass a CASE over
    * the source column for mixture weighting. Split uses fp%100, the
    * keep decision (fp/100)%100 — decorrelated hash windows. Per-row
    * arithmetic only: shuffle-free, codegen'd, oracle-exact.
    */
  /** Temperature (alpha = 0.5) mixture resampling — the multilingual-
    * corpus rebalancer from the public multilingual-pretraining recipes
    * (exponentiated source shares: sampling weight q_s proportional to
    * p_s^alpha, so head languages are downsampled and tail languages
    * upsampled relative to their natural share): per-group keep rate
    * r_s = min(1, budget * q_s / n_s) with q_s = sqrt(n_s) / sum_t
    * sqrt(n_t) — alpha is FIXED at 0.5 because sqrt is IEEE-exact while
    * a general pow is libm (the oracle determinism contract; a
    * production fork swaps pow in, identical plan). The keep decision
    * per document is content-hash based (`rollingHash`, the hashSplit
    * convention, basis-point window (fp div 100) % 10000 vs the rate),
    * so re-runs and re-shards keep exactly the same documents.
    *
    * Returns the per-group ledger (group, n_docs, rate_bp, n_kept) —
    * all integers, hash-stable. NULL-text documents count in n_docs but
    * are never kept (their hash is NULL) on either engine.
    *
    * Determinism note: sum_t sqrt(n_t) is a SEQUENTIAL fold over the
    * group census sorted by group (collect + sort_array + aggregate, the
    * l65 pattern) — a shuffled double sum would be order-nondeterministic
    * and could flip floor() at a basis-point boundary between engines.
    *
    * 100 TB shape: the census is one map-side-combined aggregate over
    * |groups| cells; the fold and the rate table are |groups|-sized and
    * broadcast; the keep pass is one narrow codegen'd scan. Nothing
    * shuffles wider than the group count.
    */
  /** Just the per-group rate table (group, n_docs, rate_bp) — the piece
    * a STANDING pipeline computes once from the corpus census and then
    * applies to every batch or stream (t20 joins it stream-static); see
    * `temperatureResample` for the formula and determinism contract.
    */
  def temperatureRates(docs: DataFrame, groupCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val perGrp = docs.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_docs"))
    val sumw = perGrp
      .agg(sort_array(collect_list(struct(col("group"), col("n_docs"))))
        .as("l"))
      .select(aggregate(col("l"), lit(0.0),
        (acc, x) => acc + sqrt(x.getField("n_docs").cast("double")))
        .as("sumw"))
    perGrp.crossJoin(broadcast(sumw))
      .select(col("group"), col("n_docs"),
        least(lit(10000L),
          floor(lit(budget).cast("double")
            * sqrt(col("n_docs").cast("double")) * lit(10000.0)
            / (col("sumw") * col("n_docs").cast("double"))).cast("long"))
          .as("rate_bp"))
  }

  def temperatureResample(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, budget: Long): DataFrame = {
    val rates = temperatureRates(docs, groupCol, budget)
    val kept = docs
      .select(col(groupCol).as("group"),
        TextFunctions.rollingHash(col(textCol)).as("__fp"))
      .join(broadcast(rates.select(col("group"), col("rate_bp"))),
        Seq("group"))
      .where(expr("__fp div 100") % 10000 < col("rate_bp"))
      .groupBy(col("group")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("group"), "left")
      .select(col("group"), col("n_docs"), col("rate_bp"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** The split rule applied to an already-computed content fingerprint —
    * single owner of the percent-bucket mapping so `hashSplit` and any
    * composition that shares the fingerprint scan (curationRun's one-pass
    * split+pack ledger) cannot drift apart.
    */
  def splitLabel(fp: Column, trainPct: Int, valPct: Int): Column = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      "split percentages must fit in [0, 100]")
    when(fp % 100 < trainPct, "train")
      .when(fp % 100 < trainPct + valPct, "val")
      .otherwise("test")
  }

  def hashSplit(docs: DataFrame, idCol: String, textCol: String,
      trainPct: Int, valPct: Int, keepRate: Column): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        TextFunctions.rollingHash(col(textCol)).as("__fp"),
        keepRate.as("__rate"))
      .select(col("doc_id"),
        splitLabel(col("__fp"), trainPct, valPct).as("split"),
        (expr("__fp div 100") % 100 < col("__rate")).as("kept"))

  /** Vocabulary drift between two corpus snapshots — the token-level
    * companion of `Dedup.corpusDiff`'s doc-level report: per token its
    * document frequency in each snapshot, returning the top-k by
    * absolute df change (tie-broken on the token). The standing-ingest
    * monitor for topic/spam shifts: a crawl suddenly dominated by one
    * template shows up here before any quality score moves.
    *
    * Scale: one narrow explode of per-doc DISTINCT tokens per side, two
    * map-side-combined df aggregates shuffled on token, one full-outer
    * token join (bucketable in a standing pipeline), and a
    * TakeOrdered(k) — never a full vocab sort.
    */
  def vocabDrift(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    def dfreq(docs: DataFrame, out: String) = docs
      .where(col(textCol).isNotNull)
      .select(col(idCol),
        explode(array_distinct(TextFunctions.tokens(col(textCol))))
          .as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as(out))
    dfreq(oldDocs, "df_old")
      .join(dfreq(newDocs, "df_new"), Seq("tok"), "full_outer")
      .select(col("tok"), coalesce(col("df_old"), lit(0L)).as("df_old"),
        coalesce(col("df_new"), lit(0L)).as("df_new"))
      .where(col("df_new") =!= col("df_old"))
      .withColumn("drift", abs(col("df_new") - col("df_old")))
      .orderBy(col("drift").desc, col("tok"))
      .limit(k)
  }

  /** Exact-quota stratified sample: per stratum keep EXACTLY
    * min(quota, n) docs — the smallest (fingerprint, doc_id) pairs, so
    * re-runs keep the SAME docs and a grown stratum perturbs the
    * selection minimally (a new doc swaps in only by displacing the
    * current quota-th pair). Complements `temperatureResample`, which is
    * RATE-based (expected counts): quota sampling is what a mixture spec
    * with hard per-source caps ("at most 10k docs from any one domain")
    * actually needs.
    *
    * Scale rationale: the textbook formulation —
    * `row_number().over(partitionBy(stratum).orderBy(fp, id)) <= quota`
    * — shuffles and sorts EVERY row of every stratum. This uses the
    * bounded `GroupedTopK` aggregator instead: each map partition
    * reduces to at most `quota` pairs per stratum before the shuffle, so
    * the exchanged data is O(strata * quota) regardless of corpus size.
    * fp < 2^30 and the negated (fp, id) pair order the aggregator's
    * descending top-k into an ascending bottom-k losslessly.
    */
  def quotaSample(docs: DataFrame, idCol: String, textCol: String,
      stratumCol: String, quota: Int): DataFrame = {
    require(quota > 0, "quota must be positive")
    docs.select(col(stratumCol).as("stratum"), col(idCol).as("doc_id"),
        TextFunctions.rollingHash(col(textCol)).as("fp"))
      // null text never sampled (it has no fingerprint) — same contract
      // as temperatureResample; GroupedTopK refuses a null fp loudly.
      .where(col("fp").isNotNull)
      .groupBy(col("stratum"))
      .agg(GroupedTopK.topK(quota)(-col("fp").cast("double"), -col("doc_id"))
        .as("picked"))
      .select(col("stratum"), explode(col("picked")).as("p"))
      .select(col("stratum"), (-col("p._2")).as("doc_id"),
        (-col("p._1")).cast("long").as("fp"))
  }

  /** Fixed token-window chunking with overlap (context-window packing
    * prep): chunk i covers tokens [i*stride, i*stride+window); starts
    * enumerate while start < n_tokens. One narrow generate per row — no
    * shuffle; emits (doc_id, n_tok, start_tok, chunk_idx, chunk_tokens).
    */
  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 32, stride: Int = 24): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    docs.select(col(idCol).as("doc_id"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tok"))
      .where(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), col("n_tok") - 1, lit(stride.toLong)))
          .as("start_tok"))
      .select(col("doc_id"), col("n_tok"), col("start_tok"),
        expr(s"start_tok div $stride").as("chunk_idx"),
        least(lit(window.toLong), col("n_tok") - col("start_tok"))
          .as("chunk_tokens"))
  }

  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfreq, "tok").crossJoin(n)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        (col("tf").cast("double") * col("__n") / col("df")).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
  }

  /** Repetition signals (the Gopher/MassiveText-style filters adapted to
    * the newline-less fixture text): per document, the distinct-token
    * ratio, the most-frequent token's mass fraction, and the
    * most-frequent bigram's mass fraction. High top-fraction = the
    * degenerate repeated-boilerplate documents curation drops first.
    *
    * 100 TB shape: wordcount-shaped — tokens explode narrowly, the
    * (doc, gram) count is a map-side-combined hash aggregate, the
    * per-doc top pick is a doc_id-partitioned window (bounded by a
    * document's vocabulary), and the final joins are on doc_id. Ties on
    * count break to the lexicographically smallest gram on both engines.
    */
  def repetitionSignals(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
    def topOf(grams: DataFrame): DataFrame = {
      // grams: (doc_id, g); -> (doc_id, top_c) with smallest-gram tie-break
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("c").desc, col("g"))
      grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select(col("doc_id"), col("c"))
    }
    val uni = base.select(col("doc_id"), explode(col("t")).as("g"))
    val nDistinct = uni.groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_distinct"))
    val topUni = topOf(uni).withColumnRenamed("c", "top_tok_c")
    val bi = base.where(col("n_tokens") >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, cast(n_tokens as int) - 1)," +
          " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .as("g"))
    val topBi = topOf(bi).withColumnRenamed("c", "top_bi_c")
    base.select(col("doc_id"), col("n_tokens"))
      .join(nDistinct, "doc_id").join(topUni, "doc_id")
      .join(topBi, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_tokens"))
          .as("distinct_ratio"),
        (col("top_tok_c").cast("double") / col("n_tokens"))
          .as("top_token_fraction"),
        coalesce(col("top_bi_c").cast("double") / (col("n_tokens") - 1),
          lit(0.0)).as("top_bigram_fraction"))
  }

  /** Pack documents into fixed-token-budget training shards in a
    * deterministic content-hash pseudo-shuffle order: shard i holds the
    * docs whose running token total lands in [i*budget, (i+1)*budget).
    * Re-runs (and re-ingests of the same corpus) reproduce the exact
    * same shard layout — the property distributed training resumption
    * needs.
    *
    * 100 TB shape: a global ordered prefix-sum done the scalable way —
    * range-partition by the order key, per-partition local cumsum
    * (window partitioned by the range id), then one tiny P-row offset
    * window broadcast back. No single-partition window over the data,
    * no driver-side rows; the two shuffles are both on the order key.
    */
  /** The (doc_id, n_tok, fp) projection both `shardPack` and the split
    * rule consume — the ONE text-heavy scan (tokenize + rolling hash) of
    * a split+pack run. Callers that need both (curationRun's ledger)
    * checkpoint this once and feed it to `splitLabel` and
    * `shardPackFromKeys` instead of scanning the corpus per stage.
    */
  def packKeys(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tok"),
      TextFunctions.rollingHash(col(textCol)).as("fp"))

  def shardPack(docs: DataFrame, idCol: String, textCol: String,
      shardTokens: Long, nRanges: Int = 32): DataFrame =
    // Materialize the 3-column projection BEFORE range partitioning:
    // RangePartitioner samples its child to pick boundaries, which would
    // otherwise re-run tokenization + the rolling hash over the corpus a
    // second time. The checkpointed projection is (id, long, long) —
    // a sliver of the input — and its storage is reclaimed on GC.
    shardPackFromKeys(
      packKeys(docs, idCol, textCol).localCheckpoint(eager = true),
      shardTokens, nRanges)

  /** `shardPack` on a precomputed (doc_id, n_tok, fp) frame — `keys`
    * must already be materialized (checkpoint/table) so the range
    * partitioner's boundary sampling does not re-run the scan.
    */
  def shardPackFromKeys(keys: DataFrame, shardTokens: Long,
      nRanges: Int = 32): DataFrame = {
    require(shardTokens > 0, "shardTokens must be positive")
    import org.apache.spark.sql.expressions.Window
    val keyed = keys
      .repartitionByRange(nRanges, col("fp"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
    // local cumsum within each range partition; ranges are ordered, so
    // (pid, local order) == global (fp, doc_id) order
    val local = keyed.withColumn("local_cum",
      sum(col("n_tok")).over(Window.partitionBy(col("pid"))
        .orderBy(col("fp"), col("doc_id"))))
    // per-range totals -> exclusive offsets: P rows (P = nRanges, tiny
    // by construction), so the single-partition window is bounded
    val offsets = local.groupBy(col("pid"))
      .agg(max(col("local_cum")).as("ptotal"))
      .withColumn("offset",
        coalesce(sum(col("ptotal")).over(Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    local.join(broadcast(offsets), "pid")
      .withColumn("cum_before", col("offset") + col("local_cum") - col("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        expr(s"cum_before div ${shardTokens}L").as("shard"))
  }

  /** Shard manifest — the census a production packing run writes NEXT TO
    * its shards (the artifact downstream training jobs read to plan
    * epochs without touching shard bytes): per shard, document count,
    * token mass, distinct-group (language/source) mix width, and the
    * first doc id (deterministic packing makes it a stable shard
    * fingerprint). All-integer output.
    *
    * 100 TB shape: the pack assignment is `shardPack`'s range-partitioned
    * prefix sum; the group attach is a corpus-sized equi-join on doc_id
    * (bucketable in a standing pipeline); the manifest itself is one
    * map-side-combined aggregate over |shards| cells.
    */
  def shardManifest(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, shardTokens: Long): DataFrame = {
    val packed = shardPack(docs, idCol, textCol, shardTokens)
    packed.join(
        docs.select(col(idCol).as("doc_id"), col(groupCol).as("__grp")),
        Seq("doc_id"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("__grp")).as("n_groups"),
        min(col("doc_id")).as("first_doc"))
  }

  /** Per-group cardinality cap — the domain-mix rebalancer: keep at most
    * `cap` documents per group (language, source domain), chosen
    * DETERMINISTICALLY by content hash (order (fingerprint, id)), so
    * re-runs and re-shards keep the exact same documents and an
    * over-represented group (the crawl-corpus domain glut) is trimmed
    * without a random generator. Emits kept rows as (doc_id, group, rk).
    *
    * Scale shape: `row_number() <= cap` over a group window is the form
    * Spark 4's InferWindowGroupLimit rule recognizes — it inserts a
    * WindowGroupLimit BEFORE the shuffle as well as after, so each map
    * task forwards at most `cap` rows per group it sees and a skewed
    * group costs a map-side top-cap heap, never a full-group sort spill.
    */
  def capPerGroup(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    import org.apache.spark.sql.expressions.Window
    docs.select(col(idCol).as("doc_id"), col(groupCol),
        TextFunctions.rollingHash(col(textCol)).as("__fp"))
      .withColumn("rk",
        row_number().over(Window.partitionBy(col(groupCol))
          .orderBy(col("__fp"), col("doc_id"))).cast("long"))
      .where(col("rk") <= cap)
      .select(col("doc_id"), col(groupCol), col("rk"))
  }

  /** Deterministic global training order — the "global shuffle" an epoch
    * pipeline needs before writing shards: a content-hash permutation of
    * the corpus, materialized as (shard, pos) so writers can emit shard
    * files directly. Re-runs reproduce the same order (the hash is the
    * seed), yet the order is uncorrelated with ingest order, source, or
    * any content feature a model could exploit.
    *
    * Same decomposition as `shardPack`: NO global window. Range-partition
    * by (fingerprint, id), row_number within each range, then the P
    * per-range counts (P = nRanges, tiny) turn local ranks into global
    * positions via one broadcast of exclusive offsets.
    */
  def trainingOrder(docs: DataFrame, idCol: String, textCol: String,
      shardSize: Long, nRanges: Int = 32): DataFrame = {
    require(shardSize > 0, "shardSize must be positive")
    import org.apache.spark.sql.expressions.Window
    // Checkpoint the 2-column key projection for the same reason as
    // shardPack: RangePartitioner samples its child, which would re-run
    // the rolling hash over the corpus a second time.
    val keyed = docs.select(col(idCol).as("doc_id"),
        TextFunctions.rollingHash(col(textCol)).as("fp"))
      .localCheckpoint(eager = true)
      .repartitionByRange(nRanges, col("fp"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val local = keyed.withColumn("local_rn",
      row_number().over(Window.partitionBy(col("pid"))
        .orderBy(col("fp"), col("doc_id"))).cast("long"))
    val offsets = local.groupBy(col("pid"))
      .agg(max(col("local_rn")).as("pcount"))
      .withColumn("offset",
        coalesce(sum(col("pcount")).over(Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    local.join(broadcast(offsets), "pid")
      .withColumn("rn", col("offset") + col("local_rn") - 1)
      .select(col("doc_id"),
        expr(s"rn div ${shardSize}L").as("shard"),
        (col("rn") % shardSize).as("pos"))
  }

  /** Quality-filter chain with a drop ledger — the curation funnel
    * report: every document is attributed to the FIRST rule (in the
    * given order) that rejects it, and each rule also reports its total
    * independent hit count. Output: one row per rule
    * (rule, first_drop, total_fail) plus a trailing ("kept", n, n) row.
    * One pass, one tiny aggregate — per-row predicates stay codegen'd.
    */
  def filterLedger(docs: DataFrame,
      rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    // NULL verdicts (rule over a NULL column) count as "rule does not
    // fire" — pinned with coalesce so Spark's when-chain and any SQL
    // replay agree instead of silently diverging on three-valued logic.
    val flagged = docs.select(
      rules.map { case (n, c) =>
        coalesce(c.cast("boolean"), lit(false)).as(s"__f_$n") }: _*)
    // first failing rule per row (null = kept)
    val firstFail = rules.tail.foldLeft(
      when(col(s"__f_${rules.head._1}"), lit(rules.head._1))) {
      case (acc, (n, _)) => acc.when(col(s"__f_$n"), lit(n))
    }.otherwise(lit(null)).as("__first")
    val aggCols =
      sum(when(col("__first").isNull, 1L).otherwise(0L)).as("__kept") +:
        rules.flatMap { case (n, _) => Seq(
          sum(when(col("__first") === n, 1L).otherwise(0L)).as(s"__fd_$n"),
          sum(col(s"__t_$n")).as(s"__tf_$n")) }
    val agg = flagged.select(firstFail +: rules.map { case (n, _) =>
        col(s"__f_$n").cast("long").as(s"__t_$n") }: _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val rows = rules.map { case (n, _) =>
      struct(lit(n).as("rule"), col(s"__fd_$n").as("first_drop"),
        col(s"__tf_$n").as("total_fail"))
    } :+ struct(lit("kept").as("rule"), col("__kept").as("first_drop"),
      col("__kept").as("total_fail"))
    agg.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Eval-set decontamination: flag corpus documents sharing any word
    * k-shingle with an eval/benchmark document (self-matches excluded),
    * with the shared-shingle count and the number of distinct eval docs
    * hit. The standard pre-training leak check.
    *
    * 100 TB shape: shingle sets are one codegen'd per-row expression
    * (no re-tokenization); the eval side is tiny and explodes to a
    * (shingle -> eval_doc) table that broadcasts; the corpus side
    * explodes narrowly and the match is a broadcast equi-join — no
    * wide shuffle touches the corpus.
    */
  /** Vocabulary-coverage quality score — the shuffle-light stand-in for
    * LM-perplexity filtering (the CCNet recipe): what fraction of a
    * document's tokens come from the corpus's top-`vocabSize` tokens.
    * Low hit-rate documents are gibberish / wrong-language / OCR-noise
    * candidates. Counts are pure integers (the rate is one per-row IEEE
    * division), so the output is hash-deterministic; a production
    * deployment swaps the frequency vocab for a trained LM's vocab file
    * without changing the plan.
    *
    * 100 TB shape: the token explode is narrow (doc_id, token); the
    * corpus count is one map-side-combined hash aggregate; the vocab is
    * a `vocabSize`-row TakeOrdered (count DESC, token ASC — the boundary
    * is fully tie-broken) that BROADCASTS, so scoring never shuffles the
    * corpus; the per-doc rollup re-aggregates on doc_id map-side.
    */
  def vocabHitRate(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 500): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok").as("v_tok"))
    toks.join(broadcast(vocab), col("tok") === col("v_tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("v_tok")).as("n_vocab_hits"))
      .withColumn("hit_rate",
        col("n_vocab_hits").cast("double") / col("n_tokens"))
  }

  /** Training-mixture contingency diagnostic: observed (g1, g2) cell
    * counts vs the independence expectation, reported as lift =
    * obs * N / (rowTotal * colTotal) — lift >> 1 flags an over-sampled
    * slice of the mixture, << 1 an under-sampled one. Counts are cast
    * to double BEFORE the products: Long×Long would overflow (ANSI
    * throw) once n_docs*N passes 2^63 (~3e9 docs squared-ish), while
    * IEEE double products round identically on any engine — the oracle
    * casts in the same places, so the result stays hash-deterministic.
    *
    * 100 TB shape: one map-side-combined cell aggregate over the corpus;
    * the window totals run on the |g1| x |g2| CELL table (dozens of
    * rows), never the corpus.
    */
  def mixtureLift(docs: DataFrame, g1: String, g2: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = docs.groupBy(col(g1), col(g2)).agg(count(lit(1)).as("n_docs"))
    cells
      .withColumn("rl", sum(col("n_docs")).over(Window.partitionBy(col(g1))))
      .withColumn("cs", sum(col("n_docs")).over(Window.partitionBy(col(g2))))
      .withColumn("nn", sum(col("n_docs")).over(Window.partitionBy()))
      .select(col(g1), col(g2), col("n_docs"),
        ((col("n_docs").cast("double") * col("nn").cast("double"))
          / (col("rl").cast("double") * col("cs").cast("double")))
          .as("lift"))
  }

  /** Quality-band × duplication census — the diagnostic a curation run
    * reads BEFORE choosing a quality cutoff: for each fixed quality band
    * (floor(score×10); reference mongo2influx has no analytics surface,
    * this is the LLM-pipeline extension), how many documents land there,
    * how many are exact duplicates (digest row_number > 1, NULL text
    * never a dup), the token mass, the duplicated token mass, and the
    * band's exact quality sum in micro-units (floor(score×1e6) summed as
    * integers — order-independent, one final division away from a mean).
    *
    * 100 TB shape: fixed per-row banding, NOT ntile — a decile needs a
    * global sort; a band is one codegen'd floor. Two shuffles total:
    * the dup-flag window on the 32-byte sha-256 digest key (the l17
    * contract: never full text) and a map-side-combined aggregate onto
    * <= ~16 band groups.
    */
  def qualityDupProfile(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = qualityFeatures(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")),
        "__text")
      .select(col("doc_id"), col("__text"), col("n_tokens"),
        col("quality_score"))
    val w = Window.partitionBy(sha2(col("__text"), 256))
      .orderBy(col("doc_id"))
    q.withColumn("__rn", row_number().over(w))
      .select(col("n_tokens"), col("quality_score"),
        when(col("__text").isNotNull && col("__rn") > 1, 1)
          .otherwise(0).as("is_dup"))
      .groupBy(floor(col("quality_score") * 10).as("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup")).cast("long").as("n_dup_docs"),
        sum(col("n_tokens")).cast("long").as("tok_total"),
        sum(when(col("is_dup") === 1, col("n_tokens")).otherwise(lit(0)))
          .cast("long").as("tok_dup"),
        sum(floor(col("quality_score") * lit(1e6))).as("q_sum_micro"))
  }

  /** Threshold what-if on top of `qualityDupProfile`: for every possible
    * quality cutoff (keep bands >= min_band), the surviving doc count,
    * token mass, and surviving exact-dup count — the table that turns
    * "pick a quality threshold" from a rerun-per-guess into one query.
    * NULL-band docs (NULL text has no score) can't be thresholded and
    * are excluded.
    *
    * 100 TB shape: the cumulative window runs on the band CENSUS
    * (<= ~16 rows), never the corpus — the single-partition WindowExec
    * it plans is the right plan at any corpus size.
    */
  def qualityFilterWhatIf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val census = qualityDupProfile(docs, idCol, textCol)
      .where(col("band").isNotNull)
    val w = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census.select(col("band").as("min_band"),
      sum(col("n_docs")).over(w).as("docs_kept"),
      sum(col("tok_total")).over(w).as("tok_kept"),
      sum(col("n_dup_docs")).over(w).as("dup_docs_kept"))
  }

  def decontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, k: Int = 5): DataFrame = {
    val corpusSh = corpus.select(col(idCol).as("doc_id"),
        explode(TextFunctions.shingles(col(textCol), k)).as("g"))
    val evalSh = evalSet.select(col(idCol).as("eval_id"),
        explode(TextFunctions.shingles(col(textCol), k)).as("g2"))
    corpusSh.join(broadcast(evalSh),
        col("g") === col("g2") && col("doc_id") =!= col("eval_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_shingles"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
  }

  /** Feature-hashed linear domain scorer — the fastText/DSIR-shaped
    * domain-affinity filter every curation recipe applies at corpus
    * scale: tokens hash into `buckets` feature buckets (rolling hash,
    * the corpus hash convention), a weight per bucket is learned from a
    * labeled seed in ONE pass, and every document scores as the sum of
    * its tokens' bucket weights.
    *
    * Exactness contract: the usual log-odds weight
    * log(p_target(b)/p_background(b)) is libm; the weight used here is
    * the cross-multiplied difference
    *     w_b = n_target(b) * N_background - n_background(b) * N_target
    * (sign and ORDER agree with p_target(b) - p_background(b)), all
    * BIGINT, bit-deterministic on both engines. Overflow bound:
    * |w_b| <= n(b) * N < N^2 and a document sums n_tokens of them — safe
    * below ~3e9 total token occurrences; a 100 TB run rescales the
    * counts (or goes double) and keeps the identical plan.
    *
    * Scale shape: the bucketed token frame feeds the weight aggregate
    * AND the scoring join, so it is localCheckpoint'ed to run once; the
    * weight table is <= `buckets` rows and broadcasts; scoring is one
    * map-side-combinable per-document sum; the top-k is a TakeOrdered,
    * never a full sort. In production the weight table is trained once
    * on the labeled seed, persisted, and broadcast-joined against each
    * ingest batch — only the two totals and the per-bucket counts ever
    * shuffle here, all O(buckets).
    */
  /** The weight table alone — the FROZEN ARTIFACT a standing ingest
    * pipeline trains once, persists, and loads at serve start (t25
    * collects it driver-side like t22's codebook and scores the stream
    * statelessly per row). Same weights as `domainScore` computes
    * internally; this face exists so train-time and serve-time can be
    * different jobs.
    */
  def domainWeights(docs: DataFrame, textCol: String,
      targetPred: Column, buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "need buckets>0")
    val tok = docs
      .where(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(when(targetPred, 1L).otherwise(0L).as("is_t"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .select(col("is_t"),
        pmod(TextFunctions.rollingHash(col("tok")), lit(buckets.toLong))
          .as("bkt"))
      .localCheckpoint(eager = false)
    val tot = tok.agg(sum(col("is_t")).as("__nt"),
      sum(lit(1L) - col("is_t")).as("__nb"))
    tok.groupBy(col("bkt"))
      .agg(sum(col("is_t")).as("ct"), sum(lit(1L) - col("is_t")).as("cb"))
      .crossJoin(broadcast(tot))
      .select(col("bkt"),
        (col("ct") * col("__nb") - col("cb") * col("__nt")).as("w"))
  }

  def domainScore(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 4096, topK: Int = 50): DataFrame = {
    require(buckets > 0 && topK > 0, "need buckets>0, topK>0")
    val tok = docs
      .where(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol).as("doc_id"),
        when(targetPred, 1L).otherwise(0L).as("is_t"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), col("is_t"),
        pmod(TextFunctions.rollingHash(col("tok")), lit(buckets.toLong))
          .as("bkt"))
      .localCheckpoint(eager = false)
    val tot = tok.agg(sum(col("is_t")).as("__nt"),
      sum(lit(1L) - col("is_t")).as("__nb"))
    val w = tok.groupBy(col("bkt"))
      .agg(sum(col("is_t")).as("ct"), sum(lit(1L) - col("is_t")).as("cb"))
      .crossJoin(broadcast(tot))
      .select(col("bkt"),
        (col("ct") * col("__nb") - col("cb") * col("__nt")).as("w"))
    tok.join(broadcast(w), "bkt")
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Per-group unigram KL divergence against the corpus mixture — the
    * standing data-mixture diagnostic: KL(p_source || p_corpus) ranks
    * sources by how distributionally DISTINCT their text is from the
    * blend (a source whose divergence jumps between snapshots is the
    * drift l76 sees token-by-token, collapsed to one number per
    * source). The per-word log ratio log2(p_s(w)/p(w)) =
    * log2((c_s*N)/(n_s*c)) is INTEGER-QUANTIZED as
    * (bitlen(c_s)+bitlen(N)) - (bitlen(n_s)+bitlen(c)) via
    * `length(bin(x))` — the l83 no-libm discipline — and the reported
    * divergence is the count-weighted sum sum_w c_s(w)*qbits(w): pure
    * BIGINT on both engines, so the whole frame hash-matches.
    * (Quantization keeps the order structure of true KL: each qbits is
    * within ±2 bits of the real log ratio; the census is a monitor,
    * not a probability.)
    *
    * Returns (source, n_tokens, n_vocab, kl_qbits).
    *
    * 100 TB shape: ONE token-explode scan feeds a map-side-combined
    * (group, word) count; corpus word counts and per-group totals both
    * DERIVE from that table (no second corpus pass), so after the
    * count aggregate every op is vocab- or group-bounded: the word
    * join is on the (groups x vocab) count table, totals broadcast.
    */
  def sourceDivergence(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val sc = docs
      .where(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(groupCol).as("source"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_s"))
      .localCheckpoint(eager = false)
    val cw = sc.groupBy(col("tok")).agg(sum(col("c_s")).as("c"))
    val ns = sc.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
    val nt = ns.agg(sum(col("n_s")).as("n"))
    sc.join(cw, Seq("tok"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(nt))
      .select(col("source"), col("n_s"), col("c_s"),
        ((length(bin(col("c_s"))) + length(bin(col("n"))))
          - (length(bin(col("n_s"))) + length(bin(col("c")))))
          .cast("long").as("__qb"))
      .groupBy(col("source"), col("n_s"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(col("c_s") * col("__qb")).as("kl_qbits"))
      .select(col("source"), col("n_s").as("n_tokens"),
        col("n_vocab"), col("kl_qbits"))
  }

  /** Per-document deflate compression ratio — the RefinedWeb/Gopher
    * compressibility quality heuristic (extremely compressible =
    * repetitive boilerplate/template spam; incompressible = binary
    * junk or already-encoded noise): (doc_id, len_in, len_out,
    * ratio_bp) where len_in is the UTF-8 byte length, len_out the
    * java.util.zip.Deflater output at the FIXED `level`, and ratio_bp
    * = floor(10000 * len_out / len_in) (NULL for empty/NULL text).
    *
    * Batched mapPartitions (the multimodal codec shape): ONE Deflater
    * instance per batch, reset between rows — the per-row allocation a
    * naive formulation would pay is exactly what the batch amortizes;
    * a throwing row cannot leak state because reset() precedes every
    * use. Deterministic: Deflater with a fixed level and strategy is a
    * pure function of the input bytes on a given JDK — but NOT
    * SQL-replayable, so consumers follow the l80 contract (rows-only
    * frame, gated by an oracle-checked twin on the len_in side plus an
    * in-test plain-Scala reference equivalence in DeflateSpec).
    * Streaming-safe: stateless narrow transform.
    */
  def deflateRatio(docs: DataFrame, idCol: String, textCol: String,
      level: Int = 6, batchSize: Int = 256): DataFrame = {
    require(level >= 0 && level <= 9, s"deflate level $level not in 0..9")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("len_in", LongType, nullable = false),
      StructField("len_out", LongType, nullable = false),
      StructField("ratio_bp", LongType, nullable = true)))
    val idIdx = docs.schema.fieldIndex(idCol)
    val textIdx = docs.schema.fieldIndex(textCol)
    docs.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val defl = new java.util.zip.Deflater(level)
        val buf = new Array[Byte](8192)
        val out = try {
          batch.map { r =>
            val bytes =
              if (r.isNullAt(textIdx)) Array.emptyByteArray
              else r.getString(textIdx)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            defl.reset()
            defl.setInput(bytes)
            defl.finish()
            var n = 0L
            while (!defl.finished()) n += defl.deflate(buf)
            val ratio =
              if (bytes.length == 0) null
              else java.lang.Long.valueOf(10000L * n / bytes.length)
            Row(r.getLong(idIdx), bytes.length.toLong, n, ratio)
          }
        } finally defl.end()
        out.iterator
      }
    }(Encoders.row(outSchema))
  }

  /** Train per-source zlib preset dictionaries from the corpus's hot
    * passages — the second rung of the compressibility tier (the
    * RefinedWeb/Gopher deflate heuristic measures self-redundancy;
    * seeding the compressor with the SOURCE's shared template text
    * measures family-redundancy: a doc that compresses much better
    * against its source's dictionary shares boilerplate with the
    * source even when its own deflate ratio is unremarkable — the
    * cheap complement of the l90 classifier). Per source: distinct
    * word k-grams contained in >= 2 docs (the dupPassages df
    * convention), top `topPerSource` by (df desc, gram asc),
    * concatenated LEAST-hot-first (zlib matches nearest-to-end
    * cheapest, so the hottest strings go last) and clamped to the
    * trailing `maxBytes` (zlib's 32 KiB window). The result is a
    * BOOT ARTIFACT: at most a few entries per source, driver-
    * collected under an explicit bound and broadcast — never a
    * corpus-side join.
    */
  def trainDeflateDicts(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, k: Int = 6, topPerSource: Int = 64,
      maxBytes: Int = 32768): Map[String, Array[Byte]] = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2 && topPerSource >= 1 && maxBytes >= 1,
      "need k>=2, topPerSource>=1, maxBytes>=1")
    val rows = docs
      .select(col(srcCol).as("src"), col(idCol).as("__id"),
        explode(graft.functions.TextFunctions.shingles(col(textCol), k))
          .as("g"))
      // countDistinct over the doc id, not count(*): a lone doc that
      // repeats a gram internally is SELF-redundancy (l114's signal);
      // the dictionary tier wants cross-document family support
      .groupBy(col("src"), col("g"))
      .agg(countDistinct(col("__id")).as("df"))
      .where(col("df") >= 2)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("src"))
          .orderBy(col("df").desc, col("g").asc)))
      .where(col("rn") <= topPerSource)
      .collect()
    require(rows.length <= 65536,
      "dictionary census exceeds the boot bound; raise df floor or " +
        "lower topPerSource (a broadcast-join scorer would be the " +
        "corpus-side fallback)")
    rows.groupBy(_.getString(0)).map { case (src, rs) =>
      val dict = rs.map(r => (r.getLong(2), r.getString(1)))
        .sortBy { case (df, g) => (df, g) } // hottest LAST
        .map(_._2).mkString(" ")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      src -> dict.takeRight(maxBytes)
    }
  }

  /** `deflateRatio` with and without the source's preset dictionary:
    * (doc_id, source, len_in, len_out, len_out_dict, ratio_bp,
    * dict_gain_bp) where dict_gain_bp = ratio_bp - dict_ratio_bp (> 0
    * means the dictionary helped — the template-family signal; a
    * source absent from `dicts` scores len_out_dict = len_out, gain
    * 0). Same batched one-Deflater shape as `deflateRatio`; reset()
    * clears the dictionary between rows, so a no-dict row after a
    * dict row cannot inherit state (DeflateSpec property-pins this
    * against a fresh-Deflater reference). Deterministic but not
    * SQL-replayable — consumers follow the l114 contract. Stateless
    * narrow transform: streaming-safe with the same broadcast
    * dictionary map.
    */
  def deflateDictRatio(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, dicts: Map[String, Array[Byte]], level: Int = 6,
      batchSize: Int = 256): DataFrame = {
    require(level >= 0 && level <= 9, s"deflate level $level not in 0..9")
    require(dicts.values.forall(_.length <= 32768),
      "preset dictionary exceeds zlib's 32 KiB window")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("len_in", LongType, nullable = false),
      StructField("len_out", LongType, nullable = false),
      StructField("len_out_dict", LongType, nullable = false),
      StructField("ratio_bp", LongType, nullable = true),
      StructField("dict_gain_bp", LongType, nullable = true)))
    val idIdx = docs.schema.fieldIndex(idCol)
    val textIdx = docs.schema.fieldIndex(textCol)
    val srcIdx = docs.schema.fieldIndex(srcCol)
    val bc = docs.sparkSession.sparkContext.broadcast(dicts)
    docs.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val defl = new java.util.zip.Deflater(level)
        val buf = new Array[Byte](8192)
        def press(bytes: Array[Byte], dict: Option[Array[Byte]]): Long = {
          defl.reset()
          dict.foreach(defl.setDictionary)
          defl.setInput(bytes)
          defl.finish()
          var n = 0L
          while (!defl.finished()) n += defl.deflate(buf)
          n
        }
        val out = try {
          batch.map { r =>
            val bytes =
              if (r.isNullAt(textIdx)) Array.emptyByteArray
              else r.getString(textIdx)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val src = if (r.isNullAt(srcIdx)) null else r.getString(srcIdx)
            val dict = Option(src).flatMap(bc.value.get)
              .filter(_.nonEmpty)
            val plain = press(bytes, None)
            val withDict =
              if (dict.isEmpty) plain else press(bytes, dict)
            val (ratio, gain) =
              if (bytes.length == 0) (null, null)
              else (java.lang.Long.valueOf(10000L * plain / bytes.length),
                java.lang.Long.valueOf(10000L * plain / bytes.length -
                  10000L * withDict / bytes.length))
            Row(r.getLong(idIdx), src, bytes.length.toLong, plain,
              withDict, ratio, gain)
          }
        } finally defl.end()
        out.iterator
      }
    }(Encoders.row(outSchema))
  }

  /** Worst-case deflate output bound for `n` input bytes (zlib's
    * compressBound with the 6-byte zlib wrapper, plus slack) — the
    * l115 gate's upper envelope: deflate stored-blocks can EXPAND
    * input, but never past this.
    */
  def deflateBound(n: Column): Column =
    n + shiftright(n, 12) + shiftright(n, 14) + shiftright(n, 25) + lit(16L)

  /** The compression-ratio funnel census (the l35 filter-ledger shape
    * for this signal): per ratio DECILE band (NULL band = empty/NULL
    * text) the doc count, token mass, and byte mass — what a
    * compressibility filter at any banded threshold would keep or
    * drop. Rows-only by the deflate contract; l115 carries the
    * oracle-checked gates over the same frame.
    */
  def deflateBandCensus(scored: DataFrame, docs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    scored
      .join(docs.select(col(idCol).as("doc_id"),
        // explicit null/empty guard: legacy sizeOfNull yields -1,
        // never NULL, so coalesce alone cannot catch it
        when(col(textCol).isNotNull && trim(col(textCol)) =!= "",
          size(split(trim(col(textCol)), " "))).otherwise(0)
          .cast("long").as("__tok")), Seq("doc_id"))
      .groupBy((col("ratio_bp") / 1000).cast("long").as("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("tok_mass"),
        sum(col("len_in")).as("bytes_in"))
}
