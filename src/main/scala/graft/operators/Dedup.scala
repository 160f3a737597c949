package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.shingles

/** Document deduplication for LLM-training-data pipelines, in increasing
  * sophistication: exact (hash group-by), exact set-similarity (shingle
  * self-join), MinHash+LSH (the 100 TB path), and SimHash (bit-sketch).
  *
  * Scale stances:
  *   - exact dedup is a single hash aggregate on the text (or a text
  *     digest) — one shuffle, map-side combined.
  *   - `jaccardPairs` is exact but its shingle self-join can explode on
  *     hot shingles; it is the *oracle/verification* path. At scale, cap
  *     shingle document-frequency (drop shingles appearing in > df_max
  *     docs — they carry no dedup signal) or go through `minhashLshPairs`.
  *   - `minhashLshPairs` is the scale path: signatures are one aggregate
  *     over exploded shingles; banding turns all-pairs into an equi-join
  *     on (band, bandHash); only LSH *candidates* pay the exact-verify
  *     cost. With 32 bands x 6 rows the S-curve passes j>=0.8 pairs with
  *     P(miss) < 1e-5 and admits j<=0.3 noise at ~2%.
  */
object Dedup {

  /** Exact dedup: one keeper (min id) per identical text + group size.
    * Groups directly on the text — fine when documents are small; at
    * 100 TB prefer `exactGroupsByDigest`, which shuffles 32-byte digests
    * instead of whole documents.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Exact dedup keyed on SHA-256(text): identical groups to
    * `exactGroups` (a digest collision would need a SHA-256 break), but
    * the shuffle carries 32-byte keys instead of full documents — the
    * scale path for whole-corpus exact dedup.
    */
  def exactGroupsByDigest(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("__digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** What-did-dedup-buy census over the same digest key as
    * `exactGroupsByDigest` (single owner of the 32-byte-shuffle-key
    * contract): corpus totals, duplicate docs, bytes a keeper-only
    * corpus saves (`bytesCol` is per-doc size — identical text implies
    * identical size, min() just picks the representative), and the
    * largest exact-dup cluster. All integer aggregates.
    */
  def dedupReport(docs: DataFrame, textCol: String,
      bytesCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("__digest"))
      .agg(count(lit(1)).as("c"), min(col(bytesCol)).as("nc"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_texts"),
        sum(col("c") - 1).as("n_dup_docs"),
        sum((col("c") - 1) * col("nc")).as("bytes_removed"),
        max(col("c")).as("max_cluster"))

  /** Normalization-tolerant exact dedup — the "fuzzy-exact" tier between
    * l01's byte-identical dedup and the shingle near-dup family: two
    * documents are duplicates iff they agree after casefolding,
    * punctuation stripping ([.,;:!?], the quality-scoring class), and
    * whitespace collapsing. Catches the re-crawl variants exact dedup
    * misses (case drift, trailing punctuation, reflowed whitespace)
    * without paying near-dup candidate generation. Same
    * 32-byte-digest-shuffle shape as `exactGroupsByDigest`: the
    * normalization chain is per-row codegen'd regex work feeding one
    * map-side-combined hash aggregate.
    */
  def exactGroupsNormalized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.groupBy(sha2(trim(regexp_replace(regexp_replace(
          lower(col(textCol)), "[.,;:!?]", ""), "\\s+", " ")), 256)
        .as("__digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Corpus snapshot diff — the ops tool of a standing ingest next to
    * `incrementalDedup`: compare two snapshots by content digest and
    * report, in one row, how many distinct texts appeared, disappeared,
    * and persisted. NULL-text rows are excluded on both sides (no
    * content, no identity).
    *
    * 100 TB shape: each side reduces to DISTINCT 32-byte digests (in a
    * standing pipeline both digest tables are precomputed and bucketed
    * on digest, making this join shuffle-free); ONE full-outer join with
    * presence markers feeds a single counting aggregate — not three
    * separate anti/semi passes.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
      textCol: String): DataFrame = {
    def digs(df: DataFrame, mark: String) = df
      .where(col(textCol).isNotNull)
      .select(sha2(col(textCol), 256).as("dig")).distinct()
      .withColumn(mark, lit(1))
    digs(oldDocs, "__o").join(digs(newDocs, "__n"), Seq("dig"), "full_outer")
      .agg(count(when(col("__o").isNull, 1)).as("n_added"),
        count(when(col("__n").isNull, 1)).as("n_removed"),
        count(when(col("__o").isNotNull && col("__n").isNotNull, 1))
          .as("n_common"))
  }

  /** Cross-source duplication matrix — WHICH sources carry the same
    * content (mirror sites, scraped re-posts, syndication): distinct
    * (digest, source) pairs self-joined on digest with src_a < src_b,
    * counted per unordered source pair. The ops report that attributes
    * duplication to its origins and tells a crawl which source pairs to
    * dedup against each other first.
    *
    * Scale: the per-digest fan-out is sources-per-digest (bounded by
    * |sources|, typically a handful), never docs-per-digest — the
    * distinct() collapses document multiplicity BEFORE the join; in a
    * standing pipeline both sides are one bucketed digest table and the
    * join is shuffle-free. Output is at most |sources|^2/2 rows.
    */
  def dupSourceMatrix(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val ds = docs.where(col(textCol).isNotNull)
      .select(sha2(col(textCol), 256).as("dig"), col(sourceCol).as("src"))
      .distinct()
    ds.as("a").join(ds.as("b"),
        col("a.dig") === col("b.dig") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** (id, shingle-set) pairs; documents shorter than k tokens get an
    * empty set and never pair.
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"), shingles(col(textCol), k).as("sh"))

  /** Exact shingle-Jaccard near-dup pairs (a_id < b_id, jac >= threshold).
    * inter/union arithmetic in exact integers; the division is one IEEE op.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 3): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, k)
    // Size filter (exactness-preserving): j(a,b) >= t implies
    // min(n_a,n_b) >= t * max(n_a,n_b), so size-mismatched pairs can be
    // dropped inside the shingle join before the expensive aggregate.
    val exA = sets.select(col("doc_id").as("a_id"), size(col("sh")).as("na"),
      explode(col("sh")).as("g"))
    val exB = exA.select(col("a_id").as("b_id"), col("na").as("nb"),
      col("g").as("g2"))
    val inter = exA.join(exB,
        col("g") === col("g2") && col("a_id") < col("b_id") &&
          col("na") >= lit(threshold) * col("nb") &&
          col("nb") >= lit(threshold) * col("na"))
      .groupBy(col("a_id"), col("b_id"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Exact directional shingle-containment pairs: C(a->b) = |Sa n Sb| / |Sa|
    * >= threshold — the asymmetric near-dup measure that catches a short
    * document quoted inside a long one, where Jaccard stays low (the
    * union washes the overlap out). Directional: (a,b) and (b,a) are
    * independent verdicts.
    *
    * Same inverted-index join shape as `jaccardPairs` with the
    * directional size prune (inter <= min(na, nb), so C >= t forces
    * nb >= t*na — a long doc can never be contained in a much shorter
    * one). At 100 TB the standard df-cap on hot shingles bounds the
    * candidate join; kept exact here because this is the oracle-checked
    * baseline.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 3): DataFrame =
    containmentPairsFromPostings(
      containmentPostings(docs, idCol, textCol, k), threshold)

  /** The exploded posting table (doc_id, n, g) both containment twins
    * consume — factored out so a composition that runs the exact twin
    * AND the capped path (the l54 recall gate, l55's oracle variant)
    * can shingle the corpus ONCE, localCheckpoint the postings, and
    * feed both sides, instead of each side re-running the
    * tokenize+shingle+explode scan (the dominant cold cost at sf0.1).
    */
  def containmentPostings(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    shingleSets(docs, idCol, textCol, k)
      .select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("g"))

  /** `containmentPairs` over a precomputed posting table — see
    * `containmentPostings`.
    */
  def containmentPairsFromPostings(postings: DataFrame,
      threshold: Double): DataFrame = {
    val exA = postings.select(col("doc_id").as("a_id"), col("n").as("na"),
      col("g"))
    val exB = postings.select(col("doc_id").as("b_id"), col("n").as("nb"),
      col("g").as("g2"))
    exA.join(exB,
        col("g") === col("g2") && col("a_id") =!= col("b_id") &&
          col("nb") >= lit(threshold) * col("na"))
      .groupBy(col("a_id"), col("b_id"), col("na"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", col("inter").cast("double") / col("na"))
      .where(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("containment"))
  }

  /** Incremental exact dedup — the continual-ingestion form every
    * production corpus runs daily: dedup a NEW batch against the
    * existing corpus (cross-dedup), then within itself, and report the
    * funnel as one row (n_new, n_dup_vs_corpus, n_dup_within_batch,
    * n_kept).
    *
    * 100 TB shape: both sides shuffle 32-byte SHA-256 digests, never
    * text — the corpus side reduces to DISTINCT digests (in a standing
    * pipeline that digest table is precomputed and bucketed on digest,
    * making the daily anti-join shuffle-free); the batch side is one
    * hash aggregate.
    *
    * NULL-text documents hash to NULL, never match anything (corpus or
    * batch), and are each counted as kept — not silently absorbed into
    * the within-batch-duplicate bucket.
    */
  def incrementalDedup(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val nd = newDocs.select(col(idCol).as("doc_id"),
      sha2(col(textCol), 256).as("dig"))
    val cd = corpus.select(sha2(col(textCol), 256).as("dig")).distinct()
    val fresh = nd.join(cd, Seq("dig"), "left_anti")
    // countDistinct skips NULL digests while count(1) includes them, so
    // kept = distinct real digests + each null-digest row individually.
    val freshAgg = fresh.agg(count(lit(1)).as("n_fresh"),
      (countDistinct(col("dig")) +
        count(when(col("dig").isNull, lit(1)))).as("n_kept"))
    nd.agg(count(lit(1)).as("n_new")).crossJoin(freshAgg)
      .select(col("n_new"),
        (col("n_new") - col("n_fresh")).as("n_dup_vs_corpus"),
        (col("n_fresh") - col("n_kept")).as("n_dup_within_batch"),
        col("n_kept"))
  }

  /** Incremental NEAR-dup — `incrementalDedup`'s funnel upgraded from
    * identical-text to shingle-Jaccard: pair each NEW-batch document
    * with every standing-corpus document it near-duplicates
    * (j >= threshold), without a batch-x-corpus all-pairs pass.
    *
    * Both sides are MinHash-banded; candidates come from the (band,
    * bandHash) equi-join of the batch's signatures against the corpus
    * band table, and only candidates pay exact shingle verification —
    * the l03 contract applied cross-corpus. 100 TB shape: in a standing
    * pipeline the corpus band table is precomputed and bucketed on
    * (band, bh), so the daily run sketches ONLY the batch and the
    * candidate join is shuffle-free on the corpus side; verification
    * materializes shingle sets just for the (semi-pruned) documents
    * that appear in some candidate.
    */
  def incrementalNearDupPairs(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      numPerms: Int = 192, bands: Int = 32, k: Int = 3): DataFrame =
    incrementalNearDupWithIndex(newDocs, corpus,
      nearDupBandIndex(corpus, idCol, textCol, numPerms, bands, k),
      idCol, textCol, threshold, numPerms, bands, k)

  /** The standing corpus MinHash band index — (doc_id, band, bh), the
    * table a production pipeline persists ONCE (bucketed on the join
    * key (band, bh)) and every daily `incrementalNearDupWithIndex` run
    * joins against without re-sketching a byte of corpus text.
    *
    * The sketch parameters are stamped into the `bh` column's metadata
    * (which survives a parquet write/read round-trip), so a daily run
    * whose parameters drifted from the persisted index fails loudly
    * instead of equi-joining incompatible hashes to ~zero candidates.
    */
  def nearDupBandIndex(docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 192, bands: Int = 32, k: Int = 3): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.numPerms", numPerms.toLong)
      .putLong("graft.bands", bands.toLong)
      .putLong("graft.shingleK", k.toLong)
      .build()
    docs.select(col(idCol).as("doc_id"),
      posexplode(graft.functions.SketchFunctions.minhashBandsFromText(
        col(textCol), k, numPerms, bands)).as(Seq("band", "bh")))
      .select(col("doc_id"), col("band"), col("bh").as("bh", md))
  }

  /** `incrementalNearDupPairs` with the corpus band index supplied
    * externally (typically read back from its persisted, bucketed
    * form). `corpus` itself is consulted only to fetch shingle sets for
    * the documents that appear in some candidate — a semi-join-pruned
    * point read, never a scan-and-sketch.
    */
  def incrementalNearDupWithIndex(newDocs: DataFrame, corpus: DataFrame,
      corpusIndex: DataFrame, idCol: String, textCol: String,
      threshold: Double, numPerms: Int = 192, bands: Int = 32,
      k: Int = 3): DataFrame = {
    // Guard against sketch-parameter drift between the persisted index
    // and this run: mismatched numPerms/bands/k band hashes almost never
    // equi-join, so the run would silently report ~0 near-dups. The
    // stamp is best-effort (a hand-built index without metadata passes).
    val idxMd = corpusIndex.schema("bh").metadata
    Seq(("graft.numPerms", numPerms), ("graft.bands", bands),
        ("graft.shingleK", k)).foreach { case (key, v) =>
      if (idxMd.contains(key))
        require(idxMd.getLong(key) == v.toLong,
          s"corpusIndex was built with $key=${idxMd.getLong(key)} but " +
            s"this run uses $v — rebuild the index or pass matching " +
            "sketch parameters")
    }
    val bt = nearDupBandIndex(newDocs, idCol, textCol, numPerms, bands, k)
    val ct = corpusIndex.select(col("doc_id").as("corpus_id"),
      col("band").as("band2"), col("bh").as("bh2"))
    // The candidate set feeds THREE consumers (both semi-join prunes and
    // the final verify join); localCheckpoint materializes the band join
    // once instead of re-running it per consumer — the l55 pattern.
    val candidates = bt
      .join(ct, col("band") === col("band2") && col("bh") === col("bh2"))
      .select(col("doc_id").as("new_id"), col("corpus_id"))
      .distinct()
      .localCheckpoint()

    def prunedSets(df: DataFrame, ids: DataFrame, out: String): DataFrame =
      shingleSets(
        df.join(ids, df(idCol) === ids("doc_id"), "left_semi"),
        idCol, textCol, k)
        .select(col("doc_id").as(out), col("sh"))
    val newSets = prunedSets(newDocs,
      candidates.select(col("new_id").as("doc_id")).distinct(), "new_id")
      .select(col("new_id"), col("sh").as("sh_a"))
    val corpSets = prunedSets(corpus,
      candidates.select(col("corpus_id").as("doc_id")).distinct(),
      "corpus_id")
      .select(col("corpus_id"), col("sh").as("sh_b"))
    candidates.join(newSets, "new_id").join(corpSets, "corpus_id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** The 100 TB path `containmentPairs`'s scaladoc promises: candidate
    * pairs come from a document-frequency-capped inverted index — any
    * shingle occurring in more than `dfCap` documents is dropped from
    * candidate generation (boilerplate carries no dedup signal and fans
    * out O(df^2) pairs) — then every candidate is verified EXACTLY over
    * the full shingle sets. Emitted pairs therefore carry the true
    * containment and are a strict subset of `containmentPairs`: the only
    * misses are pairs whose entire overlap is hot shingles. l54 gates
    * that recall against the exact twin.
    *
    * Scale shape: df is one map-side-combined aggregate; the candidate
    * join touches only rare postings, each bounded at dfCap^2 pair
    * fan-out; verification is two equi-joins driven by the (small)
    * candidate set, never all-pairs.
    */
  def containmentPairsCapped(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double, k: Int = 3,
      dfCap: Int = 64): DataFrame =
    containmentPairsCappedFromPostings(
      containmentPostings(docs, idCol, textCol, k), threshold, dfCap)

  /** `containmentPairsCapped` over a precomputed posting table — see
    * `containmentPostings`.
    */
  def containmentPairsCappedFromPostings(postings: DataFrame,
      threshold: Double, dfCap: Int = 64): DataFrame = {
    val ex = postings
    // df attaches via a shuffle join ON g — the same partitioning the
    // candidate self-join needs, so the posting shuffle is planned once
    // and reused (no broadcast of a corpus-scale vocabulary list).
    val dfs = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val withDf = ex.join(dfs, Seq("g"))
    val rare = withDf.where(col("df") <= dfCap)
    val hot = withDf.where(col("df") > dfCap)
    val candA = rare.select(col("doc_id").as("a_id"), col("n").as("na"),
      col("g"))
    val candB = rare.select(col("doc_id").as("b_id"), col("n").as("nb"),
      col("g").as("g2"))
    // The candidate aggregate IS the rare-side intersection count —
    // identical shape to the exact twin's aggregate, minus hot postings;
    // the directional size prune (nb >= t*na) applies inside the join.
    val candRare = candA.join(candB,
        col("g") === col("g2") && col("a_id") =!= col("b_id") &&
          col("nb") >= lit(threshold) * col("na"))
      .groupBy(col("a_id"), col("b_id"), col("na"))
      .agg(count(lit(1)).as("inter_rare"))
    // Exact remainder: shared HOT shingles, counted only for candidate
    // pairs. Hot postings are the pruned head of the df distribution, so
    // these two equi-joins are driven by the (small) candidate set.
    val hotA = hot.select(col("doc_id").as("a_id"), col("g"))
    val hotB = hot.select(col("doc_id").as("__b"), col("g").as("g2"))
    val interHot = candRare.select(col("a_id"), col("b_id"))
      .join(hotA, Seq("a_id"))
      .join(hotB, col("b_id") === col("__b") && col("g") === col("g2"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter_hot"))
    candRare.join(interHot, Seq("a_id", "b_id"), "left_outer")
      .withColumn("inter",
        col("inter_rare") + coalesce(col("inter_hot"), lit(0L)))
      .withColumn("containment", col("inter").cast("double") / col("na"))
      .where(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("containment"))
  }

  /** LSH candidate pairs -> exact-Jaccard verification >= threshold.
    * Output is identical to `jaccardPairs` up to the (tiny, tunable)
    * LSH miss probability.
    *
    * Scale shape: the whole MinHash signature + band bucketing is ONE
    * narrow codegen'd expression per row (`MinHashBandHashes` — no
    * shingle explosion, no 192-column aggregate, no shuffle); the only
    * wide operations are the (band, hash) candidate equi-join and the
    * final verify join — exactly what survives a 100 TB corpus.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, numPerms: Int = 192, bands: Int = 32,
      k: Int = 3): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    // Sketch straight from the text (fused shingle+MinHash+banding, one
    // narrow expression; NULL = no shingles -> posexplode drops the row,
    // so empty documents never co-bucket).
    val bandTab = docs.select(col(idCol).as("doc_id"),
      posexplode(graft.functions.SketchFunctions.minhashBandsFromText(
        col(textCol), k, numPerms, bands)).as(Seq("band", "bh")))

    val candB = bandTab.select(col("doc_id").as("b_id"),
      col("band").as("band2"), col("bh").as("bh2"))
    val candidates = bandTab
      .join(candB, col("band") === col("band2") && col("bh") === col("bh2") &&
        col("doc_id") < col("b_id"))
      .select(col("doc_id").as("a_id"), col("b_id"))
      .distinct()

    // Exact verification of candidates only: shingle sets are materialized
    // JUST for documents that appear in some candidate pair (left-semi
    // prune), then compared with array_intersect.
    val candIds = candidates.select(col("a_id").as("doc_id"))
      .union(candidates.select(col("b_id").as("doc_id")))
      .distinct()
    val candSets = shingleSets(
      docs.join(candIds,
        docs(idCol) === candIds("doc_id"), "left_semi"),
      idCol, textCol, k)
    val verified = candidates
      .join(candSets.select(col("doc_id").as("a_id"), col("sh").as("sh_a")), "a_id")
      .join(candSets.select(col("doc_id").as("b_id"), col("sh").as("sh_b")), "b_id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
    verified.select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Connected components over a near-dup pair graph: every document in
    * some pair gets `cluster_id` = the smallest doc id reachable through
    * pairs (the deterministic cluster keeper — a real dedup pipeline
    * keeps `cluster_id` and drops the rest).
    *
    * Iterative min-label propagation: each round joins current labels
    * across the symmetrized edge list and keeps the per-node minimum;
    * converges in O(graph diameter) rounds. Near-dup CLUSTERS are
    * cliquish, but threshold graphs are not: the sf0.1 cosine>=0.4
    * embedding graph (920 edges, 1181 nodes) measures 16-20 rounds, so
    * diameter is a real dial — which is why exhausting `maxIters`
    * without converging now THROWS instead of silently returning
    * partial labels (every caller's semantics — keeper choice, dropped
    * sets — depends on labels being the true component minimum). Each
    * round is one equi-join + one map-side-combined min aggregate — the
    * standard large-graph CC shape (label propagation, not union-find:
    * no driver-side state). Results are persisted per round, and
    * convergence detection rides the SAME action that materializes the
    * round: the previous label travels through the min-aggregate
    * (tagged `own` rows), so one scan-aggregate job per round both
    * caches the new labels and answers "did anything change?" — no
    * separate join+count job.
    */
  /** Pick the KEEPER of each near-dup cluster by a quality score rather
    * than min id — the production curation flow: cluster (connected
    * components over the pair graph), then per cluster keep the
    * highest-quality member (ties broken by smallest id, so the choice
    * is deterministic). `scored` must carry (idCol, scoreCol); documents
    * in no pair are their own keeper. One join + one max-of-struct
    * aggregate on top of `components` — map-side combinable, no extra
    * shuffle structure.
    */
  def keepBest(scored: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val comp = components(pairs) // (doc_id, cluster_id) — paired docs only
    val labeled = scored
      .select(col(idCol).as("doc_id"), col(scoreCol).as("__score"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("__score"))
    labeled.groupBy(col("cluster_id"))
      .agg(
        max(struct(col("__score"), (-col("doc_id")).as("negid"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("m.negid")).as("keep_id"),
        col("n_members"))
  }

  def components(pairs: DataFrame, maxIters: Int = 50,
      fuse: Int = 4): DataFrame =
    graft.Trace.span(pairs.sparkSession, "dedup", "components") {
    // Materialize the DIRECTED pair list EAGERLY, then build the
    // symmetric view from it. `pairs` may be an expensive plan (an LSH
    // candidate join); the first loop job references the edge list from
    // several independent branches (seed aggregate, both union sides of
    // the propagation join), and Spark runs independent stages of one
    // job concurrently — a lazily-cached plan RACES itself and computes
    // up to once per branch before any partition lands in the cache
    // (measured 25 s vs 7 s on the LSH pair graph at sf0.1). The eager
    // localCheckpoint also truncates the wide lineage so no round can
    // ever re-plan through the pair join.
    val directed0 = pairs
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .localCheckpoint(eager = true)
    // The loop below runs tens of rounds over a label table that is tiny
    // relative to the corpus (one row per paired node), so its cost is
    // per-round plan/codegen/job-dispatch, not data. Shrink the shuffle
    // width for the loop ONLY: 32-way shuffles schedule 32 near-empty
    // reduce tasks per stage, and 8-way measured ~6.8 s -> ~5.4 s warm
    // median on the sf0.1 threshold graph (92 jobs either way; identical
    // labels). AQE stays ON — turning it off here was measured a LOSS
    // (92 jobs -> 33, but warm wall 6.8 s -> 12-13 s: static planning
    // has no stats for the checkpointed edge list, so every round's
    // labels-x-edges join falls back to a shuffle join instead of AQE's
    // runtime broadcast conversion). The edge list above already
    // materialized under the session's full conf; the loop runs on a
    // scoped session, so a job planned meanwhile on the caller's keeps
    // its width.
    graft.Engine.scoped(pairs.sparkSession,
        Map("spark.sql.shuffle.partitions" -> "8")) { c =>
    val directed = org.apache.spark.sql.GraftBridge.rebind(directed0, c)
    val edges = directed
      .union(directed.select(col("dst").as("src"), col("src").as("dst")))
    // Hash-to-min seeding: each node starts at min(self, neighbors) —
    // one shuffle-aggregate, the same cost the bare distinct() init paid,
    // but for the clique/star components a near-dup pair graph is mostly
    // made of it lands the final label immediately, so the loop spends
    // its rounds confirming instead of propagating (one whole round — a
    // job plus its cold plan/codegen — saved on the common shape).
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("lbl"))
      .select(col("src").as("node"), col("lbl"))
      .persist()
    // Static self-loops (one per node, from the persisted seed) let each
    // fused round be a SINGLE join+aggregate: the self row carries the
    // node's own label and the block-start `__old`, so the round needs no
    // second union-own reference to the previous round's frame. That
    // second reference is what made chained rounds double the plan per
    // round (2^fuse subtrees — measured 691 jobs / 26 s at fuse=8);
    // self-loops keep plan growth LINEAR in fuse.
    val allEdges = edges.union(
      labels.select(col("node").as("src"), col("node").as("dst")))
    var owned = labels // handle owning the round's cache entry
    var converged = false
    var i = 0
    // Block schedule: 1, fuse, fuse, ... The hash-to-min seed lands the
    // final label immediately on the clique/star graphs a near-dup
    // corpus mostly produces, so the common case needs exactly ONE
    // confirmation round — a fixed `fuse`-round first block charges
    // such graphs fuse-1 extra edge-joins for nothing (measured: l41's
    // shallow semantic graph regressed 4.8 s -> 6.2 s under fixed
    // fuse=4). A single 1-round probe block keeps the shallow case at
    // the pre-fusion price; from the second block on, full `fuse`-round
    // blocks amortize the per-job floor on deep graphs (a 1,2,4,...
    // geometric ramp was measured here and rejected: it bills the
    // 16-20-round threshold graph one extra block, 3.3 s -> 4.5 s warm,
    // to save nothing the 1-round probe doesn't already save).
    var blockRounds = 1
    while (!converged && i < maxIters) {
      // FUSED multi-round block (the BASELINE.md lever): chain `fuse`
      // propagation rounds — join + union + min-aggregate each — into
      // ONE plan, so the per-round cost the loop actually pays
      // (plan/codegen/job dispatch, ~0.8 s on tiny graphs) is paid per
      // BLOCK. Within the block each round is just an extra shuffle
      // stage of the same job. The block-start label rides along as
      // `__old` (tagged on the own-row branch only, recovered by
      // min-ignores-nulls), so one action both materializes the block
      // and answers "did anything change over these `fuse` rounds" —
      // correct convergence test because min-label propagation is
      // monotone non-increasing: any change in any fused round leaves
      // the final label strictly below the block-start label.
      // (Two SHORTCUT variants were measured here and REMOVED as net
      // losses — one-step pointer jump cut rounds only ~16->11 while
      // adding a shuffle join per round; true pointer DOUBLING
      // self-joins the un-materialized proposal, so lineage evaluates
      // twice and compounds: measured 7.5 s -> 70-90 s on the sf0.1
      // embed threshold graph. Chained PLAIN rounds are tree-shaped —
      // each intermediate is referenced once, nothing re-evaluates.)
      val rounds = math.min(blockRounds, maxIters - i)
      blockRounds = fuse
      var prop = labels.withColumn("__old", col("lbl"))
      for (_ <- 1 to rounds) {
        val candidates = prop
          .join(allEdges, col("node") === col("src"))
          .select(col("dst").as("node"), col("lbl"),
            when(col("src") === col("dst"), col("__old")).as("__old"))
        prop = candidates.groupBy(col("node"))
          .agg(min(col("lbl")).as("lbl"), min(col("__old")).as("__old"))
      }
      // localCheckpoint every block: each block's plan is `fuse` rounds
      // deep and references the previous block's frame — truncating per
      // block keeps lineage flat on high-diameter graphs.
      val next = prop.localCheckpoint(eager = false)
      // ONE job: materializes `next` and returns the flag.
      val changedRow = next
        .agg(max(when(col("lbl") =!= col("__old"), 1).otherwise(0))).first()
      val changed = if (changedRow.isNullAt(0)) 0 else changedRow.getInt(0)
      owned.unpersist()
      owned = next
      labels = next.select(col("node"), col("lbl"))
      converged = changed == 0
      i += rounds
    }
    // (directed is a localCheckpoint — its blocks are released with the
    // DataFrame; nothing to unpersist here)
    if (!converged) {
      owned.unpersist()
      throw new IllegalStateException(
        s"components() did not converge in $maxIters rounds — graph " +
          "diameter exceeds the cap; raise maxIters (labels would be " +
          "silently wrong: keeper/dropped decisions need the true minimum)")
    }
    // Every round's labels were materialized by the in-loop convergence
    // action, so the returned frame (rebound onto the caller's session)
    // only reads checkpointed blocks.
    labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
    }
    }

  /** Connected components of a SUPERSET pair graph, derived from the
    * labels of a refining subgraph instead of a second full label-
    * propagation pass. Precondition: every edge of `refinedLabels`'
    * source graph is also an edge of `pairs` (the l61/l62 contract:
    * semantic pairs are exact-verified, so sem ⊆ exact). Then each
    * refined component is contained in exactly one coarse component, so
    * contracting `pairs` through the refined labels (endpoint → its
    * refined cluster_id, self-edges dropped) yields a graph whose
    * components, composed back through the refined labels, are EXACTLY
    * the coarse components — contraction is lossless, not approximate.
    *
    * Why: `components` costs rounds × per-job floor, constant in data
    * size but real (~0.8 s/round warm). The contracted graph keeps only
    * edges CROSSING refined components — at 95% recall that is ~5% of
    * edges over supernodes, diameter ~1-2 — so the second pass converges
    * in a couple of rounds instead of the 16-20 a threshold graph
    * measures. Labels compose because both passes produce min-reachable
    * id and each refined label IS the min id of its refined component:
    * min over a coarse component's nodes = min over its refined
    * components' labels.
    *
    * Returns (doc_id, cluster_id) over every node of `pairs`, identical
    * to `components(pairs)` (property-tested in DedupSimilaritySpec).
    */
  def coarsenedComponents(refinedLabels: DataFrame,
      pairs: DataFrame): DataFrame = {
    // `pairs` is typically an expensive plan (the quadratic exact twin)
    // and feeds BOTH the contracted edge list and the node universe —
    // evaluate it exactly once.
    val p = pairs.select(col("a_id"), col("b_id"))
      .localCheckpoint(eager = true)
    val la = refinedLabels
      .select(col("doc_id").as("a_id"), col("cluster_id").as("__la"))
    val lb = refinedLabels
      .select(col("doc_id").as("b_id"), col("cluster_id").as("__lb"))
    val contracted = p
      .join(la, Seq("a_id"), "left")
      .join(lb, Seq("b_id"), "left")
      .select(coalesce(col("__la"), col("a_id")).as("a_id"),
        coalesce(col("__lb"), col("b_id")).as("b_id"))
      .where(col("a_id") =!= col("b_id"))
    // Labels over the supernodes that still had crossing edges; refined
    // components fully inside one supernode never appear here and keep
    // their refined label.
    val superLbl = components(contracted)
      .select(col("doc_id").as("__rep"), col("cluster_id").as("__xl"))
    val nodes = p.select(col("a_id").as("doc_id"))
      .union(p.select(col("b_id").as("doc_id")))
      .distinct()
    nodes
      .join(refinedLabels.select(col("doc_id"),
        col("cluster_id").as("__rl")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__rl"), col("doc_id")).as("__rep"))
      .join(superLbl, Seq("__rep"), "left")
      .select(col("doc_id"),
        coalesce(col("__xl"), col("__rep")).as("cluster_id"))
  }

  /** INCREMENTAL component maintenance — l82's update≡rebuild contract
    * applied to the dedup cluster labels: given the STANDING exact
    * component labels of a base pair graph (doc_id, cluster_id — as
    * `components` produces them: cluster_id = min reachable id) and a
    * NEW batch of edges (a_id, b_id — endpoints may be new nodes, old
    * nodes, or both), relabel ONLY the components the new edges touch
    * and leave everything else byte-identical.
    *
    * Why it is exact (the `componentsFromRefined` contraction lemma,
    * with the base graph as the refining subgraph of the union): every
    * base edge lies inside one standing component, so contracting the
    * NEW edges through the standing labels (endpoint → its cluster_id;
    * an endpoint the standing frame has never seen → itself;
    * self-edges dropped) yields a supernode graph whose components,
    * composed back, are EXACTLY the union graph's: a merged component's
    * min id = min over its constituent standing labels (each already
    * the min of its old component) and new-node ids — precisely what
    * label propagation over the contracted graph computes.
    *
    * The untouched-partition property is STRUCTURAL, not incidental: a
    * standing cluster with no new incident edge never appears in the
    * contracted graph, misses the relabel left-join, and keeps its
    * label through the coalesce — no code path can rewrite it
    * (DedupSimilaritySpec pins equality with a full recompute AND
    * untouched-cluster identity on arbitrary graphs).
    *
    * 100 TB shape: the work is O(batch edges) + label propagation over
    * a graph with one node per TOUCHED cluster — never a pass over the
    * standing corpus graph; the final compose is one broadcast-sized
    * left join against the relabel map (touched clusters only) on the
    * standing frame.
    */
  def updateComponents(standing: DataFrame, newPairs: DataFrame)
      : DataFrame = {
    val p = newPairs.select(col("a_id"), col("b_id"))
      .localCheckpoint(eager = true)
    val la = standing
      .select(col("doc_id").as("a_id"), col("cluster_id").as("__la"))
    val lb = standing
      .select(col("doc_id").as("b_id"), col("cluster_id").as("__lb"))
    val contracted = p
      .join(la, Seq("a_id"), "left")
      .join(lb, Seq("b_id"), "left")
      .select(coalesce(col("__la"), col("a_id")).as("a_id"),
        coalesce(col("__lb"), col("b_id")).as("b_id"))
      .where(col("a_id") =!= col("b_id"))
    // relabel map over TOUCHED supernodes only (checkpointed: it feeds
    // the standing-side and new-node-side joins)
    val relabel = components(contracted)
      .select(col("doc_id").as("__rep"), col("cluster_id").as("__xl"))
      .localCheckpoint(eager = true)
    val updatedStanding = standing
      .withColumn("__rep", col("cluster_id"))
      .join(relabel, Seq("__rep"), "left")
      .select(col("doc_id"),
        coalesce(col("__xl"), col("cluster_id")).as("cluster_id"))
    // endpoints the standing frame has never seen label themselves,
    // then relabel through their own supernode row (their id)
    val newNodes = p.select(col("a_id").as("doc_id"))
      .union(p.select(col("b_id").as("doc_id")))
      .distinct()
      .join(standing.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val newLabeled = newNodes
      .withColumn("__rep", col("doc_id"))
      .join(relabel, Seq("__rep"), "left")
      .select(col("doc_id"),
        coalesce(col("__xl"), col("doc_id")).as("cluster_id"))
    updatedStanding.unionByName(newLabeled)
  }

  /** Repeated-passage detector — the substring-level dup diagnostic from
    * the deduplicating-training-data line of work: word k-shingles
    * contained in at least `minDocs` documents, i.e. the passages a model
    * would see verbatim many times (memorization risk) and the input to
    * substring-level dedup decisions. `shinglesFromText` emits DISTINCT
    * shingles per document in one codegen'd byte pass, so `count(*)`
    * after the explode IS the containing-document count — a
    * wordcount-shaped, map-side-combinable aggregate; the top-k is a
    * TakeOrdered, never a full sort.
    */
  def dupPassages(docs: DataFrame, textCol: String, k: Int = 6,
      minDocs: Int = 2, topK: Int = 50): DataFrame = {
    require(k >= 2 && minDocs >= 2 && topK > 0, "need k>=2, minDocs>=2, topK>0")
    docs.select(explode(
        graft.functions.TextFunctions.shingles(col(textCol), k)).as("passage"))
      .groupBy(col("passage"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("passage"))
      .limit(topK)
  }

  /** Remove repeated passages from documents — the removal counterpart
    * of `dupPassages` and the C4/Dolma-style boilerplate scrub: any
    * token whose position falls inside a k-token window that occurs in
    * >= minDocs distinct documents is dropped, and the survivors are
    * re-joined in order. Returns (doc_id, clean_text, n_removed); a doc
    * that is wall-to-wall boilerplate scrubs to the empty string.
    *
    * Shape: the positional k-shingle explode feeds two consumers (the
    * df aggregate and the coverage join), so it is localCheckpointed to
    * run once — the aggregate's map-side combine makes the two exchange
    * plans non-identical, so ReuseExchange alone cannot dedup them;
    * document frequency is
    * one map-side-combined aggregate; the hot-shingle table joins back
    * as a plain equi-join (at minDocs=2 on a pathological corpus the
    * hot set can be large, so broadcasting is left to AQE's stats
    * rather than forced — production thresholds like df >= 100 keep it
    * broadcast-sized); covered positions collapse per document and the
    * rebuild is one per-row indexed `filter` — no window, no sort.
    */
  def scrubHotPassages(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 6, minDocs: Int = 2): DataFrame =
    scrubCovered(docs, idCol, textCol, k, minDocs)(identity)

  /** The shared scrub machine: positional k-shingle explode (ONE
    * lazily-checkpointed scan feeding the df aggregate and the
    * coverage join), hot-gram prune at `minDocs` distinct docs, a
    * caller-chosen selection over the hot OCCURRENCES (doc_id, i, g)
    * — all of them for the C4-style scrub, the non-canonical ones for
    * keep-one — whose covers collapse per doc and drop through one
    * per-row indexed filter.
    */
  private def scrubCovered(docs: DataFrame, idCol: String,
      textCol: String, k: Int, minDocs: Int)
      (selectRemovals: DataFrame => DataFrame): DataFrame = {
    require(k >= 2 && minDocs >= 2, "need k>=2, minDocs>=2")
    val toks = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), " ").as("t"))
    val ps = toks.select(col("doc_id"),
        explode(when(size(col("t")) >= k,
          transform(sequence(lit(0), size(col("t")) - k),
            i => struct(i.as("i"),
              concat_ws(" ", slice(col("t"), i + 1, lit(k))).as("g"))))).as("sh"))
      .select(col("doc_id"), col("sh.i").as("i"), col("sh.g").as("g"))
      .localCheckpoint(eager = false)
    val hot = ps.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("g"))
    val cov = selectRemovals(ps.join(hot, "g"))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (k - 1))).as("p"))
      .groupBy(col("doc_id")).agg(collect_set(col("p")).as("cov"))
    rebuildWithoutCover(toks, cov)
  }

  /** The scrub family's shared rebuild: drop every token whose index
    * is in the doc's covered-position set, re-join survivors in order
    * — one per-row indexed filter, no window, no sort. `cov` is
    * (doc_id, cov: array<int>); docs without a cov row keep all
    * tokens.
    */
  private def rebuildWithoutCover(toks: DataFrame,
      cov: DataFrame): DataFrame =
    toks.join(cov, Seq("doc_id"), "left")
      .withColumn("kept",
        filter(col("t"), (_, idx) => !array_contains(
          coalesce(col("cov"), typedLit(Array.empty[Int])), idx)))
      .select(col("doc_id"),
        concat_ws(" ", col("kept")).as("clean_text"),
        (size(col("t")) - size(col("kept"))).as("n_removed"))

  /** Repeated-passage removal with KEEP-ONE semantics — the
    * substring-dedup line's canonical form (remove every occurrence of
    * a duplicated passage EXCEPT ONE, so the corpus keeps exactly one
    * copy of each shared span; `scrubHotPassages` is the harsher
    * all-occurrences variant). Deterministic canonical rule, chosen to
    * be SQL-replayable: per hot k-gram the (doc_id, position)-minimal
    * occurrence is canonical; a token is dropped iff some NON-canonical
    * occurrence covers it. Overlap caveat, by design: a token inside a
    * canonical occurrence of one gram AND a non-canonical occurrence
    * of another still drops — coverage semantics, same as the
    * all-occurrences scrub.
    *
    * Shape: one positional explode (lazily checkpointed — it feeds the
    * df aggregate and the occurrence rank), the canonical pick is ONE
    * row_number window partitioned by the gram (no second join back),
    * covered positions collapse per doc, rebuild is a per-row indexed
    * filter. The window's per-gram groups are occurrence lists —
    * duplicated mass, the quantity being removed.
    */
  def scrubDupKeepOne(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 6, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scrubCovered(docs, idCol, textCol, k, minDocs)(occ =>
      occ.withColumn("rn", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("doc_id"), col("i"))))
        .where(col("rn") > 1))
  }

  /** SPAN-granularity keep-one removal — the published ExactSubstr
    * REMOVAL semantics (the deduplicating-training-data line removes
    * each duplicated substring of >= threshold length, keeping one
    * copy): `scrubDupKeepOne` picks canonicals per fixed k-gram, this
    * picks them per MAXIMAL duplicated span, so a 40-token shared
    * passage is one keep-one decision, not 35 independent 6-gram
    * decisions whose canonicals can scatter across documents. `spans`
    * is a `maximalDupSpans` frame (doc_id, i, span — one row per
    * duplicated START with its maximal hot extent); per distinct
    * maximal-span TEXT the (doc_id, position)-minimal occurrence is
    * canonical and survives, every other occurrence's cover [i, i+span)
    * drops, survivors re-join in order. Overlap caveat, by design and
    * shared with the whole scrub family: a token kept by one span's
    * canonical occurrence but covered by ANOTHER span's non-canonical
    * occurrence still drops (coverage semantics) — sub-spans of a
    * duplicated run start their own rows, so inside the minimal
    * (doc_id, i) document the whole run survives (all its sub-spans
    * rank first), while later documents lose their full cover.
    *
    * Shape: the spans frame is the durable DupSpanStore artifact, so
    * the removal pass is a JOIN against a standing table, never a
    * ladder rebuild; the canonical pick is ONE row_number window
    * partitioned by the span text (per-group rows = that span's
    * occurrence list — duplicated mass, the quantity being removed);
    * covers collapse per doc; the rebuild is the shared per-row
    * indexed filter. Span text rides the window shuffle only for
    * duplicated-start rows — volume proportional to duplicated mass,
    * not the corpus; at production scale the text key can be swapped
    * for the ladder's (rank, span) pair, which identifies the gram
    * exactly (the l124 adjacent-concatenation identity).
    */
  def scrubSpansKeepOne(docs: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), " ").as("t"))
    val occ = spans.join(toks, "doc_id")
      .select(col("doc_id"), col("i"), col("span"),
        concat_ws(" ", slice(col("t"), (col("i") + 1).cast("int"),
          col("span").cast("int"))).as("g"))
    val cov = occ.withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("doc_id"), col("i"))))
      .where(col("rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("i").cast("int"),
          (col("i") + col("span") - 1).cast("int"))).as("p"))
      .groupBy(col("doc_id")).agg(collect_set(col("p")).as("cov"))
    rebuildWithoutCover(toks, cov)
  }

  /** 64-bit SimHash over distinct word k-shingles: per bit, sum +-1
    * votes of the shingle hashes; bit = 1 iff the vote is positive.
    * Shingles, not unigrams: on a small vocabulary every document's
    * distinct-token set converges to the whole vocabulary and token-level
    * SimHash collides everywhere; k-shingles keep the feature space wide.
    *
    * The sketch is one narrow codegen'd pass per row straight from the
    * text (`SimHash64FromText`) — no shingle materialization, no 64-column
    * vote aggregate, no shuffle. Documents with < k tokens sketch to NULL
    * and are dropped (they have no near-dup signal).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.SketchFunctions.simhash64FromText(col(textCol), k)
        .as("simhash"))
      .where(col("simhash").isNotNull)

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, banded
    * into four 16-bit chunks (a pair within distance 3 shares at least
    * one exact chunk — pigeonhole), so all-pairs becomes an equi-join.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sh = simhash(docs, idCol, textCol)
    val chunks = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"),
          shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))
            .as("v"))): _*)).as("ch"))
      .select(col("doc_id"), col("simhash"),
        col("ch.c").as("c"), col("ch.v").as("v"))
    val right = chunks.select(col("doc_id").as("b_id"),
      col("simhash").as("simhash_b"), col("c").as("c2"), col("v").as("v2"))
    chunks
      .join(right, col("c") === col("c2") && col("v") === col("v2") &&
        col("doc_id") < col("b_id"))
      .select(col("doc_id").as("a_id"), col("b_id"),
        bit_count(col("simhash").bitwiseXOR(col("simhash_b"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Duplicate-SPAN census — the variable-length counterpart of
    * `dupPassages`: for every document, how many token positions start a
    * word span of length >= `minLen` that also occurs in >= `minDocs`
    * documents, and the MAXIMAL such span length (capped at `maxLen`).
    * This is the per-document report the suffix-array line of substring
    * dedup work produces (sorted-suffix neighbor LCP >= threshold);
    * `dupPassages`' fixed k answers "is there a length-k dup", this
    * answers "how FAR does the dup extend" — the input to span-level
    * removal decisions and memorization-risk audits.
    *
    * Plan (prune-then-extend, never the K-fold explode):
    *   1. positional `minLen`-grams, ONE explode — volume = token count;
    *      the frame feeds the df aggregate AND the candidate join, so it
    *      is localCheckpoint'ed to run once.
    *   2. grams contained in >= minDocs docs (map-side-combined
    *      count-distinct) mark the DUPLICATED STARTS.
    *   3. only duplicated starts re-attach their token array and emit
    *      the k = minLen+1..maxLen extensions — a duplicate at length k
    *      implies a duplicate at every prefix length (prefix closure),
    *      so every k-dup start is already in the pruned set: EXACT, and
    *      the extension volume is proportional to the duplicated mass,
    *      not the corpus.
    * At 100 TB the stage-2 shuffle keys are gram strings (hashable,
    * bucketable); the exact alternative (distributed suffix array +
    * neighbor LCP) sorts the full token stream — this formulation keeps
    * the same answer for spans <= maxLen at a fraction of the shuffle.
    * Cross-document duplication only (the `dupPassages` convention):
    * a span repeated inside ONE document does not count.
    */
  def dupSpanCensus(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 6, maxLen: Int = 12, minDocs: Int = 2): DataFrame = {
    require(minLen >= 2 && maxLen >= minLen && minDocs >= 2,
      "need minLen>=2, maxLen>=minLen, minDocs>=2")
    val toks = docs.select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), " ").as("t"))
      .where(size(col("t")) >= minLen)
    val ps = toks.select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("t")) - minLen),
          i => struct(i.as("i"),
            concat_ws(" ", slice(col("t"), i + 1, lit(minLen))).as("g"))))
          .as("sh"))
      .select(col("doc_id"), col("sh.i").as("i"), col("sh.g").as("g"))
      .localCheckpoint(eager = false)
    val hot = ps.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("g"))
    val base = ps.join(hot, "g")
      .select(col("doc_id"), col("i"), lit(minLen).as("k"))
    val spans =
      if (maxLen == minLen) base
      else {
        // grams are built INSIDE the generator so the token array never
        // rides the exploded rows (only (i, k, g) leaves the project)
        val ext = base.join(toks, "doc_id")
          .where(size(col("t")) - col("i") > minLen)
          .select(col("doc_id"), col("i"),
            explode(transform(
              sequence(lit(minLen + 1),
                least(lit(maxLen), size(col("t")) - col("i"))),
              k => struct(k.as("k"),
                concat_ws(" ", slice(col("t"), col("i") + 1, k)).as("g"))))
              .as("e"))
          .select(col("doc_id"), col("i"),
            col("e.k").as("k"), col("e.g").as("g"))
          .localCheckpoint(eager = false)
        val hotK = ext.groupBy(col("k"), col("g"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .where(col("nd") >= minDocs)
          .select(col("k"), col("g"))
        base.unionByName(ext.join(hotK, Seq("k", "g"))
          .select(col("doc_id"), col("i"), col("k")))
      }
    spans.groupBy(col("doc_id"))
      .agg(countDistinct(col("i")).as("n_dup_starts"),
        max(col("k")).cast("long").as("max_span"))
      .orderBy(col("doc_id"))
  }

  /** Injective long ids for the distinct rows of `df` (rank table of
    * one prefix-doubling round). monotonically_increasing_id is
    * partition-layout-dependent, so the frame is PINNED (eager
    * checkpoint) before any consumer sees it — every consumer then
    * reads one consistent assignment, and the ids are only ever used
    * as EQUALITY keys, so downstream answers are deterministic
    * regardless of the layout. (An RDD zipWithIndex would also work
    * but pays an extra partition-count job per ladder level.)
    */
  private def denseIds(df: DataFrame, outCol: String): DataFrame =
    df.withColumn(outCol, monotonically_increasing_id())
      .localCheckpoint(eager = true)

  /** EXACT maximal duplicated spans with NO length cap — the
    * suffix-ranking substring-dedup tier (the deduplicating-training-
    * data line of work removes every substring of >= 50 tokens that
    * repeats in the corpus; this computes, per token position, exactly
    * how far the cross-document duplicate extends). `dupSpanCensus`
    * answers the same question up to `maxLen` by brute extension; this
    * path is exact at ANY length with log-many rounds, so a wall-to-
    * wall duplicated document reports its full length, not the cap.
    *
    * Output: (doc_id, i, span) — one row per token position whose
    * maximal hot span length is >= `minLen`, where a span is HOT iff
    * its exact word sequence occurs in >= `minDocs` distinct documents
    * (the `dupPassages` cross-document convention).
    *
    * Plan — prefix-doubling ladders + binary descent, both exact:
    *   1. LADDER: D_0 = positions whose `minLen`-gram is hot (l77's
    *      prune), each hot gram given an injective long rank. D_{j+1}
    *      (span 2*L_j) from D_j alone: a hot 2L-gram's halves are both
    *      hot (substring closure), so candidates are the (p, p+L_j)
    *      self-join of D_j; the PAIR of half-ranks identifies the
    *      2L-gram exactly (adjacent-concatenation identity), so
    *      countDistinct(doc) over equal pairs is the gram's true
    *      document frequency. log(max span) rounds, each shuffling
    *      only the still-duplicated mass — never the corpus.
    *   2. DESCENT: a position in D_j but not D_{j+1} has its maximal
    *      span in [L_j, 2*L_j); resolve it with the OVERLAP identity —
    *      a candidate length's gram is identified by its two (possibly
    *      overlapping) L_j-sub-grams at offsets 0 and mid-L_j (they
    *      cover it, since mid < 2*L_j) — and the same countDistinct
    *      gives exact hotness: every occurrence of a hot mid-gram has
    *      both sub-grams hot, so the counting pool is complete exactly
    *      when the verdict is 'hot'. Narrow brackets enumerate every
    *      candidate length at once (volume = duplicated-span mass);
    *      wide ones binary-step first — log(span/cutoff) + 1 rounds,
    *      all active positions advancing together (the distinct
    *      (level, mid) set rides a broadcast join).
    * At 100 TB: every shuffle key is a long (rank) or a pair of longs
    * after round 0; stage volume is proportional to DUPLICATED mass,
    * which is the quantity the operator exists to find; the full
    * distributed suffix sort this replaces pays log(n) rounds over the
    * whole token stream instead.
    */
  def maximalDupSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 6, minDocs: Int = 2): DataFrame = {
    require(minLen >= 2 && minDocs >= 2, "need minLen>=2, minDocs>=2")
    val toks = docs.select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), " ").as("t"))
      .where(size(col("t")) >= minLen)
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("n"))
      .localCheckpoint(eager = false)
    val ps = toks.select(col("doc_id"),
        explode(transform(sequence(lit(0), (col("n") - minLen).cast("int")),
          i => struct(i.cast("long").as("p"),
            concat_ws(" ", slice(col("t"), i + 1, lit(minLen))).as("g"))))
          .as("sh"))
      .select(col("doc_id"), col("sh.p").as("p"), col("sh.g").as("g"))
      .localCheckpoint(eager = false)
    val hot0 = ps.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= minDocs).select(col("g"))
    val d0 = ps.join(denseIds(hot0, "r"), "g")
      .select(col("doc_id"), col("p"), col("r"))
      .localCheckpoint(eager = true)
    val empty = toks.select(col("doc_id"), lit(0L).as("i"),
      lit(0L).as("span")).where(lit(false))
    if (d0.isEmpty) return empty

    // 1. ladder of hot-position rank tables at lengths minLen * 2^j
    var ladder = List((0, minLen.toLong, d0))
    var grown = true
    while (grown) {
      val (j, lj, dj) = ladder.head
      val right = dj.select(col("doc_id"), (col("p") - lj).as("p"),
        col("r").as("r2"))
      val pairs = dj.select(col("doc_id"), col("p"), col("r").as("r1"))
        .join(right, Seq("doc_id", "p"))
        .localCheckpoint(eager = false) // feeds the df agg AND dn
      val ids = denseIds(pairs.groupBy(col("r1"), col("r2"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") >= minDocs).select(col("r1"), col("r2")), "r")
      if (ids.isEmpty) grown = false
      else ladder ::= ((j + 1, lj * 2,
        pairs.join(ids, Seq("r1", "r2"))
          .select(col("doc_id"), col("p"), col("r"))
          .localCheckpoint(eager = true)))
    }
    val dall = ladder.map { case (j, lj, d) =>
        d.select(lit(j).as("lvl"), lit(lj).as("llen"), col("doc_id"),
          col("p"), col("r")) }
      .reduce(_ unionByName _)
      .localCheckpoint(eager = false) // cached at first round, reused

    // 2. per-position bracket [L_jmax, min(2*L_jmax, n-p+1)) and descent
    var active = dall.groupBy(col("doc_id"), col("p"))
      .agg(max(struct(col("lvl"), col("llen"))).as("m"))
      .select(col("doc_id"), col("p"), col("m.lvl").as("lvl"),
        col("m.llen").as("llen"))
      .join(toks.select(col("doc_id"), col("n")), "doc_id")
      .select(col("doc_id"), col("p"), col("lvl"), col("llen"),
        col("llen").as("lo"),
        least(col("llen") * 2, col("n") - col("p") + 1).as("hi"))
      .localCheckpoint(eager = true)
    // brackets of width <= cutoff resolve in ONE round by enumerating
    // every candidate length (volume = duplicated-span mass, the
    // quantity the operator reports anyway); wider brackets binary-
    // step first — log(span / cutoff) + 1 rounds total, so round
    // overhead never dominates short spans and volume never explodes
    // on pathologically long ones.
    val cutoff = 128
    val width = col("hi") - col("lo")
    var resolved = List.empty[DataFrame]
    var rounds = 0
    while (!active.isEmpty) {
      rounds += 1
      require(rounds <= 64, "descent failed to converge (bracket bug)")
      // narrow actives test every length in (lo, hi); wide ones only
      // the midpoint. explode_outer keeps width-1 rows (empty mid
      // list) so they resolve to lo below.
      val cands = active
        .withColumn("wide", width > cutoff)
        .select(col("doc_id"), col("p"), col("lvl"), col("llen"),
          col("lo"), col("hi"), col("wide"),
          explode_outer(when(col("wide"),
              array(shiftright(col("lo") + col("hi"), 1)))
            .otherwise(when(width > 1,
                sequence(col("lo") + 1, col("hi") - 1))
              .otherwise(array().cast("array<bigint>")))).as("mid"))
      // hotness pool for every requested (lvl, mid): all corpus
      // positions carrying the overlap-identity key — complete for hot
      // grams (their occurrences' sub-grams are hot), and undercounting
      // a not-hot gram cannot flip its verdict
      val mids = broadcast(cands.where(col("mid").isNotNull)
        .select(col("lvl"), col("llen"), col("mid")).distinct())
      val hotK = dall.join(mids, Seq("lvl", "llen"))
        .select(col("lvl"), col("mid"), col("doc_id"), col("r").as("r1"),
          (col("p") + col("mid") - col("llen")).as("q"))
        .join(dall.select(col("lvl"), col("doc_id"),
          col("p").as("q"), col("r").as("r2")), Seq("lvl", "doc_id", "q"))
        .groupBy(col("lvl"), col("mid"), col("r1"), col("r2"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") >= minDocs)
        .select(col("lvl"), col("mid"), col("r1"), col("r2"),
          lit(true).as("isHot"))
      val judged = cands
        .join(dall.select(col("lvl"), col("doc_id"), col("p"),
          col("r").as("r1")), Seq("lvl", "doc_id", "p"))
        .withColumn("q", col("p") + col("mid") - col("llen"))
        .join(dall.select(col("lvl"), col("doc_id"), col("p").as("q"),
          col("r").as("r2")), Seq("lvl", "doc_id", "q"), "left")
        .join(hotK, Seq("lvl", "mid", "r1", "r2"), "left")
        .withColumn("hot", coalesce(col("isHot"), lit(false)))
        .localCheckpoint(eager = true)
      // narrow: hotness is monotone in length, so the maximal hot
      // candidate IS the span (lo when none is hot)
      // no checkpoint: reads judged's (pinned) cache exactly once, in
      // the caller's single consumption of the final union
      resolved ::= judged.where(!col("wide"))
        .groupBy(col("doc_id"), col("p"), col("lo"))
        .agg(max(when(col("hot"), col("mid"))).as("mx"))
        .select(col("doc_id"), col("p").as("i"),
          coalesce(col("mx"), col("lo")).as("span"))
      // wide: one midpoint row per position — halve the bracket
      active = judged.where(col("wide"))
        .select(col("doc_id"), col("p"), col("lvl"), col("llen"),
          when(col("hot"), col("mid")).otherwise(col("lo")).as("lo"),
          when(col("hot"), col("hi")).otherwise(col("mid")).as("hi"))
        .localCheckpoint(eager = true)
    }
    resolved.foldLeft(empty)(_ unionByName _)
  }

  /** Per-doc census over an already-computed maximal-span frame — the
    * single aggregation `dupSpanCensusUnbounded` and l125 both serve
    * (l125 reads the shared DupSpanStore build).
    */
  def censusOfSpans(spans: DataFrame): DataFrame =
    spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_starts"),
        max(col("span")).cast("long").as("max_span"))
      .orderBy(col("doc_id"))

  /** l77's census face with the cap REMOVED: per document the number
    * of duplicated starts and the true maximal hot span length — the
    * memorization-risk audit a capped census understates on wall-to-
    * wall duplicates.
    */
  def dupSpanCensusUnbounded(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int = 6, minDocs: Int = 2): DataFrame =
    censusOfSpans(maximalDupSpans(docs, idCol, textCol, minLen, minDocs))

  /** Winnowing fingerprint sets (the MOSS local-fingerprinting
    * algorithm, Schleimer/Wilkerson/Aiken SIGMOD'03): hash every
    * k-token gram with the deterministic rolling hash, slide a window
    * of w consecutive gram hashes, and keep the MINIMUM of each window
    * — the selected hashes are the document's fingerprints. The
    * winnowing guarantee: any shared token run of >= w + k - 1 tokens
    * produces at least one shared fingerprint (both documents see the
    * same w-window of identical gram hashes and pick the same min), so
    * detection of long matches is CERTAIN while storage shrinks by
    * ~2/(w+1) — a principled local dedup between MinHash (probabilistic
    * whole-document) and the exact span census (every gram shuffled).
    *
    * Documents with at least one gram but fewer than w of them keep one
    * fingerprint (the min over what exists); under k tokens they have
    * no grams and an empty set. Fully deterministic — fingerprints are
    * oracle-exact, unlike seeded MinHash.
    *
    * One fused codegen'd expression (`WinnowFromText`: byte-range
    * grams, rolling hashes, deque window minima, first-seen dedup) —
    * the split/transform/slice/array_min HOF formulation was correct
    * but Catalyst's InferFiltersFromGenerate duplicated the whole
    * stack into a per-row quadratic filter under the downstream
    * explode (measured 87 s vs 0.8 s at sf0.1; the same constraint-
    * duplication that made shingles a single expression).
    */
  def winnowFingerprintSets(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 4, w: Int = 5): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.SketchFunctions.winnowFromText(col(textCol), k, w)
        .as("fps"))

  /** Near-dup candidate pairs by shared winnowing fingerprints:
    * (a_id < b_id, n_shared >= minShared), with the standard df-cap on
    * hot fingerprints (boilerplate that appears in > dfCap documents
    * carries no dedup signal and would quadratically explode the
    * inverted-index join — the l50/l54 posting discipline).
    *
    * 100 TB shape: ONE tokenize+hash scan (checkpointed, feeds both the
    * df aggregate and the pair join); the posting table shuffles
    * (fp, doc_id) BIGINT pairs only — never text; the equi-join on fp
    * is candidate-bounded by the cap, and the per-pair count is a
    * map-side-combined aggregate. The fingerprint table is exactly what
    * a standing corpus would persist bucketed on fp.
    */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5, minShared: Int = 2,
      dfCap: Int = 64): DataFrame = {
    require(minShared >= 1 && dfCap >= 2, "need minShared>=1, dfCap>=2")
    // checkpointed because the posting table feeds the df aggregate
    // AND both sides of the pair join (the l50 one-scan discipline)
    val ex = winnowFingerprintSets(docs, idCol, textCol, k, w)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .localCheckpoint(eager = false)
    val cold = ex.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= dfCap)
      .select(col("fp"))
    val posting = ex.join(cold, "fp")
    posting.select(col("fp"), col("doc_id").as("a_id"))
      .join(posting.select(col("fp").as("fp2"), col("doc_id").as("b_id")),
        col("fp") === col("fp2") && col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }
}
