package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Bpe, Curation, Dedup, NbClassifier, NgramLm, Pca, SemDedupStore, Similarity, Subword, TextAnalysis}
import graft.multimodal.{FixtureBlobStore, Multimodal}
import graft.queries.Gates.mismatches

/** LLM-training-data pipeline operators (SURVEY.md §7.2 M5) registered as
  * driver-graded queries over the `documents` / `embeddings` fixtures:
  * dedup (exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine),
  * similarity search (brute-force + LSH top-k), text analysis (language
  * ID, quality, token stats, fingerprint), and multimodal column plumbing.
  *
  * Oracle notes:
  *   - MinHash+LSH at threshold 0.5 shares the *exact* Jaccard oracle: the
  *     fixture near-dup pairs sit at j>=0.8 and noise at j<0.31, and with
  *     32 bands x 6 rows P(miss at j=0.8) < 1e-5 — and the seeded xxhash64
  *     signatures make the result a fixed deterministic set, so equality
  *     with the exact answer is verified, not hoped for.
  *   - SimHash and hyperplane-LSH top-k depend on 64-bit seeded hashes that
  *     ANSI SQL cannot reproduce -> rows-only checks (QuerySpec contract).
  *   - All FP in oracle-checked outputs is per-row sequential folds /
  *     IEEE arithmetic (QuerySpec determinism contract), never shuffled
  *     double aggregation.
  */
object LlmQueries {

  /** DuckDB-side word 3-shingle CTE shared by the Jaccard oracles. */
  private val shingleCte =
    """WITH toks AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) >= 3
      |      THEN list_distinct([array_to_string(t[i:i+2], ' ')
      |                          for i in range(1, len(t)-1)])
      |      ELSE [] END AS s
      |  FROM toks)""".stripMargin

  private val jaccardOracle =
    s"""$shingleCte,
       |p AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(a.s) + len(b.s) > 0)
       |SELECT a_id, b_id, jaccard FROM p WHERE jaccard >= 0.5""".stripMargin

  /** DuckDB-side rolling-hash fingerprint over `text` — the same
    * left-fold `TextFunctions.rollingHash` computes; shared by every
    * oracle that fingerprints (split, sampling, ordering, shard packing).
    */
  private def fpSql: String = QuerySpec.fpSql

  /** Shared l104/t43 oracle: rebuild the unigram seed vocabulary (all
    * chars + top-64 substrings by corpus mass, deterministically
    * tie-broken), quantize piece costs over the selected vocab, and
    * replay the Viterbi DP by exhaustive recursive path enumeration —
    * min over (cost, n_pieces) packed as cost*256 + np, lexicographic
    * while np < 256; the words CTE ERRORS on any word of 256+ chars,
    * so the packing invariant is checked rather than assumed (the
    * fixture caps words at 8 chars, but nothing upstream enforces
    * that). Both the batch
    * distinct-word census and the streaming occurrence census reduce
    * to the same per-source sums because per-word Viterbi is
    * deterministic.
    */
  private val unigramSegmentOracle: String =
    """WITH RECURSIVE tok AS (
      |  SELECT source, unnest(string_split(trim(text), ' ')) AS w
      |  FROM documents
      |  WHERE text IS NOT NULL AND trim(text) <> ''),
      |wc AS (
      |  SELECT source, w, count(*) AS cnt FROM tok
      |  WHERE length(w) > 0 GROUP BY 1, 2),
      |words AS (
      |  SELECT CASE WHEN length(w) >= 256
      |      THEN error('l104 oracle: word >= 256 chars breaks the '
      |        || 'cost*256+np lexicographic packing')
      |      ELSE w END AS w,
      |    CAST(sum(cnt) AS BIGINT) AS wcnt FROM wc GROUP BY 1),
      |sub0 AS (
      |  SELECT w, wcnt, unnest(range(1, length(w) + 1)) AS i FROM words),
      |sub1 AS (
      |  SELECT w, wcnt, i, unnest(range(1, 7)) AS l FROM sub0),
      |sub AS (
      |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
      |    CAST(sum(wcnt) AS BIGINT) AS cnt
      |  FROM sub1 WHERE i + l - 1 <= length(w) GROUP BY 1),
      |vocab AS (
      |  SELECT piece, cnt FROM sub WHERE length(piece) = 1
      |  UNION ALL
      |  SELECT piece, cnt FROM (
      |    SELECT piece, cnt,
      |      row_number() OVER (ORDER BY cnt DESC, piece) AS rn
      |    FROM sub WHERE length(piece) > 1) WHERE rn <= 64),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
      |pieces AS (
      |  SELECT piece,
      |    CAST(length(bin(total)) - length(bin(cnt)) AS BIGINT) AS cost
      |  FROM vocab, tot),
      |seg(w, pos, c, np) AS (
      |  SELECT w, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |  FROM words
      |  UNION
      |  SELECT s.w, s.pos + length(p.piece), s.c + p.cost, s.np + 1
      |  FROM seg s JOIN pieces p
      |    ON substr(s.w, CAST(s.pos + 1 AS INT), length(p.piece)) = p.piece
      |  WHERE s.pos + length(p.piece) <= length(s.w)),
      |best AS (
      |  SELECT w, min(c * 256 + np) AS packed FROM seg
      |  WHERE pos = length(w) GROUP BY 1)
      |SELECT wc.source,
      |  CAST(sum(wc.cnt) AS BIGINT) AS n_words,
      |  CAST(sum(wc.cnt * (packed % 256)) AS BIGINT) AS n_pieces,
      |  CAST(sum(wc.cnt * (packed // 256)) AS BIGINT) AS total_bits
      |FROM wc JOIN best ON wc.w = best.w
      |GROUP BY 1""".stripMargin

  /** l105's universe: ids carrying BOTH a text and an embedding (the
    * inner join of the two tables' id spaces), excluding the eval ids
    * (id % 50 = 0 — l36's benchmark-set convention, applied to both
    * modalities so the two detectors screen against the SAME bench).
    */
  private val decontamAgreementOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= 4
       |      THEN list_distinct([array_to_string(t[i:i+3], ' ')
       |                          for i in range(1, len(t)-2)])
       |      ELSE [] END AS s
       |  FROM toks),
       |uni AS (
       |  SELECT d.doc_id FROM documents d
       |  JOIN embeddings e ON d.doc_id = e.vec_id
       |  WHERE d.doc_id % 50 <> 0),
       |ev AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh
       |       WHERE doc_id % 50 = 0),
       |tokflag AS (
       |  SELECT DISTINCT co.doc_id FROM (
       |    SELECT doc_id, unnest(s) AS g FROM sh) co
       |  JOIN ev ON co.g = ev.g),
       |eq AS (SELECT embedding AS q_emb FROM embeddings
       |       WHERE vec_id % 50 = 0),
       |semflag AS (
       |  SELECT DISTINCT c.vec_id AS doc_id
       |  FROM embeddings c JOIN eq ON TRUE
       |  WHERE c.vec_id % 50 <> 0
       |    AND ${cosSql("c.embedding", "q_emb")} >= 0.4),
       |j AS (
       |  SELECT uni.doc_id,
       |    tokflag.doc_id IS NOT NULL AS tok,
       |    semflag.doc_id IS NOT NULL AS sem
       |  FROM uni
       |  LEFT JOIN tokflag ON uni.doc_id = tokflag.doc_id
       |  LEFT JOIN semflag ON uni.doc_id = semflag.doc_id)
       |SELECT count(*) AS n_universe,
       |  CAST(sum(CASE WHEN tok THEN 1 ELSE 0 END) AS BIGINT) AS n_token,
       |  CAST(sum(CASE WHEN sem THEN 1 ELSE 0 END) AS BIGINT) AS n_sem,
       |  CAST(sum(CASE WHEN tok AND sem THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_both,
       |  CAST(sum(CASE WHEN NOT tok AND NOT sem THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_neither,
       |  CASE WHEN CAST(sum(CASE WHEN tok THEN 1 ELSE 0 END)
       |      + sum(CASE WHEN sem THEN 1 ELSE 0 END)
       |      - sum(CASE WHEN tok AND sem THEN 1 ELSE 0 END) AS BIGINT) > 0
       |    THEN (10000 * CAST(sum(CASE WHEN tok AND sem THEN 1 ELSE 0 END)
       |        AS BIGINT))
       |      // CAST(sum(CASE WHEN tok THEN 1 ELSE 0 END)
       |        + sum(CASE WHEN sem THEN 1 ELSE 0 END)
       |        - sum(CASE WHEN tok AND sem THEN 1 ELSE 0 END) AS BIGINT)
       |    ELSE 10000 END AS jaccard_bp
       |FROM j""".stripMargin

  /** DuckDB-side cosine between two list(float) expressions: sequential
    * left-fold dot/norms in double — bit-equal to `CosineSimilarity`.
    */
  private def cosSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)
       |  / (sqrt(list_reduce(list_transform($a, x -> CAST(x AS DOUBLE)*x), (x,y) -> x+y))
       |   * sqrt(list_reduce(list_transform($b, x -> CAST(x AS DOUBLE)*x), (x,y) -> x+y)))""".stripMargin

  /** Shared fake-decode arithmetic in SQL (mirrors Multimodal.fakeDecode:
    * strlen = blob byte length of the ASCII text).
    */
  private val decodeOracle =
    """SELECT doc_id,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes,
      |  CAST(16 + strlen(text) % 64 AS INT) AS width,
      |  CAST(16 + (strlen(text) * 7) % 64 AS INT) AS height,
      |  CAST(1 + strlen(text) % 8 AS INT) AS n_frames,
      |  CASE WHEN strlen(text) % 3 = 0 THEN 'img'
      |       WHEN strlen(text) % 3 = 1 THEN 'audio'
      |       ELSE 'video' END AS format
      |FROM documents""".stripMargin

  /** Exact brute-force cosine top-10 oracle for the vec_id%25 query set,
    * shared by l06 (the exact plan) and the l22/l23 recall gates (where
    * only its COUNT is needed — the approximate side is seeded-
    * deterministic, so "recall >= floor" is a fixed boolean the oracle
    * can assert as literal TRUE).
    */
  private def cosineTopkOracle =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb
       |  FROM embeddings WHERE vec_id % 25 = 0),
       |s AS (
       |  SELECT q_id, vec_id AS c_id,
       |    ${cosSql("q_emb", "embedding")} AS cos
       |  FROM q JOIN embeddings ON vec_id <> q_id)
       |SELECT q_id, c_id, cos, rk FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, c_id) AS INT) AS rk
       |  FROM s) WHERE rk <= 10""".stripMargin

  /** Exact all-pairs cosine near-dup oracle, shared by l05 (exact plan)
    * and l21 (LSH plan): the LSH path must reproduce the exact answer on
    * the fixtures (miss probability ~6e-6 per pair at cos>=0.4, and the
    * seeded hyperplanes make the outcome a fixed set, so equality is
    * verified, not hoped for — the same contract as l03 vs l02).
    */
  private def embedPairsOracle(threshold: Double) =
    s"""SELECT * FROM (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${cosSql("a.embedding", "b.embedding")} AS cos
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
       |WHERE cos >= $threshold""".stripMargin

  /** l83/l86's shared assembly: train the order-n count LM on the
    * clean slice, score every document (one checkpointed per-doc
    * frame), and emit the band census + top/bottom-10 card.
    */
  private def perplexityCard(s: org.apache.spark.sql.SparkSession,
      dir: String, order: Int): org.apache.spark.sql.DataFrame = {
    val d = Tables.load(s, dir, "documents")
    // the count tables come from the family's standing build
    // (NgramModelStore) — shared with l87/l88/t28/t31
    val model = graft.Trace.span(s, "lm", "model")(
      graft.operators.NgramModelStore.sharedBigram(s, dir, order))
    graft.Trace.span(s, "lm", "score")(
      cardOf(NgramLm.surprisalBits(d, "doc_id", "text", model, order)))
  }

  /** Band census + top/bottom-10 card over a (doc_id, n_scored,
    * total_bits, bpt) per-doc score frame (checkpointed once, shared
    * by the three sections).
    */
  private[queries] def cardOf(pd0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    cardSections(pd0.localCheckpoint(eager = true))

  /** The three card sections over an ALREADY-materialized per-doc
    * frame — split out so callers adding extra sections (l90's keep
    * census) share the one checkpoint.
    */
  private def cardSections(pd: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bands = pd
      .groupBy(floor(col("bpt")).cast("long").as("k"))
      .agg(count(lit(1)).as("n_docs"))
      .select(lit("band").as("section"), col("k"),
        lit(null).cast("long").as("doc_id"), col("n_docs"),
        lit(null).cast("long").as("n_scored"),
        lit(null).cast("long").as("total_bits"),
        lit(null).cast("double").as("bpt"))
    def extreme(tag: String, descending: Boolean) = {
      val key = if (descending) col("bpt").desc else col("bpt").asc
      pd.where(col("bpt").isNotNull)
        .orderBy(key, col("doc_id"))
        .limit(10)
        .withColumn("k",
          row_number().over(Window.orderBy(key, col("doc_id")))
            .cast("long"))
        .select(lit(tag).as("section"), col("k"), col("doc_id"),
          lit(null).cast("long").as("n_docs"), col("n_scored"),
          col("total_bits"), col("bpt"))
    }
    bands.unionByName(extreme("top", descending = true))
      .unionByName(extreme("bot", descending = false))
  }

  /** l90/l108's shared card assembly over a per-doc NB margin frame
    * (doc_id, n_scored, total_bits, bpt, is_dup): the l83 band/extremes
    * sections plus the keep census (margin >= 0, the Bayes decision)
    * and the confusion census vs the dedup labels (k = 2*keep +
    * is_dup). Checkpoints the frame once; all five sections read the
    * checkpoint.
    */
  private[queries] def nbCardOf(pd0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pd = pd0.localCheckpoint(eager = true)
    def census(tag: String, key: org.apache.spark.sql.Column) = pd
      .groupBy(key.as("k"))
      .agg(count(lit(1)).as("n_docs"))
      .select(lit(tag).as("section"), col("k"),
        lit(null).cast("long").as("doc_id"), col("n_docs"),
        lit(null).cast("long").as("n_scored"),
        lit(null).cast("long").as("total_bits"),
        lit(null).cast("double").as("bpt"))
    val keepBit = (col("total_bits") >= 0).cast("long")
    cardSections(pd.drop("is_dup"))
      .unionByName(census("keep",
        when(col("total_bits").isNotNull, keepBit)))
      .unionByName(census("conf",
        when(col("total_bits").isNotNull,
          keepBit * 2 + col("is_dup"))))
  }

  /** l61's recall card: semantic pairs found vs the exact all-pairs
    * twin, >= 85%. Semantic pairs are exact-verified, so sem is a
    * subset of exact and hits == |sem|.
    */
  private[queries] def semRecallCard(exactPairs: org.apache.spark.sql.DataFrame,
      semPairs: org.apache.spark.sql.DataFrame) =
    Gates.recall(exactPairs, semPairs, Seq("a_id", "b_id"), 85, "n_exact",
      "recall_ok")

  /** l62's prune card: the docs the semantic components drop vs those
    * the exact-pair components drop (derived by contracting the exact
    * pairs through the sem labels), >= 85%.
    */
  private[queries] def pruneCard(semLbl: org.apache.spark.sql.DataFrame,
      exactPairs: org.apache.spark.sql.DataFrame) = {
    def dropped(lbl: org.apache.spark.sql.DataFrame) =
      lbl.where(col("cluster_id") =!= col("doc_id"))
    Gates.recall(dropped(Dedup.coarsenedComponents(semLbl, exactPairs)),
      dropped(semLbl), Seq("doc_id"), 85, "n_exact_dropped", "prune_ok")
  }

  /** The l72 persisted-artifact write shape shared by the model-store
    * serve queries (l107-l110): save a frame as a catalog table at a
    * run-unique name under the query's staging dir, bucketed on the
    * serve join key when one exists — so a count table that outgrew
    * broadcast would still join shuffle-free on the index side.
    */
  private[queries] def saveStoreTable(out: String, pfx: String,
      df: org.apache.spark.sql.DataFrame, part: String,
      bucket: Option[String]): Unit = {
    val w0 = df.write.mode("overwrite").option("path", s"$out/$part")
    bucket.fold(w0)(k => w0.bucketBy(8, k)).saveAsTable(s"${pfx}_$part")
  }

  private val baseSpecs: Seq[QuerySpec] = Seq(

    QuerySpec(
      "l01_exact_dedup",
      "exact dedup: one keeper per identical text + group size (single hash aggregate)",
      (s, dir) => Dedup.exactGroups(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY text""".stripMargin)),

    QuerySpec(
      "l17_exact_dedup_digest",
      "exact dedup keyed on SHA-256 digests (the 100 TB shuffle shape: 32-byte keys, not whole documents); same groups as l01",
      (s, dir) => Dedup.exactGroupsByDigest(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY sha256(text)""".stripMargin)),

    QuerySpec(
      "l02_jaccard_pairs",
      "exact word-3-shingle Jaccard near-dup pairs (j >= 0.5)",
      (s, dir) => Dedup.jaccardPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text", 0.5),
      Some(jaccardOracle)),

    QuerySpec(
      "l03_minhash_lsh_pairs",
      "MinHash(192 perms) + LSH(32 bands) candidate pairs, exact-verified at j >= 0.5 — the 100 TB dedup path; oracle = exact Jaccard (zero expected LSH misses at this threshold)",
      (s, dir) => Dedup.minhashLshPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text", 0.5),
      Some(jaccardOracle)),

    QuerySpec(
      "l19_dedup_clusters",
      "near-dup clustering: connected components over the exact-Jaccard pair graph (cluster_id = min reachable doc id, the keeper); oracle = DuckDB recursive CTE",
      (s, dir) => Dedup.components(Dedup.jaccardPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text", 0.5)),
      Some(s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
              |p AS (
              |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
              |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |  WHERE len(a.s) + len(b.s) > 0
              |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
              |edges AS (
              |  SELECT a_id AS src, b_id AS dst FROM p
              |  UNION ALL SELECT b_id, a_id FROM p),
              |reach(node, lbl) AS (
              |  SELECT DISTINCT src, src FROM edges
              |  UNION
              |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node)
              |SELECT node AS doc_id, min(lbl) AS cluster_id
              |FROM reach GROUP BY node""".stripMargin)),

    QuerySpec(
      "l04_simhash_pairs",
      "64-bit shingle-SimHash near-dup pairs (hamming <= 3, 4x16-bit pigeonhole banding); seeded-hash sketch -> rows-only check",
      (s, dir) => Dedup.simhashPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      None),

    QuerySpec(
      "l05_embed_neardup",
      "embedding-cosine near-dup pairs (cos >= 0.4), exact all-pairs with the codegen'd cosine expression (the family's standing build — SemDedupStore — also the gate baseline of l30/l61/l62/l99)",
      (s, dir) => SemDedupStore.sharedExactPairs(s, dir),
      Some(embedPairsOracle(0.4))),

    QuerySpec(
      "l21_embed_neardup_lsh",
      "embedding-cosine near-dup pairs via multi-table hyperplane LSH + multi-probe + exact verify (the 100 TB twin of l05, mirroring l02/l03); oracle = exact all-pairs",
      (s, dir) => Similarity.lshNearDupPairs(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding", 0.4),
      Some(embedPairsOracle(0.4))),

    QuerySpec(
      "l06_cosine_topk",
      "exact brute-force cosine top-10 for a broadcast query subset (vec_id % 25 = 0)",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        Similarity.bruteForceTopK(
          e.where(col("vec_id") % 25 === 0), e, "vec_id", "embedding", 10)
      },
      Some(cosineTopkOracle)),

    QuerySpec(
      "l07_lsh_topk",
      "multi-table hyperplane-LSH approximate top-10 (4 tables x 4 bits, zero-shuffle per-row signatures); seeded-hash buckets -> rows-only check",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        Similarity.lshTopK(s,
          e.where(col("vec_id") % 25 === 0), e, "vec_id", "embedding", 10,
          bits = 4, tables = 4)
      },
      None),

    QuerySpec(
      "l16_ivf_topk",
      "IVF approximate top-10 (16 deterministic coarse centroids, 4-probe); sample-derived centroids -> rows-only check",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        Similarity.ivfTopK(s,
          e.where(col("vec_id") % 25 === 0), e, "vec_id", "embedding", 10)
      },
      None),

    QuerySpec(
      "l15_hof_dot",
      "higher-order-function dot product (zip_with + aggregate, codegen'd built-ins — the no-custom-Expression path): embedding . reverse(embedding) and |embedding|^2",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
            lit(0.0), (acc, x) => acc + x)
        e.select(col("vec_id"),
          dot(col("embedding"), col("embedding")).as("norm2"),
          dot(col("embedding"), reverse(col("embedding"))).as("dot_rev"))
      },
      Some("""SELECT vec_id,
             |  list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding)+1),
             |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
             |    (x,y) -> x+y) AS norm2,
             |  list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding)+1),
             |    i -> CAST(embedding[i] AS DOUBLE)
             |       * CAST(embedding[len(embedding)+1-i] AS DOUBLE))),
             |    (x,y) -> x+y) AS dot_rev
             |FROM embeddings""".stripMargin)),

    QuerySpec(
      "l20_token_topk",
      "corpus token-frequency profile: top-5 tokens per source (explode -> count -> tie-broken window top-k)",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tok = Tables.load(s, dir, "documents")
          .select(col("source"),
            explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
          .groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("tok"))
        tok.withColumn("rk", row_number().over(w))
          .where(col("rk") <= 5)
          .select(col("source"), col("tok"), col("n"), col("rk"))
      },
      Some("""SELECT source, tok, n, rk FROM (
             |  SELECT source, tok, count(*) AS n,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY count(*) DESC, tok) AS INT) AS rk
             |  FROM (SELECT source, unnest(string_split(trim(text), ' ')) AS tok
             |        FROM documents)
             |  GROUP BY source, tok)
             |WHERE rk <= 5""".stripMargin)),

    QuerySpec(
      "l08_lang_id",
      "language ID per document (marker-word heuristic + CJK codepoint check) vs the labeled lang",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred")),
      Some("""SELECT doc_id, lang,
             |  CASE
             |    WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
             |    WHEN len(regexp_extract_all(text, '\b(the|and|of|is)\b')) > 0
             |     AND len(regexp_extract_all(text, '\b(the|and|of|is)\b'))
             |         >= len(regexp_extract_all(text, '\b(der|die|das|und)\b'))
             |     AND len(regexp_extract_all(text, '\b(the|and|of|is)\b'))
             |         >= len(regexp_extract_all(text, '\b(el|los|las|que)\b'))
             |     AND len(regexp_extract_all(text, '\b(the|and|of|is)\b'))
             |         >= len(regexp_extract_all(text, '\b(le|les|et|est)\b'))
             |    THEN 'en'
             |    WHEN len(regexp_extract_all(text, '\b(der|die|das|und)\b')) > 0
             |     AND len(regexp_extract_all(text, '\b(der|die|das|und)\b'))
             |         >= len(regexp_extract_all(text, '\b(el|los|las|que)\b'))
             |     AND len(regexp_extract_all(text, '\b(der|die|das|und)\b'))
             |         >= len(regexp_extract_all(text, '\b(le|les|et|est)\b'))
             |    THEN 'de'
             |    WHEN len(regexp_extract_all(text, '\b(el|los|las|que)\b')) > 0
             |     AND len(regexp_extract_all(text, '\b(el|los|las|que)\b'))
             |         >= len(regexp_extract_all(text, '\b(le|les|et|est)\b'))
             |    THEN 'es'
             |    WHEN len(regexp_extract_all(text, '\b(le|les|et|est)\b')) > 0
             |    THEN 'fr'
             |    ELSE 'unknown' END AS lang_pred
             |FROM documents""".stripMargin)),

    QuerySpec(
      "l09_quality",
      "quality features + composite score per document (pure per-row IEEE arithmetic)",
      (s, dir) => TextAnalysis.qualityFeatures(
          Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
          "text")
        .drop("text"),
      Some("""WITH f AS (
             |  SELECT doc_id,
             |    len(string_split(trim(text), ' ')) AS n_tokens,
             |    length(text) AS n_chars_m,
             |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
             |      / len(string_split(trim(text), ' ')) AS avg_token_len,
             |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
             |      / length(text) AS punct_ratio,
             |    CAST(len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS DOUBLE)
             |      / len(string_split(trim(text), ' ')) AS stopword_ratio
             |  FROM documents)
             |SELECT doc_id, n_tokens, n_chars_m, avg_token_len, punct_ratio,
             |  stopword_ratio,
             |  (1.0 - punct_ratio) * (0.5 + stopword_ratio)
             |    * (CASE WHEN n_tokens >= 5 THEN 1.0 ELSE 0.25 END) AS quality_score
             |FROM f""".stripMargin)),

    QuerySpec(
      "l10_token_stats",
      "whitespace vs BPE-ish-regex token counts + char/byte lengths per document",
      (s, dir) => TextAnalysis.tokenStats(
          Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
          "text")
        .drop("text"),
      Some("""SELECT doc_id,
             |  len(string_split(trim(text), ' ')) AS ws_tokens,
             |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens,
             |  length(text) AS n_chars_m,
             |  strlen(text) AS n_bytes
             |FROM documents""".stripMargin)),

    QuerySpec(
      "l11_fingerprint",
      "rolling-hash document fingerprint (codegen'd Catalyst expression; oracle = DuckDB list_reduce over codepoints)",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp")),
      Some(s"""SELECT doc_id, $fpSql AS fp
              |FROM documents""".stripMargin)),

    QuerySpec(
      "l12_mm_decode",
      "multimodal: binary blob column + column-expression metadata decode (deterministic fake codec)",
      (s, dir) => Multimodal.decodeMetaCols(
          Multimodal.withBlob(Tables.load(s, dir, "documents"), "text"))
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.n_frames").as("n_frames"), col("meta.format").as("format")),
      Some(decodeOracle)),

    QuerySpec(
      "l13_mm_batched",
      "multimodal: batched mapPartitions decode (the real-codec plumbing shape) — must agree bit-for-bit with the column path",
      (s, dir) => Multimodal.decodeMetaBatched(
          Multimodal.withBlob(Tables.load(s, dir, "documents"), "text"),
          "doc_id")
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.n_frames").as("n_frames"), col("meta.format").as("format")),
      Some(decodeOracle)),

    QuerySpec(
      "l18_mm_features",
      "multimodal: batched feature extraction (blob -> normalized float vector via mapPartitions, the model-inference plumbing shape); exploded to one row per element so the float bits are oracle-hashable",
      (s, dir) => Multimodal.extractFeaturesBatched(
          Multimodal.withBlob(Tables.load(s, dir, "documents"), "text"),
          "doc_id")
        .select(col("doc_id"), posexplode(col("feature")))
        .select(col("doc_id"), col("pos").cast("int").as("idx"),
          col("col").cast("double").as("fval")),
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    CAST(strlen(text) AS DOUBLE) AS n,
             |    CAST(16 + strlen(text) % 64 AS DOUBLE) AS w,
             |    CAST(16 + (strlen(text) * 7) % 64 AS DOUBLE) AS h,
             |    CAST(1 + strlen(text) % 8 AS DOUBLE) AS f
             |  FROM documents),
             |fvec AS (
             |  SELECT doc_id,
             |    list_transform([n, w, h, f],
             |      x -> CAST(x * (1.0 / sqrt(n*n + w*w + h*h + f*f)) AS REAL)) AS feature
             |  FROM m)
             |SELECT doc_id, CAST(idx AS INT) AS idx,
             |  CAST(feature[idx + 1] AS DOUBLE) AS fval
             |FROM (SELECT doc_id, feature, unnest(range(0, 4)) AS idx FROM fvec)""".stripMargin)),

    QuerySpec(
      "l14_mm_frames",
      "multimodal: frame sampling generator (every 2nd frame index per decoded doc)",
      (s, dir) => Multimodal.sampleFrames(
          Multimodal.decodeMetaCols(
            Multimodal.withBlob(Tables.load(s, dir, "documents"), "text")))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx")),
      Some("""SELECT doc_id, frame_idx FROM (
             |  SELECT doc_id,
             |    unnest(range(0, CAST(1 + strlen(text) % 8 AS BIGINT))) AS frame_idx
             |  FROM documents)
             |WHERE frame_idx % 2 = 0""".stripMargin)),

    // ----- recall gates: the approximate paths (l07/l16/l04), driver-graded.
    // The sketches are seeded-deterministic, so recall vs the exact twin is
    // a FIXED number per fixture, and "recall >= floor" is a stable boolean
    // the DuckDB oracle asserts as literal TRUE (same contract as r09's HLL
    // error bound). Floors sit under the measured values at sf0.001/0.01/0.1
    // (measured: LSH 0.41-0.49, IVF 0.48-0.54, SimHash r 0.49-0.56 /
    // p 1.0) with margin, so a real regression — a broken signature, a
    // dropped table, an aliased bucket mask — flips the boolean and fails
    // the hash, while fixture-scale noise cannot. Integer cross-multiply,
    // no FP.

    QuerySpec(
      "l22_lsh_recall",
      "recall gate for l07: |lshTopK intersect exact topk| >= 35% of the exact set (measured 0.41-0.49 across sf); oracle = exact side count + literal true",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val q = e.where(col("vec_id") % 25 === 0)
        Gates.recall(
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 10),
          Similarity.lshTopK(s, q, e, "vec_id", "embedding", 10,
            bits = 4, tables = 4),
          Seq("q_id", "c_id"), 35, "n_exact", "recall_ok")
      },
      Some(s"""SELECT count(*) AS n_exact, TRUE AS recall_ok
              |FROM ($cosineTopkOracle) x""".stripMargin)),

    QuerySpec(
      "l23_ivf_recall",
      "recall gate for l16: |ivfTopK intersect exact topk| >= 40% of the exact set (measured 0.48-0.54 across sf); oracle = exact side count + literal true",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val q = e.where(col("vec_id") % 25 === 0)
        Gates.recall(
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 10),
          Similarity.ivfTopK(s, q, e, "vec_id", "embedding", 10),
          Seq("q_id", "c_id"), 40, "n_exact", "recall_ok")
      },
      Some(s"""SELECT count(*) AS n_exact, TRUE AS recall_ok
              |FROM ($cosineTopkOracle) x""".stripMargin)),

    QuerySpec(
      "l24_simhash_gate",
      "precision/recall gate for l04: simhashPairs vs the exact Jaccard pairs — recall >= 40% (measured 0.49-0.56) and precision >= 95% (measured 1.0); oracle = exact pair count + literal trues",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Gates.overlap(Dedup.jaccardPairs(docs, "doc_id", "text", 0.5),
            Dedup.simhashPairs(docs, "doc_id", "text"), Seq("a_id", "b_id"))
          .select(col("n_truth"),
            (col("n_hit") * 100 >= col("n_truth") * 40).as("recall_ok"),
            (col("n_hit") * 100 >= col("n_pred") * 95).as("precision_ok"))
      },
      Some(s"""SELECT count(*) AS n_truth, TRUE AS recall_ok,
              |  TRUE AS precision_ok
              |FROM ($jaccardOracle) x""".stripMargin)),

    QuerySpec(
      "l30_embed_lsh_scaled_bits",
      "the l21 bits-vs-corpus dial made driver-visible: same LSH near-dup pipeline at 6 bits x 10 tables (64 vs 16 buckets/table -> ~4x smaller candidate volume) traded for a bounded recall dip — measured 0.97-1.0 across sf, gated at >= 90% of the exact pair set",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        Gates.recall(SemDedupStore.sharedExactPairs(s, dir),
          Similarity.lshNearDupPairs(e, "vec_id", "embedding", 0.4,
            bits = 6, tables = 10),
          Seq("a_id", "b_id"), 90, "n_exact", "recall_ok")
      },
      Some(s"""SELECT count(*) AS n_exact, TRUE AS recall_ok
              |FROM (${embedPairsOracle(0.4)}) x""".stripMargin)),

    QuerySpec(
      "l25_tfidf_topk",
      "per-document salient terms: top-3 tokens by tf * N/df (rational-idf TF-IDF — no libm, oracle-exact); tf = one (doc,token) hash agg, df re-aggregates tf's output, bounded per-doc window",
      (s, dir) => TextAnalysis.tfIdfTopK(
        Tables.load(s, dir, "documents"), "doc_id", "text", 3),
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
             |  FROM documents),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
             |n AS (SELECT count(*) AS n FROM documents)
             |SELECT doc_id, tok, tf, df, score, rk FROM (
             |  SELECT doc_id, tok, tf, df,
             |    CAST(tf AS DOUBLE) * n / df AS score,
             |    CAST(row_number() OVER (PARTITION BY doc_id
             |      ORDER BY CAST(tf AS DOUBLE) * n / df DESC, tok) AS INT) AS rk
             |  FROM tf JOIN df USING (tok) CROSS JOIN n)
             |WHERE rk <= 3""".stripMargin)),

    QuerySpec(
      "l26_int8_quantize",
      "symmetric int8 scalar quantization of the embedding column (floor(x/max|x|*127+0.5), per-row codegen'd built-ins, shuffle-free), exploded to one row per element for oracle hashing",
      (s, dir) => Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(
          graft.functions.VectorFunctions.int8Quantize(col("embedding"))))
        .select(col("vec_id"), col("pos").cast("int").as("idx"),
          col("col").as("q")),
      Some("""WITH m AS (
             |  SELECT vec_id, embedding,
             |    list_reduce(list_prepend(0.0,
             |        list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
             |      (a, b) -> greatest(a, b)) AS mx
             |  FROM embeddings)
             |SELECT vec_id, CAST(idx AS INT) AS idx,
             |  CAST(floor(CAST(embedding[idx + 1] AS DOUBLE)
             |    / (CASE WHEN mx = 0 THEN 1.0 ELSE mx END) * 127 + 0.5) AS BIGINT) AS q
             |FROM (SELECT vec_id, embedding, mx,
             |        unnest(range(0, len(embedding))) AS idx FROM m)""".stripMargin)),

    QuerySpec(
      "l27_hash_split",
      "deterministic content-hash train/val/test split (80/10/10 on fp%100) + per-source mixture sampling (even-suffix sources 60%, odd 30%, on (fp div 100)%100): re-runs and near-dup copies land identically; per-row, shuffle-free",
      (s, dir) => TextAnalysis.hashSplit(
        Tables.load(s, dir, "documents"), "doc_id", "text", 80, 10,
        keepRate = when(
          substring(col("source"), 4, 10).cast("int") % 2 === 0, 60)
          .otherwise(30)),
      Some(s"""WITH f AS (
              |  SELECT doc_id, source,
              |    $fpSql AS fp
              |  FROM documents)
             |SELECT doc_id,
             |  CASE WHEN fp % 100 < 80 THEN 'train'
             |       WHEN fp % 100 < 90 THEN 'val'
             |       ELSE 'test' END AS split,
             |  ((fp // 100) % 100) < (CASE WHEN CAST(source[4:] AS INT) % 2 = 0
             |                              THEN 60 ELSE 30 END) AS kept
             |FROM f""".stripMargin)),

    QuerySpec(
      "l28_chunk_windows",
      "fixed token-window chunking with overlap (window 32, stride 24 — context-window packing prep): one narrow generate per doc, no shuffle",
      (s, dir) => TextAnalysis.chunkWindows(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH d AS (
             |  SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tok
             |  FROM documents)
             |SELECT doc_id, n_tok, start_tok,
             |  start_tok // 24 AS chunk_idx,
             |  least(32, n_tok - start_tok) AS chunk_tokens
             |FROM (SELECT doc_id, n_tok, unnest(range(0, n_tok, 24)) AS start_tok
             |      FROM d WHERE n_tok > 0)""".stripMargin)),

    QuerySpec(
      "l32_keep_best",
      "quality-keeper dedup (the production curation flow): near-dup clusters via connected components, keeper = highest quality_score per cluster (ties to smallest id), singletons keep themselves; oracle composes the recursive-CTE clustering with the l09 quality formula",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val scored = TextAnalysis.qualityFeatures(
            docs.select(col("doc_id"), col("text")), "text")
          .select(col("doc_id"), col("quality_score"))
        Dedup.keepBest(scored,
          Dedup.jaccardPairs(docs, "doc_id", "text", 0.5),
          "doc_id", "quality_score")
      },
      Some(s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
              |p AS (
              |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
              |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |  WHERE len(a.s) + len(b.s) > 0
              |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
              |edges AS (
              |  SELECT a_id AS src, b_id AS dst FROM p
              |  UNION ALL SELECT b_id, a_id FROM p),
              |reach(node, lbl) AS (
              |  SELECT DISTINCT src, src FROM edges
              |  UNION
              |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
              |comp AS (
              |  SELECT node AS doc_id, min(lbl) AS cluster_id
              |  FROM reach GROUP BY node),
              |q AS (
              |  SELECT doc_id,
              |    (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
              |             / length(text))
              |    * (0.5 + CAST(len(regexp_extract_all(text, '\\b(the|a|of|and|is)\\b')) AS DOUBLE)
              |             / len(string_split(trim(text), ' ')))
              |    * (CASE WHEN len(string_split(trim(text), ' ')) >= 5
              |            THEN 1.0 ELSE 0.25 END) AS score
              |  FROM documents),
              |lab AS (
              |  SELECT q.doc_id, COALESCE(c.cluster_id, q.doc_id) AS cluster_id,
              |    q.score
              |  FROM q LEFT JOIN comp c ON q.doc_id = c.doc_id)
              |SELECT cluster_id, keep_id, n_members FROM (
              |  SELECT cluster_id, doc_id AS keep_id,
              |    count(*) OVER (PARTITION BY cluster_id) AS n_members,
              |    row_number() OVER (PARTITION BY cluster_id
              |      ORDER BY score DESC, doc_id) AS rk
              |  FROM lab) WHERE rk = 1""".stripMargin)),

    QuerySpec(
      "l31_split_leakage",
      "train/test leakage guarantee of the content-hash split: identical documents CANNOT land in different splits (assignment is a function of the text alone) — counts duplicate pairs and asserts zero cross-split ones; oracle recomputes the pair count and the guaranteed zero",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val tagged = docs
          .select(col("doc_id"), sha2(col("text"), 256).as("dig"))
          .join(TextAnalysis.hashSplit(docs, "doc_id", "text", 80, 10,
            keepRate = lit(100)).select(col("doc_id"), col("split")), "doc_id")
        val a = tagged.select(col("doc_id").as("a_id"), col("dig"),
          col("split").as("a_split"))
        val b = tagged.select(col("doc_id").as("b_id"),
          col("dig").as("dig_b"), col("split").as("b_split"))
        a.join(b, col("dig") === col("dig_b") && col("a_id") < col("b_id"))
          .agg(count(lit(1)).as("n_dup_pairs"),
            count(when(col("a_split") =!= col("b_split"), 1))
              .as("n_cross_split"))
      },
      Some("""SELECT count(*) AS n_dup_pairs,
             |  CAST(0 AS BIGINT) AS n_cross_split
             |FROM documents a JOIN documents b
             |  ON sha256(a.text) = sha256(b.text) AND a.doc_id < b.doc_id""".stripMargin)),

    QuerySpec(
      "l29_clean_text",
      "curation scrub: strip URLs/emails, collapse whitespace, trim (per-row regexp chain); emits the cleaned text plus chars-removed so the transform itself is hash-checked",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TextAnalysis.cleanText(col("text")).as("clean_text"))
        .select(col("doc_id"), col("clean_text"),
          (length(col("text")) - length(col("clean_text"))).cast("long")
            .as("n_removed")),
      Some("""SELECT doc_id, clean_text,
             |  length(text) - length(clean_text) AS n_removed
             |FROM (
             |  SELECT doc_id, text,
             |    trim(regexp_replace(regexp_replace(regexp_replace(text,
             |      'https?://\S+', '', 'g'), '\S+@\S+', '', 'g'),
             |      '\s+', ' ', 'g')) AS clean_text
             |  FROM documents)""".stripMargin)),

    QuerySpec(
      "l33_repetition",
      "Gopher-style repetition signals per doc: distinct-token ratio, top-token mass fraction, top-bigram mass fraction (wordcount-shaped: map-side-combined (doc,gram) counts, doc-partitioned top pick, lexicographic tie-break)",
      (s, dir) => TextAnalysis.repetitionSignals(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
             |base AS (
             |  SELECT doc_id, t, len(t) AS n_tokens FROM toks WHERE len(t) > 0),
             |uni AS (SELECT doc_id, unnest(t) AS g FROM base),
             |uc AS (SELECT doc_id, g, count(*) AS c FROM uni GROUP BY 1, 2),
             |nd AS (SELECT doc_id, count(*) AS n_distinct FROM uc GROUP BY 1),
             |tu AS (SELECT doc_id, c FROM (
             |  SELECT doc_id, c,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rk
             |  FROM uc) WHERE rk = 1),
             |bi AS (SELECT doc_id,
             |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
             |  FROM base WHERE n_tokens >= 2),
             |bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
             |tb AS (SELECT doc_id, c FROM (
             |  SELECT doc_id, c,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rk
             |  FROM bc) WHERE rk = 1)
             |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
             |  CAST(nd.n_distinct AS BIGINT) AS n_distinct,
             |  CAST(nd.n_distinct AS DOUBLE) / b.n_tokens AS distinct_ratio,
             |  CAST(tu.c AS DOUBLE) / b.n_tokens AS top_token_fraction,
             |  coalesce(CAST(tb.c AS DOUBLE) / (b.n_tokens - 1), 0.0)
             |    AS top_bigram_fraction
             |FROM base b JOIN nd USING (doc_id) JOIN tu USING (doc_id)
             |LEFT JOIN tb USING (doc_id)""".stripMargin)),

    QuerySpec(
      "l34_shard_pack",
      "deterministic training-shard packing: content-hash pseudo-shuffle order, scalable range-partitioned prefix sum of token counts, shard = floor(cum_before / 2048) — re-runs reproduce the layout exactly",
      (s, dir) => TextAnalysis.shardPack(
        Tables.load(s, dir, "documents"), "doc_id", "text", shardTokens = 2048L),
      Some(s"""WITH f AS (
              |  SELECT doc_id,
              |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok,
              |    $fpSql AS fp
              |  FROM documents),
             |c AS (SELECT doc_id, n_tok,
             |    CAST(sum(n_tok) OVER (ORDER BY fp, doc_id) - n_tok AS BIGINT)
             |      AS cum_before
             |  FROM f)
             |SELECT doc_id, n_tok, CAST(cum_before // 2048 AS BIGINT) AS shard
             |FROM c""".stripMargin)),

    QuerySpec(
      "l35_filter_ledger",
      "curation funnel report: ordered filter chain (too_short -> wrong_lang -> blocked_source) with first-failing-rule attribution plus independent per-rule hit counts and a kept row, in one pass",
      (s, dir) => TextAnalysis.filterLedger(
        Tables.load(s, dir, "documents"), Seq(
          "too_short" -> (col("n_chars") < 250),
          "wrong_lang" -> !col("lang").isin("en", "de"),
          "blocked_source" ->
            (substring(col("source"), 4, 10).cast("int") % 7 === 0))),
      Some("""WITH f AS (SELECT
             |    n_chars < 250 AS f1,
             |    lang NOT IN ('en', 'de') AS f2,
             |    (CAST(substr(source, 4) AS INT) % 7) = 0 AS f3
             |  FROM documents),
             |a AS (SELECT
             |    count(*) FILTER (WHERE f1) AS t1,
             |    count(*) FILTER (WHERE f2) AS t2,
             |    count(*) FILTER (WHERE f3) AS t3,
             |    count(*) FILTER (WHERE f1) AS d1,
             |    count(*) FILTER (WHERE NOT f1 AND f2) AS d2,
             |    count(*) FILTER (WHERE NOT f1 AND NOT f2 AND f3) AS d3,
             |    count(*) FILTER (WHERE NOT f1 AND NOT f2 AND NOT f3) AS kept
             |  FROM f)
             |SELECT 'too_short' AS rule, d1 AS first_drop, t1 AS total_fail FROM a
             |UNION ALL SELECT 'wrong_lang', d2, t2 FROM a
             |UNION ALL SELECT 'blocked_source', d3, t3 FROM a
             |UNION ALL SELECT 'kept', kept, kept FROM a""".stripMargin)),

    QuerySpec(
      "l36_decontam",
      "eval-set decontamination: corpus docs sharing any word 4-shingle with an eval doc (doc_id % 50 = 0 plays the benchmark set), broadcast eval shingles, self-matches excluded — the pre-training leak check",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        TextAnalysis.decontaminate(docs,
          docs.where(col("doc_id") % 50 === 0), "doc_id", "text", k = 4)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(t) >= 4
             |      THEN list_distinct([array_to_string(t[i:i+3], ' ')
             |                          for i in range(1, len(t)-2)])
             |      ELSE [] END AS s
             |  FROM toks),
             |ev AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh
             |       WHERE doc_id % 50 = 0),
             |co AS (SELECT doc_id, unnest(s) AS g FROM sh)
             |SELECT co.doc_id, count(*) AS n_shared_shingles,
             |  count(DISTINCT ev.eval_id) AS n_eval_docs
             |FROM co JOIN ev ON co.g = ev.g AND co.doc_id <> ev.eval_id
             |GROUP BY 1""".stripMargin)),

    QuerySpec(
      "l37_cms_heavy_hitters",
      "Count-Min-sketch heavy hitters with checkable error bounds: exact top-20 tokens (the l20 shape) each gated by the CMS guarantees — estimate >= exact (always) and <= exact + ceil(eps*N) (at the configured confidence; deterministic for the seeded fixture) — a sketch regression flips a boolean and fails the hash",
      (s, dir) => graft.operators.Sketches.cmsHeavyHitters(
        Tables.load(s, dir, "documents")
          .select(explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("tok")),
        "tok", k = 20),
      Some("""WITH tok AS (
             |  SELECT unnest(string_split(trim(text), ' ')) AS item
             |  FROM documents),
             |c AS (SELECT item, count(*) AS exact_cnt FROM tok GROUP BY 1
             |      ORDER BY exact_cnt DESC, item LIMIT 20)
             |SELECT item, exact_cnt, true AS ge_exact, true AS within_eps
             |FROM c""".stripMargin)),

    QuerySpec(
      "l38_blocklist_bloom",
      "bloom-routed blocklist removal: drop corpus docs whose sha-256 digest is on a blocklist (docs with doc_id % 37 = 0 play the list, so their exact dupes are caught too); bloom-negative rows bypass the anti-join shuffle, maybes are exactly verified — result must hash-match the plain anti-join",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), sha2(col("text"), 256).as("dig"))
          // pin NULL semantics: a NULL digest (NULL text) is neither
          // blockable nor matchable — excluded on both engines, so the
          // anti-join and the oracle's NOT IN can never diverge on it
          .where(col("dig").isNotNull)
        val block = docs.where(col("doc_id") % 37 === 0).select(col("dig"))
        graft.operators.Sketches
          .blocklistFilter(docs, block, "dig", "dig", fpp = 0.05)
          .select(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, sha256(text) AS dig FROM documents
             |        WHERE sha256(text) IS NOT NULL),
             |b AS (SELECT dig FROM d WHERE doc_id % 37 = 0)
             |SELECT doc_id FROM d
             |WHERE dig NOT IN (SELECT dig FROM b)""".stripMargin)),

    QuerySpec(
      "l39_group_cap",
      "domain-mix rebalancing: cap each language at 100 documents, chosen deterministically by content hash (re-runs keep the same docs); Spark 4 plans the rank filter as a map-side WindowGroupLimit, so skewed groups never fully sort",
      (s, dir) => TextAnalysis.capPerGroup(
        Tables.load(s, dir, "documents"), "doc_id", "text", "lang", 100),
      Some(s"""WITH f AS (SELECT doc_id, lang, $fpSql AS fp FROM documents)
              |SELECT doc_id, lang, rk FROM (
              |  SELECT doc_id, lang,
              |    row_number() OVER (PARTITION BY lang ORDER BY fp, doc_id) AS rk
              |  FROM f) WHERE rk <= 100""".stripMargin)),

    QuerySpec(
      "l40_training_order",
      "deterministic global shuffle into training shards: content-hash permutation -> (shard, pos), shard size 64; computed with NO global window (range partitions + broadcast offsets, the l34 decomposition), oracle = one global ROW_NUMBER",
      (s, dir) => TextAnalysis.trainingOrder(
        Tables.load(s, dir, "documents"), "doc_id", "text", shardSize = 64),
      Some(s"""WITH f AS (SELECT doc_id, $fpSql AS fp FROM documents),
              |r AS (SELECT doc_id,
              |        row_number() OVER (ORDER BY fp, doc_id) - 1 AS rn
              |      FROM f)
              |SELECT doc_id, rn // 64 AS shard, rn % 64 AS pos FROM r""".stripMargin)),

    QuerySpec(
      "l41_semdedup_keep",
      "SemDeDup-style embedding-cluster keeper: connected components over the LSH near-dup pair graph (exact-verified candidates, the l21 recall contract at an easier threshold), keeper = largest-squared-norm member (ties to smallest id), singletons keep themselves; oracle = recursive CTE over exact pairs + the l15 fold norm. Threshold 0.5, NOT l05/l21's 0.4: on the random fixture embeddings 0.4 sits in the cosine distribution's bulk at sf0.1 and percolates ~60% of the corpus into one diameter-15 chain blob (16 propagation rounds of pure fixture artifact); 0.5 yields the cliquish components semantic dedup actually targets, which the seeded label propagation lands in one round",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val scored = e.select(col("vec_id"),
          aggregate(
            zip_with(col("embedding"), col("embedding"),
              (x, y) => x.cast("double") * y.cast("double")),
            lit(0.0), (acc, x) => acc + x).as("sqnorm"))
        Dedup.keepBest(scored,
          Similarity.lshNearDupPairs(e, "vec_id", "embedding", 0.5),
          "vec_id", "sqnorm")
      },
      Some(s"""WITH RECURSIVE p AS (
              |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
              |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.5),
              |edges AS (
              |  SELECT a_id AS src, b_id AS dst FROM p
              |  UNION ALL SELECT b_id, a_id FROM p),
              |reach(node, lbl) AS (
              |  SELECT DISTINCT src, src FROM edges
              |  UNION
              |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
              |comp AS (
              |  SELECT node AS vec_id, min(lbl) AS cluster_id
              |  FROM reach GROUP BY node),
              |q AS (
              |  SELECT vec_id,
              |    list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding)+1),
              |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
              |      (x,y) -> x+y) AS sqnorm
              |  FROM embeddings),
              |lab AS (
              |  SELECT q.vec_id, COALESCE(c.cluster_id, q.vec_id) AS cluster_id,
              |    q.sqnorm
              |  FROM q LEFT JOIN comp c ON q.vec_id = c.vec_id)
              |SELECT cluster_id, keep_id, n_members FROM (
              |  SELECT cluster_id, vec_id AS keep_id,
              |    count(*) OVER (PARTITION BY cluster_id) AS n_members,
              |    row_number() OVER (PARTITION BY cluster_id
              |      ORDER BY sqnorm DESC, vec_id) AS rk
              |  FROM lab) WHERE rk = 1""".stripMargin)),

    QuerySpec(
      "l42_dup_passages",
      "repeated-passage detector (substring-level dedup diagnostic): word 6-shingles contained in >=2 documents, top-50 by containing-doc count with lexicographic tie-break — the verbatim passages a model would memorize",
      (s, dir) => Dedup.dupPassages(
        Tables.load(s, dir, "documents"), "text", k = 6),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
             |sh AS (
             |  SELECT doc_id, CASE WHEN len(t) >= 6
             |    THEN list_distinct([array_to_string(t[i:i+5], ' ')
             |                        for i in range(1, len(t)-4)])
             |    ELSE [] END AS s
             |  FROM toks),
             |e AS (SELECT doc_id, unnest(s) AS passage FROM sh)
             |SELECT passage, n_docs FROM (
             |  SELECT passage, count(*) AS n_docs FROM e GROUP BY passage
             |  HAVING count(*) >= 2)
             |ORDER BY n_docs DESC, passage LIMIT 50""".stripMargin)),

    QuerySpec(
      "l43_mm_resize",
      "multimodal: resize transform scaling decoded width/height by 3/4 (integer floor) — the narrow column-op-over-meta shape a real codec resize shares (the blob transform itself is the stubbed codec call); oracle recomputes the scaled dimensions",
      (s, dir) => Multimodal.resizeMeta(
          Multimodal.decodeMetaCols(
            Multimodal.withBlob(Tables.load(s, dir, "documents"), "text")),
          num = 3, den = 4)
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.n_frames").as("n_frames"), col("meta.format").as("format")),
      Some("""SELECT doc_id,
             |  CAST(strlen(text) AS BIGINT) AS n_bytes,
             |  CAST((16 + strlen(text) % 64) * 3 // 4 AS INT) AS width,
             |  CAST((16 + (strlen(text) * 7) % 64) * 3 // 4 AS INT) AS height,
             |  CAST(1 + strlen(text) % 8 AS INT) AS n_frames,
             |  CASE WHEN strlen(text) % 3 = 0 THEN 'img'
             |       WHEN strlen(text) % 3 = 1 THEN 'audio'
             |       ELSE 'video' END AS format
             |FROM documents""".stripMargin)),

    QuerySpec(
      "l44_vocab_quality",
      "vocabulary-coverage quality score (the shuffle-light stand-in for LM-perplexity filtering): fraction of each doc's tokens drawn from the corpus top-500 vocab; vocab boundary fully tie-broken (count DESC, token ASC), counts pure-integer so the rate is one per-row IEEE division",
      (s, dir) => TextAnalysis.vocabHitRate(
        Tables.load(s, dir, "documents"), "doc_id", "text", vocabSize = 500),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
             |  FROM documents),
             |vocab AS (
             |  SELECT tok FROM (
             |    SELECT tok, count(*) AS c FROM toks GROUP BY tok)
             |  ORDER BY c DESC, tok LIMIT 500)
             |SELECT t.doc_id,
             |  count(*) AS n_tokens,
             |  count(v.tok) AS n_vocab_hits,
             |  CAST(count(v.tok) AS DOUBLE) / count(*) AS hit_rate
             |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
             |GROUP BY t.doc_id""".stripMargin)),

    QuerySpec(
      "l45_embed_outlier",
      "per-label centroid-distance outliers over an integer-quantized grid (floor(x*1000)): score = sum_d (n*q_d - S_d)^2 is exact integer arithmetic on both engines (shuffled double sums would hash-differ by merge order); top-50 out-of-distribution vectors, the pre-training mislabel/noise filter",
      (s, dir) => Similarity.centroidOutliers(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding", "label",
        scale = 1000, k = 50),
      Some("""WITH q AS (
             |  SELECT vec_id, label,
             |    unnest([{'pos': i,
             |             'qv': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000)
             |                        AS BIGINT)}
             |            for i in range(1, len(embedding) + 1)],
             |           recursive := true)
             |  FROM embeddings),
             |st AS (
             |  SELECT label, pos, sum(qv) AS s, count(*) AS n
             |  FROM q GROUP BY label, pos),
             |d AS (
             |  SELECT q.vec_id, q.label,
             |    sum((q.qv * st.n - st.s) * (q.qv * st.n - st.s)) AS sdist2
             |  FROM q JOIN st ON q.label = st.label AND q.pos = st.pos
             |  GROUP BY q.vec_id, q.label)
             |SELECT vec_id, label, CAST(sdist2 AS BIGINT) AS sdist2 FROM d
             |ORDER BY sdist2 DESC, vec_id LIMIT 50""".stripMargin)),

    QuerySpec(
      "l46_knn_classify",
      "brute-force 10-NN majority-vote label prediction (leave-one-out) — the embedding-quality eval harness; fully tie-broken at both stages (cos DESC, neighbor id; votes DESC, label ASC); the scale path feeds the same vote from LSH/IVF candidates (l07/l16) instead of the cross product",
      (s, dir) => Similarity.knnClassify(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding", "label",
        k = 10),
      Some(s"""WITH sc AS (
              |  SELECT a.vec_id AS a_id, a.label AS a_label,
              |    b.vec_id AS b_id, b.label AS b_label,
              |    ${cosSql("a.embedding", "b.embedding")} AS cos
              |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
              |topk AS (
              |  SELECT a_id, a_label, b_label FROM (
              |    SELECT a_id, a_label, b_label,
              |      row_number() OVER (PARTITION BY a_id
              |        ORDER BY cos DESC, b_id) AS rk
              |    FROM sc) WHERE rk <= 10),
              |votes AS (
              |  SELECT a_id, a_label, b_label, count(*) AS n_votes
              |  FROM topk GROUP BY a_id, a_label, b_label)
              |SELECT a_id AS vec_id, a_label AS true_label,
              |  b_label AS pred_label,
              |  CASE WHEN a_label = b_label THEN 1 ELSE 0 END AS correct
              |FROM (
              |  SELECT a_id, a_label, b_label,
              |    row_number() OVER (PARTITION BY a_id
              |      ORDER BY n_votes DESC, b_label) AS vk
              |  FROM votes) WHERE vk = 1""".stripMargin)),

    QuerySpec(
      "l47_bm25",
      "BM25 lexical retrieval for a 3-term query (k1=1.2, b=0.75), top-20 docs — the sparse half of hybrid search next to l06/l16's dense half; idf uses the RATIONAL (N-df+0.5)/(df+0.5) form so the score stays inside the no-libm determinism contract — per-term monotone in df, but NOT rank-identical to ln-idf for multi-term sums (a per-term monotone transform need not preserve the ranking of sums); this is the project's deliberate no-libm BM25 variant, and the oracle applies the same formula; per-term tf is a filter-HOF count, corpus stats are one scalar row attached by broadcast",
      (s, dir) => {
        val terms = Seq("scan", "window", "merge")
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.TextFunctions.tokens(col("text")).as("toks"))
          .withColumn("dl", size(col("toks")).cast("double"))
        val withTf = terms.zipWithIndex.foldLeft(d) { case (df, (t, i)) =>
          df.withColumn(s"tf$i",
            size(filter(col("toks"), x => x === lit(t))).cast("double"))
        }
        val stats = withTf.agg(
          count(lit(1)).cast("double").as("n"),
          QuerySpec.decSum(col("dl")).as("sdl"),
          sum(when(col("tf0") > 0, 1L).otherwise(0L)).cast("double").as("df0"),
          sum(when(col("tf1") > 0, 1L).otherwise(0L)).cast("double").as("df1"),
          sum(when(col("tf2") > 0, 1L).otherwise(0L)).cast("double").as("df2"))
        def part(i: Int) =
          (((col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
            * (col(s"tf$i") * lit(2.2)))
            ./(col(s"tf$i") + lit(1.2) * (lit(0.25)
              + lit(0.75) * col("dl") / (col("sdl") / col("n"))))
        withTf.crossJoin(broadcast(stats))
          .select(col("doc_id"),
            (part(0) + part(1) + part(2)).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS dl,
             |    CAST(len(list_filter(string_split(trim(text), ' '),
             |      x -> x = 'scan')) AS DOUBLE) AS tf0,
             |    CAST(len(list_filter(string_split(trim(text), ' '),
             |      x -> x = 'window')) AS DOUBLE) AS tf1,
             |    CAST(len(list_filter(string_split(trim(text), ' '),
             |      x -> x = 'merge')) AS DOUBLE) AS tf2
             |  FROM documents),
             |s AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(dl AS DECIMAL(18,4))) AS DOUBLE) AS sdl,
             |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
             |  FROM t)
             |SELECT doc_id,
             |  (((n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2))
             |    / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sdl / n)))
             |  + (((n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2))
             |    / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sdl / n)))
             |  + (((n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2))
             |    / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sdl / n))) AS score
             |FROM t, s
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    QuerySpec(
      "l48_rrf_fusion",
      "hybrid retrieval: reciprocal-rank fusion (k=60) of a sparse ranking (summed tf of the 3-term query, integer) and a dense ranking (cosine to the min-id query vector), each list truncated to top-100 BEFORE the rank window so the global sort is a bounded TakeOrdered, absent-from-list contributes 0 — the standard RRF contract; top-20 fused ids, every rank fully tie-broken",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val terms = Seq("scan", "window", "merge")
        // sparse side: integer lexical score, top-100, then rank the
        // bounded list (the window sees 100 rows, never the corpus)
        val lexTop = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.TextFunctions.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            terms.map(t => size(filter(col("toks"), x => x === lit(t))))
              .reduce(_ + _).as("ls"))
          .orderBy(col("ls").desc, col("doc_id")).limit(100)
        val lexRank = lexTop.withColumn("lr",
          row_number().over(Window.orderBy(col("ls").desc, col("doc_id"))))
          .select(col("doc_id").as("l_id"), col("lr"))
        // dense side: cosine against the min-vec_id query vector
        val e = Tables.load(s, dir, "embeddings")
        val qv = e.orderBy(col("vec_id")).limit(1)
          .select(col("embedding").as("q_emb"))
        val denTop = e.crossJoin(broadcast(qv))
          .select(col("vec_id"),
            graft.functions.VectorFunctions
              .cosineSim(col("embedding"), col("q_emb")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(100)
        val denRank = denTop.withColumn("dr",
          row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))))
          .select(col("vec_id").as("d_id"), col("dr"))
        lexRank.join(denRank, col("l_id") === col("d_id"), "full_outer")
          .select(coalesce(col("l_id"), col("d_id")).as("id"),
            (coalesce(lit(1.0) / (lit(60) + col("lr")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("dr")), lit(0.0)))
              .as("rrf"))
          .orderBy(col("rrf").desc, col("id"))
          .limit(20)
      },
      Some(s"""WITH lt AS (
              |  SELECT doc_id, ls,
              |    row_number() OVER (ORDER BY ls DESC, doc_id) AS lr
              |  FROM (
              |    SELECT doc_id,
              |      len(list_filter(string_split(trim(text), ' '),
              |        x -> x = 'scan'))
              |      + len(list_filter(string_split(trim(text), ' '),
              |          x -> x = 'window'))
              |      + len(list_filter(string_split(trim(text), ' '),
              |          x -> x = 'merge')) AS ls
              |    FROM documents
              |    ORDER BY ls DESC, doc_id LIMIT 100)),
              |q AS (
              |  SELECT embedding AS q_emb FROM embeddings
              |  ORDER BY vec_id LIMIT 1),
              |dt AS (
              |  SELECT vec_id, cos,
              |    row_number() OVER (ORDER BY cos DESC, vec_id) AS dr
              |  FROM (
              |    SELECT e.vec_id,
              |      ${cosSql("e.embedding", "q.q_emb")} AS cos
              |    FROM embeddings e, q
              |    ORDER BY cos DESC, e.vec_id LIMIT 100))
              |SELECT COALESCE(lt.doc_id, dt.vec_id) AS id,
              |  COALESCE(CAST(1.0 AS DOUBLE) / (60 + lr), CAST(0.0 AS DOUBLE))
              |    + COALESCE(CAST(1.0 AS DOUBLE) / (60 + dr), CAST(0.0 AS DOUBLE))
              |    AS rrf
              |FROM lt FULL OUTER JOIN dt ON lt.doc_id = dt.vec_id
              |ORDER BY rrf DESC, id LIMIT 20""".stripMargin)),

    QuerySpec(
      "l51_knn_ivf_agree",
      "agreement gate for l46's scale-path claim: the IDENTICAL majority-vote plan fed from probe-bounded IVF candidates (no all-pairs join) must predict the same label as the exact 10-NN classifier for >= 60% of vectors (measured 0.70-0.77 across sf at 8 lists x 6 probes). The wide probe fraction is the l23/l30 fixture dial: RANDOM fixture embeddings have no coarse-cluster structure, so default 16x4 probing holds only ~0.35 agreement — real corpora cluster, which narrows the probes; the vote plan is unchanged either way. Oracle = corpus count + literal true",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val exact = Similarity.knnClassify(e, "vec_id", "embedding",
            "label", k = 10)
          .select(col("vec_id"), col("pred_label").as("p_exact"))
        val ivf = Similarity.knnClassifyIvf(s, e, "vec_id", "embedding",
            "label", k = 10, nCentroids = 8, nProbe = 6)
          .select(col("vec_id"), col("pred_label").as("p_ivf"))
        exact.join(ivf, Seq("vec_id"), "full_outer")
          .agg(count(lit(1)).as("n_vecs"),
            count(when(col("p_exact") === col("p_ivf"), 1)).as("__agree"))
          .select(col("n_vecs"),
            (col("__agree") * 100 >= col("n_vecs") * 60).as("agree_ok"))
      },
      Some("""SELECT count(*) AS n_vecs, TRUE AS agree_ok
             |FROM embeddings""".stripMargin)),

    QuerySpec(
      "l52_quantize_gate",
      "retrieval-fidelity gate for l26's int8 quantization: cosine is scale-invariant, so the quantized vectors rank DIRECTLY (no dequantize pass); exact float top-10 vs int8 top-10 must overlap >= 80% for the l22 query subset (measured 0.98-0.995 across sf); oracle = exact side count + literal true",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val qz = e.select(col("vec_id"),
          graft.functions.VectorFunctions.int8Quantize(col("embedding"))
            .cast("array<float>").as("embedding"))
        val q = e.where(col("vec_id") % 25 === 0)
        val qzq = qz.where(col("vec_id") % 25 === 0)
        Gates.recall(
          Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 10),
          Similarity.bruteForceTopK(qzq, qz, "vec_id", "embedding", 10),
          Seq("q_id", "c_id"), 80, "n_exact", "quant_ok")
      },
      Some(s"""SELECT count(*) AS n_exact, TRUE AS quant_ok
              |FROM ($cosineTopkOracle) x""".stripMargin)),

    QuerySpec(
      "l53_dedup_report",
      "what-did-dedup-buy report in one glance: exact-dup cluster census over the sha-256 digest key (the l17 scale shape — 32-byte shuffle keys, never full text) -> corpus totals, duplicate docs, bytes a keeper-only corpus saves, largest cluster; all integer aggregates",
      (s, dir) => Dedup.dedupReport(
        Tables.load(s, dir, "documents"), "text", "n_chars"),
      Some("""WITH g AS (
             |  SELECT sha256(text) AS dig, count(*) AS c,
             |    min(n_chars) AS nc
             |  FROM documents GROUP BY 1)
             |SELECT CAST(sum(c) AS BIGINT) AS n_docs,
             |  count(*) AS n_texts,
             |  CAST(sum(c - 1) AS BIGINT) AS n_dup_docs,
             |  CAST(sum((c - 1) * nc) AS BIGINT) AS bytes_removed,
             |  CAST(max(c) AS BIGINT) AS max_cluster
             |FROM g""".stripMargin)),

    QuerySpec(
      "l49_mixture_lift",
      "training-mixture contingency diagnostic: observed (lang, source) cell counts vs the independence expectation as lift = obs*N/(rowTotal*colTotal) — lift >> 1 flags an over-sampled slice; integers until one final IEEE division; window totals run on the cell table, never the corpus",
      (s, dir) => TextAnalysis.mixtureLift(
        Tables.load(s, dir, "documents"), "lang", "source"),
      Some("""WITH c AS (
             |  SELECT lang, source, count(*) AS n_docs
             |  FROM documents GROUP BY 1, 2)
             |SELECT lang, source, n_docs,
             |  CAST(n_docs AS DOUBLE)
             |    * CAST((SELECT sum(n_docs) FROM c) AS DOUBLE)
             |    / (CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE)
             |       * CAST(sum(n_docs) OVER (PARTITION BY source)
             |              AS DOUBLE)) AS lift
             |FROM c""".stripMargin)),

    QuerySpec(
      "l50_containment_pairs",
      "directional shingle-containment pairs C(a->b) = |Sa n Sb|/|Sa| >= 0.8 — the asymmetric near-dup measure that catches a short doc quoted inside a long one where Jaccard stays low; inverted-index join with the directional size prune (nb >= t*na), exact integers until one division",
      (s, dir) => Dedup.containmentPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text", 0.8),
      Some(s"""$shingleCte,
              |e AS (
              |  SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
              |p AS (
              |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              |    a.n AS na, count(*) AS inter
              |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id <> b.doc_id
              |  GROUP BY 1, 2, 3)
              |SELECT a_id, b_id, CAST(inter AS DOUBLE) / na AS containment
              |FROM p WHERE CAST(inter AS DOUBLE) / na >= 0.8""".stripMargin)),

    QuerySpec(
      "l54_containment_capped_gate",
      "recall gate for l50's 100 TB claim: candidate pairs from a df-capped inverted index (shingles in > 16 docs dropped from candidate generation — boilerplate fans out O(df^2) pairs and carries no dedup signal) verified EXACTLY over full shingle sets, so emitted pairs are a strict subset of the exact twin; capped recall vs l50 must be >= 95% (measured 1.000 across all sf; the cap genuinely prunes at sf0.1 where shingle df reaches 25 vs cap 16). Oracle = exact-twin pair count + literal true",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // Both twins consume the SAME posting table: shingle the corpus
        // once, materialize it (the tokenize+shingle+explode scan was
        // each side's dominant cold cost — r7's 57.8 s driver reading),
        // and let the exact join and the df-capped path read the blocks.
        val postings = graft.Trace.span(s, "containment", "postings")(
          Dedup.containmentPostings(docs, "doc_id", "text")
            .localCheckpoint(eager = true))
        val exact = Dedup.containmentPairsFromPostings(postings, 0.8)
          .select(col("a_id"), col("b_id"))
        val capped = Dedup.containmentPairsCappedFromPostings(postings,
            0.8, dfCap = 16)
          .select(col("a_id"), col("b_id"), lit(1).as("__hit"))
        exact.join(capped, Seq("a_id", "b_id"), "left_outer")
          .agg(count(lit(1)).as("n_exact_pairs"),
            (count(col("__hit")) * 100 >= count(lit(1)) * 95)
              .as("recall_ok"))
      },
      Some(s"""$shingleCte,
              |e AS (
              |  SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
              |p AS (
              |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              |    a.n AS na, count(*) AS inter
              |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id <> b.doc_id
              |  GROUP BY 1, 2, 3)
              |SELECT count(*) AS n_exact_pairs, TRUE AS recall_ok
              |FROM p WHERE CAST(inter AS DOUBLE) / na >= 0.8""".stripMargin)),

    QuerySpec(
      "l55_curation_run",
      "the one-command curation run (the reference migrate()'s LLM equivalent, index.js:160-176): scrub -> exact dedup (digest keepers) -> containment dedup (drop docs quoted in a larger survivor; DEFAULTS to the df-capped l54-gated scale path, exact twin opt-in for oracle use — ledgers asserted equal in-test) -> 80/10/10 content-hash split -> 2048-token shard pack, returning the per-stage funnel ledger (stage, n_in, n_out); every stage is an existing operator, the composition is the product surface a real 100 TB run starts from",
      (s, dir) => Curation.curationRun(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Some(s"""WITH c0 AS (
              |  SELECT doc_id,
              |    trim(regexp_replace(regexp_replace(regexp_replace(text,
              |      'https?://\\S+', '', 'g'), '\\S+@\\S+', '', 'g'),
              |      '\\s+', ' ', 'g')) AS text
              |  FROM documents),
              |s1 AS (SELECT * FROM c0 WHERE length(text) > 0),
              |s2 AS (SELECT min(doc_id) AS doc_id, text
              |       FROM s1 GROUP BY text),
              |toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t
              |         FROM s2),
              |shc AS (
              |  SELECT doc_id,
              |    CASE WHEN len(t) >= 3
              |      THEN list_distinct([array_to_string(t[i:i+2], ' ')
              |                          for i in range(1, len(t)-1)])
              |      ELSE [] END AS s
              |  FROM toks),
              |e AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM shc),
              |p AS (
              |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              |    a.n AS na, b.n AS nb, count(*) AS inter
              |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id <> b.doc_id
              |  GROUP BY 1, 2, 3, 4),
              |dr AS (
              |  SELECT DISTINCT a_id FROM p
              |  WHERE CAST(inter AS DOUBLE) / na >= 0.8
              |    AND (nb > na OR (nb = na AND b_id < a_id))),
              |s3 AS (SELECT * FROM s2
              |       WHERE doc_id NOT IN (SELECT a_id FROM dr)),
              |f AS (SELECT doc_id, $fpSql AS fp FROM s3),
              |sp AS (SELECT CASE WHEN fp % 100 < 80 THEN 'train'
              |              WHEN fp % 100 < 90 THEN 'val'
              |              ELSE 'test' END AS split FROM f),
              |pk AS (SELECT doc_id,
              |    CAST(len(string_split(trim(text), ' ')) AS BIGINT)
              |      AS n_tok,
              |    $fpSql AS fp
              |  FROM s3),
              |pc AS (SELECT sum(n_tok) OVER (ORDER BY fp, doc_id) - n_tok
              |         AS cum_before FROM pk)
              |SELECT '1_scrub' AS stage,
              |  (SELECT count(*) FROM c0) AS n_in,
              |  (SELECT count(*) FROM s1) AS n_out
              |UNION ALL SELECT '2_dedup_exact',
              |  (SELECT count(*) FROM s1), (SELECT count(*) FROM s2)
              |UNION ALL SELECT '3_dedup_containment',
              |  (SELECT count(*) FROM s2), (SELECT count(*) FROM s3)
              |UNION ALL SELECT '4_split_train',
              |  (SELECT count(*) FROM s3),
              |  (SELECT count(*) FILTER (WHERE split = 'train') FROM sp)
              |UNION ALL SELECT '4_split_val',
              |  (SELECT count(*) FROM s3),
              |  (SELECT count(*) FILTER (WHERE split = 'val') FROM sp)
              |UNION ALL SELECT '4_split_test',
              |  (SELECT count(*) FROM s3),
              |  (SELECT count(*) FILTER (WHERE split = 'test') FROM sp)
              |UNION ALL SELECT '5_pack',
              |  (SELECT count(*) FROM s3),
              |  (SELECT count(DISTINCT cum_before // 2048) FROM pc)"""
        .stripMargin)),

    QuerySpec(
      "l56_incremental_dedup",
      "continual-ingestion dedup: treat every-5th-source documents as the NEW batch and the rest as the standing corpus; the batch is deduped against the corpus (digest anti-join — 32-byte keys, never text) then within itself, reporting (n_new, n_dup_vs_corpus, n_dup_within_batch, n_kept) — the daily-run form of l01/l17 whose corpus-side digest table is precomputed and bucketed in a standing pipeline",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val isNew = substring(col("source"), 4, 10).cast("int") % 5 === 0
        Dedup.incrementalDedup(
          docs.where(isNew), docs.where(!isNew), "doc_id", "text")
      },
      // NOT EXISTS, not NOT IN: the Spark side is a digest anti-join that
      // KEEPS NULL-text rows (sha2(NULL)=NULL never equi-matches) and
      // counts each kept NULL individually; NOT IN is null-hostile (one
      // corpus NULL empties the result), NOT EXISTS matches the anti-join
      // row-for-row — the l38 convention of pinning NULL semantics on
      // both engines.
      Some("""WITH b AS (
             |  SELECT doc_id, text FROM documents
             |  WHERE CAST(source[4:] AS INT) % 5 = 0),
             |r AS (
             |  SELECT text FROM documents
             |  WHERE CAST(source[4:] AS INT) % 5 <> 0),
             |s AS (SELECT * FROM b
             |      WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.text = b.text)),
             |k AS (SELECT count(DISTINCT text)
             |        + count(*) FILTER (WHERE text IS NULL) AS n_kept FROM s)
             |SELECT (SELECT count(*) FROM b) AS n_new,
             |  (SELECT count(*) FROM b) - (SELECT count(*) FROM s)
             |    AS n_dup_vs_corpus,
             |  (SELECT count(*) FROM s) - (SELECT n_kept FROM k)
             |    AS n_dup_within_batch,
             |  (SELECT n_kept FROM k) AS n_kept""".stripMargin)),

    QuerySpec(
      "l57_pq_gate",
      "ranking-fidelity gate for IVF-PQ (the memory-bound ANN rung: m=16 sub-blocks x 64 codes = 96 bits + one norm per vector vs 2048 bits of floats; ADC table-lookup scoring prunes IVF candidates to k*8, full-precision cosine re-ranks ONLY that short list): PQ top-10 must agree >= 90% with the full-precision ranking of the SAME probe-bounded candidates (ivfTopK at identical 8x6 params; measured 0.965-1.000 across sf at one Lloyd round — a second round buys only +0.008 at sf0.1 for ~20% more training cost, so the gate ships it=1; candidate recall itself is l23's gate, and random fixture embeddings are PQ's documented worst case). Every query holds >= 10 candidates at 6-of-8 probes, so the exact side is 10 rows/query; oracle = 10x query count + literal true",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val q = e.where(col("vec_id") % 25 === 0)
        // Both rankers score the SAME probe-bounded candidate set by
        // contract — generate it once, materialize, and pass it to both
        // sides instead of each rebuilding centroids + lists + probes
        // (half of r7's 32.6 s driver reading was this duplication).
        val cand = graft.Trace.span(s, "pq", "candidates")(
          Similarity.ivfCandidates(s, q, e, "vec_id", "embedding",
              nCentroids = 8, nProbe = 6, trainIters = 0)
            .localCheckpoint(eager = true))
        Gates.recall(
          Similarity.ivfTopK(s, q, e, "vec_id", "embedding", 10,
            nCentroids = 8, nProbe = 6, candidatesOpt = Some(cand)),
          Similarity.pqTopK(s, q, e, "vec_id", "embedding", 10,
            m = 16, nCodes = 64, trainIters = 1, nCentroids = 8,
            nProbe = 6, rerank = 8, candidatesOpt = Some(cand)),
          Seq("q_id", "c_id"), 90, "n_ivf", "pq_ok")
      },
      Some("""SELECT 10 * count(*) AS n_ivf, TRUE AS pq_ok
             |FROM embeddings WHERE vec_id % 25 = 0""".stripMargin)),

    QuerySpec(
      "l58_incremental_neardup",
      "continual-ingestion NEAR-dup (l56's funnel upgraded from identical-text to j >= 0.5): every-5th-source docs are the NEW batch, the rest the standing corpus; batch MinHash(192 perms)+LSH(32 bands) signatures equi-join the corpus band table (precomputed and bucketed on (band,hash) in a standing 100 TB pipeline, so the daily run sketches only the batch), candidates exact-verified on full shingle sets; oracle = exact cross-corpus Jaccard (zero expected LSH misses at this threshold, the l03 contract)",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val isNew = substring(col("source"), 4, 10).cast("int") % 5 === 0
        Dedup.incrementalNearDupPairs(
          docs.where(isNew), docs.where(!isNew), "doc_id", "text", 0.5)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, source, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, source,
             |    CASE WHEN len(t) >= 3
             |      THEN list_distinct([array_to_string(t[i:i+2], ' ')
             |                          for i in range(1, len(t)-1)])
             |      ELSE [] END AS s
             |  FROM toks),
             |a AS (SELECT doc_id, s FROM sh
             |      WHERE CAST(source[4:] AS INT) % 5 = 0),
             |b AS (SELECT doc_id, s FROM sh
             |      WHERE CAST(source[4:] AS INT) % 5 <> 0),
             |p AS (
             |  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
             |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
             |      AS jaccard
             |  FROM a JOIN b ON len(a.s) + len(b.s) > 0)
             |SELECT new_id, corpus_id, jaccard FROM p
             |WHERE jaccard >= 0.5""".stripMargin)),

    QuerySpec(
      "l61_semantic_dedup",
      "SemDeDup-style semantic dedup (public recipe, Abbas et al. 2023): k-means-partition the embedding space (8 clusters, 1 Lloyd round, IVF coarse-quantizer machinery), soft-assign each vector to its 3 nearest clusters (multi-probe), pair cluster-cohabitants, exact-verify only candidates — sum-over-clusters cost instead of O(n^2), precision 1.0 by construction; recall gate vs the exact all-pairs twin (l05): cluster-found pairs >= 85% of exact pairs (measured 0.946-0.955 across sf); oracle = exact pair count + literal true",
      (s, dir) => {
        // Both frames come from the family's standing build
        // (SemDedupStore) — the dedup ledger is a standing table in a
        // production pipeline, shared here by l05/l30/l61/l62/l99.
        semRecallCard(SemDedupStore.sharedExactPairs(s, dir),
          SemDedupStore.sharedSemPairs(s, dir))
      },
      Some(s"""SELECT count(*) AS n_exact, TRUE AS recall_ok
              |FROM (${embedPairsOracle(0.4)}) x""".stripMargin)),

    QuerySpec(
      "l62_semantic_prune",
      "SemDeDup's user-facing output — WHICH documents to drop: connected components over l61's cluster-bounded pairs, keeper = min reachable id, dropped = non-keepers. Semantic pairs are a subset of exact pairs, so semantic components refine exact components and every semantically-dropped doc is exactly-dropped too (precision 1.0 structurally); gate = dropped-set recall vs the exact-pair components >= 85% (measured 0.946-0.955 across sf); oracle = exact dropped count (recursive CTE) + literal true",
      (s, dir) => {
        val exactPairs = SemDedupStore.sharedExactPairs(s, dir)
        // ONE full label-propagation pass, not two: the user-facing path
        // runs CC over the semantic pairs; the exact-side components the
        // gate needs are then derived losslessly by contracting the
        // exact pairs through the sem labels (sem ⊆ exact, so sem
        // components refine exact components) and running CC on the tiny
        // crossing-edge graph — couple of rounds instead of a second
        // 16-20-round pass. Pairs and labels come from the standing
        // build (SemDedupStore), shared with l05/l30/l61/l99.
        pruneCard(SemDedupStore.sharedSemLabels(s, dir), exactPairs)
      },
      Some(s"""WITH RECURSIVE p AS (
              |  SELECT a_id, b_id FROM (${embedPairsOracle(0.4)}) z),
              |edges AS (
              |  SELECT a_id AS src, b_id AS dst FROM p
              |  UNION ALL SELECT b_id, a_id FROM p),
              |reach(node, lbl) AS (
              |  SELECT DISTINCT src, src FROM edges
              |  UNION
              |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
              |cc AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
              |SELECT count(*) AS n_exact_dropped, TRUE AS prune_ok
              |FROM cc WHERE cluster_id <> node""".stripMargin)),

    QuerySpec(
      "l59_passage_scrub",
      "repeated-passage REMOVAL (the transform l42 only detects — C4/Dolma-style boilerplate scrub): every token inside a 6-token window shared by >= 2 distinct documents is dropped and survivors re-joined in order, reporting (doc_id, clean_text, n_removed); wall-to-wall boilerplate scrubs to ''. Exact and order-preserving: positional shingles explode once, document frequency is one map-side-combined aggregate, covered positions collapse per doc, and the rebuild is a per-row indexed filter — no window, no sort",
      (s, dir) => Dedup.scrubHotPassages(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |ps0 AS (
             |  SELECT doc_id, t, unnest(range(1, len(t) - 4)) AS i
             |  FROM toks WHERE len(t) >= 6),
             |ps AS (
             |  SELECT doc_id, i, array_to_string(t[i:i+5], ' ') AS g
             |  FROM ps0),
             |hot AS (
             |  SELECT g FROM ps GROUP BY g
             |  HAVING count(DISTINCT doc_id) >= 2),
             |cov AS (
             |  SELECT DISTINCT ps.doc_id, ps.i + off AS p
             |  FROM ps JOIN hot USING (g), range(0, 6) o(off)),
             |pos0 AS (
             |  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p
             |  FROM toks),
             |pos AS (
             |  SELECT doc_id, p, t[p] AS tok FROM pos0),
             |kept AS (
             |  SELECT pos.doc_id,
             |    string_agg(tok, ' ' ORDER BY pos.p) AS clean_text,
             |    count(*) AS n_kept
             |  FROM pos LEFT JOIN cov
             |    ON pos.doc_id = cov.doc_id AND pos.p = cov.p
             |  WHERE cov.p IS NULL
             |  GROUP BY pos.doc_id)
             |SELECT toks.doc_id,
             |  coalesce(kept.clean_text, '') AS clean_text,
             |  CAST(len(toks.t) - coalesce(kept.n_kept, 0) AS INT)
             |    AS n_removed
             |FROM toks LEFT JOIN kept ON toks.doc_id = kept.doc_id""".stripMargin)),

    QuerySpec(
      "l60_neardup_index_run",
      "l58's standing-pipeline claim demonstrated end-to-end: the corpus MinHash band index is PERSISTED as a parquet table bucketed on the join key (band, bh), then the daily run sketches ONLY the new batch and equi-joins the persisted index — the bucketed corpus side joins shuffle-free; corpus text is touched only to verify candidates (semi-join-pruned fetch). Result pairs are identical to l58's (same oracle: exact cross-corpus Jaccard)",
      (s, dir) => {
        val out = QuerySpec.tempSinkDir()
        // Run-unique table name (from the tempdir's random suffix) so
        // concurrent l60 runs in one shared session cannot trample each
        // other's index; try/finally so a mid-query failure cannot leak
        // the catalog entry or the staging dir.
        val tbl = "graft_neardup_index_" +
          new java.io.File(out).getName.stripPrefix("graft_sink_")
        val docs = Tables.load(s, dir, "documents")
        val isNew = substring(col("source"), 4, 10).cast("int") % 5 === 0
        val corpus = docs.where(!isNew)
        try {
          // standing pipeline: build + persist the index ONCE, bucketed
          Dedup.nearDupBandIndex(corpus, "doc_id", "text")
            .write.mode("overwrite")
            .bucketBy(32, "band", "bh")
            .option("path", s"$out/neardup_index")
            .saveAsTable(tbl)
          // daily run: batch sketch + join the persisted index.
          // localCheckpoint (NOT collect): the `finally` below drops the
          // table this plan reads, so the result must be materialized
          // first — but into executor blocks, distributed, never through
          // the driver; the registered pattern for a standing 100 TB
          // pipeline must not route its pair list driver-side.
          // Trade-off (deliberate, local-bench scoped): localCheckpoint
          // truncates lineage into executor-held blocks, so on a real
          // multi-executor cluster an executor loss after the source
          // table is dropped makes the result unrecoverable. The
          // production recipe is `.checkpoint()` to reliable storage
          // (or write the pair list to its own table) BEFORE retiring
          // the index; here the source table outlives the query only by
          // the finally block, so the cheap variant is safe.
          Dedup.incrementalNearDupWithIndex(
            docs.where(isNew), corpus, s.table(tbl),
            "doc_id", "text", 0.5)
            .localCheckpoint(eager = true)
        } finally {
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          graft.pipeline.SinkFiles.deleteRecursive(out)
        }
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, source, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, source,
             |    CASE WHEN len(t) >= 3
             |      THEN list_distinct([array_to_string(t[i:i+2], ' ')
             |                          for i in range(1, len(t)-1)])
             |      ELSE [] END AS s
             |  FROM toks),
             |a AS (SELECT doc_id, s FROM sh
             |      WHERE CAST(source[4:] AS INT) % 5 = 0),
             |b AS (SELECT doc_id, s FROM sh
             |      WHERE CAST(source[4:] AS INT) % 5 <> 0),
             |p AS (
             |  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
             |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
             |      AS jaccard
             |  FROM a JOIN b ON len(a.s) + len(b.s) > 0)
             |SELECT new_id, corpus_id, jaccard FROM p
             |WHERE jaccard >= 0.5""".stripMargin)),

    QuerySpec(
      "l63_quality_dup_profile",
      "quality-band x duplication census: per floor(quality*10) band — doc count, exact-dup docs (digest row_number > 1), token mass, duplicated token mass, and the band's exact quality sum in micro-units (integers, order-independent); fixed per-row bands, not ntile — no global sort at any corpus size",
      (s, dir) => TextAnalysis.qualityDupProfile(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH f AS (
             |  SELECT doc_id, text,
             |    len(string_split(trim(text), ' ')) AS n_tokens,
             |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
             |      / length(text) AS punct_ratio,
             |    CAST(len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS DOUBLE)
             |      / len(string_split(trim(text), ' ')) AS stopword_ratio
             |  FROM documents),
             |q AS (
             |  SELECT doc_id, text, n_tokens,
             |    (1.0 - punct_ratio) * (0.5 + stopword_ratio)
             |      * (CASE WHEN n_tokens >= 5 THEN 1.0 ELSE 0.25 END)
             |      AS quality_score
             |  FROM f),
             |b AS (
             |  SELECT CAST(floor(quality_score * 10) AS BIGINT) AS band,
             |    CAST(floor(quality_score * 1e6) AS BIGINT) AS qmicro,
             |    n_tokens,
             |    CASE WHEN text IS NOT NULL AND row_number()
             |        OVER (PARTITION BY sha256(text) ORDER BY doc_id) > 1
             |      THEN 1 ELSE 0 END AS is_dup
             |  FROM q)
             |SELECT band, count(*) AS n_docs,
             |  CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS tok_total,
             |  CAST(sum(CASE WHEN is_dup = 1 THEN n_tokens ELSE 0 END)
             |    AS BIGINT) AS tok_dup,
             |  CAST(sum(qmicro) AS BIGINT) AS q_sum_micro
             |FROM b GROUP BY 1""".stripMargin)),

    QuerySpec(
      "l64_filter_whatif",
      "quality-threshold what-if: for every cutoff (keep bands >= min_band) the surviving docs / tokens / exact-dups, one cumulative window over the <= ~16-row band census from l63 — picks the filter threshold without a rerun per guess",
      (s, dir) => TextAnalysis.qualityFilterWhatIf(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH f AS (
             |  SELECT doc_id, text,
             |    len(string_split(trim(text), ' ')) AS n_tokens,
             |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
             |      / length(text) AS punct_ratio,
             |    CAST(len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS DOUBLE)
             |      / len(string_split(trim(text), ' ')) AS stopword_ratio
             |  FROM documents),
             |q AS (
             |  SELECT doc_id, text, n_tokens,
             |    (1.0 - punct_ratio) * (0.5 + stopword_ratio)
             |      * (CASE WHEN n_tokens >= 5 THEN 1.0 ELSE 0.25 END)
             |      AS quality_score
             |  FROM f),
             |b AS (
             |  SELECT CAST(floor(quality_score * 10) AS BIGINT) AS band,
             |    n_tokens,
             |    CASE WHEN text IS NOT NULL AND row_number()
             |        OVER (PARTITION BY sha256(text) ORDER BY doc_id) > 1
             |      THEN 1 ELSE 0 END AS is_dup
             |  FROM q),
             |c AS (
             |  SELECT band, count(*) AS n_docs, sum(n_tokens) AS tok,
             |    sum(is_dup) AS ndup
             |  FROM b WHERE band IS NOT NULL GROUP BY 1)
             |SELECT band AS min_band,
             |  CAST(sum(n_docs) OVER w AS BIGINT) AS docs_kept,
             |  CAST(sum(tok) OVER w AS BIGINT) AS tok_kept,
             |  CAST(sum(ndup) OVER w AS BIGINT) AS dup_docs_kept
             |FROM c
             |WINDOW w AS (ORDER BY band DESC
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)),

    QuerySpec(
      "l65_embed_health",
      "embedding-column preflight census: per (dim, floor(norm*1000) band) — vector count, zero-norm count, NaN count; the sanity check every ANN/dedup run assumes (unit-norm corpus = one or two bands), same sequential-fold norm as the cosine expression so the histogram is bit-deterministic",
      (s, dir) => Similarity.embedHealth(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding"),
      Some("""WITH h AS (
             |  SELECT len(embedding) AS dim,
             |    list_reduce(list_transform(embedding,
             |      x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y) AS n2,
             |    len(list_filter(embedding,
             |      x -> isnan(CAST(x AS DOUBLE)))) > 0 AS has_nan
             |  FROM embeddings)
             |SELECT dim,
             |  CASE WHEN has_nan THEN NULL
             |    ELSE CAST(floor(sqrt(n2) * 1000) AS BIGINT) END AS norm_band,
             |  count(*) AS n_vecs,
             |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_zero,
             |  CAST(sum(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_nan
             |FROM h GROUP BY 1, 2""".stripMargin)),

    QuerySpec(
      "l66_image_decode_real",
      "REAL image codec through the batched multimodal shape: per doc an actual PNG is encoded (javax.imageio, dimensions derived from doc_id — the oracle contract) and decoded back header-only by a per-batch-instantiated ImageReader; width/height/format come from the genuine byte stream, so the oracle's arithmetic only matches if the codec round-trip is exact",
      (s, dir) => Multimodal.decodeImageBatched(
        FixtureBlobStore.shared(s, dir, "png"), "doc_id"),
      Some("""SELECT doc_id,
             |  CAST(8 + doc_id % 16 AS INT) AS width,
             |  CAST(8 + (doc_id * 3) % 16 AS INT) AS height,
             |  'png' AS format
             |FROM documents""".stripMargin)),

    QuerySpec(
      "l71_image_decode_mixed",
      "l66's real codec over a MIXED-format corpus (the web-corpus shape: even ids genuine PNG, odd ids genuine JPEG): decodeImageBatched picks the reader per row by magic-byte sniff — no caller-side format config — and reuses one reader per format per batch; the oracle's id-parity format column and dimension arithmetic only match if both codecs' round-trips are exact",
      (s, dir) => Multimodal.decodeImageBatched(
        FixtureBlobStore.shared(s, dir, "image_mixed"), "doc_id"),
      Some("""SELECT doc_id,
             |  CAST(8 + doc_id % 16 AS INT) AS width,
             |  CAST(8 + (doc_id * 3) % 16 AS INT) AS height,
             |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
             |FROM documents""".stripMargin)),

    QuerySpec(
      "l72_ann_index_serve",
      "l60's standing-pipeline pattern for the VECTOR side: the whole IVF-PQ index (coarse centroids, inverted lists bucketed on cent_id, PQ codebook, encoded codes + exact norms bucketed on c_id) is built and PERSISTED as tables once; the daily run then serves top-10 with ZERO training jobs — broadcast-probe the persisted centroid table, equi-join the persisted lists, ADC-rank with the persisted codebook/codes/norms, re-rank k*8 full-precision (the only corpus-vector fetch). Gate = l57's fidelity contract over the same persisted candidates: PQ top-10 agreement with the full-precision ranking >= 90%; oracle = candidate-completeness count + literal true",
      (s, dir) => {
        val out = QuerySpec.tempSinkDir()
        // Run-unique table prefix + try/finally, the l60 hygiene: a
        // mid-query failure can leak neither catalog entries nor the
        // staging dir, and concurrent runs cannot trample each other.
        val pfx = "graft_ann_" +
          new java.io.File(out).getName.stripPrefix("graft_sink_")
        val e = Tables.load(s, dir, "embeddings")
        val q = e.where(col("vec_id") % 25 === 0)
        val parts = Seq("cent", "lists", "codebook", "codes", "norms")
        try {
          // index BUILD (the one-time job): train, assign, encode, persist.
          // The build itself comes from the application-wide
          // AnnIndexStore — t22/l82 consume the SAME standing artifacts
          // instead of retraining per query (the persisted-index
          // discipline this query argues for, applied to the harness).
          // lists/codes/norms are bucketed on their join keys so the
          // serving joins are shuffle-free on the index side.
          val idx = graft.operators.AnnIndexStore.sharedIndex(s, dir)
          saveStoreTable(out, pfx, idx.centroids, "cent", None)
          saveStoreTable(out, pfx, idx.lists, "lists", Some("cent_id"))
          saveStoreTable(out, pfx, idx.codebook, "codebook", None)
          saveStoreTable(out, pfx, idx.codes, "codes", Some("c_id"))
          saveStoreTable(out, pfx, idx.norms, "norms", Some("c_id"))
          // daily SERVE: reads only the persisted tables — the path
          // contains no training machinery at all. One candidate set
          // feeds both rankers (the l57 shared-candidate contract).
          val cand = Similarity.indexCandidates(q, "vec_id", "embedding",
              s.table(s"${pfx}_cent"), s.table(s"${pfx}_lists"), nProbe = 6)
            .localCheckpoint(eager = true)
          val ivf = Similarity.ivfTopK(s, q, e, "vec_id", "embedding", 10,
              candidatesOpt = Some(cand))
          val pq = Similarity.pqTopKFromIndex(q, e, "vec_id", "embedding",
              10, m = graft.operators.AnnIndexStore.DefaultM,
              codebook = s.table(s"${pfx}_codebook"),
              codes = s.table(s"${pfx}_codes"),
              norms = s.table(s"${pfx}_norms"),
              candidates = cand, rerank = 8)
          // localCheckpoint before the finally drops the tables the plan
          // reads (the l60 materialize-then-drop contract; distributed,
          // never through the driver).
          Gates.recall(ivf, pq, Seq("q_id", "c_id"), 90, "n_ivf", "pq_ok")
            .localCheckpoint(eager = true)
        } finally {
          parts.foreach(p => s.sql(s"DROP TABLE IF EXISTS ${pfx}_$p"))
          graft.pipeline.SinkFiles.deleteRecursive(out)
        }
      },
      Some("""SELECT 10 * count(*) AS n_ivf, TRUE AS pq_ok
             |FROM embeddings WHERE vec_id % 25 = 0""".stripMargin)),

    QuerySpec(
      "l73_quota_sample",
      "exact-quota stratified sample over the source column — the hard-cap complement to l67's rate-based resampler (a mixture spec's 'at most N docs per domain'): per source keep EXACTLY min(quota, n) docs, the smallest (content-fingerprint, doc_id) pairs, so re-runs keep the SAME docs. Executed as a bounded bottom-k via the map-side-combinable GroupedTopK aggregator — O(strata*quota) shuffle, never a full per-stratum sort; the oracle is the textbook row_number window, so the hash only matches if the bounded aggregation selects exactly the window's rows. quota=40 keeps whole 25-doc strata at sf0.001 and trims 250-doc strata at sf0.1 — both branches exercised",
      (s, dir) => TextAnalysis.quotaSample(
        Tables.load(s, dir, "documents"), "doc_id", "text", "source",
        quota = 40),
      Some(s"""WITH f AS (
              |  SELECT source AS stratum, doc_id, $fpSql AS fp
              |  FROM documents),
              |r AS (
              |  SELECT stratum, doc_id, fp,
              |    ROW_NUMBER() OVER (PARTITION BY stratum
              |      ORDER BY fp, doc_id) AS rn
              |  FROM f)
              |SELECT stratum, doc_id, fp FROM r
              |WHERE rn <= 40""".stripMargin)),

    QuerySpec(
      "l76_vocab_drift",
      "vocabulary drift between snapshots — the token-level companion of l69's doc-level diff (the standing-ingest monitor for topic/spam shifts: a crawl suddenly dominated by one template moves df here before any quality score reacts): per token its document frequency in snapshot A (source%5<>0) and B (source%3<>0), top-25 by absolute df change, tie-broken on the token; per-doc DISTINCT tokens so multiplicity inside a doc never inflates df; TakeOrdered top-k, never a full vocab sort",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val srcNum = substring(col("source"), 4, 10).cast("int")
        TextAnalysis.vocabDrift(
          docs.where(srcNum % 5 =!= 0), docs.where(srcNum % 3 =!= 0),
          "doc_id", "text", k = 25)
      },
      Some("""WITH a AS (
             |  SELECT tok, count(*) AS df_old FROM (
             |    SELECT doc_id,
             |      unnest(list_distinct(string_split(trim(text), ' '))) AS tok
             |    FROM documents
             |    WHERE CAST(source[4:] AS INT) % 5 <> 0 AND text IS NOT NULL)
             |  GROUP BY tok),
             |b AS (
             |  SELECT tok, count(*) AS df_new FROM (
             |    SELECT doc_id,
             |      unnest(list_distinct(string_split(trim(text), ' '))) AS tok
             |    FROM documents
             |    WHERE CAST(source[4:] AS INT) % 3 <> 0 AND text IS NOT NULL)
             |  GROUP BY tok),
             |j AS (
             |  SELECT COALESCE(a.tok, b.tok) AS tok,
             |    COALESCE(a.df_old, 0) AS df_old,
             |    COALESCE(b.df_new, 0) AS df_new
             |  FROM a FULL JOIN b ON a.tok = b.tok)
             |SELECT tok, df_old, df_new, abs(df_new - df_old) AS drift
             |FROM j WHERE df_new <> df_old
             |ORDER BY drift DESC, tok LIMIT 25""".stripMargin)),

    QuerySpec(
      "l75_dup_source_matrix",
      "cross-source duplication matrix — which sources carry the same content (mirror sites, re-posts): distinct (digest, source) pairs self-joined on digest, counted per unordered source pair; the fan-out is sources-per-digest (never docs-per-digest, distinct collapses multiplicity before the join) and the output at most |sources|^2/2 rows. The fixture's natural cross-source dups only appear at sf0.1, so every seventh doc is rewritten in-query to one of three mirrored boilerplate templates (the l74 synthesis pattern) — the matrix is populated and oracle-exercised at every sf, and the sf0.1 natural dups ride along",
      (s, dir) => Dedup.dupSourceMatrix(
        Tables.load(s, dir, "documents").select(col("source"),
          when(col("doc_id") % 7 === 0,
            concat(lit("mirrored boilerplate "),
              (col("doc_id") % 3).cast("string")))
            .otherwise(col("text")).as("text")),
        "text", "source"),
      Some("""WITH t AS (
             |  SELECT source,
             |    CASE WHEN doc_id % 7 = 0
             |      THEN 'mirrored boilerplate ' || CAST(doc_id % 3 AS VARCHAR)
             |      ELSE text END AS text
             |  FROM documents),
             |ds AS (
             |  SELECT DISTINCT text, source FROM t WHERE text IS NOT NULL)
             |SELECT a.source AS src_a, b.source AS src_b,
             |  count(*) AS n_shared
             |FROM ds a JOIN ds b
             |  ON a.text = b.text AND a.source < b.source
             |GROUP BY 1, 2""".stripMargin)),

    QuerySpec(
      "l74_pii_redact",
      "typed PII redaction census — the curation step that runs before anything else sees the text: emails, IPv4s and phone numbers replaced by placeholder tokens (preserving document shape for downstream chunking, unlike the deleting scrub), per-type counts shipped with the cleaned text. The fixture corpus carries no PII, so the query deterministically injects it from doc_id (the l66/l71 synthesis pattern — every third doc an email, fourth an IP, fifth a phone) and the oracle replays injection AND the sequential count+redact chain verbatim: the hash only matches if both engines' regex semantics agree on every byte of every cleaned document",
      (s, dir) => TextAnalysis.redactPii(
        Tables.load(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" mail u"), col("doc_id").cast("string"),
                lit("@ex.com"))).otherwise(lit("")),
            when(col("doc_id") % 4 === 0,
              concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
                lit(".7"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" tel 555-01"), (col("doc_id") % 10).cast("string"),
                lit("-0199"))).otherwise(lit(""))).as("text")),
        "doc_id", "text"),
      Some("""WITH inj AS (
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 3 = 0 THEN ' mail u'
             |         || CAST(doc_id AS VARCHAR) || '@ex.com' ELSE '' END
             |    || CASE WHEN doc_id % 4 = 0 THEN ' host 10.0.'
             |         || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END
             |    || CASE WHEN doc_id % 5 = 0 THEN ' tel 555-01'
             |         || CAST(doc_id % 10 AS VARCHAR) || '-0199' ELSE '' END
             |    AS t FROM documents),
             |s1 AS (
             |  SELECT doc_id,
             |    len(regexp_extract_all(t,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
             |    regexp_replace(t,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |      '<EMAIL>', 'g') AS t
             |  FROM inj),
             |s2 AS (
             |  SELECT doc_id, n_email,
             |    len(regexp_extract_all(t,
             |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
             |    regexp_replace(t,
             |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t
             |  FROM s1),
             |s3 AS (
             |  SELECT doc_id, n_email, n_ip,
             |    len(regexp_extract_all(t,
             |      '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
             |    regexp_replace(t,
             |      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS t
             |  FROM s2)
             |SELECT doc_id, t AS text_clean, n_email, n_ip, n_phone
             |FROM s3""".stripMargin)),

    QuerySpec(
      "l67_temperature_resample",
      "temperature (alpha = 0.5) mixture resampling over the lang column — the multilingual rebalancer: per-language keep rate min(1, budget * q_s / n_s) with q_s = sqrt(n_s)/sum sqrt(n_t) (sqrt, not pow: IEEE-exact, oracle contract), keep decision by content hash (re-runs keep the SAME docs); sum sqrt is a sequential fold over the lang-sorted census so the basis-point floor can't flip between engines; ledger (lang, n_docs, rate_bp, n_kept) all-integer. budget=600 caps the tail langs at keep-all at sf0.001/0.01 and downsamples everything at sf0.1 — both branches exercised",
      (s, dir) => TextAnalysis.temperatureResample(
          Tables.load(s, dir, "documents"), "doc_id", "text", "lang",
          budget = 600L)
        .withColumnRenamed("group", "lang"),
      Some(s"""WITH c AS (
              |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
              |w AS (
              |  SELECT list_reduce(
              |    list_prepend(CAST(0.0 AS DOUBLE),
              |      list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang NULLS FIRST)),
              |    (a, b) -> a + b) AS sumw FROM c),
              |r AS (
              |  SELECT lang, n_docs,
              |    least(10000, CAST(floor(CAST(600 AS DOUBLE)
              |      * sqrt(CAST(n_docs AS DOUBLE)) * 10000.0
              |      / (sumw * CAST(n_docs AS DOUBLE))) AS BIGINT)) AS rate_bp
              |  FROM c, w),
              |f AS (SELECT lang, $fpSql AS fp FROM documents),
              |k AS (
              |  SELECT f.lang, count(*) AS n_kept
              |  FROM f JOIN r ON f.lang = r.lang
              |  WHERE (fp // 100) % 10000 < rate_bp
              |  GROUP BY 1)
              |SELECT r.lang, r.n_docs, r.rate_bp,
              |  COALESCE(k.n_kept, 0) AS n_kept
              |FROM r LEFT JOIN k ON r.lang = k.lang""".stripMargin)),

    QuerySpec(
      "l68_normalized_dedup",
      "normalization-tolerant exact dedup (the fuzzy-exact tier between l01 and the shingle family): documents identical after casefold + punctuation strip ([.,;:!?]) + whitespace collapse share one keeper — catches re-crawl variants (case drift, trailing punctuation, reflow) without near-dup candidate costs; same 32-byte digest-shuffle shape as l17",
      (s, dir) => Dedup.exactGroupsNormalized(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents
             |GROUP BY trim(regexp_replace(regexp_replace(lower(text),
             |  '[.,;:!?]', '', 'g'), '\s+', ' ', 'g'))""".stripMargin)),

    QuerySpec(
      "l69_corpus_diff",
      "corpus snapshot diff — the standing-ingest ops report: snapshots A (source%5<>0) and B (source%3<>0) reduced to distinct content digests, ONE full-outer join with presence markers feeding a single aggregate -> (n_added, n_removed, n_common); NULL texts excluded on both sides; in a standing pipeline both digest tables are bucketed on digest and the join is shuffle-free",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val srcNum = substring(col("source"), 4, 10).cast("int")
        Dedup.corpusDiff(
          docs.where(srcNum % 5 =!= 0), docs.where(srcNum % 3 =!= 0), "text")
      },
      Some("""WITH a AS (
             |  SELECT DISTINCT text FROM documents
             |  WHERE CAST(source[4:] AS INT) % 5 <> 0 AND text IS NOT NULL),
             |b AS (
             |  SELECT DISTINCT text FROM documents
             |  WHERE CAST(source[4:] AS INT) % 3 <> 0 AND text IS NOT NULL)
             |SELECT
             |  (SELECT count(*) FROM b
             |   WHERE NOT EXISTS (SELECT 1 FROM a WHERE a.text = b.text))
             |    AS n_added,
             |  (SELECT count(*) FROM a
             |   WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.text = a.text))
             |    AS n_removed,
             |  (SELECT count(*) FROM a
             |   WHERE EXISTS (SELECT 1 FROM b WHERE b.text = a.text))
             |    AS n_common""".stripMargin)),

    QuerySpec(
      "l70_shard_manifest",
      "shard manifest — the census a packing run writes next to its shards (downstream epoch planning reads THIS, never shard bytes): per l34-packed shard, doc count, token mass, distinct-lang mix width, first doc id (stable fingerprint under deterministic packing); pack assignment via the range-partitioned prefix sum, group attach one corpus equi-join, manifest one map-side-combined aggregate over |shards| cells",
      (s, dir) => TextAnalysis.shardManifest(
        Tables.load(s, dir, "documents"), "doc_id", "text", "lang",
        shardTokens = 2048L),
      Some(s"""WITH f AS (
              |  SELECT doc_id, lang,
              |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok,
              |    $fpSql AS fp
              |  FROM documents),
              |c AS (SELECT doc_id, lang, n_tok,
              |    CAST(sum(n_tok) OVER (ORDER BY fp, doc_id) - n_tok AS BIGINT)
              |      AS cum_before
              |  FROM f)
              |SELECT CAST(cum_before // 2048 AS BIGINT) AS shard,
              |  count(*) AS n_docs,
              |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              |  CAST(count(DISTINCT lang) AS BIGINT) AS n_groups,
              |  min(doc_id) AS first_doc
              |FROM c GROUP BY 1""".stripMargin)),

    QuerySpec(
      "l77_dup_span_census",
      "duplicate-SPAN census (the suffix-array substring-dedup report, variable-length counterpart of l42's fixed k): per document, the number of token positions starting a >=6-word span that also occurs in >=2 documents, and the MAXIMAL such span length capped at 12 — Spark prunes at k=6 then extends ONLY duplicated starts (prefix closure makes the prune exact), the oracle brute-forces every k in 6..12; identical answers",
      (s, dir) => Dedup.dupSpanCensus(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        minLen = 6, maxLen = 12),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents
             |  WHERE len(string_split(trim(text), ' ')) >= 6),
             |e AS (
             |  SELECT doc_id, k, i, array_to_string(t[i:i+k-1], ' ') AS g
             |  FROM toks, unnest(range(6, least(12, len(t)) + 1)) AS uk(k),
             |       unnest(range(1, len(t) - k + 2)) AS ui(i)),
             |hot AS (
             |  SELECT k, g FROM e GROUP BY k, g
             |  HAVING count(DISTINCT doc_id) >= 2),
             |d AS (SELECT e.doc_id, e.i, e.k FROM e JOIN hot USING (k, g))
             |SELECT doc_id, count(DISTINCT i) AS n_dup_starts,
             |  CAST(max(k) AS BIGINT) AS max_span
             |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QuerySpec(
      "l78_domain_score",
      "feature-hashed linear domain scorer (the fastText/DSIR-shaped affinity filter): tokens hash into 4096 buckets via the corpus rolling hash, per-bucket weights learned in ONE pass from the labeled seed (target = lang 'en') as the cross-multiplied count difference n_t(b)*N_b - n_b(b)*N_t (BIGINT-exact stand-in for log-odds, same sign and order), documents scored as the sum of their tokens' bucket weights, top-50 — bucketed token frame checkpointed once for weights AND scoring, weight table broadcast, top-k a TakeOrdered",
      (s, dir) => TextAnalysis.domainScore(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", buckets = 4096, topK = 50),
      Some("""WITH tk AS (
             |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
             |    unnest(string_split(trim(text), ' ')) AS tok
             |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
             |b AS (
             |  SELECT doc_id, is_t,
             |    list_reduce([unicode(c) for c in regexp_split_to_array(tok, '')],
             |      (a, x) -> (CAST(a AS BIGINT) * 31 + x) % 1000000007) % 4096
             |      AS bkt
             |  FROM tk),
             |tot AS (SELECT CAST(sum(is_t) AS BIGINT) AS nt,
             |               CAST(sum(1 - is_t) AS BIGINT) AS nb FROM b),
             |w AS (
             |  SELECT bkt,
             |    CAST(sum(is_t) AS BIGINT) * (SELECT nb FROM tot)
             |      - CAST(sum(1 - is_t) AS BIGINT) * (SELECT nt FROM tot) AS w
             |  FROM b GROUP BY bkt)
             |SELECT b.doc_id, CAST(sum(w.w) AS BIGINT) AS score
             |FROM b JOIN w USING (bkt)
             |GROUP BY b.doc_id
             |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin)),

    QuerySpec(
      "l79_bpe_pair_census",
      "BPE iteration-0 pair census — the statistic the first tokenizer merge maximizes: adjacent character pairs across the corpus VOCABULARY weighted by word frequency (the production-BPE scale insight: the corpus collapses to a word-count table first, so only the wordcount shuffle is corpus-sized), top-50 by count with lexicographic tie-break; the oracle-checkable face of l80's iterative trainer (l80's rank-1 merge must equal this census's top row, asserted in-test)",
      (s, dir) => Bpe.pairCensus(
        Tables.load(s, dir, "documents"), "text", topK = 50),
      Some("""WITH wf AS (
             |  SELECT word, count(*) AS freq
             |  FROM (SELECT unnest(string_split(trim(text), ' ')) AS word
             |        FROM documents)
             |  WHERE length(word) > 0 GROUP BY word),
             |c AS (SELECT freq, regexp_split_to_array(word, '') AS chars
             |      FROM wf),
             |p AS (
             |  SELECT freq, chars[i] || ' ' || chars[i+1] AS pair
             |  FROM c, unnest(range(1, len(chars))) AS u(i))
             |SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
             |FROM p GROUP BY pair
             |ORDER BY pair_count DESC, pair LIMIT 50""".stripMargin)),

    QuerySpec(
      "l80_bpe_train",
      "BPE tokenizer induction — 12 merges trained over the corpus word-frequency table: per iteration one map-side-combined pair-count aggregate, a ONE-row driver argmax (the algorithm's inherent sync point, k-means' centroid-collect shape), and a per-row left-to-right merge apply as a sequential `aggregate` fold (codegen'd, no UDF); word table localCheckpoint'ed per iteration so plans never grow. NOT SQL-expressible (data-dependent iteration) -> rows-only by contract, gated by the oracle-checked l79 census (rank-1 == census top row) and a ScalaCheck equivalence against an in-test reference implementation",
      (s, dir) => Bpe.bpeTrain(s,
        Tables.load(s, dir, "documents"), "text", nMerges = 12),
      None),

    QuerySpec(
      "l81_bpe_encode_census",
      "frozen-tokenizer fertility census — the serve-time face of the BPE family: the corpus is ENCODED with a frozen 4-merge artifact (er/in/ow/or, the top merges an l80 run learns on this corpus) via sentinel-joined per-word replace chains (one left-to-right pass per rank IS exact BPE: merging neighbors can never make an earlier-rank pair newly adjacent), and the per-language census (n_words, n_chars, n_tokens, tokens-per-word fertility) is what a multilingual token budget is planned around; per-row string ops only, shuffle is the <=|langs| census",
      (s, dir) => Bpe.encodeCensus(
        Tables.load(s, dir, "documents"), "text", "lang",
        Seq("e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r")),
      Some("""WITH w AS (
             |  SELECT lang, unnest(string_split(trim(text), ' ')) AS word
             |  FROM documents),
             |f AS (
             |  SELECT lang, length(word) AS nc,
             |    array_to_string(regexp_split_to_array(word, ''), chr(1))
             |      || chr(1) AS s0
             |  FROM w WHERE length(word) > 0),
             |e AS (
             |  SELECT lang, nc,
             |    replace(replace(replace(replace(s0,
             |      'e' || chr(1) || 'r' || chr(1), 'er' || chr(1)),
             |      'i' || chr(1) || 'n' || chr(1), 'in' || chr(1)),
             |      'o' || chr(1) || 'w' || chr(1), 'ow' || chr(1)),
             |      'o' || chr(1) || 'r' || chr(1), 'or' || chr(1)) AS s
             |  FROM f)
             |SELECT lang AS grp, count(*) AS n_words,
             |  CAST(sum(nc) AS BIGINT) AS n_chars,
             |  CAST(sum(length(s) - length(replace(s, chr(1), '')))
             |    AS BIGINT) AS n_tokens,
             |  CAST(sum(length(s) - length(replace(s, chr(1), '')))
             |    AS DOUBLE) / count(*) AS fertility
             |FROM e GROUP BY lang ORDER BY grp""".stripMargin)),

    QuerySpec(
      "l82_ann_index_update",
      "incremental ANN index UPDATE — the daily-ingest face l72's one-time build leaves open: the standing index's FROZEN artifacts (centroids/codebook) are the SHARED AnnIndexStore build's — the same artifacts l72 persists and t22 serves, trained on whatever corpus existed at the last periodic re-build (which here includes the batch ids: artifact freshness is l72's re-build contract, not this query's) — and the standing lists/codes/norms are that build's rows restricted to the base corpus, which per-row determinism makes identical to assignEncode(base) against those artifacts, so this query contains no training job at all; a NEW vector batch (vec_id%5=0) is assigned + PQ-encoded against the FROZEN centroids/codebook (assignEncode — no Lloyd machinery anywhere in the update plan) and appended to the persisted lists/codes/norms. Gate: ALL THREE updated artifact tables EXACTLY equal a frozen-artifact rebuild over the union corpus (assignment, encoding and norms are per-row deterministic functions of the frozen artifacts, so update ≡ rebuild — zero MULTISET mismatches across lists, codes AND norms: each side is grouped on all columns with a count and full-outer-joined on columns+count, so duplicate-row multiplicity differences fail too), and every vector old or new is indexed (n_indexed = n_base + n_added: freshly-ingested vectors are immediately servable by l72's unchanged read path). Serving quality itself is l72/t22's contract; this query is the MAINTENANCE contract. Oracle = the deterministic counts + literal true",
      (s, dir) => {
        val S = Similarity
        val e = Tables.load(s, dir, "embeddings")
        val batch = e.where(col("vec_id") % 5 === 0)
        // the standing index's frozen artifacts come from the SHARED
        // AnnIndexStore build (same as l72/t22; trained at the last
        // periodic re-build, over a corpus that here included the batch
        // ids — freshness is l72's contract, not this query's); the
        // standing lists/codes/norms are that build's rows restricted
        // to base, identical by per-row determinism to
        // assignEncode(base) against the frozen artifacts — no
        // training job anywhere in this query
        val shared = graft.operators.AnnIndexStore.sharedIndex(s, dir)
        val basePred = col("c_id") % 5 =!= 0
        val frozen = S.AnnIndex(
          shared.centroids,
          shared.lists.where(basePred),
          shared.codebook,
          shared.codes.where(basePred),
          shared.norms.where(basePred))
        val updated = S.updateAnnIndex(frozen, batch,
          "vec_id", "embedding",
          m = graft.operators.AnnIndexStore.DefaultM)
        // frozen-artifact rebuild over the union — the equivalence base
        val (lR, cR, nR) = S.assignEncode(frozen.centroids, frozen.codebook,
          e, "vec_id", "embedding",
          m = graft.operators.AnnIndexStore.DefaultM)
        // exact MULTISET-compare on ALL columns (Gates.mismatches —
        // duplicate-row multiplicity differences fail too)
        e.agg(count(when(col("vec_id") % 5 =!= 0, 1)).as("n_base"),
            count(when(col("vec_id") % 5 === 0, 1)).as("n_added"))
          .crossJoin(broadcast(
            updated.lists.agg(count(lit(1)).as("n_indexed"))))
          .crossJoin(broadcast(mismatches(updated.lists, lR, "__ml")))
          .crossJoin(broadcast(mismatches(updated.codes, cR, "__mc")))
          .crossJoin(broadcast(mismatches(updated.norms, nR, "__mn")))
          .select(col("n_base"), col("n_added"), col("n_indexed"),
            (col("__ml") === 0 && col("__mc") === 0 && col("__mn") === 0 &&
              col("n_indexed") === col("n_base") + col("n_added"))
              .as("update_ok"))
      },
      Some("""SELECT
             |  count(CASE WHEN vec_id % 5 <> 0 THEN 1 END) AS n_base,
             |  count(CASE WHEN vec_id % 5 = 0 THEN 1 END) AS n_added,
             |  count(*) AS n_indexed,
             |  TRUE AS update_ok
             |FROM embeddings""".stripMargin)),

    QuerySpec(
      "l83_lm_perplexity",
      "add-one-smoothed bigram LM quality filter — the real CCNet/Gopher-style perplexity shape l44's vocabulary coverage stood in for: the model trains on the held-out clean slice doc_id%7=0 (one pair-count aggregate; context counts DERIVED from the pair table; both vocab-bounded and broadcast), every document is scored by its per-token surprisal, and the output is the log2-perplexity BAND census plus the top/bottom-10 documents by bits-per-token (high = garble candidates, low = boilerplate). Surprisal is the INTEGER-QUANTIZED log2 — bits = bitlen(ctxCount+V) - bitlen(pairCount+1) via length(bin(x)), pure BIGINT arithmetic on both engines (the l47 rational no-libm discipline; bands of quantized bits-per-token ARE perplexity bands, 2^bpt) — so the whole frame hash-matches; per-doc scores localCheckpoint'ed once and shared by all three sections (the l55 pattern)",
      (s, dir) => perplexityCard(s, dir, order = 2),
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |ap AS (
             |  SELECT doc_id,
             |    unnest([{'prev': t[i], 'cur': t[i+1]}
             |            for i in range(1, len(t))], recursive := true)
             |  FROM tk),
             |v AS (
             |  SELECT count(DISTINCT tok) AS v FROM (
             |    SELECT unnest(t) AS tok FROM tk WHERE doc_id % 7 = 0)),
             |pc AS (
             |  SELECT prev, cur, count(*) AS pair_c FROM ap
             |  WHERE doc_id % 7 = 0 GROUP BY 1, 2),
             |ctx AS (
             |  SELECT prev, CAST(sum(pair_c) AS BIGINT) AS ctx_c
             |  FROM pc GROUP BY 1),
             |sc AS (
             |  SELECT ap.doc_id,
             |    length(bin(coalesce(ctx.ctx_c, 0) + (SELECT v FROM v)))
             |      - length(bin(coalesce(pc.pair_c, 0) + 1)) AS bits
             |  FROM ap
             |  LEFT JOIN pc ON ap.prev = pc.prev AND ap.cur = pc.cur
             |  LEFT JOIN ctx ON ap.prev = ctx.prev),
             |pd AS (
             |  SELECT d.doc_id,
             |    count(sc.bits) AS n_scored,
             |    CAST(sum(sc.bits) AS BIGINT) AS total_bits
             |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
             |  GROUP BY 1),
             |pdd AS (
             |  SELECT doc_id, n_scored, total_bits,
             |    CASE WHEN n_scored > 0
             |      THEN CAST(total_bits AS DOUBLE) / n_scored END AS bpt
             |  FROM pd)
             |SELECT 'band' AS section, CAST(floor(bpt) AS BIGINT) AS k,
             |  CAST(NULL AS BIGINT) AS doc_id, count(*) AS n_docs,
             |  CAST(NULL AS BIGINT) AS n_scored,
             |  CAST(NULL AS BIGINT) AS total_bits,
             |  CAST(NULL AS DOUBLE) AS bpt
             |FROM pdd GROUP BY 2
             |UNION ALL
             |SELECT 'top', rk, doc_id, NULL, n_scored, total_bits, bpt
             |FROM (
             |  SELECT doc_id, n_scored, total_bits, bpt,
             |    row_number() OVER (ORDER BY bpt DESC, doc_id) AS rk
             |  FROM pdd WHERE bpt IS NOT NULL) WHERE rk <= 10
             |UNION ALL
             |SELECT 'bot', rk, doc_id, NULL, n_scored, total_bits, bpt
             |FROM (
             |  SELECT doc_id, n_scored, total_bits, bpt,
             |    row_number() OVER (ORDER BY bpt ASC, doc_id) AS rk
             |  FROM pdd WHERE bpt IS NOT NULL) WHERE rk <= 10"""
        .stripMargin)),

    QuerySpec(
      "l84_data_card",
      "the one-command corpus DATA CARD — the standing ops report a corpus run ships with its output, composing the census family (corpus mass, exact-dup structure incl. duplicated token mass, language/source composition, short-doc and repeated-token quality flags, shard-packing forecast) into ONE typed (section, metric, value) frame: documents are scanned ONCE into a narrow checkpointed per-doc frame (id, lang, source, counts, SHA-256 digest — never the text) and every section is a tiny aggregate over it (the l55 shared-scan pattern; DataCardSpec plan-probes that no section replans the parquet scan); every value is BIGINT so the card hash-matches end to end",
      (s, dir) => Curation.dataCard(
        Tables.load(s, dir, "documents"), "doc_id", "text", "lang",
        "source"),
      Some("""WITH pd AS (
             |  SELECT doc_id, lang, source,
             |    CAST(length(text) AS BIGINT) AS n_chars,
             |    CAST(len(string_split(trim(text), ' ')) AS BIGINT)
             |      AS n_tokens,
             |    CAST(len(list_distinct(string_split(trim(text), ' ')))
             |      AS BIGINT) AS n_distinct,
             |    sha256(text) AS digest
             |  FROM documents),
             |dg AS (
             |  SELECT digest, count(*) AS cnt, max(n_tokens) AS tok
             |  FROM pd GROUP BY 1)
             |SELECT 'corpus' AS section, 'n_docs' AS metric,
             |  count(*) AS value FROM pd
             |UNION ALL SELECT 'corpus', 'n_tokens',
             |  CAST(sum(n_tokens) AS BIGINT) FROM pd
             |UNION ALL SELECT 'corpus', 'n_chars',
             |  CAST(sum(n_chars) AS BIGINT) FROM pd
             |UNION ALL SELECT 'dedup', 'n_unique_digests', count(*) FROM dg
             |UNION ALL SELECT 'dedup', 'n_dup_docs',
             |  CAST(sum(cnt - 1) AS BIGINT) FROM dg
             |UNION ALL SELECT 'dedup', 'dup_token_mass',
             |  CAST(sum((cnt - 1) * tok) AS BIGINT) FROM dg
             |UNION ALL SELECT 'lang', lang, count(*) FROM pd GROUP BY lang
             |UNION ALL SELECT 'source', source, count(*) FROM pd
             |  GROUP BY source
             |UNION ALL SELECT 'quality', 'n_short_docs',
             |  CAST(sum(CASE WHEN n_tokens < 32 THEN 1 ELSE 0 END)
             |    AS BIGINT) FROM pd
             |UNION ALL SELECT 'quality', 'repeated_token_mass',
             |  CAST(sum(n_tokens - n_distinct) AS BIGINT) FROM pd
             |UNION ALL SELECT 'pack', 'n_shards_4096',
             |  CAST((sum(n_tokens) + 4095) // 4096 AS BIGINT) FROM pd"""
        .stripMargin)),

    QuerySpec(
      "l85_image_decode_quarantine",
      "l71's mixed-format REAL codec under the PRODUCTION ingest contract (the l74 count-and-quarantine discipline): every doc_id%11=0 blob is deterministically poisoned (first 8 bytes zeroed — both magic signatures killed), and the quarantine decode tier emits (format='corrupt', NULL dims) for exactly those rows instead of failing the task — rare poison must never kill a 100 TB ingest, and a reader that throws mid-decode is dropped from the per-batch cache so its state cannot leak into later rows; the oracle replays the poison predicate byte-for-byte, so the hash only matches if quarantine catches EXACTLY the corrupted rows and both codecs still round-trip the clean ones",
      (s, dir) => Multimodal.decodeImageQuarantine(
        Multimodal.corruptBlobs(
          FixtureBlobStore.shared(s, dir, "image_mixed"),
          "doc_id", modulo = 11),
        "doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 11 = 0 THEN NULL
             |       ELSE CAST(8 + doc_id % 16 AS INT) END AS width,
             |  CASE WHEN doc_id % 11 = 0 THEN NULL
             |       ELSE CAST(8 + (doc_id * 3) % 16 AS INT) END AS height,
             |  CASE WHEN doc_id % 11 = 0 THEN 'corrupt'
             |       WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
             |FROM documents""".stripMargin)),

    QuerySpec(
      "l86_lm_trigram",
      "l83's perplexity filter at order 3 — the trigram count LM (one step closer to CCNet's 5-gram KenLM shape): the (n-1)-token context is space-joined into ONE key string (tokens are whitespace-split, so the join is unambiguous), which makes the whole count/score machinery order-generic — same add-one smoothing over the unigram vocab, same integer bit-length surprisal, same broadcast count tables, same band census + top/bottom-10 frame; docs under 3 tokens condition nothing (NULL band). Longer contexts sharpen the filter: seen trigrams score near their context entropy while unseen contexts fall to the uniform 1/V floor, so the band spread widens vs l83 — the reason production filters climb n until the count tables stop fitting",
      (s, dir) => perplexityCard(s, dir, order = 3),
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |ap AS (
             |  SELECT doc_id,
             |    unnest([{'prev': array_to_string(t[i:i+1], ' '),
             |             'cur': t[i+2]}
             |            for i in range(1, len(t) - 1)],
             |           recursive := true)
             |  FROM tk),
             |v AS (
             |  SELECT count(DISTINCT tok) AS v FROM (
             |    SELECT unnest(t) AS tok FROM tk WHERE doc_id % 7 = 0)),
             |pc AS (
             |  SELECT prev, cur, count(*) AS pair_c FROM ap
             |  WHERE doc_id % 7 = 0 GROUP BY 1, 2),
             |ctx AS (
             |  SELECT prev, CAST(sum(pair_c) AS BIGINT) AS ctx_c
             |  FROM pc GROUP BY 1),
             |sc AS (
             |  SELECT ap.doc_id,
             |    length(bin(coalesce(ctx.ctx_c, 0) + (SELECT v FROM v)))
             |      - length(bin(coalesce(pc.pair_c, 0) + 1)) AS bits
             |  FROM ap
             |  LEFT JOIN pc ON ap.prev = pc.prev AND ap.cur = pc.cur
             |  LEFT JOIN ctx ON ap.prev = ctx.prev),
             |pd AS (
             |  SELECT d.doc_id,
             |    count(sc.bits) AS n_scored,
             |    CAST(sum(sc.bits) AS BIGINT) AS total_bits
             |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
             |  GROUP BY 1),
             |pdd AS (
             |  SELECT doc_id, n_scored, total_bits,
             |    CASE WHEN n_scored > 0
             |      THEN CAST(total_bits AS DOUBLE) / n_scored END AS bpt
             |  FROM pd)
             |SELECT 'band' AS section, CAST(floor(bpt) AS BIGINT) AS k,
             |  CAST(NULL AS BIGINT) AS doc_id, count(*) AS n_docs,
             |  CAST(NULL AS BIGINT) AS n_scored,
             |  CAST(NULL AS BIGINT) AS total_bits,
             |  CAST(NULL AS DOUBLE) AS bpt
             |FROM pdd GROUP BY 2
             |UNION ALL
             |SELECT 'top', rk, doc_id, NULL, n_scored, total_bits, bpt
             |FROM (
             |  SELECT doc_id, n_scored, total_bits, bpt,
             |    row_number() OVER (ORDER BY bpt DESC, doc_id) AS rk
             |  FROM pdd WHERE bpt IS NOT NULL) WHERE rk <= 10
             |UNION ALL
             |SELECT 'bot', rk, doc_id, NULL, n_scored, total_bits, bpt
             |FROM (
             |  SELECT doc_id, n_scored, total_bits, bpt,
             |    row_number() OVER (ORDER BY bpt ASC, doc_id) AS rk
             |  FROM pdd WHERE bpt IS NOT NULL) WHERE rk <= 10"""
        .stripMargin)),

    QuerySpec(
      "l87_lm_backoff",
      "interpolated bigram<->unigram LM scoring — the smoothing shape production CCNet-style filters actually use (a raw add-one bigram over-penalizes frequent words after unseen contexts; l83 is the textbook baseline, this is the deployable variant): p = 1/2 p_bi + 1/2 p_uni carried as ONE exact BIGINT rational (num = pbn*pud + pun*pbd, den = 2*pbd*pud — each mixture component <= 1 so num <= den) and quantized to bit-length surprisal exactly like l83, so the band census + top/bottom-10 card stays hash-exact with zero libm; the unigram table and train-token total join broadcast alongside the bigram tables — same one-scan-per-doc scoring plan, one extra vocab-bounded broadcast",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val model = graft.operators.NgramModelStore.sharedBackoff(s, dir)
        cardOf(NgramLm.backoffBits(d, "doc_id", "text", model))
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |ap AS (
             |  SELECT doc_id,
             |    unnest([{'prev': t[i], 'cur': t[i+1]}
             |            for i in range(1, len(t))], recursive := true)
             |  FROM tk),
             |trtok AS (
             |  SELECT unnest(t) AS tok FROM tk WHERE doc_id % 7 = 0),
             |v AS (SELECT count(DISTINCT tok) AS v FROM trtok),
             |tot AS (SELECT count(*) AS n FROM trtok),
             |uni AS (SELECT tok AS cur, count(*) AS uni_c
             |        FROM trtok GROUP BY 1),
             |pc AS (
             |  SELECT prev, cur, count(*) AS pair_c FROM ap
             |  WHERE doc_id % 7 = 0 GROUP BY 1, 2),
             |ctx AS (
             |  SELECT prev, CAST(sum(pair_c) AS BIGINT) AS ctx_c
             |  FROM pc GROUP BY 1),
             |sc AS (
             |  SELECT ap.doc_id,
             |    length(bin(2 * (coalesce(ctx.ctx_c, 0) + (SELECT v FROM v))
             |                 * ((SELECT n FROM tot) + (SELECT v FROM v))))
             |    - length(bin(
             |        (coalesce(pc.pair_c, 0) + 1)
             |          * ((SELECT n FROM tot) + (SELECT v FROM v))
             |        + (coalesce(uni.uni_c, 0) + 1)
             |          * (coalesce(ctx.ctx_c, 0) + (SELECT v FROM v))))
             |      AS bits
             |  FROM ap
             |  LEFT JOIN pc ON ap.prev = pc.prev AND ap.cur = pc.cur
             |  LEFT JOIN ctx ON ap.prev = ctx.prev
             |  LEFT JOIN uni ON ap.cur = uni.cur),
             |pd AS (
             |  SELECT d.doc_id,
             |    count(sc.bits) AS n_scored,
             |    CAST(sum(sc.bits) AS BIGINT) AS total_bits
             |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
             |  GROUP BY 1),
             |pdd AS (
             |  SELECT doc_id, n_scored, total_bits,
             |    CASE WHEN n_scored > 0
             |      THEN CAST(total_bits AS DOUBLE) / n_scored END AS bpt
             |  FROM pd)
             |SELECT 'band' AS section, CAST(floor(bpt) AS BIGINT) AS k,
             |  CAST(NULL AS BIGINT) AS doc_id, count(*) AS n_docs,
             |  CAST(NULL AS BIGINT) AS n_scored,
             |  CAST(NULL AS BIGINT) AS total_bits,
             |  CAST(NULL AS DOUBLE) AS bpt
             |FROM pdd GROUP BY 2
             |UNION ALL
             |SELECT 'top', rk, doc_id, NULL, n_scored, total_bits, bpt
             |FROM (
             |  SELECT doc_id, n_scored, total_bits, bpt,
             |    row_number() OVER (ORDER BY bpt DESC, doc_id) AS rk
             |  FROM pdd WHERE bpt IS NOT NULL) WHERE rk <= 10
             |UNION ALL
             |SELECT 'bot', rk, doc_id, NULL, n_scored, total_bits, bpt
             |FROM (
             |  SELECT doc_id, n_scored, total_bits, bpt,
             |    row_number() OVER (ORDER BY bpt ASC, doc_id) AS rk
             |  FROM pdd WHERE bpt IS NOT NULL) WHERE rk <= 10"""
        .stripMargin)),

    QuerySpec(
      "l88_lm_kneser_ney",
      "Kneser-Ney smoothed bigram LM scoring — THE production smoothing (KenLM's default; what CCNet's 5-gram filters actually ship), completing the family l83 (add-one) / l86 (trigram) / l87 (interpolated) built up to: absolute discount D = 3/4 off every seen pair, the freed mass backing off to the CONTINUATION unigram (how many distinct contexts a word follows — the fix for frequent-but-context-bound words that l87's raw-frequency backoff over-scores); p is carried times-4 as an exact BIGINT rational (num = max(4c(uw)-3,0)*(T+V) + 3*N1+(u.)*(N1+(.w)+1), den = 4c(u)*(T+V); over the vocab the numerators telescope to exactly den, so num <= den) and quantized to bit-length surprisal — hash-exact with zero libm; the three continuation tables are all DERIVED from the pair table (never a second corpus pass), vocab-bounded, and broadcast — same one-scan scoring plan as l83/l87",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val model = graft.operators.NgramModelStore.sharedKneserNey(s, dir)
        cardOf(NgramLm.kneserNeyBits(d, "doc_id", "text", model))
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |ap AS (
             |  SELECT doc_id,
             |    unnest([{'prev': t[i], 'cur': t[i+1]}
             |            for i in range(1, len(t))], recursive := true)
             |  FROM tk),
             |v AS (
             |  SELECT count(DISTINCT tok) AS v FROM (
             |    SELECT unnest(t) AS tok FROM tk WHERE doc_id % 7 = 0)),
             |pc AS (
             |  SELECT prev, cur, count(*) AS pair_c FROM ap
             |  WHERE doc_id % 7 = 0 GROUP BY 1, 2),
             |ctx AS (
             |  SELECT prev, CAST(sum(pair_c) AS BIGINT) AS ctx_c
             |  FROM pc GROUP BY 1),
             |dct AS (SELECT prev, count(*) AS dcont_c FROM pc GROUP BY 1),
             |cont AS (SELECT cur, count(*) AS cont_c FROM pc GROUP BY 1),
             |tt AS (SELECT count(*) AS t FROM pc),
             |sc AS (
             |  SELECT ap.doc_id,
             |    length(bin(CASE WHEN ctx.ctx_c IS NOT NULL
             |      THEN 4 * ctx.ctx_c
             |             * ((SELECT t FROM tt) + (SELECT v FROM v))
             |      ELSE (SELECT t FROM tt) + (SELECT v FROM v) END))
             |    - length(bin(CASE WHEN ctx.ctx_c IS NOT NULL
             |      THEN greatest(4 * coalesce(pc.pair_c, 0) - 3, 0)
             |             * ((SELECT t FROM tt) + (SELECT v FROM v))
             |           + 3 * dct.dcont_c * (coalesce(cont.cont_c, 0) + 1)
             |      ELSE coalesce(cont.cont_c, 0) + 1 END)) AS bits
             |  FROM ap
             |  LEFT JOIN pc ON ap.prev = pc.prev AND ap.cur = pc.cur
             |  LEFT JOIN ctx ON ap.prev = ctx.prev
             |  LEFT JOIN dct ON ap.prev = dct.prev
             |  LEFT JOIN cont ON ap.cur = cont.cur),
             |pd AS (
             |  SELECT d.doc_id,
             |    count(sc.bits) AS n_scored,
             |    CAST(sum(sc.bits) AS BIGINT) AS total_bits
             |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
             |  GROUP BY 1),
             |pdd AS (
             |  SELECT doc_id, n_scored, total_bits,
             |    CASE WHEN n_scored > 0
             |      THEN CAST(total_bits AS DOUBLE) / n_scored END AS bpt
             |  FROM pd)
             |SELECT 'band' AS section, CAST(floor(bpt) AS BIGINT) AS k,
             |  CAST(NULL AS BIGINT) AS doc_id, count(*) AS n_docs,
             |  CAST(NULL AS BIGINT) AS n_scored,
             |  CAST(NULL AS BIGINT) AS total_bits,
             |  CAST(NULL AS DOUBLE) AS bpt
             |FROM pdd GROUP BY 2
             |UNION ALL
             |SELECT 'top', rk, doc_id, NULL, n_scored, total_bits, bpt
             |FROM (
             |  SELECT doc_id, n_scored, total_bits, bpt,
             |    row_number() OVER (ORDER BY bpt DESC, doc_id) AS rk
             |  FROM pdd WHERE bpt IS NOT NULL) WHERE rk <= 10
             |UNION ALL
             |SELECT 'bot', rk, doc_id, NULL, n_scored, total_bits, bpt
             |FROM (
             |  SELECT doc_id, n_scored, total_bits, bpt,
             |    row_number() OVER (ORDER BY bpt ASC, doc_id) AS rk
             |  FROM pdd WHERE bpt IS NOT NULL) WHERE rk <= 10"""
        .stripMargin)),

    QuerySpec(
      "l89_winnowing",
      "winnowing-fingerprint near-dup pairs — the MOSS local-fingerprinting algorithm (Schleimer/Wilkerson/Aiken SIGMOD'03) between MinHash (probabilistic whole-document, l03) and the exact span census (every gram shuffled, l77): hash every 4-token gram with the deterministic rolling hash, slide a 5-hash window, keep each window's MINIMUM — any shared run of >= w+k-1 = 8 tokens then provably shares a fingerprint (both docs see the same window and pick the same min; DedupSimilaritySpec property-pins the guarantee) while storage shrinks ~2/(w+1); pairs sharing >= 2 fingerprints surface, with the l50/l54 df-cap on hot boilerplate fingerprints (df > 64 carries no dedup signal and would explode the inverted-index join); ONE tokenize+hash scan is checkpointed and feeds both the df aggregate and the pair join, the posting table shuffles (fp, doc_id) BIGINTs only — and unlike seeded MinHash the fingerprints are deterministic, so the whole pair frame is oracle-exact, not a recall gate",
      (s, dir) => Dedup.winnowPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        k = 4, w = 5, minShared = 2, dfCap = 64),
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |gh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(t) >= 4 THEN
             |      [list_reduce([unicode(c) for c in
             |          regexp_split_to_array(
             |            array_to_string(t[i:i+3], ' '), '')],
             |        (a, b) -> (CAST(a AS BIGINT) * 31 + b) % 1000000007)
             |       for i in range(1, len(t) - 2)]
             |    ELSE CAST([] AS BIGINT[]) END AS gh
             |  FROM tk),
             |fpt AS (
             |  SELECT doc_id,
             |    CASE WHEN len(gh) >= 5 THEN
             |      list_distinct([list_min(gh[j:j+4])
             |                     for j in range(1, len(gh) - 3)])
             |    WHEN len(gh) > 0 THEN [list_min(gh)]
             |    ELSE CAST([] AS BIGINT[]) END AS fps
             |  FROM gh),
             |ex AS (SELECT doc_id, unnest(fps) AS fp FROM fpt),
             |cold AS (
             |  SELECT fp FROM ex GROUP BY 1
             |  HAVING count(*) BETWEEN 2 AND 64),
             |po AS (SELECT ex.doc_id, ex.fp FROM ex JOIN cold USING (fp))
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  count(*) AS n_shared
             |FROM po a JOIN po b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |GROUP BY 1, 2
             |HAVING count(*) >= 2""".stripMargin)),

    QuerySpec(
      "l90_nb_quality_filter",
      "dedup-bootstrapped boilerplate classifier — the trained-classifier curation filter (GPT-3's WebText-vs-crawl, LLaMA's Wikipedia-reference), with the labels BOOTSTRAPPED from a cheaper pass the way FineWeb-style pipelines do: the winnowing dedup pass (l89's exact pair frame) labels every doc in a near-dup pair as boilerplate, multinomial Naive Bayes trains reference-vs-boilerplate on word-BIGRAM features (the shared-phrasing signature — a duplicated passage contributes its exact bigrams, random text draws them independently) in ONE feature-count aggregate (totals row DERIVED from the count table — no second pass, no iteration, no solver), and every document's log-odds margin is the sum of per-feature INTEGER-QUANTIZED class-surprisal differences, margin = [bitlen(N_neg+V)-bitlen(c_neg+1)] - [bitlen(N_pos+V)-bitlen(c_pos+1)] — pure BIGINT arithmetic on both engines (the l83 discipline), so the frame hash-matches end to end; output = the margin-per-feature band census + top/bottom-10 extremes (the l83 card off the same shared checkpoint), the keep census (margin >= 0 is the Bayes decision at equal priors), and the CONFUSION census vs the dedup labels (k = 2*keep + is_dup — on the fixture the classifier rejects every labeled dup, the generalization the frozen model then applies at ingest with NO corpus join, t33's face and t32's cheap complement); scoring is explode -> one broadcast vocab-bounded join -> one-row totals attach -> map-side-combined per-doc sum",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        // the standing artifact: label + train ONCE per application
        // (NbModelStore — the AnnIndexStore discipline); l90 consumes
        // the count tables, t33 the collected serve view of the SAME
        // build
        val (labeled, model) =
          graft.operators.NbModelStore.sharedBoilerplateModel(s, dir)
        nbCardOf(NbClassifier
          .marginBits(d, "doc_id", "text", model, NbClassifier.bigramFeats)
          .join(broadcast(labeled), Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_scored"), col("total_bits"),
            col("bpt"), coalesce(col("is_dup"), lit(0L)).as("is_dup")))
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |gh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(t) >= 4 THEN
             |      [list_reduce([unicode(c) for c in
             |          regexp_split_to_array(
             |            array_to_string(t[i:i+3], ' '), '')],
             |        (a, b) -> (CAST(a AS BIGINT) * 31 + b) % 1000000007)
             |       for i in range(1, len(t) - 2)]
             |    ELSE CAST([] AS BIGINT[]) END AS gh
             |  FROM tk),
             |fpt AS (
             |  SELECT doc_id,
             |    CASE WHEN len(gh) >= 5 THEN
             |      list_distinct([list_min(gh[j:j+4])
             |                     for j in range(1, len(gh) - 3)])
             |    WHEN len(gh) > 0 THEN [list_min(gh)]
             |    ELSE CAST([] AS BIGINT[]) END AS fps
             |  FROM gh),
             |ex AS (SELECT doc_id, unnest(fps) AS fp FROM fpt),
             |cold AS (
             |  SELECT fp FROM ex GROUP BY 1
             |  HAVING count(*) BETWEEN 2 AND 64),
             |po AS (SELECT ex.doc_id, ex.fp FROM ex JOIN cold USING (fp)),
             |pr AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
             |  FROM po a JOIN po b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |lab AS (
             |  SELECT DISTINCT doc_id FROM (
             |    SELECT a_id AS doc_id FROM pr
             |    UNION ALL SELECT b_id FROM pr)),
             |bg AS (
             |  SELECT doc_id, unnest(
             |    [t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS feat
             |  FROM tk),
             |tc AS (
             |  SELECT feat,
             |    CAST(count(*) FILTER (WHERE lab.doc_id IS NULL) AS BIGINT)
             |      AS pos_c,
             |    CAST(count(*) FILTER (WHERE lab.doc_id IS NOT NULL)
             |      AS BIGINT) AS neg_c
             |  FROM bg LEFT JOIN lab USING (doc_id) GROUP BY 1),
             |tot AS (
             |  SELECT CAST(sum(pos_c) AS BIGINT) AS n_pos,
             |    CAST(sum(neg_c) AS BIGINT) AS n_neg,
             |    count(*) AS v FROM tc),
             |sc AS (
             |  SELECT bg.doc_id,
             |    (length(bin((SELECT n_neg FROM tot) + (SELECT v FROM tot)))
             |      - length(bin(coalesce(tc.neg_c, 0) + 1)))
             |    - (length(bin((SELECT n_pos FROM tot) + (SELECT v FROM tot)))
             |      - length(bin(coalesce(tc.pos_c, 0) + 1))) AS bits
             |  FROM bg LEFT JOIN tc USING (feat)),
             |pd AS (
             |  SELECT d.doc_id, count(sc.bits) AS n_scored,
             |    CAST(sum(sc.bits) AS BIGINT) AS total_bits
             |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
             |  GROUP BY 1),
             |pdd AS (
             |  SELECT pd.doc_id, n_scored, total_bits,
             |    CASE WHEN n_scored > 0
             |      THEN CAST(total_bits AS DOUBLE) / n_scored END AS bpt,
             |    CASE WHEN lab.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
             |  FROM pd LEFT JOIN lab ON pd.doc_id = lab.doc_id)
             |SELECT 'band' AS section, CAST(floor(bpt) AS BIGINT) AS k,
             |  CAST(NULL AS BIGINT) AS doc_id, count(*) AS n_docs,
             |  CAST(NULL AS BIGINT) AS n_scored,
             |  CAST(NULL AS BIGINT) AS total_bits,
             |  CAST(NULL AS DOUBLE) AS bpt
             |FROM pdd GROUP BY 2
             |UNION ALL
             |SELECT 'top', rk, doc_id, NULL, n_scored, total_bits, bpt
             |FROM (
             |  SELECT doc_id, n_scored, total_bits, bpt,
             |    row_number() OVER (ORDER BY bpt DESC, doc_id) AS rk
             |  FROM pdd WHERE bpt IS NOT NULL) WHERE rk <= 10
             |UNION ALL
             |SELECT 'bot', rk, doc_id, NULL, n_scored, total_bits, bpt
             |FROM (
             |  SELECT doc_id, n_scored, total_bits, bpt,
             |    row_number() OVER (ORDER BY bpt ASC, doc_id) AS rk
             |  FROM pdd WHERE bpt IS NOT NULL) WHERE rk <= 10
             |UNION ALL
             |SELECT 'keep',
             |  CASE WHEN total_bits IS NULL THEN NULL
             |    WHEN total_bits >= 0 THEN 1 ELSE 0 END,
             |  NULL, count(*), NULL, NULL, NULL
             |FROM pdd GROUP BY 2
             |UNION ALL
             |SELECT 'conf',
             |  CASE WHEN total_bits IS NULL THEN NULL
             |    ELSE 2 * (CASE WHEN total_bits >= 0 THEN 1 ELSE 0 END)
             |      + is_dup END,
             |  NULL, count(*), NULL, NULL, NULL
             |FROM pdd GROUP BY 2""".stripMargin)),

    QuerySpec(
      "l91_image_dhash_neardup",
      "perceptual image near-dup through the REAL codec — the multimodal analogue of MinHash dedup (a web corpus's images recur with tiny edits: recompression, watermarks, single-pixel noise; byte dedup sees distinct blobs, a perceptual hash must see one image): the near-dup PNG fixture encodes four genuine PNG variants per group (one id-seeded pattern, each variant inverting ONE pixel), dHashBands decodes the real bytes with javax.imageio and computes a difference hash under an all-INTEGER contract (9x8 block grid with exact floor boundaries inverted by the property-verified closed form (9x+8)/w, gray sums compared cross-multiplied — never a division), packed as 8 row-byte BANDS; candidate pairs come from a band equi-join (by pigeonhole every pair within Hamming 7 shares a band — no all-pairs stage at any scale), verified by exact Hamming over the band arrays. The oracle replays the hash from the fixture's pixel FORMULA, so the frame only matches if the PNG decode returns every RGB value exactly — the decode is inside the gate, not mocked (the l66 contract, extended from dimensions to pixels); the decode runs ONCE (checkpointed) and feeds both sides of the self-join",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val hb = graft.multimodal.Multimodal.dHashBands(
          graft.multimodal.Multimodal.withNearDupPngBlob(d, "doc_id"),
          "doc_id").localCheckpoint(eager = false)
        val ex = hb.selectExpr("doc_id", "bands",
          "posexplode(bands) as (b, v)")
        val cand = ex.as("a").join(ex.as("b"),
            col("a.b") === col("b.b") && col("a.v") === col("b.v") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            col("a.bands").as("ab"), col("b.bands").as("bb"))
          .distinct()
        cand
          .select(col("a_id"), col("b_id"),
            aggregate(zip_with(col("ab"), col("bb"),
                (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
              lit(0L), (acc, e) => acc + e).as("hamming"))
          .where(col("hamming") <= 7)
      },
      Some("""WITH ids AS (
             |  SELECT doc_id, doc_id // 4 AS grp, doc_id % 4 AS v
             |  FROM documents),
             |dims AS (
             |  SELECT doc_id, v,
             |    16 + grp % 8 AS w, 16 + (grp * 3) % 8 AS h,
             |    (grp * 2654435761) % 16777216 AS seed
             |  FROM ids),
             |pt AS (
             |  SELECT doc_id, v, w, h, xs.x AS x, ys.y AS y,
             |    (seed + xs.x * 7349 + ys.y * 131071) * 2654435761 AS t
             |  FROM dims
             |  CROSS JOIN range(0, 23) xs(x) CROSS JOIN range(0, 23) ys(y)
             |  WHERE xs.x < w AND ys.y < h),
             |px AS (
             |  SELECT doc_id,
             |    (9 * x + 8) // w AS i, (8 * y + 7) // h AS j,
             |    CASE WHEN x = v AND y = 3 * v
             |      THEN xor(xor(t >> 8, t >> 24) % 16777216, 16777215)
             |      ELSE xor(t >> 8, t >> 24) % 16777216 END AS p
             |  FROM pt),
             |blk AS (
             |  SELECT doc_id, i, j,
             |    CAST(sum(((p >> 16) & 255) + ((p >> 8) & 255)
             |      + (p & 255)) AS BIGINT) AS s,
             |    CAST(count(*) AS BIGINT) AS a
             |  FROM px GROUP BY 1, 2, 3),
             |bnd AS (
             |  SELECT l.doc_id, l.j,
             |    CAST(sum(CASE WHEN l.s * r.a > r.s * l.a
             |      THEN 1 << l.i ELSE 0 END) AS BIGINT) AS band
             |  FROM blk l JOIN blk r
             |    ON l.doc_id = r.doc_id AND l.j = r.j AND r.i = l.i + 1
             |  GROUP BY 1, 2),
             |hv AS (
             |  SELECT doc_id, list(band ORDER BY j) AS bands
             |  FROM bnd GROUP BY 1)
             |SELECT * FROM (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    CAST(list_sum([bit_count(xor(a.bands[k], b.bands[k]))
             |                   for k in range(1, 9)]) AS BIGINT)
             |      AS hamming
             |  FROM hv a JOIN hv b ON a.doc_id < b.doc_id)
             |WHERE hamming <= 7""".stripMargin)),

    QuerySpec(
      "l92_budget_waterfill",
      "token-budget waterfill across sources — the mixture PLANNER the sampling executors (l67 temperature rates, l73 stratified quotas) run downstream of: every source is ranked by its clean-token rate in basis points (clean = not flagged by the standing winnowing dedup labels NbModelStore already holds — the l90 artifact reused, not recomputed), then the budget (3/5 of total clean tokens — chosen so full, partial AND zero takes all occur at every sf) pours down the ranking, each source contributing min(its clean tokens, what remains); output = the per-source plan (rank, token masses, clean_bp, toks_taken, full/partial/none) in pure BIGINT arithmetic, hash-exact. Planning is ONE per-source token aggregate (labels broadcast — dup-bounded) plus a cumulative window over O(sources) rows, so plan cost is independent of corpus size — the point of planning before sampling",
      (s, dir) => {
        val (labeled, _) =
          graft.operators.NbModelStore.sharedBoilerplateModel(s, dir)
        Curation.budgetWaterfill(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", labeled)
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |gh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(t) >= 4 THEN
             |      [list_reduce([unicode(c) for c in
             |          regexp_split_to_array(
             |            array_to_string(t[i:i+3], ' '), '')],
             |        (a, b) -> (CAST(a AS BIGINT) * 31 + b) % 1000000007)
             |       for i in range(1, len(t) - 2)]
             |    ELSE CAST([] AS BIGINT[]) END AS gh
             |  FROM tk),
             |fpt AS (
             |  SELECT doc_id,
             |    CASE WHEN len(gh) >= 5 THEN
             |      list_distinct([list_min(gh[j:j+4])
             |                     for j in range(1, len(gh) - 3)])
             |    WHEN len(gh) > 0 THEN [list_min(gh)]
             |    ELSE CAST([] AS BIGINT[]) END AS fps
             |  FROM gh),
             |ex AS (SELECT doc_id, unnest(fps) AS fp FROM fpt),
             |cold AS (
             |  SELECT fp FROM ex GROUP BY 1
             |  HAVING count(*) BETWEEN 2 AND 64),
             |po AS (SELECT ex.doc_id, ex.fp FROM ex JOIN cold USING (fp)),
             |pr AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
             |  FROM po a JOIN po b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |lab AS (
             |  SELECT DISTINCT doc_id FROM (
             |    SELECT a_id AS doc_id FROM pr
             |    UNION ALL SELECT b_id FROM pr)),
             |ps AS (
             |  SELECT d.source,
             |    CAST(sum(len(string_split(trim(d.text), ' ')))
             |      AS BIGINT) AS total_toks,
             |    CAST(sum(CASE WHEN lab.doc_id IS NULL
             |      THEN len(string_split(trim(d.text), ' '))
             |      ELSE 0 END) AS BIGINT) AS clean_toks
             |  FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id
             |  GROUP BY 1),
             |rk AS (
             |  SELECT source, total_toks, clean_toks,
             |    clean_toks * 10000 // greatest(total_toks, 1) AS clean_bp,
             |    CAST(row_number() OVER w AS BIGINT) AS rank,
             |    CAST(coalesce(sum(clean_toks) OVER (w ROWS BETWEEN
             |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |      AS cum_before
             |  FROM ps
             |  WINDOW w AS (ORDER BY clean_toks * 10000
             |    // greatest(total_toks, 1) DESC, source)),
             |bud AS (
             |  SELECT CAST(sum(clean_toks) * 3 // 5 AS BIGINT) AS budget
             |  FROM ps)
             |SELECT source, rank, total_toks, clean_toks, clean_bp,
             |  greatest(0, least(clean_toks,
             |    (SELECT budget FROM bud) - cum_before)) AS toks_taken,
             |  CASE WHEN greatest(0, least(clean_toks,
             |      (SELECT budget FROM bud) - cum_before)) = clean_toks
             |    THEN 'full'
             |    WHEN greatest(0, least(clean_toks,
             |      (SELECT budget FROM bud) - cum_before)) = 0 THEN 'none'
             |    ELSE 'partial' END AS take_state
             |FROM rk""".stripMargin)),

    QuerySpec(
      "l93_data_card_diff",
      "data-card DIFF between corpus snapshots — the ops answer to 'what changed when this batch landed': l84's one-command card runs on the pre-ingest snapshot (l69's source%5<>0 convention) and on the full corpus, and ONE full-outer join on (section, metric) emits (v_base, v_full, delta) for every card line — corpus mass, dup structure, language/source composition, quality flags and the shard forecast all diffed in a single typed frame, all BIGINT so it hash-matches end to end. Each snapshot pays its one narrow checkpointed scan (two snapshots ARE two scans — the card's shared-scan discipline per side); the join is over the O(sections x metrics) card rows, not the corpus",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val srcNum = substring(col("source"), 4, 10).cast("int")
        def card(d: org.apache.spark.sql.DataFrame) =
          Curation.dataCard(d, "doc_id", "text", "lang", "source")
        card(docs.where(srcNum % 5 =!= 0))
          .withColumnRenamed("value", "v_base")
          .join(card(docs).withColumnRenamed("value", "v_full"),
            Seq("section", "metric"), "full_outer")
          .select(col("section"), col("metric"), col("v_base"),
            col("v_full"),
            (coalesce(col("v_full"), lit(0L))
              - coalesce(col("v_base"), lit(0L))).as("delta"))
      },
      Some("""WITH pd AS (
             |  SELECT doc_id, lang, source,
             |    CAST(source[4:] AS INT) % 5 <> 0 AS in_base,
             |    CAST(length(text) AS BIGINT) AS n_chars,
             |    CAST(len(string_split(trim(text), ' ')) AS BIGINT)
             |      AS n_tokens,
             |    CAST(len(list_distinct(string_split(trim(text), ' ')))
             |      AS BIGINT) AS n_distinct,
             |    sha256(text) AS digest
             |  FROM documents),
             |dga AS (
             |  SELECT digest, count(*) AS cnt, max(n_tokens) AS tok
             |  FROM pd WHERE in_base GROUP BY 1),
             |dgf AS (
             |  SELECT digest, count(*) AS cnt, max(n_tokens) AS tok
             |  FROM pd GROUP BY 1),
             |ca AS (
             |  SELECT 'corpus' AS section, 'n_docs' AS metric,
             |    count(*) AS value FROM pd WHERE in_base
             |  UNION ALL SELECT 'corpus', 'n_tokens',
             |    CAST(sum(n_tokens) AS BIGINT) FROM pd WHERE in_base
             |  UNION ALL SELECT 'corpus', 'n_chars',
             |    CAST(sum(n_chars) AS BIGINT) FROM pd WHERE in_base
             |  UNION ALL SELECT 'dedup', 'n_unique_digests', count(*)
             |    FROM dga
             |  UNION ALL SELECT 'dedup', 'n_dup_docs',
             |    CAST(sum(cnt - 1) AS BIGINT) FROM dga
             |  UNION ALL SELECT 'dedup', 'dup_token_mass',
             |    CAST(sum((cnt - 1) * tok) AS BIGINT) FROM dga
             |  UNION ALL SELECT 'lang', lang, count(*) FROM pd
             |    WHERE in_base GROUP BY lang
             |  UNION ALL SELECT 'source', source, count(*) FROM pd
             |    WHERE in_base GROUP BY source
             |  UNION ALL SELECT 'quality', 'n_short_docs',
             |    CAST(sum(CASE WHEN n_tokens < 32 THEN 1 ELSE 0 END)
             |      AS BIGINT) FROM pd WHERE in_base
             |  UNION ALL SELECT 'quality', 'repeated_token_mass',
             |    CAST(sum(n_tokens - n_distinct) AS BIGINT) FROM pd
             |    WHERE in_base
             |  UNION ALL SELECT 'pack', 'n_shards_4096',
             |    CAST((sum(n_tokens) + 4095) // 4096 AS BIGINT) FROM pd
             |    WHERE in_base),
             |cf AS (
             |  SELECT 'corpus' AS section, 'n_docs' AS metric,
             |    count(*) AS value FROM pd
             |  UNION ALL SELECT 'corpus', 'n_tokens',
             |    CAST(sum(n_tokens) AS BIGINT) FROM pd
             |  UNION ALL SELECT 'corpus', 'n_chars',
             |    CAST(sum(n_chars) AS BIGINT) FROM pd
             |  UNION ALL SELECT 'dedup', 'n_unique_digests', count(*)
             |    FROM dgf
             |  UNION ALL SELECT 'dedup', 'n_dup_docs',
             |    CAST(sum(cnt - 1) AS BIGINT) FROM dgf
             |  UNION ALL SELECT 'dedup', 'dup_token_mass',
             |    CAST(sum((cnt - 1) * tok) AS BIGINT) FROM dgf
             |  UNION ALL SELECT 'lang', lang, count(*) FROM pd
             |    GROUP BY lang
             |  UNION ALL SELECT 'source', source, count(*) FROM pd
             |    GROUP BY source
             |  UNION ALL SELECT 'quality', 'n_short_docs',
             |    CAST(sum(CASE WHEN n_tokens < 32 THEN 1 ELSE 0 END)
             |      AS BIGINT) FROM pd
             |  UNION ALL SELECT 'quality', 'repeated_token_mass',
             |    CAST(sum(n_tokens - n_distinct) AS BIGINT) FROM pd
             |  UNION ALL SELECT 'pack', 'n_shards_4096',
             |    CAST((sum(n_tokens) + 4095) // 4096 AS BIGINT) FROM pd)
             |SELECT coalesce(ca.section, cf.section) AS section,
             |  coalesce(ca.metric, cf.metric) AS metric,
             |  ca.value AS v_base, cf.value AS v_full,
             |  coalesce(cf.value, 0) - coalesce(ca.value, 0) AS delta
             |FROM ca FULL OUTER JOIN cf
             |  ON ca.section = cf.section AND ca.metric = cf.metric"""
        .stripMargin)),

    QuerySpec(
      "l94_dsir_select",
      "DSIR-style data selection via importance resampling (hashed-ngram importance weights, Xie et al. 2023) — every document scored by quantized log2 [p_target/p_raw] under hashed word-BIGRAM bag models (B=4096 buckets, add-one smoothing; target = the l83 held-out clean slice doc_id%7=0), then SAMPLED with probability min(1, 2^(bits - corpus-mean)) realized exactly: the l67 content-hash basis-point window vs a rate built from integer shifts — exponential tilting with zero libm, so re-runs keep the same documents and the whole ledger hash-matches. Output = per-source (n_docs, n_selected, sel_bits), the mixture-shift evidence. The mean threshold self-normalizes across corpus sizes (add-one smoothing drags absolute scores down when the target slice is sparse); full/partial/never acceptance regimes all live at the gate sf. Scale: one checkpointed hashed-bucket scan feeds the B-row count table AND the scoring join (l78's discipline); importance table broadcasts; per-doc sum map-side-combined; two one-row scalar attaches (totals, threshold); ledger O(sources)",
      (s, dir) => graft.operators.Dsir.dsirResampleFrom(
        Tables.load(s, dir, "documents"), "doc_id", "text", "source",
        graft.operators.MixtureModelStore.sharedDsirBuckets(s, dir)),
      Some(s"""WITH tk AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS t
              |  FROM documents
              |  WHERE text IS NOT NULL AND trim(text) <> ''),
              |bg AS (
              |  SELECT doc_id,
              |    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS is_t,
              |    unnest(CASE WHEN len(t) >= 2
              |      THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
              |      ELSE CAST([] AS VARCHAR[]) END) AS g
              |  FROM tk),
              |hb AS (
              |  SELECT doc_id, is_t,
              |    list_reduce([unicode(c) for c in
              |        regexp_split_to_array(g, '')],
              |      (a, b) -> (CAST(a AS BIGINT) * 31 + b) % 1000000007)
              |      % 4096 AS bkt
              |  FROM bg),
              |tc AS (
              |  SELECT bkt, CAST(sum(is_t) AS BIGINT) AS ct,
              |    count(*) AS cr
              |  FROM hb GROUP BY 1),
              |tot AS (
              |  SELECT CAST(sum(ct) AS BIGINT) AS nt,
              |    CAST(sum(cr) AS BIGINT) AS nr
              |  FROM tc),
              |w AS (
              |  SELECT bkt,
              |    (length(bin(nr + 4096)) - length(bin(cr + 1)))
              |      - (length(bin(nt + 4096)) - length(bin(ct + 1))) AS imp
              |  FROM tc, tot),
              |sc AS (SELECT hb.doc_id, w.imp FROM hb JOIN w USING (bkt)),
              |dd AS (SELECT doc_id, source, $fpSql AS fp FROM documents),
              |pd AS (
              |  SELECT dd.doc_id, dd.source, dd.fp,
              |    coalesce(CAST(sum(sc.imp) AS BIGINT), 0) AS imp
              |  FROM dd LEFT JOIN sc USING (doc_id)
              |  GROUP BY 1, 2, 3),
              |th AS (
              |  SELECT CAST((CAST(sum(imp) AS BIGINT)
              |      - ((CAST(sum(imp) AS BIGINT) % count(*)) + count(*))
              |        % count(*)) // count(*) AS BIGINT) AS thr
              |  FROM pd),
              |acc AS (
              |  SELECT source, imp, (fp // 100) % 10000 AS win,
              |    CASE WHEN imp >= thr THEN 10000
              |         WHEN imp <= thr - 14 THEN 0
              |         ELSE 10000 >> CAST(thr - imp AS INT) END AS rate
              |  FROM pd, th)
              |SELECT source, count(*) AS n_docs,
              |  count(CASE WHEN win < rate THEN 1 END) AS n_selected,
              |  coalesce(CAST(sum(CASE WHEN win < rate THEN imp END)
              |    AS BIGINT), 0) AS sel_bits
              |FROM acc GROUP BY 1""".stripMargin)),

    QuerySpec(
      "l95_doremi_weights",
      "DoReMi-style domain reweighting (Xie et al. 2023) — the mixture-weight setter upstream of l92's budget planner and l67/l73's sampling executors: each SOURCE's training weight comes from its EXCESS LOSS, how much worse the proxy model (add-one bigram LM trained on the full raw mixture) does on the domain than the reference model (same LM trained on the held-out clean slice doc_id%7=0) — both models from ONE pair-count aggregate (the reference's counts are the sum(is_r) column of the proxy's table). Excess is measured against the CORPUS-MEAN excess (the l94 mean-anchor discipline: DoReMi's DRO step renormalizes the weight vector, so only relative excess moves it — and the anchor cancels the systematic sparse-reference bias), clipped at 0 per DoReMi, in exact milli-bits via the pmod floor-division form; exp(excess) is the EXACT piecewise-linear base-2 exponential (the float-mantissa construction: (1000 + m mod 1000) << (m div 1000)), so a clipped domain lands on the built-in uniform floor (DoReMi's eps-uniform smoothing) and the whole ledger is BIGINT, hash-exact, zero libm. Scale: one checkpointed pair explode feeds model training AND scoring; count tables broadcast; per-domain sums map-side combined; weight arithmetic on the O(sources) ledger with three one-row scalar attaches (vocab, anchor, total)",
      (s, dir) => graft.operators.Doremi.domainWeightsFrom(
        graft.operators.MixtureModelStore.sharedJoint(s, dir),
        Tables.load(s, dir, "documents"), "source"),
      Some("""WITH tk AS (
             |  SELECT doc_id, source, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |ap AS (
             |  SELECT source,
             |    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS is_r,
             |    unnest([{'prev': t[i], 'cur': t[i+1]}
             |            for i in range(1, len(t))], recursive := true)
             |  FROM tk),
             |pc AS (
             |  SELECT prev, cur, count(*) AS pair_f,
             |    CAST(sum(is_r) AS BIGINT) AS pair_r
             |  FROM ap GROUP BY 1, 2),
             |ctx AS (
             |  SELECT prev, CAST(sum(pair_f) AS BIGINT) AS ctx_f,
             |    CAST(sum(pair_r) AS BIGINT) AS ctx_r
             |  FROM pc GROUP BY 1),
             |v AS (
             |  SELECT count(DISTINCT tok) AS v_f,
             |    count(DISTINCT CASE WHEN is_r = 1 THEN tok END) AS v_r
             |  FROM (SELECT CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
             |          AS is_r, unnest(t) AS tok FROM tk)),
             |sb AS (
             |  SELECT ap.source, count(*) AS n_pairs,
             |    CAST(sum(length(bin(ctx.ctx_r + v.v_r))
             |      - length(bin(pc.pair_r + 1))) AS BIGINT) AS ref_bits,
             |    CAST(sum(length(bin(ctx.ctx_f + v.v_f))
             |      - length(bin(pc.pair_f + 1))) AS BIGINT) AS self_bits
             |  FROM ap
             |  JOIN pc ON ap.prev = pc.prev AND ap.cur = pc.cur
             |  JOIN ctx ON ap.prev = ctx.prev, v
             |  GROUP BY 1),
             |led AS (
             |  SELECT ds.source, ds.n_docs,
             |    coalesce(sb.n_pairs, 0) AS n_pairs,
             |    sb.ref_bits, sb.self_bits,
             |    CASE WHEN sb.n_pairs > 0 THEN
             |      (1000 * (sb.self_bits - sb.ref_bits)
             |       - ((1000 * (sb.self_bits - sb.ref_bits)) % sb.n_pairs
             |          + sb.n_pairs) % sb.n_pairs) // sb.n_pairs
             |    END AS dom_milli
             |  FROM (SELECT source, count(*) AS n_docs FROM documents
             |        GROUP BY 1) ds
             |  LEFT JOIN sb ON ds.source = sb.source),
             |an AS (
             |  SELECT CASE WHEN np > 0 THEN
             |      (1000 * (sbt - rbt) - ((1000 * (sbt - rbt)) % np + np)
             |       % np) // np
             |    ELSE 0 END AS anchor_milli
             |  FROM (SELECT CAST(sum(self_bits) AS BIGINT) AS sbt,
             |          CAST(sum(ref_bits) AS BIGINT) AS rbt,
             |          CAST(sum(n_pairs) AS BIGINT) AS np FROM led)),
             |ww AS (
             |  SELECT led.*,
             |    CASE WHEN dom_milli IS NOT NULL
             |      THEN greatest(0, dom_milli - an.anchor_milli)
             |    END AS excess_milli
             |  FROM led, an),
             |ww2 AS (
             |  SELECT *, CASE WHEN excess_milli IS NULL THEN 0
             |    ELSE (CAST(1000 AS BIGINT) + excess_milli % 1000)
             |         << CAST(least(excess_milli // 1000, 30) AS INT)
             |    END AS w_raw
             |  FROM ww),
             |tot AS (
             |  SELECT CAST(coalesce(sum(w_raw), 0) AS BIGINT) AS w_tot
             |  FROM ww2)
             |SELECT source, n_docs, n_pairs, ref_bits, self_bits,
             |  excess_milli,
             |  CASE WHEN w_tot > 0 THEN (10000 * w_raw) // w_tot
             |       ELSE 0 END AS weight_bp
             |FROM ww2, tot""".stripMargin)),

    QuerySpec(
      "l96_unimax_alloc",
      "UniMax budget allocation (Chung et al. 2023) — the FAIRNESS-based mixture planner next to l92's quality-greedy waterfill: the token budget (90% of corpus tokens) spreads as uniformly as possible across sources, except no source repeats more than epochCap=1 epochs — small sources are CAPPED at their full capacity (the anti-oversampling rule), everyone else sits at one common water level. Exact integer waterline: sources sorted by capacity ascending (name tie-break); capped iff cap*(L-rank+1) <= budget - capPrefix (prefix-closed under the sort), level = ONE floor division over the uncapped count; the <=L-1-token floor remainder is left unallocated by contract. alloc = min(cap, level) everywhere — the characterization property-pinned in DataCardSpec over random capacities. All BIGINT, hash-exact. Scale: ONE per-source token aggregate over the corpus; sort/flag/level over O(sources) rows with two one-row scalar attaches (budget+count, waterline) — planning cost independent of corpus size",
      (s, dir) => graft.operators.Curation.unimaxAllocate(
        Tables.load(s, dir, "documents"), "text", "source",
        epochCap = 1, budgetBp = 9000),
      Some("""WITH ps AS (
             |  SELECT source,
             |    CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
             |      AS c_toks
             |  FROM documents GROUP BY 1),
             |tot AS (
             |  SELECT (CAST(sum(c_toks) AS BIGINT) * 9000) // 10000
             |      AS budget,
             |    count(*) AS n_src
             |  FROM ps),
             |rk AS (
             |  SELECT ps.*, c_toks AS cap,
             |    row_number() OVER (ORDER BY c_toks ASC, source)
             |      AS rank,
             |    coalesce(CAST(sum(c_toks) OVER (
             |      ORDER BY c_toks ASC, source
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS cap_before
             |  FROM ps),
             |fl AS (
             |  SELECT rk.*, tot.budget, tot.n_src,
             |    (cap * (tot.n_src - rank + 1) <= tot.budget - cap_before)
             |      AS capped
             |  FROM rk, tot),
             |lv AS (
             |  SELECT CASE WHEN n_src > k THEN (budget - cap_k)
             |      // (n_src - k) ELSE 0 END AS share
             |  FROM (SELECT max(n_src) AS n_src, max(budget) AS budget,
             |      CAST(coalesce(sum(CASE WHEN capped THEN 1 END), 0)
             |        AS BIGINT) AS k,
             |      CAST(coalesce(sum(CASE WHEN capped THEN cap END), 0)
             |        AS BIGINT) AS cap_k
             |    FROM fl))
             |SELECT source, c_toks, cap,
             |  CASE WHEN capped THEN cap ELSE lv.share END AS alloc,
             |  (10000 * (CASE WHEN capped THEN cap ELSE lv.share END))
             |    // greatest(c_toks, 1) AS epochs_bp,
             |  CASE WHEN capped THEN 'capped' ELSE 'level' END AS state
             |FROM fl, lv""".stripMargin)),

    QuerySpec(
      "l97_rho_select",
      "RHO-style learnability document selection (Mindermann et al. 2022; the document-level shape of RHO-1) — the per-DOCUMENT counterpart of l95's domain reweighting, same two add-one bigram models from ONE pair-count aggregate: each document's EXCESS LOSS (proxy/raw-mixture surprisal minus reference/clean-slice surprisal) says 'the reference can predict it, the mixture model can't yet' — learnable and not yet learnt, so keep it. Selection threshold = the corpus-mean excess (the same anchor l95 weights at, the l94 mean-anchor discipline), everything in exact pmod-floor milli-bits. Output: one typed frame — 'band' rows census the mean-anchored relative excess in deci-bit bands (k NULL collects pair-less never-selected docs), 'source' rows ledger per-source selection counts at the threshold. Scale: the shared groupedBits scoring subtree (checkpointed pair explode, broadcast count tables, map-side-combined per-doc sums); the per-doc ledger checkpointed ONCE feeds the anchor attach and both sections (the l55 pattern); two one-row scalar attaches",
      (s, dir) => graft.operators.Doremi.learnabilitySelectFrom(
        graft.operators.MixtureModelStore.sharedJoint(s, dir),
        Tables.load(s, dir, "documents"), "doc_id", "source"),
      Some("""WITH tk AS (
             |  SELECT doc_id, source, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |ap AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS is_r,
             |    unnest([{'prev': t[i], 'cur': t[i+1]}
             |            for i in range(1, len(t))], recursive := true)
             |  FROM tk),
             |pc AS (
             |  SELECT prev, cur, count(*) AS pair_f,
             |    CAST(sum(is_r) AS BIGINT) AS pair_r
             |  FROM ap GROUP BY 1, 2),
             |ctx AS (
             |  SELECT prev, CAST(sum(pair_f) AS BIGINT) AS ctx_f,
             |    CAST(sum(pair_r) AS BIGINT) AS ctx_r
             |  FROM pc GROUP BY 1),
             |v AS (
             |  SELECT count(DISTINCT tok) AS v_f,
             |    count(DISTINCT CASE WHEN is_r = 1 THEN tok END) AS v_r
             |  FROM (SELECT CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
             |          AS is_r, unnest(t) AS tok FROM tk)),
             |sb AS (
             |  SELECT ap.doc_id, count(*) AS n_pairs,
             |    CAST(sum(length(bin(ctx.ctx_r + v.v_r))
             |      - length(bin(pc.pair_r + 1))) AS BIGINT) AS ref_bits,
             |    CAST(sum(length(bin(ctx.ctx_f + v.v_f))
             |      - length(bin(pc.pair_f + 1))) AS BIGINT) AS self_bits
             |  FROM ap
             |  JOIN pc ON ap.prev = pc.prev AND ap.cur = pc.cur
             |  JOIN ctx ON ap.prev = ctx.prev, v
             |  GROUP BY 1),
             |led AS (
             |  SELECT d.source, coalesce(sb.n_pairs, 0) AS n_pairs,
             |    sb.ref_bits, sb.self_bits,
             |    CASE WHEN sb.n_pairs > 0 THEN
             |      (1000 * (sb.self_bits - sb.ref_bits)
             |       - ((1000 * (sb.self_bits - sb.ref_bits)) % sb.n_pairs
             |          + sb.n_pairs) % sb.n_pairs) // sb.n_pairs
             |    END AS doc_milli
             |  FROM documents d LEFT JOIN sb ON d.doc_id = sb.doc_id),
             |an AS (
             |  SELECT CASE WHEN np > 0 THEN
             |      (1000 * (sbt - rbt) - ((1000 * (sbt - rbt)) % np + np)
             |       % np) // np
             |    ELSE 0 END AS anchor_milli
             |  FROM (SELECT CAST(sum(self_bits) AS BIGINT) AS sbt,
             |          CAST(sum(ref_bits) AS BIGINT) AS rbt,
             |          CAST(sum(n_pairs) AS BIGINT) AS np FROM led)),
             |sc AS (
             |  SELECT led.source, doc_milli - an.anchor_milli AS rel
             |  FROM led, an)
             |SELECT 'band' AS section,
             |  CASE WHEN rel IS NULL THEN NULL
             |    ELSE (rel - ((rel % 100) + 100) % 100) // 100
             |  END AS k,
             |  CAST(NULL AS VARCHAR) AS src, count(*) AS n_docs,
             |  CAST(NULL AS BIGINT) AS n_sel
             |FROM sc GROUP BY 2
             |UNION ALL
             |SELECT 'source', CAST(NULL AS BIGINT), source, count(*),
             |  CAST(sum(CASE WHEN rel >= 0 THEN 1 ELSE 0 END) AS BIGINT)
             |FROM sc GROUP BY 3""".stripMargin)),

    QuerySpec(
      "l98_selector_agreement",
      "selector-agreement census — the ops answer to 'do our data selectors agree, and where': every document's keep decision under TWO independent published selectors — l94's DSIR importance resampling (hashed-bigram target/raw importance, exponential-tilt acceptance) and l97's RHO learnability threshold (proxy-vs-reference excess loss at the corpus-mean anchor) — joined per doc_id and censused per source: (n_docs, n_dsir, n_rho, n_both, n_neither, jaccard_bp), the cross-method confusion ledger a 100 TB curation run reads before trusting either selector alone (high jaccard = redundant signals, low = complementary). jaccard_bp = (10000*n_both) div (n_dsir+n_rho-n_both), 10000 when both sets are empty (vacuous agreement); decisions replayed through the SAME perDocAccept/perDocRel frames the l94/l97 ledgers aggregate (pinned in DoremiSpec), pair-less/NULL-text docs coalesced to not-selected on both engines. Scale: both scoring subtrees are the checkpointed one-scan shapes of their parent queries; the join is per-doc on doc_id (map-side combinable census after), everything BIGINT hash-exact",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val d = graft.operators.Dsir.perDocAcceptFrom(docs, "doc_id",
            "text", "source",
            graft.operators.MixtureModelStore.sharedDsirBuckets(s, dir))
          .select(col("doc_id"), col("source"),
            coalesce(col("acc"), lit(false)).as("dsir"))
        val r = graft.operators.Doremi.perDocRelFrom(
            graft.operators.MixtureModelStore.sharedJoint(s, dir),
            docs, "doc_id", "source")
          .select(col("key").as("doc_id"),
            coalesce(col("rel") >= 0L, lit(false)).as("rho"))
        d.join(r, Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("dsir"), 1)).as("n_dsir"),
            count(when(col("rho"), 1)).as("n_rho"),
            count(when(col("dsir") && col("rho"), 1)).as("n_both"),
            count(when(!col("dsir") && !col("rho"), 1)).as("n_neither"))
          .withColumn("jaccard_bp",
            when(col("n_dsir") + col("n_rho") - col("n_both") > 0,
              expr("(10000 * n_both) div (n_dsir + n_rho - n_both)"))
              .otherwise(lit(10000L)))
      },
      Some(s"""WITH d_tk AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS t
              |  FROM documents
              |  WHERE text IS NOT NULL AND trim(text) <> ''),
              |d_bg AS (
              |  SELECT doc_id,
              |    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS is_t,
              |    unnest(CASE WHEN len(t) >= 2
              |      THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
              |      ELSE CAST([] AS VARCHAR[]) END) AS g
              |  FROM d_tk),
              |d_hb AS (
              |  SELECT doc_id, is_t,
              |    list_reduce([unicode(c) for c in
              |        regexp_split_to_array(g, '')],
              |      (a, b) -> (CAST(a AS BIGINT) * 31 + b) % 1000000007)
              |      % 4096 AS bkt
              |  FROM d_bg),
              |d_tc AS (
              |  SELECT bkt, CAST(sum(is_t) AS BIGINT) AS ct,
              |    count(*) AS cr
              |  FROM d_hb GROUP BY 1),
              |d_tot AS (
              |  SELECT CAST(sum(ct) AS BIGINT) AS nt,
              |    CAST(sum(cr) AS BIGINT) AS nr
              |  FROM d_tc),
              |d_w AS (
              |  SELECT bkt,
              |    (length(bin(nr + 4096)) - length(bin(cr + 1)))
              |      - (length(bin(nt + 4096)) - length(bin(ct + 1)))
              |      AS imp
              |  FROM d_tc, d_tot),
              |d_sc AS (SELECT d_hb.doc_id, d_w.imp
              |         FROM d_hb JOIN d_w USING (bkt)),
              |d_dd AS (SELECT doc_id, source, $fpSql AS fp
              |         FROM documents),
              |d_pd AS (
              |  SELECT d_dd.doc_id, d_dd.source, d_dd.fp,
              |    coalesce(CAST(sum(d_sc.imp) AS BIGINT), 0) AS imp
              |  FROM d_dd LEFT JOIN d_sc USING (doc_id)
              |  GROUP BY 1, 2, 3),
              |d_th AS (
              |  SELECT CAST((CAST(sum(imp) AS BIGINT)
              |      - ((CAST(sum(imp) AS BIGINT) % count(*)) + count(*))
              |        % count(*)) // count(*) AS BIGINT) AS thr
              |  FROM d_pd),
              |d_acc AS (
              |  SELECT doc_id, source,
              |    coalesce((fp // 100) % 10000 <
              |      CASE WHEN imp >= thr THEN 10000
              |           WHEN imp <= thr - 14 THEN 0
              |           ELSE 10000 >> CAST(thr - imp AS INT) END,
              |      FALSE) AS dsir
              |  FROM d_pd, d_th),
              |r_tk AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS t
              |  FROM documents),
              |r_ap AS (
              |  SELECT doc_id,
              |    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS is_r,
              |    unnest([{'prev': t[i], 'cur': t[i+1]}
              |            for i in range(1, len(t))], recursive := true)
              |  FROM r_tk),
              |r_pc AS (
              |  SELECT prev, cur, count(*) AS pair_f,
              |    CAST(sum(is_r) AS BIGINT) AS pair_r
              |  FROM r_ap GROUP BY 1, 2),
              |r_ctx AS (
              |  SELECT prev, CAST(sum(pair_f) AS BIGINT) AS ctx_f,
              |    CAST(sum(pair_r) AS BIGINT) AS ctx_r
              |  FROM r_pc GROUP BY 1),
              |r_v AS (
              |  SELECT count(DISTINCT tok) AS v_f,
              |    count(DISTINCT CASE WHEN is_r = 1 THEN tok END) AS v_r
              |  FROM (SELECT CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
              |          AS is_r, unnest(t) AS tok FROM r_tk)),
              |r_sb AS (
              |  SELECT r_ap.doc_id, count(*) AS n_pairs,
              |    CAST(sum(length(bin(r_ctx.ctx_r + r_v.v_r))
              |      - length(bin(r_pc.pair_r + 1))) AS BIGINT)
              |      AS ref_bits,
              |    CAST(sum(length(bin(r_ctx.ctx_f + r_v.v_f))
              |      - length(bin(r_pc.pair_f + 1))) AS BIGINT)
              |      AS self_bits
              |  FROM r_ap
              |  JOIN r_pc ON r_ap.prev = r_pc.prev AND r_ap.cur = r_pc.cur
              |  JOIN r_ctx ON r_ap.prev = r_ctx.prev, r_v
              |  GROUP BY 1),
              |r_led AS (
              |  SELECT d.doc_id, coalesce(r_sb.n_pairs, 0) AS n_pairs,
              |    r_sb.ref_bits, r_sb.self_bits,
              |    CASE WHEN r_sb.n_pairs > 0 THEN
              |      (1000 * (r_sb.self_bits - r_sb.ref_bits)
              |       - ((1000 * (r_sb.self_bits - r_sb.ref_bits))
              |          % r_sb.n_pairs + r_sb.n_pairs) % r_sb.n_pairs)
              |      // r_sb.n_pairs
              |    END AS doc_milli
              |  FROM documents d LEFT JOIN r_sb ON d.doc_id = r_sb.doc_id),
              |r_an AS (
              |  SELECT CASE WHEN np > 0 THEN
              |      (1000 * (sbt - rbt) - ((1000 * (sbt - rbt)) % np + np)
              |       % np) // np
              |    ELSE 0 END AS anchor_milli
              |  FROM (SELECT CAST(sum(self_bits) AS BIGINT) AS sbt,
              |          CAST(sum(ref_bits) AS BIGINT) AS rbt,
              |          CAST(sum(n_pairs) AS BIGINT) AS np FROM r_led)),
              |r_sc AS (
              |  SELECT doc_id,
              |    coalesce(doc_milli - r_an.anchor_milli >= 0, FALSE)
              |      AS rho
              |  FROM r_led, r_an),
              |j AS (
              |  SELECT a.source, a.dsir, r.rho
              |  FROM d_acc a JOIN r_sc r ON a.doc_id = r.doc_id)
              |SELECT source, count(*) AS n_docs,
              |  CAST(sum(CASE WHEN dsir THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_dsir,
              |  CAST(sum(CASE WHEN rho THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_rho,
              |  CAST(sum(CASE WHEN dsir AND rho THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_both,
              |  CAST(sum(CASE WHEN NOT dsir AND NOT rho THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_neither,
              |  CASE WHEN CAST(sum(CASE WHEN dsir THEN 1 ELSE 0 END)
              |      + sum(CASE WHEN rho THEN 1 ELSE 0 END)
              |      - sum(CASE WHEN dsir AND rho THEN 1 ELSE 0 END)
              |      AS BIGINT) > 0
              |    THEN (10000 * CAST(sum(CASE WHEN dsir AND rho THEN 1
              |        ELSE 0 END) AS BIGINT))
              |      // CAST(sum(CASE WHEN dsir THEN 1 ELSE 0 END)
              |        + sum(CASE WHEN rho THEN 1 ELSE 0 END)
              |        - sum(CASE WHEN dsir AND rho THEN 1 ELSE 0 END)
              |        AS BIGINT)
              |    ELSE 10000 END AS jaccard_bp
              |FROM j GROUP BY 1""".stripMargin)),

    QuerySpec(
      "l99_d4_prune",
      "D4 data curation end-to-end (public recipe, Tirumala et al. 2023 arXiv:2308.12284): SemDeDup drops semantic duplicates (l62's components over cluster-bounded pairs), then SSL-PROTOTYPE DIVERSIFICATION prunes the 25% most-prototypical survivors per k-means cluster (cosine to own centroid, the Sorscher et al. 2022 metric — dedup removes copies, diversification removes the redundant cluster CORE). Gates: sem recall >= 85% vs the exact-pair components (l62's gate), per-cluster prune count == floor(|c|*bp/10000) exactly, and every pruned vector strictly more prototypical than every kept one ((cos, -id) struct order, verified over the materialized frame); oracle = exact input/dropped counts + literal true",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val exactPairs = SemDedupStore.sharedExactPairs(s, dir)
        val semLbl = SemDedupStore.sharedSemLabels(s, dir)
        val recall = pruneCard(semLbl, exactPairs)
          .withColumnRenamed("prune_ok", "sem_recall_ok")
        val survivors = e.join(
          semLbl.where(col("cluster_id") =!= col("doc_id"))
            .select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_anti")
        val pr = Similarity.prototypePrune(survivors, "vec_id",
          "embedding", pruneBp = 2500L, nClusters = 8, trainIters = 1)
        val perCluster = pr.groupBy(col("cent_id"))
          .agg(count(lit(1)).as("__n"),
            count(when(col("pruned"), 1)).as("__p"),
            min(when(col("pruned"),
              struct(col("proto_cos"), (-col("doc_id")).as("nid"))))
              .as("__minP"),
            max(when(!col("pruned"),
              struct(col("proto_cos"), (-col("doc_id")).as("nid"))))
              .as("__maxK"))
        val checks = perCluster.agg(
          every(col("__p") ===
            floor(col("__n") * lit(2500L) / lit(10000.0)).cast("long"))
            .as("prune_frac_ok"),
          every(coalesce(col("__minP") > col("__maxK"), lit(true)))
            .as("proto_order_ok"))
        e.agg(count(lit(1)).as("n_input"))
          .crossJoin(recall).crossJoin(checks)
      },
      Some(s"""WITH RECURSIVE p AS (
              |  SELECT a_id, b_id FROM (${embedPairsOracle(0.4)}) z),
              |edges AS (
              |  SELECT a_id AS src, b_id AS dst FROM p
              |  UNION ALL SELECT b_id, a_id FROM p),
              |reach(node, lbl) AS (
              |  SELECT DISTINCT src, src FROM edges
              |  UNION
              |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
              |cc AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
              |SELECT (SELECT count(*) FROM embeddings) AS n_input,
              |  count(*) AS n_exact_dropped, TRUE AS sem_recall_ok,
              |  TRUE AS prune_frac_ok, TRUE AS proto_order_ok
              |FROM cc WHERE cluster_id <> node""".stripMargin)),

    QuerySpec(
      "l100_source_kl",
      "per-source unigram KL divergence vs the corpus mixture — the one-number-per-source distributional-distinctness census (the mixture diagnostic DoReMi/DSIR reweighting reads before touching weights; a source whose divergence jumps between snapshots is l76's token drift collapsed to a scalar): per-word log2(p_s/p) integer-quantized as (bitlen(c_s)+bitlen(N))-(bitlen(n_s)+bitlen(c)) via length(bin(x)) (the l83 no-libm discipline), divergence = count-weighted BIGINT sum — hash-exact end to end. One token-explode scan; corpus counts and totals DERIVE from the (source, word) table, so everything after the first aggregate is vocab-bounded",
      (s, dir) => TextAnalysis.sourceDivergence(
        Tables.load(s, dir, "documents"), "source", "text"),
      Some("""WITH tok AS (
             |  SELECT source, unnest(string_split(trim(text), ' ')) AS tok
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |sc AS (
             |  SELECT source, tok, count(*) AS c_s FROM tok GROUP BY 1, 2),
             |cw AS (
             |  SELECT tok, CAST(sum(c_s) AS BIGINT) AS c FROM sc GROUP BY 1),
             |ns AS (
             |  SELECT source, CAST(sum(c_s) AS BIGINT) AS n_s
             |  FROM sc GROUP BY 1),
             |nt AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM ns)
             |SELECT sc.source, ns.n_s AS n_tokens,
             |  count(*) AS n_vocab,
             |  CAST(sum(c_s * ((length(bin(c_s)) + length(bin(n)))
             |    - (length(bin(n_s)) + length(bin(c))))) AS BIGINT)
             |    AS kl_qbits
             |FROM sc
             |JOIN cw ON sc.tok = cw.tok
             |JOIN ns ON sc.source = ns.source
             |CROSS JOIN nt
             |GROUP BY 1, 2""".stripMargin)),

    QuerySpec(
      "l101_pca_whiten",
      "PCA + whitening over the embedding column (Jegou & Chum 2012 — the standard pre-quantization/truncation transform for embedding stores): covariance fitted in ONE treeAggregate pass (d + d^2 doubles of state per partition, zero row shuffle — the fit-tiny-apply-wide discipline), eigendecomposed DRIVER-side by plain-Scala cyclic Jacobi (64x64, corpus-independent), projection = per-row folds against broadcast literal axes. Float/iterative => property-gated, never hash-compared (the l61 contract): axes orthonormal (driver, 1e-9), spectrum descending and PSD (driver), top-16 WHITENED components have unit variance over the fitted rows engine-side (population normalization makes this an identity, tolerance 0.05), and the full-rank unwhitened projection preserves every row's centered norm (a rotation; per-row 1e-6 relative) — oracle = exact counts + literal true",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val model = Pca.fit(e, "embedding")
        val d = model.dim
        def dot(u: Array[Double], v: Array[Double]): Double = {
          var i = 0; var acc = 0.0
          while (i < u.length) { acc += u(i) * v(i); i += 1 }
          acc
        }
        val orthoOk = (0 until d).forall(i => (i until d).forall { j =>
          val want = if (i == j) 1.0 else 0.0
          math.abs(dot(model.axes(i), model.axes(j)) - want) < 1e-9
        })
        val spectrumOk =
          model.eigenvalues.zip(model.eigenvalues.drop(1))
            .forall { case (a, b) => a >= b - 1e-12 } &&
          model.eigenvalues.forall(_ >= -1e-9)
        val whitVar = e.select(posexplode(
            Pca.projectExpr(model, col("embedding"), 16, whiten = true))
            .as(Seq("pos", "w")))
          .groupBy(col("pos"))
          .agg(avg(col("w") * col("w")).as("v"))
          .agg(every(abs(col("v") - lit(1.0)) < 0.05)
            .as("whiten_unit_var_ok"))
        val centered = zip_with(col("embedding"),
          typedLit(model.mean.toSeq), (x, m) => x.cast("double") - m)
        val rotNorm = e.select(
            aggregate(Pca.projectExpr(model, col("embedding"), d,
              whiten = false), lit(0.0), (acc, x) => acc + x * x)
              .as("n2p"),
            aggregate(centered, lit(0.0), (acc, x) => acc + x * x)
              .as("n2c"))
          .agg(every(abs(col("n2p") - col("n2c")) <=
            lit(1e-6) * (lit(1.0) + col("n2c"))).as("rotation_norm_ok"))
        e.agg(count(lit(1)).as("n_vecs"))
          .crossJoin(whitVar).crossJoin(rotNorm)
          .select(col("n_vecs"), lit(d.toLong).as("dim"),
            lit(orthoOk).as("orthonormal_ok"),
            lit(spectrumOk).as("spectrum_ok"),
            col("whiten_unit_var_ok"), col("rotation_norm_ok"))
      },
      Some("""SELECT count(*) AS n_vecs,
             |  CAST(max(len(embedding)) AS BIGINT) AS dim,
             |  TRUE AS orthonormal_ok, TRUE AS spectrum_ok,
             |  TRUE AS whiten_unit_var_ok, TRUE AS rotation_norm_ok
             |FROM embeddings""".stripMargin)),

    QuerySpec(
      "l102_k_anonymity",
      "k-anonymity census over the (lang, source, token-length band) quasi-identifier (Sweeney 2002 — the release-risk number a PII-scrubbed corpus (l74) still owes: scrubbing direct identifiers does not stop re-identification through quasi-identifier classes of size < k): equivalence-class sizes at band width 32, classes and document mass below k=5 (what a k-anonymous release must suppress or generalize), plus the min/max class size. Pure BIGINT aggregates, hash-exact; one map-side-combined groupBy, summary is O(classes)",
      (s, dir) => {
        // null/empty guard (the l100/t39 discipline): Spark's legacy
        // sizeOfNull yields -1 where DuckDB bands NULL — filter both
        // engines identically so the band column is engine-independent
        val docs = Tables.load(s, dir, "documents")
          .where(col("text").isNotNull && trim(col("text")) =!= "")
        val g = docs.groupBy(col("lang"), col("source"),
            floor(size(split(trim(col("text")), " ")) / 32).as("len_band"))
          .agg(count(lit(1)).as("k"))
        g.agg(count(lit(1)).as("n_classes"),
          sum(when(col("k") < 5, 1L).otherwise(0L)).as("classes_below_k"),
          sum(when(col("k") < 5, col("k")).otherwise(0L)).as("docs_below_k"),
          min(col("k")).as("min_class"),
          max(col("k")).as("max_class"))
      },
      Some("""WITH g AS (
             |  SELECT lang, source,
             |    CAST(floor(len(string_split(trim(text), ' ')) / 32)
             |      AS BIGINT) AS len_band,
             |    count(*) AS k
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''
             |  GROUP BY 1, 2, 3)
             |SELECT count(*) AS n_classes,
             |  CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS classes_below_k,
             |  CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             |    AS docs_below_k,
             |  min(k) AS min_class, max(k) AS max_class
             |FROM g""".stripMargin)),

    QuerySpec(
      "l103_semantic_decontam",
      "SEMANTIC decontamination — the embedding-space complement of l36's n-gram decontamination (the published lesson — e.g. the GPT-4/Llama report ablations — is that token overlap misses paraphrased benchmark leakage; the standard mitigation flags corpus docs too COSINE-close to any eval item): eval slice = vec_id%25=0 (l06's query-set convention), per corpus doc the count of eval items at cos >= 0.4 and the max such cosine — exact, hash-checked (sequential-fold cosine on both engines; max over per-row doubles is order-independent). The eval set is the BROADCAST side of one corpus scan — per-row work is |eval| folds, no shuffle before the per-doc aggregate; at 100 TB eval benches are always broadcast-sized",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val evalSide = e.where(col("vec_id") % 25 === 0)
          .select(col("embedding").as("q_emb"))
        val corpus = e.where(col("vec_id") % 25 =!= 0)
          .select(col("vec_id").as("doc_id"), col("embedding").as("c_emb"))
        corpus.join(broadcast(evalSide))
          .select(col("doc_id"),
            graft.functions.VectorFunctions.cosineSim(col("c_emb"),
              col("q_emb")).as("cos"))
          .where(col("cos") >= 0.4)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_hits"), max(col("cos")).as("max_cos"))
      },
      Some(s"""WITH q AS (
              |  SELECT embedding AS q_emb FROM embeddings
              |  WHERE vec_id % 25 = 0),
              |c AS (
              |  SELECT vec_id AS doc_id, embedding AS c_emb
              |  FROM embeddings WHERE vec_id % 25 <> 0),
              |p AS (
              |  SELECT doc_id, ${cosSql("c_emb", "q_emb")} AS cos
              |  FROM c JOIN q ON TRUE)
              |SELECT doc_id, count(*) AS n_hits, max(cos) AS max_cos
              |FROM p WHERE cos >= 0.4 GROUP BY 1""".stripMargin)),

    QuerySpec(
      "l104_unigram_segment",
      "SentencePiece-style unigram-LM subword segmentation (Kudo 2018 — the OTHER production tokenizer family next to BPE l79-l81): seed vocabulary = all single chars + top-64 substrings (length<=6) by corpus mass from the DISTINCT-WORD table (the l79 wordcount discipline — corpus-sized work is ONE word count), piece costs = bitlen-quantized unigram surprisal over the selected vocab, then exact VITERBI decoding per distinct word — dp minimizes (bits, n_pieces) lexicographically — weighted back to a per-source fertility census (n_words, n_pieces, total_bits). Hash-exact: the oracle rebuilds the same vocabulary and replays the DP by exhaustive path enumeration, so the frame only matches if the Viterbi fold finds the true minimum on every word",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .where(col("text").isNotNull && trim(col("text")) =!= "")
          .select(col("source"),
            explode(graft.functions.TextFunctions.tokens(col("text")))
              .as("w"))
          .where(length(col("w")) > 0)
        val sc = tok.groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(eager = false)
        val words = sc.groupBy(col("w")).agg(sum(col("cnt")).as("wc"))
        val costs = Subword.collectCosts(
          Subword.seedVocab(Subword.pieceCensus(words), topK = 64))
        val wDp = words.select(col("w"),
            Subword.viterbiExpr(costs, col("w")).as("d"))
          .select(col("w"), col("d.c").as("bits"), col("d.np").as("np"))
        sc.join(wDp, Seq("w"))
          .groupBy(col("source"))
          .agg(sum(col("cnt")).as("n_words"),
            sum(col("cnt") * col("np")).as("n_pieces"),
            sum(col("cnt") * col("bits")).as("total_bits"))
      },
      Some(unigramSegmentOracle)),

    QuerySpec(
      "t43_stream_unigram_segment",
      "the serve face of l104 — the frozen unigram tokenizer's fertility MONITOR at ingest (t39's discipline: the stream only COUNTS; model arithmetic runs on the drained state): vocabulary + quantized piece costs train batch-side (the standing artifact); the stream accumulates the per-(source, word) count census — complete-mode state bounded by sources x vocabulary, never re-decoding per occurrence (a per-row DP against the literal map measured 6x slower: the t22 literal-scan lesson applied to strings) — and each DISTINCT word pays its Viterbi exactly once against the drained counts. Fully hash-exact against the SAME oracle as l104 (per-word Viterbi is deterministic, so the weighted sums agree)",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .where(col("text").isNotNull && trim(col("text")) =!= "")
        val words = docs
          .select(explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("w"))
          .where(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("wc"))
        val costs = Subword.collectCosts(
          Subword.seedVocab(Subword.pieceCensus(words), topK = 64))
        val counts = Tables.loadStream(s, dir, "documents")
          .where(col("text").isNotNull && trim(col("text")) =!= "")
          .select(col("source"),
            explode(graft.functions.TextFunctions.tokens(col("text")))
              .as("w"))
          .where(length(col("w")) > 0)
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("cnt"))
        val emitted = TimeSeriesQueries.runBounded(s, counts,
          "t43_stream_unigram_mem", "complete", statePartitions = Some(8))
        emitted
          .select(col("source"), col("cnt"),
            Subword.viterbiExpr(costs, col("w")).as("d"))
          .groupBy(col("source"))
          .agg(sum(col("cnt")).as("n_words"),
            sum(col("cnt") * col("d.np")).as("n_pieces"),
            sum(col("cnt") * col("d.c")).as("total_bits"))
      },
      Some(unigramSegmentOracle)),

    QuerySpec(
      "l105_decontam_agreement",
      "decontamination-detector AGREEMENT census — l98's cross-method confusion ledger applied to the two leak detectors: every id carrying BOTH a text and an embedding (the inner join of the modality id spaces, eval ids id%50=0 excluded) is flagged by l36's token detector (shares a word 4-shingle with any eval text) AND by l103's semantic detector (cos >= 0.4 to any eval embedding), censused as (n_universe, n_token, n_sem, n_both, n_neither, jaccard_bp) — the number a 100 TB run reads before trusting either screen alone (low jaccard = the detectors catch DIFFERENT leaks, run both). Both detectors are exact, so the whole frame is hash-exact. Scale: eval shingles and eval vectors both broadcast; the flags join per-id; one aggregate",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val e = Tables.load(s, dir, "embeddings")
        val isEval = col("doc_id") % 50 === 0
        val uni = docs.select(col("doc_id"))
          .join(e.select(col("vec_id").as("doc_id")), Seq("doc_id"))
          .where(!isEval)
        val tokFlag = TextAnalysis.decontaminate(docs,
            docs.where(isEval), "doc_id", "text", k = 4)
          .select(col("doc_id"), lit(true).as("__t"))
        val semFlag = e.where(col("vec_id") % 50 =!= 0)
          .select(col("vec_id").as("doc_id"), col("embedding").as("c_emb"))
          .join(broadcast(e.where(col("vec_id") % 50 === 0)
            .select(col("embedding").as("q_emb"))))
          .where(graft.functions.VectorFunctions.cosineSim(col("c_emb"),
            col("q_emb")) >= 0.4)
          .select(col("doc_id")).distinct()
          .select(col("doc_id"), lit(true).as("__s"))
        uni.join(tokFlag, Seq("doc_id"), "left")
          .join(semFlag, Seq("doc_id"), "left")
          .select(coalesce(col("__t"), lit(false)).as("tok"),
            coalesce(col("__s"), lit(false)).as("sem"))
          .agg(count(lit(1)).as("n_universe"),
            count(when(col("tok"), 1)).as("n_token"),
            count(when(col("sem"), 1)).as("n_sem"),
            count(when(col("tok") && col("sem"), 1)).as("n_both"),
            count(when(!col("tok") && !col("sem"), 1)).as("n_neither"))
          .withColumn("jaccard_bp",
            when(col("n_token") + col("n_sem") - col("n_both") > 0,
              expr("(10000 * n_both) div (n_token + n_sem - n_both)"))
              .otherwise(lit(10000L)))
      },
      Some(decontamAgreementOracle)),

    QuerySpec(
      "l106_opq_rotate_pq",
      "PCA-ROTATED product quantization — the OPQ baseline (Ge et al. 2013, 'Optimized Product Quantization': rotate so the subspace split aligns with the principal axes before PQ; PCA rotation is the paper's non-iterative baseline, their R0): the l101 model's full-rank UNWHITENED projection is an exact rotation (norms and dot products preserved), applied once as an index-build pass, and the l57 fidelity gate re-runs entirely in the rotated space. Two gates: (1) rotation invariance — brute-force exact top-10 in the rotated space agrees >= 95% with the original space (pure-rotation geometry; fp drift only flips knife-edge ties), (2) the rotated IVF-PQ top-10 agrees >= 90% with the rotated full-precision ranking of the same candidates (l57's gate, now on the compaction-aligned codes). Oracle = exact query-count arithmetic + literal true",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        // the PCA seed is the SAME Pca.fit the standing OpqModelStore
        // trains and persists for l112/l116 — consume the shared build
        // instead of re-fitting per run (r16: one fewer treeAggregate
        // pass over the corpus; the gates are agreement-thresholded, so
        // which equally-valid fitted draw serves them is immaterial)
        val model = graft.operators.OpqModelStore.shared(s, dir)._1
        val rot = graft.Trace.span(s, "opq", "rotate")(
          e.select(col("vec_id"),
              transform(Pca.projectExpr(model, col("embedding"), model.dim,
                whiten = false), x => x.cast("float")).as("embedding"))
            .localCheckpoint(eager = true))
        val isQ = col("vec_id") % 25 === 0
        def topkSet(corpus: org.apache.spark.sql.DataFrame) =
          Similarity.bruteForceTopK(corpus.where(isQ), corpus,
              "vec_id", "embedding", 10)
        val rotInv = Gates.recall(topkSet(e), topkSet(rot),
          Seq("q_id", "c_id"), 95, "n_exact", "rot_invariant_ok")
        val q = rot.where(isQ)
        val cand = graft.Trace.span(s, "pq", "candidates")(
          Similarity.ivfCandidates(s, q, rot, "vec_id",
              "embedding", nCentroids = 8, nProbe = 6, trainIters = 0)
            .localCheckpoint(eager = true))
        val pqGate = Gates.recall(
            Similarity.ivfTopK(s, q, rot, "vec_id", "embedding", 10,
              nCentroids = 8, nProbe = 6, candidatesOpt = Some(cand)),
            Similarity.pqTopK(s, q, rot, "vec_id", "embedding", 10,
              m = 16, nCodes = 64, trainIters = 1, nCentroids = 8,
              nProbe = 6, rerank = 8, candidatesOpt = Some(cand)),
            Seq("q_id", "c_id"), 90, "__n_ivf", "pq_rot_ok")
          .drop("__n_ivf")
        rotInv.crossJoin(pqGate)
      },
      Some("""SELECT 10 * count(*) AS n_exact, TRUE AS rot_invariant_ok,
             |  TRUE AS pq_rot_ok
             |FROM embeddings WHERE vec_id % 25 = 0""".stripMargin))
  )

  /** The oracle of an already-registered spec, for serve-tier queries
    * whose output is BY CONTRACT identical to their training twin's
    * (l107-l110 persist the standing model and re-derive the same
    * frame from the persisted tables — same oracle, same hash).
    */
  private[queries] def oracleOf(name: String): Option[String] =
    baseSpecs.find(_.name == name)
      .getOrElse(sys.error(s"oracleOf: no base spec named $name")).oracle

  /** Registry order drives Bench's lines and BenchSteady: the base
    * tier, then each family object in turn. Lazy because the family
    * objects read `baseSpecs` back through `oracleOf`, so the first
    * one touched must not see a half-built `specs`.
    */
  lazy val specs: Seq[QuerySpec] =
    baseSpecs ++ LlmStoreServeQueries.specs ++ LlmAudioQueries.specs ++
      LlmOpqQueries.specs ++ LlmCcUpdateQueries.specs ++
      LlmDeflateQueries.specs ++ LlmExactSubstrQueries.specs ++
      LlmDurableStoreQueries.specs
}
