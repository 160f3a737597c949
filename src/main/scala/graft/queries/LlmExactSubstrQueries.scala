package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dedup

object LlmExactSubstrQueries {
  /** The EXACT-SUBSTRING dedup tier beyond l77's 12-word cap — the
    * suffix-ranking method of the deduplicating-training-data line of
    * work, Spark-first: prefix-doubling rank ladders + binary descent
    * (Dedup.maximalDupSpans), exact at ANY span length in log-many
    * rounds over the duplicated mass only. The fixture documents are
    * <= 100 tokens, so the ORACLE can brute-force every k — the whole
    * unbounded path is hash-gated at every sf, no rows-only contract
    * needed; DedupSimilaritySpec adds a plain-Scala suffix-LCP
    * reference on arbitrary corpora and the clamp-to-12 equality with
    * l77.
    */
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec(
      "l124_exact_substr_spans",
      "per-position EXACT maximal duplicated spans, uncapped (the substring-dedup removal input: every token position starting a >=6-word sequence that occurs in >=2 documents, with the TRUE maximal extent — a wall-to-wall duplicate reports its full length): prefix-doubling rank ladders bracket each span in [L, 2L), binary descent with the overlap-identity document-frequency test resolves it exactly; every shuffle after round 0 keys on long ranks, every stage is proportional to the duplicated mass. The oracle brute-forces every k (feasible only because fixture docs are short), so the hash gates the entire ladder+descent machine position-for-position",
      (s, dir) => graft.operators.DupSpanStore.sharedSpans(s, dir),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents
             |  WHERE len(string_split(trim(text), ' ')) >= 6),
             |e AS (
             |  SELECT doc_id, k, i, array_to_string(t[i:i+k-1], ' ') AS g
             |  FROM toks, unnest(range(6, len(t) + 1)) AS uk(k),
             |       unnest(range(1, len(t) - k + 2)) AS ui(i)),
             |hot AS (
             |  SELECT k, g FROM e GROUP BY k, g
             |  HAVING count(DISTINCT doc_id) >= 2),
             |d AS (SELECT e.doc_id, e.i, e.k FROM e JOIN hot USING (k, g))
             |SELECT doc_id, CAST(i - 1 AS BIGINT) AS i,
             |  CAST(max(k) AS BIGINT) AS span
             |FROM d GROUP BY doc_id, i""".stripMargin)),

    QuerySpec(
      "l128_dup_scrub_keep_one",
      "repeated-passage removal with KEEP-ONE semantics — the substring-dedup line's canonical form, completing the scrub family (l59 removes EVERY occurrence of a shared passage; the published method keeps exactly one copy in the corpus, preserving the information while killing the repetition): per hot 6-gram the (doc_id, position)-minimal occurrence is canonical and survives, every other occurrence's cover drops; tokens inside overlapping canonical/non-canonical covers drop (coverage semantics, documented). One positional explode feeds the df aggregate and a single row_number window partitioned by the gram (the canonical pick costs no extra join); rebuild is the per-row indexed filter. The oracle replays the identical canonical rule with a window, so the hash gates cover selection, the keep-one exception AND the rebuilt text byte-for-byte",
      (s, dir) => Dedup.scrubDupKeepOne(
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
             |h AS (
             |  SELECT ps.doc_id, ps.i,
             |    ROW_NUMBER() OVER (PARTITION BY ps.g
             |      ORDER BY ps.doc_id, ps.i) AS rn
             |  FROM ps JOIN hot USING (g)),
             |cov AS (
             |  SELECT DISTINCT doc_id, i + off AS p
             |  FROM h, range(0, 6) o(off) WHERE rn > 1),
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
             |FROM toks LEFT JOIN kept ON toks.doc_id = kept.doc_id"""
        .stripMargin)),

    QuerySpec(
      "l129_span_scrub_keep_one",
      "SPAN-granularity keep-one removal — the published ExactSubstr REMOVAL semantics, driven by l124's maximal spans (l128 decides canonicals per fixed 6-gram, so one long shared passage is 35 independent decisions whose canonicals can scatter; here each MAXIMAL duplicated span is ONE decision: per distinct span text the (doc_id, position)-minimal occurrence survives, every other occurrence's full [i, i+span) cover drops, survivors re-join in order — inside the minimal document the whole run survives because its sub-spans all rank first). The spans are the durable DupSpanStore artifact, so the removal pass is a join against a standing table, never a ladder rebuild; one row_number window over the span text picks canonicals (per-group rows = duplicated mass); the rebuild is the shared per-row indexed filter. The oracle brute-forces maximal spans at every k, replays the identical canonical rule and rebuilds text — the hash gates span selection, the keep-one exception AND the rebuilt text byte-for-byte; DedupSimilaritySpec adds the clamp gate: spans clamped to k=6 reproduce l128 exactly",
      (s, dir) => Dedup.scrubSpansKeepOne(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        graft.operators.DupSpanStore.sharedSpans(s, dir)),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |tl AS (SELECT doc_id, t FROM toks WHERE len(t) >= 6),
             |e AS (
             |  SELECT doc_id, k, i, array_to_string(t[i:i+k-1], ' ') AS g
             |  FROM tl, unnest(range(6, len(t) + 1)) AS uk(k),
             |       unnest(range(1, len(t) - k + 2)) AS ui(i)),
             |hot AS (
             |  SELECT k, g FROM e GROUP BY k, g
             |  HAVING count(DISTINCT doc_id) >= 2),
             |d AS (
             |  SELECT e.doc_id, e.i, e.k, e.g
             |  FROM e JOIN hot USING (k, g)),
             |mx AS (
             |  SELECT doc_id, i, max(k) AS span FROM d GROUP BY doc_id, i),
             |occ AS (
             |  SELECT d.doc_id, d.i, d.k AS span, d.g
             |  FROM d JOIN mx
             |    ON d.doc_id = mx.doc_id AND d.i = mx.i AND d.k = mx.span),
             |r AS (
             |  SELECT doc_id, i, span,
             |    ROW_NUMBER() OVER (PARTITION BY g
             |      ORDER BY doc_id, i) AS rn
             |  FROM occ),
             |cov AS (
             |  SELECT DISTINCT r.doc_id, r.i + off AS p
             |  FROM r, unnest(range(0, r.span)) AS o(off)
             |  WHERE r.rn > 1),
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
             |FROM toks LEFT JOIN kept ON toks.doc_id = kept.doc_id"""
        .stripMargin)),

    QuerySpec(
      "l125_exact_substr_census",
      "l77's duplicate-span census with the cap REMOVED — per document the duplicated-start count and the TRUE maximal cross-document span (the memorization-risk number a capped census understates on near-whole-document duplicates): the same ladder+descent machine aggregated per doc; n_dup_starts must equal l77's (same prune) while max_span is exact at any length. Oracle = the unbounded brute force",
      (s, dir) => Dedup.censusOfSpans(
        graft.operators.DupSpanStore.sharedSpans(s, dir)),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents
             |  WHERE len(string_split(trim(text), ' ')) >= 6),
             |e AS (
             |  SELECT doc_id, k, i, array_to_string(t[i:i+k-1], ' ') AS g
             |  FROM toks, unnest(range(6, len(t) + 1)) AS uk(k),
             |       unnest(range(1, len(t) - k + 2)) AS ui(i)),
             |hot AS (
             |  SELECT k, g FROM e GROUP BY k, g
             |  HAVING count(DISTINCT doc_id) >= 2),
             |d AS (SELECT e.doc_id, e.i, e.k FROM e JOIN hot USING (k, g))
             |SELECT doc_id, count(DISTINCT i) AS n_dup_starts,
             |  CAST(max(k) AS BIGINT) AS max_span
             |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  )
}
