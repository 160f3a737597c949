package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dedup
import graft.queries.Gates.mismatches

object LlmCcUpdateQueries {
  /** Incremental cluster-label maintenance (l82's update≡rebuild
    * contract applied to the dedup components).
    */
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec(
      "l113_cc_update",
      "INCREMENTAL component maintenance — l82's update≡rebuild contract applied to the near-dup cluster labels (the standing labels l56/l58 decide membership against were recomputed from scratch per run until now): the corpus's exact winnowing pair graph (l89's frame, ONE checkpointed computation) is split into the standing base (neither endpoint in the daily batch doc_id%5=0) and the batch edges (any endpoint in it); updateComponents relabels ONLY the components the batch edges touch — contract batch edges through the standing labels (the componentsFromRefined lemma with the base graph as the refining subgraph: every base edge lies inside one standing cluster, so composed min-labels are exact, and an untouched cluster can never be rewritten, it misses the relabel join structurally — DedupSimilaritySpec property-pins both equality and untouched-identity on arbitrary graphs). Gate: the updated labels EXACTLY equal a full recompute over the union graph — zero multiset mismatches (each side grouped on all columns with a count, full-outer-joined; the l82 discipline). Oracle = the winnow pair graph's deterministic node count + literal true",
      (s, dir) => {
        val pairs = Dedup.winnowPairs(
            Tables.load(s, dir, "documents"), "doc_id", "text",
            k = 4, w = 5, minShared = 2, dfCap = 64)
          .localCheckpoint(eager = true)
        val touchesBatch = col("a_id") % 5 === 0 || col("b_id") % 5 === 0
        val standing = Dedup.components(pairs.where(!touchesBatch))
          .localCheckpoint(eager = true)
        val updated = Dedup.updateComponents(standing,
          pairs.where(touchesBatch))
        // checkpointed: it feeds both the node count and the gate
        val full = Dedup.components(pairs).localCheckpoint(eager = true)
        full.agg(count_distinct(col("doc_id"), col("cluster_id"))
            .as("n_nodes"))
          .crossJoin(mismatches(updated, full, "__mism"))
          .select(col("n_nodes"),
            (col("__mism") === 0).as("update_eq_rebuild_ok"))
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
             |    UNION ALL SELECT b_id FROM pr))
             |SELECT count(*) AS n_nodes,
             |  TRUE AS update_eq_rebuild_ok
             |FROM lab""".stripMargin))
  )
}
