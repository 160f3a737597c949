package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextAnalysis

object LlmDeflateQueries {
  /** The deflate compressibility quality signal (RefinedWeb/Gopher's
    * compression-ratio heuristic), under the l80 gating contract:
    * deflate output is deterministic per JDK but not SQL-replayable,
    * so the census (l114) is rows-only and its gates live in the
    * oracle-checked twin (l115) plus DeflateSpec's plain-Scala
    * reference equivalence.
    */
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec(
      "l114_deflate_census",
      "compression-ratio funnel census — the RefinedWeb/Gopher compressibility heuristic the quality funnel still lacked (extremely compressible = repetitive template/boilerplate spam, incompressible = binary junk; the signal is orthogonal to the token-ratio heuristics of l09): per doc the java.util.zip.Deflater output size at FIXED level 6 over the UTF-8 bytes, banded by ratio decile — per band the doc count, token mass and byte mass, i.e. the l35-style ledger of what a compressibility filter at any banded threshold keeps/drops. ONE Deflater per batch reset between rows (the multimodal batched-codec shape). ROWS-ONLY BY CONTRACT (the l04/l80 tier): deflate bytes are a pure deterministic function of input + JDK but not SQL-replayable; the frame is gated by l115's oracle-checked bounds/mass twin over the SAME scored frame machinery and DeflateSpec's ScalaCheck equivalence against a per-row fresh-Deflater reference (pinning that batch-level reuse leaks no state)",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        TextAnalysis.deflateBandCensus(
          TextAnalysis.deflateRatio(d, "doc_id", "text"),
          d, "doc_id", "text")
      },
      None),

    QuerySpec(
      "l115_deflate_gate",
      "l114's oracle-checked gate twin (the l80 discipline): over the same per-doc deflate frame, the input-side masses are SQL-exact — doc count and total UTF-8 byte mass (DuckDB strlen counts bytes) — and the deflate-side columns enter only as gated booleans: every output fits zlib's compressBound envelope (deflate can expand stored blocks, never past bound), every non-empty input produced bytes, and the corpus contains genuinely compressible documents (min ratio < 1.0 — natural-language text at level 6 always clears this). The hash only matches if the batched codec produced sane output for EVERY row at this sf",
      (s, dir) => {
        val pd = TextAnalysis.deflateRatio(
            Tables.load(s, dir, "documents"), "doc_id", "text")
          .localCheckpoint(eager = true)
        pd.agg(count(lit(1)).as("n_docs"),
          sum(col("len_in")).as("bytes_in"),
          every(col("len_out") <=
            TextAnalysis.deflateBound(col("len_in"))).as("bound_ok"),
          every(col("len_out") > 0 || col("len_in") === 0)
            .as("positive_ok"),
          (min(col("ratio_bp")) < 10000).as("some_compression_ok"))
      },
      Some("""SELECT count(*) AS n_docs,
             |  CAST(coalesce(sum(strlen(text)), 0) AS BIGINT)
             |    AS bytes_in,
             |  TRUE AS bound_ok, TRUE AS positive_ok,
             |  TRUE AS some_compression_ok
             |FROM documents""".stripMargin)),

    QuerySpec(
      "l126_dict_deflate_census",
      "dictionary-trained compression near-dup — the deflate tier's second rung (l114 measures SELF-redundancy; seeding the Deflater with the source's hot-passage preset dictionary measures FAMILY-redundancy: a doc whose ratio improves sharply against its source's dictionary shares template text with the source even when its own deflate ratio is unremarkable — the cheap complement of the l90 classifier for boilerplate deflate-alone misses): per-source dictionaries trained ONCE (DeflateDictStore: top-64 df>=2 word 6-grams, hottest last, 32 KiB clamp — a driver-bounded boot artifact, broadcast), each doc compressed WITH and WITHOUT its dictionary by the same one-Deflater-per-batch codec, censused per dict-gain decile band (gain_bp = ratio_bp - dict_ratio_bp; NULL band = empty/NULL text). ROWS-ONLY by the l114 contract: deflate bytes are deterministic but not SQL-replayable; gated by l127's oracle-checked twin over the same frame plus DeflateSpec's fresh-Deflater dictionary properties (including that reset() clears the dictionary between rows) and t48's band-for-band stream==batch equality",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        TextAnalysis.deflateDictRatio(d, "doc_id", "text", "source",
            graft.operators.DeflateDictStore.sharedDicts(s, dir))
          .groupBy(coalesce(floor(col("dict_gain_bp") / 1000),
            lit(-1000L)).as("band"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("len_in")).as("bytes_in"),
            sum(col("len_out_dict")).as("bytes_out_dict"))
      },
      None),

    QuerySpec(
      "l127_dict_deflate_gate",
      "l126's oracle-checked gate twin (the l115 discipline): over the same per-doc dict-deflate frame the input-side masses are SQL-exact (doc count, UTF-8 byte mass) and the codec columns enter as gated booleans — every dictionary output fits the compressBound envelope (a preset dictionary cannot breach the stored-block bound), every non-empty input produced bytes on both arms, the gain definition is consistent (len_out_dict <= len_out exactly when gain >= 0 at the bp floor... gated as: gain > 0 implies len_out_dict < len_out), and the dictionary STRICTLY helped at least one document (the fixture's template families guarantee a hot-passage hit). The hash only matches if the dictionary codec behaved sanely on every row at this sf",
      (s, dir) => {
        // consumed exactly once by the aggregate — no checkpoint: the
        // mapPartitions output streams straight into the fold
        val pd = TextAnalysis.deflateDictRatio(
            Tables.load(s, dir, "documents"), "doc_id", "text", "source",
            graft.operators.DeflateDictStore.sharedDicts(s, dir))
        pd.agg(count(lit(1)).as("n_docs"),
          sum(col("len_in")).as("bytes_in"),
          every(col("len_out_dict") <=
            TextAnalysis.deflateBound(col("len_in"))).as("dict_bound_ok"),
          every((col("len_out_dict") > 0 && col("len_out") > 0) ||
            col("len_in") === 0).as("dict_positive_ok"),
          every(coalesce(col("dict_gain_bp") <= 0, lit(true)) ||
            col("len_out_dict") < col("len_out")).as("gain_consistent_ok"),
          (min(col("len_out_dict") - col("len_out")) < 0)
            .as("dict_helps_somewhere_ok"))
      },
      Some("""SELECT count(*) AS n_docs,
             |  CAST(coalesce(sum(strlen(text)), 0) AS BIGINT)
             |    AS bytes_in,
             |  TRUE AS dict_bound_ok, TRUE AS dict_positive_ok,
             |  TRUE AS gain_consistent_ok, TRUE AS dict_helps_somewhere_ok
             |FROM documents""".stripMargin))
  )
}
