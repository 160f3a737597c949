package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Application-scoped cache of the exact maximal-dup-span frame (the
  * MixtureModelStore discipline applied to the substring-dedup tier):
  * the ladder+descent machine (Dedup.maximalDupSpans) is a training-
  * grade job whose output both the per-position report (l124) and the
  * per-doc census (l125) consume — run it once per (application,
  * corpus), checkpoint the spans (duplicated-start-bounded), ledger
  * the build under `dup_spans`.
  *
  * Why this family has NO incremental `updateTo` face (unlike the
  * additive LM counts of l132 or the frozen-model ANN append of
  * l131): appending documents is not monotone for spans — a new doc
  * can flip an old COLD gram hot (df crosses minDocs), creating and
  * EXTENDING spans at old positions the standing frame never
  * recorded, and the positions of cold grams are exactly what the
  * prune discards. An exact delta pass therefore needs either the
  * full positional gram table as a second standing artifact
  * (O(corpus tokens) — doubling the store for a daily diff) or a
  * rebuild; the published suffix-array implementations rebuild on
  * append for the same reason. The durable layout keeps the rebuild
  * honest: once per corpus GENERATION, never per application, with
  * `DurableStore.vacuum` retiring superseded generations.
  *
  * Canonical registry parameterization: the documents table's
  * doc_id/text, minLen 6, minDocs 2 (l77's thresholds, uncapped).
  */
object DupSpanStore {

  private val spans = new AppCache[DataFrame]("dup_spans")
  private val hotGrams = new AppCache[DataFrame]("hot_grams")

  /** Durable layout: the spans frame bucketed on doc_id (the census
    * groupBy key, so the daily aggregation is exchange-free).
    */
  val DurableFamily = "dup_spans"
  val DurableParts: Seq[DurableStore.Part] =
    Seq(DurableStore.Part("spans", Some("doc_id"),
      "doc_id BIGINT, i BIGINT, span BIGINT"))

  /** The in-memory cache's MISS path goes through the durable layout:
    * the ladder+descent machine runs only if NO application ever saw
    * this corpus — every later application (and every later round of
    * the harness) reloads the persisted spans and pays the checkpoint
    * alone. Ledger: a genuine build accrues only under loadOrBuild's
    * `durable_dup_spans` key; the `dup_spans` key times the
    * per-application reload checkpoint alone (never double-counted).
    */
  def sharedSpans(s: SparkSession, dir: String): DataFrame =
    spans.get(s, dir)(DurableStore.loadOrBuild(s, DurableFamily,
        DurableStore.documentsFp(s, dir), DurableParts) {
      Map("spans" -> Dedup.maximalDupSpans(Tables.load(s, dir, "documents"),
        "doc_id", "text", minLen = 6, minDocs = 2))
    }("spans"))(_.localCheckpoint(eager = true))

  /** The corpus's hot k-gram df table (the l77 prune: every 6-gram in
    * >= 2 docs with its document frequency) — t49's standing admission
    * artifact, cached per (application, corpus) so stream reps stop
    * re-aggregating the corpus and pinning fresh checkpoints.
    */
  def sharedHotGrams(s: SparkSession, dir: String): DataFrame =
    hotGrams.get(s, dir)(()) { _ =>
      import org.apache.spark.sql.functions._
      val d = Tables.load(s, dir, "documents")
      d.where(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"), split(trim(col("text")), " ").as("t"))
        .where(size(col("t")) >= 6)
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), size(col("t")) - 6),
            i => concat_ws(" ", slice(col("t"), i + 1, lit(6)))))
            .as("g"))
        .groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") >= 2)
        .localCheckpoint(eager = true)
    }

  def evictAll(): Unit = { spans.clear(); hotGrams.clear() }
}
