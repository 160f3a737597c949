package graft.operators

import org.apache.spark.sql.SparkSession

import graft.Tables

/** Application-scoped cache of the per-source deflate preset
  * dictionaries (the standing-artifact discipline for the dictionary
  * tier): the hot-passage census is a training job shared by the
  * batch census (l126), its oracle-checked gate twin (l127) and the
  * streaming face (t48) — train once per (application, corpus),
  * ledger under `deflate_dicts`. The artifact is a driver-side map
  * (sources x <= 32 KiB), the boot-artifact shape.
  *
  * Canonical registry parameterization: documents' doc_id/text/source,
  * k=6 grams, 64 grams per source, 32 KiB clamp.
  */
object DeflateDictStore {

  private val dicts = new AppCache[Map[String, Array[Byte]]]("deflate_dicts")

  /** Durable layout: one (source, dict) table — sources-bounded. */
  val DurableFamily = "deflate_dicts"
  val DurableParts: Seq[DurableStore.Part] =
    Seq(DurableStore.Part("dicts", None, "source STRING, dict BINARY"))

  /** The fingerprint hashes source TOO: dictionaries are trained PER
    * SOURCE, so a re-bucketed source assignment over identical texts
    * must invalidate the layout.
    */
  def corpusFp(s: SparkSession, dir: String): String =
    DurableStore.corpusFingerprint(s, dir, "documents",
      Seq("doc_id", "text", "source"))

  /** Miss path goes through the durable layout (the DupSpanStore
    * note): the hot-passage census trains only if no application ever
    * saw this corpus; later applications reload the sources-bounded
    * table and collect it back into the boot map. A genuine build
    * accrues only under loadOrBuild's `durable_deflate_dicts` key; the
    * `deflate_dicts` key times the per-application boot collect alone
    * (the two never double-count).
    */
  def sharedDicts(s: SparkSession, dir: String): Map[String, Array[Byte]] =
    dicts.get(s, dir)(DurableStore.loadOrBuild(s, DurableFamily,
        corpusFp(s, dir), DurableParts) {
      import s.implicits._
      Map("dicts" -> TextAnalysis.trainDeflateDicts(
          Tables.load(s, dir, "documents"), "doc_id", "text", "source")
        .toSeq.toDF("source", "dict"))
    }("dicts")) { t =>
      val rows = t.collect()
      require(rows.length <= 65536,
        "dictionary table exceeds the boot bound")
      rows.map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    }

  def evictAll(): Unit = dicts.clear()
}
