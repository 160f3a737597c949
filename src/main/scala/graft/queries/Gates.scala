package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared gate machinery: each equivalence check a query makes has one
  * definition here, so the compare semantics cannot drift between gates.
  *   - `overlap`/`recall`: fast path vs exact set (l22, l23, l24, l30,
  *     l52, l57, l61, l62, l72, l99, l106, l112, l116, l123, l130, t22,
  *     t50, t52).
  *   - `censusMatch`: stream census vs batch census (t40, t41, t46, t48).
  *   - `mismatches`: update vs rebuild, as multisets (l82, l131, l134,
  *     s17, s18, s19, t51-t55).
  *   - `manifestStats`/`writeODeltaOk`: an append wrote O(delta)
  *     (l131-l136, p13, t52).
  */
private[graft] object Gates {

  /** Per-segment file stats of a manifest layout — the BEFORE
    * snapshot of the write-amplification gate.
    */
  def manifestStats(s: org.apache.spark.sql.SparkSession, family: String,
      fp: String): Map[String, Set[(String, Long, Long)]] = {
    val ds = graft.operators.DurableStore
    ds.manifestSegments(s, family, fp)
      .map(g => g -> ds.segmentFileStats(s, family, g)).toMap
  }

  /** The O(delta)-WRITE assertion for an incremental manifest append
    * (`statsBefore` = `manifestStats` of the BASE fingerprint taken
    * before the update ran): the new manifest must be exactly the base
    * segments plus ONE delta segment, and every standing segment's
    * files must be byte-for-byte untouched (path, length AND mtime) —
    * i.e. the append wrote only its own delta partition, the l122
    * zero-build discipline applied to write amplification. Holds on
    * re-run days too: a pure reload writes nothing and the PUBLISHED
    * manifest still shows base + 1.
    */
  def writeODeltaOk(s: org.apache.spark.sql.SparkSession, family: String,
      baseFp: String, newFp: String,
      statsBefore: Map[String, Set[(String, Long, Long)]]): Boolean = {
    val ds = graft.operators.DurableStore
    val segsBase = ds.manifestSegments(s, family, baseFp)
    val segsNew = ds.manifestSegments(s, family, newFp)
    segsNew.take(segsBase.size) == segsBase &&
      segsNew.size == segsBase.size + 1 &&
      segsBase.forall(g =>
        ds.segmentFileStats(s, family, g) == statsBefore(g))
  }

  /** Null-safe equality of `cols` between the frames aliased `l` and
    * `r` — still an equi-join condition.
    */
  private def sameOn(l: String, r: String, cols: Seq[String]): Column =
    cols.map(c => col(s"$l.`$c`") <=> col(s"$r.`$c`")).reduce(_ && _)

  /** How far a fast path's key set agrees with the exact one: one
    * full-outer pass with presence marks and one aggregate, so each
    * side's plan runs once. Keys are ids (never NULL) and each side
    * holds each key once. Returns one row of `n_truth`, `n_pred` and
    * `n_hit` (keys on both sides), all longs.
    */
  def overlap(truth: DataFrame, pred: DataFrame,
      keys: Seq[String]): DataFrame =
    truth.select(keys.map(col) :+ lit(1).as("__t"): _*)
      .join(pred.select(keys.map(col) :+ lit(1).as("__p"): _*), keys,
        "full_outer")
      .agg(count(col("__t")).as("n_truth"), count(col("__p")).as("n_pred"),
        count(when(col("__t").isNotNull && col("__p").isNotNull, 1))
          .as("n_hit"))

  /** The recall gate over `overlap`: one row of the truth count named
    * `n` and `ok` = hits >= `pct`% of the truth (integer
    * cross-multiply, no FP).
    */
  def recall(truth: DataFrame, pred: DataFrame, keys: Seq[String],
      pct: Int, n: String, ok: String): DataFrame =
    overlap(truth, pred, keys).select(col("n_truth").as(n),
      (col("n_hit") * 100 >= col("n_truth") * pct).as(ok))

  /** Exact compare of a drained stream census with the batch census
    * over the same rows. Both frames hold `keys` plus the same value
    * columns; they are full-outer-joined null-safe on `keys`, so a NULL
    * key matches itself. One row: `total` = sum of the stream's
    * `sumOf`, and `ok` = every key is on both sides with null-safe
    * equal values (a key on one side only fails it).
    */
  def censusMatch(stream: DataFrame, batch: DataFrame, keys: Seq[String],
      sumOf: String, total: String, ok: String): DataFrame = {
    val vs = stream.columns.toSeq.filterNot(keys.contains)
    stream.withColumn("__s", lit(1)).as("__st")
      .join(batch.select((keys ++ vs).map(col) :+ lit(1).as("__b"): _*)
        .as("__bt"), sameOn("__st", "__bt", keys), "full_outer")
      .agg(sum(col(s"__st.`$sumOf`")).as(total),
        every(vs.foldLeft(col("__s").isNotNull && col("__b").isNotNull)(
          (a, v) => a && (col(s"__st.`$v`") <=> col(s"__bt.`$v`")))).as(ok))
  }

  /** Exact MULTISET compare of two frames on ALL columns: each side is
    * grouped on every column with a count and full-outer-joined
    * null-safe on the columns AND the count, so a row holding a NULL
    * matches its twin and duplicate-row multiplicity differences fail
    * (a pure set-equality join would pass them silently). Floats
    * compare by value after Spark's join-key normalization: -0.0
    * equals 0.0 and NaN equals NaN. Returns a one-row frame whose
    * `name` column is the mismatch count (0 = multiset-equal).
    */
  def mismatches(u: DataFrame, r: DataFrame, name: String): DataFrame = {
    val ks = u.columns.toSeq
    def counted(df: DataFrame, mark: String) =
      df.groupBy(ks.map(col): _*).agg(count(lit(1)).as("__n"))
        .withColumn(mark, lit(1)).as(mark)
    counted(u, "__u").join(counted(r, "__r"),
        sameOn("__u", "__r", ks :+ "__n"), "full_outer")
      .agg(count(when(col("__u.__u").isNull || col("__r.__r").isNull, 1))
        .as(name))
  }
}
