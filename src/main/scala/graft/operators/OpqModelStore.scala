package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Application-scoped cache of the trained OPQ rotation (and the PCA
  * model that seeds it) — the AnnIndexStore discipline applied to the
  * rotation family: the alternating refinement is a training job run
  * ONCE per corpus (l112 gates its quality, l116 serves a rotated
  * index built with it), not re-fit per consumer.
  *
  * The miss path goes through the DURABLE layout (the DupSpanStore
  * discipline, uniform across every model family): the FULL model —
  * rotation, error trace, codebook, and the PCA seed (mean, axes,
  * eigenvalues) — persists as six small tables keyed by the
  * embeddings fingerprint, so the alternating fit runs only if NO
  * application ever saw this corpus; a warm machine reloads
  * model-sized tables and pays driver-side reconstruction alone
  * (boot-bounded collects, the collectServeMeta shape — d x d doubles,
  * never corpus rows). Durability also pins the fit: treeAggregate
  * double sums are shuffle-order-dependent, so two applications could
  * train two (both gate-valid) rotations — the persisted build is one
  * fixed draw every consumer shares. A genuine fit accrues under
  * `durable_opq_model`; the `opq_rotation` ledger key times the
  * reload reconstruction alone.
  *
  * Canonical parameterization (single source of truth so l112's gate
  * and l116's index cannot silently desync): the l72 fidelity-grade
  * codebook shape m=16 x 64 codes, 4 refinement iterations, PCA-seeded.
  */
object OpqModelStore {

  val M = 16
  val NCodes = 64
  val Iters = 4

  private val model =
    new AppCache[(Pca.PcaModel, Opq.OpqModel)]("opq_rotation")

  /** The standing (PCA seed, trained OPQ rotation) pair over `dir`'s
    * embeddings — miss path durable, reconstruction timed under
    * `opq_rotation`.
    */
  def shared(s: SparkSession, dir: String): (Pca.PcaModel, Opq.OpqModel) =
    model.get(s, dir)(durableTables(s, dir,
      DurableStore.embeddingsFp(s, dir)))(reconstruct)

  /** Durable layout of the full model: every matrix as an (i, row)
    * table, the codebook as (m, c, row), the trace as (i, v).
    *
    * MIGRATION NOTE (round 12): this family was renamed from
    * `opq_rotation` (which held only the rotation matrix) when the
    * layout grew to the full six-table model, and the fingerprint
    * format gained the `_s` sum fold in round 13. Vacuum is per-family
    * and keep-sets are built from CURRENT-format fingerprints, so a
    * store root that predates either change can carry unreachable
    * `opq_rotation/` layouts and old-format fingerprint dirs under
    * `opq_model/`. A long-lived deployment reclaims them with a
    * one-time sweep: `DurableStore.vacuum(s, "opq_rotation",
    * keep = Set("-"))` (a keep set naming no real fingerprint removes
    * every complete layout of the retired family) plus a
    * `vacuumKeepLatest(s, "opq_model", n)` for the live one — the
    * harness's own roots were rebuilt at the rename, so no sweep is
    * wired in here.
    */
  val DurableFamily = "opq_model"
  val DurableParts: Seq[DurableStore.Part] = Seq(
    DurableStore.Part("rot", None, "i INT, row ARRAY<DOUBLE>"),
    DurableStore.Part("err", None, "i INT, v DOUBLE"),
    DurableStore.Part("cb", None, "m INT, c INT, row ARRAY<DOUBLE>"),
    DurableStore.Part("pca_mean", None, "i INT, row ARRAY<DOUBLE>"),
    DurableStore.Part("pca_axes", None, "i INT, row ARRAY<DOUBLE>"),
    DurableStore.Part("pca_eig", None, "i INT, row ARRAY<DOUBLE>"))

  /** Load-or-build the DURABLE model tables: the PCA pass and the
    * alternating fit run in the first application ever to see this
    * corpus (the raw training lives HERE — shared()'s miss path calls
    * down, never the other way); later applications reload six
    * model-sized tables and `reconstruct` driver-side.
    */
  private def durableTables(s: SparkSession, dir: String,
      fp: String): Map[String, DataFrame] =
    DurableStore.loadOrBuild(s, DurableFamily, fp, DurableParts) {
      import s.implicits._
      val e = Tables.load(s, dir, "embeddings")
      val pca = Pca.fit(e, "embedding")
      val opq = Opq.fitRotation(e, "vec_id", "embedding",
        M, NCodes, Iters, pca.axes)
      def matDf(m: Array[Array[Double]]) =
        m.zipWithIndex.map { case (r, i) => (i, r.toSeq) }.toSeq
          .toDF("i", "row")
      Map(
        "rot" -> matDf(opq.rotation),
        "err" -> opq.errTrace.zipWithIndex
          .map { case (v, i) => (i, v) }.toSeq.toDF("i", "v"),
        "cb" -> opq.codebook.zipWithIndex.flatMap { case (sub, m) =>
            sub.zipWithIndex.map { case (r, c) => (m, c, r.toSeq) }
          }.toSeq.toDF("m", "c", "row"),
        "pca_mean" -> matDf(Array(pca.mean)),
        "pca_axes" -> matDf(pca.axes),
        "pca_eig" -> matDf(Array(pca.eigenvalues)))
    }

  /** Driver-side model from the durable tables (boot-bounded collects). */
  private def reconstruct(
      t: Map[String, DataFrame]): (Pca.PcaModel, Opq.OpqModel) = {
    def mat(df: DataFrame): Array[Array[Double]] =
      df.orderBy("i").collect()
        .map(_.getSeq[Double](1).toArray)
    val err = t("err").orderBy("i").collect().map(_.getDouble(1))
    val cb = t("cb").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3) }
      .toArray
    (Pca.PcaModel(mat(t("pca_mean")).head, mat(t("pca_axes")),
        mat(t("pca_eig")).head),
      Opq.OpqModel(mat(t("rot")), err, cb))
  }

  /** Drop every in-memory artifact (the fresh-application simulation
    * of the durable-reload gates).
    */
  def evictAll(): Unit = model.clear()
}
