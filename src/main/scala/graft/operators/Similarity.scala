package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
  ShortType}

import graft.functions.VectorFunctions.cosineSim
import graft.functions.{PqCodebookLocal, PqFunctions}

/** Similarity search over an embedding column (`array<float>`).
  *
  *   - `bruteForceTopK`: exact top-k via broadcast query set x corpus scan
  *     with the codegen'd cosine expression. O(|Q|*|C|) but embarrassingly
  *     parallel and shuffle-free up to the final k-row window: the right
  *     baseline, and the correct choice whenever |Q| is small.
  *   - `lshTopK`: random-hyperplane LSH (SimHash for vectors) — the scale
  *     path: each vector gets a b-bit signature; only same-bucket pairs
  *     are scored. Recall is tunable via bits; deterministic because the
  *     hyperplanes derive from a seeded hash, not RNG state.
  *
  * The next rung (IVF: k-means coarse quantizer + inverted lists) drops in
  * behind the same (queries, corpus, k) signature; LSH was chosen first
  * because it needs no training pass.
  */
object Similarity {

  private def renameQ(queries: DataFrame, idCol: String, embCol: String) =
    queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb"))

  /** Bounded per-query top-k over a scored (q_id, c_id, score) frame
    * via the map-side-combinable `GroupedTopK` aggregator: each
    * partition reduces to <= k (score, id) pairs per query BEFORE the
    * exchange, so the shuffled data is O(queries * k) instead of every
    * scored candidate row (guide §2.3 — aggregate before you shuffle;
    * the r16 voteTopK lesson applied to the ranking tier). Output rows
    * are IDENTICAL to
    * `row_number().over(partitionBy(q_id).orderBy(score desc, c_id)) <= k`
    * — scores carry through the aggregate bit-exactly and the rank is
    * the position in its descending order, so hash-compared consumers
    * (l06 et al.) are unaffected.
    *
    * Contract (the voteTopK/GroupedTopK contract, documented where the
    * retired window was laxer): `c_id` must be a signed integral id
    * above Long.MinValue (the -id tie-break encode; a non-integral id
    * type fails here, at plan-build time). Scores follow Spark SQL's
    * double order, as the window does: NaN ranks first, -0.0 ties with
    * 0.0; a null score fails the aggregate loudly (the window would
    * rank it last).
    */
  private[graft] def topKPerQuery(scored: DataFrame, scoreCol: String,
      k: Int): DataFrame = {
    val idType = scored.schema("c_id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(idType),
      s"topKPerQuery: c_id must be an integral id (byte/short/int/" +
        s"bigint), got ${idType.simpleString}")
    scored.groupBy(col("q_id"))
      .agg(GroupedTopK.topK(k)(col(scoreCol),
        -col("c_id").cast("long")).as("__top"))
      .select(col("q_id"), posexplode(col("__top")))
      .select(col("q_id"), (-col("col._2")).cast(idType).as("c_id"),
        col("col._1").as(scoreCol),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** Exact cosine top-k of each query against the corpus (query rows are
    * broadcast; ties broken by corpus id).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, embCol: String, k: Int): DataFrame = {
    val q = renameQ(queries, idCol, embCol)
    val c = corpus.select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        cosineSim(col("q_emb"), col("c_emb")).as("cos"))
    // bounded top-k (r17): the all-pairs SCORING is this twin's
    // contract; the ranking over it is not — the aggregator reduces
    // each partition to k pairs per query before the exchange instead
    // of shuffling and sorting the whole scored cross product
    topKPerQuery(scored, "cos", k)
  }

  /** One (table, bucket) row per vector per hash table: a single
    * (bits*tables)-bit signature is computed per row (one narrow codegen'd
    * expression), then sliced into `tables` independent b-bit bucket keys.
    */
  private def bucketed(df: DataFrame, idCol: String, embCol: String,
      bits: Int, tables: Int): DataFrame = {
    // Beyond 64 the single-long signature silently aliases (Java shifts
    // wrap mod 64): upper tables would duplicate table 0's buckets and
    // recall would fall below the configured amplification with no error.
    require(bits * tables <= 64,
      s"bits*tables must fit in 64: $bits*$tables=${bits * tables}")
    // -1L >>> (64 - bits), not (1L << bits) - 1: at the bits=64 boundary
    // (tables=1) the shift wraps mod 64 and the naive mask is 0 — every
    // row lands in bucket 0 and the candidate join degenerates to O(n^2)
    // with no error (output stays correct via exact verify).
    val mask = -1L >>> (64 - bits)
    val slices = (0 until tables).map { t =>
      struct(lit(t).as("tbl"),
        shiftrightunsigned(col("__fullsig"), t * bits).bitwiseAND(lit(mask))
          .as("sig"))
    }
    df.select(col(idCol).as("v_id"),
        graft.functions.VectorFunctions.hyperplaneSig(col(embCol), bits * tables)
          .as("__fullsig"))
      .select(col("v_id"), explode(array(slices: _*)).as("x"))
      .select(col("v_id"), col("x.tbl").as("tbl"), col("x.sig").as("sig"))
  }

  /** Embedding near-dup *pairs* at scale — the LSH twin of the exact
    * all-pairs cosine join, mirroring the Jaccard pairing in `Dedup`
    * (exact `jaccardPairs` / scale `minhashLshPairs`): multi-table
    * hyperplane bucketing generates candidates, every candidate is
    * exact-verified with the codegen'd cosine, so false positives cost
    * only the verify and the threshold filter is exact.
    *
    * Recall comes from OR-amplification plus Hamming<=1 multi-probe on
    * one side of the self-join (the standard multi-probe LSH trick: probe
    * the `bits` neighboring buckets too, trading candidate volume for
    * tables). With the defaults (16 tables x 4 bits) the per-table
    * candidate probability at cos=0.4 is p^4 + 4p^3(1-p) ~ 0.53
    * (p = 1 - acos(0.4)/pi ~ 0.63), so a true pair escapes all 16 tables
    * with probability ~ 0.47^16 ~ 6e-6 — and because the hyperplanes are
    * seeded arithmetic, the result is a fixed deterministic set checked
    * against the exact oracle, not a distribution.
    *
    * 100 TB shape: signatures are per-row and shuffle-free; the only wide
    * ops are the (tbl, sig) candidate equi-join — whose buckets shrink as
    * `bits` grows with corpus size — and the distinct. Nothing is O(n^2).
    */
  /** The exact all-pairs cosine-threshold pair set (a_id, b_id, cos) —
    * THE baseline twin every approximate embedding path (l21/l30 LSH,
    * l61 semantic pairs, l62 prune, the recall probes) is measured
    * against, defined once so a threshold or tie-break change cannot
    * silently hand two gates two different baselines. Deliberately
    * O(n^2): oracle/gate use only — the scale paths are the approximate
    * operators this judges.
    */
  def exactCosinePairs(df: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame =
    df.select(col(idCol).as("a_id"), col(embCol).as("__ea"))
      .join(df.select(col(idCol).as("b_id"), col(embCol).as("__eb")),
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        cosineSim(col("__ea"), col("__eb")).as("cos"))
      .where(col("cos") >= threshold)

  def lshNearDupPairs(df: DataFrame, idCol: String, embCol: String,
      threshold: Double, bits: Int = 4, tables: Int = 16): DataFrame = {
    val b = bucketed(df, idCol, embCol, bits, tables)
    // Hamming<=1 probes of a b-bit signature: itself + each single bit
    // flipped. One side only — pair (x, y) is found if sig_x is within
    // Hamming 1 of sig_y in ANY table.
    val probes = 0L +: (0 until bits).map(j => 1L << j)
    val aSide = b.select(col("v_id").as("a_id"), col("tbl"),
      explode(array(probes.map(m => col("sig").bitwiseXOR(lit(m))): _*))
        .as("sig"))
    val bSide = b.select(col("v_id").as("b_id"), col("tbl").as("tbl2"),
      col("sig").as("sig2"))
    val candidates = aSide.join(bSide,
        col("tbl") === col("tbl2") && col("sig") === col("sig2") &&
          col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val ea = df.select(col(idCol).as("a_id"), col(embCol).as("__ea"))
    val eb = df.select(col(idCol).as("b_id"), col(embCol).as("__eb"))
    candidates.join(ea, "a_id").join(eb, "b_id")
      .select(col("a_id"), col("b_id"),
        cosineSim(col("__ea"), col("__eb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** IVF (inverted-file) approximate top-k — the other scale path next to
    * LSH: corpus vectors are assigned to their nearest of `nCentroids`
    * coarse centroids (one inverted list per centroid); each query probes
    * only the `nProbe` centroids nearest to IT and scores those lists.
    * Cost ~ nProbe/nCentroids of the corpus per query.
    *
    * The coarse quantizer defaults to deterministic and training-free
    * (centroids = a seeded hash-sample of corpus vectors); pass
    * `trainIters > 0` for Lloyd k-means rounds over a deterministic 10%
    * sample — list assignment, probing, and scoring (the scale-critical
    * parts) are identical either way. Assignment is a broadcast of the
    * small centroid set against the corpus — one narrow pass, no
    * shuffle; the probe join shuffles only candidate (query, centroid)
    * pairs.
    */
  def ivfTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame,
      idCol: String, embCol: String, k: Int, nCentroids: Int = 16,
      nProbe: Int = 4, trainIters: Int = 0,
      candidatesOpt: Option[DataFrame] = None): DataFrame = {
    val candidates = candidatesOpt.getOrElse(
      ivfCandidates(spark, queries, corpus, idCol, embCol,
        nCentroids, nProbe, trainIters))
    val q = renameQ(queries, idCol, embCol)
    val c = corpus.select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
    val scored = candidates.join(c, "c_id").join(broadcast(q), "q_id")
      .select(col("q_id"), col("c_id"),
        cosineSim(col("q_emb"), col("c_emb")).as("cos"))
    // bounded top-k (r17): probe-bounded candidates still fan out to
    // O(|Q| * list size) scored rows — rank them map-side-bounded
    topKPerQuery(scored, "cos", k)
  }

  /** Seeded deterministic centroid init with NO driver-side pass over
    * the corpus (an earlier version ran corpus.count() just to derive a
    * stride — a full extra scan at 100 TB): take the nCentroids rows
    * with the smallest xxhash64(id) — a pseudo-random but seeded-
    * deterministic sample, planned as TakeOrderedAndProject (per-
    * partition top-k, no global sort). The sampled row's own id IS the
    * centroid id: it only needs to be unique and deterministically
    * ordered (for tie-breaks), not 0..n-1 — which kills the former
    * global row_number window (an un-partitioned WindowExec that real
    * clusters' log monitoring pages on).
    */
  private def seedCentroids(corpus: DataFrame, idCol: String,
      embCol: String, nCentroids: Int): DataFrame =
    corpus
      .select(col(idCol).as("cent_id"), col(embCol).as("cent_emb"),
        xxhash64(col(idCol)).as("__h"))
      .orderBy(col("__h"), col("cent_id"))
      .limit(nCentroids)
      .drop("__h")

  /** Optional quantizer training: `iters` Lloyd rounds over a
    * deterministic 10% hash-sample of the corpus (at 100 TB the
    * quantizer trains on a sample — never the full corpus). Each round:
    * argmax-assign the sample (broadcast centroids, map-side-combinable
    * max-of-struct carrying the vector), then per-(centroid, dim) mean
    * via posexplode. Centroid ids are stable across rounds; a centroid
    * that captures no sample rows keeps its previous vector. Means are
    * shuffled-double averages (not bit-deterministic) — fine for the
    * recall-path operators this feeds, which are gated (l23/l57/l61),
    * not hash-compared.
    */
  private def lloydRounds(corpus: DataFrame, idCol: String,
      embCol: String, cents0: DataFrame, iters: Int): DataFrame = {
    var cents = cents0
    if (iters > 0) {
      val sample = corpus
        .select(col(idCol).as("t_id"), col(embCol).as("t_emb"))
        .where(pmod(xxhash64(col("t_id")), lit(10)) === 0)
      for (_ <- 1 to iters) {
        val assigned = sample.join(broadcast(cents))
          .select(col("t_id"), col("t_emb"), col("cent_id"),
            cosineSim(col("t_emb"), col("cent_emb")).as("__cs"))
          .groupBy(col("t_id"))
          // (__cs, negid) is unique per centroid, so the carried vector
          // never participates in the ordering.
          .agg(max(struct(col("__cs"), (-col("cent_id")).as("negid"),
            col("t_emb").as("e"))).as("m"))
          .select((-col("m.negid")).as("cent_id"), col("m.e").as("t_emb"))
        val means = assigned
          .select(col("cent_id"), posexplode(col("t_emb")))
          .groupBy(col("cent_id"), col("pos"))
          .agg(avg(col("col").cast("double")).as("m"))
          .groupBy(col("cent_id"))
          .agg(collect_list(struct(col("pos"), col("m"))).as("pm"))
          .select(col("cent_id"),
            transform(array_sort(col("pm")), x => x.getField("m").cast("float"))
              .as("new_emb"))
        cents = cents.join(means, Seq("cent_id"), "left")
          .select(col("cent_id"),
            coalesce(col("new_emb"), col("cent_emb")).as("cent_emb"))
      }
    }
    cents
  }

  /** Nearest-centroid assignment: argmax over the broadcast centroid set
    * as a map-side-combinable aggregate (max of (sim, -cent_id) structs)
    * — shuffles one row per corpus vector, not one per (vector,
    * centroid). Ties break to the smallest cent_id, deterministically.
    * Returns (c_id, cent_id).
    */
  private def argmaxAssign(df: DataFrame, idCol: String, embCol: String,
      cents: DataFrame): DataFrame =
    df.select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
      .join(broadcast(cents))
      .select(col("c_id"), col("cent_id"),
        cosineSim(col("c_emb"), col("cent_emb")).as("__cs"))
      .groupBy(col("c_id"))
      .agg(max(struct(col("__cs"), (-col("cent_id")).as("negid"))).as("m"))
      .select(col("c_id"), (-col("m.negid")).as("cent_id"))

  /** Top-p soft assignment: each vector lands in its `p` nearest
    * clusters (p=1 delegates to the argmax aggregate). The top-p is a
    * per-vector sort of the nClusters broadcast similarities — collect,
    * sort desc, slice — so cost is p rows out per vector, never a wide
    * op. Tie-break matches argmaxAssign (desc on (__cs, negid) puts the
    * smallest cent_id first among equals).
    */
  private def topPAssign(df: DataFrame, idCol: String, embCol: String,
      cents: DataFrame, p: Int): DataFrame =
    if (p <= 1) argmaxAssign(df, idCol, embCol, cents)
    else df.select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
      .join(broadcast(cents))
      .select(col("c_id"), col("cent_id"),
        cosineSim(col("c_emb"), col("cent_emb")).as("__cs"))
      .groupBy(col("c_id"))
      .agg(slice(sort_array(collect_list(struct(col("__cs"),
        (-col("cent_id")).as("negid"))), asc = false), 1, p).as("top"))
      .select(col("c_id"), explode(col("top")).as("t"))
      .select(col("c_id"), (-col("t.negid")).as("cent_id"))

  /** SemDeDup-style semantic dedup pairs (public recipe: Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540): k-means-partition the
    * embedding space with the IVF coarse-quantizer machinery, then
    * compute exact pairwise cosine ONLY within each cluster, keeping
    * pairs with cos >= threshold. The partition turns the O(n^2) pair
    * scan into sum-over-clusters O((n/k)^2) — the semantic-space
    * analogue of l21's hash buckets, except the buckets are themselves
    * meaningful clusters. A boundary-straddling pair is missed by hard
    * assignment, so each vector soft-assigns to its `probes` nearest
    * clusters (the multi-probe trick, corpus-side); candidates are
    * cluster-cohabiting pairs, dedup'd, and only candidates pay the
    * exact cosine — the l03/l21 candidate-then-verify contract. Still
    * approximate, so the operator is recall-gated against the exact
    * all-pairs twin (l61 vs l05), not hash-compared.
    *
    * 100 TB shape: centroid init/training and the centroid broadcast are
    * constant-/sample-sized; assignment is one narrow pass emitting
    * `probes` rows per vector; the only wide ops are the within-cluster
    * equi-join on cent_id and the candidate distinct, both bounded by
    * cluster size — grow nClusters with the corpus to hold the
    * per-cluster fan-out, exactly as IVF grows its list count.
    */
  def semanticDedupPairs(df: DataFrame, idCol: String, embCol: String,
      threshold: Double, nClusters: Int = 16, trainIters: Int = 0,
      probes: Int = 1): DataFrame =
    semanticPairsFromAssign(
      semanticAssign(df, idCol, embCol,
        semanticCentroids(df, idCol, embCol, nClusters, trainIters),
        probes),
      df, idCol, embCol, threshold)

  /** The trained coarse-quantizer centroids alone — public so the
    * incremental lineage (l134) can persist ONE draw and freeze it.
    */
  def semanticCentroids(df: DataFrame, idCol: String, embCol: String,
      nClusters: Int, trainIters: Int): DataFrame =
    lloydRounds(df, idCol, embCol,
      seedCentroids(df, idCol, embCol, nClusters), trainIters)

  /** Soft cluster assignment (c_id, cent_id — `probes` rows per
    * vector) against FROZEN centroids: a per-row function, so the
    * assignment of an appended batch unioned with a standing
    * assignment equals assigning the union (the l82 frozen-artifact
    * identity the semdedup incremental face relies on).
    */
  def semanticAssign(df: DataFrame, idCol: String, embCol: String,
      cents: DataFrame, probes: Int): DataFrame =
    topPAssign(df, idCol, embCol, cents, probes)

  /** Cluster-cohabitant candidates from an assignment frame, exact-
    * verified — the semanticDedupPairs tail, shared by the full and
    * delta paths.
    */
  def semanticPairsFromAssign(assigned: DataFrame, df: DataFrame,
      idCol: String, embCol: String, threshold: Double): DataFrame = {
    val aSide = assigned.select(col("cent_id"), col("c_id").as("a_id"))
    val bSide = assigned.select(col("cent_id").as("cent2"),
      col("c_id").as("b_id"))
    val candidates = aSide.join(bSide,
        col("cent_id") === col("cent2") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    verifyCosPairs(candidates, df, idCol, embCol, threshold)
  }

  /** Pairs TOUCHING a delta batch only: delta-side assignment joined
    * against the union assignment's cohabitants (old-new and new-new;
    * old-old pairs are the standing pair table's rows, unchanged under
    * a frozen assignment), normalized to a_id < b_id, exact-verified.
    * standing ∪ THIS = assigning and pairing the whole union — per-row
    * determinism of assignment and verification makes the identity
    * exact, which l134 multiset-gates.
    */
  def semanticPairsDelta(deltaAssign: DataFrame, allAssign: DataFrame,
      corpus: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    val candidates = deltaAssign
      .select(col("cent_id"), col("c_id").as("d_id"))
      .join(allAssign.select(col("cent_id").as("cent2"),
          col("c_id").as("o_id")),
        col("cent_id") === col("cent2") && col("d_id") =!= col("o_id"))
      .select(least(col("d_id"), col("o_id")).as("a_id"),
        greatest(col("d_id"), col("o_id")).as("b_id"))
      .distinct()
    verifyCosPairs(candidates, corpus, idCol, embCol, threshold)
  }

  private def verifyCosPairs(candidates: DataFrame, df: DataFrame,
      idCol: String, embCol: String, threshold: Double): DataFrame = {
    val ea = df.select(col(idCol).as("a_id"), col(embCol).as("__ea"))
    val eb = df.select(col(idCol).as("b_id"), col(embCol).as("__eb"))
    candidates.join(ea, "a_id").join(eb, "b_id")
      .select(col("a_id"), col("b_id"),
        cosineSim(col("__ea"), col("__eb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** The probe-bounded (q_id, c_id) candidate set `ivfTopK` scores —
    * shared with `pqTopK`, which ranks the same candidates by codebook
    * lookups instead of full-precision cosine. Public so a composition
    * that ranks the SAME candidates two ways (the l57 fidelity gate:
    * full-precision vs ADC) can generate them once, localCheckpoint,
    * and pass the frame to both rankers via `candidatesOpt` instead of
    * rebuilding centroids + lists + probes per side.
    */
  def ivfCandidates(spark: SparkSession, queries: DataFrame,
      corpus: DataFrame, idCol: String, embCol: String,
      nCentroids: Int, nProbe: Int, trainIters: Int): DataFrame = {
    val cents = lloydRounds(corpus, idCol, embCol,
      seedCentroids(corpus, idCol, embCol, nCentroids), trainIters)
    val lists = argmaxAssign(corpus, idCol, embCol, cents)
    lists.join(broadcast(probeTop(renameQ(queries, idCol, embCol),
        cents, nProbe)), Seq("cent_id"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"))
  }

  /** Query probing: top-nProbe centroids per query; the query set is the
    * small broadcast side, so a window is fine here. `q` is the renamed
    * (q_id, q_emb) frame.
    */
  private def probeTop(q: DataFrame, cents: DataFrame,
      nProbe: Int): DataFrame = {
    val scored = q.join(broadcast(cents))
      .select(col("q_id"), col("cent_id"),
        cosineSim(col("q_emb"), col("cent_emb")).as("__cs"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("__cs").desc, col("cent_id"))
    scored.withColumn("__r", row_number().over(w))
      .where(col("__r") <= nProbe)
      .select(col("q_id"), col("cent_id"))
  }

  /** The five persistable artifacts of an IVF-PQ index — what a standing
    * 100 TB vector pipeline writes ONCE at build time and every daily
    * query run reads back, never retraining: the coarse `centroids`
    * (nCentroids rows, broadcast side of probing), the inverted `lists`
    * assignment (c_id, cent_id — bucket by cent_id on write so the probe
    * join is shuffle-free on the index side, the l60 pattern), the PQ
    * `codebook` (m*nCodes rows), the encoded `codes` in ARRAY form —
    * (c_id, codes array<long>), m small raw code ids in one row fetch,
    * the memory-bound corpus representation a serve tier reads without
    * reconstruction — and the exact `norms` (one scalar per vector,
    * turning ADC dots into cosines).
    */
  final case class AnnIndex(centroids: DataFrame, lists: DataFrame,
    codebook: DataFrame, codes: DataFrame, norms: DataFrame)

  /** Build every `AnnIndex` artifact from the corpus — the one-time
    * index-BUILD job of the standing pipeline (train + assign + encode;
    * the only phase that touches full-precision corpus vectors other
    * than the bounded rerank fetch). Callers persist the returned frames
    * as tables; `pqTopKFromIndex` + `indexCandidates` then serve top-k
    * against them with ZERO training jobs.
    */
  def buildAnnIndex(corpus: DataFrame, idCol: String, embCol: String,
      nCentroids: Int, trainIters: Int, m: Int, nCodes: Int,
      pqTrainIters: Int): AnnIndex = {
    val cents = lloydRounds(corpus, idCol, embCol,
      seedCentroids(corpus, idCol, embCol, nCentroids), trainIters)
    val lists = argmaxAssign(corpus, idCol, embCol, cents)
    val c = corpus.select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
    val cb = pqTrainCodebookLocal(c, m, nCodes, pqTrainIters)
    AnnIndex(cents, lists, codebookDf(corpus.sparkSession, cb),
      encodeCodesDf(c, cb),
      c.select(col("c_id"), vecNorm(col("c_emb")).as("c_norm")))
  }

  /** Assign + encode a vector frame against FROZEN artifacts — the
    * per-row half of index maintenance (no Lloyd machinery anywhere in
    * the returned plans): nearest-centroid assignment (broadcast
    * centroids, deterministic tie-break), PQ codes against the frozen
    * codebook, exact norms. Returns (lists, codes, norms) slices in the
    * `AnnIndex` schemas.
    */
  def assignEncode(centroids: DataFrame, codebook: DataFrame,
      batch: DataFrame, idCol: String, embCol: String, m: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val b = batch.select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
    val cb = collectCodebookLocal(codebook)
    require(cb.m == m,
      s"assignEncode: codebook has m=${cb.m} blocks, caller expected $m")
    (argmaxAssign(batch, idCol, embCol, centroids),
      encodeCodesDf(b, cb),
      b.select(col("c_id"), vecNorm(col("c_emb")).as("c_norm")))
  }

  /** Incremental index UPDATE — the daily-ingest face of the standing
    * vector pipeline: a batch of NEW vectors is assigned and encoded
    * against the index's FROZEN centroids and codebook (`assignEncode`)
    * and appended to the persisted lists/codes/norms. No retraining:
    * because assignment and encoding are per-row functions of the
    * frozen artifacts, updating is EXACTLY equivalent to rebuilding the
    * assignment over the union corpus with the same artifacts — l82
    * gates on that equivalence. Centroid drift under sustained ingest
    * is a periodic re-BUILD (l72), not this path's job.
    */
  def updateAnnIndex(idx: AnnIndex, batch: DataFrame, idCol: String,
      embCol: String, m: Int): AnnIndex = {
    val (l, c, n) = assignEncode(idx.centroids, idx.codebook, batch,
      idCol, embCol, m)
    AnnIndex(idx.centroids, idx.lists.unionByName(l), idx.codebook,
      idx.codes.unionByName(c), idx.norms.unionByName(n))
  }

  /** Probe-bounded (q_id, c_id) candidates against a PERSISTED index:
    * broadcast the tiny centroid table, window the per-query top-nProbe,
    * equi-join the persisted inverted lists. No training, no corpus
    * scan; with `lists` bucketed on cent_id the index side joins
    * shuffle-free.
    */
  def indexCandidates(queries: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame, lists: DataFrame, nProbe: Int): DataFrame =
    graft.Trace.span(queries.sparkSession, "serve", "index_candidates") {
      lists.join(broadcast(probeTop(renameQ(queries, idCol, embCol),
          centroids, nProbe)), Seq("cent_id"))
        .where(col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"))
    }

  /** `pqTopK` served from a persisted `AnnIndex` — the daily-run face:
    * ADC-rank the given candidates with the PERSISTED codebook, codes
    * and norms (zero training jobs by construction — this path contains
    * no Lloyd machinery at all), then optionally re-rank the k*rerank
    * short list full-precision against the corpus vectors. `corpus` is
    * touched ONLY by that bounded rerank fetch.
    */
  def pqTopKFromIndex(queries: DataFrame, corpus: DataFrame,
      idCol: String, embCol: String, k: Int, m: Int,
      codebook: DataFrame, codes: DataFrame, norms: DataFrame,
      candidates: DataFrame, rerank: Int = 0,
      cbLocalOpt: Option[PqCodebookLocal] = None): DataFrame =
    graft.Trace.span(queries.sparkSession, "serve", "pq_topk_from_index") {
      // r17: `codes` is persisted in ARRAY form — (c_id, codes), the
      // serving-tier record layout encode produces natively — so serving
      // is ONE equi-join of candidates against (codes, norm) plus the
      // codegen'd per-row ADC fold. The r16 shape rebuilt the arrays per
      // serve (distinct + join + collect_list + array_sort: three extra
      // exchange-bearing stages per query), which the driver measured as
      // the l72/t22 2x regression. Callers that already hold the boot-
      // collected codebook (the sharedServe meta) pass it via
      // `cbLocalOpt`, skipping the per-call driver collect; persisted-
      // table callers (l72/l116/l123) keep the collect — their contract
      // is that serving boots from the store.
      val cb = cbLocalOpt.getOrElse(collectCodebookLocal(codebook))
      require(cb.m == m,
        s"pqTopKFromIndex: codebook has m=${cb.m} blocks, caller expected $m")
      val cEnc = codes.select(col("c_id"), col("codes").as("__codes"))
        .join(norms, Seq("c_id"))
      adcTopKLocal(renameQ(queries, idCol, embCol),
        corpus.select(col(idCol).as("c_id"), col(embCol).as("c_emb")),
        cb, cEnc, candidates, k, rerank)
    }

  /** The serving tier's in-process view of the index's TINY artifacts:
    * centroids (nCentroids rows) and codebook (m*nCodes sub-vectors),
    * driver-collected once at serve start — the exact analogue of an ANN
    * server loading the codebook file at boot. The BIG artifacts
    * (lists, codes, norms — O(corpus)) stay as tables and are only ever
    * equi-joined. This split is what makes a WINDOW-FREE serve path
    * possible: probe selection and ADC become per-row expressions over
    * literals, so the same code serves batch and unbounded streams
    * (Structured Streaming forbids window functions).
    */
  final case class AnnServeMeta(cents: Seq[(Long, Seq[Float])],
      cb: PqCodebookLocal)

  /** The boot collect: centroids as a sorted (cent_id, emb) literal
    * for per-row probing, and the codebook in the same driver-side
    * dense-array form the build/encode tier uses (`PqCodebookLocal` —
    * binary-searched raw-code lookup, O(log nCodes) per block, no
    * literal-map scan). Columns resolved by NAME so a persisted
    * layout's column order cannot silently misread.
    */
  def collectServeMeta(centroids: DataFrame,
      codebook: DataFrame): AnnServeMeta = {
    val cs = centroids.select(col("cent_id"), col("cent_emb")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq)
      .sortBy(_._1).toSeq
    AnnServeMeta(cs, collectCodebookLocal(codebook))
  }

  /** Window-free per-row probe: the query's top-nProbe cent_ids against
    * the collected centroid set — score every centroid with the SAME
    * codegen'd cosine expression `probeTop` uses (float literals, so the
    * arithmetic is bit-identical), sort (cos desc, cent_id asc) inside
    * the row, slice. Streaming-safe: no window, no aggregation.
    */
  def probeTopLocal(meta: AnnServeMeta, qEmb: Column, nProbe: Int): Column =
    transform(
      slice(array_sort(transform(typedLit(meta.cents), c =>
        struct((-cosineSim(qEmb, c.getField("_2"))).as("nc"),
          c.getField("_1").as("cent_id")))), 1, nProbe),
      s => s.getField("cent_id"))

  /** Per-row ADC cosine against the collected codebook: the SAME
    * codegen'd per-row fold the build/batch tier uses (`PqAdcDot` —
    * deterministic, ascending blocks; approximate scores are
    * gate-compared, never hash-compared, by the l07/l16 contract). The
    * candidate's m small raw codes and one norm scalar are the ONLY
    * per-candidate data touched; the full-precision corpus vector
    * never is. `qNorm` is precomputed ONCE per query row in the caller
    * (r17 — the retired formulation re-ran the O(dim) norm fold per
    * scored (q, c) row).
    */
  def adcCosineLocal(meta: AnnServeMeta, qEmb: Column, codesArr: Column,
      qNorm: Column, cNorm: Column): Column =
    PqFunctions.adcDot(meta.cb, qEmb, codesArr) / (qNorm * cNorm)

  /** Stateless serve scoring over a (possibly STREAMING) query frame:
    * per-row probe (literal centroids) -> equi-join the persisted lists
    * on cent_id -> fetch codes+norm by c_id -> per-row ADC cosine.
    * `codesArr` is the ARRAY-form codes table (c_id, codes) the index
    * persists — one row fetch per candidate, no reconstruction.
    * Every join is a stream-static equi-join; no window, no aggregation,
    * no training job anywhere in the plan. The stateful top-k lives in
    * `StreamingOps.annTopKState` (batch callers can use a plain window
    * instead).
    */
  def annServeScore(queries: DataFrame, idCol: String, embCol: String,
      meta: AnnServeMeta, lists: DataFrame, codesArr: DataFrame,
      norms: DataFrame, nProbe: Int): DataFrame =
    queries
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
      .select(col("q_id"), col("q_emb"),
        vecNorm(col("q_emb")).as("q_norm"),
        explode(probeTopLocal(meta, col("q_emb"), nProbe)).as("cent_id"))
      .join(lists, Seq("cent_id"))
      .where(col("q_id") =!= col("c_id"))
      .join(codesArr, Seq("c_id"))
      .join(norms, Seq("c_id"))
      .select(col("q_id"), col("c_id"),
        adcCosineLocal(meta, col("q_emb"), col("codes"), col("q_norm"),
          col("c_norm")).as("pq_cos"))

  /** IVF-PQ: the memory-bound rung of the ANN ladder. Each corpus
    * vector is stored as m codebook codes (one byte-scale code per
    * sub-block) plus its scalar norm — at 100 TB that is the difference
    * between holding 64 floats and m+1 small values per vector in the
    * scoring path. Ranking is the standard ADC (asymmetric distance
    * computation): the query stays full precision, a per-(query, block,
    * code) dot-product table is built against the broadcast codebook
    * (|Q| * m * nCodes rows, tiny), and each candidate's approximate
    * dot is m table lookups summed; dividing by the exact norms turns
    * it into an approximate cosine. Candidates come probe-bounded from
    * `ivfCandidates` — PQ re-ranks them, it never does all-pairs.
    *
    * Codebooks are trained per sub-block with the same deterministic
    * machinery as the IVF coarse quantizer: seeded smallest-hash init
    * (the sampled row's sub-vector is the initial centroid; its id the
    * code id), then `trainIters` Lloyd rounds with min-L2 assignment
    * (as a max-of-struct aggregate — one shuffled row per (vector,
    * block), never per (vector, block, code)) and per-(block, code,
    * pos) means. At 100 TB both training and the codebook broadcast
    * stay sample-/constant-sized; only encoding touches the corpus —
    * one narrow pass. Approximate scores are shuffled-double sums, so
    * the operator is recall-gated (l57), not hash-compared — the
    * l07/l16 contract.
    *
    * Returns (q_id, c_id, score, rk) for every `rerank` setting —
    * score is the ADC approximate cosine at rerank <= 1 and the
    * full-precision re-ranked cosine above; the knob tunes recall, it
    * never changes the result shape.
    */
  def pqTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame,
      idCol: String, embCol: String, k: Int, m: Int = 8, nCodes: Int = 16,
      trainIters: Int = 2, nCentroids: Int = 16, nProbe: Int = 4,
      rerank: Int = 0, candidatesOpt: Option[DataFrame] = None): DataFrame = {
    val c = corpus.select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
    // Train driver-side (treeAggregate, O(codebook) state per partition
    // — the Opq.fitRotation sync-point shape) and ship the tiny codebook
    // inside the encode/ADC expressions: the retired formulation ran a
    // broadcast-join + two shuffled aggregates per Lloyd round plus a
    // sub-block-exploded encode join, and r16's phase probe
    // measured that machinery at 2.9 s train + 3.0 s score on a
    // 2000-row corpus — all Exchange/job floor, no data. The transient
    // per-(vector, block) frame no longer exists at all; the artifact a
    // production pipeline persists is still `codes` (m small values + a
    // norm per vector).
    val cb = graft.Trace.span(spark, "pq", "train_codebook")(
      pqTrainCodebookLocal(c, m, nCodes, trainIters))
    val cEnc = c.select(col("c_id"),
      PqFunctions.encodeCodes(cb, col("c_emb")).as("__codes"),
      vecNorm(col("c_emb")).as("c_norm"))
    val cand = candidatesOpt.getOrElse(
      ivfCandidates(spark, queries, corpus, idCol, embCol,
        nCentroids, nProbe, trainIters = 0))
    adcTopKLocal(renameQ(queries, idCol, embCol), c, cb, cEnc, cand, k,
      rerank)
  }

  private def vecNorm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0),
      (a, x) => a + x.cast("double") * x.cast("double")))

  /** Per-sub-block codebook training: seeded smallest-hash init (the
    * ivf pattern — the nCodes smallest-hash rows seed EVERY block's
    * codebook with their own sub-vector; the sampled id is the code id,
    * unique + ordered, the only properties assignment tie-breaks need),
    * then `trainIters` Lloyd rounds each as ONE treeAggregate pass with
    * per-(block, code) sub-vector sums/counts — O(codebook) state per
    * partition, the Opq.fitRotation sync-point shape. Replaces the
    * retired broadcast-join + two-shuffled-aggregates round (guide
    * §2.3/§2.4: aggregate without exploding (vector, block, code) rows,
    * and no Exchange at all). Per-element d2 arithmetic and the
    * smallest-code tie-break are bit-identical to the retired SQL
    * formulation (see PqCodebookLocal's contract); only the mean's
    * summation ORDER differs (treeAggregate vs shuffled avg) — codebook
    * training was never bit-deterministic across runs, which is why
    * every PQ consumer is gate-compared, not hash-compared.
    */
  private[graft] def pqTrainCodebookLocal(c: DataFrame, m: Int,
      nCodes: Int, trainIters: Int): PqCodebookLocal = {
    val seedRows = c.select(col("c_id"), col("c_emb"),
        xxhash64(col("c_id")).as("__h"))
      .where(col("c_emb").isNotNull)
      .orderBy(col("__h"), col("c_id")).limit(nCodes)
      .select(col("c_id"), col("c_emb")).collect()
    require(seedRows.nonEmpty, "pqTrainCodebookLocal: empty corpus")
    val seeds = seedRows
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val d = seeds.head._2.length
    require(d % m == 0 && d >= m,
      s"pqTopK: embedding dimension must be a positive multiple of m=$m, got $d")
    val sub = d / m
    val codeIds = seeds.map(_._1)
    val n = codeIds.length
    val cents0 = new Array[Float](m * n * sub)
    var j = 0
    while (j < n) {
      require(seeds(j)._2.length == d,
        s"pqTopK: ragged embedding: ${seeds(j)._2.length} != $d")
      var blk = 0
      while (blk < m) {
        var k = 0
        while (k < sub) {
          cents0((blk * n + j) * sub + k) = seeds(j)._2(blk * sub + k)
          k += 1
        }
        blk += 1
      }
      j += 1
    }
    var cb = PqCodebookLocal(m, sub, codeIds, cents0)
    if (trainIters >= 1) {
      val rows = c.select(col("c_emb")).where(col("c_emb").isNotNull)
        .rdd.map(_.getSeq[Float](0).toArray)
      val persisted = trainIters > 1
      if (persisted)
        rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        var it = 0
        while (it < trainIters) {
          val cbIt = cb
          val zero = (new Array[Double](m * n * sub), new Array[Long](m * n))
          val (sums, counts) = rows.treeAggregate(zero)(
            seqOp = { case ((s, cnt), x) =>
              if (x.length != d) throw new IllegalArgumentException(
                s"pqTopK: ragged embedding: ${x.length} != $d")
              var blk = 0
              while (blk < m) {
                val dense = cbIt.nearestDense(x, blk)
                val off = (blk * n + dense) * sub
                var k = 0
                while (k < sub) {
                  s(off + k) += x(blk * sub + k).toDouble
                  k += 1
                }
                cnt(blk * n + dense) += 1L
                blk += 1
              }
              (s, cnt)
            },
            combOp = { case ((s1, c1), (s2, c2)) =>
              var i = 0
              while (i < s1.length) { s1(i) += s2(i); i += 1 }
              i = 0
              while (i < c1.length) { c1(i) += c2(i); i += 1 }
              (s1, c1)
            })
          val next = new Array[Float](m * n * sub)
          var cell = 0
          while (cell < m * n) {
            val cnt = counts(cell)
            var k = 0
            while (k < sub) {
              // empty cells keep their previous centroid (the retired
              // coalesce(newc, cent) contract)
              next(cell * sub + k) =
                if (cnt == 0L) cbIt.cents(cell * sub + k)
                else (sums(cell * sub + k) / cnt).toFloat
              k += 1
            }
            cell += 1
          }
          cb = PqCodebookLocal(m, sub, codeIds, next)
          it += 1
        }
      } finally if (persisted) rows.unpersist(blocking = false)
    }
    cb
  }

  /** The (blk, code, cent) codebook frame of a driver-side codebook —
    * the persistable artifact (m*nCodes rows, no job to build).
    */
  private[graft] def codebookDf(spark: SparkSession,
      cb: PqCodebookLocal): DataFrame = {
    import spark.implicits._
    (for (blk <- 0 until cb.m; j <- 0 until cb.nCodes) yield
      (blk, cb.codeIds(j),
        Seq.tabulate(cb.subDim)(k =>
          cb.cents((blk * cb.nCodes + j) * cb.subDim + k))))
      .toDF("blk", "code", "cent")
  }

  /** A persisted/returned (blk, code, cent) codebook frame collected
    * back to the driver-side form (m*nCodes rows — the boot-bounded
    * collectServeMeta discipline).
    */
  private[graft] def collectCodebookLocal(codebook: DataFrame)
      : PqCodebookLocal = {
    // columns resolved by NAME: a persisted layout or caller-built
    // frame with reordered columns must fail loudly, not misread
    val rows = codebook.select(col("blk"), col("code"), col("cent"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))
    require(rows.nonEmpty, "collectCodebookLocal: empty codebook")
    val m = rows.iterator.map(_._1).max + 1
    val codeIds = rows.filter(_._1 == 0).map(_._2).sorted
    val n = codeIds.length
    val sub = rows.head._3.length
    require(rows.length == m * n,
      s"collectCodebookLocal: ragged codebook: ${rows.length} != $m x $n")
    val idx = codeIds.zipWithIndex.toMap
    val cents = new Array[Float](m * n * sub)
    rows.foreach { case (blk, code, cent) =>
      require(cent.length == sub,
        s"collectCodebookLocal: ragged centroid: ${cent.length} != $sub")
      System.arraycopy(cent, 0, cents, (blk * n + idx(code)) * sub, sub)
    }
    PqCodebookLocal(m, sub, codeIds, cents)
  }

  /** Encode: the (c_id, codes) frame — one narrow codegen'd projection
    * against the driver-side codebook (the retired formulations paid a
    * broadcast join + shuffled min-of-struct aggregate per consumer,
    * then r16 a posexplode whose array every serve path had to rebuild
    * with a distinct + join + collect_list — the driver-measured l72/
    * t22 regression). ARRAY form is the serving-tier record layout:
    * the corpus' entire PQ representation is m small raw code ids in
    * one row fetch plus one norm scalar.
    */
  private def encodeCodesDf(c: DataFrame, cb: PqCodebookLocal): DataFrame =
    c.select(col("c_id"),
      PqFunctions.encodeCodes(cb, col("c_emb")).as("codes"))

  /** `adcTopK` with the codebook inside the expressions: candidates
    * equi-join the (codes, norm) projection once and every ADC score is
    * one codegen'd per-row fold — no dtab join, no shuffled partial-dot
    * aggregate (and the per-candidate sum is deterministic, ascending
    * blocks, unlike the shuffled sum it replaces; approximate scores
    * stay gate-compared by the l07/l16 contract). `cEnc` is the
    * (c_id, __codes, c_norm) projection of the corpus.
    */
  private def adcTopKLocal(q: DataFrame, cVecs: DataFrame,
      cb: PqCodebookLocal, cEnc: DataFrame, cand: DataFrame, k: Int,
      rerank: Int): DataFrame = {
    // q_norm is computed ONCE per query row inside the broadcast side
    // (r17 — the retired formulation re-ran the O(dim) norm fold per
    // scored (q, c) row)
    val qN = q.withColumn("__q_norm", vecNorm(col("q_emb")))
    val scored = cand.join(cEnc, Seq("c_id"))
      .join(broadcast(qN), Seq("q_id"))
      .select(col("q_id"), col("c_id"),
        (PqFunctions.adcDot(cb, col("q_emb"), col("__codes")) /
          (col("__q_norm") * col("c_norm"))).as("pq_cos"))
    // bounded ADC ranking (r17): the scored candidate frame is the
    // probe fan-out — rank it with the map-side-bounded aggregator
    // instead of a full shuffle+sort window (guide §2.3)
    if (rerank <= 1) {
      topKPerQuery(scored, "pq_cos", k)
        .select(col("q_id"), col("c_id"), col("pq_cos").as("score"),
          col("rk"))
    } else {
      val short = topKPerQuery(scored, "pq_cos", k * rerank)
        .select(col("q_id"), col("c_id"))
      val exact = short.join(cVecs, Seq("c_id"))
        .join(broadcast(q), Seq("q_id"))
        .select(col("q_id"), col("c_id"),
          cosineSim(col("q_emb"), col("c_emb")).as("cos"))
      // the rerank window's input is already k*rerank-bounded per
      // query — the aggregator still spares the sort and keeps the
      // one top-k shape
      topKPerQuery(exact, "cos", k)
        .select(col("q_id"), col("c_id"), col("cos").as("score"), col("rk"))
    }
  }

  /** Approximate top-k via multi-table hyperplane LSH (standard
    * OR-amplification): `tables` independent b-bit bucketings; a corpus
    * vector is scored for a query iff they share a bucket in ANY table.
    * Cost ~ tables/2^bits of the corpus per query; recall rises with
    * `tables`, candidate count falls with `bits` — both dials independent.
    * All signature work is per-row and shuffle-free; the only wide ops are
    * the candidate equi-join and the final top-k window.
    */
  def lshTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame,
      idCol: String, embCol: String, k: Int, bits: Int = 8,
      tables: Int = 4): DataFrame = {
    val qB = bucketed(queries, idCol, embCol, bits, tables)
      .select(col("v_id").as("q_id"), col("tbl"), col("sig"))
    val cB = bucketed(corpus, idCol, embCol, bits, tables)
      .select(col("v_id").as("c_id"), col("tbl").as("tbl2"), col("sig").as("sig2"))
    val candidates = cB.join(broadcast(qB),
        col("tbl") === col("tbl2") && col("sig") === col("sig2") &&
          col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"))
      .distinct()
    val q = renameQ(queries, idCol, embCol)
    val c = corpus.select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
    val scored = candidates
      .join(c, "c_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("c_id"),
        cosineSim(col("q_emb"), col("c_emb")).as("cos"))
    // bounded top-k (r17) — see topKPerQuery
    topKPerQuery(scored, "cos", k)
  }

  /** Per-group centroid-distance outlier score on an integer-quantized
    * grid: each dimension quantizes to `floor(x*scale)` and the score is
    * `n^2 * dist^2 = sum_d (n*q_d - S_d)^2` where `S_d` is the group's
    * per-dimension quantized sum — ALL integer arithmetic, so the result
    * is exact and hash-stable on any engine regardless of aggregation
    * order (shuffled double sums would not be). A production variant runs
    * the identical plan in plain doubles; the use case is dropping
    * mislabeled / out-of-distribution vectors before training.
    *
    * 100 TB shape: the posexplode is narrow (id, group, dim, q); the
    * centroid table is |groups| x dims rows and broadcasts; both
    * aggregates are map-side combinable hash aggregates; the final top-k
    * plans as TakeOrderedAndProject (per-partition heap, k-row driver
    * merge). Overflow: the score is n^2*dist^2 with dist^2 <=
    * dims*(2*scale*max|x|)^2, so for unit-norm-ish vectors at
    * scale=1000 and dims=64 the Long limit 2^63 is reached near
    * n ~ 1.5e6 rows/group — only a ~2x margin at n=1e6. Larger groups
    * or a finer grid need the score divided by n^2 up front (or a
    * DECIMAL(38) accumulator); do NOT raise scale and n together.
    */
  def centroidOutliers(df: DataFrame, idCol: String, vecCol: String,
      groupCol: String, scale: Int = 1000, k: Int = 50): DataFrame = {
    val q = df.select(col(idCol).as("vid"), col(groupCol).as("grp"),
        posexplode(col(vecCol)))
      .select(col("vid"), col("grp"), col("pos"),
        floor(col("col").cast("double") * scale).cast("long").as("qv"))
    val stats = q.groupBy(col("grp"), col("pos"))
      .agg(sum(col("qv")).as("s"), count(lit(1)).as("n"))
    q.join(broadcast(stats), Seq("grp", "pos"))
      .select(col("vid"), col("grp"),
        ((col("qv") * col("n") - col("s"))
          * (col("qv") * col("n") - col("s"))).as("term"))
      .groupBy(col("vid"), col("grp"))
      .agg(sum(col("term")).as("sdist2"))
      .orderBy(col("sdist2").desc, col("vid"))
      .limit(k)
      .select(col("vid").as("vec_id"), col("grp").as("label"), col("sdist2"))
  }

  /** Brute-force k-NN majority-vote label prediction — the eval harness
    * for embedding quality: predict each vector's label from its k
    * nearest neighbors (leave-one-out) and compare with the stored label.
    * Fully tie-broken at both stages (cos DESC then neighbor id; vote
    * count DESC then label ASC) so the prediction is deterministic.
    *
    * This is deliberately the exact all-pairs baseline (the same oracle
    * role as `l02`/`l05`); at scale the identical vote runs over
    * `lshTopK`/`ivfTopK` candidates instead of the cross product — the
    * vote plan (bounded top-k aggregate + map-side-combined count + one
    * winner window over <= |labels| rows per query) is unchanged.
    */
  def knnClassify(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int = 10): DataFrame = {
    val a = df.select(col(idCol).as("a_id"), col(vecCol).as("a_emb"),
      col(labelCol).as("a_label"))
    val b = df.select(col(idCol).as("b_id"), col(vecCol).as("b_emb"))
    val scored = a.join(broadcast(b), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("a_label"), col("b_id"),
        cosineSim(col("a_emb"), col("b_emb")).as("cos"))
    voteTopK(scored,
      df.select(col(idCol).as("b_id"), col(labelCol).as("b_label")), k)
  }

  /** The vote plan shared by the exact and ANN-candidate classifiers:
    * bounded neighbor top-k as the map-side-combinable GroupedTopK
    * aggregator (tieBreak -b_id makes (cos DESC, b_id ASC) one
    * descending total order) -> neighbor-label attach -> per-(a, label)
    * count -> bounded winner window (votes DESC, label ASC). Expects
    * (a_id, a_label, b_id, cos) plus a (b_id, b_label) label frame.
    *
    * r16: the neighbor stage was a row_number window, which shuffled
    * and sorted EVERY scored row — over the exact classifier's
    * all-pairs join that is an O(|Q|*|C|) exchange carrying the label
    * strings; the aggregator exchanges at most k (cos, id) pairs per
    * (query, partition) and the labels attach to the n*k survivors
    * (guide §2.3 — aggregate before you shuffle, project early). The
    * label-attach join is UNHINTED: AQE broadcasts the label table at
    * fixture scale, but at 100 TB labels are corpus-sized and the
    * exploded top-k (n*k rows) is the small side — the planner must
    * stay free to flip.
    */
  private def voteTopK(scored: DataFrame, labels: DataFrame,
      k: Int): DataFrame = {
    // contract (same as topKPerQuery's): b_id is a signed integral id
    // above Long.MinValue (explicit cast — a non-numeric id column must
    // fail analysis loudly, not coerce) and cos is non-null (cosines of
    // non-null vectors are; GroupedTopK fails a null loudly rather than
    // rank it, and ranks NaN first as the SQL order does)
    val top = scored.groupBy(col("a_id"), col("a_label"))
      .agg(GroupedTopK.topK(k)(col("cos"), -col("b_id").cast("long"))
        .as("__top"))
    val votes = top
      .select(col("a_id"), col("a_label"), explode(col("__top")).as("t"))
      .select(col("a_id"), col("a_label"), (-col("t._2")).as("b_id"))
      .join(labels, Seq("b_id"))
      .groupBy(col("a_id"), col("a_label"), col("b_label"))
      .agg(count(lit(1)).as("n_votes"))
    val wV = Window.partitionBy(col("a_id"))
      .orderBy(col("n_votes").desc, col("b_label"))
    votes.withColumn("vk", row_number().over(wV)).where(col("vk") === 1)
      .select(col("a_id").as("vec_id"), col("a_label").as("true_label"),
        col("b_label").as("pred_label"),
        when(col("a_label") === col("b_label"), lit(1L)).otherwise(lit(0L))
          .as("correct"))
  }

  /** The scale path `knnClassify`'s scaladoc promises: the IDENTICAL
    * vote plan fed from IVF candidates instead of the exact cross
    * product — probe-bounded candidate generation, no all-pairs join.
    */
  def knnClassifyIvf(spark: SparkSession, df: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int = 10,
      nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val labels = df.select(col(idCol).as("__lid"),
      col(labelCol).as("__lbl"))
    val cand = ivfTopK(spark, df, df, idCol, vecCol, k, nCentroids, nProbe)
    // query-label attach is UNHINTED for the same reason as the
    // neighbor-label attach inside voteTopK
    val scored = cand
      .join(labels, col("q_id") === col("__lid"))
      .withColumnRenamed("__lbl", "a_label").drop("__lid")
      .select(col("q_id").as("a_id"), col("a_label"),
        col("c_id").as("b_id"), col("cos"))
    voteTopK(scored,
      df.select(col(idCol).as("b_id"), col(labelCol).as("b_label")), k)
  }

  /** Embedding-column preflight — the sanity census every similarity /
    * dedup run above assumes but none verifies: per (dim, norm-band)
    * cell, the vector count plus zero-norm and NaN counts. Unit-norm
    * corpora land in one or two bands around floor(1.0×1000); drift,
    * truncated vectors, or an un-normalized ingest shows up as new rows,
    * not a silent recall collapse downstream. The norm is the same
    * sequential-fold sum of squares the cosine expression uses, so the
    * histogram is bit-deterministic; NaN vectors band to NULL (floor of
    * NaN is engine-defined, NULL is not).
    *
    * 100 TB shape: one narrow per-row pass (fold + floor) into a
    * map-side-combined aggregate over a handful of (dim, band) cells —
    * no shuffle wider than the cell count, no join.
    */
  def embedHealth(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val e = col("__emb")
    val n2 = aggregate(e, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val hasNan = exists(e, x => isnan(x.cast("double")))
    df.select(col(embCol).as("__emb"))
      .select(size(e).as("dim"), n2.as("__n2"), hasNan.as("__nan"))
      .select(col("dim"),
        when(col("__nan"), lit(null))
          .otherwise(floor(sqrt(col("__n2")) * 1000)).as("norm_band"),
        when(col("__n2") === 0.0, 1).otherwise(0).as("__z"),
        when(col("__nan"), 1).otherwise(0).as("__n"))
      .groupBy(col("dim"), col("norm_band"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("__z")).cast("long").as("n_zero"),
        sum(col("__n")).cast("long").as("n_nan"))
  }

  /** SSL-prototype diversification pruning — the second stage of D4
    * (public recipe: Tirumala et al. 2023, "D4: Improving LLM
    * Pretraining via Document De-Duplication and Diversification",
    * arXiv:2308.12284; the prototypicality score is Sorscher et al.
    * 2022's SSL-prototypes metric): k-means-partition the embedding
    * space, score every vector by cosine to its OWN cluster centroid
    * (= prototypicality), and inside each cluster mark the most
    * prototypical `pruneBp`/10000 fraction for removal — D4's finding
    * is that after semantic dedup the remaining redundancy sits in the
    * dense cluster cores, so diversification drops the core, not the
    * fringe. Exactly floor(|c| * pruneBp / 10000) rows are pruned per
    * cluster, ties broken by id, so the decision is a pure function of
    * the (embedding, id) set.
    *
    * Returns (doc_id, cent_id, proto_cos, pruned). `proto_cos` is the
    * sequential-fold cosine (bit-deterministic per row) but centroid
    * TRAINING means are shuffled-double averages, so compositions are
    * recall/property-gated (the l61 contract), never hash-compared.
    *
    * 100 TB shape: centroids train on the hash-sample and broadcast;
    * assignment + scoring is one narrow map-side-combinable pass (max
    * of (cos, -cent_id) structs — one shuffled row per vector); the
    * only wide op is the per-cluster rank, bounded by cluster size —
    * grow nClusters with the corpus to hold it, the same dial
    * `semanticDedupPairs` documents. The fraction-of-cluster quota
    * needs |c| before ranking, so the window form is canonical here
    * (a fixed-k quota would use the l73 bottom-k aggregate instead).
    */
  def prototypePrune(df: DataFrame, idCol: String, embCol: String,
      pruneBp: Long, nClusters: Int = 8, trainIters: Int = 0): DataFrame = {
    require(pruneBp >= 0L && pruneBp <= 10000L,
      s"pruneBp must be in [0, 10000], got $pruneBp")
    val cents = trainCentroids(df, idCol, embCol, nClusters, trainIters)
    val scored = prototypeScore(df, idCol, embCol, cents)
    val rankW = Window.partitionBy(col("cent_id"))
      .orderBy(col("proto_cos").desc, col("doc_id"))
    val sizeW = Window.partitionBy(col("cent_id"))
    // floor(|c| * bp / 10000) through double floor is exact while
    // |c| * bp < 2^53 — i.e. clusters below ~9e11 rows at bp=10000.
    scored
      .withColumn("__r", row_number().over(rankW))
      .withColumn("__n", count(lit(1)).over(sizeW))
      .select(col("doc_id"), col("cent_id"), col("proto_cos"),
        (col("__r") <= floor(col("__n") * lit(pruneBp) / lit(10000.0))
          .cast("long")).as("pruned"))
  }

  /** The k-means coarse quantizer as a PUBLIC artifact builder —
    * (cent_id, cent_emb), the frame `prototypeScore` / `topPAssign` /
    * the IVF family consume. Training means are shuffled-double
    * averages, so a caller composing two plans over the SAME quantizer
    * (the t40 serve face) must materialize the returned frame
    * (localCheckpoint) rather than recompute it per consumer.
    */
  def trainCentroids(df: DataFrame, idCol: String, embCol: String,
      nClusters: Int, trainIters: Int): DataFrame =
    lloydRounds(df, idCol, embCol,
      seedCentroids(df, idCol, embCol, nClusters), trainIters)

  /** Prototypicality scoring against a FIXED centroid frame: each
    * vector's nearest centroid and its cosine to it — (doc_id, cent_id,
    * proto_cos). Map-side-combinable argmax (max of (cos, -cent_id)
    * structs), one shuffled row per vector; ties to the smallest
    * cent_id like `argmaxAssign`.
    */
  def prototypeScore(df: DataFrame, idCol: String, embCol: String,
      cents: DataFrame): DataFrame =
    df.select(col(idCol).as("doc_id"), col(embCol).as("__e"))
      .join(broadcast(cents))
      .select(col("doc_id"), col("cent_id"),
        nanGuardedCos(cosineSim(col("__e"), col("cent_emb"))).as("__cs"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("__cs"), (-col("cent_id")).as("negid"))).as("m"))
      .select(col("doc_id"), (-col("m.negid")).as("cent_id"),
        col("m.__cs").as("proto_cos"))

  /** The admission-bar face of `prototypePrune`: per cluster the
    * (proto_cos, doc_id) of the quota-th most-prototypical row —
    * (cent_id, thr_cos, thr_id). A vector is in the pruned core iff
    * (proto_cos, -id) >= (thr_cos, -thr_id) lexicographically, which for
    * a fixed row set is EXACTLY `prototypePrune`'s rank <= quota (strict
    * total order), so a serve tier holding only these <= nClusters rows
    * replays the batch decision bit-for-bit. Clusters whose quota is 0
    * emit no row (left-joining consumers read null => keep).
    */
  def prototypeThresholds(scored: DataFrame, pruneBp: Long): DataFrame = {
    require(pruneBp >= 0L && pruneBp <= 10000L,
      s"pruneBp must be in [0, 10000], got $pruneBp")
    val rankW = Window.partitionBy(col("cent_id"))
      .orderBy(col("proto_cos").desc, col("doc_id"))
    val sizeW = Window.partitionBy(col("cent_id"))
    scored
      .withColumn("__r", row_number().over(rankW))
      .withColumn("__n", count(lit(1)).over(sizeW))
      .where(col("__r") ===
        floor(col("__n") * lit(pruneBp) / lit(10000.0)).cast("long"))
      .select(col("cent_id"), col("proto_cos").as("thr_cos"),
        col("doc_id").as("thr_id"))
  }

  /** NaN-cosine guard shared by the prototype faces: a zero-norm
    * vector's cosine is 0/0 = NaN, and the two faces would otherwise
    * DISAGREE on it — the batch argmax's max(struct(cos, ...)) treats
    * NaN as greatest while the serve-side ascending sort over nc=-cos
    * puts NaN last. Coalescing NaN to -2.0 (below any real cosine)
    * makes zero-norm pairs rank worst on BOTH faces, and an all-NaN
    * row falls through to the smallest cent_id on both (max negid ==
    * ascending (nc, cent_id) head), so the t40 census equality holds
    * on degenerate data too.
    */
  private def nanGuardedCos(cs: Column): Column =
    when(isnan(cs), lit(-2.0)).otherwise(cs)

  /** Per-row nearest-centroid against a COLLECTED centroid set — the
    * stateless serve-side twin of `prototypeScore` (float literals, so
    * the cosine arithmetic is bit-identical to the batch join; same
    * (cos desc, cent_id asc) tie-break, NaN guarded identically).
    * Returns a struct column with fields `nc` (= -cos) and `cent_id`;
    * streaming-safe: no window, no aggregation.
    */
  def prototypeAssignLocal(cents: Seq[(Long, Seq[Float])],
      qEmb: Column): Column =
    element_at(array_sort(transform(typedLit(cents), c =>
      struct((-nanGuardedCos(cosineSim(qEmb, c.getField("_2")))).as("nc"),
        c.getField("_1").as("cent_id")))), 1)
}
