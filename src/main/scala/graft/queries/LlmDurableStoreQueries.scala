package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{NbClassifier, NgramLm, SemDedupStore, Similarity}
import graft.queries.Gates.mismatches
import graft.queries.LlmQueries.{cardOf, nbCardOf, oracleOf, semRecallCard, pruneCard}

object LlmDurableStoreQueries {
  /** Wrap a registered twin's oracle with literal-TRUE gate columns
    * (the durable-reload contract: output is the twin's verbatim PLUS
    * in-query booleans the hash gate forces to TRUE).
    */
  private def gatedOracle(base: String,
      gateCols: Seq[String]): Option[String] =
    oracleOf(base).map(sql =>
      s"SELECT q.*, ${gateCols.map(c => s"TRUE AS $c").mkString(", ")}" +
        s" FROM (\n$sql\n) q")

  /** Catalog-table leaves of a frame's optimized plan (lowercased) —
    * the "serve actually reads the persisted tables" probe.
    */
  private def catalogLeaves(df: org.apache.spark.sql.DataFrame)
      : Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.catalogTable.map(_.identifier.table.toLowerCase)
    }.flatten.toSet

  /** The DURABLE store tier (the rung above l107-l110/l116's
    * hash-invisible persistence): the standing stores get a fixed
    * on-disk layout keyed by a corpus content fingerprint, and these
    * queries prove the contract end-to-end — build (or reload) the
    * layout, EVICT every in-memory artifact and registered table to
    * simulate a brand-new application, reload, and gate in-query that
    * the reload paid ZERO store-build seconds (`Trace.Store`) and that
    * the serve plan reads the persisted tables with zero training
    * aggregates. Output and oracle are the training twin's plus the
    * literal gate booleans, so the driver's hash gate enforces the
    * zero-rebuild contract at every sf.
    */
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec(
      "l122_lm_durable_serve",
      "l83's bigram LM served from the DURABLE store — the second-application contract l107's per-run tables couldn't prove: the count tables live at a fixed warehouse path keyed by the corpus content fingerprint (the l27 hash discipline lifted to the corpus — a changed corpus invalidates, a byte-identical one reuses), and the query (a) load-or-builds, (b) evicts the in-memory NgramModelStore AND drops the registered catalog tables (external — files stay), then (c) reloads and serves the full l83 card. Gates, in-query and hash-enforced: the reload accrued ZERO store-build seconds under durable_lm_bigram (no training or write job ran), and the serve plan carries no training aggregate (the ModelStoreSpec probe, inlined). Hash-exact against l83's oracle plus the literal gate columns: durability must be invisible to the scores and free for every application after the first",
      (s, dir) => {
        val st = graft.operators.NgramModelStore
        val ds = graft.operators.DurableStore
        val fp = ds.documentsFp(s, dir)
        // (a) first touch builds the layout iff NO application ever saw
        // this corpus; otherwise this is already a durable reload
        st.durableBigram(s, dir, fp)
        // (b) fresh-application simulation — the BIGRAM cache only:
        // that is the artifact the durable layout holds; the derived
        // backoff/KN caches were built from still-valid checkpointed
        // frames and clearing them would only make sibling queries
        // re-pay derived builds (ledger noise), proving nothing
        st.evictBigram()
        ds.dropRegistered(s, st.DurableFamily, fp, st.DurableParts)
        // (c) the reload must be build-free and training-free
        val before = ds.buildSeconds(st.DurableFamily)
        val served = st.durableBigram(s, dir, fp)
        val buildFree = ds.buildSeconds(st.DurableFamily) == before
        // re-seed the shared cache with the reloaded tables so sibling
        // LM queries serve the durable store instead of retraining
        st.seedBigram(s, dir, served)
        def trainAggs(df: org.apache.spark.sql.DataFrame): Set[String] =
          df.queryExecution.optimizedPlan.collect {
            case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
              a.aggregateExpressions.map(_.name)
          }.flatten.toSet.intersect(Set("pair_c", "ctx_c", "v"))
        val scored = NgramLm.surprisalBits(
          Tables.load(s, dir, "documents"), "doc_id", "text", served, 2)
        val planClean = trainAggs(scored).isEmpty
        // POSITIVE CONTROL for the name-anchored probe: the same probe
        // over a TRAIN-INLINE plan (lazy aggregates, never executed —
        // optimizedPlan triggers analysis only, zero jobs) MUST trip,
        // so a rename of the training columns cannot make the serve
        // gate silently vacuous
        val inline = NgramLm.trainBigram(
          Tables.load(s, dir, "documents").where(col("doc_id") % 7 === 0),
          "text", 2)
        val probeArmed = trainAggs(NgramLm.surprisalBits(
          Tables.load(s, dir, "documents"), "doc_id", "text", inline, 2))
          .nonEmpty
        cardOf(scored)
          .withColumn("reload_build_free_ok", lit(buildFree))
          .withColumn("serve_plan_clean_ok", lit(planClean))
          .withColumn("probe_armed_ok", lit(probeArmed))
      },
      gatedOracle("l83_lm_perplexity",
        Seq("reload_build_free_ok", "serve_plan_clean_ok",
          "probe_armed_ok"))),

    QuerySpec(
      "l123_ann_durable_serve",
      "l72's IVF-PQ serve from the DURABLE index store — the vector-side second-application contract: the five index tables (lists/codes/norms bucketed on their join keys, centroids/codebook boot tables) live at a fixed path keyed by the embeddings content fingerprint; the query build-or-loads, evicts AnnIndexStore and the registered tables, reloads, and serves l72's full probe -> ADC -> rerank -> fidelity-gate pipeline. Gates, in-query and hash-enforced: zero store-build seconds accrued by the reload, AND the candidate/ADC plans' catalog leaves are exactly the re-registered durable tables (the serve reads the store, not a retrain — bucket specs survive re-registration, so the index-side joins stay exchange-free, plan-probed in DurableStoreSpec). Oracle = l72's plus the literal gate columns",
      (s, dir) => {
        val st = graft.operators.AnnIndexStore
        val ds = graft.operators.DurableStore
        val fp = ds.embeddingsFp(s, dir)
        st.durableIndex(s, dir, fp)
        // evict the INDEX cache only — the durable layout's artifact;
        // the serve-meta cache derives from still-valid checkpointed
        // frames and clearing it would just make t22 re-collect (the
        // full fresh-boot shape is t50's contract, which pays its own
        // boot)
        st.evictIndex()
        ds.dropRegistered(s, st.DurableFamily, fp, st.DurableParts)
        val before = ds.buildSeconds(st.DurableFamily)
        val idx = st.durableIndex(s, dir, fp)
        val buildFree = ds.buildSeconds(st.DurableFamily) == before
        // re-seed the shared cache with the reloaded tables so sibling
        // ANN queries serve the durable store instead of rebuilding
        st.seedIndex(s, dir, idx)
        val e = Tables.load(s, dir, "embeddings")
        val q = e.where(col("vec_id") % 25 === 0)
        val candDf = Similarity.indexCandidates(q, "vec_id", "embedding",
          idx.centroids, idx.lists, nProbe = 6)
        val candTables = catalogLeaves(candDf)
        val cand = candDf.localCheckpoint(eager = true)
        val ivf = Similarity.ivfTopK(s, q, e, "vec_id", "embedding", 10,
            candidatesOpt = Some(cand))
        val pq = Similarity.pqTopKFromIndex(q, e, "vec_id", "embedding",
          10, m = st.DefaultM, codebook = idx.codebook,
          codes = idx.codes, norms = idx.norms, candidates = cand,
          rerank = 8)
        val pqTables = catalogLeaves(pq)
        // r16: pqTopKFromIndex boot-collects the codebook (the
        // collectServeMeta discipline), so the registered codebook table
        // is consumed at plan-build time and no longer appears as a leaf
        // of the pq plan — probe the frame the collect reads instead;
        // codes/norms stay in-plan leaves
        val cbTables = catalogLeaves(idx.codebook)
        val fromStore = Seq(
            "cent" -> candTables, "lists" -> candTables,
            "codebook" -> cbTables, "codes" -> pqTables,
            "norms" -> pqTables)
          .forall { case (p, ts) =>
            ts.contains(ds.registeredName(st.DurableFamily, fp, p)) }
        Gates.recall(ivf, pq, Seq("q_id", "c_id"), 90, "n_ivf", "pq_ok")
          .withColumn("reload_build_free_ok", lit(buildFree))
          .withColumn("serve_reads_store_ok", lit(fromStore))
      },
      gatedOracle("l72_ann_index_serve",
        Seq("reload_build_free_ok", "serve_reads_store_ok"))),

    QuerySpec(
      "l130_semdedup_durable_serve",
      "the semantic-dedup family served from the DURABLE store — the last standing build that still re-ran per application (semdedup pairs + component labels, ~6 s at sf0.1 on every run): the two tables (pairs bucketed on a_id, labels on doc_id) live at a fixed path keyed by the embeddings content fingerprint; the query build-or-loads, evicts the SEMANTIC caches (the exact all-pairs twin survives — it is the gate baseline, in-memory by design) and the registered tables, reloads, re-seeds the shared store for sibling consumers (l61/l62/l99), and serves BOTH user-facing cards over the reloaded tables: l61's recall census (cluster-found pairs vs the exact twin) and l62's dropped-set census (coarsened exact components vs semantic components). Durability also PINS the clustering draw: the persisted pair set is one fixed recall-valid draw every consumer shares, instead of a fresh shuffled-double kmeans per application. Gates, in-query and hash-enforced: zero store-build seconds accrued by the reload, and both card plans' catalog leaves include the re-registered durable tables. Oracle = l61's + l62's oracles cross-joined plus the literal gate columns",
      (s, dir) => {
        val st = SemDedupStore
        val ds = graft.operators.DurableStore
        val fp = ds.embeddingsFp(s, dir)
        st.durableSem(s, dir, fp)
        st.evictSem()
        ds.dropRegistered(s, st.DurableFamily, fp, st.DurableParts)
        val before = ds.buildSeconds(st.DurableFamily)
        val t = st.durableSem(s, dir, fp)
        val buildFree = ds.buildSeconds(st.DurableFamily) == before
        val semP = t("pairs")
        val semL = t("labels")
        // l61's recall card over the RAW reloaded pair table (catalog
        // leaves visible — a checkpoint would hide them)
        val exactPairs = st.sharedExactPairs(s, dir)
        val recall = semRecallCard(exactPairs, semP)
        // l62's prune card over the RAW reloaded label table
        val prune = pruneCard(semL, exactPairs)
        val fromStore = Seq(
            "pairs" -> catalogLeaves(recall),
            "labels" -> catalogLeaves(prune))
          .forall { case (p, ls) =>
            ls.contains(ds.registeredName(st.DurableFamily, fp, p)) }
        // re-seed the shared caches so sibling consumers serve the
        // durable tables instead of silently rebuilding
        st.sharedSemPairs(s, dir)
        st.sharedSemLabels(s, dir)
        recall.crossJoin(broadcast(prune))
          .select(col("n_exact"), col("recall_ok"),
            col("n_exact_dropped"), col("prune_ok"),
            lit(buildFree).as("reload_build_free_ok"),
            lit(fromStore).as("serve_reads_store_ok"))
      },
      (oracleOf("l61_semantic_dedup"), oracleOf("l62_semantic_prune"))
        match {
          case (Some(a), Some(b)) => Some(
            s"""SELECT a.n_exact, a.recall_ok, b.n_exact_dropped,
               |  b.prune_ok, TRUE AS reload_build_free_ok,
               |  TRUE AS serve_reads_store_ok
               |FROM (
               |$a
               |) a CROSS JOIN (
               |$b
               |) b""".stripMargin)
          case _ => None
        }),

    QuerySpec(
      "l131_ann_durable_update",
      "INCREMENTAL durable-store maintenance at O(delta) WRITE cost — the daily-append economics the fingerprint-keyed layout alone cannot give: the ann_index_inc lineage is a MANIFEST family — the one-time base training build is a single segment (all five parts); each append is assigned + PQ-encoded against the frozen centroids/codebook (per-row functions, zero Lloyd machinery — l82's update face) and written as ONE delta segment holding only the delta's lists/codes/norms, and the publish is ONE create-if-absent manifest marker naming base segments + delta (the marker-commit discipline — no renames, object-store-safe). Readers union the listed segments, so the frozen model resolves from the base segment through every descendant manifest and is never duplicated; centroid drift is a periodic jump back to the retrain (ann_index) lineage, which is also the compaction story when the segment list grows long. Gates, in-query and hash-enforced: (1) the RELOADED updated tables are multiset-equal (all columns + per-row count, l82's discipline) to a frozen-artifact rebuild over the union corpus, across lists, codes AND norms, with every old and new vector indexed; (2) re-serving the new fingerprint accrues ZERO build seconds — the published update is durable, a re-run day costs zero jobs; (3) the WRITE-AMPLIFICATION gate: the child manifest is exactly base segments + ONE delta segment and every standing segment's files are byte-for-byte untouched (path+length+mtime) — the append wrote O(delta), not a corpus copy (the l122 zero-build discipline applied to writes). Oracle = deterministic counts + literal true",
      (s, dir) => {
        val S = Similarity
        val st = graft.operators.AnnIndexStore
        val ds = graft.operators.DurableStore
        val e = Tables.load(s, dir, "embeddings")
        val base = e.where(col("vec_id") % 5 =!= 0)
        val delta = e.where(col("vec_id") % 5 === 0)
        val baseFp = ds.frameFingerprint(base, Seq("vec_id", "embedding"))
        val newFp = ds.frameFingerprint(e, Seq("vec_id", "embedding"))
        // the standing base layout: one-time training build per
        // base-corpus lifetime (a single-segment manifest)
        val baseIdx = st.durableIncBase(s, base, baseFp,
          "vec_id", "embedding")
        // write-amp snapshot BEFORE the append touches the family
        val statsBefore = Gates.manifestStats(s, st.IncFamily, baseFp)
        // the daily append: delta-only encode against the frozen
        // artifacts, one delta segment + one manifest marker
        st.durableUpdateTo(s, baseFp, newFp, delta,
          "vec_id", "embedding")
        // gate 2: the published update is itself durable — a re-serve
        // pays zero build seconds (no session-scoped state to clear:
        // every manifest read resolves marker + footers from disk)
        val before = ds.buildSeconds(st.IncFamily)
        val reloaded = st.durableUpdateTo(s, baseFp, newFp, delta,
          "vec_id", "embedding")
        val buildFree = ds.buildSeconds(st.IncFamily) == before
        // gate 3: O(delta) write — child manifest = base + 1 segment,
        // standing segment files untouched
        val odeltaOk = Gates.writeODeltaOk(s, st.IncFamily, baseFp,
          newFp, statsBefore)
        // gate 1: the RELOADED tables multiset-equal a frozen-artifact
        // rebuild over the union (per-row determinism, l82's compare:
        // Gates.mismatches — multiplicity differences fail too)
        val (lR, cR, nR) = S.assignEncode(baseIdx.centroids,
          baseIdx.codebook, e, "vec_id", "embedding",
          m = st.DefaultM)
        e.agg(count(when(col("vec_id") % 5 =!= 0, 1)).as("n_base"),
            count(when(col("vec_id") % 5 === 0, 1)).as("n_added"))
          .crossJoin(broadcast(
            reloaded.lists.agg(count(lit(1)).as("n_indexed"))))
          .crossJoin(broadcast(mismatches(reloaded.lists, lR, "__ml")))
          .crossJoin(broadcast(mismatches(reloaded.codes, cR, "__mc")))
          .crossJoin(broadcast(mismatches(reloaded.norms, nR, "__mn")))
          .select(col("n_base"), col("n_added"), col("n_indexed"),
            (col("__ml") === 0 && col("__mc") === 0 && col("__mn") === 0 &&
              col("n_indexed") === col("n_base") + col("n_added"))
              .as("update_ok"),
            lit(buildFree).as("reload_build_free_ok"),
            lit(odeltaOk).as("write_odelta_ok"))
      },
      Some("""SELECT
             |  count(CASE WHEN vec_id % 5 <> 0 THEN 1 END) AS n_base,
             |  count(CASE WHEN vec_id % 5 = 0 THEN 1 END) AS n_added,
             |  count(*) AS n_indexed,
             |  TRUE AS update_ok,
             |  TRUE AS reload_build_free_ok,
             |  TRUE AS write_odelta_ok
             |FROM embeddings""".stripMargin)),

    QuerySpec(
      "l132_lm_durable_update",
      "incremental durable maintenance of the LM family at O(delta) WRITE cost — the EXACT counterpart of l131's frozen-model approximation: count tables are additive over disjoint document sets (bigram pairs never cross document boundaries), so the lineage is a MANIFEST family whose append writes ONE segment holding only the DELTA batch's own counts and token set (the standing segments are never copied — the write-amp gate pins path+length+mtime); the merge moved to READ time — incModelOf folds the segment union with one vocab-bounded groupBy-sum and a distinct (the LSM merge-on-read trade; compaction = the retrain family's single layout) — and equals a full-corpus retrain INTEGER-FOR-INTEGER. The gate is the strongest available: the merged model serves l83's entire perplexity card (per-doc surprisal over the whole corpus, band census, top/bottom-10) against l83's own oracle, which trains on the full corpus — the hash matches only if every merged count and the merged vocab scalar are exactly the retrained ones. Plus the durability gate (re-serving the new fingerprint accrues zero build seconds) and the O(delta)-write gate. Oracle = l83's plus the literal gate columns",
      (s, dir) => {
        val st = graft.operators.NgramModelStore
        val ds = graft.operators.DurableStore
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(col("doc_id") % 5 =!= 0)
        val delta = docs.where(col("doc_id") % 5 === 0)
        val baseFp = ds.frameFingerprint(base, Seq("doc_id", "text"))
        val newFp = ds.frameFingerprint(docs, Seq("doc_id", "text"))
        // one-time base training build, then the delta-only append
        st.durableIncBase(s, base, baseFp)
        val statsBefore = Gates.manifestStats(s, st.IncFamily, baseFp)
        st.durableIncUpdateTo(s, baseFp, newFp, delta)
        // durability gate: the published update re-serves build-free
        val before = ds.buildSeconds(st.IncFamily)
        val t = st.durableIncUpdateTo(s, baseFp, newFp, delta)
        val buildFree = ds.buildSeconds(st.IncFamily) == before
        val odeltaOk = Gates.writeODeltaOk(s, st.IncFamily, baseFp,
          newFp, statsBefore)
        // serve the FULL l83 card from the merged model — the hash
        // against l83's full-corpus-trained oracle IS the
        // update == retrain equality gate, integer-exact
        val scored = NgramLm.surprisalBits(docs, "doc_id", "text",
          st.incModelOf(t), 2)
        cardOf(scored)
          .withColumn("reload_build_free_ok", lit(buildFree))
          .withColumn("write_odelta_ok", lit(odeltaOk))
      },
      gatedOracle("l83_lm_perplexity",
        Seq("reload_build_free_ok", "write_odelta_ok"))),

    QuerySpec(
      "l133_dsir_durable_update",
      "incremental durable maintenance of the DSIR family at O(delta) WRITE cost — the third additive lineage (l132's LM discipline applied to importance resampling): DSIR's trained state in mergeable form is the per-bucket class-count table (bkt, ct, cr — <= 4096 rows), additive over disjoint document sets, so the MANIFEST append hashes, counts and WRITES only the DELTA batch (one <= 4096-row segment; the standing segments untouched, write-amp-gated); the merge moved to read time (dsirIncCountsOf, one bucket-bounded groupBy-sum over the segment union) and re-deriving the importance projection (totals from the counts, add-one smoothed quantized log-ratio) equals a full-corpus retrain INTEGER-FOR-INTEGER. Gate: the merged importance table serves l94's entire resampling ledger (per-source acceptance, thresholds, selection census) against l94's own full-corpus-trained oracle — hash-exact — plus the zero-build re-serve and O(delta)-write gates. The <= 4096-row importance artifact is checkpointed before serving (the l110 boot discipline)",
      (s, dir) => {
        val st = graft.operators.MixtureModelStore
        val ds = graft.operators.DurableStore
        val D = graft.operators.Dsir
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(col("doc_id") % 5 =!= 0)
        val delta = docs.where(col("doc_id") % 5 === 0)
        val baseFp = ds.frameFingerprint(base, Seq("doc_id", "text"))
        val newFp = ds.frameFingerprint(docs, Seq("doc_id", "text"))
        st.durableDsirIncBase(s, base, baseFp)
        val statsBefore = Gates.manifestStats(s, st.DsirIncFamily, baseFp)
        st.durableDsirIncUpdateTo(s, baseFp, newFp, delta)
        val before = ds.buildSeconds(st.DsirIncFamily)
        val t = st.durableDsirIncUpdateTo(s, baseFp, newFp, delta)
        val buildFree = ds.buildSeconds(st.DsirIncFamily) == before
        val odeltaOk = Gates.writeODeltaOk(s, st.DsirIncFamily, baseFp,
          newFp, statsBefore)
        val imp = D.importanceFromCounts(st.dsirIncCountsOf(t),
            st.DsirBuckets)
          .localCheckpoint(eager = true)
        // the per-doc bucket frame is the serve INPUT (per-application
        // by the l110 contract), shared with l94/t35/l98
        val bucketed = st.sharedDsirBuckets(s, dir)
        D.dsirResampleFromTable(docs, "doc_id", "text", "source",
            bucketed, imp)
          .withColumn("reload_build_free_ok", lit(buildFree))
          .withColumn("write_odelta_ok", lit(odeltaOk))
      },
      gatedOracle("l94_dsir_select",
        Seq("reload_build_free_ok", "write_odelta_ok"))),

    QuerySpec(
      "l134_semdedup_durable_update",
      "incremental durable maintenance of the SEMANTIC family at O(delta) WRITE cost — the fourth lineage, frozen-model like l131's ANN one: the base MANIFEST segment holds one trained centroid draw with its assignment and pair tables; each append assigns ONLY the delta against the frozen centroids, verifies only delta-touching candidates (delta-vs-cohabitants, old-new and new-new; old-old pairs are the standing segments' rows — unchanged under a frozen assignment), and WRITES only the delta's assignment + verified pairs as one new segment (publish = one manifest marker naming base + delta; the standing segments byte-untouched, write-amp-gated). Component labels left the persisted parts — not additive (one new pair can merge two standing components) — and derive at read time from the merged pair graph (incLabelsOf, pair-bounded, never corpus-bounded). Gates, in-query and hash-enforced: the RELOADED assignment AND pair unions are multiset-equal (all columns + per-row multiplicity; cosines compare by value — per-row fold arithmetic on both paths) to a frozen-centroid rebuild over the union, a re-serve of the new fingerprint accrues zero build seconds, and the append wrote O(delta). Centroid drift is a periodic retrain — the semdedup family's fresh build, one conf away. Oracle = deterministic counts + literal true",
      (s, dir) => {
        val st = SemDedupStore
        val ds = graft.operators.DurableStore
        val S = Similarity
        val e = Tables.load(s, dir, "embeddings")
        val base = e.where(col("vec_id") % 5 =!= 0)
        val delta = e.where(col("vec_id") % 5 === 0)
        val baseFp = ds.frameFingerprint(base, Seq("vec_id", "embedding"))
        val newFp = ds.frameFingerprint(e, Seq("vec_id", "embedding"))
        val baseT = st.durableSemIncBase(s, base, baseFp)
        val statsBefore = Gates.manifestStats(s, st.IncFamily, baseFp)
        st.durableSemIncUpdateTo(s, baseFp, newFp, delta, e)
        val before = ds.buildSeconds(st.IncFamily)
        val t = st.durableSemIncUpdateTo(s, baseFp, newFp, delta, e)
        val buildFree = ds.buildSeconds(st.IncFamily) == before
        val odeltaOk = Gates.writeODeltaOk(s, st.IncFamily, baseFp,
          newFp, statsBefore)
        // frozen-centroid rebuild over the union — the equivalence base
        val assignR = S.semanticAssign(e, "vec_id", "embedding",
          baseT("cents"), probes = 3).localCheckpoint(eager = true)
        val pairsR = S.semanticPairsFromAssign(assignR, e, "vec_id",
          "embedding", st.Threshold)
        e.agg(count(when(col("vec_id") % 5 =!= 0, 1)).as("n_base"),
            count(when(col("vec_id") % 5 === 0, 1)).as("n_added"))
          .crossJoin(broadcast(mismatches(t("assign"), assignR, "__ma")))
          .crossJoin(broadcast(mismatches(t("pairs"), pairsR, "__mp")))
          .select(col("n_base"), col("n_added"),
            (col("__ma") === 0 && col("__mp") === 0).as("update_ok"),
            lit(buildFree).as("reload_build_free_ok"),
            lit(odeltaOk).as("write_odelta_ok"))
      },
      Some("""SELECT
             |  count(CASE WHEN vec_id % 5 <> 0 THEN 1 END) AS n_base,
             |  count(CASE WHEN vec_id % 5 = 0 THEN 1 END) AS n_added,
             |  TRUE AS update_ok,
             |  TRUE AS reload_build_free_ok,
             |  TRUE AS write_odelta_ok
             |FROM embeddings""".stripMargin)),

    QuerySpec(
      "l135_nb_durable_update",
      "incremental durable maintenance of the CLASSIFIER family at O(delta) WRITE cost — the fifth lineage, EXACT like the LM one because NB training is ONE feature-count aggregate, additive over disjoint LABELED batches: each append featurizes, counts and writes only the delta batch's own (feat, pos_c, neg_c) rows as one manifest segment; nbIncModelOf merges on read (one vocab-bounded groupBy-sum) and re-derives the totals row and smoothing vocabulary V from the merged table exactly as trainNb does, so merged == full-corpus retrain integer-for-integer. The contract boundary is stated, not hidden: additivity is about the COUNT aggregate GIVEN per-batch labels — the labeling itself is the upstream standing-dedup artifact (the l124/l125 persisted band index discovers new-vs-old pairs O(delta); a flipped label re-enters as a correction batch), here the durable nb_model family's winnow label frame, and the lineage fingerprint hashes doc_id+text+is_dup so a changed label assignment invalidates the layout. Gate, the strongest available: the merged model serves l90's ENTIRE margin card (bands, extremes, keep census, confusion census vs the dedup labels) against l90's own full-corpus-trained oracle — hash-exact — plus the zero-build re-serve and O(delta)-write gates. Oracle = l90's plus the literal gate columns",
      (s, dir) => {
        val st = graft.operators.NbModelStore
        val ds = graft.operators.DurableStore
        val d = Tables.load(s, dir, "documents")
        // the upstream label assignment: the standing dedup pass's
        // boilerplate frame (durable nb_model family — a reload on
        // warm machines, never retrained here)
        val (labeled, _) = st.sharedBoilerplateModel(s, dir)
        val lab = d.join(broadcast(labeled), Seq("doc_id"), "left")
          .select(col("doc_id"), col("text"),
            coalesce(col("is_dup"), lit(0L)).as("is_dup"))
        val base = lab.where(col("doc_id") % 5 =!= 0)
        val delta = lab.where(col("doc_id") % 5 === 0)
        val baseFp = st.labeledFp(base)
        val newFp = st.labeledFp(lab)
        st.durableNbIncBase(s, base, baseFp)
        val statsBefore = Gates.manifestStats(s, st.IncFamily, baseFp)
        st.durableNbIncUpdateTo(s, baseFp, newFp, delta)
        val before = ds.buildSeconds(st.IncFamily)
        val t = st.durableNbIncUpdateTo(s, baseFp, newFp, delta)
        val buildFree = ds.buildSeconds(st.IncFamily) == before
        val odeltaOk = Gates.writeODeltaOk(s, st.IncFamily, baseFp,
          newFp, statsBefore)
        // serve l90's FULL card from the merged counts — the hash
        // against l90's full-corpus-trained oracle IS update == retrain
        nbCardOf(NbClassifier
          .marginBits(d, "doc_id", "text", st.nbIncModelOf(t),
            NbClassifier.bigramFeats)
          .join(broadcast(labeled), Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_scored"), col("total_bits"),
            col("bpt"), coalesce(col("is_dup"), lit(0L)).as("is_dup")))
          .withColumn("reload_build_free_ok", lit(buildFree))
          .withColumn("write_odelta_ok", lit(odeltaOk))
      },
      gatedOracle("l90_nb_quality_filter",
        Seq("reload_build_free_ok", "write_odelta_ok"))),

    QuerySpec(
      "l136_doremi_durable_update",
      "incremental durable maintenance of the JOINT proxy+reference model (DoReMi/RHO's trained state) at O(delta) WRITE cost — the sixth lineage, EXACT: the joint pair-count table (prev, cur, pair_f, pair_r) is additive over disjoint document sets (pairs never cross documents; is_r is a per-row function of doc_id%7), and the vocab scalars' mergeable form is the distinct (tok, is_r) set (counts don't merge across appends, sets do — the l132 toks discipline). Each append explodes, counts and writes only the DELTA batch (one segment: its pair counts + its token set); jointIncModelOf merges on read (vocab-bounded groupBy-sum + distinct) and re-derives ctx and the vocab row exactly as trainJoint does. Gate, the strongest available: the merged model serves l95's ENTIRE DoReMi weight ledger (per-source n_docs/n_pairs/ref_bits/self_bits/excess/weight_bp — the mean-anchored clipped excess and the piecewise-linear base-2 exponential all downstream of the merged counts) against l95's own full-corpus-trained oracle — hash-exact, BIGINT end to end — plus the zero-build re-serve and O(delta)-write gates. Scale: the scoring input (pair occurrences) is per-corpus-row serve work re-derived per batch (the l109 contract); the merged count tables broadcast. Oracle = l95's plus the literal gate columns",
      (s, dir) => {
        val st = graft.operators.MixtureModelStore
        val ds = graft.operators.DurableStore
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(col("doc_id") % 5 =!= 0)
        val delta = docs.where(col("doc_id") % 5 === 0)
        val baseFp = ds.frameFingerprint(base, Seq("doc_id", "text"))
        val newFp = ds.frameFingerprint(docs, Seq("doc_id", "text"))
        st.durableJointIncBase(s, base, baseFp)
        val statsBefore = Gates.manifestStats(s, st.JointIncFamily,
          baseFp)
        st.durableJointIncUpdateTo(s, baseFp, newFp, delta)
        val before = ds.buildSeconds(st.JointIncFamily)
        val t = st.durableJointIncUpdateTo(s, baseFp, newFp, delta)
        val buildFree = ds.buildSeconds(st.JointIncFamily) == before
        val odeltaOk = Gates.writeODeltaOk(s, st.JointIncFamily,
          baseFp, newFp, statsBefore)
        // serve l95's FULL ledger from the merged counts; the scoring
        // input re-derives from the documents (per-row serve work)
        val jl = st.jointIncModelOf(t,
          graft.operators.Doremi.pairsFrame(docs, "doc_id", "text",
            "source", st.cleanSlicePred))
        graft.operators.Doremi.domainWeightsFrom(jl, docs, "source")
          .withColumn("reload_build_free_ok", lit(buildFree))
          .withColumn("write_odelta_ok", lit(odeltaOk))
      },
      gatedOracle("l95_doremi_weights",
        Seq("reload_build_free_ok", "write_odelta_ok"))),

    QuerySpec(
      "l137_lm_durable_compact",
      "COMPACTION of a manifest lineage — the maintenance face the O(delta)-write layout defers (every append adds a segment; merge-on-read pays one groupBy-sum per serve over the growing chain — the LSM trade): compactInc reads the fingerprint's segment union, applies EXACTLY the merge incModelOf performs at read time (pair counts groupBy-summed, token sets distinct'ed — serving semantics preserved by construction), writes ONE merged segment and swaps the manifest to name just it — the swap is CRASH-ATOMIC (round 15: the new chain publishes as the next marker GENERATION via one create-if-absent; readers resolve the highest complete marker, so a kill anywhere serves either the old or the new chain, never an unbuilt fingerprint — DurableStoreSpec's kill-at-every-interleaving spec) and STAMP-NEUTRAL (the original ts= publish stamp carries through verbatim, so compaction cannot promote an old generation past newer ones under retention); content is unchanged, so the fingerprint stays the fingerprint and the superseded chain segments become vacuum stale data while the BASE generation's segment survives through its own manifest. Runs its OWN chain of the lineage under a sibling family (lm_bigram_inc_c): fingerprints are content-keyed and split-agnostic, so any chain whose union is the full corpus converges on the SAME fingerprint as l132's — and l132's write-amplification gate needs its chain UNCOMPACTED; the sibling family is exactly what a second independent deployment rooted at the same warehouse would be. Gates, in-query and hash-enforced: (1) after compaction the manifest names exactly ONE fresh segment; (2) compaction accrued ZERO durable-build seconds — it is bounded maintenance I/O over vocab-sized tables (ledgered under compact_lm_bigram_inc), never a training job; (3) a family vacuum sweeps exactly the superseded chain segments as stale with zero debris, and every base-manifest segment survives; (4) the lineage's OWN loader then serves l83's ENTIRE perplexity card from the compacted layout hash-identical to a full-corpus retrain (l83's oracle — the strongest read-semantics-preserved proof available); (5) BUCKET RECOVERY, plan-probed: the compacted single-segment part re-registers CLUSTERED BY prev and the merge-on-read aggregate plans with ZERO Exchange reading the registered table — compaction recovers the exchange-free serve the multi-segment union trades away. Deterministic on re-runs: a warm run re-compacts the single compacted segment and sweeps its predecessor. Oracle = l83's plus the literal gate columns",
      (s, dir) => {
        val st = graft.operators.NgramModelStore
        val ds = graft.operators.DurableStore
        // the compaction chain's OWN family: content fingerprints are
        // split-agnostic, so this chain's full-corpus fingerprint
        // equals l132's — compacting l132's manifest would break its
        // (deliberately uncompacted) write-amplification gate
        val fam = "lm_bigram_inc_c"
        val docs = Tables.load(s, dir, "documents")
        val base = docs.where(col("doc_id") % 3 =!= 0)
        val delta = docs.where(col("doc_id") % 3 === 0)
        val baseFp = ds.frameFingerprint(base, Seq("doc_id", "text"))
        val newFp = ds.frameFingerprint(docs, Seq("doc_id", "text"))
        st.durableIncBase(s, base, baseFp, fam)
        st.durableIncUpdateTo(s, baseFp, newFp, delta, fam)
        val segsBefore = ds.manifestSegments(s, fam, newFp)
        // compaction must never train: the durable build key stays
        // frozen (its own cost ledgers under compact_lm_bigram_inc_c)
        val buildBefore = ds.buildSeconds(fam)
        st.compactInc(s, newFp, fam)
        val segsAfter = ds.manifestSegments(s, fam, newFp)
        val compactOk = segsAfter.size == 1 &&
          !segsBefore.contains(segsAfter.head)
        val trainFree = ds.buildSeconds(fam) == buildBefore
        // exactly the superseded chain segments sweep as stale; the
        // base generation's segment survives through ITS manifest
        val baseSegs = ds.manifestSegments(s, fam, baseFp).toSet
        val rep = ds.vacuum(s, fam)
        val sweptOk = rep.debris.isEmpty &&
          rep.stale.toSet == segsBefore.toSet -- baseSegs &&
          baseSegs.forall(g => ds.segmentComplete(s, fam, g))
        // serve l83's FULL card through the lineage's own loader over
        // the compacted layout (a pure reload) — the hash against
        // l83's full-corpus-trained oracle proves read semantics
        // survived the layout contraction integer-for-integer
        val t = st.durableIncUpdateTo(s, baseFp, newFp, delta, fam)
        // gate 5 (round 15 — BUCKET RECOVERY, plan-probed): compaction
        // collapsed the chain to one segment, so manifestTables
        // re-registered the bucketed pairs part CLUSTERED BY prev; the
        // merge-on-read aggregate (groupBy prev,cur — a SUPERSET of
        // the bucket key, so the bucket hash-partitioning satisfies
        // its distribution) must plan with ZERO Exchange and read the
        // registered catalog table — the exchange-free serve the
        // multi-segment union forfeits is recovered by compaction
        val mergedPairs = st.incModelOf(t).pairCounts
        val segNow = ds.manifestSegments(s, fam, newFp).head
        val bucketOk = !mergedPairs.queryExecution.executedPlan
          .toString.contains("Exchange") &&
          catalogLeaves(mergedPairs).contains(ds.registeredName(fam,
            newFp, s"${segNow}_pairs").toLowerCase)
        cardOf(NgramLm.surprisalBits(docs, "doc_id", "text",
            st.incModelOf(t), 2))
          .withColumn("compact_single_segment_ok", lit(compactOk))
          .withColumn("compact_train_free_ok", lit(trainFree))
          .withColumn("superseded_swept_ok", lit(sweptOk))
          .withColumn("compact_bucket_serve_ok", lit(bucketOk))
      },
      gatedOracle("l83_lm_perplexity",
        Seq("compact_single_segment_ok", "compact_train_free_ok",
          "superseded_swept_ok", "compact_bucket_serve_ok")))
  )
}
