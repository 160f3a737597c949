package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Dedup + similarity semantics, including the two checks the DuckDB
  * oracle cannot express: LSH recall vs the exact baselines.
  */
class DedupSimilaritySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("exactGroups: identical texts collapse to min-id keeper with count") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val got = Dedup.exactGroups(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (3L, 1L)))
  }

  test("exactGroupsNormalized: case/punctuation/whitespace variants collapse, distinct content survives") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The Quick Fox."),
      (2L, "the   quick fox"),        // case + whitespace + punct variant
      (3L, "THE QUICK FOX!!!"),       // all punct in the stripped class
      (4L, "the quick foxes"),        // genuinely different content
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Dedup.exactGroupsNormalized(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // variants 1/2/3 share keeper 1; 4 alone; null-text doc its own group
    assert(got === Set((1L, 3L), (4L, 1L), (5L, 1L)))
    // plain exact dedup would NOT collapse them — the tier is real
    // (all five raw texts are byte-distinct: five groups, not three)
    val exact = Dedup.exactGroups(docs, "doc_id", "text").count()
    assert(exact === 5L)
  }

  test("corpusDiff: added/removed/common counted over distinct digests, nulls excluded") {
    import spark.implicits._
    val oldSnap = Seq((1L, "alpha"), (2L, "beta"), (3L, "beta"),
      (4L, "gamma"), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val newSnap = Seq((10L, "beta"), (11L, "delta"), (12L, "delta"),
      (13L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = Dedup.corpusDiff(oldSnap, newSnap, "text").collect().head
    // old distinct = {alpha, beta, gamma}, new distinct = {beta, delta}
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1L, 2L, 1L)))
  }

  test("dupSpanCensus: maximal cross-doc span lengths, start counts, cap and within-doc exclusion") {
    import spark.implicits._
    val common = "w1 w2 w3 w4 w5 w6 w7 w8 w9" // 9 shared tokens
    val docs = Seq(
      (1L, s"p q r $common"),            // shares the 9-token run with 2
      (2L, s"$common s t"),
      (3L, "u v w x y z aa bb"),         // 8 unique tokens, no dups
      // a 6-gram repeated WITHIN one doc only — must not count
      (4L, "m1 m2 m3 m4 m5 m6 zz m1 m2 m3 m4 m5 m6"),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Dedup.dupSpanCensus(docs, "doc_id", "text",
        minLen = 6, maxLen = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // inside the shared 9-token run there are 4 duplicated 6-gram starts
    // (w1..w4) and the maximal shared span is the full 9 tokens; no
    // 6-gram crossing the run boundary matches (p/q/r vs s/t context)
    assert(got === Set((1L, 4L, 9L), (2L, 4L, 9L)))
    // cap: with maxLen = 7 the same corpus reports max_span 7
    val capped = Dedup.dupSpanCensus(docs, "doc_id", "text",
        minLen = 6, maxLen = 7)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(capped === Set((1L, 7L), (2L, 7L)))
    // degenerate maxLen == minLen takes the no-extension branch
    val flat = Dedup.dupSpanCensus(docs, "doc_id", "text",
        minLen = 6, maxLen = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(flat === Set((1L, 4L, 6L), (2L, 4L, 6L)))
  }

  test("dupSourceMatrix: per-pair shared-digest counts, multiplicity collapsed, half-matrix only") {
    import spark.implicits._
    val docs = Seq(
      // "x" in A (twice — multiplicity must NOT inflate the count), B, C
      ("A", "x"), ("A", "x"), ("B", "x"), ("C", "x"),
      // "y" in A and B only
      ("A", "y"), ("B", "y"),
      // "z" only in C; null never pairs
      ("C", "z"), ("B", null.asInstanceOf[String]))
      .toDF("source", "text")
    val m = Dedup.dupSourceMatrix(docs, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(m === Map(("A", "B") -> 2L, ("A", "C") -> 1L, ("B", "C") -> 1L))
    // strictly upper-triangular: no self-pairs, no mirrored duplicates
    assert(m.keys.forall { case (a, b) => a < b })
  }

  test("jaccardPairs finds a planted near-dup and scores it exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy cat tonight"),
      (3L, "completely different words appear in this one here now"))
      .toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L)))
  }

  test("minhashLshPairs == exact jaccardPairs on the fixture corpus (recall check)") {
    val docs = Tables.load(spark, sf, "documents")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must contain planted near-dups")
    assert(lsh === exact) // zero misses expected at this threshold/banding
  }

  test("simhashPairs recalls most planted near-dups, no wild false positives") {
    val docs = Tables.load(spark, sf, "documents")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, "doc_id", "text")
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty)
    // SimHash is a 64-bit sketch: weaker than MinHash — expect substantial
    // but not perfect overlap with the exact pairs.
    val recall = (sim intersect exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall too low")
    val precision = (sim intersect exact).size.toDouble / sim.size
    assert(precision >= 0.5, s"precision $precision too low")
  }

  test("dupPassages: planted shared passage surfaces with its doc count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta unique one"),
      (2L, "prefix words alpha beta gamma delta epsilon zeta suffix"),
      (3L, "totally different content with no shared runs at all here")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.dupPassages(docs, "text", k = 6)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // the one 6-token run docs 1 and 2 share
    assert(got.toSeq === Seq(("alpha beta gamma delta epsilon zeta", 2L)))
  }

  test("components: transitive pairs collapse to min-id clusters") {
    import spark.implicits._
    // chain 1-2, 2-3 (one cluster), isolated pair 7-9
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (7L, 9L, 0.8))
      .toDF("a_id", "b_id", "jaccard")
    val got = Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("property: coarsenedComponents == components on random superset graphs") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Random edge list over a small node universe; a random subset of it
    // plays the "refined" subgraph (the l61/l62 shape: sem ⊆ exact).
    val edge = for {
      a <- Gen.choose(0L, 11L); b <- Gen.choose(0L, 11L) if a != b
    } yield (math.min(a, b), math.max(a, b))
    val graph = for {
      full <- Gen.listOfN(14, edge).map(_.distinct)
      keep <- Gen.listOfN(14, Gen.oneOf(true, false))
    } yield (full, full.zip(keep).collect { case (e, true) => e })
    val prop = Prop.forAll(graph) { case (full, sub) =>
      full.isEmpty || {
        val fullDf = full.toDF("a_id", "b_id")
        val subDf =
          if (sub.isEmpty) Seq.empty[(Long, Long)].toDF("a_id", "b_id")
          else sub.toDF("a_id", "b_id")
        val direct = Dedup.components(fullDf)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val viaSub = Dedup.coarsenedComponents(
            Dedup.components(subDf), fullDf)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        viaSub == direct
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: updateComponents == full recompute on random " +
      "base+batch graphs; untouched clusters keep labels identically") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // base edges over old nodes 0..11; batch edges over 0..15 so they
    // can hit old nodes, brand-new nodes (12..15), or bridge the two —
    // including new edges strictly INSIDE an old cluster (no-ops) and
    // the empty batch
    def edgeGen(lo: Long, hi: Long) = for {
      a <- Gen.choose(lo, hi); b <- Gen.choose(lo, hi) if a != b
    } yield (math.min(a, b), math.max(a, b))
    val graphs = for {
      base <- Gen.listOfN(12, edgeGen(0L, 11L)).map(_.distinct)
        if base.nonEmpty
      batch <- Gen.choose(0, 8).flatMap(n =>
        Gen.listOfN(n, edgeGen(0L, 15L)).map(_.distinct))
    } yield (base, batch)
    val prop = Prop.forAll(graphs) { case (base, batch) =>
      val baseDf = base.toDF("a_id", "b_id")
      val batchDf =
        if (batch.isEmpty) Seq.empty[(Long, Long)].toDF("a_id", "b_id")
        else batch.toDF("a_id", "b_id")
      val standing = Dedup.components(baseDf)
        .localCheckpoint(eager = true)
      val standingMap = standing.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val updated = Dedup.updateComponents(standing, batchDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val direct = Dedup.components(baseDf.unionByName(batchDf))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val equal = updated == direct
      // the structural guarantee: clusters with no batch-incident
      // member keep every member's label byte-identical
      val touched = batch.flatMap { case (a, b) => Seq(a, b) }
        .flatMap(n => standingMap.get(n)).toSet
      val untouchedOk = standingMap.forall { case (n, l) =>
        touched.contains(l) || updated(n) == l
      }
      equal && untouchedOk
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("lshTopK recall vs bruteForceTopK on fixture embeddings") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.where(col("vec_id") % 25 === 0)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(spark, queries, emb, "vec_id", "embedding", 10,
      bits = 4, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    // 4 tables x 4-bit buckets -> ~tables/2^bits = 25% of the corpus scored
    // per query; recall is the tunable dial (more tables -> higher recall).
    // Assert it clearly beats the scored fraction (random would be ~25%).
    assert(recall >= 0.3, s"recall $recall not better than chance")
  }

  test("ivfTopK recall vs bruteForceTopK on fixture embeddings") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.where(col("vec_id") % 25 === 0)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(spark, queries, emb, "vec_id", "embedding", 10,
      nCentroids = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    // 4 of 16 lists probed -> ~25% of the corpus scored; near-random
    // embeddings make this a hard instance, so assert clearly-above-chance.
    assert(recall >= 0.3, s"recall $recall not better than chance")
  }

  test("ivfTopK with Lloyd-trained centroids keeps the recall floor") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.where(col("vec_id") % 25 === 0)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val trained = Similarity.ivfTopK(spark, queries, emb, "vec_id", "embedding", 10,
      nCentroids = 16, nProbe = 4, trainIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trained.nonEmpty)
    val recall = (trained intersect exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"trained recall $recall below floor")
  }

  test("persisted ANN index: serve path retrains nothing and keeps the fidelity gate") {
    import java.nio.file.Files
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.where(col("vec_id") % 25 === 0)
    val out = Files.createTempDirectory("ann_idx_spec").toString
    val pfx = "ann_idx_spec_" + System.nanoTime()
    val parts = Seq("cent", "lists", "codebook", "codes", "norms")
    try {
      val idx = Similarity.buildAnnIndex(emb, "vec_id", "embedding",
        nCentroids = 8, trainIters = 0, m = 16, nCodes = 64, pqTrainIters = 1)
      Seq(idx.centroids -> "cent", idx.lists -> "lists",
        idx.codebook -> "codebook", idx.codes -> "codes",
        idx.norms -> "norms").foreach { case (df, p) =>
        df.write.mode("overwrite").option("path", s"$out/$p")
          .saveAsTable(s"${pfx}_$p")
      }
      val cand = Similarity.indexCandidates(q, "vec_id", "embedding",
        spark.table(s"${pfx}_cent"), spark.table(s"${pfx}_lists"), nProbe = 6)
      val pq = Similarity.pqTopKFromIndex(q, emb, "vec_id", "embedding", 10,
        m = 16, codebook = spark.table(s"${pfx}_codebook"),
        codes = spark.table(s"${pfx}_codes"),
        norms = spark.table(s"${pfx}_norms"),
        candidates = cand, rerank = 8)
      // plan probe: the serve path must contain ZERO training machinery.
      // Lloyd rounds explode per-centroid vectors; the serve path's only
      // generators explode the bounded top-k's `__top` arrays — so every
      // Generate in both optimized plans must read `__top` and nothing
      // else, whatever alias a training explode would carry
      val gens = Seq(pq, cand).flatMap(_.queryExecution.optimizedPlan
        .collectWithSubqueries {
          case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
        })
      assert(gens.nonEmpty, "no top-k explode in the serve plan — the " +
        "probe is vacuous")
      val leaked = gens.filterNot(g => g.generator.references.nonEmpty &&
        g.generator.references.forall(_.name == "__top"))
      assert(leaked.isEmpty, "training machinery leaked into the serve " +
        s"path: ${leaked.map(_.generator.sql).mkString(", ")}")
      assert(cand.queryExecution.optimizedPlan.toString.contains(s"${pfx}_lists"),
        "candidates do not read the persisted inverted lists")
      // fidelity gate, the l57 contract: PQ top-10 vs the full-precision
      // ranking of the SAME persisted candidates, >= 90% agreement
      val exact = Similarity.ivfTopK(spark, q, emb, "vec_id", "embedding",
          10, candidatesOpt = Some(cand))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val served = pq.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val agree = (served intersect exact).size.toDouble / exact.size
      assert(agree >= 0.9, s"persisted-index agreement $agree below gate")
    } finally {
      parts.foreach(p => spark.sql(s"DROP TABLE IF EXISTS ${pfx}_$p"))
      graft.pipeline.SinkFiles.deleteRecursive(out)
    }
  }

  test("topKPerQuery contract: a string or double c_id fails at " +
      "plan-build time, before any job runs") {
    import spark.implicits._
    val emb = Seq(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f))
    val corpora = Seq(Seq("a", "b", "c").zip(emb).toDF("id", "emb"),
      Seq(1.0, 2.0, 3.0).zip(emb).toDF("id", "emb"))
    assert(jobsStarted {
      corpora.foreach { c =>
        val ex = intercept[IllegalArgumentException](
          Similarity.bruteForceTopK(c, c, "id", "emb", 1))
        assert(ex.getMessage.contains("c_id must be an integral id"),
          ex.getMessage)
      }
    } === 0, "a job ran while building the refused plan")
  }

  test("asof join: NULL-key left rows match nothing (equi-join semantics)") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, Option(10L), ts("2024-01-01 05:00:00")),
      (2L, Option.empty[Long], ts("2024-01-01 05:00:00")))
      .toDF("id", "k", "t")
    val right = Seq(
      (Option(10L), ts("2024-01-01 01:00:00"), "hit10"),
      (Option.empty[Long], ts("2024-01-01 01:00:00"), "hitNull"))
      .toDF("k", "t", "payload")
    val got = graft.operators.AsOfJoin.backward(left, right,
      "k", "k", "t", "t", Seq("payload"), "payload")
      .orderBy("id").collect()
    assert(got(0).getString(3) === "hit10")
    assert(got(1).isNullAt(3), "NULL-key row must not inherit the NULL-key right payload")
  }

  test("containmentPairs property: a doc prefixed into any longer doc scores C=1.0") {
    import spark.implicits._
    // every (short, long=short+suffix) pair must land with containment
    // exactly 1.0 in the short->long direction, for several suffix sizes
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val suffixes = Seq("one two three", "ix x xi xii xiii xiv xv xvi xvii",
      "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 a13 a14 a15")
    val docs = (Seq((0L, base)) ++ suffixes.zipWithIndex.map {
      case (suf, i) => ((i + 1).toLong, s"$base $suf")
    }).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 0 -> each extension at exactly 1.0 (its shingles are a subset)
    suffixes.indices.foreach { i =>
      assert(got.contains((0L, (i + 1).toLong, 1.0)),
        s"missing containment 0 -> ${i + 1} in ${got.toSeq}")
    }
    // no reverse direction at this threshold: the long docs have
    // strictly more shingles than the short one contains
    assert(!got.exists(p => p._1 != 0L && p._2 == 0L))
  }

  test("dedupReport: census counts and byte savings are exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaa", 3L), (2L, "aaa", 3L), (3L, "aaa", 3L), // cluster of 3
      (4L, "bb", 2L), (5L, "bb", 2L),                    // cluster of 2
      (6L, "c", 1L))                                     // singleton
      .toDF("doc_id", "text", "n_chars")
    val r = Dedup.dedupReport(docs, "text", "n_chars").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((6L, 3L, 3L, 2L * 3 + 1L * 2, 3L)))
  }

  test("containmentPairs: short doc quoted in a long one is caught, Jaccard is not fooled") {
    import spark.implicits._
    val short_ = "alpha beta gamma delta epsilon"
    val long_ = short_ + " zeta eta theta iota kappa lambda mu nu xi " +
      "omicron pi rho sigma tau upsilon"
    val docs = Seq((1L, short_), (2L, long_),
      (3L, "totally unrelated words in this document here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every 3-shingle of doc 1 appears in doc 2 -> C(1->2) = 1.0;
    // the reverse direction and doc 3 stay below threshold
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
    // sanity: symmetric Jaccard misses this pair at the same threshold
    assert(Dedup.jaccardPairs(docs, "doc_id", "text", 0.8).count() === 0)
  }

  test("containmentPairsCapped: exact values when a rare shingle survives; hot-only overlap is the one miss class") {
    import spark.implicits._
    val short_ = "alpha beta gamma delta epsilon"
    val long_ = short_ + " zeta eta theta iota kappa lambda mu nu xi"
    // 1 quoted in 2 (shares rare shingles); docs 10..29 all repeat the
    // SAME boilerplate sentence -> its shingles have df=20 > cap=8 and
    // are pruned from candidate generation
    val boiler = "all rights reserved contact us for details today"
    val docs = (Seq((1L, short_), (2L, long_)) ++
      (10L until 30L).map(i => (i, boiler))).toDF("doc_id", "text")
    val got = Dedup.containmentPairsCapped(docs, "doc_id", "text", 0.8,
        dfCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the rare-shingle pair is found with its EXACT containment (1.0,
    // verified over full sets); the 20x19 boilerplate pairs are the
    // deliberate miss class (their entire overlap is hot shingles)
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
    // the exact twin finds all 380 directional boilerplate pairs too
    assert(Dedup.containmentPairs(docs, "doc_id", "text", 0.8).count()
      === 381L)
  }

  test("pqTopK with rerank recovers exact neighbors on clustered vectors") {
    import spark.implicits._
    // two tight clusters in 8-dim space (m=4 -> 2-dim sub-blocks); a
    // query from cluster A must rank A-members above every B-member
    def vec(base: Float, i: Int): Array[Float] =
      Array.tabulate(8)(d => base + 0.01f * ((i + d) % 3))
    val rows = (0 until 10).map(i => (i.toLong, vec(1.0f, i))) ++
      (10 until 20).map(i => (i.toLong, vec(-1.0f, i)))
    val df = rows.toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") === 0L)
    val got = graft.operators.Similarity.pqTopK(spark, q, df, "vec_id",
        "embedding", 5, m = 4, nCodes = 8, trainIters = 2,
        nCentroids = 4, nProbe = 4, rerank = 3)
      .collect().map(_.getLong(1))
    assert(got.length === 5)
    assert(got.forall(_ < 10L),
      s"cluster-A query must get cluster-A neighbors, got ${got.toSeq}")
    // with rerank the returned ordering is full-precision cosine on the
    // short list — identical to the exact twin's top-5 on this fixture
    val exact = graft.operators.Similarity.bruteForceTopK(q, df, "vec_id",
        "embedding", 5).collect().map(_.getLong(1))
    assert(got.toSeq === exact.toSeq)
  }

  test("incrementalDedup: cross-corpus and within-batch duplicates both counted") {
    import spark.implicits._
    val corpus = Seq((1L, "known text one"), (2L, "known text two"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "known text one"),   // dup vs corpus
      (11L, "fresh text"),       // kept
      (12L, "fresh text"),       // within-batch dup of 11
      (13L, "another fresh one") // kept
    ).toDF("doc_id", "text")
    val r = Dedup.incrementalDedup(batch, corpus, "doc_id", "text")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((4L, 1L, 1L, 2L)))
  }

  test("incrementalNearDupPairs: cross pairs only, within-side dups excluded") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, base),                          // near-dup target of batch 10
      (2L, base + " extra"),               // corpus-corpus near-dup of 1
      (3L, "totally different words here entirely novel phrasing now")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " mu"),                 // near-dups corpus 1 and 2
      (11L, base + " mu nu"),              // within-batch near-dup of 10
      (12L, "unrelated batch document with its own fresh content only")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDupPairs(batch, corpus, "doc_id",
        "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only batch-x-corpus pairs may appear: (10,1) (10,2) (11,1) (11,2)
    assert(got === Set((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L)))
    // exact twin agreement: same pairs as a cross-filtered jaccardPairs
    val all = Dedup.jaccardPairs(corpus.union(batch), "doc_id", "text", 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .collect { case (a, b) if a < 10 && b >= 10 => (b, a) }
      .toSet
    assert(got === all)
  }

  test("incrementalNearDupWithIndex: persisted index run equals direct run") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq((1L, base), (2L, base + " extra"),
      (3L, "totally different words here entirely novel phrasing now"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, base + " mu"),
      (12L, "unrelated batch document with its own fresh content only"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_").toString
    Dedup.nearDupBandIndex(corpus, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/idx")
    val viaIndex = Dedup.incrementalNearDupWithIndex(batch, corpus,
        spark.read.parquet(s"$dir/idx"), "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = Dedup.incrementalNearDupPairs(batch, corpus, "doc_id",
        "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIndex === direct)
    assert(viaIndex.map(t => (t._1, t._2)) === Set((10L, 1L), (10L, 2L)))
    graft.pipeline.SinkFiles.deleteRecursive(dir)
  }

  test("incrementalDedup: NULL-text docs are kept, not counted as dups") {
    import spark.implicits._
    val corpus = Seq((1L, "known text one")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, null.asInstanceOf[String]), // null text: never a duplicate
      (11L, null.asInstanceOf[String]),
      (12L, "fresh text"),
      (13L, "fresh text")               // within-batch dup of 12
    ).toDF("doc_id", "text")
    val r = Dedup.incrementalDedup(batch, corpus, "doc_id", "text")
      .collect()(0)
    // n_new=4, none match the corpus, one within-batch dup, both null
    // rows individually kept: n_kept = 1 distinct digest + 2 nulls = 3
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((4L, 0L, 1L, 3L)))
  }

  test("incrementalNearDupWithIndex rejects an index built with other params") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val idx = Dedup.nearDupBandIndex(docs, "doc_id", "text",
      numPerms = 128, bands = 16)
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupWithIndex(docs, docs, idx, "doc_id", "text",
        0.5) // defaults (192, 32) drifted from the index's (128, 16)
    }
    assert(e.getMessage.contains("graft.numPerms"))
  }

  test("semanticDedupPairs: subset of exact pairs, planted near-dup found") {
    import spark.implicits._
    // two well-separated clusters + one planted near-identical pair
    val df = ((0L until 12L).map { i =>
      val base = if (i < 6) 1.0f else -1.0f
      (i, Array.tabulate(8)(d => base * (1.0f + 0.01f * (i + d))))
    } :+ (100L, Array.tabulate(8)(d => 1.0f + 0.01f * d)))
      .toDF("vec_id", "embedding")
    val sem = graft.operators.Similarity.semanticDedupPairs(df, "vec_id",
        "embedding", 0.99, nClusters = 2, trainIters = 1, probes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = df.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val b = df.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    val exact = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.functions.VectorFunctions.cosineSim(col("ea"), col("eb"))
          .as("cos"))
      .where(col("cos") >= 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(exact), "cluster-bounded pairs must be exact-verified")
    assert(sem.contains((0L, 100L)),
      "vector 100 is a near-copy of vector 0 in the same cluster")
    assert(sem.forall { case (x, y) => (x < 6 || x == 100L) == (y < 6 || y == 100L) },
      "no cross-cluster pair can pass cos >= 0.99 on this fixture")
  }

  test("pqTopK fails loudly when the dimension is not a multiple of m") {
    import spark.implicits._
    val df = (0L until 8L).map(i =>
        (i, Array.fill(8)(i.toFloat / 8))) // dim 8 < m 16
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      graft.operators.Similarity.pqTopK(spark, df.limit(1), df, "vec_id",
        "embedding", 3, m = 16, nCodes = 4, trainIters = 0,
        nCentroids = 2, nProbe = 2).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("multiple of m"), msgs)
  }

  test("scrubHotPassages: shared 6-token window removed, unique doc untouched") {
    import spark.implicits._
    val boiler = "all rights reserved terms of use"   // 6 tokens
    val docs = Seq(
      (1L, s"first body text here $boiler"),
      (2L, s"$boiler second unique body follows now"),
      (3L, "an untouched document with no shared windows at all"),
      (4L, boiler)                                    // wall-to-wall
    ).toDF("doc_id", "text")
    val got = Dedup.scrubHotPassages(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2)))).toMap
    assert(got(1L) === (("first body text here", 6)))
    assert(got(2L) === (("second unique body follows now", 6)))
    assert(got(3L) === (("an untouched document with no shared windows at all", 0)))
    assert(got(4L) === (("", 6)))
  }

  test("property: capped containment is a subset of exact; equal when the cap cannot prune") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Tiny vocabulary forces heavy shingle sharing, so the df cap
    // genuinely prunes candidates on most generated corpora.
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.choose(3, 9).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.listOfN(8, doc)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prop = Prop.forAll(corpus) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val exact = pairSet(Dedup.containmentPairs(docs, "doc_id", "text", 0.6))
      val small = pairSet(
        Dedup.containmentPairsCapped(docs, "doc_id", "text", 0.6, dfCap = 2))
      val big = pairSet(
        Dedup.containmentPairsCapped(docs, "doc_id", "text", 0.6, dfCap = 100))
      // emitted pairs carry TRUE containment (exact-verify), so a capped
      // result is a strict subset — same values, possibly fewer pairs —
      // and an unprunable cap reproduces the exact twin bit-for-bit
      small.subsetOf(exact) && big == exact
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: dupSpanCensus equals a brute-force every-k reference") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // 3-token vocabulary forces genuine cross-doc gram collisions at
    // k=3 so the census is usually non-empty.
    val (minLen, maxLen, minDocs) = (3, 6, 2)
    val word = Gen.oneOf("a", "b", "c")
    val doc = Gen.choose(2, 14).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.choose(2, 7).flatMap(Gen.listOfN(_, doc))
    val prop = Prop.forAll(corpus) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.dupSpanCensus(docs, "doc_id", "text",
          minLen, maxLen, minDocs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      // brute force: every (doc, pos, k) gram, df over distinct docs
      val toks = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.trim.split(" ").toSeq
      }
      val grams = for {
        (id, t) <- toks
        k <- minLen to maxLen
        i <- 0 to t.length - k
      } yield (id, i, k, t.slice(i, i + k).mkString(" "))
      val docsOf = grams.groupBy { case (_, _, k, g) => (k, g) }
        .view.mapValues(_.map(_._1).toSet).toMap
      val dup = grams.filter { case (_, _, k, g) =>
        docsOf((k, g)).size >= minDocs
      }
      val want = dup.groupBy(_._1).map { case (id, xs) =>
        (id, xs.map(_._2).toSet.size.toLong, xs.map(_._3).max.toLong)
      }.toSet
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: ANN index update equals a frozen-artifact rebuild over the union") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val vec = Gen.listOfN(8, Gen.choose(-5, 5)).map(_.map(_.toFloat).toArray)
    val corpus = Gen.choose(12, 28).flatMap(Gen.listOfN(_, vec))
    val prop = Prop.forAll(corpus) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val base = df.where(col("vec_id") % 3 =!= 0)
      val batch = df.where(col("vec_id") % 3 === 0)
      val idx = Similarity.buildAnnIndex(base, "vec_id", "embedding",
        nCentroids = 3, trainIters = 0, m = 4, nCodes = 4, pqTrainIters = 1)
      val frozen = Similarity.AnnIndex(
        idx.centroids.localCheckpoint(eager = true),
        idx.lists.localCheckpoint(eager = true),
        idx.codebook.localCheckpoint(eager = true),
        idx.codes.localCheckpoint(eager = true),
        idx.norms.localCheckpoint(eager = true))
      val up = Similarity.updateAnnIndex(frozen, batch,
        "vec_id", "embedding", m = 4)
      val (lR, cR, nR) = Similarity.assignEncode(frozen.centroids,
        frozen.codebook, df, "vec_id", "embedding", m = 4)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(_.toSeq.toList).toSet
      rows(up.lists) == rows(lR) && rows(up.codes) == rows(cR) &&
        rows(up.norms) == rows(nR) && up.lists.count() == vs.length
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: normalized dedup refines exact dedup — never more groups, same total mass") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Generator mixes case, punctuation and whitespace noise around a
    // tiny word pool, so normalized collisions actually occur.
    val word = Gen.oneOf("cat", "Cat", "dog", "dog.", "fox,", "FOX")
    val doc = Gen.choose(1, 5).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.listOfN(10, doc)
    val prop = Prop.forAll(corpus) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def stats(df: org.apache.spark.sql.DataFrame) = {
        val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        (rows.length, rows.map(_._2).sum)
      }
      val (gExact, mExact) = stats(Dedup.exactGroups(docs, "doc_id", "text"))
      val (gNorm, mNorm) =
        stats(Dedup.exactGroupsNormalized(docs, "doc_id", "text"))
      // normalization only merges groups: fewer-or-equal groups, every
      // document still accounted for exactly once
      gNorm <= gExact && mNorm == mExact && mExact == texts.length
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: corpus diff counts partition each side's distinct digests") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Small text pool so the two snapshots genuinely share digests and
    // each side carries internal duplicates (diff counts DISTINCT text).
    val text = Gen.oneOf((1 to 8).map(i => s"document body $i"))
    val side = Gen.choose(0, 12).flatMap(Gen.listOfN(_, text))
    val prop = Prop.forAll(side, side) { (a, b) =>
      val da = a.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val db = b.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val r = graft.operators.Dedup.corpusDiff(da, db, "text").head()
      val (added, removed, common) =
        (r.getLong(0), r.getLong(1), r.getLong(2))
      // added/removed/common partition the union of distinct digests:
      // common + added = |B|, common + removed = |A|, all non-negative
      common + added == b.distinct.length.toLong &&
        common + removed == a.distinct.length.toLong &&
        common == (a.toSet & b.toSet).size.toLong &&
        added >= 0 && removed >= 0 && common >= 0
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("centroidOutliers: planted far vector ranks first, score exact") {
    import spark.implicits._
    // group 0: three vectors near (1, 0) and one at (-1, 0) — the outlier
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(0.9f, 0.1f)),
      (3L, 0, Array(1.0f, 0.1f)),
      (4L, 0, Array(-1.0f, 0.0f)),
      (5L, 1, Array(0.5f, 0.5f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidOutliers(vecs, "vec_id", "embedding",
      "label", scale = 10, k = 2).collect()
    assert(got.head.getLong(0) === 4L)
    // hand-check the integer score for vec 4, group 0 (n=4); note
    // 0.9f widens to 0.89999997... so floor(10x) = 8, not 9:
    // q = floor(10x): dims (10,8,10,-10 | 0,1,1,0); S=(18, 2)
    // term_d = (n*q - S)^2 = (4*-10-18)^2 + (4*0-2)^2 = 58^2 + 4
    assert(got.head.getLong(2) === 58L * 58L + 4L)
    // singleton-free group 1 must not appear above group 0's spread
    assert(got.map(_.getLong(0)).toSet.subsetOf(Set(1L, 2L, 3L, 4L)))
  }

  test("knnClassify: clustered fixture labels predict correctly, ties deterministic") {
    import spark.implicits._
    // two tight clusters; k=2 so each vector's neighbors are its own
    // cluster mates -> every prediction matches the true label
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.0f)), (2L, 0, Array(0.99f, 0.05f)),
      (3L, 0, Array(0.98f, -0.05f)),
      (4L, 1, Array(0.0f, 1.0f)), (5L, 1, Array(0.05f, 0.99f)),
      (6L, 1, Array(-0.05f, 0.98f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.knnClassify(vecs, "vec_id", "embedding", "label",
        k = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(got.length === 6)
    assert(got.forall { case (_, t, p, c) => t === p && c === 1L })
  }

  test("winnowing: planted 8-token run pairs its docs, disjoint doc stays out, short-doc tiers") {
    import spark.implicits._
    val shared = "q w e r t y u i" // 8 tokens = w + k - 1
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta"),
      (2L, s"one two $shared three four five"),
      (3L, "completely different words here entirely now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text",
        k = 4, w = 5, minShared = 1, dfCap = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // fewer grams than the window -> ONE fingerprint (min of what
    // exists); under k tokens -> empty set
    val tiers = Dedup.winnowFingerprintSets(
        Seq((9L, "a b c d e"), (10L, "a b")).toDF("doc_id", "text"),
        "doc_id", "text", k = 4, w = 5)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(tiers(9L).size === 1)
    assert(tiers(10L).isEmpty)
  }

  test("property: winnowing guarantee — a shared w+k-1 run always shares a fingerprint; sets equal a plain-Scala reference") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val k = 4
    val w = 5
    // the RollingHash fold, reimplemented independently
    def rollHash(s: String): Long = {
      var acc = 0L; var first = true; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i); i += Character.charCount(cp)
        if (first) { acc = cp.toLong; first = false }
        else acc = (acc * 31L + cp) % 1000000007L
      }
      acc
    }
    def refFps(toks: Seq[String]): Set[Long] = {
      val gh = toks.sliding(k).filter(_.size == k)
        .map(g => rollHash(g.mkString(" "))).toIndexedSeq
      if (gh.isEmpty) Set.empty
      else if (gh.size < w) Set(gh.min)
      else gh.sliding(w).map(_.min).toSet
    }
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val run = Gen.listOfN(w + k - 1, word)
    val pad = Gen.choose(0, 6).flatMap(Gen.listOfN(_, word))
    val cps = for { r <- run; p1 <- pad; p2 <- pad; p3 <- pad; p4 <- pad }
      yield ((p1 ++ r ++ p2).mkString(" "), (p3 ++ r ++ p4).mkString(" "))
    val prop = Prop.forAll(cps) { case (ta, tb) =>
      import spark.implicits._
      val docs = Seq((1L, ta), (2L, tb)).toDF("doc_id", "text")
      val got = Dedup.winnowFingerprintSets(docs, "doc_id", "text", k, w)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val ra = refFps(ta.trim.split(" ", -1).toSeq)
      val rb = refFps(tb.trim.split(" ", -1).toSeq)
      got(1L) == ra && got(2L) == rb && (ra intersect rb).nonEmpty
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("prototypePrune: exact per-cluster quota, pruned are the most prototypical, bp edges") {
    import spark.implicits._
    // 40 unit vectors fanned around the circle — whatever clustering the
    // seeding lands on, the QUOTA and ORDER contracts must hold within
    // every produced cluster.
    val vecs = (1 to 40).map { i =>
      val a = i * 0.157
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "embedding")
    val got = Similarity.prototypePrune(vecs, "vec_id", "embedding",
        pruneBp = 2500L, nClusters = 3, trainIters = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(got.length === 40)
    got.groupBy(_._2).foreach { case (_, rows) =>
      val quota = rows.length * 2500 / 10000
      val pruned = rows.filter(_._4)
      assert(pruned.length === quota)
      // pruned == the quota-prefix of the (cos desc, id asc) order
      val expect = rows.sortBy(r => (-r._3, r._1)).take(quota)
        .map(_._1).toSet
      assert(pruned.map(_._1).toSet === expect)
    }
    // bp edges: 0 prunes nothing, 10000 prunes everything
    val none = Similarity.prototypePrune(vecs, "vec_id", "embedding",
      pruneBp = 0L, nClusters = 3, trainIters = 0)
    assert(none.where(col("pruned")).count() === 0L)
    val all = Similarity.prototypePrune(vecs, "vec_id", "embedding",
      pruneBp = 10000L, nClusters = 3, trainIters = 0)
    assert(all.where(!col("pruned")).count() === 0L)
  }

  test("scrubDupKeepOne keeps exactly the canonical copy where " +
      "scrubHotPassages removes every occurrence") {
    import spark.implicits._
    val shared = "one two three four five six"
    val docs = Seq(
      (1L, s"$shared tail1"),
      (2L, s"head2 $shared"),
      (3L, "totally unrelated words here seven eight"))
      .toDF("doc_id", "text")
    val keepOne = Dedup.scrubDupKeepOne(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1),
        r.getInt(2)))).toMap
    // canonical = (doc 1, position 0): doc 1 keeps the passage
    assert(keepOne(1L) === ((s"$shared tail1", 0)))
    // doc 2's occurrence is non-canonical: its cover drops
    assert(keepOne(2L) === (("head2", 6)))
    assert(keepOne(3L)._2 === 0)
    // the all-occurrences scrub removes BOTH copies — the tiers differ
    val all = Dedup.scrubHotPassages(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(all(1L) === "tail1" && all(2L) === "head2")
  }

  test("property: scrubDupKeepOne equals a plain-Scala canonical-" +
      "cover reference on arbitrary corpora") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val k = 3
    val word = Gen.oneOf("a", "b", "c")
    val doc = Gen.choose(1, 14).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.choose(2, 6).flatMap(Gen.listOfN(_, doc))
    val prop = Prop.forAll(corpus) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.scrubDupKeepOne(docs, "doc_id", "text", k)
        .collect().map(r => r.getLong(0) -> ((r.getString(1),
          r.getInt(2)))).toMap
      val toks = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.trim.split(" ").toSeq }
      val occ = for {
        (d, t) <- toks; i <- 0 to t.length - k
      } yield (t.slice(i, i + k).mkString(" "), d, i)
      val hot = occ.groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2)
        .keySet
      val nonCanon = occ.filter(o => hot(o._1))
        .groupBy(_._1).values.flatMap { os =>
          os.sortBy(o => (o._2, o._3)).drop(1) }
      val covered = nonCanon
        .flatMap { case (_, d, i) => (i until i + k).map(d -> _) }.toSet
      val want = toks.map { case (d, t) =>
        val kept = t.zipWithIndex.collect {
          case (tok, j) if !covered(d -> j) => tok }
        d -> ((kept.mkString(" "), t.length - kept.length))
      }.toMap
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("scrubSpansKeepOne: clamping the spans to k reproduces " +
      "scrubDupKeepOne exactly (the gram-granularity degenerate case)") {
    val docs = Tables.load(spark, sf, "documents")
    val spans = Dedup.maximalDupSpans(docs, "doc_id", "text",
      minLen = 6, minDocs = 2)
    // maximal spans clamped to exactly k: every duplicated start with
    // its first k-gram — the occurrence set scrubDupKeepOne ranks
    val clamped = spans.select(col("doc_id"), col("i"),
      lit(6L).as("span"))
    val bySpans = Dedup.scrubSpansKeepOne(docs, "doc_id", "text", clamped)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSet
    val byGrams = Dedup.scrubDupKeepOne(docs, "doc_id", "text", 6, 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSet
    assert(bySpans === byGrams,
      "clamped span scrub diverged from the gram scrub")
  }

  test("scrubSpansKeepOne: one long shared passage is ONE keep-one " +
      "decision — the canonical document keeps the whole run, the " +
      "others lose their full cover") {
    import spark.implicits._
    // a 10-token run shared by three docs; at gram granularity this is
    // five 6-gram decisions, at span granularity exactly one
    val run = "a b c d e f g h i j"
    val docs = Seq(
      (1L, s"$run tail1 one"),
      (2L, s"head2 $run"),
      (3L, s"pre post $run"),
      (4L, "unrelated filler words entirely distinct here"))
      .toDF("doc_id", "text")
    val spans = Dedup.maximalDupSpans(docs, "doc_id", "text",
      minLen = 6, minDocs = 2)
    val got = Dedup.scrubSpansKeepOne(docs, "doc_id", "text", spans)
      .collect().map(r => r.getLong(0) -> ((r.getString(1),
        r.getInt(2)))).toMap
    // doc 1 holds the (doc_id, i)-minimal occurrence of every sub-span
    // of the run: it keeps everything
    assert(got(1L) === ((s"$run tail1 one", 0)))
    // docs 2 and 3 lose the full 10-token cover, keeping their heads
    assert(got(2L) === (("head2", 10)))
    assert(got(3L) === (("pre post", 10)))
    assert(got(4L)._2 === 0)
  }

  test("property: scrubSpansKeepOne equals a plain-Scala reference " +
      "(suffix-LCP maximal spans -> per-text canonical -> cover -> " +
      "rebuild) on arbitrary corpora") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val minLen = 2
    def lcp(a: Seq[String], b: Seq[String]): Int =
      a.zip(b).takeWhile { case (x, y) => x == y }.size
    val word = Gen.oneOf("a", "b", "c")
    val doc = Gen.choose(2, 14).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.choose(2, 6).flatMap(Gen.listOfN(_, doc))
    val prop = Prop.forAll(corpus) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val spans = Dedup.maximalDupSpans(docs, "doc_id", "text",
        minLen = minLen)
      val got = Dedup.scrubSpansKeepOne(docs, "doc_id", "text", spans)
        .collect().map(r => r.getLong(0) -> ((r.getString(1),
          r.getInt(2)))).toMap
      // reference: maximal spans by suffix-LCP against OTHER docs,
      // group occurrences by span TEXT, (doc, pos)-minimal survives,
      // non-canonical covers drop, survivors re-join in order
      val toks = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.trim.split(" ").toSeq }
      val sufs = for { (d, t) <- toks; p <- t.indices }
        yield (d, p, t.drop(p))
      val occ = for {
        (d, p, s) <- sufs
        best = sufs.iterator.filter(_._1 != d)
          .map { case (_, _, s2) => lcp(s, s2) }
          .foldLeft(0)(math.max)
        if best >= minLen
      } yield (d, p, s.take(best).mkString(" "))
      val covered = occ.groupBy(_._3).values.flatMap { os =>
        os.sortBy(o => (o._1, o._2)).drop(1) }
        .flatMap { case (d, p, g) =>
          (p until p + g.split(" ").length).map(d -> _) }.toSet
      val want = toks.map { case (d, t) =>
        val kept = t.zipWithIndex.collect {
          case (tok, j) if !covered(d -> j) => tok }
        d -> ((kept.mkString(" "), t.length - kept.length))
      }.toMap
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: maximalDupSpans equals a plain-Scala suffix-LCP " +
      "reference on arbitrary corpora") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // the reference is the suffix-array formulation of the exact-
    // substring method: at minDocs=2 the maximal hot span at position
    // p is the maximum LCP between suffix p and any suffix of a
    // DIFFERENT document (hot <=> some other doc shares the prefix)
    def lcp(a: Seq[String], b: Seq[String]): Int =
      a.zip(b).takeWhile { case (x, y) => x == y }.size
    val minLen = 2
    val word = Gen.oneOf("a", "b", "c")
    val doc = Gen.choose(2, 16).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.choose(2, 6).flatMap(Gen.listOfN(_, doc))
    val prop = Prop.forAll(corpus) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.maximalDupSpans(docs, "doc_id", "text",
          minLen = minLen)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val toks = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.trim.split(" ").toSeq }
      val sufs = for {
        (d, t) <- toks; p <- t.indices
      } yield (d, p, t.drop(p))
      val want = (for {
        (d, p, s) <- sufs
        best = sufs.iterator.filter(_._1 != d)
          .map { case (_, _, s2) => lcp(s, s2) }
          .foldLeft(0)(math.max)
        if best >= minLen
      } yield (d, p.toLong) -> best.toLong).toMap
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("dupSpanCensusUnbounded clamped to 12 equals l77's capped " +
      "census on the fixture corpus") {
    val docs = Tables.load(spark, sf, "documents")
    val unb = Dedup.dupSpanCensusUnbounded(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_dup_starts"),
        least(col("max_span"), lit(12L)).as("max_span"))
    val capped = Dedup.dupSpanCensus(docs, "doc_id", "text",
      minLen = 6, maxLen = 12)
    assert(unb.exceptAll(capped).isEmpty &&
      capped.exceptAll(unb).isEmpty,
      "unbounded census clamped at 12 diverges from dupSpanCensus")
    // and the cap genuinely binds somewhere, or the clamp check is
    // vacuous: the fixture contains full-document duplicates
    assert(Dedup.dupSpanCensusUnbounded(docs, "doc_id", "text")
      .where(col("max_span") > 12).count() > 0,
      "no span beyond the cap — fixture lost its long duplicates")
  }
}
