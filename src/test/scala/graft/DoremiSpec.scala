package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Doremi

/** Contracts of the DoReMi domain reweighter (l95) that must hold for
  * ANY corpus — the driver gate checks fixture equality; these pin the
  * arguments behind it.
  */
class DoremiSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** `scoredBits` keyed by source: `domainWeights`' scoring subtree. */
  private def sourceBits(docs: DataFrame, refPred: Column): DataFrame =
    Doremi.scoredBits(
        Doremi.trainJoint(docs, "doc_id", "text", "source", refPred),
        "source")
      .withColumnRenamed("key", "source")

  private def bitlen(x: Long): Int =
    math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(x))

  test("ledger matches a plain-Scala reference end to end") {
    import spark.implicits._
    val texts = Seq(
      (0L, "a b a b c", "s0"), // doc_id%7==0 -> reference slice
      (1L, "a b c d", "s0"),
      (2L, "x y z x y", "s1"),
      (7L, "a b c", "s1"),     // reference slice
      (3L, "q r", "s2"),
      (4L, "", "s2"),          // tokens [""], no pairs
      (5L, "solo", "s3"))      // one token: a source with NO pairs at all
    val docs = texts.toDF("doc_id", "text", "source")

    // plain-Scala reference of the whole operator
    val toks = texts.map { case (id, t, s) =>
      (id, t.trim.split(" ", -1).toSeq, s, id % 7 == 0)
    }
    val occ = toks.flatMap { case (_, w, s, isR) =>
      w.zip(w.drop(1)).map { case (p, c) => (s, isR, p, c) }
    }
    val pcF = occ.groupBy(o => (o._3, o._4)).view
      .mapValues(_.size.toLong).toMap
    val pcR = occ.groupBy(o => (o._3, o._4)).view
      .mapValues(_.count(_._2).toLong).toMap
    val ctxF = occ.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val ctxR = occ.groupBy(_._3).view
      .mapValues(_.count(_._2).toLong).toMap
    val vF = toks.flatMap(_._2).distinct.size.toLong
    val vR = toks.filter(_._4).flatMap(_._2).distinct.size.toLong
    val bySrc = occ.groupBy(_._1).view.mapValues { os =>
      val ref = os.map(o =>
        bitlen(ctxR(o._3) + vR) - bitlen(pcR((o._3, o._4)) + 1L)).sum
      val self = os.map(o =>
        bitlen(ctxF(o._3) + vF) - bitlen(pcF((o._3, o._4)) + 1L)).sum
      (os.size.toLong, ref.toLong, self.toLong)
    }.toMap
    val sources = texts.map(_._3).distinct
    val nDocs = texts.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val domMilli = sources.map { s =>
      s -> bySrc.get(s).map { case (n, r, sl) =>
        Math.floorDiv(1000L * (sl - r), n)
      }
    }.toMap
    val (totR, totS, totN) = bySrc.values
      .foldLeft((0L, 0L, 0L)) { case ((r, sl, n), (n2, r2, s2)) =>
        (r + r2, sl + s2, n + n2)
      }
    val anchor = Math.floorDiv(1000L * (totS - totR), totN)
    val excess = domMilli.view.mapValues(_.map(m =>
      math.max(0L, m - anchor))).toMap
    val wRaw = excess.view.mapValues {
      case Some(m) => (1000L + m % 1000L) << math.min(m / 1000L, 30L)
      case None => 0L
    }.toMap
    val wTot = wRaw.values.sum
    val expected = sources.map { s =>
      val (n, r, sl) = bySrc.get(s)
        .map { case (n, r, sl) => (n, Option(r), Option(sl)) }
        .getOrElse((0L, None, None))
      (s, nDocs(s), n, r, sl, excess(s),
        if (wTot > 0) 10000L * wRaw(s) / wTot else 0L)
    }.sortBy(_._1)

    val got = Doremi.domainWeights(docs, "doc_id", "text", "source",
        col("doc_id") % 7 === 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        r.getLong(6)))
      .sortBy(_._1).toSeq
    assert(got === expected)
  }

  test("expWeight matches the plain-Scala mantissa construction and is monotone") {
    import spark.implicits._
    val ms = (0L to 40L).map(_ * 997L) ++ Seq(0L, 999L, 1000L, 1001L,
      2500L, 29999L, 30000L, 31000L, 45000L)
    val got = ms.toDF("m")
      .select(Doremi.expWeight(col("m")).as("w"))
      .collect().map(_.getLong(0))
    val expected = ms.map(m =>
      (1000L + m % 1000L) << math.min(m / 1000L, 30L))
    assert(got.toSeq === expected)
    // monotone in m (the cap region is flat-capped on the shift only)
    val sortedPairs = ms.zip(got).sortBy(_._1)
    sortedPairs.zip(sortedPairs.drop(1)).foreach { case ((m1, w1), (m2, w2)) =>
      if (m2 <= 30999L) assert(w2 >= w1, s"not monotone at $m1 -> $m2")
    }
    // exact at whole bits: w(k*1000) == 1000 * 2^k
    (0 to 20).foreach { k =>
      val w = (1000L + 0L) << k
      assert(expected.contains(w) || k > 0, "construction sanity")
    }
  }

  test("fixture ledger: deterministic, both excess regimes live, bp sums <= 10000") {
    val docs = Tables.load(spark, sf, "documents")
    def run() = Doremi.domainWeights(docs, "doc_id", "text", "source",
        col("doc_id") % 7 === 0)
      .collect().map(r => (r.getString(0), r.getLong(5), r.getLong(6)))
      .sortBy(_._1).toSeq
    val a = run()
    assert(a === run(), "re-run must produce identical weights")
    assert(a.exists(_._2 === 0L), "clipped-excess regime must be live")
    assert(a.exists(_._2 > 0L), "positive-excess regime must be live")
    assert(a.map(_._3).sum <= 10000L, "floor basis points sum <= 10000")
    assert(a.forall(_._3 > 0L), "every domain with pairs keeps a floor weight")
    // weight order follows excess order (monotone construction)
    val byExcess = a.sortBy(_._2)
    byExcess.zip(byExcess.drop(1)).foreach { case ((_, _, w1), (_, _, w2)) =>
      assert(w2 >= w1, "weights must be monotone in excess")
    }
  }

  test("admitLocal: per-source admit counts equal the batch-ledger replay") {
    val docs = Tables.load(spark, sf, "documents")
    val serve = graft.operators.Doremi.collectMixtureRates(docs,
      "doc_id", "text", "source", col("doc_id") % 7 === 0)
    // plain replay from the published weight ledger
    val wbp = graft.operators.Doremi.domainWeights(docs, "doc_id", "text",
        "source", col("doc_id") % 7 === 0)
      .select(col("source"), col("weight_bp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mx = wbp.values.max
    val rates = wbp.view.mapValues(w =>
      if (mx > 0) 10000L * w / mx else 0L).toMap
    assert(serve.rateBp === rates)
    assert(rates.values.max === 10000L,
      "the top-weight domain must pass whole")
    val expected = docs
      .select(col("source"),
        graft.functions.TextFunctions.rollingHash(col("text")).as("fp"))
      .collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .groupBy(_._1).view.mapValues { rows =>
        (rows.size.toLong, rows.count { case (s, fp) =>
          fp.exists(f => (f / 100L) % 10000L < rates(s))
        }.toLong)
      }.toMap
    val got = docs
      .select(col("source"),
        graft.functions.TextFunctions.rollingHash(col("text")).as("fp"))
      .select(col("source"),
        graft.operators.Doremi.admitLocal(serve, col("source"), col("fp"))
          .as("acc"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("acc").as("a"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got === expected)
    // partial admission must be live at the gate sf (rates differ)
    assert(got.exists { case (_, (n, a)) => a < n },
      "some domain must be sub-sampled")
    assert(got.exists { case (_, (n, a)) => a === n } ||
      rates.values.count(_ === 10000L) >= 1, "full pass-through live")
  }

  test("learnability: threshold is l95's anchor; ledger is consistent") {
    val docs = Tables.load(spark, sf, "documents")
    val out = graft.operators.Doremi.learnabilitySelect(docs, "doc_id",
        "text", "source", col("doc_id") % 7 === 0)
      .collect()
    val bands = out.filter(_.getString(0) == "band")
      .map(r => (if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(3)))
    val srcs = out.filter(_.getString(0) == "source")
      .map(r => (r.getString(2), r.getLong(3), r.getLong(4)))
    // the same docs are counted by both sections
    assert(bands.map(_._2).sum === srcs.map(_._2).sum)
    // the mean anchor puts documents on BOTH sides of the threshold
    assert(bands.exists(b => b._1.exists(_ < 0)), "below-threshold live")
    assert(bands.exists(b => b._1.exists(_ >= 0)), "selected regime live")
    val nSel = srcs.map(_._3).sum
    val nonNeg = bands.filter(_._1.exists(_ >= 0)).map(_._2).sum
    // selection (rel >= 0) is exactly the non-negative bands' mass
    assert(nSel === nonNeg)
    // per-doc sums grouped by source must reproduce l95's source sums —
    // the two faces score with the SAME models and anchor
    val pd = graft.operators.Doremi.scoredBits(
        graft.operators.Doremi.trainJoint(docs, "doc_id", "text",
          "source", col("doc_id") % 7 === 0), "doc_id")
      .join(docs.select(col("doc_id").as("key"), col("source")), Seq("key"))
      .groupBy("source")
      .agg(sum("n_pairs").as("np"), sum("ref_bits").as("rb"),
        sum("self_bits").as("sb"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val sb = sourceBits(docs, col("doc_id") % 7 === 0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(pd === sb)
  }

  test("selectLocal: per-source select counts equal l97's batch ledger") {
    val docs = Tables.load(spark, sf, "documents")
    val serve = graft.operators.Doremi.collectRhoServeModel(docs,
      "doc_id", "text", col("doc_id") % 7 === 0)
    val local = docs
      .select(col("source"),
        graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .select(col("source"),
        graft.operators.Doremi.selectLocal(serve, col("t")).as("acc"))
      .groupBy("source").agg(sum("acc").as("n_sel"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.operators.Doremi.learnabilitySelect(docs, "doc_id",
        "text", "source", col("doc_id") % 7 === 0)
      .where(col("section") === "source")
      .collect().map(r => r.getString(2) -> r.getLong(4)).toMap
    assert(local === batch)
  }

  test("selector agreement: per-doc frames reproduce the parent ledgers") {
    val docs = Tables.load(spark, sf, "documents")
    val pred = col("doc_id") % 7 === 0
    // DSIR per-doc acceptance grouped by source == l94's ledger
    val dAgg = graft.operators.Dsir.perDocAccept(docs, "doc_id", "text",
        "source", pred)
      .groupBy("source").agg(count(when(col("acc"), 1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dLed = graft.operators.Dsir.dsirResample(docs, "doc_id", "text",
        "source", pred)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(dAgg === dLed)
    // RHO per-doc rel grouped by source == l97's source section
    val rAgg = graft.operators.Doremi.perDocRel(docs, "doc_id", "text",
        "source", pred)
      .groupBy("source").agg(count(when(col("rel") >= 0L, 1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rLed = graft.operators.Doremi.learnabilitySelect(docs, "doc_id",
        "text", "source", pred)
      .where(col("section") === "source")
      .collect().map(r => r.getString(2) -> r.getLong(4)).toMap
    assert(rAgg === rLed)
  }

  test("degenerate: reference slice == corpus makes both models identical") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, s"alpha beta w${i % 5} gamma", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    // refPred always true: proxy and reference train on the same rows,
    // every pair's diff is 0, so every domain clips to the uniform
    // floor and every document sits exactly at the anchor (selected)
    val w = graft.operators.Doremi.domainWeights(docs, "doc_id", "text",
        "source", lit(true))
      .collect().map(r => (r.getLong(5), r.getLong(6)))
    assert(w.map(_._1).distinct.toSeq === Seq(0L),
      "identical models => zero excess everywhere")
    assert(w.map(_._2).distinct.size === 1,
      "identical models => uniform weights")
    val sel = graft.operators.Doremi.learnabilitySelect(docs, "doc_id",
        "text", "source", lit(true))
      .where(col("section") === "source")
      .collect().map(r => (r.getLong(3), r.getLong(4)))
    sel.foreach { case (n, nSel) =>
      assert(n === nSel, "zero excess sits at the anchor => all selected")
    }
  }

  test("plan: count tables broadcast; only the three scalar attaches are BNLJ") {
    import spark.implicits._
    val docs = (1L to 300L).map(i =>
      (i, s"alpha beta gamma w$i x${i % 7}", s"s${i % 5}"))
      .toDF("doc_id", "text", "source")
    // scoring side (pre-checkpoint): pair/context tables reach the pair
    // stream as broadcast hash joins — never shuffled joins — with
    // exactly one BNLJ (the one-row vocab attach)
    val scoring = sourceBits(docs, col("doc_id") % 3 === 0)
      .queryExecution.executedPlan.toString
    assert(scoring.contains("BroadcastHashJoin"), s"plan:\n$scoring")
    assert(!scoring.contains("SortMergeJoin"), s"plan:\n$scoring")
    assert("BroadcastNestedLoopJoin".r.findAllIn(scoring).size === 1,
      s"plan:\n$scoring")
    // assembled query: the ledger checkpoints hide the corpus scoring
    // subtree and the anchor attach from the final stage (no bin()
    // above the boundary); only the weight-total attach remains a BNLJ
    val plan = Doremi.domainWeights(docs, "doc_id", "text", "source",
        col("doc_id") % 3 === 0)
      .queryExecution.executedPlan.toString
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size === 1,
      s"plan:\n$plan")
    assert(!plan.contains("bin("),
      s"scoring subtree must not be duplicated into the final plan:\n$plan")
  }
}
