package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, NgramLm}

/** Contracts of the bigram-LM scorer (l83/t28) and the frozen-tokenizer
  * encode (l81/t29) that must hold for ANY corpus — the driver gate
  * checks fixture equality; these pin the arguments behind it.
  */
class NgramLmSpec extends SparkSpec {

  /** Per-row surprisal struct (n_scored, total_bits, bpt) from the
    * collected model's fold: the reference the join path must equal.
    */
  private def surprisalBitsLocal(serve: NgramLm.ServeModel,
      toks: Column): Column =
    NgramLm.foldBits(serve, toks, (s, c) => {
      val total = when(c > 0, s)
      struct(c.as("n_scored"), total.as("total_bits"),
        (total.cast("double") / c).as("bpt"))
    })

  private def docsDF(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("surprisalBits: hand-computed add-one bigram scores") {
    // train: "a b a b c" -> pairs (a,b)x2 (b,a) (b,c); V = 3 (a,b,c)
    // ctx: a->2, b->2
    val model = NgramLm.trainBigram(docsDF(Seq("a b a b c")), "text")
    // score "a b c": (a,b): num=3 den=5 -> bitlen 3=2,5=3 -> 1 bit
    //                (b,c): num=2 den=5 -> bitlen 2=2,5=3 -> 1 bit
    // score "z a":   (z,a): num=1 den=0+3 -> bitlen 1=1,3=2 -> 1 bit
    // score "c":     no pairs -> n_scored 0, null bits
    val got = NgramLm.surprisalBits(
        docsDF(Seq("a b c", "z a", "c")), "doc_id", "text", model)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
      .toMap
    assert(got(0L)._1 === 2L && got(0L)._2 === 2L && got(0L)._3 === 1.0)
    assert(got(1L)._1 === 1L && got(1L)._2 === 1L && got(1L)._3 === 1.0)
    assert(got(2L)._1 === 0L && got(2L)._2 === -1L && got(2L)._3.isNaN)
  }

  test("backoff model: hand-computed interpolated rational scores") {
    // train "a b a b c": pairs (a,b)x2 (b,a) (b,c); ctx a->2 b->2;
    // uni a:2 b:2 c:1; N=5; V=3
    val model = NgramLm.trainBackoff(docsDF(Seq("a b a b c")), "text")
    // "a b": (a,b) pbn=3 pbd=5 pun=uni(b)+1=3 pud=N+V=8
    //   num = 3*8 + 3*5 = 39, den = 2*5*8 = 80
    //   bits = bitlen(80)=7 - bitlen(39)=6 = 1
    // "z q": pbn=1 pbd=0+3 pun=1 pud=8
    //   num = 1*8 + 1*3 = 11, den = 2*3*8 = 48
    //   bits = bitlen(48)=6 - bitlen(11)=4 = 2
    val got = NgramLm.backoffBits(docsDF(Seq("a b", "z q")),
        "doc_id", "text", model)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(0L) === ((1L, 1L)))
    assert(got(1L) === ((1L, 2L)))
  }

  test("kneser-ney: hand-computed discounted scores") {
    // train "a b a b c": pairs (a,b):2 (b,a):1 (b,c):1; V=3; T=3 types
    // ctx a->2 b->2; dcont a->1 b->2; cont a->1 b->1 c->1; T+V=6
    val model = NgramLm.trainKneserNey(docsDF(Seq("a b a b c")), "text")
    // "a b": seen pair:  num=(4*2-3)*6 + 3*1*(1+1)=36, den=4*2*6=48
    //        -> bitlen(48)=6 - bitlen(36)=6 -> 0 bits
    // "a c": unseen pair, seen ctx: num=3*1*(1+1)=6, den=48 -> 6-3=3
    // "z a": unseen ctx: num=cont(a)+1=2, den=T+V=6 -> 3-2=1
    // "z q": unseen ctx, unseen cur: num=1, den=6 -> 3-1=2
    val got = NgramLm.kneserNeyBits(
        docsDF(Seq("a b", "a c", "z a", "z q")), "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(0L -> 0L, 1L -> 3L, 2L -> 1L, 3L -> 2L))
  }

  test("property: KN numerators telescope to the denominator; Spark scorer equals a plain-Scala reference") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def bitlen(x: Long) =
      math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(x))
    val word = Gen.oneOf("a", "b", "c", "dd", "e")
    val doc = Gen.choose(0, 6).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.choose(2, 8).flatMap(Gen.listOfN(_, doc))
    val prop = Prop.forAll(corpus) { texts =>
      val docs = docsDF(texts)
      val model = NgramLm.trainKneserNey(
        docs.where(col("doc_id") % 2 === 0), "text")
      val pc = model.base.pairCounts.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val ctx = model.base.ctxCounts.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val dct = model.distinctCont.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val cont = model.contCounts.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val t = model.pairTypes.collect().head.getLong(0)
      val v = model.base.vocab.collect().head.getLong(0)
      // tokens() == split(trim(text), " "): "" stays a (single) token
      def toks(tx: String) = tx.trim.split(" ", -1).toSeq
      val vocab = texts.indices.filter(_ % 2 == 0)
        .flatMap(i => toks(texts(i))).distinct
      def numDen(prev: String, cur: String): (Long, Long) =
        ctx.get(prev) match {
          case Some(c) =>
            val cd = t + v
            (math.max(4L * pc.getOrElse((prev, cur), 0L) - 3L, 0L) * cd +
              3L * dct(prev) * (cont.getOrElse(cur, 0L) + 1L),
              4L * c * cd)
          case None => (cont.getOrElse(cur, 0L) + 1L, t + v)
        }
      // the exact-normalization identity behind num <= den
      val telescopes = ctx.keys.forall { u =>
        vocab.map(w => numDen(u, w)._1).sum == 4L * ctx(u) * (t + v)
      }
      val ref = texts.zipWithIndex.map { case (tx, i) =>
        val bits = toks(tx).sliding(2).filter(_.size == 2)
          .map { p =>
            val (n, d) = numDen(p(0), p(1))
            (bitlen(d) - bitlen(n)).toLong
          }.toSeq
        i.toLong -> (bits.size.toLong,
          if (bits.isEmpty) null else bits.sum.asInstanceOf[Any])
      }.toMap
      val got = NgramLm.kneserNeyBits(docs, "doc_id", "text", model)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) null
          else r.getLong(2).asInstanceOf[Any])).toMap
      telescopes && got == ref
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("order-3 model: space-joined contexts, hand-computed scores") {
    // train "a b c a b c": triples ("a b",c)x2 ("b c",a) ("c a",b); V=3
    // ctx: "a b"->2, "b c"->1, "c a"->1
    val model = NgramLm.trainBigram(docsDF(Seq("a b c a b c")), "text",
      order = 3)
    val pc = model.pairCounts.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pc === Map(("a b", "c") -> 2L, ("b c", "a") -> 1L,
      ("c a", "b") -> 1L))
    // "a b c": ("a b",c) num=3 den=5 -> 1 bit; "a b": conditions nothing
    val got = NgramLm.surprisalBits(docsDF(Seq("a b c", "a b")),
        "doc_id", "text", model, order = 3)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
      .toMap
    assert(got(0L) === ((1L, 1.0)))
    assert(got(1L)._1 === 0L && got(1L)._2.isNaN)
  }

  test("property: quantized surprisal is within 1 bit of -log2 p") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def bitlen(x: Long) = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val nd = for {
      d <- Gen.choose(1L, 1L << 40)
      n <- Gen.choose(1L, d)
    } yield (n, d)
    val prop = Prop.forAll(nd) { case (n, d) =>
      val bits = (bitlen(d) - bitlen(n)).toDouble
      val log2 = math.log(d.toDouble / n) / math.log(2.0)
      math.abs(bits - log2) <= 1.0
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: fold scoring (serve model) equals join scoring row-for-row") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val word = Gen.oneOf("a", "b", "c", "dd", "e")
    val doc = Gen.choose(0, 6).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.choose(2, 8).flatMap(Gen.listOfN(_, doc))
    val prop = Prop.forAll(corpus) { texts =>
      val docs = docsDF(texts)
      val model = NgramLm.trainBigram(
        docs.where(col("doc_id") % 2 === 0), "text")
      val join = NgramLm.surprisalBits(docs, "doc_id", "text", model)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) null else r.getLong(2),
          if (r.isNullAt(3)) null else r.getDouble(3))).toMap
      val serve = NgramLm.collectServeModel(model)
      val fold = docs
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          surprisalBitsLocal(serve, col("toks")).as("sc"))
        .select(col("doc_id"), col("sc.n_scored"), col("sc.total_bits"),
          col("sc.bpt"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) null else r.getLong(2),
          if (r.isNullAt(3)) null else r.getDouble(3))).toMap
      val band = docs
        .select(graft.functions.TextFunctions.tokens(col("text"))
          .as("toks"))
        .select(NgramLm.surprisalBandLocal(serve, col("toks")).as("k"))
        .collect()
        .map(r => if (r.isNullAt(0)) null else r.getLong(0))
      val bandWant = docs.select(col("doc_id")).collect().map(_.getLong(0))
        .map(id => join(id)._3 match {
          case null => null
          case d: java.lang.Double => java.lang.Long.valueOf(
            math.floor(d.doubleValue).toLong)
        })
      join == fold && band.toSeq == bandWant.toSeq
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: backoff serve fold equals the join path band-for-band") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val word = Gen.oneOf("a", "b", "c", "dd", "e")
    val doc = Gen.choose(0, 6).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.choose(2, 8).flatMap(Gen.listOfN(_, doc))
    val prop = Prop.forAll(corpus) { texts =>
      val docs = docsDF(texts)
      val model = NgramLm.trainBackoff(
        docs.where(col("doc_id") % 2 === 0), "text")
      val join = NgramLm.backoffBits(docs, "doc_id", "text", model)
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) null
          else java.lang.Long.valueOf(
            math.floor(r.getDouble(3)).toLong))).toMap
      val serve = NgramLm.collectBackoffServeModel(model)
      val fold = docs
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          NgramLm.backoffBandLocal(serve, col("toks")).as("k"))
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
          else java.lang.Long.valueOf(r.getLong(1)))).toMap
      join == fold
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("degenerate empty train slice: fold and join both score 0 bits") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val model = NgramLm.trainBigram(empty, "text")
    val docs = docsDF(Seq("a b c"))
    val join = NgramLm.surprisalBits(docs, "doc_id", "text", model)
      .collect().head
    assert(join.getLong(1) === 2L && join.getLong(2) === 0L)
    val serve = NgramLm.collectServeModel(model)
    assert(serve.unseenBits === 0)
    val fold = docs
      .select(graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .select(surprisalBitsLocal(serve, col("toks")).as("sc"))
      .select(col("sc.n_scored"), col("sc.total_bits")).collect().head
    assert(fold.getLong(0) === 2L && fold.getLong(1) === 0L)
  }

  test("collectServeModel refuses an over-bound bigram table") {
    val model = NgramLm.trainBigram(docsDF(Seq("a b c d e")), "text")
    intercept[IllegalArgumentException] {
      NgramLm.collectServeModel(model, maxEntries = 2)
    }
  }

  test("l83 scoring plan: count tables broadcast, no sort-merge join") {
    val docs = docsDF((1 to 200).map(i => s"w${i % 9} w${(i * 3) % 9} w$i"))
    val model = NgramLm.trainBigram(
      docs.where(col("doc_id") % 7 === 0), "text")
    val plan = NgramLm.surprisalBits(docs, "doc_id", "text", model)
      .queryExecution.executedPlan.toString
    // the scale contract: the vocab-bounded count tables BROADCAST into
    // the corpus-sized scoring join — a shuffled join on the exploded
    // pair frame would move token-count-sized data
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"plan:\n$plan")
  }

  /** True iterative BPE encode: repeatedly apply the LOWEST-rank merge
    * present in the symbol sequence at its leftmost occurrence. The
    * production sentinel-replace chain claims one left-to-right pass
    * per rank is equivalent for valid (rank-ordered, closed) merge
    * lists; this is the semantics it must match.
    */
  private def refEncode(word: String,
      merges: Seq[(String, String)]): Seq[String] = {
    var syms = word.map(_.toString).toVector
    var going = syms.length >= 2
    while (going) {
      val hit = merges.zipWithIndex.flatMap { case ((a, b), rk) =>
        val i = syms.indices.dropRight(1)
          .find(i => syms(i) == a && syms(i + 1) == b)
        i.map(i => (rk, i))
      }.sortBy(identity).headOption
      hit match {
        case Some((rk, i)) =>
          val (a, b) = merges(rk)
          syms = (syms.take(i) :+ (a + b)) ++ syms.drop(i + 2)
        case None => going = false
      }
    }
    syms
  }

  test("property: sentinel-replace encode equals iterative BPE at full sequence granularity for trained merge lists") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val word = Gen.choose(1, 7).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val gen = for {
      trainWords <- Gen.choose(3, 10).flatMap(Gen.listOfN(_, word))
      nMerges <- Gen.choose(1, 8)
      encWords <- Gen.choose(1, 10).flatMap(Gen.listOfN(_, word))
    } yield (trainWords, nMerges, encWords)
    val prop = Prop.forAll(gen) { case (trainWords, nMerges, encWords) =>
      // merges come from a REAL training run (valid by construction,
      // arbitrary depth) over a corpus unrelated to the encoded words
      val trainDocs = Seq((1L, trainWords.mkString(" ")))
        .toDF("doc_id", "text")
      val merges = Bpe.bpeTrain(spark, trainDocs, "text", nMerges)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val got = encWords.toDF("w")
        .select(split(Bpe.encodeSyms(col("w"), merges), "\u0001").as("s"))
        .collect()
        .map(_.getSeq[String](0).filter(_.nonEmpty).toSeq).toSeq
      val want = encWords.map(w => refEncode(w, merges))
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("encodeCensus rejects invalid merge lists") {
    val docs = docsDF(Seq("abc")).withColumn("lang", lit("en"))
    intercept[IllegalArgumentException] {
      Bpe.encodeCensus(docs, "text", "lang", Seq("ab" -> "c"))
    }
    intercept[IllegalArgumentException] {
      Bpe.encodeCensus(docs, "text", "lang",
        Seq("a" -> "b", "c" -> "ba"))
    }
    // valid: second merge consumes the first's output
    Bpe.encodeCensus(docs, "text", "lang",
      Seq("a" -> "b", "ab" -> "c")).collect()
  }

  test("encodeSyms raises on a sentinel-bearing word") {
    import spark.implicits._
    val ex = intercept[Exception] {
      Seq("a\u0001b").toDF("w")
        .select(Bpe.encodeSyms(col("w"), Seq("a" -> "b"))).collect()
    }
    assert(ex.getMessage.contains("sentinel")
      || ex.getCause != null && ex.getCause.getMessage.contains("sentinel"))
  }
}
