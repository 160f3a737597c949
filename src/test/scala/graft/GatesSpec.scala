package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
  StringType, StructField, StructType}

import graft.queries.Gates

/** The three equivalence primitives in `Gates` against plain-Scala
  * references: `overlap` against set intersection, `censusMatch`
  * against a keyed-map compare, `mismatches` against a
  * `groupBy(identity)` multiset diff — NULLs, duplicates and empty
  * sides included.
  */
class GatesSpec extends SparkSpec {

  import org.scalacheck.{Gen, Prop, Test => SCTest}

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  private def frame(schema: StructType, rows: Seq[Seq[Any]]) =
    spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema)
      .repartition(3)

  private val pairSchema = StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("c_id", LongType, nullable = false)))

  /** A key set over a small domain, so the two sides overlap often. */
  private val keySet: Gen[Set[(Long, Long)]] = Gen.choose(0, 12).flatMap(n =>
    Gen.listOfN(n, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 4L))))
    .map(_.toSet)

  test("property: overlap counts |truth|, |pred| and |truth ∩ pred|, " +
      "empty sides included") {
    check(Prop.forAll(keySet, keySet) { (truth, pred) =>
      def df(ks: Set[(Long, Long)]) =
        frame(pairSchema, ks.toSeq.map { case (a, b) => Seq(a, b) })
      val r = Gates.overlap(df(truth), df(pred), Seq("q_id", "c_id")).head()
      Seq(r.getAs[Long]("n_truth"), r.getAs[Long]("n_pred"),
        r.getAs[Long]("n_hit")) ==
        Seq(truth.size, pred.size, (truth & pred).size).map(_.toLong)
    })
  }

  private val censusSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("n", LongType),
    StructField("mass", LongType)))

  /** A census keyed by band (NULL band included) with a nullable value
    * column, and a second census that either equals it or differs by a
    * dropped key, an added key or a changed value.
    */
  private type Census = Map[Option[Int], (Long, Option[Long])]
  private val census: Gen[Census] = Gen.choose(0, 6).flatMap(n =>
    Gen.listOfN(n, Gen.zip(Gen.option(Gen.choose(-2, 3)), Gen.choose(1L, 5L),
      Gen.option(Gen.choose(0L, 2L))).map { case (k, c, m) => k -> (c, m) }))
    .map(_.toMap)
  private val censusPair: Gen[(Census, Census)] = census.flatMap { b =>
    Gen.oneOf(
      Gen.const(b),
      Gen.const(b.drop(1)),
      Gen.zip(Gen.option(Gen.choose(-2, 3)), Gen.choose(1L, 5L))
        .map { case (k, c) => b + (k -> ((c, Option.empty[Long]))) },
      Gen.const(b.map { case (k, (c, m)) => k -> (c + 1, m) }),
      census).map(b -> _)
  }

  test("property: censusMatch sums the stream's count and flags every " +
      "key on both sides with equal values (NULL key and NULL values " +
      "match themselves; a one-sided key fails)") {
    check(Prop.forAll(censusPair) { case (batch, stream) =>
      def df(c: Census) = frame(censusSchema, c.toSeq.map {
        case (k, (n, m)) => Seq(k.orNull, n, m.orNull) })
      val r = Gates.censusMatch(df(stream), df(batch), Seq("band"), "n",
        "n_total", "ok").head()
      val empty = stream.isEmpty && batch.isEmpty
      val wantTotal = if (stream.isEmpty) null else stream.values.map(_._1).sum
      val wantOk = if (empty) null else stream == batch
      r.get(0) == wantTotal && r.get(1) == wantOk
    })
  }

  private val rowSchema = StructType(Seq(
    StructField("k", IntegerType), StructField("v", StringType)))

  /** Rows from a small domain with NULLs in both columns, so duplicates
    * and NULL-holding twins are common.
    */
  private val rows: Gen[List[(Option[Int], Option[String])]] =
    Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, Gen.zip(
      Gen.option(Gen.choose(0, 2)), Gen.option(Gen.oneOf("x", "y")))))
  private val rowsPair = rows.flatMap(u => Gen.oneOf(
    Gen.const(u), Gen.const(u.reverse), Gen.const(u ++ u.take(1)),
    Gen.const(u.drop(1)), rows).map(u -> _))

  test("property: mismatches is the multiset diff — each (row, " +
      "multiplicity) group on one side only counts once; NULL-holding " +
      "rows match their twins") {
    check(Prop.forAll(rowsPair) { case (u, r) =>
      def df(rs: List[(Option[Int], Option[String])]) =
        frame(rowSchema, rs.map { case (k, v) => Seq(k.orNull, v.orNull) })
      def groups(rs: List[(Option[Int], Option[String])]) =
        rs.groupBy(identity).map { case (row, g) => (row, g.size) }.toSet
      val want = ((groups(u) diff groups(r)) ++ (groups(r) diff groups(u)))
        .size.toLong
      Gates.mismatches(df(u), df(r), "n").head().getLong(0) == want
    })
  }

  test("mismatches: a NULL-holding row matches its twin; floats compare " +
      "after join-key normalization (-0.0 = 0.0, NaN = NaN)") {
    val withNull = frame(rowSchema, Seq(Seq(1, null), Seq(2, "x")))
    assert(Gates.mismatches(withNull, withNull, "n").head().getLong(0) === 0L)
    val dbl = StructType(Seq(StructField("d", DoubleType)))
    assert(Gates.mismatches(frame(dbl, Seq(Seq(-0.0), Seq(Double.NaN))),
      frame(dbl, Seq(Seq(0.0), Seq(Double.NaN))), "n")
      .head().getLong(0) === 0L)
  }

  test("only Gates.scala hand-rolls the presence-mark count in " +
      "src/main/scala/graft/queries") {
    val root = java.nio.file.Paths.get("src/main/scala/graft/queries")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val copies = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Gates.scala")
      .filter { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        Seq(""".isNotNull && col("__""", """.isNull || col("__""")
          .exists(src.contains)
      }.toSeq
    assert(copies.isEmpty,
      s"presence-mark count outside Gates: ${copies.mkString(", ")}")
  }
}
