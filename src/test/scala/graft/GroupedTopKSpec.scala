package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType,
  StructField, StructType}

import graft.operators.{GroupedTopK, Similarity}

/** The native `GroupedTopK` aggregate against the `row_number` window it
  * replaces: the same rows in the same order for every non-null input
  * (ties, negative ids, NaN, ±Inf, -0.0), whatever the partitioning,
  * with the map-side partial aggregate kept below the shuffle.
  */
class GroupedTopKSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import org.scalacheck.{Gen, Prop, Test => SCTest}

  /** Values that tie often, plus every non-finite and signed zero. */
  private val value: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(-2, 2).map(_.toDouble),
    2 -> Gen.choose(-1e6, 1e6),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0))

  /** Rows (group, value, id) with ids unique inside a group (negative
    * ones included), k from 1 to past the largest group, and a
    * partition count that varies the merge order.
    */
  private val input: Gen[(Seq[(Int, Double, Long)], Int, Int)] = for {
    nGroups <- Gen.choose(1, 4)
    groups <- Gen.listOfN(nGroups, Gen.choose(1, 12).flatMap(n =>
      Gen.zip(Gen.listOfN(n, value), Gen.pick(n, -40L to 40L))))
    k <- Gen.choose(1, groups.map(_._1.size).max + 2)
    parts <- Gen.choose(1, 6)
  } yield (groups.zipWithIndex.flatMap { case ((vs, ids), g) =>
    vs.zip(ids).map { case (v, id) => (g, v, id) } }, k, parts)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  /** Row fields as comparable keys: doubles by their bits, so NaN
    * equals NaN and -0.0 differs from 0.0.
    */
  private def keys(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case o => o
    }).toSet

  /** A partial `ObjectHashAggregate` of the top-k sits below the
    * Exchange: each map partition ships at most k pairs per group.
    */
  private def assertBoundedShuffle(df: DataFrame): Unit = {
    val exchanges = collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e }
    assert(exchanges.exists(_.child.exists {
      case a: ObjectHashAggregateExec => a.aggregateExpressions.exists(x =>
        x.mode == Partial && x.aggregateFunction.isInstanceOf[GroupedTopK.TopK])
      case _ => false
    }), df.queryExecution.executedPlan.toString)
  }

  test("property: GroupedTopK.topK keeps exactly the row_number window's " +
      "rows in its order (ties, negative ids, NaN, ±Inf, -0.0; k past " +
      "the group size; any partitioning); schema and partial aggregate " +
      "kept") {
    import spark.implicits._
    check(Prop.forAll(input) { case (rows, k, parts) =>
      val df = rows.toDF("g", "v", "t").repartition(parts)
      val top = df.groupBy(col("g"))
        .agg(GroupedTopK.topK(k)(col("v"), col("t")).as("top"))
      val got = top.select(col("g"), posexplode(col("top")))
        .select(col("g"), col("pos") + 1, col("col._1"), col("col._2"))
      val w = Window.partitionBy(col("g"))
        .orderBy(col("v").desc, col("t").desc)
      val want = df.withColumn("rn", row_number().over(w))
        .where(col("rn") <= k).select(col("g"), col("rn"), col("v"), col("t"))
      keys(got) == keys(want)
    })
    val top = Seq((1, 1.0, 2L)).toDF("g", "v", "t").groupBy(col("g"))
      .agg(GroupedTopK.topK(3)(col("v"), col("t")).as("top"))
    assert(top.schema("top").dataType === ArrayType(StructType(Seq(
      StructField("_1", DoubleType, nullable = false),
      StructField("_2", LongType, nullable = false))), containsNull = true))
    assert(top.schema("top").dataType.simpleString ===
      "array<struct<_1:double,_2:bigint>>")
    assertBoundedShuffle(top)
  }

  test("property: topKPerQuery equals row_number() OVER (PARTITION BY " +
      "q_id ORDER BY score DESC, c_id) <= k, rank included; partial " +
      "aggregate kept below the Exchange") {
    import spark.implicits._
    check(Prop.forAll(input) { case (rows, k, parts) =>
      val scored = rows.map { case (g, v, id) => (g.toLong, id, v) }
        .toDF("q_id", "c_id", "score").repartition(parts)
      val got = Similarity.topKPerQuery(scored, "score", k)
        .select("q_id", "c_id", "score", "rk")
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("c_id"))
      val want = scored.withColumn("rk", row_number().over(w))
        .where(col("rk") <= k).select("q_id", "c_id", "score", "rk")
      keys(got) == keys(want)
    })
    assertBoundedShuffle(Similarity.topKPerQuery(
      Seq((1L, 2L, 0.5)).toDF("q_id", "c_id", "score"), "score", 2))
  }

  test("a null value or tieBreak is refused loudly, naming the column") {
    import spark.implicits._
    val df = Seq((1, Some(2.0), Some(1)), (1, None, Some(2)),
      (1, Some(1.0), None)).toDF("g", "score", "tie")
    def refused(rows: DataFrame, name: String): Unit = {
      val e = intercept[org.apache.spark.SparkException](rows
        .groupBy(col("g"))
        .agg(GroupedTopK.topK(2)(col("score"), col("tie"))).collect())
      assert(e.getMessage.contains(s"GroupedTopK.topK: null in $name"),
        e.getMessage)
    }
    refused(df.where(col("tie").isNotNull), "score")
    // the int tie column is cast to bigint; the message names the column
    refused(df.where(col("score").isNotNull), "tie")
  }
}
