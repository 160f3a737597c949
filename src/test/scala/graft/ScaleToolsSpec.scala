package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.sources.Bucketing

/** The explicit scale levers: salted aggregation and bucketed joins. */
class ScaleToolsSpec extends SparkSpec {

  test("saltedAgg == plain groupBy aggregate (sum/count decomposition)") {
    import spark.implicits._
    // one hot key (90% of rows) + a long tail
    val rows = (1 to 1000).map { i =>
      (if (i <= 900) "hot" else s"k${i % 17}", i.toLong, i.toDouble)
    }
    val df = rows.toDF("k", "uid", "v")
    val expected = df.groupBy(col("k")).agg(
        sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val got = Skew.saltedAgg(df,
        key = col("k"), saltFrom = col("uid"), saltBuckets = 8,
        partial = Seq(sum(col("v")).as("p_sum"), count(lit(1)).as("p_n")),
        merge = Seq(sum(col("p_sum")).as("sum_v"), sum(col("p_n")).as("n")))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got === expected)
  }

  test("saltedJoin == plain join (hot left key, replicated right)") {
    import spark.implicits._
    // 90% of left rows hit key 7
    val left = (1 to 500).map(i => (if (i <= 450) 7L else (i % 23).toLong, i.toLong))
      .toDF("k", "uid")
    val right = (0 to 22).map(k => (k.toLong, s"v$k")).toDF("rk", "payload")
    val expected = left.join(right, col("k") === col("rk"))
      .select("k", "uid", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val got = Skew.saltedJoin(left, "k", col("uid"), right, "rk", 8)
      .select("k", "uid", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === expected)
  }

  test("int8Quantize: values in [-127, 127], max maps to ±127, zero vector to zeros") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))
    ).toDF("id", "emb")
    val q = df.select(col("id"), VectorFunctions.int8Quantize(col("emb")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(q(1L) === Seq(64L, -127L, 32L)) // floor(0.5*127+0.5)=64, floor(0.25*127+0.5)=32
    assert(q(2L) === Seq(0L, 0L, 0L))
    assert(q.values.flatten.forall(v => v >= -127 && v <= 127))
  }

  test("clusterDefaults: shuffle width tracks cores, scale confs present and applicable") {
    val d = Engine.clusterDefaults(totalCores = 8000)
    assert(d("spark.sql.shuffle.partitions") === "16000")
    assert(d("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(d("spark.sql.streaming.stateStore.providerClass").contains("RocksDB"))
    // every key must be a real, settable Spark conf (catches typos)
    d.foreach { case (k, v) => spark.conf.getOption(k); () }
    intercept[IllegalArgumentException](Engine.clusterDefaults(0))
  }

  test("bucketed join plans with no Exchange on either side") {
    import spark.implicits._
    val a = (1 to 100).map(i => (i.toLong, s"a$i")).toDF("id", "av")
    val b = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "bv")
    // make re-runs idempotent: drop catalog entries AND stray locations
    Seq("graft_bkt_a", "graft_bkt_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        loc.listFiles().foreach(_.delete()); loc.delete()
      }
    }
    Bucketing.writeBucketed(a, "graft_bkt_a", "id", 4, sortCol = Some("id"))
    Bucketing.writeBucketed(b, "graft_bkt_b", "id", 4, sortCol = Some("id"))
    // 100-row sides would broadcast; the join's merge hint keeps the
    // sort-merge join, which needs a shuffle unless bucketing removes it
    val joined = Bucketing.bucketedJoin(spark, "graft_bkt_a", "graft_bkt_b", "id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    assert(plan.contains("SortMergeJoin"), plan)
    assert(joined.count() === 100)
  }
}
