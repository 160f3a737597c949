package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed co-located joins: pre-shuffle both fact tables once into the
  * same bucket layout, and every subsequent equi-join on the bucket key
  * plans with ZERO Exchange on either side — the standard way to pay a
  * repeated join's shuffle exactly once. At 100 TB this is the difference
  * between re-shuffling the fact table per query and never shuffling it
  * again.
  *
  * Spark's bucketing rides the session catalog (`saveAsTable`); readers
  * must come from `spark.table`, and `spark.sql.sources.bucketing.enabled`
  * (default true) governs whether scans expose the bucketed distribution.
  */
object Bucketing {

  /** Write `df` as a bucketed managed table (overwriting). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket key. The `merge` hint
    * keeps the co-located sort-merge join even when one side is small
    * enough to broadcast, so the physical plan contains no Exchange for
    * either input (verified by `ScaleToolsSpec` and s02).
    */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).hint("merge").join(spark.table(rightTable), key)
}
