package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One harness query: a Spark DataFrame program plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables. `oracle == None` means the op is not SQL-expressible (approximate
  * sketches, seeded LSH, ...) and the driver falls back to a rows-only check.
  *
  * Determinism contract (both sides must agree bit-for-bit after the driver
  * sorts columns by name and hashes values):
  *   - FP aggregation goes through DECIMAL (order-independent, exact) and is
  *     cast back to DOUBLE: `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`.
  *   - Per-row FP arithmetic (IEEE 754 +,-,*,/,sqrt) is bit-deterministic and
  *     used freely; transcendental libm calls (ln, exp, pow) are avoided in
  *     oracle-checked outputs.
  *   - Array folds (dot products, rolling hashes) are sequential left-folds in
  *     DOUBLE/BIGINT on both sides (Spark sequential accumulate == DuckDB
  *     `list_reduce`).
  *   - `events.ts` is a naive parquet TIMESTAMP(MICROS). Oracle SQL always
  *     wraps it in `CAST(ts AS TIMESTAMP)` (lossless at µs grain).
  *   - Top-k is always fully tie-broken by a unique key.
  */
final case class QuerySpec(
    name: String,
    description: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QuerySpec {
  /** Decimal-exact sum of a double column, returned as double.
    * Spark side of the determinism contract above.
    */
  def decSum(c: org.apache.spark.sql.Column, scale: Int = 4): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.sum
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, scale))).cast("double")
  }

  /** Fresh throwaway sink dir for self-contained harness queries (the
    * sink-writing specs rebuild their output every run by contract).
    */
  def tempSinkDir(): String =
    java.nio.file.Files.createTempDirectory("graft_sink_").toString

  /** Run `body` against a fresh scratch durable-store root: the body
    * gets a session scoped (`Engine.scoped`) to `spark.graft.store.root`
    * = a new temp dir, which is deleted afterwards, so a frame the body
    * returns must not read the store lazily (checkpoint it).
    */
  def withScratchStoreRoot[T](s: SparkSession)(
      body: (SparkSession, String) => T): T = {
    val root = tempSinkDir()
    try graft.Engine.scoped(s, Map("spark.graft.store.root" -> root))(
      body(_, root))
    finally graft.pipeline.SinkFiles.deleteRecursive(root)
  }

  /** DuckDB-side rolling-hash fingerprint over `text` — the same
    * left-fold `TextFunctions.rollingHash` computes; shared by every
    * oracle that fingerprints (LlmQueries' splits/sampling/packing and
    * the streaming temperature census).
    */
  val fpSql: String =
    """list_reduce([unicode(c) for c in regexp_split_to_array(text, '')],
      |      (a, b) -> (CAST(a AS BIGINT) * 31 + b) % 1000000007)""".stripMargin
}
