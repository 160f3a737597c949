package graft.operators

import org.apache.spark.sql.SparkSession

/** Application-scoped cache of one kind of standing artifact — the one
  * primitive behind every model store's in-memory tier. The artifact
  * is SUPPOSED to be built once and served many times, so each
  * consumer of a store asks this cache instead of retraining.
  *
  * Entries are keyed by (applicationId, canonical corpus dir, variant);
  * the variant names a non-canonical build parameterization ("" for
  * the canonical one). An entry lives for its Spark application: the
  * first access under a new application evicts every entry of earlier
  * ones (stopped SparkSessions in the same JVM — test suites,
  * notebooks — can never hit them again, but they would pin
  * checkpointed frames for the JVM's life).
  *
  * A miss runs under the cache's lock, so concurrent callers build a
  * key once. It has two steps: `resolve` (untimed here — typically a
  * durable load-or-build, whose genuine build seconds accrue under its
  * own `durable_<family>` key) and `pin` (the localCheckpoint/collect
  * that makes the artifact servable), timed as the `Trace.Store` span
  * `ledgerKey`. A cache whose whole build is the pin resolves `()`.
  *
  * A cross-application file cache is deliberately NOT attempted here:
  * that is `DurableStore`'s job, with its transactional publish.
  */
final class AppCache[V](ledgerKey: String) {
  import AppCache.Key

  private val entries = scala.collection.mutable.Map.empty[Key, V]

  private def keyFor(appId: String, dir: String, variant: String): Key = {
    entries.filterInPlace((k, _) => k.appId == appId)
    Key(appId, new java.io.File(dir).getCanonicalPath, variant)
  }

  def get[A](s: SparkSession, dir: String, variant: String = "")(
      resolve: => A)(pin: A => V): V =
    getIn(s, s.sparkContext.applicationId, dir, variant)(resolve)(pin)

  /** `get` under an explicit application id — lets a test stand in for
    * a second application inside one SparkContext.
    */
  private[graft] def getIn[A](s: SparkSession, appId: String, dir: String,
      variant: String)(resolve: => A)(pin: A => V): V = synchronized {
    entries.getOrElseUpdate(keyFor(appId, dir, variant), {
      val a = resolve
      graft.Trace.span(s, graft.Trace.Store, ledgerKey)(pin(a))
    })
  }

  /** Install an already-built (typically durably reloaded) artifact,
    * timing its pin under `seedKey`, so later `get`s serve it instead
    * of re-paying the build.
    */
  def seed(s: SparkSession, dir: String, variant: String = "")(
      seedKey: String)(pinned: => V): Unit = synchronized {
    entries.update(keyFor(s.sparkContext.applicationId, dir, variant),
      graft.Trace.span(s, graft.Trace.Store, seedKey)(pinned))
  }

  def clear(): Unit = synchronized(entries.clear())
}

private object AppCache {
  final case class Key(appId: String, dir: String, variant: String)
}
