package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.AppCache

/** The application-scoped artifact cache every model store sits on:
  * one build per (application, dir, variant) under concurrency,
  * eviction of other applications' entries, seeding, and ledger
  * seconds that accrue on a miss's pin step only.
  */
class AppCacheSpec extends SparkSpec {

  private def fresh(): (AppCache[String], String) = {
    val key = s"appcache_spec_${java.util.UUID.randomUUID()}"
    (new AppCache[String](key), key)
  }

  private val dir =
    java.nio.file.Files.createTempDirectory("graft_appcache_").toString

  private def ledger(key: String): Double =
    Trace.seconds(Trace.Store, key)

  test("concurrent callers of one key build it once") {
    val (cache, _) = fresh()
    val builds = new AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          override def call(): String = {
            start.await()
            cache.get(spark, dir) {
              Thread.sleep(100); builds.incrementAndGet()
            }(n => s"built-$n")
          }
        }))
      start.countDown()
      val got = futures.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get() === 1)
      assert(got.toSet === Set("built-1"))
    } finally pool.shutdownNow()
  }

  test("variants and canonical dir spellings key distinct and equal entries") {
    val (cache, _) = fresh()
    val builds = new AtomicInteger()
    def get(d: String, v: String) =
      cache.get(spark, d, v)(builds.incrementAndGet())(n => s"$v-$n")
    assert(get(dir, "") === "-1")
    assert(get(s"$dir/./", "") === "-1") // same canonical dir: a hit
    assert(get(dir, "16/64") === "16/64-2")
    assert(builds.get() === 2)
  }

  test("an access under another application evicts the earlier one's entries") {
    val (cache, _) = fresh()
    val builds = new AtomicInteger()
    def getIn(app: String) =
      cache.getIn(spark, app, dir, "")(builds.incrementAndGet())(n => s"$app-$n")
    assert(getIn("app-stopped") === "app-stopped-1")
    assert(getIn("app-stopped") === "app-stopped-1") // hit
    assert(cache.get(spark, dir)(builds.incrementAndGet())(n => s"live-$n")
      === "live-2")
    // the stopped application's entry went with the live app's access
    assert(getIn("app-stopped") === "app-stopped-3")
    assert(builds.get() === 3)
  }

  test("seed then get serves the seeded value without a rebuild") {
    val (cache, key) = fresh()
    val seedKey = s"${key}_seed"
    cache.seed(spark, dir)(seedKey)("seeded")
    assert(ledger(seedKey) > 0.0)
    assert(cache.get(spark, dir)(fail("rebuilt after seed"): Unit)(
      _ => "rebuilt") === "seeded")
    assert(ledger(key) === 0.0)
    cache.clear()
    assert(cache.get(spark, dir)(())(_ => "rebuilt") === "rebuilt")
  }

  test("the ledger key accrues a miss's pin only, never resolve or a hit") {
    val (cache, key) = fresh()
    assert(cache.get(spark, dir) { Thread.sleep(400); "raw" } { r =>
      Thread.sleep(50); s"pinned-$r"
    } === "pinned-raw")
    val afterMiss = ledger(key)
    assert(afterMiss >= 0.05 && afterMiss < 0.4,
      s"ledger should hold the pin's ~50 ms alone, got $afterMiss s")
    assert(cache.get(spark, dir)(fail("resolved on a hit"): String)(
      _ => fail("pinned on a hit")) === "pinned-raw")
    assert(ledger(key) === afterMiss)
  }
}
