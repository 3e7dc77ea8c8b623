package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Registry lifecycle contract (r11 — the session-pressure fix):
  * shared frames persist SERIALIZED-with-disk-spill by default (small
  * heap footprint, disk eviction instead of GC thrash across a
  * 386-query session), the level is config-gated, and the registry is
  * LRU-capped so a long session sheds its oldest frames instead of
  * accreting every corpus' indexes until OOM. */
class CachedPlansSpec extends AnyFunSuite {
  // Own SQL session: CachedPlans keys its registry on the session
  // instance, so cap experiments here can never evict frames other
  // suites registered on the shared session.
  private lazy val spark = SparkTestSession.spark.newSession()

  private def frame(tag: Int) = spark.range(100 + tag).toDF("id")

  test("default registry storage level is MEMORY_AND_DISK_SER") {
    spark.conf.unset("spark.graft.cache.storageLevel")
    val df = CachedPlans.cached(spark, "cps.level.default")(frame(0))
    try assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK_SER)
    finally CachedPlans.invalidate(spark, "cps.level.default")
  }

  test("storage level is config-gated and validated with the conf key in the error") {
    spark.conf.set("spark.graft.cache.storageLevel", "MEMORY_AND_DISK")
    try {
      val df = CachedPlans.cached(spark, "cps.level.override")(frame(1))
      assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK)
      CachedPlans.invalidate(spark, "cps.level.override")
      spark.conf.set("spark.graft.cache.storageLevel", "NOT_A_LEVEL")
      val e = intercept[IllegalArgumentException] {
        CachedPlans.cached(spark, "cps.level.bad")(frame(2))
      }
      assert(e.getMessage.contains("spark.graft.cache.storageLevel"))
    } finally spark.conf.unset("spark.graft.cache.storageLevel")
  }

  test("LRU cap evicts the least-recently-USED frame and unpersists it") {
    spark.conf.set("spark.graft.cache.maxFrames", "2")
    // distinct plan per key: Spark's CacheManager keys cached data on
    // the logical plan, so same-plan frames would share one cache entry
    var builds = 0
    def get(k: String) = CachedPlans.cached(spark, s"cps.lru.$k") { builds += 1; frame(10 + k.hashCode.abs % 97) }
    try {
      // isolate from frames other suites may have registered
      Seq("a", "b", "c").foreach(k => CachedPlans.invalidate(spark, s"cps.lru.$k"))
      val a = get("a"); val b = get("b")
      get("a") // bump a's recency: b is now the LRU entry
      get("c") // exceeds cap=2 somewhere in the registry — b must go before a
      assert(CachedPlans.contains(spark, "cps.lru.a"), "recently-used frame was evicted")
      assert(!CachedPlans.contains(spark, "cps.lru.b"), "LRU frame survived past the cap")
      assert(b.storageLevel === StorageLevel.NONE, "evicted frame left persisted")
      assert(a.storageLevel !== StorageLevel.NONE, "surviving frame was unpersisted")
    } finally {
      spark.conf.unset("spark.graft.cache.maxFrames")
      Seq("a", "b", "c").foreach(k => CachedPlans.invalidate(spark, s"cps.lru.$k"))
    }
  }

  test("eviction is transparent: a later consumer rebuilds deterministically") {
    spark.conf.set("spark.graft.cache.maxFrames", "1")
    var builds = 0
    def get(k: String) = CachedPlans.cached(spark, s"cps.rebuild.$k") { builds += 1; frame(200 + k.hashCode.abs % 97) }
    try {
      Seq("x", "y").foreach(k => CachedPlans.invalidate(spark, s"cps.rebuild.$k"))
      val n0 = get("x").count()
      get("y") // evicts x under cap=1
      val n1 = get("x").count() // rebuild, same result
      assert(n0 === n1)
      assert(builds === 3, s"expected build, build, rebuild; got $builds")
    } finally {
      spark.conf.unset("spark.graft.cache.maxFrames")
      Seq("x", "y").foreach(k => CachedPlans.invalidate(spark, s"cps.rebuild.$k"))
    }
  }

  test("maxFrames is validated with the conf key in the error") {
    spark.conf.set("spark.graft.cache.maxFrames", "zero")
    try {
      val e = intercept[IllegalArgumentException] {
        CachedPlans.cached(spark, "cps.cap.bad")(frame(5))
      }
      assert(e.getMessage.contains("spark.graft.cache.maxFrames"))
    } finally spark.conf.unset("spark.graft.cache.maxFrames")
  }

  test("concurrent get-or-build of one key runs the builder once; the frame stays persisted") {
    val key = "cps.singleflight"
    CachedPlans.invalidate(spark, key)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val entered = new java.util.concurrent.CountDownLatch(2)
    val release = new java.util.concurrent.CountDownLatch(1)
    def get(): DataFrame = CachedPlans.cached(spark, key) {
      builds.incrementAndGet()
      entered.countDown()
      release.await()
      frame(300)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val call = new java.util.concurrent.Callable[DataFrame] { def call(): DataFrame = get() }
    try {
      val a = pool.submit(call)
      val b = pool.submit(call)
      // a second builder entering (the race) shows up well inside this
      // window; a single-flight registry leaves the latch at 1
      entered.await(500, java.util.concurrent.TimeUnit.MILLISECONDS)
      release.countDown()
      val (fa, fb) = (a.get(60, java.util.concurrent.TimeUnit.SECONDS),
        b.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get === 1, "both threads ran the builder")
      assert(fa eq fb, "the two callers got different frames")
      assert(fa.storageLevel === StorageLevel.MEMORY_AND_DISK_SER,
        "the served frame was unpersisted by the race")
    } finally {
      release.countDown()
      pool.shutdown()
      CachedPlans.invalidate(spark, key)
    }
  }
}
