package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for shared persisted plans (dedup inverted
  * indexes, ANN corpus projections) and the driver-side values built
  * with them (quantizer centroids, materialized table copies). Reusing
  * the SAME DataFrame instance — instead of re-persisting an identical
  * plan — avoids CacheManager's "Asked to cache already cached data"
  * double-persist, and gives the caches an explicit unpersist
  * lifecycle instead of living until session teardown.
  *
  * Storage and lifecycle (r11, after three driver rounds showed
  * heap-pressure amplification across a 386-query session):
  *
  *  - Frames persist at `spark.graft.cache.storageLevel` (default
  *    MEMORY_AND_DISK_SER): serialized batches are several times
  *    smaller than deserialized row objects and EVICT TO DISK instead
  *    of thrashing the old-gen — on a bounded driver heap the
  *    difference between a steady session and the 2–5× tail the
  *    TypedImperativeAggregate builders showed under GC pressure.
  *  - The registry is LRU-capped at `spark.graft.cache.maxFrames`
  *    frames (default 48 — above any single corpus' full registry, so
  *    a bench session never evicts, while a session that touches many
  *    corpora sheds the oldest corpus' frames instead of accreting
  *    every dir's indexes until OOM). Evicted frames unpersist; a
  *    later consumer transparently rebuilds via its own builder
  *    closure (builders are deterministic). The rebuild runs that
  *    frame's FULL derivation, never a store load, so it re-bumps the
  *    family build counters (DedupOps.buildCount and friends); the
  *    driver-side values are never evicted, so a rebuilt IVF or
  *    k-means assignment reuses its centroids. Keep `maxFrames` at or
  *    above a corpus' registry size if the zero-rebuild counter
  *    contract matters to the caller.
  *
  * Session lifecycle (r17, fixing the r16-verdict finding that the
  * previous WeakHashMap's weakness was ILLUSORY — the map's values
  * are DataFrames, which strongly reference their SparkSession, so a
  * value→key strong path kept every entry reachable forever): the
  * registry keys sessions strongly and instead SWEEPS, on every
  * access, the entries of sessions whose SparkContext has stopped —
  * the lifecycle event that actually ends a session (their persisted
  * blocks died with the context; nothing to unpersist). A session
  * forked off a still-running context (`newSession()`) pins its
  * entries until [[clear]].
  *
  * Concurrency: get-or-build is single-flight per (session, key). The
  * first caller runs the builder with no registry lock held; a
  * concurrent caller of the same key waits for that build and gets the
  * same frame. A key is never derived twice at once, so no racing copy
  * is ever unpersisted — which mattered because CacheManager uncaches
  * by plan equality, so a losing copy's unpersist used to drop the
  * winner's cached data as well (the concurrent index build reaches
  * `emb.kmScaled` from two roots at once).
  */
object CachedPlans {

  /** Validated storage level for registry persists. Fails with the
    * conf key in the message (the GraphOps.roots validation pattern)
    * instead of a bare parse error. */
  private[graft] def storageLevel(s: SparkSession): StorageLevel = {
    val v = s.conf.getOption("spark.graft.cache.storageLevel")
      .map(_.trim).filter(_.nonEmpty).getOrElse("MEMORY_AND_DISK_SER")
    try StorageLevel.fromString(v.toUpperCase(java.util.Locale.ROOT))
    catch {
      case _: IllegalArgumentException =>
        throw new IllegalArgumentException(
          "spark.graft.cache.storageLevel must be a Spark StorageLevel name " +
            s"(e.g. MEMORY_AND_DISK_SER, MEMORY_AND_DISK, DISK_ONLY); got '$v'")
    }
  }

  /** Validated LRU capacity for the per-session registry. */
  private[graft] def maxFrames(s: SparkSession): Int = {
    val key = "spark.graft.cache.maxFrames"
    val v = s.conf.getOption(key).map(_.trim).getOrElse("48")
    val n =
      try v.toInt
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$key must be a positive integer; got '$v'")
      }
    require(n > 0, s"$key must be a positive integer; got $n")
    n
  }

  /** One session's registry: finished entries in ACCESS order
    * (re-inserted on every hit, so the head is always the
    * least-recently-used one) and the builds still in flight. Guarded
    * by its own lock, which is never held while a builder runs. */
  private final class Registry {
    val done = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val building = scala.collection.mutable.HashMap.empty[
      String, java.util.concurrent.CompletableFuture[Any]]
  }

  // Strong session keys + stopped-context sweep (see lifecycle note above).
  private val registries =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Registry]()

  /** The session's registry, after dropping every registry whose
    * session's context has stopped (its persisted blocks are already
    * gone — removal only releases the driver-side objects). */
  private def registry(s: SparkSession): Registry = {
    val it = registries.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
    registries.computeIfAbsent(s, _ => new Registry)
  }

  /** Move `key` to most-recently-used position (caller holds r's lock). */
  private def touch(r: Registry, key: String): Option[Any] =
    r.done.remove(key).map { v => r.done.update(key, v); v }

  /** Single-flight get-or-build: the first caller of a missing key
    * becomes its builder; every concurrent caller waits on that
    * build's latch and receives the same value (or the same failure).
    * A registered DataFrame sheds least-recently-used frames beyond
    * `spark.graft.cache.maxFrames`; other values never count. */
  private def getOrBuild[T](s: SparkSession, key: String)(build: => T): T = {
    val r = registry(s)
    val (flight, leader) = r.synchronized {
      touch(r, key) match {
        case Some(v) => (java.util.concurrent.CompletableFuture.completedFuture(v), false)
        case None => r.building.get(key) match {
          case Some(f) => (f, false)
          case None =>
            val f = new java.util.concurrent.CompletableFuture[Any]()
            r.building.update(key, f)
            (f, true)
        }
      }
    }
    if (leader)
      try {
        val v = build
        val evicted = r.synchronized {
          r.building.remove(key)
          r.done.update(key, v)
          if (v.isInstanceOf[DataFrame]) overCap(r, maxFrames(s)) else Nil
        }
        evicted.foreach(release)
        flight.complete(v)
      } catch {
        case e: Throwable =>
          r.synchronized(r.building.remove(key))
          flight.completeExceptionally(e)
      }
    try flight.join().asInstanceOf[T]
    catch { case e: java.util.concurrent.CompletionException => throw e.getCause }
  }

  /** Remove the least-recently-used frames beyond `cap` (caller holds
    * r's lock). The entry just inserted sits at the tail, so it never
    * goes. */
  private def overCap(r: Registry, cap: Int): List[DataFrame] = {
    val frames = r.done.toList.collect { case (k, df: DataFrame) => (k, df) }
    val lru = frames.take(frames.size - cap)
    lru.foreach { case (k, _) => r.done.remove(k) }
    lru.map(_._2)
  }

  /** Unpersist a dropped entry when it is a frame. */
  private def release(v: Any): Unit = v match {
    case df: DataFrame => df.unpersist(blocking = false)
    case _ =>
  }

  /** Get-or-build the persisted plan for `key` in this session. */
  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    getOrBuild(s, key) {
      maxFrames(s) // validate confs BEFORE building
      val level = storageLevel(s)
      build.persist(level)
    }

  /** Get-or-build a driver-side value for `key` — the centroids a
    * quantizer fitted, or a session-scoped materialized path such as a
    * format-converted copy of a table. Same single-flight build and
    * session lifecycle as [[cached]]; values are never evicted. */
  def cachedValue[T](s: SparkSession, key: String)(build: => T): T =
    getOrBuild(s, key)(build)

  /** True when `key` currently holds a registry entry (test hook for
    * the LRU-eviction contract; does not bump recency). */
  private[graft] def contains(s: SparkSession, key: String): Boolean = {
    val r = registry(s)
    r.synchronized(r.done.contains(key))
  }

  /** Drop ONE entry, unpersisting it when it is a frame (no-op when
    * absent) — the rebuild path for registry entries that can go stale
    * (e.g. an ANN index after corpus growth). */
  def invalidate(s: SparkSession, key: String): Unit = {
    val r = registry(s)
    r.synchronized(r.done.remove(key)).foreach(release)
  }

  /** Unpersist and drop every entry this session registered. */
  def clear(s: SparkSession): Unit =
    Option(registries.remove(s)).foreach { r =>
      r.synchronized {
        r.done.values.foreach(release)
        r.done.clear()
      }
    }
}
