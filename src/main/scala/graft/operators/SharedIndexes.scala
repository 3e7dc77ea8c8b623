package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The session-shared [[graft.CachedPlans]] indexes in one place — the
  * build-once/serve-many frames that multiple operators read (dedup
  * inverted indexes, verified near-dup pairs, cluster labels, the IVF
  * inverted file, the PQ-encoded corpus, the trade-edge graph).
  *
  * Why a registry of builders exists at all: whichever query touches a
  * shared index FIRST pays its build, so per-query timings attribute a
  * family-wide cost to an arbitrary member. [[materializeAll]] is the
  * explicit offline build phase — `dedup_candidate_index` (which sorts
  * before every consumer in the bench's name-ordered run) forces every
  * entry, so each downstream query times its OWN plan against warm
  * indexes: the build/serve split a production pipeline runs anyway.
  *
  * [[catalogue]] is the one declaration of the index set: the build
  * DAG, [[IndexStore]]'s save/load and the session wipe all iterate it.
  *
  * Intra-query persists (e.g. equidepth's `ranged` self-join input)
  * are deliberately NOT here: with a single consumer, the build IS
  * that query's own cost and belongs in its timing.
  */
object SharedIndexes {

  /** One persisted artifact of a shared index: its directory in a
    * store, the [[graft.CachedPlans]] key its accessor serves it
    * under (`<prefix>:<source dir>`), and the accessor itself, which
    * builds it on first use. */
  sealed trait Artifact {
    def name: String
    def keyPrefix: String
    final def key(d: String): String = s"$keyPrefix:$d"

    /** Write this corpus' artifact (building it if needed) to `dir/name`. */
    def save(s: SparkSession, d: String, dir: String): Unit

    /** Register the artifact saved under `dir` as this session's entry,
      * replacing whatever was cached — consumers then serve it with
      * zero rebuilds. */
    final def load(s: SparkSession, d: String, dir: String): Unit = {
      require(new java.io.File(s"$dir/$name").isDirectory, s"no saved index '$name' under $dir")
      graft.CachedPlans.invalidate(s, key(d))
      register(s, d, s"$dir/$name")
    }

    protected def register(s: SparkSession, d: String, path: String): Unit
  }

  /** A registry-persisted frame, stored as parquet. */
  final case class Frame(name: String, keyPrefix: String,
      get: (SparkSession, String) => DataFrame) extends Artifact {
    def save(s: SparkSession, d: String, dir: String): Unit =
      get(s, d).write.mode("overwrite").parquet(s"$dir/$name")
    protected def register(s: SparkSession, d: String, path: String): Unit =
      graft.CachedPlans.cached(s, key(d))(s.read.parquet(path))
  }

  /** Driver-side quantizer centroids (exact integer micros), stored as
    * one (k, cs) row per centroid. */
  final case class Centroids(name: String, keyPrefix: String,
      get: (SparkSession, String) => Array[Array[Long]]) extends Artifact {
    def save(s: SparkSession, d: String, dir: String): Unit = {
      import s.implicits._
      get(s, d).zipWithIndex.map { case (c, k) => (k, c.toSeq) }.toSeq
        .toDF("k", "cs").coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    }
    protected def register(s: SparkSession, d: String, path: String): Unit = {
      val cents = s.read.parquet(path).orderBy(col("k"))
        .collect().map(_.getSeq[Long](1).toArray)
      require(cents.nonEmpty, s"no centroids under $path")
      graft.CachedPlans.cachedValue(s, key(d))(cents)
    }
  }

  /** One shared index: its build-log name, the indexes that must exist
    * before it builds, its frame — the one [[materializeAll]] forces
    * and counts — and any state that frame's accessor derives and
    * persists on the way (centroids, the rare-shingle vocabulary). */
  final case class SharedIndex(name: String, deps: Seq[String], index: Frame, state: Artifact*) {
    def artifacts: Seq[Artifact] = state :+ index
    def build(s: SparkSession, d: String): DataFrame = index.get(s, d)
    def save(s: SparkSession, d: String, dir: String): Unit = artifacts.foreach(_.save(s, d, dir))
    def load(s: SparkSession, d: String, dir: String): Unit = artifacts.foreach(_.load(s, d, dir))

    /** Drop every persisted entry from this session's registry (the
      * fresh-session half of a save → wipe → load round trip). */
    def wipe(s: SparkSession, d: String): Unit =
      artifacts.foreach(a => graft.CachedPlans.invalidate(s, a.key(d)))
  }

  /** Every cross-operator shared index, in build-log order. A dep
    * names an index whose registry frame the dependent's builder
    * reads, so building the two at once would derive that upstream
    * twice in parallel; everything without deps reads only source
    * tables (or state built single-flight in [[graft.CachedPlans]]). */
  val catalogue: Seq[SharedIndex] = Seq(
    SharedIndex("dedup_shingled", Nil,
      Frame("shingled", "dedup.shingled", DedupOps.shingledDocs)),
    SharedIndex("dedup_hashed_index", Seq("dedup_shingled"),
      Frame("hashed_index", "dedup.hashedIndex", DedupOps.hashedIndex)),
    SharedIndex("dedup_rare_index", Seq("dedup_hashed_index"),
      Frame("rare_index", "dedup.rareIndex", DedupOps.rareIndex),
      Frame("rare_sids", "dedup.rareSids", DedupOps.rareSids)),
    SharedIndex("dedup_minhash_pairs", Seq("dedup_minhash_sigs", "dedup_shingled"),
      Frame("minhash_pairs", "dedup.minhashPairs", DedupOps.minhashPairs)),
    // r15: shared by the minhash pair chain + band curve
    SharedIndex("dedup_minhash_sigs", Seq("dedup_hashed_index"),
      Frame("minhash_sigs", "dedup.minhashSigs", DedupOps.corpusSigs)),
    // r15: shared by ngram + lsh_audit + band curve
    SharedIndex("dedup_ngram_pairs", Seq("dedup_rare_index", "dedup_shingled"),
      Frame("ngram_pairs", "dedup.ngramPairs", DedupOps.ngramPairs)),
    SharedIndex("dedup_cluster_labels", Seq("dedup_minhash_pairs"),
      Frame("cluster_labels", "dedup.clusterLabels", DedupOps.clusterLabels)),
    SharedIndex("dedup_simhash_docs", Nil,
      Frame("simhash_docs", "dedup.simhashDocs", DedupOps.simhashDocs)),
    SharedIndex("knn_ivf_assigned", Nil, // forces corpus + 16-cell Lloyd fit
      Frame("ivf_assigned", "knn.ivf.assigned", IvfIndex.assigned),
      Centroids("ivf_centroids", "knn.ivf.centroids", IvfIndex.centroidsOf)),
    // r11: was triple-built by its audit family
    SharedIndex("knn_graph_edges", Nil,
      Frame("knn_graph_edges", "knn.graphEdges", KnnOps.knnGraphEdges)),
    // r12: 15 text ops re-exploded documents independently
    SharedIndex("text_tokens", Nil,
      Frame("text_tokens", "text.tokens", TextOps.tokenized)),
    SharedIndex("emb_km_assigned", Nil, // forces the 4-cell exact-Lloyd loop
      Frame("km_assigned", "emb.kmAssigned", EmbedOps.kmAssigned),
      Centroids("km_centroids", "emb.kmCentroids", EmbedOps.kmCentroids)),
    SharedIndex("emb_pq_codes", Nil,
      Frame("pq_codes", "emb.pqCodes", EmbedOps.pqCodes)),
    SharedIndex("affinity_basket_pairs", Nil,
      Frame("basket_pairs", "affinity.pairs", AffinityOps.basketPairs)),
    SharedIndex("graph_trade_edges", Nil,
      Frame("trade_edges", "graph.tradeEdges", GraphOps.tradeEdges)),
    SharedIndex("graph_und_edges", Seq("graph_trade_edges"),
      Frame("und_edges", "graph.undTradeEdges", GraphOps.undirectedTradeEdges)))

  /** Per-index build seconds of every [[materializeAll]] call this
    * JVM, in call order (r16, verdict #6): `dedup_candidate_index`
    * carries the whole session's shared-index build, and the bench
    * artifact now shows WHICH index costs what instead of a manual
    * attribution paragraph. Drained by [[graft.Bench]] into the
    * artifact's `index_build_sec_run1/2` maps; each entry also logs a
    * `[index-build]` stderr line at build time. */
  private val buildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

  /** Remove and return every timing recorded since the last drain. */
  def drainBuildLog(): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var e = buildLog.poll()
    while (e != null) { out += e; e = buildLog.poll() }
    out.toSeq
  }

  /** Build-pool width, measured: the cold sf0.1 build phase took
    * 33–34 s sequential → 19.6–20.7 s at 3 threads → 16.4–16.8 s at 6,
    * diminishing past that (the dedup dependency chain bounds the
    * usable width). */
  private val BuildThreads = 6

  /** Force-build and materialize every shared index; returns each
    * index's name and row count (all deterministic corpus statistics).
    *
    * Disk round trip (r10): when a completed [[IndexStore]] exists for
    * this corpus, the saved artifacts are swapped into the session
    * registry FIRST, so the "build" below is a warm serve (parquet
    * reads, zero re-derivation — the counts are identical by
    * determinism). Otherwise the freshly built indexes are written to
    * the store, making the NEXT session's build phase a load.
    *
    * Concurrency (r17, guide §2.6 "overlap independent jobs"): the 16
    * builds ran strictly sequentially, so every build's straggler tail
    * left the cluster idle — the single largest attributable cost
    * block in the bench (r16 verdict #2). Independent builds are now
    * submitted from a small pool of [[BuildThreads]] threads (enough
    * to back-fill a finishing job's tail, not enough to thrash the
    * scheduler); each catalogue dep is enforced by Future composition
    * — a dependent schedules only after its upstream registry entry
    * exists. Upstreams two roots share without a dep edge (the scaled
    * embedding corpus) are built once by [[graft.CachedPlans]]'
    * single-flight get-or-build. Determinism is untouched: each
    * index's rows are the same corpus statistics regardless of build
    * interleaving, and the returned sequence keeps [[catalogue]]
    * order. */
  def materializeAll(s: SparkSession, d: String): Seq[(String, Long)] = {
    val useStore = IndexStore.enabled(s)
    val served = useStore && IndexStore.isComplete(s, d)
    if (served) IndexStore.loadAll(s, d)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(BuildThreads, r => {
      val t = new Thread(r, "graft-index-build"); t.setDaemon(true); t
    })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val counts =
      try {
        val byName = catalogue.map(i => i.name -> i).toMap
        val futures = scala.collection.mutable.HashMap.empty[String, scala.concurrent.Future[Long]]
        def futureFor(name: String): scala.concurrent.Future[Long] =
          futures.getOrElseUpdate(name, {
            val index = byName(name)
            scala.concurrent.Future.sequence(index.deps.map(futureFor)).map { _ =>
              s.sparkContext.setJobDescription(s"index-build: $name")
              val t0 = System.nanoTime()
              val n = index.build(s, d).count()
              val sec = (System.nanoTime() - t0) / 1e9
              buildLog.add((name, math.rint(sec * 100) / 100))
              System.err.println(
                f"[index-build] $name: $n rows, $sec%.2f s (${if (served) "served from store" else "built"})")
              n
            }
          })
        catalogue.foreach(i => futureFor(i.name)) // single-threaded creation
        catalogue.map { i =>
          i.name -> scala.concurrent.Await.result(
            futures(i.name), scala.concurrent.duration.Duration.Inf)
        }
      } finally pool.shutdown()
    if (useStore) IndexStore.saveAll(s, d) // no-op when already complete
    counts
  }
}
