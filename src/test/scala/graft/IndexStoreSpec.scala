package graft

import graft.operators.{AffinityOps, EmbedOps, GraphOps, IndexStore, IvfIndex, SharedIndexes}
import org.scalatest.funsuite.AnyFunSuite

/** The WHOLE shared-index registry must survive a session restart —
  * the DedupIndexPersistSpec contract widened to every family
  * (trade edges, basket pairs, PQ codes, IVF, exact k-means): the
  * offline build (`dedup_candidate_index`) writes the store once, a
  * "fresh session" (same JVM, wiped registries) serves every consumer
  * from disk, and the per-family build counters prove nothing was
  * re-derived. Also pins the staleness guard: a touched source file
  * invalidates the store. */
class IndexStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("materializeAll: build+save, wipe, then serve EVERY family with zero rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-index-store").toString
    spark.conf.set("spark.graft.index.store.dir", dir)
    try {
      // fresh store for this corpus: first materialize builds + saves
      IndexStore.wipeSession(spark, sf)
      val counts0 = SharedIndexes.materializeAll(spark, sf)
      assert(IndexStore.isComplete(spark, sf), "store not marked complete after build")
      // the catalogue's keys are the ones its builders register under
      val unregistered = for (i <- SharedIndexes.catalogue; a <- i.artifacts
        if !CachedPlans.contains(spark, a.key(sf))) yield s"${i.name}/${a.name}"
      assert(unregistered.isEmpty, s"catalogue keys no builder registers: $unregistered")

      val dedupCounts = new java.util.HashMap(graft.operators.DedupOps.buildCount)
      val (fits0, lloyd0, pq0, edges0, pairs0, graph0) =
        (IvfIndex.fitCount, EmbedOps.lloydRuns, EmbedOps.pqBuilds,
          GraphOps.edgeBuilds, AffinityOps.pairBuilds, graft.operators.KnnOps.graphBuilds)
      val toks0 = graft.operators.TextOps.tokenBuilds

      // "restart": wipe every registry entry, then materialize again —
      // must LOAD, not rebuild
      IndexStore.wipeSession(spark, sf)
      val counts1 = SharedIndexes.materializeAll(spark, sf)
      assert(counts1 === counts0, "loaded store served different index statistics")
      assert(graft.operators.DedupOps.buildCount === dedupCounts,
        "a dedup index was rebuilt after load")
      assert(IvfIndex.fitCount === fits0, "the MLlib quantizer was refit after load")
      assert(EmbedOps.lloydRuns === lloyd0, "the exact-Lloyd loop re-ran after load")
      assert(EmbedOps.pqBuilds === pq0, "the PQ corpus was re-encoded after load")
      assert(GraphOps.edgeBuilds === edges0, "the trade-edge derivation re-ran after load")
      assert(AffinityOps.pairBuilds === pairs0, "the basket self-join re-ran after load")
      assert(graft.operators.KnnOps.graphBuilds === graph0,
        "the k-NN graph was rebuilt after load")
      assert(graft.operators.TextOps.tokenBuilds === toks0,
        "the token frame was re-derived after load")

      // downstream consumers serve the loaded artifacts and agree
      val pr = SparkEntry.queries("graph_pagerank")(spark, sf).collect()
      assert(pr.nonEmpty)
      val cp = SparkEntry.queries("q_copurchase")(spark, sf).collect()
      assert(cp.nonEmpty)

      // the k-NN graph's audit family shares ONE build (r11: recall +
      // hubness used to re-run the construction they audit)
      val before = graft.operators.KnnOps.graphBuilds
      SparkEntry.queries("knn_graph")(spark, sf).collect()
      SparkEntry.queries("knn_graph_recall")(spark, sf).collect()
      SparkEntry.queries("knn_hubness")(spark, sf).collect()
      assert(graft.operators.KnnOps.graphBuilds === before,
        "a knn_graph consumer rebuilt the shared edge frame")

      // the shared token frame (r12) serves its 15 text consumers from
      // the loaded parquet — no re-tokenization of the corpus
      val tokBefore = graft.operators.TextOps.tokenBuilds
      val tfidf = SparkEntry.queries("text_tfidf")(spark, sf).collect()
      assert(tfidf.nonEmpty)
      SparkEntry.queries("text_bm25")(spark, sf).collect()
      SparkEntry.queries("text_top_bigrams")(spark, sf).collect()
      assert(graft.operators.TextOps.tokenBuilds === tokBefore,
        "a text consumer re-derived the shared token frame after load")
    } finally {
      spark.conf.unset("spark.graft.index.store.dir")
    }
  }

  test("a regenerated corpus at the same path invalidates the store") {
    // work on a COPY of the corpus (the real testdata is read-only)
    val corpus = java.nio.file.Files.createTempDirectory("graft-corpus-copy").toString
    val src = java.nio.file.Paths.get(sf)
    java.nio.file.Files.walk(src).forEach { p =>
      val dst = java.nio.file.Paths.get(corpus, src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-index-stale").toString
    spark.conf.set("spark.graft.index.store.dir", dir)
    try {
      SharedIndexes.materializeAll(spark, corpus)
      assert(IndexStore.isComplete(spark, corpus))
      // "regenerate" the corpus: touch one source part-file's mtime
      val docs = new java.io.File(corpus, "documents.parquet")
      val part = (if (docs.isDirectory) docs.listFiles().filter(_.isFile).sortBy(_.getName)
                  else Array(docs)).head
      assert(part.setLastModified(part.lastModified + 73000), "could not touch source file")
      assert(!IndexStore.isComplete(spark, corpus),
        "store still served after the source corpus changed")
    } finally {
      spark.conf.unset("spark.graft.index.store.dir")
      IndexStore.wipeSession(spark, corpus)
    }
  }

  test("store disabled -> materializeAll never writes a store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-index-off").toString
    spark.conf.set("spark.graft.index.store.dir", dir)
    spark.conf.set("spark.graft.index.store.enabled", "false")
    try {
      SharedIndexes.materializeAll(spark, sf)
      val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      assert(files.isEmpty, s"disabled store still wrote artifacts: ${files.toSeq}")
    } finally {
      spark.conf.set("spark.graft.index.store.enabled", "true")
      spark.conf.unset("spark.graft.index.store.dir")
    }
  }
}
