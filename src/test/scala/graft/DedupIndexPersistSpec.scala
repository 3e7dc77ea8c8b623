package graft

import org.scalatest.funsuite.AnyFunSuite

/** The build-once/serve-many split must survive a session restart:
  * save the text-side (dedup_*) catalogue rows to parquet, WIPE the session
  * registry (the fresh-session stand-in — same JVM, zero cached
  * frames), load, and serve the dedup family. DedupOps.buildCount
  * pins that no build lambda ran after the load (the KnnSpec
  * save→wipe→load model applied to the shingle family). */
class DedupIndexPersistSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val dedup = graft.operators.SharedIndexes.catalogue.filter(_.name.startsWith("dedup_"))

  test("save -> wipe -> load serves dedup_ngram/minhash/clusters with zero rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-idx").toString
    def run(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq

    val ngram0 = run("dedup_ngram")
    val minhash0 = run("dedup_minhash")
    val clusters0 = run("dedup_clusters")
    val simhash0 = run("dedup_simhash")

    dedup.foreach(_.save(spark, sf, dir))
    val counts = new java.util.HashMap(graft.operators.DedupOps.buildCount)

    dedup.foreach(_.wipe(spark, sf))
    dedup.foreach(_.load(spark, sf, dir))

    assert(run("dedup_ngram") === ngram0)
    assert(run("dedup_minhash") === minhash0)
    assert(run("dedup_clusters") === clusters0)
    assert(run("dedup_simhash") === simhash0)
    assert(graft.operators.DedupOps.buildCount === counts,
      "a shared index was rebuilt after load — the persisted artifact was not served")
  }

  test("load refuses a directory with missing artifacts") {
    val empty = java.nio.file.Files.createTempDirectory("graft-dedup-empty").toString
    intercept[IllegalArgumentException] {
      dedup.foreach(_.load(spark, sf, empty))
    }
  }
}
