package graft

import graft.operators.KnnOps
import org.scalatest.funsuite.AnyFunSuite

class KnnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.01"

  test("lsh ANN recall@10 vs brute force") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(KnnOps.brute.run(spark, sf))
    val approx = pairs(KnnOps.lsh.run(spark, sf))
    assert(exact.size === 50)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall below floor")
    info(s"recall@10 = $recall")
  }

  test("lsh corpus path is shuffle-free (signatures per-row, candidates broadcast)") {
    val plan = KnnOps.lsh.run(spark, sf).queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    // only the small-candidate distinct and the per-query window may
    // hash-shuffle; the corpus is never exploded ×(L·B) nor shuffled
    assert(shuffles <= 2, s"expected <=2 hash shuffles, got $shuffles:\n$plan")
  }

  test("ivf ANN recall@10 vs brute force") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(KnnOps.brute.run(spark, sf))
    val approx = pairs(KnnOps.ivf.run(spark, sf))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"ivf recall $recall below floor")
    info(s"ivf recall@10 = $recall")
  }

  test("ivf recall curve: monotone non-decreasing in nprobe, top rung beats bottom") {
    val rows = KnnOps.ivfRecallCurve.run(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(3))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1, 2, 4, 8))
    rows.sliding(2).foreach { case Array((n1, r1), (n2, r2)) =>
      assert(r2 >= r1, s"recall must not drop as probes widen: nprobe $n1→$n2 gave $r1→$r2")
    }
    assert(rows.last._2 > rows.head._2,
      "widening 1→8 probes should strictly improve recall on this corpus")
    info(s"recall_ppm by nprobe: ${rows.mkString(", ")}")
  }

  test("pq ADC recall@10 vs brute force; corpus codes shared across runs") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(KnnOps.brute.run(spark, sf))
    val approx = pairs(KnnOps.pqAdc.run(spark, sf))
    val recall = (exact & approx).size.toDouble / exact.size
    // 4-bit seeded codewords on i.i.d. vectors are PQ's worst case;
    // the top-100 shortlist + exact rerank lifts recall to ~0.76 —
    // floor set with margin
    assert(recall >= 0.6, s"pq recall $recall below floor")
    info(s"pq recall@10 = $recall")
    // the top-10 the rerank emits must be exactly the best of its
    // shortlist: every emitted pair carries the true cosine, so any
    // pair ALSO in the exact top-10 must agree with brute's ranking
    val run2 = pairs(KnnOps.pqAdc.run(spark, sf))
    assert(run2 === approx, "ADC serve must be deterministic across runs")
  }

  test("ivf quantizer is fit once and reused across query runs; rebuild refits") {
    import graft.operators.IvfIndex
    val first = KnnOps.ivf.run(spark, sf).collect()
    val afterFirst = IvfIndex.fitCount
    val second = KnnOps.ivf.run(spark, sf).collect()
    assert(IvfIndex.fitCount === afterFirst,
      "second query run must reuse the persisted index, not refit KMeans")
    assert(first.map(_.toString).sorted.sameElements(second.map(_.toString).sorted))
    // explicit rebuild entry point retrains exactly once
    IvfIndex.rebuild(spark, sf)
    KnnOps.ivf.run(spark, sf).collect()
    assert(IvfIndex.fitCount === afterFirst + 1)
  }

  test("ivf index survives a save/load round trip with zero refits") {
    import graft.operators.{IvfIndex, SharedIndexes}
    val ivfIndex = SharedIndexes.catalogue.find(_.name == "knn_ivf_assigned").get
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val before = KnnOps.ivf.run(spark, sf).collect().map(_.toString).sorted
    ivfIndex.save(spark, sf, idxDir)
    // wipe the in-session index — the load path must restore BOTH the
    // quantizer registry and the inverted file from disk
    IvfIndex.rebuild(spark, sf)
    val fits = IvfIndex.fitCount
    ivfIndex.load(spark, sf, idxDir)
    val after = KnnOps.ivf.run(spark, sf).collect().map(_.toString).sorted
    assert(IvfIndex.fitCount === fits,
      "serving from a loaded index must not refit KMeans")
    assert(after.sameElements(before), "loaded index changed query results")
  }

  test("ivf build op emits full cell occupancy (every corpus vector indexed)") {
    import graft.operators.IvfIndex
    val occ = KnnOps.ivfBuild.run(spark, sf).collect()
    val total = occ.map(_.getLong(1)).sum
    val corpus = graft.sources.Tables.embeddings(spark, sf).count()
    assert(total === corpus, "every vector must land in exactly one cell")
    assert(occ.length <= IvfIndex.K_CELLS && occ.length > 1)
  }
}
