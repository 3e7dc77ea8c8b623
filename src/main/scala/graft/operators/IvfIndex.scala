package graft.operators

import graft.functions.Exprs
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index lifecycle, split into the two phases a
  * production deployment has (cf. the reference's one-time
  * `system.columns` lookup in open() vs per-batch work):
  *
  *  - **build** (offline, once per corpus): train the coarse
  *    quantizer, keep the k centroids driver-side (k×DIM longs —
  *    tiny), and materialize the cell assignment of every corpus
  *    vector as a persisted plan. At 100 TB this is the expensive
  *    index-construction job that runs once and is reused by every
  *    query batch.
  *  - **query** (serve path): route each query to its `nprobe` nearest
  *    centroids driver-side and brute-force only those cells. No
  *    refit, no corpus re-assignment.
  *
  * r15: the coarse quantizer is the engine's own EXACT-arithmetic
  * Lloyd schedule ([[EmbedOps.kmLloydK]] at 16 cells over the shared
  * micros-snapped corpus) instead of MLlib KMeans — bit-identical
  * across engines, so the whole IVF family (knn_index_build / knn_ivf
  * / knn_ivf_recall_curve) is now DuckDB-oracle hash-checkable: the
  * oracle regenerates the same 16 centroids from the same seeds with
  * chained CTEs ([[EmbedOps.kmCtesFor]]). Cell assignment bakes the 16
  * centroids into the plan as literals and takes argmin of exact
  * BIGINT L2 (ties to the smaller cell id) through one codegen'd
  * projection; the serve-path cosine ranking is unchanged (fold-order
  * dot products on unit vectors — the knn_brute parity discipline).
  */
object IvfIndex {

  private[graft] val K_CELLS = 16

  /** Fit counter, test-visible: the reuse contract is "two query runs,
    * one fit" and a spec asserts it. */
  @volatile private[graft] var fitCount = 0

  /** Unit-normalized corpus WITH labels — the one normalization pass
    * every serve-path consumer (brute / classify / filtered / MMR /
    * range / outlier / hard-negative) reads; registry-persisted so the
    * per-query cost is the scan, not a parquet re-read + re-normalize
    * (the r7 bench's cold-pass spread across the knn family). */
  private[operators] def corpusLabeled(s: SparkSession, d: String): DataFrame =
    graft.CachedPlans.cached(s, s"knn.corpusLabeled:$d") {
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          Exprs.unit(Exprs.vecAsDouble(col("embedding"))).as("u"))
    }

  /** Unit-normalized corpus projection shared by build and serve. */
  private[operators] def corpus(s: SparkSession, d: String): DataFrame =
    corpusLabeled(s, d).select(col("vec_id"), col("u"))

  /** Get-or-train the coarse quantizer's centroids for this corpus —
    * integer micros, [[EmbedOps.kmLloydK]] at 16 cells over the SAME
    * registry-persisted scaled corpus emb_kmeans clusters (one
    * snap-to-micros pass feeds both quantizers). The registry's
    * single-flight build means two cold-start callers pay ONE Lloyd
    * loop (the one-fit contract KnnSpec pins). */
  def centroidsOf(s: SparkSession, d: String): Array[Array[Long]] =
    graft.CachedPlans.cachedValue(s, s"knn.ivf.centroids:$d") {
      fitCount += 1
      EmbedOps.kmLloydK(EmbedOps.kmScaledShared(s, d), K_CELLS)
    }

  /** Persisted cell assignment (vec_id, u, cell) — the inverted file.
    * One linear pass, NO join: the projection carries both the unit
    * vector (serve-path cosine) and the micros snap, and
    * [[EmbedOps.kmAssign]] adds the argmin cell (16 literal-centroid
    * exact-L2 distances, ties to the smaller cell id). */
  def assigned(s: SparkSession, d: String): DataFrame = {
    val cents = centroidsOf(s, d) // ensure the quantizer exists first
    graft.CachedPlans.cached(s, s"knn.ivf.assigned:$d") {
      val base = Tables.embeddings(s, d).select(col("vec_id"),
        Exprs.unit(Exprs.vecAsDouble(col("embedding"))).as("u"),
        expr(EmbedOps.microsSnapSql).as("xs"))
      EmbedOps.kmAssign(base, cents)
        .select(col("vec_id"), col("u"), col("k").as("cell"))
    }
  }

  /** Drop this corpus's index (quantizer + assignment) so the next
    * access retrains — the rebuild entry point after corpus growth. */
  def rebuild(s: SparkSession, d: String): Unit = {
    graft.CachedPlans.invalidate(s, s"knn.ivf.centroids:$d")
    graft.CachedPlans.invalidate(s, s"knn.ivf.assigned:$d")
  }
}
