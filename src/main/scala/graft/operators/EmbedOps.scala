package graft.operators

import graft.GraftOp
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-column analytics beyond search: per-class centroids and
  * scalar quantization — the vector-pipeline ops that sit next to the
  * ANN family (KnnOps) in a training-data stack.
  *
  * Oracle parity: all vector math runs in DOUBLE on both engines
  * (float→double widening is exact), aggregate outputs are rounded to 6
  * decimals so partial-aggregation fold-order noise (~1e-15) cannot
  * surface, and min/max are fold-order-free so quantization arithmetic
  * is bit-identical.
  */
object EmbedOps {

  /** PQ geometry shared with KnnOps' ADC server: 8 subspaces × 8 dims,
    * 16 codewords each (4-bit codes). Declared ahead of the ops —
    * object vals initialize in order, and the oracle SQL interpolates
    * these eagerly. */
  private[operators] val PqM = 8
  private[operators] val PqSub = 8
  private[operators] val PqK = 16

  /** Per-label centroid, emitted exploded as (label, dim, value) —
    * scalar columns, so the result is fully oracle-checkable. At scale
    * the explode multiplies rows ×dim but partial aggregation folds
    * them map-side; the shuffle carries only |labels|×dim groups. */
  val centroids: GraftOp = GraftOp(
    "emb_centroids",
    """WITH e AS (
      |  SELECT label,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
      |    unnest(embedding) AS v
      |  FROM embeddings)
      |SELECT label, dim, round(avg(v), 6) AS centroid
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .toDF("label", "dim", "v")
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v").cast(DoubleType)), 6).as("centroid"))
      .orderBy(col("label"), col("dim"))
  }

  /** Scalar (SQ8-style) quantization: per-dimension corpus min/max,
    * then each value mapped to an 8-bit code — the compression step an
    * IVF-SQ index applies to residuals. Two passes: a dim-wise min/max
    * aggregate (broadcast back, |dim| rows), then a pure map. Emitted
    * as per-(vec_id, dim) codes for a hash-exact oracle; min/max have
    * no fold-order ambiguity, so the arithmetic matches bit-for-bit. */
  val quantize: GraftOp = GraftOp(
    "emb_quantize",
    """WITH e AS (
      |  SELECT vec_id,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |rng AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM e GROUP BY 1)
      |SELECT vec_id, e.dim AS dim,
      |  CASE WHEN hi = lo THEN 0
      |       ELSE CAST(round((v - lo) / (hi - lo) * 255, 0) AS INT) END AS code
      |FROM e JOIN rng ON e.dim = rng.dim
      |WHERE vec_id < 100
      |ORDER BY vec_id, dim""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "dim", "v")
      .withColumn("v", col("v").cast(DoubleType))
    val rng = e.groupBy(col("dim").as("rdim"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    e.join(broadcast(rng), col("dim") === col("rdim"))
      .filter(col("vec_id") < 100)
      .select(col("vec_id"), col("dim"),
        // constant (dead/zero-padded) dimension: 0/0 would be NaN —
        // Spark's cast renders 0 but the oracle's ANSI cast errors
        when(col("hi") === col("lo"), 0)
          .otherwise(round((col("v") - col("lo")) / (col("hi") - col("lo")) * 255, 0)
            .cast(IntegerType)).as("code"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Matryoshka (MRL) truncation: keep the first 16 dims of each
    * embedding and re-normalize — the train-big/serve-small move that
    * trades recall for a dim/16 memory and dot-product cost cut. The
    * quality signal emitted per vector is the retained-norm fraction
    * ‖v[:16]‖/‖v‖ (how much of the vector's mass the prefix keeps —
    * the quantity MRL training maximizes). Same fold-order-exact
    * norm arithmetic as the rest of the family: identical left-fold
    * on both engines, rounded to 6. Pure map, no shuffle. */
  val matryoshka: GraftOp = GraftOp(
    "emb_matryoshka",
    s"""WITH e AS (
       |  SELECT vec_id, ${graft.functions.Exprs.sqlVecAsDouble("embedding")} AS v
       |  FROM embeddings),
       |t AS (SELECT vec_id, v, v[1:16] AS p FROM e)
       |SELECT vec_id,
       |  round(sqrt(${graft.functions.Exprs.sqlNormSq("p")}), 6) AS prefix_norm,
       |  round(sqrt(${graft.functions.Exprs.sqlNormSq("p")})
       |    / sqrt(${graft.functions.Exprs.sqlNormSq("v")}), 6) AS retained
       |FROM t ORDER BY vec_id""".stripMargin) { (s, d) =>
    val v = graft.functions.Exprs.vecAsDouble(col("embedding"))
    val p = slice(v, 1, 16)
    def norm(c: org.apache.spark.sql.Column) =
      sqrt(graft.functions.Exprs.dot(c, c))
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        round(norm(p), 6).as("prefix_norm"),
        round(norm(p) / norm(v), 6).as("retained"))
      .orderBy(col("vec_id"))
  }

  /** Random-projection dimensionality reduction 64 → 16 (the
    * Johnson–Lindenstrauss / SimHash-plane compression step): each
    * output dim is the dot product with a ±1 plane whose signs derive
    * from the portable md5 hash of (plane#dim) — a SEEDED projection
    * both engines can regenerate independently, no shipped matrix.
    * Planes enter the Spark plan as array literals into the codegen'd
    * VecDot kernel (pure map — zero shuffle, the projection of 100 TB
    * is embarrassingly parallel); the oracle recomputes the same signs
    * from the same hash and folds the dot in the same ascending order.
    * Output exploded to (vec_id, dim, value) scalars. */
  val project: GraftOp = GraftOp(
    "emb_project", {
      val planeSql = (0 until 16).map { j =>
        val signs = graft.functions.Exprs.sqlSeededPlane(j, 64)
        s"SELECT vec_id, $j AS dim, round(${graft.functions.Exprs.sqlDot("e", signs)} / 8.0, 6) AS value FROM v"
      }.mkString("\nUNION ALL\n")
      s"""WITH v AS (SELECT vec_id, ${graft.functions.Exprs.sqlVecAsDouble("embedding")} AS e FROM embeddings)
         |SELECT vec_id, dim, value FROM (
         |$planeSql
         |) ORDER BY vec_id, dim""".stripMargin
    }) { (s, d) =>
    // same signs, computed driver-side with the identical md5 formula
    val planes: Seq[Seq[Double]] = graft.functions.Exprs.seededPlanes(16, 64)
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), graft.functions.Exprs.vecAsDouble(col("embedding")).as("e"))
    val dims = planes.zipWithIndex.map { case (plane, j) =>
      struct(lit(j).cast(IntegerType).as("dim"),
        round(graft.functions.vec_dot(col("e"), typedLit(plane)) / 8.0, 6).as("value"))
    }
    v.select(col("vec_id"), explode(array(dims: _*)).as("p"))
      .select(col("vec_id"), col("p.dim"), col("p.value"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Product-quantization encode (Jégou et al. 2011): the 64-dim unit
    * vector split into 8 subspaces of 8 dims, each mapped to its
    * nearest of 16 codewords — 4 bits per subspace, a 32-bit code per
    * vector (64× smaller than float32). Codewords are the engine's
    * seeded ±1 codebook (1000+ namespace), so with constant codeword
    * norm the nearest-by-L2 codeword IS the argmax dot product — the
    * encode needs only 16 fold-order-exact dots per subspace and an
    * array_position argmax (first-max tiebreak in BOTH engines), which
    * is what makes an approximate-index build oracle-checkable at all.
    * Pure map over the corpus — plane literals in the plan, zero
    * shuffle; the codes table this emits is the PQ "index" that
    * [[graft.operators.KnnOps]]' ADC server probes. */
  val pqEncode: GraftOp = GraftOp(
    "emb_pq_encode", {
      val perSub = (0 until PqM).map { j =>
        val lo = j * PqSub + 1
        val hi = (j + 1) * PqSub
        val scores = (0 until PqK)
          .map(c => graft.functions.Exprs.sqlDot(s"u[$lo:$hi]",
            graft.functions.Exprs.sqlPqPlane(j, c, PqK, PqSub)))
          .mkString("[", ", ", "]")
        s"""SELECT vec_id, $j AS subspace,
           |  CAST(list_position($scores, list_max($scores)) - 1 AS INT) AS code FROM v""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH raw AS (SELECT vec_id, ${graft.functions.Exprs.sqlVecAsDouble("embedding")} AS e FROM embeddings),
         |v AS (SELECT vec_id, ${graft.functions.Exprs.sqlUnit("e")} AS u FROM raw)
         |SELECT vec_id, subspace, code FROM (
         |$perSub
         |) ORDER BY vec_id, subspace""".stripMargin
    }) { (s, d) =>
    pqCodes(s, d)
      .select(col("vec_id"), posexplode(col("codes")))
      .toDF("vec_id", "subspace", "code")
      .orderBy(col("vec_id"), col("subspace"))
  }

  /** The encoded PQ corpus (vec_id, u, codes) — ONE registry-persisted
    * frame per session+dir, read by BOTH the encode op and KnnOps' ADC
    * server: the build/serve split means the served index IS the
    * emitted one, never a second encode. */
  /** Times the PQ-encode build lambda ran this JVM (IndexStore pin). */
  @volatile private[graft] var pqBuilds = 0

  private[operators] def pqCodes(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.CachedPlans.cached(s, s"emb.pqCodes:$d") {
      pqBuilds += 1
      val cb = graft.functions.Exprs.pqCodebook(PqM, PqK, PqSub)
      val u = Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.functions.Exprs.unit(graft.functions.Exprs.vecAsDouble(col("embedding"))).as("u"))
      val codeCols = (0 until PqM).map { j =>
        val sub = slice(col("u"), j * PqSub + 1, PqSub)
        val scores = array(cb(j).map(p => graft.functions.Exprs.dot(sub, typedLit(p))): _*)
        (array_position(scores, array_max(scores)) - 1).cast(IntegerType)
      }
      u.withColumn("codes", array(codeCols: _*))
    }

  /** Per-dimension whitening (z-normalization) — the embedding
    * preprocessing step before PQ/IVF training (unnormalized dims with
    * larger variance dominate every L2 distance; whitening equalizes
    * them). Moments per dimension come from exact DECIMAL(18,9) sums
    * (double→decimal casts agree across engines — the q_outliers
    * contract lifted to vectors): μ and σ are then the same doubles on
    * both sides, and the per-value z is a noisy quotient (σ is
    * irrational), so the 6dp snap is midpoint-safe. One |dim|-row
    * aggregate broadcast back + a pure map; emitted for vec_id < 100
    * like emb_quantize. */
  val whiten: GraftOp = GraftOp(
    "emb_whiten",
    """WITH e AS (
      |  SELECT vec_id,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |st AS (
      |  SELECT dim, count(*) AS n,
      |    CAST(sum(CAST(v AS DECIMAL(18,9))) AS DOUBLE) AS s1,
      |    CAST(sum(CAST(v AS DECIMAL(18,9)) * CAST(v AS DECIMAL(18,9))) AS DOUBLE) AS s2
      |  FROM e GROUP BY 1)
      |SELECT vec_id, e.dim AS dim,
      |  round((v - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS z
      |FROM e JOIN st ON e.dim = st.dim
      |WHERE vec_id < 100
      |ORDER BY vec_id, dim""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "dim", "v")
      .withColumn("v", col("v").cast(DoubleType))
    val dec = col("v").cast(DecimalType(18, 9))
    val st = e.groupBy(col("dim").as("sdim"))
      .agg(count(lit(1)).as("n"),
        sum(dec).cast(DoubleType).as("s1"),
        sum(dec * dec).cast(DoubleType).as("s2"))
    val mean = col("s1") / col("n")
    val z = (col("v") - mean) / sqrt(col("s2") / col("n") - mean * mean)
    e.join(broadcast(st), col("dim") === col("sdim"))
      .filter(col("vec_id") < 100)
      .select(col("vec_id"), col("dim"), round(z, 6).as("z"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Power-iteration rounds for [[pca]]: with any spectral gap γ the
    * misalignment decays like (λ₂/λ₁)^k — 8 rounds is plenty for the
    * documented "dominant direction" use, and the cost is 8 dim-bounded
    * aggregates, not convergence-dependent. */
  private val PcaIters = 8

  /** Top principal component by distributed power iteration over the
    * CENTERED data — the true top covariance eigenvector (on non-zero-
    * mean corpora the uncentered Gram iteration just recovers the mean
    * direction). Centering without materializing x−μ: w =
    * Σᵢ((xᵢ−μ)·v)(xᵢ−μ) expands to Σᵢ(xᵢ·v)xᵢ − (Σᵢ xᵢ·v)·μ, so each
    * round is still ONE dim-bounded aggregate (per-row dot against the
    * broadcast v, posexplode + per-dimension partial sums — the
    * emb_centroids shuffle shape: |dim| groups, never a d×d covariance
    * matrix, never a collect of X) plus a scalar Σs riding the same
    * shuffle; μ is one up-front aggregate. Normalization is driver-side
    * (d doubles — the IVF centroid discipline) and the Rayleigh
    * quotient (v·wc)/n is the variance along v.
    *
    * Oracle parity (the PageRank contract lifted to numerics with a
    * DATA-dependent aggregate): every cross-row term snaps to BIGINT
    * micros (the knn_outlier_score discipline — integer sums are
    * order-free and ~6× cheaper than decimal casts in the hot
    * aggregate; the micro perturbation is identical on both engines,
    * so the iteration operates on the SAME slightly-perturbed operator
    * and parity is exact), the per-row dot and driver arithmetic are
    * identical left-folds, and every iteration snaps v to the 1e-10
    * grid, so per-round state is bit-identical and the oracle unrolls
    * the fixed 8 rounds as chained CTEs. Early stop at an EXACT grid
    * fixpoint is the identity from then on. Sign-canonicalized (first
    * nonzero loading positive); `+ 0.0` normalizes -0.0 on both
    * sides. */
  val pca: GraftOp = GraftOp(
    "emb_pca", {
      def dot(a: String, b: String) = graft.functions.Exprs.sqlDot(a, b)
      def nsq(a: String) = graft.functions.Exprs.sqlNormSq(a)
      val base = s"""WITH e AS (
        |  SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |vl AS (SELECT vec_id, list(x ORDER BY dim) AS xv FROM e GROUP BY vec_id),
        |nn AS (SELECT count(*) AS n FROM vl),
        |mu AS (
        |  SELECT dim,
        |    CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0
        |      / (SELECT n FROM nn) AS m
        |  FROM e GROUP BY dim),
        |v0 AS (SELECT list_transform(range(1, 65), i -> round(1.0 / sqrt(64), 10) + 0.0) AS v)""".stripMargin
      val rounds = (1 to PcaIters).map { k =>
        s"""s$k AS (SELECT vec_id, ${dot("xv", "v")} AS s FROM vl, v${k - 1}),
           |w$k AS (
           |  SELECT e.dim,
           |    CAST(sum(CAST(round(s$k.s * e.x * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS w,
           |    CAST(sum(CAST(round(s$k.s * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS ssum
           |  FROM e JOIN s$k USING (vec_id) GROUP BY e.dim),
           |c$k AS (SELECT w$k.dim, w$k.w - w$k.ssum * mu.m AS wc FROM w$k JOIN mu USING (dim)),
           |wl$k AS (SELECT list(wc ORDER BY dim) AS wl FROM c$k),
           |v$k AS (SELECT list_transform(wl, x -> round(x / sqrt(${nsq("wl")}), 10) + 0.0) AS v FROM wl$k)""".stripMargin
      }.mkString(",\n", ",\n", "")
      val fin = s""",
        |lam AS (SELECT round(${dot("pv.v", "wl.wl")} / (SELECT n FROM nn), 10) + 0.0 AS ev
        |        FROM v${PcaIters - 1} pv, wl$PcaIters wl),
        |vf AS (SELECT CASE WHEN coalesce(list_filter(v, x -> x <> 0)[1], 0) < 0
        |              THEN list_transform(v, x -> -x + 0.0) ELSE v END AS cv FROM v$PcaIters)
        |SELECT CAST(i - 1 AS INT) AS dim, cv[i] AS loading, (SELECT ev FROM lam) AS eigenvalue
        |FROM vf, unnest(range(1, 65)) AS t(i)
        |ORDER BY dim""".stripMargin
      base + rounds + fin
    }) { (s, d) =>
    pcaTop(Tables.embeddings(s, d)
      .select(col("embedding").cast("array<double>").as("x")))
  }

  private def snap10(x: Double): Double =
    BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  /** Spark's `round(double)` semantics for the micro-grid snap:
    * BigDecimal.valueOf + HALF_UP — the local path must round exactly
    * like the codegen'd Round or the two routes diverge. */
  private def roundMicrosLong(x: Double): Long =
    java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP)
      .doubleValue().toLong

  private[graft] def pcaTop(xs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = xs.sparkSession
    // Route on the optimizer size estimate (metadata, no job): the
    // iteration is 8 dependent job rounds, so below the threshold it is
    // strictly faster to pull the (narrow, projected) matrix once and
    // iterate driver-side. Both paths run the SAME integer-micros
    // arithmetic — per-dim sums of HALF_UP(·×1e6) longs are order-free,
    // so the routes are bit-identical (PcaSpec pins it) and the oracle
    // is route-agnostic.
    val localMax = spark.conf.getOption("spark.graft.pca.localMaxBytes")
      .map(BigInt(_)).getOrElse(BigInt(64L << 20))
    val local = ApproxRouting.inputBytes(xs) <= localMax
    ApproxRouting.lastDecision.put("emb_pca", if (local) "local" else "distributed")

    var n = 0L
    var dim = 0
    var mu: Array[Double] = null
    var rows: Array[Array[Double]] = null // local route only
    var cached: org.apache.spark.sql.DataFrame = null // distributed route only
    if (local) {
      rows = xs.select(col("x")).collect().map(_.getSeq[Double](0).toArray)
      n = rows.length.toLong
      dim = if (rows.nonEmpty) rows(0).length else 0
      val m1 = new Array[Long](dim)
      rows.foreach { x =>
        var j = 0
        while (j < dim) { m1(j) += roundMicrosLong(x(j) * 1e6); j += 1 }
      }
      mu = Array.tabulate(dim)(j => m1(j).toDouble / 1000000.0 / n)
    } else {
      cached = xs.localCheckpoint(true) // ≤8 passes over one narrow column
      // ONE prep aggregate: per-dim micro-sums carry the mean, the
      // per-dim count is n (every row has every dim), and the group
      // count is the dimensionality — no separate size()/count() jobs.
      val prep = cached.select(posexplode(col("x"))).toDF("dim", "xv")
        .groupBy(col("dim"))
        .agg(sum(round(col("xv") * 1e6).cast(LongType)).as("m1"),
          count(lit(1)).as("n"))
        .collect() // |dim| rows
      dim = prep.length
      n = if (prep.nonEmpty) prep(0).getLong(2) else 0L
      mu = new Array[Double](dim)
      prep.foreach(r => mu(r.getInt(0)) = r.getLong(1).toDouble / 1000000.0 / n)
    }
    var v = Array.fill(dim)(snap10(1.0 / math.sqrt(dim)))
    var lambda = 0.0
    var iter = 0
    var fixpoint = false
    while (iter < PcaIters && !fixpoint) {
      val w = new Array[Double](dim)
      var ssum = 0.0
      if (local) {
        val wl = new Array[Long](dim)
        var sl = 0L
        rows.foreach { x =>
          // same left-fold as the VecDot kernel
          var s = 0.0
          var j = 0
          while (j < dim) { s += x(j) * v(j); j += 1 }
          sl += roundMicrosLong(s * 1e6)
          j = 0
          while (j < dim) { wl(j) += roundMicrosLong(s * x(j) * 1e6); j += 1 }
        }
        var j = 0
        while (j < dim) { w(j) = wl(j).toDouble / 1000000.0; j += 1 }
        ssum = sl.toDouble / 1000000.0
      } else {
        cached
          .select(graft.functions.vec_dot(col("x"), typedLit(v.toSeq)).as("s"),
            posexplode(col("x")))
          .toDF("s", "dim", "xv")
          .groupBy(col("dim"))
          .agg(sum(round(col("s") * col("xv") * 1e6).cast(LongType)).as("w"),
            sum(round(col("s") * 1e6).cast(LongType)).as("ssum"))
          .collect() // |dim| rows
          .foreach { r =>
            w(r.getInt(0)) = r.getLong(1).toDouble / 1000000.0
            ssum = r.getLong(2).toDouble / 1000000.0
          }
      }
      val wc = Array.tabulate(dim)(i => w(i) - ssum * mu(i))
      lambda = snap10(v.indices.map(i => v(i) * wc(i)).sum / n)
      val norm = math.sqrt(wc.map(x => x * x).sum)
      val next = if (norm == 0.0) v else wc.map(x => snap10(x / norm))
      fixpoint = next.sameElements(v)
      v = next
      iter += 1
    }
    val flip = v.find(_ != 0.0).exists(_ < 0)
    val canon = if (flip) v.map(x => -x + 0.0) else v
    import spark.implicits._
    canon.zipWithIndex.toSeq
      .map { case (l, i) => (i, l, lambda) }
      .toDF("dim", "loading", "eigenvalue")
  }

  /** Pairwise cosine similarity between per-label centroids — the
    * class-geometry readout (which classes crowd each other; the
    * confusion-risk map before training a classifier on the labels).
    * Parity without fold-order risk: the centroid VECTORS are rebuilt
    * from emb_centroids' 6dp-ROUNDED per-dim values (hash-identical on
    * both engines by that op's contract), assembled in dim order, and
    * compared with the shared left-fold dot/norm kernel — identical
    * inputs through identical fold order ⇒ identical cosines, snapped
    * to 6dp. |labels|² pairs of |dim| doubles — dimension-table sized,
    * broadcast join, regardless of corpus size. */
  val centroidSim: GraftOp = GraftOp(
    "emb_centroid_sim", {
      val cos = graft.functions.Exprs.sqlCosine("a.cv", "b.cv")
      s"""WITH e AS (
         |  SELECT label,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         |    unnest(embedding) AS v
         |  FROM embeddings),
         |c AS (SELECT label, dim, round(avg(v), 6) AS m FROM e GROUP BY 1, 2),
         |vecs AS (
         |  SELECT label, list(m ORDER BY dim) AS cv FROM c GROUP BY 1)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  round($cos, 6) AS cos_sim
         |FROM vecs a JOIN vecs b ON a.label < b.label
         |ORDER BY 1, 2""".stripMargin
    }) { (s, d) =>
    val c = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .toDF("label", "dim", "v")
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v").cast(DoubleType)), 6).as("m"))
    val vecs = c.groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, m))), r -> r.m)").as("cv"))
    val a = vecs.select(col("label").as("label_a"), col("cv").as("cva"))
    val b = vecs.select(col("label").as("label_b"), col("cv").as("cvb"))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round(graft.functions.Exprs.cosine(col("cva"), col("cvb")), 6).as("cos_sim"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** Embedding drift monitor: per label, the cosine between the
    * centroids of two deterministic corpus halves (vec_id parity —
    * the stand-in for train-time vs serve-time batches). A drift_cos
    * falling from ~1 is the "your embedding distribution moved"
    * alarm run before any index rebuild. Per-dim means are snapped to
    * 6dp BEFORE the cosine (making both engines' inputs exactly
    * equal), then the cosine is the shared left-fold contract; the
    * shuffle carries |labels|×dim×2 groups, map-side combined. */
  val drift: GraftOp = GraftOp(
    "emb_drift",
    s"""WITH e AS (
       |  SELECT label, vec_id % 2 AS half,
       |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
       |    CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings),
       |c AS (SELECT label, half, dim, round(avg(v), 6) AS c FROM e GROUP BY 1, 2, 3),
       |arr AS (SELECT label, half, list(c ORDER BY dim) AS ca FROM c GROUP BY 1, 2),
       |n AS (SELECT label, vec_id % 2 AS half, CAST(count(*) AS BIGINT) AS n
       |      FROM embeddings GROUP BY 1, 2)
       |SELECT a.label, na.n AS n_even, nb.n AS n_odd,
       |  round(${graft.functions.Exprs.sqlCosine("a.ca", "b.ca")}, 6) AS drift_cos
       |FROM arr a JOIN arr b ON a.label = b.label AND a.half = 0 AND b.half = 1
       |JOIN n na ON na.label = a.label AND na.half = 0
       |JOIN n nb ON nb.label = a.label AND nb.half = 1
       |ORDER BY a.label""".stripMargin) { (s, d) =>
    import graft.functions.Exprs
    val e = Tables.embeddings(s, d)
      .select(col("label"), (col("vec_id") % 2).as("half"), posexplode(col("embedding")))
      .toDF("label", "half", "dim", "v")
    val c = e.groupBy(col("label"), col("half"), col("dim"))
      .agg(round(avg(col("v").cast(DoubleType)), 6).as("c"))
    val arr = c.groupBy(col("label"), col("half"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), r -> r.c)").as("ca"))
    val n = Tables.embeddings(s, d)
      .groupBy(col("label"), (col("vec_id") % 2).as("half"))
      .agg(count(lit(1)).as("n"))
    arr.filter(col("half") === 0).select(col("label"), col("ca").as("ca0"))
      .join(arr.filter(col("half") === 1).select(col("label"), col("ca").as("ca1")),
        Seq("label"))
      .join(n.filter(col("half") === 0).select(col("label"), col("n").as("n_even")),
        Seq("label"))
      .join(n.filter(col("half") === 1).select(col("label"), col("n").as("n_odd")),
        Seq("label"))
      .select(col("label"), col("n_even"), col("n_odd"),
        round(Exprs.cosine(col("ca0"), col("ca1")), 6).as("drift_cos"))
      .orderBy(col("label"))
  }

  private[operators] val KmK = 4
  private val KmAssignRounds = 3 // assignments; updates happen after the first two

  /** The one snap-to-micros kernel every exact-arithmetic embedding
    * consumer applies (kmScaled here; IvfIndex's single-pass
    * unit+cell projection). */
  private[graft] val microsSnapSql =
    "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"

  /** Corpus scaled once to integer micros — the exact substrate both
    * [[kmeans]] and KnnOps.ivfExact cluster on. */
  private[graft] def kmScaled(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), expr(microsSnapSql).as("xs"))

  /** Exact assignment of every vector to its nearest centroid (argmin
    * ties to the smaller k — mirrors the oracle's ORDER BY dist, k).
    * Adds d0..d{K-1}, k, dist columns; all arithmetic is BIGINT.
    * Generalized over cents.length (r15: IvfIndex's 16-cell exact
    * quantizer reuses it — same kernel, wider K). */
  private[operators] def kmAssign(xs: org.apache.spark.sql.DataFrame,
      cents: Array[Array[Long]]): org.apache.spark.sql.DataFrame = {
    val kk = cents.length
    val distCols = cents.zipWithIndex.map { case (c, k) =>
      val lits = c.mkString("array(", "L,", "L)")
      expr(s"aggregate(zip_with(xs, $lits, (a, b) -> (a - b) * (a - b)), 0L, (acc, t) -> acc + t)")
        .as(s"d$k")
    }
    val ds = (0 until kk).map(k => col(s"d$k"))
    val kCol = (0 until kk - 1).foldRight(lit(kk - 1)) { (k, rest) =>
      when((k + 1 until kk).map(j => ds(k) <= ds(j)).reduce(_ && _), k).otherwise(rest)
    }
    // preserves every input column (r15: IvfIndex assigns cells on a
    // frame that also carries the unit vector)
    xs.select((col("*") +: distCols.toSeq): _*)
      .withColumn("k", kCol)
      .withColumn("dist", least(ds: _*))
  }

  /** The Lloyd loop at arbitrary K: seeds = vec_id 0..K-1, two
    * floor-snapped mean updates (truncating division — identical in
    * Spark div, DuckDB // and this driver loop); an empty cluster
    * keeps its centroid. */
  private[graft] def kmLloydK(
      xs: org.apache.spark.sql.DataFrame, kk: Int): Array[Array[Long]] = {
    val cents: Array[Array[Long]] = xs.filter(col("vec_id") < kk)
      .orderBy(col("vec_id")).collect()
      .map(_.getSeq[Long](1).toArray)
    require(cents.length == kk,
      s"Lloyd at K=$kk needs vec_id 0..${kk - 1} seeds; corpus has ${cents.length}")
    for (_ <- 1 until KmAssignRounds) {
      val upd = kmAssign(xs, cents)
        .select(col("k"), posexplode(col("xs")))
        .toDF("k", "j", "xj")
        .groupBy(col("k"), col("j"))
        .agg(sum(col("xj")).as("sj"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone()) // empty cluster keeps its centroid
      upd.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getLong(2) / r.getLong(3)
      }
      (0 until kk).foreach(k => cents(k) = next(k))
    }
    cents
  }

  /** The original 4-cell schedule ([[kmeans]]'s quantizer). */
  private[operators] def kmLloyd(
      xs: org.apache.spark.sql.DataFrame): Array[Array[Long]] = kmLloydK(xs, KmK)

  /** Registry-persisted scaled corpus (the Lloyd loop scans it twice,
    * the assignment once — persist beats three parquet re-reads). */
  private[operators] def kmScaledShared(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.CachedPlans.cached(s, s"emb.kmScaled:$d")(kmScaled(s, d))

  /** Times the Lloyd collect-loop actually ran this JVM — the
    * zero-rebuild proof for [[IndexStore]] (DedupOps.buildCount
    * discipline). */
  @volatile private[graft] var lloydRuns = 0

  /** Get-or-run the exact Lloyd schedule's final centroids. The
    * schedule is fully deterministic, so the registry changes nothing
    * but cost — without it every consumer (emb_kmeans / emb_silhouette
    * / knn_ivf_exact) re-ran the 2-update collect loop over the corpus
    * (the r7 bench's 21 s knn_ivf_exact cold pass). */
  private[operators] def kmCentroids(s: org.apache.spark.sql.SparkSession,
      d: String): Array[Array[Long]] =
    graft.CachedPlans.cachedValue(s, s"emb.kmCentroids:$d") {
      lloydRuns += 1
      kmLloyd(kmScaledShared(s, d))
    }

  /** Registry-persisted exact cell assignment (vec_id, xs, d0..d3, k,
    * dist) — the build-once/serve-many frame all exact-k-means
    * consumers read; forced by SharedIndexes.materializeAll. */
  private[graft] def kmAssigned(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.CachedPlans.cached(s, s"emb.kmAssigned:$d")(
      kmAssign(kmScaledShared(s, d), kmCentroids(s, d)))

  /** Shared oracle prefix: CTEs `e` (dims), `vl` (scaled vectors),
    * `c0`..`c2` (centroids) and `g1`..`g3` (assignments) replicating
    * [[kmLloyd]]/[[kmAssign]] exactly; enders compose FROM g3/c2/vl. */
  private[operators] def kmCtes: String = kmCtesFor(KmK)

  /** Same prefix at arbitrary K (r15: the 16-cell IVF quantizer's
    * oracle shares the CTE text — seeds vec_id 0..K-1, the identical
    * 3-assignment/2-update schedule). */
  private[graft] def kmCtesFor(KmK: Int): String = {
    def round(r: Int, prev: String): String =
      s"""a$r AS (
         |  SELECT v.vec_id, v.xs, c.k,
         |    CAST(list_sum(list_transform(range(1, 65),
         |      i -> (v.xs[i] - c.cs[i]) * (v.xs[i] - c.cs[i]))) AS BIGINT) AS dist
         |  FROM vl v CROSS JOIN $prev c),
         |s$r AS (SELECT vec_id, k, dist,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) AS rn FROM a$r),
         |g$r AS (SELECT vec_id, k, dist FROM s$r WHERE rn = 1)""".stripMargin
    def update(r: Int, prev: String): String =
      s"""u$r AS (SELECT g.k, e2.j, CAST(sum(e2.xj) AS BIGINT) AS sj,
         |        CAST(count(*) AS BIGINT) AS n
         |        FROM g$r g JOIN e e2 USING (vec_id) GROUP BY 1, 2),
         |c$r AS (SELECT k, list(sj // n ORDER BY j) AS cs FROM u$r GROUP BY 1
         |        UNION ALL
         |        SELECT k, cs FROM $prev
         |        WHERE k NOT IN (SELECT DISTINCT k FROM u$r))""".stripMargin
    s"""e AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS j,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xj
       |  FROM embeddings),
       |vl AS (SELECT vec_id, list(xj ORDER BY j) AS xs FROM e GROUP BY 1),
       |c0 AS (SELECT CAST(vec_id AS INT) AS k, xs AS cs FROM vl WHERE vec_id < $KmK),
       |${round(1, "c0")},
       |${update(1, "c0")},
       |${round(2, "c1")},
       |${update(2, "c1")},
       |${round(3, "c2")}""".stripMargin
  }

  /** Exact-arithmetic Lloyd k-means over the embedding corpus — the
    * engine's own deterministic clustering op, built to be
    * oracle-checked (since r15 knn_ivf's 16-cell quantizer runs the
    * same schedule through [[kmLloydK]]).
    * Every quantity is an exact integer: components snap once to
    * micros (the emb_pca discipline), centroids are FLOOR-SNAPPED to
    * integer micros after each mean update (truncating division —
    * identical in Spark `div`, DuckDB `//`, and the driver loop), so
    * distances Σ(x−c)² are exact BIGINTs (≤64·(1.2e6)² ≈ 10¹⁴ — no
    * decimals, no float anywhere), argmin ties break on cluster id,
    * and the oracle unrolls the fixed 3-assignment/2-update schedule
    * as chained CTEs. Seeds = vec_id 0..3 (deterministic); a cluster
    * that empties keeps its previous centroid on BOTH sides. Scale
    * shape: assignment is a map-side scan against 4 broadcast literal
    * centroids; each update is ONE narrow (k, dim) shuffle of integer
    * sums — the canonical distributed-k-means plan. */
  val kmeans: GraftOp = GraftOp(
    "emb_kmeans",
    s"""WITH $kmCtes,
       |gg AS (SELECT k, CAST(count(*) AS BIGINT) AS n_vectors,
       |       CAST(sum(dist) AS BIGINT) AS inertia FROM g3 GROUP BY 1),
       |lab AS (SELECT g.k, em.label, CAST(count(*) AS BIGINT) AS c
       |        FROM g3 g JOIN embeddings em USING (vec_id) GROUP BY 1, 2),
       |top AS (SELECT k, label, c,
       |        row_number() OVER (PARTITION BY k ORDER BY c DESC, label) AS rn FROM lab)
       |SELECT gg.k AS cluster, gg.n_vectors, gg.inertia,
       |  top.label AS top_label, top.c AS top_label_n
       |FROM gg JOIN top ON gg.k = top.k AND top.rn = 1
       |ORDER BY cluster""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val fin = kmAssigned(s, d).select(col("vec_id"), col("k"), col("dist"))
    val gg = fin.groupBy(col("k"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("dist")).as("inertia"))
    val lab = fin.join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("k"), col("label")).agg(count(lit(1)).as("c"))
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("c").desc, col("label"))
    val top = lab.withColumn("rn", row_number().over(byCluster)).filter(col("rn") === 1)
    gg.join(top, "k")
      .select(col("k").as("cluster"), col("n_vectors"), col("inertia"),
        col("label").as("top_label"), col("c").as("top_label_n"))
      .orderBy(col("cluster"))
  }

  /** Simplified (centroid-based) silhouette for [[kmeans]] — the
    * cluster-quality readout that closes the clustering loop (how
    * separated are the cells the IVF probe relies on?). Per vector,
    * a² = squared micro-distance to its own centroid and b² = the
    * smallest other-centroid distance — both already exact BIGINTs
    * from the assignment — and the per-vector score floor-snaps to
    * ppm via integral division in DECIMAL(38)/HUGEINT ((b²−a²)·10⁶
    * can reach ~10¹⁹), so the per-cluster mean is one double division
    * of two exact integers. Uses squared distances (documented —
    * monotone in the classic score's ordering for centroid
    * silhouettes). */
  val silhouette: GraftOp = GraftOp(
    "emb_silhouette",
    s"""WITH $kmCtes,
       |sil AS (
       |  SELECT a.vec_id, g.k AS cluster,
       |    max(CASE WHEN a.k = g.k THEN a.dist END) AS a2,
       |    min(CASE WHEN a.k <> g.k THEN a.dist END) AS b2
       |  FROM a3 a JOIN g3 g USING (vec_id) GROUP BY 1, 2),
       |sp AS (SELECT cluster,
       |       CAST(CAST(b2 - a2 AS HUGEINT) * 1000000 // greatest(a2, b2) AS BIGINT) AS s_ppm
       |       FROM sil WHERE greatest(a2, b2) > 0)
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(s_ppm) AS BIGINT) AS sum_s_ppm,
       |  CAST(sum(s_ppm) AS DOUBLE) / count(*) / 1000000.0 AS mean_silhouette
       |FROM sp GROUP BY 1 ORDER BY cluster""".stripMargin) { (s, d) =>
    kmAssigned(s, d)
      .withColumn("b2", expr("element_at(array_sort(array(d0, d1, d2, d3)), 2)"))
      .select(col("k").as("cluster"), col("dist").as("a2"), col("b2"))
      .filter(expr("greatest(a2, b2) > 0"))
      .withColumn("s_ppm",
        expr("CAST(CAST(b2 - a2 AS DECIMAL(38,0)) * 1000000 div greatest(a2, b2) AS BIGINT)"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("s_ppm")).as("sum_s_ppm"))
      .select(col("cluster"), col("n"), col("sum_s_ppm"),
        expr("CAST(sum_s_ppm AS DOUBLE) / n / 1000000.0").as("mean_silhouette"))
      .orderBy(col("cluster"))
  }

  /** Per-label embedding-norm profile — the vector-pipeline health
    * check (collapsed or exploding norms per class signal a broken
    * encoder long before retrieval metrics move). Norms stay SQUARED
    * in exact micro² integers (Σx² per vector is a BIGINT on the
    * micros grid; sums of those are DECIMAL(38)/HUGEINT), so min/mean/
    * max need no per-row sqrt and no double folds — three order-free
    * aggregates and one division at emit. */
  val normStats: GraftOp = GraftOp(
    "emb_norm_stats",
    """WITH e AS (
      |  SELECT vec_id, label,
      |    CAST(unnest(list_transform(embedding,
      |      v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)
      |           * CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS sq
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, CAST(sum(sq) AS BIGINT) AS norm2 FROM e GROUP BY 1, 2)
      |SELECT label, CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(norm2) AS BIGINT) AS min_norm2_micro2,
      |  CAST(max(norm2) AS BIGINT) AS max_norm2_micro2,
      |  CAST(sum(CAST(norm2 AS HUGEINT)) // count(*) AS DOUBLE) / 1000000000000.0
      |    AS mean_norm2
      |FROM n GROUP BY 1 ORDER BY label""".stripMargin) { (s, d) =>
    val n = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("""aggregate(transform(embedding,
          |  v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)),
          |  0L, (acc, x) -> acc + x * x)""".stripMargin).as("norm2"))
    n.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        min(col("norm2")).as("min_norm2_micro2"),
        max(col("norm2")).as("max_norm2_micro2"),
        expr("""CAST(sum(CAST(norm2 AS DECIMAL(38,0))) div count(*) AS DOUBLE)
          | / 1000000000000.0""".stripMargin).as("mean_norm2"))
      .orderBy(col("label"))
  }

  /** Per-DIMENSION embedding profile (r8) — profile_columns lifted to
    * the vector schema: per dimension the exact micro-grid min/max,
    * mean, variance, and a dead/collapsed-dimension flag. The emit
    * emb_whiten needs internally (per-dim moments) made a first-class
    * health check: a dimension whose variance collapses is wasted
    * model capacity (and breaks whitening's 1/σ), and a min==max
    * column is a dead output unit — the checks run BEFORE any
    * whitening/PQ/IVF trusts the geometry. Values snap to the
    * emb_norm_stats micros grid, so Σm folds BIGINT and Σm² folds
    * DECIMAL(38)/HUGEINT (order-free); the variance numerator
    * n·Σm² − (Σm)² is assembled EXACTLY in the same type (r10), mean
    * and variance are raw deterministic IEEE over exact integers, and
    * the low-variance flag (var < 0.01 in value² units) is an EXACT
    * INTEGER inequality — no double compare at all. One posexplode +
    * |dim|-group hash agg — map-side partials, 64 result rows at any
    * corpus size. */
  val dimProfile: GraftOp = GraftOp(
    "emb_dim_profile",
    """WITH e AS (
      |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS m
      |  FROM embeddings),
      |g AS (
      |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |    CAST(min(m) AS BIGINT) AS min_micro, CAST(max(m) AS BIGINT) AS max_micro,
      |    CAST(sum(m) AS BIGINT) AS s, sum(CAST(m AS HUGEINT) * m) AS ss
      |  FROM e GROUP BY 1)
      |SELECT dim, n, min_micro, max_micro,
      |  CAST(s AS DOUBLE) / n / 1000000.0 AS mean,
      |  CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * n) / 1000000000000.0 AS variance,
      |  CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s
      |    < 10000000000 * CAST(n AS HUGEINT) * n AS low_variance
      |FROM g ORDER BY dim""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")))
      .toDF("dim", "v")
      .select(col("dim"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)").as("m"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        min(col("m")).as("min_micro"), max(col("m")).as("max_micro"),
        sum(col("m")).cast(LongType).as("s"),
        sum(col("m").cast(DecimalType(38, 0)) * col("m")).as("ss"))
      .select(col("dim"), col("n"), col("min_micro"), col("max_micro"),
        expr("CAST(s AS DOUBLE) / n / 1000000.0D").as("mean"),
        expr("""CAST(CAST(n AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)
          |  / (CAST(n AS DOUBLE) * n) / 1000000000000.0D""".stripMargin).as("variance"),
        expr("""CAST(n AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s
          | < 10000000000 * CAST(n AS DECIMAL(38,0)) * n""".stripMargin).as("low_variance"))
      .orderBy(col("dim"))
  }

  /** Diagonal-Mahalanobis outlier ranking — the PARAMETRIC outlier
    * view next to knn_outlier_score's instance-based k-distance (that
    * one asks "is anything near me", this one asks "am I far from the
    * population in sigma units, dimension by dimension") using the
    * same per-dimension moment machinery as [[dimProfile]]. Per-dim
    * μ/σ² are doubles from exact micro-integer folds; each per-(vec,
    * dim) term (m−μ)²/σ² is FLOOR-SNAPPED to milli units (the
    * graph_adamic_adar discipline for engine-identical doubles → exact
    * integers), so the 64-term per-vector sum folds as an exact BIGINT
    * in any order and the top-20 ranking is engine-exact. One
    * posexplode + a broadcast 64-row stats join — linear, no vector
    * ever compared to another. */
  val mahalanobis: GraftOp = GraftOp(
    "emb_mahalanobis",
    """WITH e AS (
      |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS m
      |  FROM embeddings),
      |g AS (
      |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(m) AS BIGINT) AS s, sum(CAST(m AS HUGEINT) * m) AS ss
      |  FROM e GROUP BY 1),
      |st AS (
      |  SELECT dim, CAST(s AS DOUBLE) / n AS mu,
      |    CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * n) AS v
      |  FROM g),
      |t AS (
      |  SELECT e.vec_id,
      |    CAST(floor((e.m - st.mu) * (e.m - st.mu) / st.v * 1000.0) AS BIGINT) AS t_milli
      |  FROM e JOIN st ON e.dim = st.dim WHERE st.v > 0),
      |sc AS (SELECT vec_id, CAST(sum(t_milli) AS BIGINT) AS score_milli FROM t GROUP BY 1),
      |rk AS (
      |  SELECT vec_id, score_milli,
      |    row_number() OVER (ORDER BY score_milli DESC, vec_id) AS rn
      |  FROM sc)
      |SELECT vec_id, score_milli,
      |  CAST(score_milli AS DOUBLE) / 1000.0 AS maha2, CAST(rn AS INT) AS rn
      |FROM rk WHERE rn <= 20 ORDER BY rn""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "dim", "v")
      .select(col("vec_id"), col("dim"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)").as("m"))
    val st = e.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("m")).cast(LongType).as("s"),
        sum(col("m").cast(DecimalType(38, 0)) * col("m")).as("ss"))
      .select(col("dim"),
        expr("CAST(s AS DOUBLE) / n").as("mu"),
        expr("""CAST(CAST(n AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)
          |  / (CAST(n AS DOUBLE) * n)""".stripMargin).as("v"))
    val t = e.join(broadcast(st.filter(col("v") > 0)), Seq("dim"))
      .select(col("vec_id"),
        expr("CAST(floor((m - mu) * (m - mu) / v * 1000.0) AS BIGINT)").as("t_milli"))
    // top-20 via orderBy+limit (TakeOrderedAndProject — per-partition
    // heaps, never a global-window single task); the rank window then
    // runs on the 20-row result only
    t.groupBy(col("vec_id")).agg(sum(col("t_milli")).cast(LongType).as("score_milli"))
      .orderBy(col("score_milli").desc, col("vec_id"))
      .limit(20)
      .withColumn("rn",
        row_number().over(Window.orderBy(col("score_milli").desc, col("vec_id"))))
      .select(col("vec_id"), col("score_milli"),
        expr("CAST(score_milli AS DOUBLE) / 1000.0").as("maha2"),
        col("rn"))
      .orderBy(col("rn"))
  }

  /** External cluster-validity scores for [[kmeans]] — purity and the
    * adjusted Rand index against the corpus's ground-truth labels:
    * the ML-eval readout that says whether the exact-Lloyd cells MEAN
    * anything ([[silhouette]] scores geometry; this scores agreement
    * with labels). Both are pure PAIR/COUNT combinatorics over the
    * (cluster, label) contingency — C(c,2) products are exact BIGINTs
    * at test SFs (a·T ≈ 4e12; the DECIMAL(38) fold is the stated
    * route past ~10⁹ rows) — so purity is an exact ppm and ARI's
    * rational is assembled ×2-scaled to stay integral until ONE final
    * double division. Reuses the registry-persisted assignment: the
    * per-op cost is a |k|×|labels| aggregate. */
  val clusterPurity: GraftOp = GraftOp(
    "emb_cluster_purity",
    s"""WITH $kmCtes,
       |lab AS (SELECT g.k, em.label, CAST(count(*) AS BIGINT) AS c
       |        FROM g3 g JOIN embeddings em USING (vec_id) GROUP BY 1, 2),
       |cells AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS a FROM lab),
       |rk AS (SELECT k, CAST(sum(c) AS BIGINT) AS nk FROM lab GROUP BY 1),
       |cl AS (SELECT label, CAST(sum(c) AS BIGINT) AS ml FROM lab GROUP BY 1),
       |br AS (SELECT CAST(sum(nk * (nk - 1) // 2) AS BIGINT) AS br FROM rk),
       |bc AS (SELECT CAST(sum(ml * (ml - 1) // 2) AS BIGINT) AS bc FROM cl),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
       |               CAST(count(DISTINCT label) AS BIGINT) AS n_labels FROM lab),
       |pur AS (SELECT CAST(sum(mx) AS BIGINT) AS pn
       |        FROM (SELECT k, max(c) AS mx FROM lab GROUP BY 1) x)
       |SELECT tot.n AS n_vectors,
       |  (SELECT CAST(count(*) AS BIGINT) FROM rk) AS k_clusters,
       |  tot.n_labels,
       |  CAST(pur.pn * 1000000 // tot.n AS BIGINT) AS purity_ppm,
       |  round(CAST(2 * (cells.a * (tot.n * (tot.n - 1) // 2) - br.br * bc.bc) AS DOUBLE)
       |    / CAST((br.br + bc.bc) * (tot.n * (tot.n - 1) // 2)
       |           - 2 * br.br * bc.bc AS DOUBLE), 6) AS ari
       |FROM cells, br, bc, tot, pur""".stripMargin) { (s, d) =>
    val lab = kmAssigned(s, d).select(col("vec_id"), col("k"))
      .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("k"), col("label")).agg(count(lit(1)).as("c"))
    val cells = lab.agg(sum(expr("c * (c - 1) div 2")).cast(LongType).as("a"),
      sum(col("c")).cast(LongType).as("n"),
      countDistinct(col("label")).as("n_labels"))
    val br = lab.groupBy(col("k")).agg(sum(col("c")).as("nk"))
      .agg(sum(expr("nk * (nk - 1) div 2")).cast(LongType).as("br"),
        count(lit(1)).as("k_clusters"))
    val bc = lab.groupBy(col("label")).agg(sum(col("c")).as("ml"))
      .agg(sum(expr("ml * (ml - 1) div 2")).cast(LongType).as("bc"))
    val pur = lab.groupBy(col("k")).agg(max(col("c")).as("mx"))
      .agg(sum(col("mx")).cast(LongType).as("pn"))
    cells.crossJoin(broadcast(br)).crossJoin(broadcast(bc)).crossJoin(broadcast(pur))
      .select(col("n").as("n_vectors"), col("k_clusters"), col("n_labels"),
        expr("CAST(pn * 1000000 div n AS BIGINT)").as("purity_ppm"),
        expr("""round(CAST(2 * (a * (n * (n - 1) div 2) - br * bc) AS DOUBLE)
          |  / CAST((br + bc) * (n * (n - 1) div 2) - 2 * br * bc AS DOUBLE), 6)""".stripMargin)
          .as("ari"))
  }

  /** Embedding anisotropy — the mean pairwise cosine between all
    * vector pairs (Ethayarajh 2019's contextual-embedding diagnostic:
    * a healthy space sits near 0; a collapsed/anisotropic one — where
    * every vector shares a dominant direction — sits high, and
    * similarity search over it degrades). Computed WITHOUT the n²
    * pair join via the sum-vector identity: Σ_{i≠j} cos(i,j) =
    * ‖Σu‖² − Σ‖u‖². Unit vectors are snapped to exact micro integers
    * (the kmScaled idiom), so the per-dimension sums, ‖Σu‖² and
    * Σ‖u‖² all fold exactly in DECIMAL(38)/HUGEINT at any corpus
    * size; the two emitted ratios are one deterministic double
    * formula each. One |dim|-row aggregate — no pair explosion. */
  val anisotropy: GraftOp = GraftOp(
    "emb_anisotropy", {
      val E = graft.functions.Exprs
      s"""WITH raw AS (SELECT vec_id, ${E.sqlVecAsDouble("embedding")} AS e FROM embeddings),
         |v AS (SELECT vec_id,
         |  list_transform(${E.sqlUnit("e")}, x -> CAST(round(x * 1000000) AS BIGINT)) AS us
         |  FROM raw),
         |dims AS (SELECT unnest(range(1, 65)) AS i),
         |s AS (SELECT i, CAST(sum(us[i]) AS HUGEINT) AS sd FROM v, dims GROUP BY i),
         |t AS (SELECT CAST(sum(sd * sd) AS HUGEINT) AS s2 FROM s),
         |q AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(list_sum(list_transform(us, x -> CAST(x AS HUGEINT) * x))) AS HUGEINT) AS ssq
         |  FROM v)
         |SELECT n AS n_vectors,
         |  (CAST(s2 AS DOUBLE) - CAST(ssq AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * (n - 1) * 1000000000000.0) AS mean_pairwise_cos,
         |  CAST(ssq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0) AS mean_sq_norm
         |FROM t, q""".stripMargin
    }) { (s, d) =>
    val E = graft.functions.Exprs
    val vv = Tables.embeddings(s, d)
      .select(col("vec_id"), E.unit(E.vecAsDouble(col("embedding"))).as("u"))
      .select(col("vec_id"),
        expr("transform(u, x -> CAST(round(x * 1000000) AS BIGINT))").as("us"))
    val perDim = vv.select(posexplode(col("us")).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg(sum(col("v")).cast(DecimalType(38, 0)).as("sd"))
    val t = perDim.agg(sum(col("sd") * col("sd")).as("s2"))
    val q = vv.agg(count(lit(1)).as("n"),
      sum(expr("aggregate(us, CAST(0 AS DECIMAL(38,0)), (acc, x) -> acc + CAST(x AS DECIMAL(38,0)) * x)"))
        .as("ssq"))
    broadcast(t).crossJoin(broadcast(q))
      .select(col("n").as("n_vectors"),
        expr("""(CAST(s2 AS DOUBLE) - CAST(ssq AS DOUBLE))
          |  / (CAST(n AS DOUBLE) * (n - 1) * 1000000000000.0D)""".stripMargin)
          .as("mean_pairwise_cos"),
        expr("CAST(ssq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0D)")
          .as("mean_sq_norm"))
  }

  val ops: Seq[GraftOp] = Seq(centroids, quantize, matryoshka, project, pqEncode, whiten, pca, centroidSim, drift, kmeans, silhouette, normStats, dimProfile, mahalanobis, clusterPurity, anisotropy)
}
