package graft.operators

import graft.GraftOp
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Sampling for training-data pipelines: seeded uniform and stratified
  * samples. Bernoulli sampling is partition-local (no shuffle, no
  * collect) and deterministic for a fixed seed + input layout, which is
  * what reproducible dataset curation needs. Spark's RNG stream is not
  * reproducible in the oracle engine → rows-only + SamplingSpec
  * (determinism, fraction bounds, per-stratum bounds).
  */
object Sampling {

  /** Uniform 10% sample via a SALTED portable hash (salt `u42#` keeps
    * the stream independent of sample_hash's): the keep decision is a
    * pure function of the row key, so the sample is reproducible
    * across engines, runs, AND corpus growth (append-stable) — and
    * therefore fully oracle-checkable, unlike an RNG Bernoulli draw
    * (Spark's seeded `.sample()` stream is engine-private; that path
    * stays exercised in SamplingSpec). Partition-local, no shuffle. */
  val uniform: GraftOp = GraftOp(
    "sample_uniform",
    s"""SELECT event_id, user_id, event_type FROM events
       |WHERE ${graft.functions.Exprs.sqlMd5Long("concat('u42#', CAST(event_id AS VARCHAR))")} % 10 = 0
       |ORDER BY event_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .filter(graft.functions.Exprs.md5Long(
        concat(lit("u42#"), col("event_id").cast(org.apache.spark.sql.types.StringType)))
        % 10 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
  }

  /** Per-language stratified sample: downsample the dominant stratum
    * (en → 25%), keep the rest (the rebalancing move behind most
    * corpus mixes). Same salted-hash keep rule as [[uniform]] (salt
    * `s42#`) so the per-stratum draw is portable and oracle-checked;
    * the RNG `sampleBy` path stays exercised in SamplingSpec. */
  val stratified: GraftOp = GraftOp(
    "sample_stratified",
    s"""SELECT doc_id, lang FROM documents
       |WHERE lang IN ('de', 'es', 'fr', 'zh')
       |   OR (lang = 'en' AND ${graft.functions.Exprs.sqlMd5Long("concat('s42#', CAST(doc_id AS VARCHAR))")} % 100 < 25)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("lang").isin("de", "es", "fr", "zh") ||
        (col("lang") === "en" && graft.functions.Exprs.md5Long(
          concat(lit("s42#"), col("doc_id").cast(org.apache.spark.sql.types.StringType)))
          % 100 < 25))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic hash-based sampling: keep a row iff a portable hash
    * of its key lands under the rate threshold. Unlike RNG Bernoulli
    * sampling this is reproducible ACROSS engines and runs (same rows
    * at any parallelism, append-stable as the corpus grows — the
    * property dataset curation actually wants), so it's fully
    * oracle-checkable. Partition-local, no shuffle. */
  val hashSample: GraftOp = GraftOp(
    "sample_hash",
    s"""SELECT event_id, user_id, event_type FROM events
       |WHERE ${graft.functions.Exprs.sqlMd5Long("CAST(event_id AS VARCHAR)")} % 100 < 10
       |ORDER BY event_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .filter(graft.functions.Exprs.md5Long(
        col("event_id").cast(org.apache.spark.sql.types.StringType)) % 100 < 10)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
  }

  /** Fixed-size per-stratum sample: exactly k rows per group (unlike
    * Bernoulli sampleBy's random sizes), chosen by ranking on a
    * portable hash — deterministic across engines, runs, and
    * parallelism. The row_number ≤ k filter is rewritten into the
    * native two-phase TopKPerKeyExec by RowNumberLimitToTopK, so at
    * scale each stratum ships k rows per map partition, not the whole
    * group, through the shuffle. */
  val fixedPerGroup: GraftOp = GraftOp(
    "sample_fixed_per_group",
    s"""WITH h AS (
       |  SELECT event_id, event_type,
       |    ${graft.functions.Exprs.sqlMd5Long("CAST(event_id AS VARCHAR)")} AS hk
       |  FROM events),
       |r AS (
       |  SELECT event_id, event_type,
       |    row_number() OVER (PARTITION BY event_type ORDER BY hk, event_id) AS rn
       |  FROM h)
       |SELECT event_type, event_id FROM r WHERE rn <= 50
       |ORDER BY event_type, event_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val hk = graft.functions.Exprs.md5Long(
      col("event_id").cast(org.apache.spark.sql.types.StringType))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hk"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), hk.as("hk"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= 50)
      .select(col("event_type"), col("event_id"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** Weighted sample without replacement via priority sampling
    * (Duffield, Lund & Thorup 2007): each row gets priority w/u with u
    * a per-row uniform from the portable 60-bit md5 hash, and the k
    * highest-priority rows win. Longer documents are proportionally
    * more likely to be kept — the length-weighted corpus subsample
    * move. Deterministic across engines AND parallelism: u is exact
    * (integer / 2^60), and w/u uses only IEEE-correctly-rounded ops
    * (no transcendentals), so both engines pick identical rows. At
    * scale the priority is partition-local and top-k is a per-partition
    * heap + driver merge of k rows — no shuffle. */
  val weighted: GraftOp = GraftOp(
    "sample_weighted",
    s"""WITH p AS (
       |  SELECT doc_id, n_chars,
       |    n_chars / ((${graft.functions.Exprs.sqlMd5Long("CAST(doc_id AS VARCHAR)")} + 1)
       |               / 1152921504606846976.0) AS pri
       |  FROM documents),
       |k AS (SELECT doc_id, n_chars FROM p ORDER BY pri DESC, doc_id LIMIT 100)
       |SELECT doc_id, n_chars FROM k ORDER BY doc_id""".stripMargin) { (s, d) =>
    val u = (graft.functions.Exprs.md5Long(
      col("doc_id").cast(org.apache.spark.sql.types.StringType)) + 1) /
      lit(1152921504606846976.0)
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), (col("n_chars") / u).as("pri"))
      .orderBy(col("pri").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Corpus mixture sampling: per-source keep rates (the data-mixing
    * step of LLM training — upweight curated sources, downsample the
    * crawl) applied via the portable hash, so the mix is deterministic,
    * append-stable, and reproducible across engines and parallelism —
    * re-running the mix on a grown corpus keeps every previously-kept
    * document. Partition-local (no shuffle); the rate lookup is a
    * CASE over the source column. */
  val mixture: GraftOp = GraftOp(
    "sample_mixture",
    s"""SELECT doc_id, source FROM documents
       |WHERE ${graft.functions.Exprs.sqlMd5Long("CAST(doc_id AS VARCHAR)")} % 100 <
       |  CASE WHEN source IN ('src1', 'src2') THEN 100
       |       WHEN source IN ('src3', 'src4') THEN 50
       |       ELSE 20 END
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val rate = when(col("source").isin("src1", "src2"), 100)
      .when(col("source").isin("src3", "src4"), 50)
      .otherwise(20)
    Tables.documents(s, d)
      .filter(graft.functions.Exprs.md5Long(
        col("doc_id").cast(org.apache.spark.sql.types.StringType)) % 100 < rate)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test split (80/10/10): every doc gets a
    * split LABEL from a portable hash bucket of its id — the dataset-
    * prep staple. Hash assignment (vs RNG) means the split is
    * reproducible across engines, runs, and parallelism, and
    * APPEND-STABLE: a grown corpus never reassigns an existing doc's
    * split (no train/test leakage on refresh). Pure map, zero shuffle;
    * the summary the op emits doubles as the split-ratio audit. */
  val split: GraftOp = GraftOp(
    "sample_split",
    s"""WITH a AS (
       |  SELECT doc_id,
       |    CASE WHEN ${graft.functions.Exprs.sqlMd5Long("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
       |         WHEN ${graft.functions.Exprs.sqlMd5Long("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents)
       |SELECT doc_id, split FROM a ORDER BY doc_id""".stripMargin) { (s, d) =>
    val bucket = graft.functions.Exprs.md5Long(
      col("doc_id").cast(org.apache.spark.sql.types.StringType)) % 100
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled language rebalancing (α = 0.5): the
    * multilingual-training mix move — sampling probability per
    * language ∝ p_lang^α instead of p_lang, flattening the head
    * without inverting the order. Written against the SMALLEST
    * language, the keep rate is min(1, √(n_min/n_lang)), which is α =
    * 0.5 exactly and needs only a divide and a square root — BOTH
    * IEEE-correctly-rounded, so the rate is the identical double in
    * every engine (the reason α is 0.5 here and not a free parameter:
    * pow() is a libm transcendental with no cross-engine guarantee).
    * Membership is then an INTEGER compare — portable-hash % 10⁶ <
    * floor(rate·10⁶) — so no float comparison can straddle engines.
    *
    * Scale shape: the per-language census is a 5-row aggregate
    * broadcast back; the keep decision is partition-local and
    * append-stable (same hash contract as sample_mixture) — re-mixing
    * a grown corpus keeps every previously-kept doc whose language
    * rate did not move. */
  val temperature: GraftOp = GraftOp(
    "sample_temperature",
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
       |m AS (SELECT CAST(min(n) AS DOUBLE) AS n_min FROM c),
       |r AS (
       |  SELECT lang,
       |    CAST(floor(least(1.0, sqrt(n_min / n)) * 1000000) AS BIGINT) AS keep_ppm
       |  FROM c CROSS JOIN m)
       |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
       |WHERE ${graft.functions.Exprs.sqlMd5Long("CAST(d.doc_id AS VARCHAR)")} % 1000000 < keep_ppm
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val census = Tables.documents(s, d).groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val nMin = census.agg(min(col("n")).cast("double").as("n_min"))
    val rates = census.crossJoin(broadcast(nMin))
      .select(col("lang"),
        floor(least(lit(1.0), sqrt(col("n_min") / col("n"))) * 1000000)
          .cast("long").as("keep_ppm"))
    Tables.documents(s, d)
      .join(broadcast(rates), Seq("lang"))
      .filter(graft.functions.Exprs.md5Long(
        col("doc_id").cast(org.apache.spark.sql.types.StringType)) % 1000000 < col("keep_ppm"))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Class-balanced downsampling: every label keeps exactly
    * min-class-count vectors (the class-balancing step before
    * classifier training — undersample the majority, keep the
    * minority whole). Selection ranks on the portable hash inside
    * each label, so the subsample is deterministic, append-stable per
    * class, and engine-reproducible. The per-label rank filter is the
    * row_number≤k shape RowNumberLimitToTopK rewrites into the
    * two-phase TopKPerKeyExec — the rule needs a LITERAL bound, so k
    * (one tiny census aggregate) is resolved driver-side first and
    * enters the plan as a literal; the per-label path then stays one
    * key shuffle with map-side partial top-k. */
  val balanced: GraftOp = GraftOp(
    "sample_balanced",
    s"""WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
       |k AS (SELECT min(n) AS k FROM c),
       |r AS (
       |  SELECT vec_id, label,
       |    row_number() OVER (PARTITION BY label
       |      ORDER BY ${graft.functions.Exprs.sqlMd5Long("CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
       |  FROM embeddings)
       |SELECT vec_id, label FROM r CROSS JOIN k WHERE rn <= k
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val k = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .agg(min(col("n"))).head.getLong(0).toInt
    val w = Window.partitionBy(col("label"))
      .orderBy(graft.functions.Exprs.md5Long(
        col("vec_id").cast(org.apache.spark.sql.types.StringType)), col("vec_id"))
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= lit(k))
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** Deterministic training-shard assignment + per-shard manifest:
    * every document lands in one of 16 shards by portable hash (the
    * [[hashSample]] rule — reproducible across engines, runs and
    * parallelism, append-stable), and the op emits the shard manifest
    * a WebDataset-style writer would record: doc count, total payload
    * chars, id range per shard. The balance check ("are shards even")
    * IS this output. Partition-local assignment, one 16-key
    * aggregate — no sort, no repartition of the corpus itself (a
    * writer would `repartition($"shard")` on exactly this column). */
  val shard: GraftOp = GraftOp(
    "sample_shard",
    s"""WITH a AS (
       |  SELECT ${graft.functions.Exprs.sqlMd5Long("concat('sh42#', CAST(doc_id AS VARCHAR))")} % 16 AS shard,
       |    doc_id, n_chars
       |  FROM documents)
       |SELECT CAST(shard AS INT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM a GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select((graft.functions.Exprs.md5Long(
          concat(lit("sh42#"), col("doc_id").cast(org.apache.spark.sql.types.StringType)))
          % 16).cast(org.apache.spark.sql.types.IntegerType).as("shard"),
        col("doc_id"), col("n_chars"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))
  }

  /** Deterministic per-epoch reshuffle for training-data ordering:
    * every epoch visits every document exactly once in a different
    * pseudo-random order, reproducible from (doc_id, epoch) alone —
    * no RNG state, no materialized permutation table. The shuffle key
    * is the codegen'd mix64 (splitmix64 finalizer) of
    * doc_id + epoch·1000003; documents are then SHARDED by the key
    * (8 here) and ordered within (epoch, shard), so the per-reducer
    * sort is bounded by corpus/shards — at 100 TB each shard becomes
    * one sorted output file and no single reducer ever sees the whole
    * epoch. The oracle replicates mix64 on HUGEINT (Exprs idiom) and
    * re-derives the identical order. */
  val epochShuffle: GraftOp = GraftOp(
    "sample_epoch_shuffle", {
      val E = graft.functions.Exprs
      s"""WITH e AS (
         |  SELECT doc_id, ep FROM documents
         |  CROSS JOIN (SELECT unnest(range(2)) AS ep)),
         |inb AS (
         |  SELECT doc_id, ep, CAST(doc_id + ep * 1000003 AS HUGEINT) AS ku FROM e),
         |${E.sqlMix64Ctes(Seq("doc_id", "ep"), "inb", "ku", "mx")}
         |SELECT ep AS epoch, ((hs % 8) + 8) % 8 AS shard,
         |  row_number() OVER (PARTITION BY ep, ((hs % 8) + 8) % 8
         |                     ORDER BY hs, doc_id) AS pos,
         |  doc_id
         |FROM mx ORDER BY epoch, shard, pos""".stripMargin
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.documents(s, d).select(col("doc_id"))
      .crossJoin(s.range(2).toDF("epoch"))
      .withColumn("k", graft.functions.mix64(col("doc_id") + col("epoch") * 1000003L))
      .withColumn("shard", pmod(col("k"), lit(8L)))
    e.withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard")).orderBy(col("k"), col("doc_id"))))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  /** Greedy token-budget subset selection — the "best data under a
    * compute budget" primitive of training-set curation: rank documents
    * by lexical diversity (distinct-token ppm — an exact integer, no
    * float score anywhere), admit in rank order until the cumulative
    * token count exceeds 25% of the corpus (budget derived from the
    * data, so the op is SF-independent). Ties break on doc_id, the
    * running total is a window prefix sum, and every emitted column is
    * an exact integer. The running total routes through the
    * QuantileExact two-phase range-partition + driver-offset prefix
    * sum (q_equidepth's discipline) — never an unpartitioned
    * corpus-sized ORDER BY window. */
  val tokenBudget: GraftOp = GraftOp(
    "sample_token_budget",
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tok,
      |    CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS BIGINT) AS n_dist
      |  FROM documents),
      |s AS (SELECT doc_id, n_tok, n_dist,
      |        CAST(n_dist * 1000000 // n_tok AS BIGINT) AS ttr_ppm FROM t),
      |b AS (SELECT CAST(sum(n_tok) // 4 AS BIGINT) AS budget FROM s),
      |c AS (
      |  SELECT doc_id, n_tok, ttr_ppm,
      |    CAST(sum(n_tok) OVER (ORDER BY ttr_ppm DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      |  FROM s)
      |SELECT doc_id, n_tok, ttr_ppm, cum_tok
      |FROM c, b WHERE cum_tok <= b.budget ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        size(array_distinct(col("toks"))).cast("long").as("n_dist"))
    val sdf = t.withColumn("ttr_ppm", expr("n_dist * 1000000 div n_tok"))
    val b = broadcast(sdf.agg(expr("CAST(sum(n_tok) div 4 AS BIGINT)").as("budget")))
    QuantileExact.prefixSumUngrouped(s, s"tokenbudget:$d",
        sdf.select(col("doc_id"), col("n_tok"), col("ttr_ppm")),
        Seq(col("ttr_ppm").desc, col("doc_id")), "n_tok")
      .withColumnRenamed("__cum", "cum_tok")
      .crossJoin(b)
      .filter(col("cum_tok") <= col("budget"))
      .select(col("doc_id"), col("n_tok"), col("ttr_ppm"), col("cum_tok"))
      .orderBy(col("doc_id"))
  }

  /** Importance sampling with Horvitz-Thompson accounting — keep long
    * documents at full rate and short ones at a length-proportional
    * rate, then report the INVERSE-PROBABILITY-weighted corpus
    * estimate next to the truth, so the downsampled corpus stays
    * unbiased for size/token accounting (the property a naive "drop
    * short docs" filter destroys). Inclusion probability is an exact
    * ppm integer p = clamp(len(text)·1000000/2000, 100000, 1000000);
    * the keep decision is the salted portable hash md5('i42#'‖doc_id)
    * mod 10⁶ < p — append-stable, engine-replayable, no RNG. The HT
    * estimate Σ 1/p folds as exact micro integers (10¹² div p), so
    * the emitted estimate is micro-grid. Partition-local decision, one
    * |sources|-row aggregate. */
  val importance: GraftOp = GraftOp(
    "sample_importance",
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |    least(greatest(CAST(length(text) AS BIGINT) * 1000000 // 2000, 100000), 1000000)
       |      AS p_ppm
       |  FROM documents),
       |k AS (
       |  SELECT source, doc_id, p_ppm,
       |    CASE WHEN ${graft.functions.Exprs.sqlMd5Long("concat('i42#', CAST(doc_id AS VARCHAR))")} % 1000000 < p_ppm
       |         THEN 1 ELSE 0 END AS kept
       |  FROM d)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(kept) AS BIGINT) AS n_sampled,
       |  CAST(sum(CASE WHEN kept = 1 THEN 1000000000000 // p_ppm ELSE 0 END) AS BIGINT)
       |    AS ht_micro,
       |  CAST(sum(CASE WHEN kept = 1 THEN 1000000000000 // p_ppm ELSE 0 END) AS DOUBLE)
       |    / 1000000.0 AS ht_estimate
       |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        expr("least(greatest(CAST(length(text) AS BIGINT) * 1000000 div 2000, 100000), 1000000)")
          .as("p_ppm"))
      .withColumn("kept",
        when(graft.functions.Exprs.md5Long(
          concat(lit("i42#"), col("doc_id").cast(org.apache.spark.sql.types.StringType)))
          % 1000000 < col("p_ppm"), 1).otherwise(0))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_sampled"),
        sum(when(col("kept") === 1, expr("1000000000000 div p_ppm")).otherwise(0L))
          .as("ht_micro"))
      .select(col("source"), col("n_docs"), col("n_sampled"), col("ht_micro"),
        expr("CAST(ht_micro AS DOUBLE) / 1000000.0").as("ht_estimate"))
      .orderBy(col("source"))
  }

  /** Neyman-allocation stratified sample (n = 100): each language
    * stratum gets floor(n·N_h·S_h / Σ N·S) slots — proportional to
    * stratum size × within-stratum spread of n_chars, the
    * variance-minimizing design for estimating mean document length
    * (vs [[stratified]]'s fixed-rate design; this is the survey-theory
    * completion of [[importance]]'s Horvitz-Thompson estimator).
    * Variance numerators v_h = n_h·ss_h − s_h² are exact
    * DECIMAL(38)/HUGEINT; S_h uses IEEE sqrt (correctly rounded →
    * bit-identical across engines, unlike libm), the 5-language weight
    * sum is PIVOTED into written expression order, and the per-stratum
    * slot count is floor() of identical doubles. Selection inside each
    * stratum is the portable-hash rank (md5, doc_id tiebreak), so the
    * chosen doc set is reproducible anywhere. Strata with n_h < 2
    * carry zero Neyman weight (undefined variance), stated identically
    * in both engines. */
  val neyman: GraftOp = GraftOp(
    "sample_neyman",
    s"""WITH d AS (
       |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS x FROM documents),
       |g AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_h,
       |    CAST(sum(x) AS BIGINT) AS s_h,
       |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss_h
       |  FROM d GROUP BY 1),
       |v AS (
       |  SELECT lang, n_h,
       |    CASE WHEN n_h >= 2 THEN
       |      CAST(n_h AS DOUBLE) * sqrt(
       |        CAST(CAST(n_h AS HUGEINT) * ss_h - CAST(s_h AS HUGEINT) * s_h AS DOUBLE)
       |        / (CAST(n_h AS DOUBLE) * n_h * (n_h - 1.0)))
       |    ELSE 0.0 END AS w
       |  FROM g),
       |p AS (
       |  SELECT
       |    max(CASE WHEN lang = 'de' THEN w ELSE 0.0 END) AS wde,
       |    max(CASE WHEN lang = 'en' THEN w ELSE 0.0 END) AS wen,
       |    max(CASE WHEN lang = 'es' THEN w ELSE 0.0 END) AS wes,
       |    max(CASE WHEN lang = 'fr' THEN w ELSE 0.0 END) AS wfr,
       |    max(CASE WHEN lang = 'zh' THEN w ELSE 0.0 END) AS wzh
       |  FROM v),
       |a AS (
       |  SELECT v.lang, v.n_h,
       |    CAST(floor(100.0 * v.w / (p.wde + p.wen + p.wes + p.wfr + p.wzh)) AS BIGINT)
       |      AS n_alloc
       |  FROM v, p),
       |r AS (
       |  SELECT d.doc_id, d.lang, a.n_alloc,
       |    row_number() OVER (PARTITION BY d.lang ORDER BY
       |      ${graft.functions.Exprs.sqlMd5Long("concat('ney42#', CAST(d.doc_id AS VARCHAR))")},
       |      d.doc_id) AS rn
       |  FROM d JOIN a ON d.lang = a.lang)
       |SELECT doc_id, lang, n_alloc FROM r WHERE rn <= n_alloc
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars").cast(LongType).as("x"))
    val g = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_h"), sum(col("x")).as("s_h"),
        sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("ss_h"))
    val v = g.select(col("lang"), col("n_h"),
      expr("""CASE WHEN n_h >= 2 THEN
        |  CAST(n_h AS DOUBLE) * sqrt(
        |    CAST(CAST(n_h AS DECIMAL(38,0)) * ss_h - CAST(s_h AS DECIMAL(38,0)) * s_h AS DOUBLE)
        |    / (CAST(n_h AS DOUBLE) * n_h * (n_h - 1.0D)))
        |ELSE 0.0D END""".stripMargin).as("w"))
    val p = broadcast(v.agg(
      max(when(col("lang") === "de", col("w")).otherwise(0.0)).as("wde"),
      max(when(col("lang") === "en", col("w")).otherwise(0.0)).as("wen"),
      max(when(col("lang") === "es", col("w")).otherwise(0.0)).as("wes"),
      max(when(col("lang") === "fr", col("w")).otherwise(0.0)).as("wfr"),
      max(when(col("lang") === "zh", col("w")).otherwise(0.0)).as("wzh")))
    val a = broadcast(v.crossJoin(p)
      .select(col("lang"), col("n_h"),
        expr("CAST(floor(100.0D * w / (wde + wen + wes + wfr + wzh)) AS BIGINT)")
          .as("n_alloc")))
    val rnW = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      .orderBy(graft.functions.Exprs.md5Long(
        concat(lit("ney42#"), col("doc_id").cast(org.apache.spark.sql.types.StringType))),
        col("doc_id"))
    docs.join(a, Seq("lang"))
      .withColumn("rn", row_number().over(rnW))
      .filter(col("rn") <= col("n_alloc"))
      .select(col("doc_id"), col("lang"), col("n_alloc"))
      .orderBy(col("doc_id"))
  }

  /** Greedy k-center (farthest-first) diversity coreset, k = 8 — the
    * selection family's third axis after representativeness
    * ([[neyman]]) and importance ([[importance]]): pick the points
    * that COVER the embedding space (Gonzalez's 2-approximation to the
    * k-center objective), the standard coreset for active learning /
    * eval-set picking. Fully deterministic: micro-grid integer
    * distances via the VecDot identity (every term < 2⁵³ → exact),
    * seed = min vec_id, each round's pick = argmax min-distance with
    * the (dsq DESC, vec_id) integer tiebreak. The engine runs k−1
    * bounded corpus passes (the chosen set broadcasts as literals —
    * at 100 TB that is k linear scans, the honest farthest-first
    * shape); the oracle replays the SAME k−1 rounds as a generated
    * CTE chain. Emitted dsq at selection is the coverage-radius
    * sequence (non-increasing, spec-pinned). */
  val kcenter: GraftOp = {
    val k = 8
    def sqlQ =
      "SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) " +
        "* 1000000) AS BIGINT)) AS q FROM embeddings"
    def sqlDsq(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(" +
        s"range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, x) -> acc + x)"
    val head =
      s"""WITH v AS ($sqlQ),
         |c1 AS (SELECT q FROM v WHERE vec_id = (SELECT min(vec_id) FROM v)),
         |r1 AS (SELECT v.vec_id, v.q, ${sqlDsq("v.q", "c1.q")} AS m FROM v, c1)""".stripMargin
    val rounds = (2 to k).map { i =>
      s"""p$i AS (SELECT vec_id AS c, m FROM r${i - 1}
         |  ORDER BY m DESC, vec_id LIMIT 1),
         |c$i AS (SELECT v.q FROM v JOIN p$i ON v.vec_id = p$i.c),
         |r$i AS (SELECT r.vec_id, r.q, least(r.m, ${sqlDsq("r.q", s"c$i.q")}) AS m
         |  FROM r${i - 1} r, c$i)""".stripMargin
    }.mkString(",\n")
    val emits = (s"SELECT 1 AS center_rank, (SELECT min(vec_id) FROM v) AS vec_id, " +
      "CAST(0 AS BIGINT) AS dsq_at_selection") +:
      (2 to k).map(i =>
        s"SELECT $i, p$i.c, CAST(p$i.m AS BIGINT) FROM p$i")
    val sql = head + ",\n" + rounds + "\n" +
      emits.mkString("", "\nUNION ALL ", "\nORDER BY center_rank")
    GraftOp("sample_kcenter", sql) { (s, d) =>
      val v = Tables.embeddings(s, d).select(col("vec_id"),
        expr("""transform(embedding,
          |  x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS DOUBLE))"""
          .stripMargin).as("q"))
        .withColumn("n2", graft.functions.vec_dot(col("q"), col("q")))
        .cache()
      try {
        val seedRow = v.orderBy(col("vec_id")).select(col("vec_id"), col("q"), col("n2"))
          .head()
        var chosen = List((1, seedRow.getLong(0), 0L,
          seedRow.getSeq[Double](1).toArray, seedRow.getDouble(2)))
        for (i <- 2 to k) {
          // min over chosen of the exact-integer dsq identity
          val mindist = chosen.map { case (_, _, _, cq, cn2) =>
            col("n2") + lit(cn2) -
              lit(2.0) * graft.functions.vec_dot(col("q"),
                array(cq.map(lit(_)): _*))
          }.reduce(least(_, _))
          val pick = v.withColumn("m", mindist)
            .orderBy(col("m").desc, col("vec_id"))
            .select(col("vec_id"), col("m"), col("q"), col("n2"))
            .head()
          chosen = (i, pick.getLong(0), pick.getDouble(1).toLong,
            pick.getSeq[Double](2).toArray, pick.getDouble(3)) :: chosen
        }
        val rows = chosen.reverse.map { case (rank, id, dsq, _, _) => (rank, id, dsq) }
        import s.implicits._
        rows.toDF("center_rank", "vec_id", "dsq_at_selection")
          .orderBy(col("center_rank"))
      } finally v.unpersist()
    }
  }

  /** DoReMi-style mixture reweighting over the source census (Xie et
    * al. 2023, "DoReMi: Optimizing Data Mixtures", public): domains
    * whose documents score WORSE than the current mixture average get
    * their sampling weight multiplied up (exp(η·excess)), so the next
    * training mix spends more budget where the proxy loss is highest —
    * the multiplicative-weights / Group-DRO update at the heart of the
    * paper, re-expressed over a deterministic proxy. No proxy MODEL
    * exists in this engine, so the per-domain "loss" is a deterministic
    * quality DEFICIT in exact ppm integers (duplicate-token fraction +
    * short-document deficit — two of the Gopher-style signals the
    * text family already scores), which is exactly the role the proxy
    * plays: a per-domain hardness scalar.
    *
    * Determinism contract: per-doc deficits are EXACT integers (ppm by
    * integral division), per-domain means are integral divisions,
    * weights live on the integer ppm grid and renormalize by integral
    * division each round, and the only doubles — the exp(η·excess)
    * factors — are 10dp-snapped before use (the holt/ewma libm-rescue
    * discipline), so all three unrolled multiplicative-weights rounds
    * are bit-identical across engines. Scale: one linear pass over
    * documents, then every round is arithmetic on a |domains|-row
    * frame with broadcast scalar totals. */
  val doremi: GraftOp = GraftOp(
    "sample_doremi", {
      def round(i: Int): String =
        s"""a$i AS (SELECT CAST(sum(w * d_ppm) // 1000000 AS BIGINT) AS avg FROM w${i - 1}),
           |u$i AS (
           |  SELECT source, n_docs, d_ppm,
           |    CAST(floor(w * round(exp(2.0 * greatest(0, d_ppm - avg) / 1000000.0), 10))
           |      AS BIGINT) AS raw
           |  FROM w${i - 1}, a$i),
           |s$i AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM u$i),
           |w$i AS (SELECT source, n_docs, d_ppm, raw * 1000000 // tot AS w FROM u$i, s$i)"""
          .stripMargin
      s"""WITH t AS (
         |  SELECT doc_id, source, n_chars,
         |    string_split_regex(text, '\\s+') AS toks
         |  FROM documents),
         |dd AS (
         |  SELECT source,
         |    (1000000 - len(list_distinct(toks)) * 1000000 // len(toks))
         |      + (1000000 - least(n_chars, 500) * 1000000 // 500) AS d_doc
         |  FROM t),
         |d0 AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(d_doc) // count(*) AS BIGINT) AS d_ppm
         |  FROM dd GROUP BY 1),
         |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM d0),
         |w0 AS (SELECT source, n_docs, d_ppm, 1000000 // k AS w FROM d0, k),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT source, n_docs, d_ppm AS deficit_ppm, w AS weight_ppm,
         |  CAST(w * k AS DOUBLE) / 1000000.0 AS boost_vs_uniform
         |FROM w3, k ORDER BY source""".stripMargin
    }) { (s, d) =>
    // NB: `split` here is the sample_split op — use the function FQN
    val toks = org.apache.spark.sql.functions.split(col("text"), "\\s+")
    val dd2 = Tables.documents(s, d)
      .select(col("source"), toks.as("toks"), col("n_chars"))
      .select(col("source"),
        expr("""(1000000 - size(array_distinct(toks)) * 1000000L div size(toks))
          |  + (1000000 - least(n_chars, 500) * 1000000L div 500)""".stripMargin).as("d_doc"))
    val d0 = dd2.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(sum(d_doc) div count(*) AS BIGINT)").as("d_ppm"))
    // r17 (guide §5, measured): the three multiplicative-weights
    // rounds are scalar algebra over the |domains|-row census, but as
    // a lazy Spark plan each round added TWO BroadcastExchange jobs
    // (avg, tot) whose subtrees re-derive the census chain — 7 driver-
    // blocking jobs for ~20 rows (sample_doremi measured 1.7–2.2 s,
    // almost all broadcast-build latency). DoReMi's domain-weight
    // vector is driver state in the paper itself; the census aggregate
    // stays distributed, the k-row rounds now run on the driver with
    // BIT-IDENTICAL arithmetic: exact BIGINT sums/divs, and the one
    // double chain replicated operation-for-operation (math.exp =
    // Spark Exp's math.exp; BigDecimal.valueOf(x).setScale(10,
    // HALF_UP) = Spark Round's scala BigDecimal.decimal path;
    // w.toDouble * snapped then floor = `floor(w * round(...))` on
    // promoted doubles). Oracle-verified at sf0.001/0.01/0.1.
    val census = d0.collect() // |domains| rows — bounded, never corpus-scale
    val k = census.length.toLong
    final case class Dom(source: String, nDocs: Long, dPpm: Long, var w: Long)
    val doms = census.map(r =>
      Dom(r.getString(0), r.getLong(1), r.getLong(2), 1000000L / k))
    // an empty corpus has no domains: no rounds, the empty frame out
    for (_ <- 1 to 3 if k > 0) {
      val avg = doms.map(x => x.w * x.dPpm).sum / 1000000L
      val raws = doms.map { x =>
        val excess = math.max(0L, x.dPpm - avg)
        val snapped = java.math.BigDecimal.valueOf(math.exp(2.0 * excess / 1000000.0))
          .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue()
        math.floor(x.w.toDouble * snapped).toLong
      }
      val tot = raws.sum
      doms.zip(raws).foreach { case (x, raw) => x.w = raw * 1000000L / tot }
    }
    import s.implicits._
    doms.toSeq
      .map(x => (x.source, x.nDocs, x.dPpm, x.w, (x.w * k).toDouble / 1000000.0))
      .toDF("source", "n_docs", "deficit_ppm", "weight_ppm", "boost_vs_uniform")
      .orderBy(col("source"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023 "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by a hashed-bigram likelihood ratio between a TARGET
    * distribution (here the English slice of the corpus) and the RAW
    * corpus, then resample proportionally to the weight. The graft
    * determinism discipline replaces both stochastic pieces:
    *
    *  - The two bag-of-hashed-bigrams LMs (B = 4096 buckets, portable
    *    md5 bucket ids, Laplace +1 smoothing) stay exactly the paper's,
    *    but the per-BUCKET importance ratio is an EXACT ppm integer
    *    `(c_t+1)·(N_r+B)·10⁶ div ((c_r+1)·(N_t+B))` (DECIMAL(38)/
    *    HUGEINT fold), and the per-doc weight aggregates bucket ratios
    *    by exact-integer MEAN rather than by log-sum — no
    *    transcendentals, no cross-row double folds, the same
    *    mean-not-product contract text_lm_score established.
    *  - The Gumbel-top-k resample becomes priority sampling (Duffield
    *    et al.): pri = weight/u with u the exact per-doc uniform from
    *    the salted portable hash — one IEEE division over identical
    *    operands per engine, the sample_weighted contract.
    *
    * Scale shape: the bigram stream is one lead() window over the
    * shared token frame; both LMs are 4096-row aggregates of it
    * (broadcast back); the per-doc score is one shuffle on doc_id; the
    * top-k is TakeOrdered (per-partition heap + driver merge of k),
    * never a global sort. Docs with <2 tokens have no bigram evidence
    * and are unscoreable — excluded identically in both engines. */
  val dsir: GraftOp = GraftOp(
    "sample_dsir",
    s"""WITH t AS (SELECT doc_id, lang, string_split_regex(text, '\\s+') AS toks FROM documents),
       |bgl AS (
       |  SELECT doc_id, lang,
       |    unnest(list_transform(range(1, len(toks)), i -> [toks[i], toks[i+1]])) AS p
       |  FROM t WHERE len(toks) >= 2),
       |bg AS (
       |  SELECT doc_id, lang,
       |    ${graft.functions.Exprs.sqlMd5Long("concat(p[1], ' ', p[2])")} % 4096 AS b
       |  FROM bgl),
       |lmr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM bg GROUP BY b),
       |lmt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM bg WHERE lang = 'en' GROUP BY b),
       |tot AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM bg) AS nr,
       |         (SELECT CAST(count(*) AS BIGINT) FROM bg WHERE lang = 'en') AS nt),
       |ratio AS (
       |  SELECT r.b,
       |    CAST(CAST(coalesce(t.ct, 0) + 1 AS HUGEINT) * (nr + 4096) * 1000000
       |      // (CAST(r.cr + 1 AS HUGEINT) * (nt + 4096)) AS BIGINT) AS ratio_ppm
       |  FROM lmr r LEFT JOIN lmt t USING (b) CROSS JOIN tot),
       |ds AS (
       |  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(ratio_ppm) AS BIGINT) AS sum_ppm
       |  FROM bg JOIN ratio USING (b) GROUP BY 1, 2),
       |sc AS (
       |  SELECT doc_id, lang, n_bigrams,
       |    CAST(sum_ppm // n_bigrams AS BIGINT) AS weight_ppm,
       |    CAST(sum_ppm // n_bigrams AS DOUBLE)
       |      / ((${graft.functions.Exprs.sqlMd5Long("concat('dsir#', CAST(doc_id AS VARCHAR))")} + 1)
       |         / 1152921504606846976.0) AS pri
       |  FROM ds),
       |k AS (SELECT doc_id, lang, n_bigrams, weight_ppm FROM sc
       |      ORDER BY pri DESC, doc_id LIMIT 200)
       |SELECT doc_id, lang, n_bigrams, weight_ppm FROM k ORDER BY doc_id""".stripMargin) { (s, d) =>
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bgRaw = TextOps.tokenized(s, d)
      .withColumn("w2", lead(col("tok"), 1).over(byDoc))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"),
        (graft.functions.Exprs.md5Long(concat(col("tok"), lit(" "), col("w2"))) % 4096).as("b"))
    // lang rides a doc_id join (the window above already partitioned
    // the stream on doc_id, so this reuses that exchange)
    // r16: registry-persisted — the hashed-bigram stream feeds FOUR
    // subplans (raw LM, target LM, the totals row, the per-doc score);
    // each re-ran the lead() window + per-bigram md5 before (exchange
    // reuse dedupes only the shuffle below the window, not the window)
    val bg = graft.CachedPlans.cached(s, s"dsir.bigrams:$d")(
      bgRaw.join(
        Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id"))
    val lmr = bg.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val lmt = bg.filter(col("lang") === "en").groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val tot = broadcast(bg.agg(count(lit(1)).as("nr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt")))
    val ratio = lmr.join(lmt, Seq("b"), "left").crossJoin(tot)
      .select(col("b"),
        expr("""CAST(CAST(coalesce(ct, 0) + 1 AS DECIMAL(38,0)) * (nr + 4096) * 1000000
          |  div (CAST(cr + 1 AS DECIMAL(38,0)) * (nt + 4096)) AS BIGINT)""".stripMargin)
          .as("ratio_ppm"))
    val ds = bg.join(broadcast(ratio), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ratio_ppm")).as("sum_ppm"))
    val u = (graft.functions.Exprs.md5Long(
      concat(lit("dsir#"), col("doc_id").cast(org.apache.spark.sql.types.StringType))) + 1) /
      lit(1152921504606846976.0)
    ds.select(col("doc_id"), col("lang"), col("n_bigrams"),
        expr("CAST(sum_ppm div n_bigrams AS BIGINT)").as("weight_ppm"))
      .withColumn("pri", col("weight_ppm").cast(org.apache.spark.sql.types.DoubleType) / u)
      .orderBy(col("pri").desc, col("doc_id"))
      .limit(200)
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("weight_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Effective sample size + Kish design effect of [[importance]]'s
    * Horvitz-Thompson weights, per source — the "how many i.i.d. docs
    * is this weighted sample actually worth" audit every importance-
    * sampled corpus should report (ESS = (Σw)²/Σw², Kish 1965;
    * deff = n·Σw²/(Σw)² ≥ 1, the variance-inflation factor). Shares
    * [[importance]]'s exact construction verbatim (same p_ppm clamp,
    * same salted md5 keep decision, same exact micro weights
    * 10¹²//p_ppm) so the two readings can never disagree on the
    * sample. Σw is BIGINT-safe (w ≤ 10⁷); Σw² folds in
    * DECIMAL(38)/HUGEINT (≤ 10¹⁴/doc — inside 38 digits to 10²⁴
    * docs) and emits as DOUBLE per the no-decimal-emit rule. One
    * partition-local decision + one |sources|-row aggregate. */
  val ess: GraftOp = GraftOp(
    "sample_ess",
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |    least(greatest(CAST(length(text) AS BIGINT) * 1000000 // 2000, 100000), 1000000)
       |      AS p_ppm
       |  FROM documents),
       |k AS (
       |  SELECT source, 1000000000000 // p_ppm AS w
       |  FROM d
       |  WHERE ${graft.functions.Exprs.sqlMd5Long("concat('i42#', CAST(doc_id AS VARCHAR))")} % 1000000 < p_ppm),
       |g AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |    CAST(sum(w) AS BIGINT) AS sw,
       |    CAST(sum(CAST(w AS HUGEINT) * w) AS HUGEINT) AS sww
       |  FROM k GROUP BY 1)
       |SELECT source, n_kept, sw AS sw_micro, CAST(sww AS DOUBLE) AS sww_val,
       |  CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sww AS DOUBLE) AS ess,
       |  CAST(n_kept AS DOUBLE) * CAST(sww AS DOUBLE)
       |    / (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)) AS kish_deff
       |FROM g ORDER BY source""".stripMargin) { (s, d) =>
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val k = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        expr("least(greatest(CAST(length(text) AS BIGINT) * 1000000 div 2000, 100000), 1000000)")
          .as("p_ppm"))
      .filter(graft.functions.Exprs.md5Long(
        concat(lit("i42#"), col("doc_id").cast(org.apache.spark.sql.types.StringType)))
        % 1000000 < col("p_ppm"))
      .select(col("source"), expr("1000000000000 div p_ppm").as("w"))
    k.groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("w")).cast(org.apache.spark.sql.types.LongType).as("sw"),
        sum(col("w").cast(dec) * col("w")).cast(dec).as("sww"))
      .select(col("source"), col("n_kept"), col("sw").as("sw_micro"),
        col("sww").cast(org.apache.spark.sql.types.DoubleType).as("sww_val"),
        expr("CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sww AS DOUBLE)").as("ess"),
        expr("""CAST(n_kept AS DOUBLE) * CAST(sww AS DOUBLE)
               |  / (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))""".stripMargin)
          .as("kish_deff"))
      .orderBy(col("source"))
  }

  val ops: Seq[GraftOp] =
    Seq(uniform, stratified, hashSample, fixedPerGroup, weighted, mixture, split, temperature,
      balanced, shard, epochShuffle, tokenBudget, importance, neyman, kcenter, doremi, dsir,
      ess)
}
