package graft.operators

import graft.GraftOp
import graft.functions.{simhash64, token_window_hashes, Exprs}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication family for LLM-data pipelines (SURVEY.md §2d).
  *
  * Scale design: nothing here is O(n²) in the corpus. Exact dedup is a
  * single hash shuffle; near-dup candidate generation goes through an
  * inverted index (explode on shingle / band / bucket, shuffle on that
  * key), so cost is bounded by index-entry counts, with a document-
  * frequency cap killing the hot-shingle quadratic blowup.
  */
object DedupOps {

  /** Times each shared index's BUILD lambda actually ran this JVM —
    * the zero-rebuild proof for [[IndexStore]]: after save → wipe
    * → load, serving queries must leave every counter untouched. */
  private[graft] val buildCount =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def counted(name: String)(df: => DataFrame): DataFrame = {
    buildCount.merge(name, 1, (a, b) => a + b)
    df
  }

  /** documents → (doc_id, shingles): native WordShingles expression —
    * a `transform(sequence, i -> element_at(split(...)))` formulation
    * gets its split() re-inlined into the lambda by CollapseProject and
    * re-evaluated per element (O(len²) per doc); the one-pass kernel is
    * ~20× faster and semantically identical to the oracle's list_
    * transform over string_split_regex. Registry-persisted: the
    * shingling kernel runs once per session+dir (hashedIndex builds
    * from it AND ngram/minhash verify against its arrays). */
  private[graft] def shingledDocs(s: SparkSession, d: String): DataFrame =
    graft.CachedPlans.cached(s, s"dedup.shingled:$d") {
      counted("shingled") {
        Tables.documents(s, d)
          .select(col("doc_id"), graft.functions.word_shingles(col("text"), 3).as("shingles"))
      }
    }

  /** Shared persisted inverted index (doc_id, sid) on the 60-bit
    * shingle hash — one registry entry per session+dir, shared by
    * ngram and minhash; released via [[clearCache]]. */
  private[graft] def hashedIndex(s: SparkSession, d: String): DataFrame =
    graft.CachedPlans.cached(s, s"dedup.hashedIndex:$d") {
      counted("hashed_index") {
        shingledDocs(s, d)
          .select(col("doc_id"), explode(col("shingles")).as("shingle"))
          .select(col("doc_id"), Exprs.md5Long(col("shingle")).as("sid"))
      }
    }

  /** Shared persisted set of RARE shingle ids (corpus df ≤ 50) — the
    * blocking vocabulary. Cached separately from [[rareIndex]] so
    * operators that filter a NON-corpus index by corpus rarity
    * (containment's planted probes) reuse the df aggregate. */
  private[graft] def rareSids(s: SparkSession, d: String): DataFrame =
    graft.CachedPlans.cached(s, s"dedup.rareSids:$d") {
      counted("rare_sids") {
        hashedIndex(s, d).groupBy(col("sid")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 50).select(col("sid"))
      }
    }

  /** Shared persisted RARE-shingle index (df ≤ 50 blocking applied) —
    * the frame both ngram's and containment's candidate self-joins
    * read twice; one registry entry per session+dir. */
  private[graft] def rareIndex(s: SparkSession, d: String): DataFrame =
    graft.CachedPlans.cached(s, s"dedup.rareIndex:$d") {
      counted("rare_index") {
        hashedIndex(s, d).join(broadcast(rareSids(s, d)), "sid")
      }
    }

  /** Shared persisted (doc_id, simhash) projection for the simhash
    * band join — one registry entry per session+dir. */
  private[graft] def simhashDocs(s: SparkSession, d: String): DataFrame =
    graft.CachedPlans.cached(s, s"dedup.simhashDocs:$d") {
      counted("simhash_docs") {
        Tables.documents(s, d)
          .select(col("doc_id"), simhash64(split(col("text"), "\\s+")).as("sh"))
      }
    }

  /** Unpersist the shared dedup/ANN indexes this session built. */
  def clearCache(s: SparkSession): Unit = graft.CachedPlans.clear(s)

  private[operators] val sqlShingles =
    """list_distinct(CASE WHEN len(toks) >= 3
      |  THEN list_transform(range(1, len(toks) - 1), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
      |  ELSE [text] END)""".stripMargin.replace("\n", " ")

  /** Exact dedup: content-hash groupBy, keep lowest doc_id. */
  val exact: GraftOp = GraftOp(
    "dedup_exact",
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_doc""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_doc"))
  }

  /** Near-dup via exact n-gram Jaccard over an inverted shingle index.
    * Blocking: only shingles with document frequency ≤ 50 generate
    * CANDIDATE pairs (near-dup pairs share *rare* shingles; hot
    * shingles only add quadratic noise and are the skew bomb at
    * corpus scale). Candidates are then verified with the exact
    * full-set Jaccard over the complete shingle arrays — the emitted
    * value is the true Jaccard, blocking only bounds which pairs get
    * considered. */
  val ngram: GraftOp = GraftOp(
    "dedup_ngram",
    s"""WITH toks AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks FROM documents),
       |shl AS (SELECT doc_id, $sqlShingles AS shingles FROM toks),
       |sh0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl),
       |sh AS (SELECT doc_id, ${Exprs.sqlMd5Long("shingle")} AS sid FROM sh0),
       |rare AS (SELECT sid FROM sh GROUP BY 1 HAVING count(*) <= 50),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.sid = b.sid AND a.doc_id < b.doc_id
       |  WHERE a.sid IN (SELECT sid FROM rare)
       |  GROUP BY 1, 2 HAVING count(*) >= 5),
       |sizes AS (SELECT doc_id, len(shingles) AS n, shingles FROM shl)
       |SELECT doc_a, doc_b,
       |  len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
       |    (sa.n + sb.n - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
       |FROM cand, sizes sa, sizes sb
       |WHERE sa.doc_id = doc_a AND sb.doc_id = doc_b
       |  AND len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
       |    (sa.n + sb.n - len(list_intersect(sa.shingles, sb.shingles))) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    ngramPairs(s, d).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Registry-persisted blocked-exact near-dup pairs (doc_a, doc_b,
    * jaccard ≥ 0.8) — the rare-shingle route's verified output, shared
    * by dedup_ngram, dedup_lsh_audit's truth and
    * dedup_lsh_band_curve's truth (r15: previously each consumer
    * re-ran the pair join + exact verification per query). */
  private[graft] def ngramPairs(s: SparkSession, d: String): DataFrame =
    graft.CachedPlans.cached(s, s"dedup.ngramPairs:$d")(
      counted("ngram_pairs")(ngramPairsPlan(s, d)))

  private def ngramPairsPlan(s: SparkSession, d: String): DataFrame = {
    val docs = shingledDocs(s, d)
    // join on a portable 60-bit shingle hash: long equi-keys shuffle and
    // probe far cheaper than ~30-char strings; the oracle hashes
    // identically so any collision affects both engines the same way.
    // The rare-filtered index is registry-persisted (self-join reads it
    // twice; containment shares it)
    val indexed = rareIndex(s, d)
    // second blocking stage: require >= 5 shared rare shingles before
    // the (array-intersect) exact verification — random pairs share 1-2
    // rare shingles, near-dups share dozens, so this cuts the verify
    // set ~3700x at sf0.1 without touching which true pairs survive
    val cand = indexed.as("a")
      .join(indexed.as("b"),
        col("a.sid") === col("b.sid") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("rare_inter"))
      .filter(col("rare_inter") >= 5)
      .select(col("doc_a"), col("doc_b"))
    val sizes = docs.select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
    val inter = size(array_intersect(col("sa.shingles"), col("sb.shingles")))
    val jac = inter * lit(1.0) / (col("sa.n") + col("sb.n") - inter)
    cand
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** Asymmetric shingle CONTAINMENT: |A∩B| / min(|A|,|B|) ≥ 0.9 —
    * the subset/quotation relation symmetric Jaccard MISSES: a short
    * doc fully embedded in a much longer one has jaccard ≈ |A|/|B|
    * (tiny) but containment ≈ 1. The dedup literature treats these as
    * near-dups too (boilerplate inclusion, quote farms). Same
    * rare-shingle blocking as dedup_ngram (df ≤ 50, ≥ 3 shared rare
    * shingles — lower second gate than ngram's 5: a small contained
    * doc has fewer shingles to share); only pairs NOT already caught
    * by the jaccard ≥ 0.8 family are emitted (the op's value is what
    * it adds OVER dedup_ngram).
    *
    * Verification counts |A∩B| ON THE EXPLODED (doc_id, sid) INDEX —
    * candidate pairs join the index twice (doc_a's sids, then a
    * matched probe into doc_b's sids) and aggregate a count; only the
    * two SCALAR set sizes are ever joined per pair. The previous
    * array-carrying formulation (both full shingle arrays joined onto
    * every candidate, `array_intersect` per pair) was a wide-row
    * shuffle amplifier — at 100 TB the pair join must move longs, not
    * document-length arrays. Set sizes come from the same index
    * (shingles are distinct per doc), so no array column appears
    * anywhere in this plan.
    *
    * The synthetic corpus contains near-identical pairs (jaccard ≥
    * 0.9) but no true subset pairs at small SFs, which made this row
    * pass VACUOUSLY (0 rows == 0 rows). So the query plants
    * deterministic PROBE docs derived in-query (doc_id % 23 == 5, ≥ 30
    * tokens: the first ⌊3n/5⌋ tokens as doc_id + 1_000_000): a prefix
    * is a containment-but-not-jaccard dup of its source by
    * construction. Probes are derived identically in the oracle SQL,
    * exercise the full blocking+verify path, and make the checked
    * result non-empty at every driver SF. Corpus-side rarity (df ≤ 50
    * over the REAL corpus only) blocks candidates, so probes cannot
    * perturb which corpus pairs block. */
  val containment: GraftOp = GraftOp(
    "dedup_containment",
    s"""WITH toks0 AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks FROM documents),
       |planted AS (
       |  SELECT doc_id + 1000000 AS doc_id,
       |    array_to_string(list_slice(toks, 1, greatest(3, CAST(floor(len(toks) * 3 / 5) AS INT))), ' ') AS text
       |  FROM toks0 WHERE doc_id % 23 = 5 AND len(toks) >= 30),
       |alld AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM planted),
       |toks AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks FROM alld),
       |shl AS (SELECT doc_id, $sqlShingles AS shingles FROM toks),
       |sh0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl),
       |sh AS (SELECT doc_id, ${Exprs.sqlMd5Long("shingle")} AS sid FROM sh0),
       |rare AS (SELECT sid FROM sh WHERE doc_id < 1000000 GROUP BY 1 HAVING count(*) <= 50),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.sid = b.sid AND a.doc_id < b.doc_id
       |  WHERE a.sid IN (SELECT sid FROM rare)
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS i
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.sid = a.sid
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b,
       |  round(i.i * 1.0 / least(sa.n, sb.n), 6) AS containment
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.doc_a
       |JOIN sizes sb ON sb.doc_id = i.doc_b
       |WHERE i.i * 1.0 / least(sa.n, sb.n) >= 0.9
       |  AND i.i * 1.0 / (sa.n + sb.n - i.i) < 0.8
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    // deterministic prefix probes (see scaladoc): first 3/5 of tokens,
    // re-shingled exactly like corpus docs, ids offset by 1e6
    val planted = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(col("doc_id") % 23 === 5 && size(col("toks")) >= 30)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat_ws(" ", slice(col("toks"), lit(1),
          greatest(lit(3), floor(size(col("toks")) * 3 / 5).cast("int")))).as("text"))
    // r16: registry-persisted — the planted-probe index feeds FOUR
    // consumers of fullIdx (candidate blocking, both intersection
    // probes, set sizes); each re-ran the split/shingle/md5 derivation
    // before (hashedIndex itself is already registry-persisted)
    val plantedIdx = graft.CachedPlans.cached(s, s"dedup.containmentPlanted:$d")(
      planted
        .select(col("doc_id"), explode(graft.functions.word_shingles(col("text"), 3)).as("shingle"))
        .select(col("doc_id"), Exprs.md5Long(col("shingle")).as("sid")))
    val fullIdx = hashedIndex(s, d).unionByName(plantedIdx)
    // blocking: corpus-rare sids only (probes filtered by the same
    // broadcast vocabulary, so corpus candidates are unperturbed)
    val candIdx = fullIdx.join(broadcast(rareSids(s, d)), "sid")
    val cand = candIdx.as("a")
      .join(candIdx.as("b"),
        col("a.sid") === col("b.sid") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("rare_inter"))
      .filter(col("rare_inter") >= 3)
      .select(col("doc_a"), col("doc_b"))
    // |A∩B| on the exploded index: doc_a's sids probed into doc_b's —
    // cand is tiny post-blocking (AQE turns these into broadcasts);
    // nothing wider than (long, long, long) flows through either join
    val inter = cand
      .join(fullIdx.as("ia"), col("doc_a") === col("ia.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("ia.sid").as("sid")).as("pa")
      .join(fullIdx.as("ib"), col("doc_b") === col("ib.doc_id") && col("pa.sid") === col("ib.sid"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // scalar set sizes from the same index (sids are distinct per doc)
    val sizes = fullIdx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val containmentExpr = col("inter") * lit(1.0) / least(col("na"), col("nb"))
    val jac = col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sa.n").as("na"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("sb.n").as("nb"))
      .filter(containmentExpr >= 0.9 && jac < 0.8)
      .select(col("doc_a"), col("doc_b"), round(containmentExpr, 6).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shared oracle CTE chain ending in `verified(doc_a, doc_b,
    * jaccard)` — the minhash pipeline up to exact-Jaccard
    * verification, reused by dedup_minhash and dedup_clusters. */
  /** Oracle CTE prefix ending in `hashes(doc_id, seed, mh)` — the
    * shingle → md5 → 16-minhash chain shared by the banding consumers
    * (r15: dedup_band_curve re-bands the SAME hashes). */
  private[operators] val sqlMinhashHashes: String =
    s"""toks AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks FROM documents),
       |shl AS (SELECT doc_id, $sqlShingles AS shingles FROM toks),
       |sh0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl),
       |sh AS (SELECT doc_id, ${Exprs.sqlMd5Long("shingle")} AS sid FROM sh0),
       |hashes AS (
       |  SELECT doc_id, seed, min(${Exprs.sqlMd5Long("concat(CAST(sid AS VARCHAR), '#', seed)")}) AS mh
       |  FROM sh, (SELECT unnest(range(0, 16)) AS seed) seeds
       |  GROUP BY 1, 2)""".stripMargin

  private[operators] val sqlMinhashVerified: String =
    s"""$sqlMinhashHashes,
       |bands AS (
       |  SELECT doc_id, CAST(floor(seed / 4) AS INT) AS band,
       |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS sig
       |  FROM hashes GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, len(shingles) AS n, shingles FROM shl),
       |verified AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
       |      (sa.n + sb.n - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
       |  FROM cand, sizes sa, sizes sb
       |  WHERE sa.doc_id = doc_a AND sb.doc_id = doc_b)""".stripMargin

  /** Verified minhash near-dup pairs (jaccard ≥ 0.8), unordered.
    * Registry-persisted: dedup_minhash and dedup_clusters share one
    * materialization of the band-join + exact-verify chain. */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame =
    graft.CachedPlans.cached(s, s"dedup.minhashPairs:$d")(
      counted("minhash_pairs")(minhashPairsPlan(s, d)))

  private def minhashPairsPlan(s: SparkSession, d: String): DataFrame =
    verifiedPairChainFromSigs(shingledDocs(s, d), corpusSigs(s, d)) // shared cache with dedup_ngram

  /** Registry-persisted 16-minhash signatures of the corpus — the
    * expensive md5-dictionary pass, shared by dedup_minhash's pair
    * chain and dedup_lsh_band_curve's re-banding (r15). */
  private[graft] def corpusSigs(s: SparkSession, d: String): DataFrame =
    graft.CachedPlans.cached(s, s"dedup.minhashSigs:$d")(minhashSigs(hashedIndex(s, d)))

  /** Verified near-dup pairs for an ARBITRARY docs frame (doc_id,
    * text) — the same signature/band/verify chain as dedup_minhash but
    * with no registry coupling, so the streaming corpus-clean
    * composition can canonicalize WITHIN a micro-batch with the exact
    * expressions the batch pipeline uses (bit-identical pair sets —
    * the batch/stream equivalence spec depends on it). */
  private[graft] def verifiedPairsFor(docsRaw: DataFrame): DataFrame = {
    val docs = docsRaw.select(col("doc_id"), col("text"),
      graft.functions.word_shingles(col("text"), 3).as("shingles"))
    val sh = docs.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .select(col("doc_id"), Exprs.md5Long(col("shingle")).as("sid"))
    verifiedPairChain(docs, sh)
  }

  /** The 16-minhash signature frame (doc_id, m0..m15) for a shingle
    * index. md5 is the expensive kernel → hash each DISTINCT shingle
    * id once (dictionary, as a 16-wide array), then join back and take
    * 16 columnar min-aggregates per doc — no seed explosion, one
    * narrow shuffle of |index| rows. */
  private[operators] def minhashSigs(sh: DataFrame): DataFrame = {
    val dict = sh.select(col("sid")).distinct()
      .select(col("sid"), transform(sequence(lit(0), lit(15)),
        seed => Exprs.md5Long(concat(col("sid").cast(StringType), lit("#"), seed.cast(StringType)))).as("hs"))
    val minCols = (0 until 16).map(i => min(element_at(col("hs"), i + 1)).as(s"m$i"))
    sh.join(dict, "sid")
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
  }

  private def verifiedPairChain(docs: DataFrame, sh: DataFrame): DataFrame =
    verifiedPairChainFromSigs(docs, minhashSigs(sh))

  private def verifiedPairChainFromSigs(docs: DataFrame, sigs: DataFrame): DataFrame = {
    // 4 bands × 4 rows: band signature = comma-joined minhash run
    val bandSig = (0 until 4).map(b =>
      concat_ws(",", (0 until 4).map(r => col(s"m${b * 4 + r}").cast(StringType)): _*))
    val bands = sigs
      .select(col("doc_id"), posexplode(array(bandSig: _*)))
      .toDF("doc_id", "band", "sig")
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sizes = docs.select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
    val inter = size(array_intersect(col("sa.shingles"), col("sb.shingles")))
    val jac = inter * lit(1.0) / (col("sa.n") + col("sb.n") - inter)
    cand
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** MinHash + LSH: k=16 portable md5-derived min-hashes per doc,
    * 4 bands × 4 rows; docs sharing a band bucket become candidates,
    * verified with exact Jaccard ≥ 0.8. One explode-shuffle on band
    * buckets — never all-pairs. */
  /** Offline index-build phase as a first-class op — the build half of
    * the engine's build-once/serve-many split: force-materializes
    * EVERY session-shared index in [[SharedIndexes]] (shingle inverted
    * index, rare-blocked index, verified near-dup pairs, cluster
    * labels, simhash projection, IVF inverted file, PQ-encoded corpus,
    * trade-edge graph) and emits each one's row count plus the
    * distinct-shingle cardinality — the statistics an operator watches.
    * Sorted run order puts this before every consumer, so each
    * downstream query times its OWN plan against warm indexes instead
    * of absorbing a family-shared cold build (clean per-query bench
    * attribution).
    *
    * Oracled (r9): every emitted statistic is an exact corpus
    * cardinality DuckDB re-derives from the same definitions — the
    * shingle/minhash chain reuses [[sqlMinhashVerified]] verbatim, the
    * cluster walk the dedup_clusters recursion, the trade edges the
    * graph ops' e0/und0 CTEs, and the three per-vector frames are one
    * row per embeddings row by construction. */
  val candidateIndex: GraftOp = GraftOp(
    "dedup_candidate_index",
    s"""WITH RECURSIVE $sqlMinhashVerified,
       |vp AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.8),
       |pe AS (SELECT doc_a AS src, doc_b AS dst FROM vp
       |       UNION ALL SELECT doc_b, doc_a FROM vp),
       |vv AS (SELECT DISTINCT src AS doc FROM pe),
       |rare AS (SELECT sid FROM sh GROUP BY sid HAVING count(*) <= 50),
       |items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |bp AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
       |       FROM items a JOIN items b
       |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |       GROUP BY 1, 2 HAVING count(*) >= 2),
       |e0 AS (SELECT DISTINCT n1.n_name AS src, n2.n_name AS dst
       |       FROM lineitem, orders, supplier, customer, nation n1, nation n2
       |       WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
       |         AND o_custkey = c_custkey
       |         AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
       |         AND n1.n_nationkey <> n2.n_nationkey),
       |und0 AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e0)
       |SELECT stat, value FROM (
       |  SELECT 'affinity_basket_pairs' AS stat, CAST(count(*) AS BIGINT) AS value FROM bp
       |  UNION ALL SELECT 'dedup_cluster_labels', CAST(count(*) AS BIGINT) FROM vv
       |  UNION ALL SELECT 'dedup_hashed_index', CAST(count(*) AS BIGINT) FROM sh
       |  UNION ALL SELECT 'dedup_minhash_pairs', CAST(count(*) AS BIGINT) FROM vp
       |  UNION ALL SELECT 'dedup_minhash_sigs', CAST(count(DISTINCT doc_id) AS BIGINT) FROM sh
       |  UNION ALL SELECT 'dedup_ngram_pairs', CAST(count(*) AS BIGINT)
       |    FROM (${ngram.oracle.get}) np
       |  UNION ALL SELECT 'dedup_rare_index', CAST(count(*) AS BIGINT) FROM sh
       |    WHERE sid IN (SELECT sid FROM rare)
       |  UNION ALL SELECT 'dedup_shingled', CAST(count(*) AS BIGINT) FROM documents
       |  UNION ALL SELECT 'dedup_simhash_docs', CAST(count(*) AS BIGINT) FROM documents
       |  UNION ALL SELECT 'distinct_shingles', CAST(count(DISTINCT sid) AS BIGINT) FROM sh
       |  UNION ALL SELECT 'emb_km_assigned', CAST(count(*) AS BIGINT) FROM embeddings
       |  UNION ALL SELECT 'emb_pq_codes', CAST(count(*) AS BIGINT) FROM embeddings
       |  UNION ALL SELECT 'graph_trade_edges', CAST(count(*) AS BIGINT) FROM e0
       |  UNION ALL SELECT 'graph_und_edges', CAST(count(*) AS BIGINT) FROM und0
       |  UNION ALL SELECT 'knn_graph_edges', CAST(count(*) AS BIGINT)
       |    FROM (${KnnOps.knnGraph.oracle.get}) kg
       |  UNION ALL SELECT 'knn_ivf_assigned', CAST(count(*) AS BIGINT) FROM embeddings
       |  UNION ALL SELECT 'text_tokens',
       |    CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT) FROM documents
       |) ORDER BY stat""".stripMargin) { (s, d) =>
    import s.implicits._
    val built = SharedIndexes.materializeAll(s, d)
    val distinctShingles = hashedIndex(s, d)
      .agg(countDistinct(col("sid"))).head().getLong(0)
    (built :+ ("distinct_shingles" -> distinctShingles))
      .sortBy(_._1)
      .toDF("stat", "value")
  }

  val minhash: GraftOp = GraftOp(
    "dedup_minhash",
    s"""WITH $sqlMinhashVerified
       |SELECT doc_a, doc_b, jaccard FROM verified
       |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    minhashPairs(s, d).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Near-dup cluster assignment: connected components over the
    * verified minhash pair graph — the production step between "pairs
    * found" and "pick one canonical doc per duplicate group", without
    * which transitive dup chains (A~B, B~C) keep both A and C.
    *
    * Runs [[ConnectedComponents]] — large-star/small-star contraction
    * by default (round count ~log n, independent of chain length, so
    * serial-boilerplate dup chains can't blow the round bound), with
    * min-label propagation behind `spark.graft.cc.algo=propagation`.
    * Oracle: recursive CTE over the same pair graph.
    */
  /** Connected-components CTE fragment over `verified` — shared by the
    * dedup_clusters and pipeline_clean oracles so the two can't drift.
    * Ends in `walk(doc, label)`; consumers aggregate min(label). */
  private[operators] val sqlClusterWalk: String =
    """e AS (SELECT doc_a AS src, doc_b AS dst FROM verified WHERE jaccard >= 0.8
      |      UNION ALL
      |      SELECT doc_b AS src, doc_a AS dst FROM verified WHERE jaccard >= 0.8),
      |vv AS (SELECT DISTINCT src AS doc FROM e),
      |walk(doc, label) AS (
      |  SELECT doc, doc FROM vv
      |  UNION
      |  SELECT e.dst, walk.label FROM walk JOIN e ON walk.doc = e.src)""".stripMargin

  val clusters: GraftOp = GraftOp(
    "dedup_clusters",
    s"""WITH RECURSIVE $sqlMinhashVerified,
       |$sqlClusterWalk
       |SELECT doc AS doc_id, min(label) AS cluster_id
       |FROM walk GROUP BY doc ORDER BY doc_id""".stripMargin) { (s, d) =>
    clusterLabels(s, d)
      .select(col("doc").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Registry-persisted near-dup cluster labels (doc, label) — ONE
    * cache key, shared by dedup_clusters, dedup_representative and
    * pipeline_clean so no two ops can materialize divergent
    * labelings. Star-contraction (default) or propagation — see
    * ConnectedComponents. */
  private[operators] def clusterLabels(s: SparkSession, d: String): DataFrame =
    graft.CachedPlans.cached(s, s"dedup.clusterLabels:$d") {
      counted("cluster_labels") {
        ConnectedComponents.run(s,
          minhashPairs(s, d).select(col("doc_a").as("src"), col("doc_b").as("dst")))
      }
    }

  /** Cluster-representative selection BY QUALITY — the curation policy
    * on top of [[clusters]]: instead of "keep the first copy", keep
    * each near-dup cluster's HIGHEST-QUALITY member (the text_quality
    * composite), doc_id tiebreak. "First copy" discards a clean
    * original in favor of whichever mangled mirror sorted lower; this
    * is the policy real corpus curation ships.
    *
    * Scale shape: the cluster labels are the registry-persisted frame
    * dedup_clusters already built (no re-contraction), quality is a
    * pure map over the clustered docs only, and the argmax is one
    * window over cluster-sized groups. Parity: quality_score is the
    * hash-green text_quality expression — identical doubles — so the
    * (quality desc, doc_id) order cannot differ. */
  val representative: GraftOp = GraftOp(
    "dedup_representative",
    s"""WITH RECURSIVE $sqlMinhashVerified,
       |$sqlClusterWalk,
       |labels AS (SELECT doc AS doc_id, min(label) AS cluster_id FROM walk GROUP BY doc),
       |q AS (
       |  SELECT d.doc_id, cluster_id,
       |    0.3 * least(1.0, n_chars / 500.0)
       |      + 0.4 * (len(list_distinct(toks)) * 1.0 / len(toks))
       |      + 0.3 * (len(list_filter(toks, x -> list_contains(${TextOps.sqlStopList}, x))) * 1.0 / len(toks)) AS quality
       |  FROM labels JOIN (
       |    SELECT doc_id, n_chars, string_split_regex(text, '\\s+') AS toks FROM documents) d
       |    ON labels.doc_id = d.doc_id),
       |r AS (
       |  SELECT cluster_id, doc_id, quality,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY cluster_id) AS n_members
       |  FROM q)
       |SELECT cluster_id, doc_id AS kept_doc_id, round(quality, 6) AS quality,
       |  CAST(n_members AS BIGINT) AS n_members
       |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.{Window => W}
    val labels = clusterLabels(s, d)
      .select(col("doc").as("doc_id"), col("label").as("cluster_id"))
    val quality = TextOps.qualityScoreExpr
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), split(col("text"), "\\s+").as("toks"))
    val w = W.partitionBy(col("cluster_id")).orderBy(col("quality").desc, col("doc_id"))
    labels.join(docs, Seq("doc_id"))
      .select(col("cluster_id"), col("doc_id"), quality.as("quality"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(W.partitionBy(col("cluster_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
        round(col("quality"), 6).as("quality"), col("n_members").cast(LongType).as("n_members"))
      .orderBy(col("cluster_id"))
  }

  /** Cross-source duplication matrix — WHERE the near-dups come from:
    * verified pairs rolled up by canonical source pair (crawl-overlap
    * diagnostics: two sources that copy each other get merged or
    * deprioritized in the mix; a source duplicating ITSELF has a
    * scraper loop). Reuses the registry-persisted verified-pair frame
    * (no re-index); the rollup is a |sources|² aggregate. */
  val crossSource: GraftOp = GraftOp(
    "dedup_cross_source",
    s"""WITH $sqlMinhashVerified,
       |p AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.8)
       |SELECT least(da.source, db.source) AS source_a,
       |  greatest(da.source, db.source) AS source_b, count(*) AS n_pairs
       |FROM p
       |JOIN documents da ON doc_a = da.doc_id
       |JOIN documents db ON doc_b = db.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    minhashPairs(s, d).filter(col("jaccard") >= 0.8)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Span-level dedup: repeated W-token spans across (or within)
    * documents — the "deduplicating text spans" op (Lee et al. 2022)
    * that doc-level dedup misses: two mostly-different docs sharing a
    * boilerplate paragraph surface here, not in minhash. Windows of
    * W=20 tokens at stride S=10 hash to a portable 60-bit key; one
    * groupBy on the span hash — linear in corpus token count, never
    * pairwise. A span-removal pass would join these hashes back to
    * window positions; the detection stage is the scale-critical part. */
  val spans: GraftOp = GraftOp(
    "dedup_spans",
    s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
       |w AS (
       |  SELECT doc_id, array_to_string(toks[n*10+1:n*10+20], ' ') AS span
       |  FROM toks, unnest(range(0, CAST(greatest(0, floor((len(toks)-20)/10.0)+1) AS BIGINT))) AS t(n)),
       |h AS (SELECT doc_id, ${Exprs.sqlMd5Long("span")} AS span_hash FROM w)
       |SELECT span_hash, count(*) AS n_occ,
       |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
       |FROM h GROUP BY span_hash HAVING count(*) > 1
       |ORDER BY span_hash""".stripMargin) { (s, d) =>
    val W = 20
    val S = 10
    // md5-over-span-text stays here: unlike the stride-1 ExactSubstr
    // ops, dedup_spans EMITS span_hash, so the portable md5 is part of
    // its output contract
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .withColumn("n_win",
        greatest(lit(0L), floor((size(col("toks")) - W) / S.toDouble) + 1).cast(IntegerType))
      // n_win guard: sequence(0, -1) yields [0, -1], not empty
      .filter(col("n_win") > 0)
      .select(col("doc_id"), col("toks"), posexplode(sequence(lit(0), col("n_win") - 1)))
      .toDF("doc_id", "toks", "w_idx", "n")
      .select(col("doc_id"),
        Exprs.md5Long(array_join(slice(col("toks"), col("n") * S + 1, lit(W)), " "))
          .as("span_hash"))
      .groupBy(col("span_hash"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_occ") > 1)
      .orderBy(col("span_hash"))
  }

  /** Span-removal surgery (the second half of Lee et al. 2022): every
    * duplicated W-token span keeps its FIRST occurrence corpus-wide
    * (ordered by doc_id, then window start) and is cut from all
    * later occurrences; overlapping removed windows merge by position.
    * Output: every document with its surviving token count and
    * re-assembled cleaned text.
    *
    * Scale shape — every stage linear in corpus tokens: window hashes
    * (same kernel as dedup_spans) → occurrence ranking (one window
    * shuffle on span_hash) → removed-position explode (≤ W rows per
    * removed window) → token-position anti-join (one shuffle on
    * (doc_id, pos)) → per-doc reassembly (sort_array of (pos, tok) —
    * one shuffle on doc_id). Never pairwise, no driver round-trips. */
  private[graft] def spanCleanFrom(docsText: DataFrame, S: Int = 10): DataFrame = {
    val W = 20
    val docs = docsText.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
    // Rabin-Karp kernel (r13): one md5 per TOKEN + an O(1) rolling
    // update per position instead of md5 over the joined W-token span
    // text per window — span_hash is internal here (only positions
    // survive to the output), so the oracle keeps its portable
    // md5-over-span-text spelling and the duplicate-window equivalence
    // classes still match (see HashImpls.windowHashes).
    val wins = docs
      .select(col("doc_id"), posexplode(token_window_hashes(col("toks"), W)))
      .toDF("doc_id", "pos", "span_hash")
      .filter(col("pos") % S === 0)
      .select(col("doc_id"), col("pos").cast(LongType).as("start"), col("span_hash"))
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("span_hash")).orderBy(col("doc_id"), col("start"))
    val overHash = org.apache.spark.sql.expressions.Window.partitionBy(col("span_hash"))
    val removed = wins
      .withColumn("occ", row_number().over(byHash))
      .withColumn("n_occ", count(lit(1)).over(overHash))
      .filter(col("n_occ") > 1 && col("occ") > 1)
      .select(col("doc_id"), explode(sequence(col("start"), col("start") + W - 1)).as("pos"))
      .distinct()
    val tokPos = docs.select(col("doc_id"), posexplode(col("toks")))
      .toDF("doc_id", "pos", "tok")
      .withColumn("pos", col("pos").cast(LongType))
    val keptAgg = tokPos.join(removed, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("text_clean"))
    // left join back: a doc made ENTIRELY of later-occurrence spans has
    // zero kept tokens but must still appear (empty text, not absent)
    docs.select(col("doc_id"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  val spanClean: GraftOp = GraftOp(
    "dedup_span_clean",
    s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
       |w AS (
       |  SELECT doc_id, CAST(n*10 AS BIGINT) AS start,
       |    array_to_string(toks[n*10+1:n*10+20], ' ') AS span
       |  FROM toks, unnest(range(0, CAST(greatest(0, floor((len(toks)-20)/10.0)+1) AS BIGINT))) AS t(n)),
       |h AS (SELECT doc_id, start, ${Exprs.sqlMd5Long("span")} AS span_hash FROM w),
       |ranked AS (
       |  SELECT doc_id, start,
       |    row_number() OVER (PARTITION BY span_hash ORDER BY doc_id, start) AS occ,
       |    count(*) OVER (PARTITION BY span_hash) AS n_occ
       |  FROM h),
       |rem AS (SELECT DISTINCT doc_id, start + u AS pos
       |  FROM ranked, unnest(range(0, 20)) AS t(u)
       |  WHERE n_occ > 1 AND occ > 1),
       |remlist AS (SELECT doc_id, list(pos) AS rpos FROM rem GROUP BY doc_id),
       |out AS (
       |  SELECT t.doc_id,
       |    list_filter(t.toks, (x, i) -> NOT coalesce(list_contains(r.rpos, i - 1), false)) AS kept
       |  FROM toks t LEFT JOIN remlist r USING (doc_id))
       |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
       |  coalesce(array_to_string(kept, ' '), '') AS text_clean
       |FROM out ORDER BY doc_id""".stripMargin) { (s, d) =>
    spanCleanFrom(Tables.documents(s, d))
  }

  /** Exact-substring duplicated spans (the detection half of Lee et
    * al. 2022's ExactSubstr, re-expressed without the suffix array):
    * windows of W=20 tokens at STRIDE 1 — every token position, unlike
    * [[spans]]' stride-10 screen — hash to the portable 60-bit key; a
    * position is duplicated when its window hash occurs anywhere else
    * in the corpus (including the same document), and maximal runs of
    * consecutive duplicated starts merge into spans via gaps-and-
    * islands. The merged [span_start, span_end] regions are exactly
    * the token ranges an ExactSubstr removal pass would cut: every
    * position covered by some corpus-duplicated W-gram.
    *
    * Scale shape: stride-1 costs one window row per corpus token
    * (the same O(total tokens) a suffix array pays), one shuffle on
    * the span hash for the occurrence count, one on doc_id for the
    * island merge — never pairwise. Hashing is O(1) per position
    * (r13): the TokenWindowHashes Rabin-Karp kernel md5-hashes each
    * TOKEN once and rolls the 64-bit window polynomial, replacing the
    * O(W) md5-of-joined-span-text per window; the hash is internal
    * (only span positions are emitted), so the DuckDB oracle keeps
    * the portable md5-over-span-text spelling — the duplicate-window
    * equivalence classes are identical either way. */
  val substrSpans: GraftOp = GraftOp(
    "dedup_substring",
    s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
       |w AS (
       |  SELECT doc_id, CAST(n AS BIGINT) AS start,
       |    array_to_string(toks[n+1:n+20], ' ') AS span
       |  FROM toks, unnest(range(0, len(toks) - 20 + 1)) AS t(n)
       |  WHERE len(toks) >= 20),
       |h AS (SELECT doc_id, start, ${Exprs.sqlMd5Long("span")} AS span_hash FROM w),
       |dup AS (
       |  SELECT doc_id, start FROM (
       |    SELECT doc_id, start, count(*) OVER (PARTITION BY span_hash) AS n_occ FROM h)
       |  WHERE n_occ > 1),
       |isl AS (
       |  SELECT doc_id, start,
       |    start - row_number() OVER (PARTITION BY doc_id ORDER BY start) AS g
       |  FROM dup)
       |SELECT doc_id, min(start) AS span_start, max(start) + 19 AS span_end,
       |  max(start) + 20 - min(start) AS span_tokens
       |FROM isl GROUP BY doc_id, g
       |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
    val W = 20
    // Rabin-Karp kernel (r13): O(1) hashing per position (one md5 per
    // token) — the constant-factor fix the r12 code note promised for
    // running ExactSubstr routinely at corpus scale; span_hash is
    // internal, the oracle keeps md5-over-span-text (same classes)
    val wins = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), posexplode(token_window_hashes(col("toks"), W)))
      .toDF("doc_id", "st", "span_hash")
      .select(col("doc_id"), col("st").cast(LongType).as("start"), col("span_hash"))
    val overHash = org.apache.spark.sql.expressions.Window.partitionBy(col("span_hash"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("start"))
    wins
      .withColumn("n_occ", count(lit(1)).over(overHash))
      .filter(col("n_occ") > 1)
      .withColumn("g", col("start") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + (W - 1)).as("span_end"),
        (max(col("start")) + W - min(col("start"))).as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** The removal half of exact-substring dedup at STRIDE 1 — the
    * [[spanClean]] surgery upgraded to [[substrSpans]]' precision:
    * every 20-token window at EVERY position hashes; each
    * corpus-duplicated window keeps its first occurrence (global
    * (doc_id, start) order per span_hash) and later occurrences have
    * their positions cut; overlapping removals merge by position and
    * the survivors reassemble. This is the full Lee et al. 2022
    * ExactSubstr pipeline (detect + remove, one copy survives)
    * without a suffix array; stride-10 span_clean remains the cheap
    * screen (it misses non-aligned duplicates by construction). Same
    * linear stages as span_clean — the only cost delta is the
    * stride-1 window count (one row per corpus token). */
  val substrClean: GraftOp = GraftOp(
    "dedup_substring_clean",
    s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
       |w AS (
       |  SELECT doc_id, CAST(n AS BIGINT) AS start,
       |    array_to_string(toks[n+1:n+20], ' ') AS span
       |  FROM toks, unnest(range(0, CAST(greatest(0, len(toks) - 20 + 1) AS BIGINT))) AS t(n)),
       |h AS (SELECT doc_id, start, ${Exprs.sqlMd5Long("span")} AS span_hash FROM w),
       |ranked AS (
       |  SELECT doc_id, start,
       |    row_number() OVER (PARTITION BY span_hash ORDER BY doc_id, start) AS occ,
       |    count(*) OVER (PARTITION BY span_hash) AS n_occ
       |  FROM h),
       |rem AS (SELECT DISTINCT doc_id, start + u AS pos
       |  FROM ranked, unnest(range(0, 20)) AS t(u)
       |  WHERE n_occ > 1 AND occ > 1),
       |remlist AS (SELECT doc_id, list(pos) AS rpos FROM rem GROUP BY doc_id),
       |out AS (
       |  SELECT t.doc_id,
       |    list_filter(t.toks, (x, i) -> NOT coalesce(list_contains(r.rpos, i - 1), false)) AS kept
       |  FROM toks t LEFT JOIN remlist r USING (doc_id))
       |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
       |  coalesce(array_to_string(kept, ' '), '') AS text_clean
       |FROM out ORDER BY doc_id""".stripMargin) { (s, d) =>
    spanCleanFrom(Tables.documents(s, d), S = 1)
  }

  /** SimHash near-dup: 64-bit simhash (native Catalyst expression),
    * 4×16-bit LSH bands for candidates, Hamming ≤ 6 verification via
    * bit_count(xor). The wrapping-Long kernel (per-token rollingHash →
    * splitmix64 finalizer → 64-bit voting) is replicated in DuckDB on
    * the Exprs HUGEINT idiom — the oracle hashes DISTINCT tokens once
    * (the vote sum only needs each instance's hash, so instances join
    * back by token), votes via signed arithmetic shifts ((hs>>b)&1 is
    * bit b regardless of sign fill), and reruns the full band join +
    * Hamming verify independently. */
  val simhash: GraftOp = GraftOp(
    "dedup_simhash",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t FROM documents),
       |dtok AS (SELECT DISTINCT t FROM tok),
       |rh AS (SELECT t, ${Exprs.sqlRollingHashU("t")} AS th FROM dtok),
       |${Exprs.sqlMix64Ctes(Seq("t"), "rh", "th", "hh")},
       |inst AS (SELECT tok.doc_id, hh.hs FROM tok JOIN hh USING (t)),
       |vote AS (
       |  SELECT doc_id, b, sum(CASE WHEN ((hs >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM inst CROSS JOIN (SELECT unnest(range(64)) AS b) GROUP BY 1, 2),
       |sh AS (
       |  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN CAST(power(2, b) AS HUGEINT)
       |                             ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS shu
       |  FROM vote GROUP BY 1),
       |d AS (SELECT doc_id, ${Exprs.sqlU2S("shu")} AS sh, shu FROM sh),
       |band AS (
       |  SELECT doc_id, sh, b AS band,
       |    CAST((shu // CAST(power(2, b * 16) AS HUGEINT)) % 65536 AS INT) AS bucket
       |  FROM d CROSS JOIN (SELECT unnest(range(4)) AS b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
       |  FROM band a JOIN band b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 6
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val docs = simhashDocs(s, d)
    val banded = docs.select(col("doc_id"), col("sh"),
      posexplode(array((0 to 3).map(b =>
        shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF("doc_id", "sh", "band", "bucket")
      .select(col("doc_id"), col("band"), col("bucket"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= 6)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Config key gating the exact→bucketed route for [[embed]]: when
    * the embeddings scan estimate exceeds this many bytes, the op
    * plans cluster-bucketed candidate generation + exact verification
    * instead of the Θ(n²) all-pairs block matrix. Unset = always
    * exact (the oracle contract). Declared above the GraftOp val
    * (object-init order). */
  private[operators] val EmbedApproxKey = "spark.graft.approx.embed.maxExactBytes"

  /** Embedding-cosine near-dup: all qualifying pairs with cosine ≥ 0.45.
    * Double-precision fold-order math matches DuckDB bit-for-bit; the
    * emitted value is rounded to 6dp as belt-and-braces. Exact
    * all-pairs is Θ(n²) by definition, so above the
    * [[EmbedApproxKey]] input-size threshold the op auto-routes to
    * the cluster-bucketed candidate path (the [[semantic]] machinery:
    * sub-quadratic, recall-floor pinned by DedupRoutingSpec) — the
    * config rule that makes "at 100 TB use the bucketed path" an
    * engine decision instead of a comment. */
  val embed: GraftOp = GraftOp(
    "dedup_embed",
    s"""WITH raw AS (SELECT vec_id, ${Exprs.sqlVecAsDouble("embedding")} AS e FROM embeddings),
       |v AS (SELECT vec_id, ${Exprs.sqlUnit("e")} AS u FROM raw)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(${Exprs.sqlDot("a.u", "b.u")}, 6) AS cos_sim
       |FROM v a JOIN v b ON a.vec_id < b.vec_id
       |WHERE ${Exprs.sqlDot("a.u", "b.u")} >= 0.45
       |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    ApproxRouting.route(s, EmbedApproxKey, "dedup_embed", Tables.embeddings(s, d))(
      embedPairs(0.45)(s, d))(embedPairsBucketed(0.45)(s, d))
  }

  /** Bucketed candidate generation + exact verification — the scale
    * route for [[embed]]: assign each vector to its top-3 of 16 seeded
    * hyperplane clusters (the [[semantic]] multi-probe assignment),
    * take co-clustered pairs as candidates (shuffle on the cluster
    * key — quadratic only within clusters, ~(probe²/K)·n² work), then
    * verify with the IDENTICAL exact cosine + rounding the all-pairs
    * kernel emits, so every emitted pair is bit-identical to the exact
    * op's row for that pair; only recall (which pairs get considered)
    * is approximate. */
  private[graft] def embedPairsBucketed(tau: Double)(s: SparkSession, d: String): DataFrame = {
    val planes = Exprs.seededPlanes(16, 64)
    val u = Tables.embeddings(s, d)
      .select(col("vec_id"), Exprs.unit(Exprs.vecAsDouble(col("embedding"))).as("u"))
    val dots = u.select(col("vec_id"),
      posexplode(array(planes.map(p => Exprs.dot(col("u"), typedLit(p))): _*)))
      .toDF("vec_id", "j", "dp")
    val byVec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("dp").desc, col("j"))
    val asg = dots.withColumn("rn", row_number().over(byVec))
      .filter(col("rn") <= 3)
      .select(col("vec_id"), col("j").as("cluster"))
    val cand = asg.as("a")
      .join(asg.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val cos = Exprs.dot(col("ua"), col("ub"))
    cand
      .join(u.select(col("vec_id").as("vec_a"), col("u").as("ua")), "vec_a")
      .join(u.select(col("vec_id").as("vec_b"), col("u").as("ub")), "vec_b")
      .withColumn("cos", cos)
      .filter(col("cos") >= tau)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Declarative formulation (broadcast-nested-loop join) — kept for
    * the kernel-equivalence spec. */
  private[graft] def embedPairsDeclarative(tau: Double)(s: SparkSession, d: String): DataFrame = {
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), Exprs.unit(Exprs.vecAsDouble(col("embedding"))).as("u"))
    val cos = Exprs.dot(col("a.u"), col("b.u"))
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(cos >= tau)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cos, 6).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** All-pairs kernel, block-matrix formulation: the corpus is split
    * into B = `graft.embed.blocks` (default 8) blocks by vec_id; each
    * vector is replicated to the B block-pair tasks its block touches,
    * and each of the B·(B+1)/2 tasks computes the exact pairs between
    * its two blocks. Fully distributed — no driver-side collect, no
    * broadcast of the whole corpus; per-task memory is 2/B of the
    * corpus, so B scales as sqrt(corpus/executor-mem) at 100 TB
    * (the same blocked-matrix shape a GEMM tiling uses). Shuffle
    * volume is B× the corpus — the price of an *exact* all-pairs
    * result; sub-quadratic candidate generation is the LSH/IVF family
    * in KnnOps. Same ascending-index fold-order doubles, same HALF_UP
    * rounding → bit-identical to the declarative plan and the SQL
    * oracle (EmbedKernelSpec asserts equality). */
  private[graft] def embedPairs(tau: Double)(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), Exprs.unit(Exprs.vecAsDouble(col("embedding"))).as("u"))
      .as[(Long, Array[Double])]
    // B auto-sizes to the larger of two floors (override: graft.embed.blocks):
    //  - parallelism: B(B+1)/2 tasks ≥ cores → B ≈ ceil(sqrt(2·cores)),
    //    so the diagonal+off-diagonal tasks fill the cluster;
    //  - memory: per-task resident set is 2/B of the corpus → B ≥
    //    2·corpusBytes / 128 MB (scan-stats estimate, metadata-only).
    // A FIXED B would over-replicate small corpora (shuffle volume is
    // B× the corpus) and under-split big ones (task OOM). Capped at
    // 1024: past that, exact all-pairs is the wrong tool — use the
    // LSH/IVF candidate generation in KnnOps.
    val nBlocks = s.conf.getOption("graft.embed.blocks").map(_.toInt).getOrElse {
      val bPar = math.ceil(math.sqrt(2.0 * s.sparkContext.defaultParallelism)).toInt
      val corpusBytes = v.queryExecution.optimizedPlan.stats.sizeInBytes
      val bMemBig = (corpusBytes * 2 + (128L << 20) - 1) / (128L << 20)
      val bMem = if (bMemBig > 1024) 1024 else bMemBig.toInt // BigInt.toInt overflows past the cap
      math.min(1024, math.max(1, math.max(bPar, bMem)))
    }
    // a vector in block b participates in every block pair (lo,hi)
    // with lo=min(b,j), hi=max(b,j) — one replica per pair, B total
    val tagged = v.flatMap { case (id, u) =>
      val b = (id % nBlocks).toInt
      (0 until nBlocks).map { j =>
        (math.min(b, j) * nBlocks + math.max(b, j), b, id, u)
      }
    }
    def dotRounded(ua: Array[Double], ub: Array[Double]): Double = {
      var sum = 0.0
      var i = 0
      while (i < ua.length) { sum += ua(i) * ub(i); i += 1 }
      sum
    }
    tagged.groupByKey(_._1).flatMapGroups { (key, it) =>
      val lo = key / nBlocks
      val hi = key % nBlocks
      val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      it.foreach { case (_, b, id, u) =>
        if (b == lo) left += ((id, u)) else right += ((id, u))
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      def emit(ida: Long, ua: Array[Double], idb: Long, ub: Array[Double]): Unit = {
        val sum = dotRounded(ua, ub)
        if (sum >= tau) {
          val r = BigDecimal(sum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (ida < idb) out += ((ida, idb, r)) else out += ((idb, ida, r))
        }
      }
      if (lo == hi) {
        // diagonal task: all pairs within the block
        var i = 0
        while (i < left.length) {
          var j = i + 1
          while (j < left.length) {
            emit(left(i)._1, left(i)._2, left(j)._1, left(j)._2)
            j += 1
          }
          i += 1
        }
      } else {
        // off-diagonal: only cross-block pairs (within-block pairs are
        // owned by the two diagonal tasks)
        var i = 0
        while (i < left.length) {
          var j = 0
          while (j < right.length) {
            emit(left(i)._1, left(i)._2, right(j)._1, right(j)._2)
            j += 1
          }
          i += 1
        }
      }
      out
    }.toDF("vec_a", "vec_b", "cos_sim")
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the
    * embeddings, then prune near-duplicates WITHIN clusters only —
    * never the corpus-wide all-pairs [[embed]] runs. The codebook is
    * the engine's 16 seeded ±1 planes (the same md5-derived codebook
    * emb_project uses — deterministic, both engines regenerate it; a
    * learned KMeans codebook is the IvfIndex path, not oracle-
    * expressible). Each vector is assigned to its top-3 clusters by
    * dot product (multi-probe, the IVF nprobe move — single-assignment
    * recall on pairs that straddle a cluster boundary is poor); a pair
    * is a candidate iff the assignments intersect, then verified with
    * the exact cosine. Output is the PRUNE decision: each dropped
    * vector with its kept (lowest-id) representative.
    *
    * Scale shape: assignment is a pure map (16 codegen'd VecDot taps +
    * a per-vector top-3), candidates shuffle on the cluster key, and
    * within-cluster pairs are quadratic only in the cluster size —
    * with balanced clusters that is ~(probe²/K)·n²/2 work vs the exact
    * op's n²/2, and the codebook size K scales with the corpus. On
    * THIS synthetic corpus (i.i.d. random vectors — no real cluster
    * structure) the candidate fraction is ~46% and pair recall at
    * τ=0.45 is 0.79–0.86 vs [[embed]]; on a real embedding corpus the
    * clusters are tight and both numbers improve sharply. The oracle
    * recomputes the identical assignment, so the hash check proves
    * exactness of the computed semantics, not recall. */
  val semantic: GraftOp = GraftOp(
    "dedup_semantic", {
      val dotSql = (0 until 16).map { j =>
        s"SELECT vec_id, $j AS j, ${Exprs.sqlDot("u", Exprs.sqlSeededPlane(j, 64))} AS dp FROM v"
      }.mkString("\nUNION ALL\n")
      s"""WITH raw AS (SELECT vec_id, ${Exprs.sqlVecAsDouble("embedding")} AS e FROM embeddings),
         |v AS (SELECT vec_id, ${Exprs.sqlUnit("e")} AS u FROM raw),
         |d AS (
         |$dotSql
         |),
         |r AS (SELECT vec_id, j,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, j) AS rn FROM d),
         |asg AS (SELECT vec_id, j AS cluster FROM r WHERE rn <= 3),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
         |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT va, vb, ${Exprs.sqlDot("x.u", "y.u")} AS cos
         |  FROM cand JOIN v x ON x.vec_id = va JOIN v y ON y.vec_id = vb
         |  WHERE ${Exprs.sqlDot("x.u", "y.u")} >= 0.45),
         |sel AS (SELECT vb, va, cos,
         |    row_number() OVER (PARTITION BY vb ORDER BY va) AS rn FROM pairs)
         |SELECT vb AS vec_id, va AS kept_id, round(cos, 6) AS cos_sim
         |FROM sel WHERE rn = 1 ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
    val planes = Exprs.seededPlanes(16, 64)
    val u = Tables.embeddings(s, d)
      .select(col("vec_id"), Exprs.unit(Exprs.vecAsDouble(col("embedding"))).as("u"))
    val dots = u.select(col("vec_id"),
      posexplode(array(planes.map(p => Exprs.dot(col("u"), typedLit(p))): _*)))
      .toDF("vec_id", "j", "dp")
    val byVec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("dp").desc, col("j"))
    val asg = dots.withColumn("rn", row_number().over(byVec))
      .filter(col("rn") <= 3)
      .select(col("vec_id"), col("j").as("cluster"))
    // Pair enumeration INSIDE the cluster-keyed join: both sides carry
    // their vector through the one cluster shuffle (≤probe·n rows), the
    // dot runs where the pair is born, and everything downstream is
    // scalar (va, vb, cos) rows. The old shape — candidate-pair
    // distinct, then TWO joins pulling full arrays onto the pair
    // stream — shuffled 64-double payloads per pair (the wide-row
    // amplifier dedup_containment was cured of). A pair sharing
    // several probe clusters is computed per cluster and collapsed by
    // the scalar (va, vb) aggregate; every copy is the same dot, so
    // max() is a deterministic dedupe.
    val withVec = asg.join(u, "vec_id")
    val pairs = withVec
      .select(col("cluster"), col("vec_id").as("va"), col("u").as("ua"))
      .join(withVec.select(col("cluster"), col("vec_id").as("vb"), col("u").as("ub")),
        Seq("cluster"))
      .filter(col("va") < col("vb"))
      .withColumn("cos", Exprs.dot(col("ua"), col("ub")))
      .filter(col("cos") >= 0.45)
      .groupBy(col("va"), col("vb")).agg(max(col("cos")).as("cos"))
    val byDropped = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vb")).orderBy(col("va"))
    pairs.withColumn("rn", row_number().over(byDropped))
      .filter(col("rn") === 1)
      .select(col("vb").as("vec_id"), col("va").as("kept_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("vec_id"))
  }

  /** Corpus duplication report — the per-source summary a curation run
    * emits before committing a clean: how much of each source is
    * exact-duplicate bulk and how many characters a keep-one pass
    * would reclaim. One content-hash groupBy (the dedup_exact shuffle,
    * partial-aggregated map-side) then a source-level rollup of
    * per-group counts — the second shuffle carries one row per
    * DISTINCT (source, content) pair, never documents. Every output
    * is an exact integer: `chars div n` is exact because identical
    * text ⇒ identical n_chars within a group, so the report
    * hash-matches the oracle at any SF. */
  val report: GraftOp = GraftOp(
    "dedup_report",
    """WITH g AS (
      |  SELECT source, md5(text) AS h, count(*) AS n, sum(n_chars) AS chars
      |  FROM documents GROUP BY 1, 2)
      |SELECT source,
      |  CAST(sum(n) AS BIGINT) AS n_docs,
      |  count(*) AS n_distinct,
      |  CAST(sum(n) - count(*) AS BIGINT) AS n_dup_docs,
      |  max(n) AS max_group,
      |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS docs_in_dup_groups,
      |  CAST(sum(chars - chars // n) AS BIGINT) AS reclaimable_chars
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val g = Tables.documents(s, d)
      .groupBy(col("source"), md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
    g.groupBy(col("source"))
      .agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum(col("n")) - count(lit(1))).as("n_dup_docs"),
        max(col("n")).as("max_group"),
        sum(when(col("n") > 1, col("n")).otherwise(lit(0L))).as("docs_in_dup_groups"),
        sum(col("chars") - expr("chars div n")).as("reclaimable_chars"))
      .orderBy(col("source"))
  }

  /** Threshold-sensitivity sweep for embedding dedup — the analysis a
    * team runs BEFORE committing to dedup_embed's τ: the pairwise-
    * cosine histogram in 0.05 bins over a deterministic quarter-sample
    * (portable-hash keep, append-stable), with the reverse cumulative
    * "pairs you would merge at τ ≥ bin" count. The hash sample bounds
    * the quadratic at ANY corpus size (sample² pairs, a policy knob —
    * the production dedup itself runs the gated exact/bucketed route);
    * bin = floor(cos·20) on bit-identical doubles, so edges agree. */
  val thresholdSweep: GraftOp = GraftOp(
    "dedup_threshold_sweep",
    s"""WITH raw AS (
       |  SELECT vec_id, ${Exprs.sqlVecAsDouble("embedding")} AS e FROM embeddings
       |  WHERE ${Exprs.sqlMd5Long("concat('ts42#', CAST(vec_id AS VARCHAR))")} % 4 = 0),
       |v AS (SELECT vec_id, ${Exprs.sqlUnit("e")} AS u FROM raw),
       |p AS (
       |  SELECT CAST(floor(${Exprs.sqlDot("a.u", "b.u")} * 20) AS BIGINT) AS bin
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id
       |  WHERE ${Exprs.sqlDot("a.u", "b.u")} >= 0.2),
       |h AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs FROM p GROUP BY 1)
       |SELECT round(bin / 20.0, 2) AS cos_lo, n_pairs,
       |  CAST(sum(n_pairs) OVER (ORDER BY bin DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pairs_at_tau
       |FROM h ORDER BY cos_lo""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val v = Tables.embeddings(s, d)
      .filter(Exprs.md5Long(concat(lit("ts42#"),
        col("vec_id").cast(org.apache.spark.sql.types.StringType))) % 4 === 0)
      .select(col("vec_id"), Exprs.unit(Exprs.vecAsDouble(col("embedding"))).as("u"))
    val cos = Exprs.dot(col("a.u"), col("b.u"))
    val h = v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(cos >= 0.2)
      .select(floor(cos * 20).cast(org.apache.spark.sql.types.LongType).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
    val cum = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.select(round(col("bin") / 20.0, 2).as("cos_lo"), col("n_pairs"),
        sum(col("n_pairs")).over(cum).as("pairs_at_tau"))
      .orderBy(col("cos_lo"))
  }

  /** LSH-banding audit — recall AND precision of the MinHash route
    * against the rare-blocked exact route at the same τ=0.8, as exact
    * integers (the knn_*_recall discipline applied to dedup: an
    * operator deploying banded LSH at 100 TB reads THIS row before
    * trusting it). The oracle composes the two audited ops' own
    * oracle SQL verbatim as subqueries, so the audit can never drift
    * from what they state; the Spark side composes the same two
    * plans. Both routes end in the identical exact verify, so
    * precision < 10⁶ can only come from pairs the banding surfaces
    * that rare-blocking missed — worth seeing, which is why precision
    * is emitted rather than assumed. */
  val lshAudit: GraftOp = GraftOp(
    "dedup_lsh_audit",
    s"""WITH t0 AS (SELECT doc_a, doc_b FROM (${ngram.oracle.get}) x),
       |f0 AS (SELECT doc_a, doc_b FROM (${minhash.oracle.get}) y),
       |h AS (SELECT count(*) AS n_hits FROM t0 JOIN f0 USING (doc_a, doc_b)),
       |tc AS (SELECT count(*) AS n_truth FROM t0),
       |fc AS (SELECT count(*) AS n_found FROM f0)
       |SELECT CAST(n_truth AS BIGINT) AS n_truth, CAST(n_found AS BIGINT) AS n_found,
       |  CAST(n_hits AS BIGINT) AS n_hits,
       |  CAST(n_hits * 1000000 // NULLIF(n_truth, 0) AS BIGINT) AS recall_ppm,
       |  CAST(n_hits * 1000000 // NULLIF(n_found, 0) AS BIGINT) AS precision_ppm
       |FROM tc, fc, h""".stripMargin) { (s, d) =>
    // one FULL OUTER pass: referencing each route's frame once keeps
    // its (expensive) subplan in the DAG once — the r8 first shape used
    // the frames in two aggregates each, executing both dedup routes
    // twice per run. r15: the truth side serves the registry-persisted
    // ngramPairs frame (shared with dedup_ngram and the band curve).
    val t = ngramPairs(s, d).select(col("doc_a"), col("doc_b"), lit(1).as("in_t"))
    val f = minhash.run(s, d).select(col("doc_a"), col("doc_b"), lit(1).as("in_f"))
    t.join(f, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("in_t")).as("n_truth"), count(col("in_f")).as("n_found"),
        count(when(col("in_t").isNotNull && col("in_f").isNotNull, 1)).as("n_hits"))
      .select(col("n_truth"), col("n_found"), col("n_hits"),
        expr("CAST(n_hits * 1000000 div NULLIF(n_truth, 0) AS BIGINT)").as("recall_ppm"),
        expr("CAST(n_hits * 1000000 div NULLIF(n_found, 0) AS BIGINT)").as("precision_ppm"))
  }

  /** MinHash-LSH band-count tuning curve — the recall/cost table a
    * dedup operator reads before fixing (bands × rows), mirroring
    * knn_ivf_recall_curve for the IVF family: the SAME 16 portable
    * minhashes re-banded at b ∈ {1,2,4,8,16} bands of 16/b rows; per
    * rung, the band-join candidate volume (the verify-cost proxy —
    * banding is the recall gate, exact verification is the constant
    * downstream) and recall of the candidate set against the
    * rare-shingle-blocked exact route's verified pairs (the same
    * truth dedup_lsh_audit audits against). Candidate sets NEST as
    * bands double (agreeing on a 2k-run implies agreeing on both
    * k-runs), so recall and volume are monotone by construction —
    * spec-pinned. Everything is exact integers off md5 hashes →
    * hash-checkable end to end; each rung's join carries (band, sig)
    * keys, never an all-pairs product. */
  val bandCurve: GraftOp = GraftOp(
    "dedup_lsh_band_curve", {
      val rungs = Seq(1, 2, 4, 8, 16).map { b =>
        val rows = 16 / b
        s"""bands$b AS (
           |  SELECT doc_id, CAST(floor(seed / $rows) AS INT) AS band,
           |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS sig
           |  FROM hashes GROUP BY 1, 2),
           |cand$b AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands$b a JOIN bands$b b
           |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
           |row$b AS (
           |  SELECT CAST($b AS INT) AS n_bands, CAST($rows AS INT) AS rows_per_band,
           |    (SELECT CAST(count(*) AS BIGINT) FROM cand$b) AS n_candidates,
           |    (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_truth,
           |    (SELECT CAST(count(*) AS BIGINT) FROM tr JOIN cand$b USING (doc_a, doc_b)) AS n_hits)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlMinhashHashes,
         |tr AS (SELECT doc_a, doc_b FROM (${ngram.oracle.get}) x),
         |$rungs,
         |curve AS (SELECT * FROM row1 UNION ALL SELECT * FROM row2
         |  UNION ALL SELECT * FROM row4 UNION ALL SELECT * FROM row8
         |  UNION ALL SELECT * FROM row16)
         |SELECT n_bands, rows_per_band, n_candidates, n_truth, n_hits,
         |  n_hits * 1000000 // NULLIF(n_truth, 0) AS recall_ppm
         |FROM curve ORDER BY n_bands""".stripMargin
    }) { (s, d) =>
    import s.implicits._
    // registry-persisted: no per-rung re-derivation and no snapshot
    // needed — the frame is already materialized once per session
    val truth = ngramPairs(s, d).select(col("doc_a"), col("doc_b"))
    val nTruth = truth.count()
    val marked = truth.withColumn("in_t", lit(1))
    val sigs = corpusSigs(s, d)
    // r16: ONE job for the whole curve — the five rungs' band frames
    // union into a single rung-tagged frame and the self-join keys on
    // (rung, band, sig), so volume and truth hits for every rung come
    // off one traversal (the per-rung head() loop ran 5 sequential
    // jobs over the same persisted signature frame)
    val allBands = Seq(1, 2, 4, 8, 16).map { b =>
      val rows = 16 / b
      val bandSig = (0 until b).map(band =>
        concat_ws(",", (0 until rows).map(r => col(s"m${band * rows + r}").cast(StringType)): _*))
      sigs
        .select(col("doc_id"), posexplode(array(bandSig: _*)))
        .toDF("doc_id", "band", "sig")
        .withColumn("rung", lit(b))
    }.reduce(_ unionAll _)
    val curve = allBands.as("a")
      .join(allBands.as("b"),
        col("a.rung") === col("b.rung") &&
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.rung").as("rung"),
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .join(marked, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("rung"))
      .agg(count(lit(1)).as("nc"), count(col("in_t")).as("nh"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // an empty rung produces no aggregate row — emit explicit zeros so
    // the curve always has its five rows (same as the old per-rung agg)
    val rungs = Seq(1, 2, 4, 8, 16).map { b =>
      val (nc, nh) = curve.getOrElse(b, (0L, 0L))
      (b, 16 / b, nc, nTruth, nh)
    }
    // truth and sigs both stay: registry-persisted, other consumers serve them
    rungs.toDF("n_bands", "rows_per_band", "n_candidates", "n_truth", "n_hits")
      .select(col("n_bands"), col("rows_per_band"), col("n_candidates"),
        col("n_truth"), col("n_hits"),
        expr("n_hits * 1000000 div NULLIF(n_truth, 0)").as("recall_ppm"))
      .orderBy(col("n_bands"))
  }

  val ops: Seq[GraftOp] =
    Seq(candidateIndex, exact, ngram, minhash, clusters, representative, crossSource, spans, spanClean, substrSpans, substrClean, simhash,
      embed, containment, semantic, report, thresholdSweep, lshAudit, bandCurve)
}
