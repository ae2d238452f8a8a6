package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators for a training-data pipeline (SURVEY §7.5
  * north-star): exact (hash-groupBy), n-gram Jaccard, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup — over `documents.parquet`
  * and `embeddings.parquet`.
  *
  * Scale design per operator:
  *  - exact: one hash exchange on a 128-bit fingerprint; at 100 TB the
  *    fingerprint groupBy is the canonical map-side-combinable dedup.
  *  - n-gram Jaccard: the exact quadratic path — shingle explode +
  *    equi-join on shingle. Correct but O(pairs); kept as the oracle
  *    baseline for the LSH path and for small/medium corpora.
  *    [[cappedNearDupPairs]] is the production variant: a document-
  *    frequency cutoff drops boilerplate shingles before the pair
  *    expansion, bounding every group to O(DfCap²) pairs.
  *  - MinHash+LSH: the 100 TB path — constant-size signature per doc
  *    (k=16 mins), banded into 4 buckets; near-dup candidates meet in
  *    a bucket equi-join instead of an all-pairs comparison.
  *  - SimHash: 60-bit sketch per doc via weighted bit-votes; hamming
  *    ball lookup for near-dup (spec-verified).
  *  - embedding cosine: exact all-pairs via balanced block
  *    partitioning (equi-joins only, no nested-loop node); the
  *    bounded-recall ANN paths for scale live in [[Similarity]].
  *
  * Sketch-hash discipline: every sketch (minhash, simhash, band
  * hashes) derives from md5 prefixes, NOT xxhash64 — both engines
  * implement RFC-1321 md5 bit-identically, so the DuckDB oracle
  * reproduces each sketch exactly ([[HashBridge]]). xxhash64 remains
  * only where the reference itself uses it (F14 surrogate keys,
  * reference spark/load_warehouse.py:109) and in the q33/q50 shingle
  * shuffle key (below).
  */
object Dedup {

  /** Word tokens — single definition lives in [[TextAnalysis]]. */
  private def tokens(c: Column): Column = TextAnalysis.tokens(c)

  /** Distinct word-3-gram shingles; empty array when under 3 tokens
    * (mirrors DuckDB `range(1, len-1)` which is empty there). Native
    * one-pass expression — see [[graft.functions.Shingles]] for the
    * parity contract and why the declarative HOF spelling was the
    * hottest stage of the whole bench. */
  private[ext] def shingles(c: Column): Column =
    graft.functions.TextExprs.shingles(c, 3)

  private[ext] val shinglesSql =
    """list_distinct(list_transform(
      |    range(1, len(regexp_split_to_array(text, '\s+')) - 1),
      |    i -> array_to_string(regexp_split_to_array(text, '\s+')[i:i+2], ' ')))"""
      .stripMargin

  /** Shared oracle prelude: the df-capped ordered near-dup pair table
    * as CTEs `s → f → sf → p` — the single SQL derivation of
    * [[cappedPairs]] that every graph-flavored oracle (q81 PageRank,
    * q109 triangles) builds on, so the shingle length and the
    * df-cap/≥3-shared edge contract live in ONE place. */
  private[ext] lazy val cappedPairCteSql: String =
    s"""s AS (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents),
       |f AS (SELECT sh FROM s GROUP BY sh
       |      HAVING count(*) > 1 AND count(*) <= $DfCap),
       |sf AS (SELECT s.doc_id, s.sh FROM s JOIN f USING (sh)),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sf a JOIN sf b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3)""".stripMargin

  // ---------------------------------------------------------------- q32

  /** Exact dedup over a corpus with planted duplicates (the table
    * unioned with an id-shifted copy of itself): group by content
    * fingerprint, keep the smallest doc_id, count members. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    // fingerprint the N distinct texts once, THEN union the id-shifted
    // copy of the (doc_id, fingerprint) projection — the regex + md5
    // run on N rows, not 2N
    val fp = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    val copy = fp.withColumn("doc_id", col("doc_id") + lit(1000000L))
    fp.unionByName(copy)
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_dups"))
      .orderBy(col("keep_id"))
  }

  val exactDedupSql: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents)
      |SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
      |  min(doc_id) AS keep_id,
      |  CAST(count(*) AS BIGINT) AS n_dups
      |FROM all_docs GROUP BY 1 ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- q33

  /** Per-(session, dir) cache of expensive shared intermediates — the
    * materialize-once move a 100 TB pipeline makes (write the table,
    * read it from every consumer), expressed in-session.
    *
    * Keying: (the session object itself, canonical path, dir mtime,
    * kind). SparkSession uses identity equality, so sessions can never
    * collide (unlike the raw identityHashCode int a previous revision
    * keyed on); the canonical path unifies spellings of the same dir;
    * the mtime invalidates the entry when the parquet under the dir is
    * rewritten in-process. Entries of stopped sessions are pruned on
    * every access, and an mtime-superseded entry is unpersisted and
    * evicted before its replacement builds, so long-lived processes
    * don't accumulate stale DataFrames, leaked persisted blocks, or
    * strong session refs.
    */
  private val interCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Long, String), DataFrame]

  private[ext] def cached(spark: SparkSession, dir: String, kind: String)
                    (build: => DataFrame): DataFrame =
    cachedOn(spark, dir, "documents", kind)(build)

  /** [[cached]] generalized to the source table the intermediate
    * derives from — embedding-side caches (e.g. the IVF cell
    * assignment) must invalidate on `embeddings` rewrites, not
    * `documents` ones. */
  private[ext] def cachedOn(spark: SparkSession, dir: String,
                            table: String, kind: String)
                           (build: => DataFrame): DataFrame = {
    interCache.keys.foreach { k =>
      if (k._1.sparkContext.isStopped) interCache.remove(k)
    }
    val canon = new java.io.File(dir).getCanonicalPath
    // stat the source TABLE dir, not the corpus parent: appends land
    // inside the table dir and only bump its own mtime (a parent-dir
    // stat would miss in-place appends and serve stale pairs/labels)
    val mtime = new java.io.File(graft.Tables.path(canon, table))
      .lastModified
    // evict superseded entries of the SAME (session, dir, kind) whose
    // mtime no longer matches: without this, an in-process table
    // rewrite would leave the old persisted DataFrame pinned in the
    // live session's block manager forever
    interCache.keys.foreach { k =>
      if ((k._1 eq spark) && k._2 == canon && k._4 == kind && k._3 != mtime)
        interCache.remove(k).foreach(_.unpersist(blocking = true))
    }
    interCache.getOrElseUpdate((spark, canon, mtime, kind), build)
  }

  /** The exploded-and-grouped shingle table: (sh, sorted member docs)
    * for every shingle shared by >1 doc. The expensive stage (shingle
    * explode + one hash exchange) behind BOTH pair generators.
    *
    * The group/join key is xxhash64(shingle), not the shingle string:
    * the exchange moves 8-byte keys instead of text. CONTRACT NOTE:
    * this makes the "exact" Jaccard counts exact-up-to-hash-collision
    * (odds even at 10^9 distinct shingles: ~1e-2 per corpus, and a
    * collision only inflates one count by 1 / can add one spurious
    * edge); the DuckDB oracle joins on the strings, so a collision
    * would surface as a gate mismatch rather than pass silently. */
  private def shingleGroups(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "shingleGroups") {
      // NOT fanned (round 18, measured): this aggregate keys on the
      // shingle hash, not doc_id, so a doc_id rebalance adds an
      // exchange without replacing one — q33 went 1.91→2.13 s with it
      val d = Tables.load(spark, dir, "documents")
      val sh = d.select(col("doc_id"),
        explode(shingles(col("text"))).as("sh0"))
        .select(col("doc_id"), xxhash64(col("sh0")).as("sh"))
      sh.groupBy(col("sh"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")) > 1)
        .persist()
    }

  /** Shingle-group → (doc_a, doc_b, inter_cnt ≥ 3) pair expansion —
    * the one definition behind BOTH the uncapped and the df-capped
    * pair tables. Pair generation via the custom combination
    * Generator instead of a sort-merge self-join: one exchange, no
    * intermediate nested-array allocation. */
  private def expandPairs(groups: DataFrame): DataFrame =
    groups.select(
        graft.functions.GeneratorExprs.pairCombinations(col("ds")))
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("inter_cnt"))
      .filter(col("inter_cnt") >= 3)

  /** The UNCAPPED (doc_a, doc_b, inter_cnt >= 3) near-dup pair table —
    * the exact-oracle baseline behind q33 (pair reporting) and its
    * fixture q50 (uncapped clustering). NOT the production default:
    * the hot-shingle M² expansion is unbounded (see [[cappedPairs]],
    * which the q57/q81/q83 chain consumes). Cached per (session, dir). */
  private[ext] def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "pairs") {
      expandPairs(shingleGroups(spark, dir)).persist()
    }

  /** The PRODUCTION near-dup pair table: [[expandPairs]] over shingle
    * groups with document frequency ≤ [[DfCap]] — every group bounded
    * to DfCap(DfCap−1)/2 pairs regardless of corpus skew (the 100 TB
    * contract ScaleSpec proves on a planted hot shingle). This is the
    * cached intermediate the downstream chain (q57 curation, q81
    * PageRank, q83 clustering) consumes; q58 gates its contents. */
  private[ext] def cappedPairs(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "cappedPairs") {
      expandPairs(shingleGroups(spark, dir).filter(size(col("ds")) <= DfCap))
        .persist()
    }

  /** q33 — exact n-gram Jaccard near-dup pairs: docs sharing >= 3
    * distinct word-3-grams, with integer intersection/union counts
    * (ints keep the oracle compare exact; jaccard = inter/union
    * downstream). */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    // per-doc shingle count = array length (already distinct): no
    // explode + re-aggregate needed
    val ns = d.select(col("doc_id"),
      size(shingles(col("text"))).cast("long").as("ns"))
    val inter = nearDupPairs(spark, dir)
    inter
      .join(ns.as("na"), col("doc_a") === col("na.doc_id"))
      .join(ns.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter_cnt"),
        (col("na.ns") + col("nb.ns") - col("inter_cnt")).as("union_cnt"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val ngramJaccardPairsSql: String =
    s"""WITH s AS (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents),
       |n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY 1),
       |i AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS inter_cnt
       |  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3)
       |SELECT i.doc_a, i.doc_b, i.inter_cnt,
       |  CAST(na.ns + nb.ns - i.inter_cnt AS BIGINT) AS union_cnt
       |FROM i
       |JOIN n na ON i.doc_a = na.doc_id
       |JOIN n nb ON i.doc_b = nb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q58

  /** Document-frequency cutoff for [[cappedNearDupPairs]]: shingles
    * shared by more than this many documents are boilerplate ("all
    * rights reserved") and are dropped before pair expansion. */
  val DfCap = 50

  /** q58 — the production near-dup pair generator: identical to q33's
    * expansion but shingles with document frequency > [[DfCap]] never
    * reach [[graft.functions.PairCombinations]].
    *
    * This is THE fix for the hot-shingle M² blowup at 100 TB: an
    * uncapped group of M documents emits M(M−1)/2 pairs from a single
    * task (one boilerplate shingle shared by 10⁶ docs = 5·10¹¹ pairs
    * = a guaranteed OOM); with the cutoff every group is bounded by
    * DfCap(DfCap−1)/2 ≈ 1.2k pairs, so the expansion stage is
    * embarrassingly parallel regardless of corpus skew. The
    * information loss is principled: a shingle occurring in >DfCap
    * docs carries ~zero signal about any PAIR being near-duplicates
    * (standard df-cutoff, same idea as stopword removal in MinHash
    * pipelines). ScaleSpec plants a hot shingle and proves the bound
    * through pair expansion AND clustering; q33 stays as the uncapped
    * exact oracle baseline. */
  def cappedNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    cappedPairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  val cappedNearDupPairsSql: String =
    s"""WITH s AS (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents),
       |f AS (SELECT sh FROM s GROUP BY sh
       |      HAVING count(*) > 1 AND count(*) <= $DfCap),
       |sf AS (SELECT s.doc_id, s.sh FROM s JOIN f USING (sh))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(count(*) AS BIGINT) AS inter_cnt
       |FROM sf a JOIN sf b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q34

  val MinhashK = 16  // hash functions per signature
  val MinhashBands = 4 // → 4 rows per band
  // declared HERE, before the q88/q89 vals that interpolate it into
  // oracle SQL: a forward val reference in a Scala object silently
  // reads the default 0 during initialization
  val SimhashBits = 60 // md5-prefix hash width (HashBridge)

  /** MinHash signatures banded for LSH: per doc, k=16 min-hashes,
    * packed into 4 band hashes. Near-dup candidates = docs sharing
    * (band, band_hash).
    *
    * Hash family: Kirsch–Mitzenmacher double hashing h_i = h1 + i·h2
    * over two independent 32-bit values cut from ONE md5 per shingle —
    * so the k=16 functions cost one digest, and the whole signature is
    * bit-reproducible in the DuckDB oracle ([[HashBridge]]). The
    * groupBy shuffles only (doc_id, 16 longs) partial states —
    * map-side combined; band packing is md5 over the 4 decimal-encoded
    * mins (identical string encoding in both engines). */
  /** The cached per-doc signature table (doc_id, g0..g15) — the
    * materialized intermediate a MinHash pipeline writes once and
    * every consumer (band packing q34/q85, similarity estimation q88)
    * reads: one shingle explode + one map-side-combined 16-min
    * aggregate, persisted per (session, dir). */
  private[ext] def minhashSignatures(spark: SparkSession,
                                     dir: String): DataFrame =
    cached(spark, dir, "minhashSig") {
      import HashBridge.md5Bits32
      // fanned on doc_id (see shingleGroups): parallelizes the shingle
      // explode + double md5 AND pre-satisfies the per-doc aggregate's
      // distribution — no second exchange
      val d = Tables.loadFanned(spark, dir, "documents", col("doc_id"))
      val exploded = d
        .select(col("doc_id"), explode(shingles(col("text"))).as("sh0"))
        .withColumn("m", md5(col("sh0")))
        .select(col("doc_id"),
          md5Bits32(col("m"), 1).as("h1"), md5Bits32(col("m"), 9).as("h2"))
      val minAggs = (0 until MinhashK).map(i =>
        min(col("h1") + lit(i.toLong) * col("h2")).as(s"g$i"))
      exploded.groupBy(col("doc_id"))
        .agg(minAggs.head, minAggs.tail: _*)
        .persist()
    }

  def minhashBands(spark: SparkSession, dir: String): DataFrame = {
    import HashBridge.md5Bits60
    val sig = minhashSignatures(spark, dir)
    val rowsPerBand = MinhashK / MinhashBands
    val bandHashes = (0 until MinhashBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"g${b * rowsPerBand + r}"))
      md5Bits60(md5(concat_ws(":", cols: _*)))
    }
    sig.select(col("doc_id"), posexplode(array(bandHashes: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
      .orderBy(col("doc_id"), col("band"))
  }

  val minhashBandsSql: String = {
    val mins = (0 until MinhashK)
      .map(i => s"min(h1 + $i * h2) AS g$i").mkString(",\n    ")
    val rowsPerBand = MinhashK / MinhashBands
    val bandCases = (0 until MinhashBands).map { b =>
      val concat = (0 until rowsPerBand)
        .map(r => s"CAST(g${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"WHEN $b THEN ${HashBridge.md5Bits60Sql(s"md5($concat)")}"
    }.mkString("\n      ")
    s"""WITH s AS (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ${HashBridge.md5Bits32Sql("md5(sh)", 1)} AS h1,
       |    ${HashBridge.md5Bits32Sql("md5(sh)", 9)} AS h2
       |  FROM s),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST(b.band AS INT) AS band,
       |  CASE b.band
       |      $bandCases
       |  END AS band_hash
       |FROM sig CROSS JOIN (SELECT unnest(range($MinhashBands)) AS band) b
       |ORDER BY doc_id, band""".stripMargin
  }

  /** LSH candidate pairs: equi-join on (band, band_hash) — the scale
    * path that replaces the all-pairs shingle join of q33. */
  def minhashCandidatePairs(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** q85 — the LSH candidate generator as a gated query: docs whose
    * q34 signatures collide in ≥1 band. This is the sub-quadratic
    * near-dup path end-to-end (signature → band bucket → equi-join):
    * candidate volume is Σ_bucket C(|bucket|,2) — corpus-skew-safe
    * because a bucket only fills when 4 consecutive min-hashes all
    * agree, which (unlike a shared boilerplate shingle) already IS
    * strong similarity evidence. Fully oracle-checked: both engines
    * compute bit-identical band hashes ([[HashBridge]]), so the
    * candidate SET matches exactly, not just statistically. */
  def lshCandidates(spark: SparkSession, dir: String): DataFrame =
    minhashCandidatePairs(minhashBands(spark, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  val lshCandidatesSql: String = {
    val mins = (0 until MinhashK)
      .map(i => s"min(h1 + $i * h2) AS g$i").mkString(",\n    ")
    val rowsPerBand = MinhashK / MinhashBands
    val bandExprs = (0 until MinhashBands).map { b =>
      val concat = (0 until rowsPerBand)
        .map(r => s"CAST(g${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      HashBridge.md5Bits60Sql(s"md5($concat)")
    }.mkString(", ")
    s"""WITH s AS (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ${HashBridge.md5Bits32Sql("md5(sh)", 1)} AS h1,
       |    ${HashBridge.md5Bits32Sql("md5(sh)", 9)} AS h2
       |  FROM s),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM h GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, u.band, [$bandExprs][u.band + 1] AS band_hash
       |  FROM sig CROSS JOIN (SELECT unnest(range($MinhashBands)) AS band) u)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.band_hash = b.band_hash
       |  AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q88

  /** q88 — MinHash Jaccard ESTIMATION over the q85 candidates: for
    * each colliding pair, the fraction of the 16 signature components
    * that agree — the unbiased Jaccard estimator that lets the LSH
    * pipeline THRESHOLD candidates without ever touching the shingle
    * sets again (the step between candidate generation and the final
    * keep/drop decision). Exact parity: the match count is integer
    * and the estimate is one division by 16 (a power of two —
    * lossless in IEEE), so both engines produce identical doubles.
    *
    * Scale: candidates ⋈ signatures twice on doc_id — both sides are
    * doc-sized (N rows, 16 longs), the shingle-sized tables are never
    * revisited. The signature table is the shared cached intermediate
    * ([[minhashSignatures]]), so this query adds two node-sized
    * hash joins and nothing else. */
  /** Unordered (doc_a, doc_b, n_matches, jaccard_est) estimates over
    * the LSH candidates — the shared body of q88 (reporting) and the
    * q94 keep/drop threshold. */
  private def jaccardEstimates(spark: SparkSession, dir: String): DataFrame = {
    val sig = minhashSignatures(spark, dir)
    val aSide = sig.select(col("doc_id").as("doc_a") +:
      (0 until MinhashK).map(i => col(s"g$i").as(s"ga$i")): _*)
    val bSide = sig.select(col("doc_id").as("doc_b") +:
      (0 until MinhashK).map(i => col(s"g$i").as(s"gb$i")): _*)
    val matches = (0 until MinhashK)
      .map(i => when(col(s"ga$i") === col(s"gb$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    minhashCandidatePairs(minhashBands(spark, dir))
      .join(aSide, Seq("doc_a"))
      .join(bSide, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), matches.as("n_matches"),
        (matches.cast("double") / lit(MinhashK.toDouble)).as("jaccard_est"))
  }

  def minhashJaccardEst(spark: SparkSession, dir: String): DataFrame =
    jaccardEstimates(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  val minhashJaccardEstSql: String = {
    val mins = (0 until MinhashK)
      .map(i => s"min(h1 + $i * h2) AS g$i").mkString(",\n    ")
    val rowsPerBand = MinhashK / MinhashBands
    val bandExprs = (0 until MinhashBands).map { b =>
      val concat = (0 until rowsPerBand)
        .map(r => s"CAST(g${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      HashBridge.md5Bits60Sql(s"md5($concat)")
    }.mkString(", ")
    val matchSum = (0 until MinhashK)
      .map(i => s"CASE WHEN sa.g$i = sb.g$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH s AS (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ${HashBridge.md5Bits32Sql("md5(sh)", 1)} AS h1,
       |    ${HashBridge.md5Bits32Sql("md5(sh)", 9)} AS h2
       |  FROM s),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM h GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, u.band, [$bandExprs][u.band + 1] AS band_hash
       |  FROM sig CROSS JOIN (SELECT unnest(range($MinhashBands)) AS band) u),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_hash = b.band_hash
       |    AND a.doc_id < b.doc_id)
       |SELECT c.doc_a, c.doc_b,
       |  CAST($matchSum AS BIGINT) AS n_matches,
       |  CAST($matchSum AS DOUBLE) / $MinhashK.0 AS jaccard_est
       |FROM cand c
       |JOIN sig sa ON sa.doc_id = c.doc_a
       |JOIN sig sb ON sb.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q94

  /** Keep threshold on the 16-component signature: ≥ 8 matching
    * components ≈ estimated Jaccard ≥ 0.5 — the near-dup bar the LSH
    * pipeline ships with (same ballpark as the q33 inter/union
    * evidence, far above the ~1/2³² noise floor of unrelated docs). */
  val MinhashKeepMatches = 8L

  /** The q94 edge set: LSH candidates whose estimated Jaccard clears
    * [[MinhashKeepMatches]]/16 — cached, it feeds the clustering the
    * same way [[cappedPairs]] feeds q83. */
  private[ext] def minhashKeptPairs(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "minhashKept") {
      jaccardEstimates(spark, dir)
        .filter(col("n_matches") >= MinhashKeepMatches)
        .select(col("doc_a"), col("doc_b"))
        .persist()
    }

  /** q94 — the SKETCH-BASED production dedup chain end-to-end:
    * signatures (q34) → LSH candidates (q85) → Jaccard-estimate
    * threshold (q88, keep at ≥ [[MinhashKeepMatches]]/16) → connected
    * components → min-id representative per cluster. This is what a
    * 100 TB near-dup pipeline actually ships — every stage is
    * constant-work per document (16-long signature, band bucket join,
    * integer component compare), no stage ever touches the shingle
    * sets after the one signature build, and the final labels are the
    * same CC machinery as q83 (driver union-find under
    * [[CcDriverMaxEdges]], distributed min-label propagation above).
    * The shingle-df chain (q58→q83) and this minhash chain are the
    * two independent production lineages; ExtSpec proves this one's
    * recall against the exact q33 pairs at the same Jaccard bar.
    *
    * Fully oracle-checked: every sketch derives from md5 prefixes
    * ([[HashBridge]]), so DuckDB reproduces the candidate set, the
    * estimates, AND the resulting components bit-identically. */
  def minhashDedupClusters(spark: SparkSession, dir: String): DataFrame =
    convergedLabels(spark, dir, "minhashLabels", minhashKeptPairs(spark, dir))
      .orderBy(col("doc_id"))

  val minhashDedupClustersSql: String = {
    val mins = (0 until MinhashK)
      .map(i => s"min(h1 + $i * h2) AS g$i").mkString(",\n    ")
    val rowsPerBand = MinhashK / MinhashBands
    val bandExprs = (0 until MinhashBands).map { b =>
      val concat = (0 until rowsPerBand)
        .map(r => s"CAST(g${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      HashBridge.md5Bits60Sql(s"md5($concat)")
    }.mkString(", ")
    val matchSum = (0 until MinhashK)
      .map(i => s"CASE WHEN sa.g$i = sb.g$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH RECURSIVE s AS (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ${HashBridge.md5Bits32Sql("md5(sh)", 1)} AS h1,
       |    ${HashBridge.md5Bits32Sql("md5(sh)", 9)} AS h2
       |  FROM s),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM h GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, u.band, [$bandExprs][u.band + 1] AS band_hash
       |  FROM sig CROSS JOIN (SELECT unnest(range($MinhashBands)) AS band) u),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_hash = b.band_hash
       |    AND a.doc_id < b.doc_id),
       |kept AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.doc_a
       |  JOIN sig sb ON sb.doc_id = c.doc_b
       |  WHERE $matchSum >= $MinhashKeepMatches),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM kept
       |  UNION ALL SELECT doc_b, doc_a FROM kept),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |lbl AS (
       |  SELECT d.doc_id,
       |    least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
       |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
       |  GROUP BY d.doc_id)
       |SELECT doc_id, cluster_id FROM lbl ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q89

  /** 60 bits split into 4 bands of 15: by pigeonhole, any pair within
    * hamming distance [[SimhashHammingMax]] = 3 leaves at least one
    * band untouched, so the band-bucket equi-join finds EVERY
    * qualifying pair — bucketed completeness, not bucketed recall. */
  val SimhashNearDupBands = 4
  val SimhashBandBits = 15
  val SimhashHammingMax = 3

  /** q89 — SimHash near-dup pairs: docs whose 60-bit sketches differ
    * in ≤ [[SimhashHammingMax]] bits, found via the pigeonhole band
    * join (the classic simhash dedup layout). The expensive sketch is
    * computed once ([[simhashSketches]], cached); candidates are one
    * equi-join on (band, 15-bit key); random unrelated sketches
    * collide in a band with p≈2⁻¹⁵, so candidate volume stays
    * near-linear while completeness at the threshold is exact —
    * unlike MinHash LSH (q85), which trades recall for volume, this
    * tier trades nothing at its (tighter) radius. Fully
    * oracle-checked against the ALL-PAIRS hamming filter in DuckDB —
    * the gate proves the pigeonhole shortcut loses no pair. */
  def simhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val sh = simhashSketches(spark, dir)
    val bandArr = array((0 until SimhashNearDupBands).map { b =>
      shiftright(col("simhash"), b * SimhashBandBits)
        .bitwiseAND(lit((1L << SimhashBandBits) - 1))
    }: _*)
    val bands = sh.select(col("doc_id"), col("simhash"),
        posexplode(bandArr))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming(col("a.simhash"), col("b.simhash")).cast("int")
          .as("hamming_dist"))
      .distinct()
      .filter(col("hamming_dist") <= SimhashHammingMax)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val simhashNearDupSql: String = {
    val votes = (0 until SimhashBits).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN cnt ELSE -cnt END) AS v$b")
      .mkString(",\n    ")
    val bits = (0 until SimhashBits).map(b =>
      s"(CASE WHEN v$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt,
       |    ${HashBridge.md5Bits60Sql("md5(tok)")} AS h
       |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
       |        FROM documents)
       |  GROUP BY doc_id, tok),
       |v AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM t GROUP BY doc_id),
       |sk AS (SELECT doc_id, CAST($bits AS BIGINT) AS sh FROM v)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming_dist
       |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= $SimhashHammingMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q35

  /** The cached 60-bit SimHash sketch table — computed once per
    * (session, dir), consumed by q35 (reporting) and q89 (near-dup
    * band join, which references the table TWICE in a self-join:
    * without the persist the 60-vote aggregate would run twice — no
    * cross-branch CSE in Catalyst). */
  private[ext] def simhashSketches(spark: SparkSession,
                                   dir: String): DataFrame =
    cached(spark, dir, "simhash") {
      import HashBridge.md5Bits60
      // fanned on doc_id (see shingleGroups): the token explode, the
      // md5 per (doc, token) and BOTH per-doc aggregates then run
      // parallel with no added exchange (hash on doc_id satisfies
      // groupBy(doc_id, tok) and groupBy(doc_id) alike)
      val d = Tables.loadFanned(spark, dir, "documents", col("doc_id"))
      val tok = d.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
        .withColumn("h", md5Bits60(md5(col("tok"))))
      val bitVotes = (0 until SimhashBits).map { b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, col("cnt"))
          .otherwise(-col("cnt"))).as(s"v$b")
      }
      val votes = tok.groupBy(col("doc_id")).agg(bitVotes.head, bitVotes.tail: _*)
      val sim = (0 until SimhashBits).map { b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      votes.select(col("doc_id"), sim.as("simhash")).persist()
    }

  /** 60-bit SimHash per doc: tokens weighted by in-doc frequency vote
    * on each bit of the token's md5-derived hash; bit set where the
    * vote is positive. Near-dup = small hamming distance (q89).
    * Fully oracle-checked: the per-token hash, the 60 bit-votes, and
    * the final integer are identical arithmetic in both engines. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashSketches(spark, dir).orderBy(col("doc_id"))

  val simhashSql: String = {
    val votes = (0 until SimhashBits).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN cnt ELSE -cnt END) AS v$b")
      .mkString(",\n    ")
    val bits = (0 until SimhashBits).map(b =>
      s"(CASE WHEN v$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt,
       |    ${HashBridge.md5Bits60Sql("md5(tok)")} AS h
       |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
       |        FROM documents)
       |  GROUP BY doc_id, tok),
       |v AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM t GROUP BY doc_id)
       |SELECT doc_id, CAST($bits AS BIGINT) AS simhash
       |FROM v ORDER BY doc_id""".stripMargin
  }

  /** Hamming distance between two sketches. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---------------------------------------------------------------- q50

  /** Duplicate-cluster assignment: connected components over the
    * near-dup pair graph (q33's inter>=3 pairs), each doc labeled
    * with the min doc_id reachable — the "keep one per cluster" step
    * that ends a dedup pipeline.
    *
    * ADAPTIVE execution, AQE-style: the pair table is already
    * materialized (persisted), so its size is a free runtime
    * statistic. Near-dup edge sets are orders of magnitude smaller
    * than the corpus (only inter>=3 survivors) — when the count is
    * under [[CcDriverMaxEdges]] the components resolve in
    * milliseconds via driver-side union-find (the same move AQE makes
    * when it demotes a shuffle join to broadcast on observed size).
    * Past the threshold, the distributed iterative min-label
    * propagation runs: per round one shuffle join + aggregate,
    * lineage cut with localCheckpoint, rounds ≈ graph diameter. Both
    * paths produce identical labels (ExtSpec forces and compares
    * them); the DuckDB oracle computes the same components via a
    * recursive reachability closure.
    *
    * The converged labels are cached per (session, dir) like the pair
    * table, so downstream consumers pay a join, not a re-run.
    *
    * NOTE: q50 clusters the UNCAPPED pair graph — the exact-baseline
    * fixture matching q33. The production chain (q57 curation) runs
    * over [[cappedDedupClusters]], whose input is bounded per shingle
    * group (q83 gates it). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    convergedLabels(spark, dir, "labels", nearDupPairs(spark, dir))
      .orderBy(col("doc_id"))

  /** q83 — the PRODUCTION clustering twin: connected components over
    * [[cappedPairs]], so one boilerplate shingle can no longer inject
    * an M²-pair task into the clustering lineage (verdict r2 item 1 —
    * the last 100 TB scale-killer chain). Identical CC machinery and
    * label semantics; only the edge set differs (boilerplate-only
    * "near-dup" edges are dropped, which is the curation-correct
    * reading: sharing a license header does not make two documents
    * duplicates). */
  def cappedDedupClusters(spark: SparkSession, dir: String): DataFrame =
    convergedLabels(spark, dir, "cappedLabels", cappedPairs(spark, dir))
      .orderBy(col("doc_id"))

  /** Edge-count ceiling for the driver-side path: 4M edges ≈ 64 MB of
    * driver arrays — far under any sane driver heap, far over any
    * real near-dup graph at test scale. */
  val CcDriverMaxEdges = 4000000L

  private def convergedLabels(spark: SparkSession, dir: String,
                              kind: String, pairSrc: => DataFrame): DataFrame =
    cached(spark, dir, kind) {
      val d = Tables.load(spark, dir, "documents")
      val pairs = pairSrc.select(col("doc_a").as("a"), col("doc_b").as("b"))
      val labels =
        if (pairs.count() <= CcDriverMaxEdges) driverCc(d, pairs)
        else distributedCc(d, pairs)
      labels.localCheckpoint()
    }

  /** Driver union-find over a collected edge list (path compression +
    * union-by-min so every root is its component's min doc_id), joined
    * back as a broadcast map. One collect of the (small) pair table,
    * zero iterative jobs. */
  private[graft] def driverCc(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by MIN root: labels end at the component min
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val label = parent.keys.map(k => k -> find(k)).toSeq
    val ss = docs.sparkSession
    import ss.implicits._
    // labeled docs (only edge endpoints) broadcast back over the corpus
    docs.select(col("doc_id"))
      .join(broadcast(label.toDF("doc_id", "_lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_lbl"), col("doc_id")).as("cluster_id"))
  }

  /** Symmetrize an undirected pair table into directed edges (both
    * orientations) — one definition for every graph consumer (CC here,
    * PageRank in [[Graph]]). */
  private[ext] def symmetrize(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(col(a), col(b))
      .unionByName(pairs.select(col(b).as(a), col(a).as(b)))

  /** Distributed iterative min-label propagation — the 100 TB path. */
  private[graft] def distributedCc(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = symmetrize(pairs, "a", "b")
      .toDF("src", "dst").localCheckpoint()
    var labels = docs.select(col("doc_id"))
      .withColumn("cluster_id", col("doc_id")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    val maxRounds = 50 // >> any real near-dup chain; convergence checked below
    while (changed > 0 && rounds < maxRounds) {
      val msgs = edges.join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src")).agg(min(col("cluster_id")).as("nbr_min"))
      // fold the convergence flag into the same pass: one join per round
      val next = labels.join(msgs, labels("doc_id") === msgs("src"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"),
            coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"),
          (col("nbr_min") < col("cluster_id")).cast("long").as("_chg"))
        .localCheckpoint()
      changed = next.agg(coalesce(sum(col("_chg")), lit(0L))).head().getLong(0)
      labels = next.drop("_chg")
      rounds += 1
    }
    // fail loudly rather than return silently-wrong intermediate labels
    require(changed == 0,
      s"connected components did not converge in $maxRounds rounds")
    labels
  }

  /** Test seam: run both CC paths explicitly (ExtSpec equality). */
  private[graft] def ccBothPaths(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val d = Tables.load(spark, dir, "documents")
    val pairs = nearDupPairs(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    (driverCc(d, pairs), distributedCc(d, pairs))
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE s AS (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents),
       |i AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM i
       |  UNION ALL SELECT doc_b, doc_a FROM i),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |lbl AS (
       |  SELECT d.doc_id,
       |    least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
       |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
       |  GROUP BY d.doc_id)
       |SELECT doc_id, cluster_id FROM lbl ORDER BY doc_id""".stripMargin

  /** q83 oracle: the q50 closure with q58's df cutoff applied to the
    * shingle table before pair expansion — the SAME HAVING bound the
    * Spark side enforces via [[cappedPairs]]. */
  val cappedDedupClustersSql: String =
    s"""WITH RECURSIVE s AS (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents),
       |f AS (SELECT sh FROM s GROUP BY sh
       |      HAVING count(*) > 1 AND count(*) <= $DfCap),
       |sf AS (SELECT s.doc_id, s.sh FROM s JOIN f USING (sh)),
       |i AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sf a JOIN sf b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM i
       |  UNION ALL SELECT doc_b, doc_a FROM i),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |lbl AS (
       |  SELECT d.doc_id,
       |    least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
       |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
       |  GROUP BY d.doc_id)
       |SELECT doc_id, cluster_id FROM lbl ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q36

  /** Block count for the balanced all-pairs partitioning (must be
    * even). Per-task memory is bounded by one block (N/B vectors);
    * shuffle replication of the corpus is ×(B/2+1). */
  val NearDupBlocks = 16

  /** Embedding near-dup: ALL pairs with cosine >= 0.40, exact.
    *
    * Plan shape: balanced ring block-partitioning instead of the
    * non-equi self-join (which plans as BroadcastNestedLoopJoin —
    * a single-driver-broadcast O(N²) loop). Each vector lands in
    * block b = vec_id mod B and is streamed to B/2+1 target blocks
    * chosen so every unordered block pair {j,k} is covered EXACTLY
    * once with even load (ring scheme: j covers j..j+B/2−1 mod B, and
    * j+B/2 only from the lower half). The pair compare is then one
    * shuffle equi-join on the target block id: B(B+1)/2-ish reducer
    * tasks, each holding one block's vectors (N/B) — per-task memory
    * bounded, no nested-loop node, horizontally parallel.
    *
    * Why not a sub-quadratic prefilter? Measured on this corpus the
    * qualifying pairs are a continuum down to cos 0.4000098 (no
    * separated "planted dup" mass; p99 of the pair-cosine
    * distribution is 0.29): hyperplane LSH at p_bit=0.631 would need
    * ≥56 OR-ed 4-bit tables for completeness (more candidates than
    * brute force), and IVF cell-join with 3-of-8 probes covers only
    * 79% of qualifying pairs. Exact near-dup at a threshold this deep
    * into the bulk is inherently Ω(N²) compare; this operator makes
    * the N² distributed and memory-safe, and the bounded-recall
    * sub-quadratic paths are [[Similarity.knnLsh]]/[[Similarity.knnIvf]].
    *
    * Cosine is a sequential double fold ([[graft.functions.VecDot]]) —
    * the same order DuckDB's list_dot_product uses — rounded to 4 dp;
    * dot/norm products are orientation-independent bit-exactly, so
    * block orientation never perturbs the oracle compare. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExprs.vecDot
    val b = NearDupBlocks
    require(b % 2 == 0, "NearDupBlocks must be even")
    val v = Similarity.vectors(spark, dir)
      .withColumn("blk", pmod(col("vec_id"), lit(b)).cast("int"))
    val ringTargets = concat(
      transform(sequence(lit(0), lit(b / 2 - 1)),
        d => pmod(col("blk") + d, lit(b))),
      when(col("blk") < b / 2, array(col("blk") + lit(b / 2)))
        .otherwise(array().cast("array<int>")))
    val lhs = v.select(col("vec_id").as("ida"), col("emb").as("ea"),
      col("nrm").as("na"), col("blk").as("ba"),
      explode(ringTargets).as("tb"))
    val rhs = v.select(col("vec_id").as("idb"), col("emb").as("eb"),
      col("nrm").as("nb"), col("blk").as("tb"))
    lhs.join(rhs, Seq("tb"))
      .filter(col("ba") =!= col("tb") || col("ida") < col("idb"))
      .withColumn("cos", vecDot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.40)
      .select(least(col("ida"), col("idb")).as("vec_a"),
        greatest(col("ida"), col("idb")).as("vec_b"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The naive non-equi spelling (BroadcastNestedLoopJoin) — kept ONLY
    * as the reference implementation ExtSpec compares the block-
    * partitioned plan against; never gated, never run at scale. */
  private[graft] def embeddingNearDupBrute(spark: SparkSession,
                                           dir: String): DataFrame = {
    import graft.functions.VectorExprs.vecDot
    val v = Similarity.vectors(spark, dir)
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        vecDot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= 0.40)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val embeddingNearDupSql: String =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                          CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS cos_sim
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= 0.40
      |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------- q96

  /** Same cosine bar as the exact q36 near-dup — within a cell, the
    * pruning decision matches the exact operator's notion of "dup". */
  val SemDedupThreshold = 0.40

  /** q96 — SemDeDup-style EMBEDDING CLUSTER DEDUP: prune near-
    * duplicate vectors inside each IVF cell — the embedding-space
    * analog of q83's capped shingle clustering, and the production
    * answer to the one dedup modality whose exact form (q36) is
    * inherently Ω(N²). Following SemDeDup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster with a coarse quantizer, then compare
    * pairs ONLY within a cluster — cross-cell pairs are never
    * generated, so total compare work is Σ_cell C(|cell|, 2) instead
    * of C(N, 2), and each cell's pairs expand inside one equi-join
    * bucket (per-task memory bounded by the largest cell; at 100 TB
    * the cell count scales with the corpus so |cell| stays ~constant
    * and the whole pass is linear).
    *
    * Keep rule: a vector is PRUNED when any LOWER-ID vector in the
    * same cell has cosine ≥ [[SemDedupThreshold]] — the deterministic
    * one-join spelling of SemDeDup's keep-one-per-duplicate-group
    * (the kept-only sequential variant needs an ordered scan that
    * doesn't distribute; the any-lower-id rule is one equi-join,
    * rerun-stable, and prunes a superset). Output keeps every vector
    * with its decision, so downstream joins can pick either side.
    *
    * Recall contract (the LSH trade, declared): only same-cell dup
    * pairs are seen — ExtSpec measures the within-cell share of q36's
    * exact pairs on this corpus; more cells/probes tighten or trade
    * it, exactly as in the SemDeDup paper. */
  def semDedupCells(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExprs.vecDot
    val assigned = Similarity.corpusCellAssignment(spark, dir)
    val side = assigned
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell_id"))
    val drops = side.as("x").join(side.as("y"),
        col("x.cell_id") === col("y.cell_id") &&
          col("y.vec_id") < col("x.vec_id"))
      .filter(vecDot(col("x.emb"), col("y.emb")) /
        (col("x.nrm") * col("y.nrm")) >= SemDedupThreshold)
      .select(col("x.vec_id")).distinct()
    assigned.join(drops.withColumn("_drop", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"),
        when(col("_drop").isNotNull, 0).otherwise(1).cast("int").as("is_kept"))
      .orderBy(col("vec_id"))
  }

  val semDedupCellsSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    list_dot_product(CAST(embedding AS DOUBLE[]),
       |                     CAST(embedding AS DOUBLE[])) AS n2,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                          CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cell_id, emb AS cemb, n2 AS cn2
       |  FROM v WHERE vec_id < ${Similarity.IvfCells}),
       |d AS (
       |  SELECT v.vec_id, c.cell_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY v.n2 + c.cn2 - 2.0 * list_dot_product(v.emb, c.cemb),
       |               c.cell_id) AS rn
       |  FROM v CROSS JOIN c),
       |asg AS (SELECT vec_id, cell_id FROM d WHERE rn = 1),
       |drops AS (
       |  SELECT DISTINCT x.vec_id
       |  FROM asg x
       |  JOIN asg y ON x.cell_id = y.cell_id AND y.vec_id < x.vec_id
       |  JOIN v vx ON vx.vec_id = x.vec_id
       |  JOIN v vy ON vy.vec_id = y.vec_id
       |  WHERE list_dot_product(vx.emb, vy.emb) / (vx.nrm * vy.nrm)
       |    >= $SemDedupThreshold)
       |SELECT a.vec_id, a.cell_id,
       |  CAST(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS is_kept
       |FROM asg a LEFT JOIN drops dr ON dr.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  // ---------------------------------------------------------------- q93

  /** Every ~11th doc plays the newly-ingested batch in q93. */
  val IngestModulus = 11

  /** q93 — INCREMENTAL near-dup ingest: match a new document batch
    * against the EXISTING corpus without re-pairing the corpus — the
    * shape every production ingest actually runs (q33/q58 are the
    * one-time backfill; this is the steady state). The corpus side is
    * the df-capped shingle index (boilerplate shingles dropped at
    * index-build time, same [[DfCap]] contract as q58); the new batch
    * is tiny relative to the corpus, so its shingle table BROADCASTS
    * and the index streams through one scan — total cost per ingest
    * is O(index), never O(corpus²). New-vs-new pairs inside the batch
    * are the batch's own q58 pass; this operator covers new-vs-old.
    *
    * Same hash-key contract as q33: Spark joins on xxhash64(shingle)
    * (8-byte exchange keys), the DuckDB oracle joins the strings — a
    * collision would surface as a gate mismatch, not pass silently. */
  /** Hashed shingle table: (doc_id, xxhash64(shingle)). */
  private[graft] def shingleTable(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(shingles(col("text"))).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("sh"))

  /** The df-capped CORPUS shingle index q93 and its streaming twin
    * (q101) probe: corpus = every doc outside the [[IngestModulus]]
    * batch; one aggregate drops shingles over [[DfCap]]. */
  private[graft] def cappedCorpusIndex(spark: SparkSession,
                                       dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val corpusSh = shingleTable(
      d.filter(pmod(col("doc_id"), lit(IngestModulus)) =!= 0))
    val keep = corpusSh.groupBy(col("sh"))
      .agg(count(lit(1)).as("n_df")).filter(col("n_df") <= DfCap)
      .select("sh")
    corpusSh.join(keep, Seq("sh"), "left_semi")
  }

  /** Match one ingest batch's hashed shingles `(new_id, sh)` against
    * the index — the per-micro-batch body shared verbatim by q93 and
    * the stream-executed q101. */
  private[graft] def ingestMatches(index: DataFrame,
                                   batchSh: DataFrame): DataFrame =
    index.join(broadcast(batchSh), Seq("sh"))
      .groupBy(col("new_id"), col("doc_id").as("corpus_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)

  def incrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val batchSh = shingleTable(
      d.filter(pmod(col("doc_id"), lit(IngestModulus)) === 0))
      .select(col("doc_id").as("new_id"), col("sh"))
    ingestMatches(cappedCorpusIndex(spark, dir), batchSh)
      .orderBy(col("new_id"), col("corpus_id"))
  }

  val incrementalNearDupSql: String =
    s"""WITH s AS (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents),
       |corpus AS (SELECT * FROM s WHERE doc_id % $IngestModulus <> 0),
       |keep AS (SELECT sh FROM corpus GROUP BY sh
       |         HAVING count(*) <= $DfCap),
       |idx AS (SELECT c.doc_id, c.sh FROM corpus c JOIN keep USING (sh)),
       |batch AS (SELECT doc_id AS new_id, sh FROM s
       |          WHERE doc_id % $IngestModulus = 0)
       |SELECT b.new_id, i.doc_id AS corpus_id,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM idx i JOIN batch b USING (sh)
       |GROUP BY 1, 2 HAVING count(*) >= 3
       |ORDER BY new_id, corpus_id""".stripMargin

  // ---------------------------------------------------------------- q74

  /** Every ~97th doc plays the held-out benchmark set (deterministic
    * stand-in for an external eval corpus). */
  val BenchmarkModulus = 97
  /** Shared-3-gram floor for a contamination flag (same floor as the
    * q33 near-dup pairs). */
  val ContaminationMinShared = 3L

  /** q74 — train/eval DECONTAMINATION: flag training documents that
    * share ≥ [[ContaminationMinShared]] distinct word-3-grams with
    * any benchmark document — the overlap check a training pipeline
    * runs before the mix is final (the cross-set sibling of q33's
    * within-set pairs). Output: one row per contaminated training
    * doc with its worst-overlap benchmark doc (ties → lowest id).
    *
    * Scale shape: benchmark sets are tiny next to the corpus, so the
    * benchmark shingle table BROADCASTS (hash-before-broadcast — 8-byte
    * keys, same collision contract as q33) and the training side
    * streams through one scan + broadcast join; only the matched
    * (train, bench) pairs reach the aggregate exchange. */
  def decontamination(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    def sh(df: DataFrame): DataFrame =
      df.select(col("doc_id"), explode(shingles(col("text"))).as("s0"))
        .select(col("doc_id"), xxhash64(col("s0")).as("sh"))
    val isBench = pmod(col("doc_id"), lit(BenchmarkModulus)) === 0
    val train = sh(d.filter(!isBench))
    val bench = sh(d.filter(isBench))
      .select(col("doc_id").as("bench_id"), col("sh"))
    val overlaps = train.join(broadcast(bench), Seq("sh"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= ContaminationMinShared)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("n_shared").desc, col("bench_id"))
    overlaps.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("bench_id"), col("n_shared"))
      .orderBy(col("doc_id"))
  }

  val decontaminationSql: String =
    s"""WITH s AS (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents),
       |o AS (
       |  SELECT t.doc_id, b.doc_id AS bench_id,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM s t JOIN s b ON t.sh = b.sh
       |  WHERE t.doc_id % $BenchmarkModulus <> 0
       |    AND b.doc_id % $BenchmarkModulus = 0
       |  GROUP BY 1, 2 HAVING count(*) >= $ContaminationMinShared),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY n_shared DESC, bench_id) AS rn FROM o)
       |SELECT doc_id, bench_id, n_shared FROM r WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q108

  /** Window length (tokens) of the q108 repeated-span detector. */
  val SpanTokens = 8

  /** q108 — REPEATED-SPAN COVERAGE: substring-level dedup metrics in
    * the spirit of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better" — their ExactSubstr removes ≥50-token
    * spans that recur anywhere in the corpus). Every [[SpanTokens]]-
    * token window is keyed across the corpus; a window occurring in
    * ≥2 distinct documents is a repeated span, and each document
    * reports its repeated-span count plus the EXACT number of tokens
    * covered by the union of its repeated windows (overlapping windows
    * merged interval-style, all-integer, so both engines agree
    * bitwise). `dup_frac` is the per-doc fraction a substring-level
    * deduper would strip.
    *
    * Coverage: the oracle's contribution per window is its end minus
    * the running max end of the doc's earlier repeated windows. Every
    * window has the same length and a doc's start positions are
    * unique, so that running max is the previous window's end and the
    * contribution is `least(SpanTokens, pos − lag(pos))` —
    * [[SpanTokens]] for a doc's first window. One lag per doc instead
    * of an unbounded-preceding frame.
    *
    * Differs from doc-level shingle dedup (q33/q58): those score DOC
    * pairs by shared-shingle counts; this measures WHICH SLICES of
    * each doc are boilerplate, the pre-step of span excision.
    *
    * Scale: the windows come from the native n-gram kernel
    * ([[graft.functions.TextExprs.ngrams]]: one split per doc, every
    * occurrence with its position), so the explode is linear in corpus
    * tokens; the repeated-window reduction is one hash exchange on the
    * span key, asking only `min(doc_id) < max(doc_id)` (a stop-phrase
    * span has bounded effect: no pairs, no per-span lists); the
    * coverage merge is one lag pass keyed by doc. Nothing is
    * quadratic. */
  def repeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    val wins = d.select(col("doc_id"),
      posexplode(graft.functions.TextExprs.ngrams(col("text"), SpanTokens))
        .as(Seq("pos", "sh")))
    val repeated = wins.groupBy(col("sh"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .filter(col("lo") < col("hi")).select("sh")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val perDoc = wins.join(repeated, Seq("sh"), "left_semi")
      .withColumn("contrib", coalesce(
        least(lit(SpanTokens), col("pos") - lag(col("pos"), 1).over(w)),
        lit(SpanTokens)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_rep_spans"),
        sum(col("contrib")).cast("long").as("covered_tokens"))
    d.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_rep_spans"), lit(0L)).as("n_rep_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens")).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  val repeatedSpansSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, CAST(u.i AS INT) AS pos,
       |    array_to_string(toks[u.i+1 : u.i+$SpanTokens], ' ') AS sh
       |  FROM t, unnest(range(greatest(len(toks) - ${SpanTokens - 1}, 0)))
       |    AS u(i)),
       |rep AS (SELECT sh FROM w GROUP BY sh
       |        HAVING count(DISTINCT doc_id) >= 2),
       |cov AS (
       |  SELECT doc_id, pos,
       |    greatest(0, pos + $SpanTokens - greatest(coalesce(
       |      max(pos + $SpanTokens) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), pos))
       |      AS contrib
       |  FROM w JOIN rep USING (sh)),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rep_spans,
       |    CAST(sum(contrib) AS BIGINT) AS covered_tokens
       |  FROM cov GROUP BY 1)
       |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  coalesce(per.n_rep_spans, 0) AS n_rep_spans,
       |  coalesce(per.covered_tokens, 0) AS covered_tokens,
       |  CAST(coalesce(per.covered_tokens, 0) AS DOUBLE) / len(t.toks)
       |    AS dup_frac
       |FROM t LEFT JOIN per USING (doc_id) ORDER BY t.doc_id""".stripMargin
}
