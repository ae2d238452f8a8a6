package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY §7.5 north-star). Three tiers:
  *
  *  - [[knnBruteForce]] (q37): exact cosine top-k — the correctness
  *    oracle. O(Q·N) pairs; at 100 TB viable only for small Q (the
  *    query side broadcasts, the corpus streams: one scan, no
  *    shuffle of the corpus).
  *  - [[knnLsh]] (q38): random-hyperplane LSH, 4 tables × 8 bits.
  *    Candidates meet in a bucket equi-join (shuffle on the 16-bit
  *    code instead of all-pairs); rerank is exact cosine on the
  *    ~N/256-per-table candidate set. The 100 TB path: bucket join
  *    scales linearly, recall tunable via tables/bits (spec asserts
  *    recall@5 ≥ 0.6 vs q37 on the test corpus).
  *  - [[ivfAssign]] (q39) / [[knnIvf]] (q40): IVF coarse quantizer
  *    with deterministic centroids (the k lowest vec_ids — a stand-in
  *    for k-means, keeping the oracle exact). Assignment is a
  *    broadcast-centroid argmin (one corpus scan); probes search the
  *    nprobe nearest cells only.
  *
  * Float discipline: every distance is computed from the same three
  * primitives in Spark and DuckDB — sequential-fold dot products
  * (`aggregate(zip_with…)` ↔ `list_dot_product`) and the identity
  * |a−b|² = a·a + b·b − 2·a·b — so doubles compare exactly.
  */
object Similarity {

  private val NumQueries = 10 // vec_id < 10 play the query set
  private val K = 5

  /** Sequential-fold dot product: matches DuckDB list_dot_product.
    * Codegen'd native expression — see [[graft.functions.VecDot]]. */
  private[ext] def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.vecDot(a, b)

  /** Corpus with norm; emb cast once to double (shared with
    * [[Dedup.embeddingNearDup]] — one definition keeps the
    * normalization bit-identical across every oracle). */
  private[ext] def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))

  /** Exact top-k per query, deterministic tie-break on neighbor id.
    *
    * NOT a `row_number` window (which sorts every scored row inside
    * each query partition — all Q×N rows through the exchange): the
    * [[graft.functions.BoundedTopK]] aggregate keeps a k-sized buffer,
    * so the partial aggregate collapses each (partition, query) to ≤ k
    * candidates before the shuffle and no full sort runs — the q39/q56
    * `min(struct)` argmin generalized to k (PlansSpec asserts the knn
    * plans are Window-free). Score negation makes the ascending
    * aggregate rank descending; IEEE negation is exact, so `cos` comes
    * back bit-identical and every oracle compare is untouched. */
  private def topK(scored: DataFrame, k: Int = K): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.AggExprs.topKMin(
        -col("cos"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(-col("col.score"), 4).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))

  // ---------------------------------------------------------------- q37

  /** Brute-force exact cosine top-k for the first [[NumQueries]]
    * vectors against the whole corpus. */
  def knnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.filter(col("vec_id") < NumQueries)
    val scored = q.as("q").join(v.as("v"), col("v.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("v.vec_id").as("neighbor_id"),
        (dot(col("q.emb"), col("v.emb")) / (col("q.nrm") * col("v.nrm")))
          .as("cos"))
    topK(scored)
  }

  val knnBruteForceSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                          CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |q AS (SELECT * FROM v WHERE vec_id < $NumQueries),
       |s AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |    list_dot_product(q.emb, v.emb) / (q.nrm * v.nrm) AS cos
       |  FROM q JOIN v ON v.vec_id <> q.vec_id),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       |  round(cos, 4) AS cos_sim
       |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q38

  // Tuned for the test corpus where even true top-5 neighbors sit at
  // cosine ≈ 0.3 (θ≈72°, per-bit collision p≈0.6): 4-bit codes give
  // p⁴≈0.13 per table and 8 OR-ed tables lift recall@5 well past the
  // 0.6 spec bar. Denser corpora (real embeddings cluster far
  // tighter) would take more bits per table for selectivity; both are
  // constants a caller would tune per corpus.
  val LshTables = 8
  val LshBits = 4

  /** Deterministic pseudo-random hyperplanes: component (p, d) =
    * md5("p:d") top-60-bits scaled to [−1, 1) — the [[HashBridge]]
    * discipline, so the DuckDB oracle regenerates the IDENTICAL
    * doubles and q38 is fully hash-checked despite being an LSH
    * structure. Computed driver-side in plain Scala (java's
    * MessageDigest is the same RFC-1321 md5) and embedded as literal
    * arrays, so every per-row projection is a codegen'd
    * [[graft.functions.VecDot]] against a constant — no Spark
    * round-trip, no interpreted per-row plane construction. */
  private[ext] def planeComponent(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16).toDouble /
      576460752303423488.0d - 1.0d // 2^59: exact power-of-two descale
  }

  private def planes(dim: Int): IndexedSeq[Array[Double]] =
    (0 until LshTables * LshBits).map(p =>
      Array.tabulate(dim)(d => planeComponent(p, d)))

  /** DuckDB spelling of [[planeComponent]], as a (p, plane) CTE body
    * parameterized on the corpus CTE name (reads the dim from it). */
  private def planesSql(vCte: String): String =
    s"""SELECT p.p AS p,
       |    list(CAST(('0x' || substr(md5(CAST(p.p AS VARCHAR) || ':' ||
       |                  CAST(d.d AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
       |         / 576460752303423488.0 - 1.0 ORDER BY d.d) AS plane
       |  FROM (SELECT unnest(range(${LshTables * LshBits})) AS p) p
       |  CROSS JOIN (SELECT unnest(range(
       |    (SELECT min(len(emb)) FROM $vCte))) AS d) d
       |  GROUP BY p.p""".stripMargin

  /** Per-table signed-projection bucket code (LshBits sign bits). */
  private def bucketCode(t: Int, emb: Column,
                         pl: IndexedSeq[Array[Double]]): Column =
    (0 until LshBits).map { p =>
      val proj = dot(emb, typedLit(pl(t * LshBits + p).toSeq))
      when(proj >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** LSH ANN: candidates share a bucket in ≥1 of the [[LshTables]]
    * tables (OR of [[LshBits]]-bit AND-codes), reranked by exact
    * cosine. Fully oracle-checked: md5-derived planes make the bucket
    * codes — and therefore the candidate set and the top-k —
    * deterministic across engines; SimilaritySpec additionally
    * asserts recall@5 against the exact q37. */
  def knnLsh(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val dim = Tables.load(spark, dir, "embeddings")
      .select(size(col("embedding"))).head().getInt(0)
    val pl = planes(dim)
    // bucket rows carry only (vec_id, tbl, code) — the 64-double
    // embeddings never enter the candidate join/shuffle; they come
    // back via two id-equi-joins for the exact rerank
    val codes = v.select(
      col("vec_id"),
      posexplode(array((0 until LshTables).map(t =>
        bucketCode(t, col("emb"), pl)): _*)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "code")
    val qCodes = codes.filter(col("vec_id") < NumQueries)
    val cands = qCodes.as("q").join(codes.as("v"),
        col("q.tbl") === col("v.tbl") && col("q.code") === col("v.code") &&
          col("q.vec_id") =!= col("v.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("v.vec_id").as("neighbor_id"))
      .distinct()
    val scored = cands
      .join(v.select(col("vec_id").as("query_id"), col("emb").as("qe"),
        col("nrm").as("qn")), Seq("query_id"))
      .join(v.select(col("vec_id").as("neighbor_id"), col("emb").as("ve"),
        col("nrm").as("vn")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col("ve")) / (col("qn") * col("vn"))).as("cos"))
    topK(scored)
  }

  val knnLshSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                          CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |pl AS (
       |  ${planesSql("v")}),
       |codes AS (
       |  SELECT v.vec_id, CAST(pl.p // $LshBits AS INT) AS tbl,
       |    sum(CASE WHEN list_dot_product(v.emb, pl.plane) >= 0
       |        THEN (1 << (pl.p % $LshBits)) ELSE 0 END) AS code
       |  FROM v CROSS JOIN pl
       |  GROUP BY v.vec_id, pl.p // $LshBits),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM codes q JOIN codes c
       |    ON q.tbl = c.tbl AND q.code = c.code AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |s AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    list_dot_product(qv.emb, nv.emb) / (qv.nrm * nv.nrm) AS cos
       |  FROM cand
       |  JOIN v qv ON qv.vec_id = cand.query_id
       |  JOIN v nv ON nv.vec_id = cand.neighbor_id),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       |  round(cos, 4) AS cos_sim
       |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q39

  val IvfCells = 8
  val IvfProbes = 2

  /** Argmin over the broadcast N×k expansion as ONE map-side-combined
    * aggregate: `min(struct(dist2, cell_id, extra…))` — struct
    * ordering is lexicographic, so the minimum IS the (dist2 asc,
    * cell_id asc) head row the previous `row_number` window selected,
    * with the same deterministic tie-break. The win at scale: the
    * partial min collapses each vector's k candidate rows to one
    * BEFORE the exchange, so the shuffle moves N rows instead of
    * sorting N×k inside window partitions (verdict r2 item 4;
    * PlansSpec asserts the assign plans are Window-free and
    * partially aggregated). `extra` columns (emb/nrm for the probe
    * path) ride in trailing struct fields — compared only on total
    * (dist2, cell_id) ties, i.e. never, since cell_id is unique. */
  private def argminCell(expanded: DataFrame, extra: Seq[String]): DataFrame = {
    val fields = Seq(col("dist2"), col("cell_id")) ++ extra.map(col)
    expanded
      .groupBy(col("vec_id"))
      .agg(min(struct(fields: _*)).as("m"))
      .select(Seq(col("vec_id"), col("m.dist2"), col("m.cell_id")) ++
        extra.map(e => col(s"m.$e")): _*)
  }

  /** Cell assignment: nearest of the [[IvfCells]] deterministic
    * centroids by squared L2 = a·a + b·b − 2·a·b (argmin, tie-break
    * on centroid id). Broadcast join: one corpus scan, no corpus
    * shuffle — the write side would partition the 100 TB corpus by
    * cell_id for probe-time partition pruning. */
  def ivfAssign(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir).withColumn("n2", dot(col("emb"), col("emb")))
    val cents = v.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cell_id"), col("emb").as("cemb"),
        col("n2").as("cn2"))
    val expanded = v.join(broadcast(cents))
      .withColumn("dist2",
        col("n2") + col("cn2") - lit(2.0d) * dot(col("emb"), col("cemb")))
    argminCell(expanded, Seq.empty)
      .select(col("vec_id"), col("cell_id"), round(col("dist2"), 4).as("dist2"))
      .orderBy(col("vec_id"))
  }

  val ivfAssignSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    list_dot_product(CAST(embedding AS DOUBLE[]),
       |                     CAST(embedding AS DOUBLE[])) AS n2
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cell_id, emb AS cemb, n2 AS cn2
       |  FROM v WHERE vec_id < $IvfCells),
       |d AS (
       |  SELECT v.vec_id, c.cell_id,
       |    v.n2 + c.cn2 - 2.0 * list_dot_product(v.emb, c.cemb) AS dist2,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY v.n2 + c.cn2 - 2.0 * list_dot_product(v.emb, c.cemb),
       |               c.cell_id) AS rn
       |  FROM v CROSS JOIN c)
       |SELECT vec_id, cell_id, round(dist2, 4) AS dist2
       |FROM d WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q40

  /** IVF ANN: each query probes its [[IvfProbes]] nearest cells and
    * reranks exactly within them. Deterministic ⇒ full DuckDB oracle.
    * At scale the cell filter becomes partition pruning on a corpus
    * laid out by cell_id. */
  /** (vec_id, emb, nrm, cell_id) — every corpus vector with its IVF
    * cell, via the one-per-vector argmin aggregate (emb/nrm ride in
    * the struct — no join-back, no N×k window sort). Shared by the
    * q40 probe path and [[Dedup.semDedupCells]] (q96). */
  /** The materialized corpus→cell assignment — SESSION-CACHED, the
    * production shape: a 100 TB deployment writes the IVF assignment
    * once and every consumer (probe search q40, diversity sampling
    * q87, SemDeDup q96) reads that table instead of re-running the
    * broadcast-centroid argmin per query. Mirrors the sketch-table
    * caches (q34/q35); first consumer in bench run order (q40) is the
    * cold builder and sits in `Bench.NoRemeasure`. */
  private[ext] def corpusCellAssignment(spark: SparkSession,
                                        dir: String): DataFrame =
    Dedup.cachedOn(spark, dir, "embeddings", "cellAssign") {
      val v = vectors(spark, dir).withColumn("n2", dot(col("emb"), col("emb")))
      val cents = v.filter(col("vec_id") < IvfCells)
        .select(col("vec_id").as("cell_id"), col("emb").as("cemb"),
          col("n2").as("cn2"))
      val expanded = v.join(broadcast(cents))
        .withColumn("dist2",
          col("n2") + col("cn2") - lit(2.0d) * dot(col("emb"), col("cemb")))
      argminCell(expanded, Seq("emb", "nrm"))
        .select(col("vec_id"), col("emb"), col("nrm"), col("cell_id"))
        .persist()
    }

  def knnIvf(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir).withColumn("n2", dot(col("emb"), col("emb")))
    val cents = v.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cell_id"), col("emb").as("cemb"),
        col("n2").as("cn2"))
    def expand(src: DataFrame): DataFrame = src.join(broadcast(cents))
      .withColumn("dist2",
        col("n2") + col("cn2") - lit(2.0d) * dot(col("emb"), col("cemb")))
    // corpus side: shared cell assignment (argmin aggregate)
    val corpusCells = corpusCellAssignment(spark, dir)
    // probe side: top-nprobe needs a rank, but only over the tiny
    // query subset (NumQueries×k rows) — the window is negligible here
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist2"), col("cell_id"))
    val queryCells = expand(v.filter(col("vec_id") < NumQueries))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= IvfProbes)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"),
        col("nrm").as("qn"), col("cell_id"))
    // EXPLICIT broadcast of the probe side (guide §3.1): it is
    // NumQueries×IvfProbes rows by the rank filter above, but the
    // window output has no size estimate, so the planner picked
    // SortMergeJoin — exchanging and sorting the corpus-sized cached
    // assignment against a 150-row probe table. Broadcasting the
    // probes keeps the corpus scan exchange-free at any scale.
    val scored = broadcast(queryCells.as("q")).join(corpusCells.as("v"),
        col("q.cell_id") === col("v.cell_id") &&
          col("v.vec_id") =!= col("q.query_id"))
      .select(col("query_id"), col("v.vec_id").as("neighbor_id"),
        (dot(col("qe"), col("v.emb")) / (col("qn") * col("v.nrm"))).as("cos"))
      .distinct() // a neighbor can appear via at most one cell; keep safe
    topK(scored)
  }

  // ---------------------------------------------------------------- q56

  /** One Lloyd iteration over the IVF quantizer: assign to the
    * deterministic seed centroids (q39), recompute each cell's
    * centroid as the per-dimension mean of its members (the q51
    * floor-scale integer discipline keeps the means bit-exact and
    * partition-order independent), then re-assign against the refined
    * centroids. This is the real k-means training step — iterate it
    * and the quantizer converges; every step stays oracle-checkable
    * because nothing depends on execution order.
    *
    * Scale: assignment is a broadcast argmin (one corpus scan);
    * centroid refresh is one explode + (cell, pos)-keyed aggregate
    * whose output is k×dim rows — negligible against the corpus. */
  def ivfRefinedAssign(spark: SparkSession, dir: String): DataFrame = {
    val Scale = 1099511627776.0 // 2^40, as q51
    val v = vectors(spark, dir).withColumn("n2", dot(col("emb"), col("emb")))
    val cents0 = v.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cell_id"), col("emb").as("cemb"),
        col("n2").as("cn2"))
    def expand(cents: DataFrame): DataFrame = v.join(broadcast(cents))
      .withColumn("dist2",
        col("n2") + col("cn2") - lit(2.0d) * dot(col("emb"), col("cemb")))
    val assign0 = argminCell(expand(cents0), Seq.empty)
      .select(col("vec_id"), col("cell_id"))
    val refined = v.join(assign0, Seq("vec_id"))
      .select(col("cell_id"), posexplode(col("emb")))
      .groupBy(col("cell_id"), col("pos"))
      .agg((sum(floor(col("col") * Scale).cast("decimal(38,0)")) /
        lit(Scale) / count(lit(1))).as("cv"))
      .groupBy(col("cell_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        s => s.getField("cv")).as("cemb"))
      .withColumn("cn2", dot(col("cemb"), col("cemb")))
    argminCell(expand(refined), Seq.empty)
      .select(col("vec_id"), col("cell_id"), round(col("dist2"), 4).as("dist2"))
      .orderBy(col("vec_id"))
  }

  val ivfRefinedAssignSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    list_dot_product(CAST(embedding AS DOUBLE[]),
       |                     CAST(embedding AS DOUBLE[])) AS n2
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cell_id, emb AS cemb, n2 AS cn2
       |  FROM v WHERE vec_id < $IvfCells),
       |a0 AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT v.vec_id, c.cell_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY v.n2 + c.cn2 - 2.0 * list_dot_product(v.emb, c.cemb),
       |                 c.cell_id) AS rn
       |    FROM v CROSS JOIN c0 c) WHERE rn = 1),
       |comp AS (
       |  SELECT a0.cell_id, t.i - 1 AS pos,
       |    sum(CAST(floor(v.emb[t.i] * 1099511627776.0) AS BIGINT))
       |      / 1099511627776.0 / count(*) AS cv
       |  FROM v JOIN a0 ON v.vec_id = a0.vec_id,
       |    LATERAL (SELECT unnest(range(1, len(v.emb) + 1)) AS i) t
       |  GROUP BY a0.cell_id, t.i),
       |c1 AS (
       |  SELECT cell_id, list(cv ORDER BY pos) AS cemb,
       |    list_dot_product(list(cv ORDER BY pos),
       |                     list(cv ORDER BY pos)) AS cn2
       |  FROM comp GROUP BY cell_id)
       |SELECT vec_id, cell_id, round(dist2, 4) AS dist2 FROM (
       |  SELECT v.vec_id, c.cell_id,
       |    v.n2 + c.cn2 - 2.0 * list_dot_product(v.emb, c.cemb) AS dist2,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY v.n2 + c.cn2 - 2.0 * list_dot_product(v.emb, c.cemb),
       |               c.cell_id) AS rn
       |  FROM v CROSS JOIN c1 c) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q51

  /** Per-label centroid components (the class-prototype computation a
    * labeling/clustering stage needs), flat (label, pos, value) shape.
    *
    * Order-independent exact float discipline: each component scales
    * by 2^40 (exact — power-of-two scaling never rounds a double),
    * floors to a long (identical toward-minus-infinity semantics in
    * both engines; a double→decimal or double→bigint CAST would round
    * differently between engines), sums in integer space (exact,
    * partition-order independent), and descales once. One explode +
    * one two-phase aggregate keyed on (label, pos) — dimension-
    * parallel at scale. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val Scale = 1099511627776.0 // 2^40
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding").cast("array<double>")))
    // decimal(38,0), not long: a long sum wraps silently past ~2^23
    // rows per group (terms reach 2^40); decimal matches DuckDB's
    // BIGINT→HUGEINT sum promotion and both convert the same exact
    // integer to double before the descale divisions
    e.groupBy(col("label"), col("pos"))
      .agg((sum(floor(col("col") * Scale).cast("decimal(38,0)")) /
        lit(Scale) / count(lit(1))).as("centroid_val"))
      .orderBy(col("label"), col("pos"))
  }

  val labelCentroidsSql: String =
    """SELECT e.label, t.i - 1 AS pos,
      |  sum(CAST(floor(e.emb[t.i] * 1099511627776.0) AS BIGINT))
      |    / 1099511627776.0 / count(*) AS centroid_val
      |FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
      |      FROM embeddings) e,
      |  LATERAL (SELECT unnest(range(1, len(e.emb) + 1)) AS i) t
      |GROUP BY e.label, t.i
      |ORDER BY label, pos""".stripMargin

  val knnIvfSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                          CAST(embedding AS DOUBLE[]))) AS nrm,
       |    list_dot_product(CAST(embedding AS DOUBLE[]),
       |                     CAST(embedding AS DOUBLE[])) AS n2
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cell_id, emb AS cemb, n2 AS cn2
       |  FROM v WHERE vec_id < $IvfCells),
       |ranked AS (
       |  SELECT v.vec_id, v.emb, v.nrm, c.cell_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY v.n2 + c.cn2 - 2.0 * list_dot_product(v.emb, c.cemb),
       |               c.cell_id) AS rn
       |  FROM v CROSS JOIN c),
       |corpus AS (SELECT vec_id, emb, nrm, cell_id FROM ranked WHERE rn = 1),
       |queries AS (
       |  SELECT vec_id AS query_id, emb AS qe, nrm AS qn, cell_id
       |  FROM ranked WHERE vec_id < $NumQueries AND rn <= $IvfProbes),
       |s AS (
       |  SELECT DISTINCT q.query_id, v.vec_id AS neighbor_id,
       |    list_dot_product(q.qe, v.emb) / (q.qn * v.nrm) AS cos
       |  FROM queries q JOIN corpus v
       |    ON q.cell_id = v.cell_id AND v.vec_id <> q.query_id),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       |  round(cos, 4) AS cos_sim
       |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q73

  /** Shortlist size for the quantized first pass — 10·K wide, so the
    * int8 ordering has an order-of-magnitude margin to land the true
    * top-K inside it. */
  val QuantShortlist = 50

  /** q73 — int8 scalar-quantized kNN with exact rerank: the memory/
    * shuffle tier between brute force (q37) and the bucketed paths
    * (q38/q40).
    *
    * Stage 1 quantizes each vector to 64 bytes (per-vector symmetric
    * scale s = 127 / max|xᵢ|, qᵢ = round(xᵢ·s)) — at 100 TB the
    * corpus scan and any exchange carry ~1/8 of the float64 bytes —
    * and ranks an approximate shortlist of [[QuantShortlist]] per
    * query on the integer dot product (descaled by s_q·s_v; exact
    * integer arithmetic in double — every int8 product is ≤ 2¹⁴, far
    * inside the 2⁵³ mantissa, so the approx scores are
    * bit-deterministic). Stage 2 joins ONLY the shortlist back to the
    * full-precision vectors and reranks with the exact cosine.
    *
    * GATE CONTRACT: the output is the EXACT top-K (q37's oracle
    * verbatim) — the quantization margin on this corpus puts every
    * true top-5 neighbor inside the 50-wide shortlist (asserted
    * against [[knnBruteForce]] in SimilaritySpec), and because both
    * stages are deterministic, that containment is a fixed property
    * of the data, not a flaky bound. A corpus where int8 error could
    * demote a true neighbor past rank 50 would fail the gate loudly —
    * the right behavior for a path that claims exactness. */
  def knnQuantized(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
      .withColumn("s", lit(127.0) / array_max(transform(col("emb"), x => abs(x))))
      // genuinely byte-sized: the column an index table would store
      .withColumn("q8", transform(col("emb"),
        x => round(x * col("s")).cast("tinyint")))
    val q = v.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("s").as("q_s"), col("q8").as("q_q8"))
    // stage 1: approx scores on the quantized arrays (queries broadcast,
    // corpus streams its int8 view only)
    val approx = q.join(v.select(col("vec_id"), col("s"), col("q8")),
        col("vec_id") =!= col("query_id"))
      .withColumn("approx",
        dot(col("q_q8").cast("array<double>"), col("q8").cast("array<double>"))
          / (col("q_s") * col("s")))
    // shortlist via the k-bounded aggregate (not a window): the
    // partial agg trims each partition to 50 candidates per query
    // before any exchange, and only (query_id, id) pairs move — the
    // embeddings join back below
    val shortlist = approx.groupBy(col("query_id"))
      .agg(graft.functions.AggExprs.topKMin(
        -col("approx"), col("vec_id"), QuantShortlist).as("tk"))
      .select(col("query_id"), explode(col("tk.id")).as("neighbor_id"))
    // stage 2: exact rerank of the shortlist only
    val scored = shortlist
      .join(q.select(col("query_id"), col("q_emb"), col("q_nrm")),
        Seq("query_id"))
      .join(vectors(spark, dir).select(col("vec_id"), col("emb"), col("nrm")),
        col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm"))).as("cos"))
    topK(scored)
  }

  /** q73's gate IS exactness: the quantized+rerank pipeline must
    * reproduce the brute-force answer. */
  val knnQuantizedSql: String = knnBruteForceSql

  // ---------------------------------------------------------------- q87

  /** Per-cell quota for the diversity sampler. */
  val DiversityPerCell = 40

  /** q87 — IVF-STRATIFIED diversity sampling: at most
    * [[DiversityPerCell]] vectors per IVF cell, picked by md5-hash
    * rank — the embedding-space version of the q68 quota sampler. A
    * uniform sample of a skewed corpus reproduces the skew; sampling
    * the same budget FROM EACH CELL of the coarse quantizer caps any
    * one mode's share, which is the standard cheap diversity pass a
    * training mix runs over embeddings (cluster-balanced selection).
    * Deterministic end-to-end: cell assignment is q39's oracle-exact
    * argmin, the pick is a hash rank — rerun- and reshard-stable.
    *
    * Scale: cell assignment is the q39 broadcast argmin (no corpus
    * shuffle); the quota is one window per cell partition. At 100 TB
    * with more cells than executors the window key already spreads;
    * for huge single cells use the q68 note's quantile-prefilter to
    * avoid the full per-cell sort. */
  def ivfDiversitySample(spark: SparkSession, dir: String): DataFrame = {
    val h = graft.ext.HashBridge.md5Bits60(
      md5(concat(lit("ivfs:"), col("vec_id").cast("string"))))
    val w = Window.partitionBy(col("cell_id"))
      .orderBy(col("sample_hash"), col("vec_id"))
    // same argmin assignment as q39, read from the session-cached
    // table (one materialization shared with q40/q96)
    corpusCellAssignment(spark, dir)
      .select(col("vec_id"), col("cell_id"))
      .withColumn("sample_hash", h)
      .withColumn("pick_no", row_number().over(w).cast("int"))
      .filter(col("pick_no") <= DiversityPerCell)
      .select(col("vec_id"), col("cell_id"), col("pick_no"))
      .orderBy(col("cell_id"), col("pick_no"))
  }

  val ivfDiversitySampleSql: String = {
    val h = graft.ext.HashBridge.md5Bits60Sql(
      "md5('ivfs:' || CAST(asg.vec_id AS VARCHAR))")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    list_dot_product(CAST(embedding AS DOUBLE[]),
       |                     CAST(embedding AS DOUBLE[])) AS n2
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cell_id, emb AS cemb, n2 AS cn2
       |  FROM v WHERE vec_id < $IvfCells),
       |d AS (
       |  SELECT v.vec_id, c.cell_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY v.n2 + c.cn2 - 2.0 * list_dot_product(v.emb, c.cemb),
       |               c.cell_id) AS rn
       |  FROM v CROSS JOIN c),
       |assigned AS (SELECT vec_id, cell_id FROM d WHERE rn = 1),
       |ranked AS (
       |  SELECT asg.vec_id, asg.cell_id,
       |    row_number() OVER (PARTITION BY asg.cell_id
       |      ORDER BY $h, asg.vec_id) AS pick_no
       |  FROM assigned asg)
       |SELECT vec_id, cell_id, CAST(pick_no AS INT) AS pick_no
       |FROM ranked WHERE pick_no <= $DiversityPerCell
       |ORDER BY cell_id, pick_no""".stripMargin
  }

  // ---------------------------------------------------------------- q90

  /** Negatives kept per query. */
  val HardNegK = 3

  /** q90 — HARD-NEGATIVE mining for contrastive training: for each
    * query vector, the [[HardNegK]] most-similar corpus vectors with
    * a DIFFERENT label — maximally confusing negatives are the ones
    * that teach an embedding model its decision boundary (the
    * standard retrieval-training data op next to kNN's positives).
    * Exact brute-force spelling, same determinism contract as q37
    * (tie-break on neighbor id, cosine via the codegen [[dot]] fold).
    *
    * Scale: the query side broadcasts and the corpus streams once —
    * identical shape to q37, and the rank is the k-bounded [[topK]]
    * aggregate (Window-free, plan-asserted): each scan partition
    * emits at most [[HardNegK]] candidates per query, so the exchange
    * never carries the scored N_q×N rows. At 100 TB the mining runs
    * over the ANN shortlist instead — [[hardNegativesAnn]] (q95). */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val lbl = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val v = vectors(spark, dir).join(lbl, Seq("vec_id"))
    val q = v.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("label").as("q_label"))
    // EXPLICIT broadcast (guide §3.1): the query side is
    // NumQueries-bounded by construction, but the label join above
    // wrecks the size estimate (join estimates multiply), so the
    // planner fell back to CartesianProduct — which shuffles BOTH
    // sides into |pL|×|pR| tasks. The hint pins the documented shape:
    // queries broadcast, the corpus streams once, zero exchanges
    // before the k-bounded aggregate.
    val scored = broadcast(q).join(v,
        col("vec_id") =!= col("query_id") && col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")))
          .as("cos"))
    topK(scored, HardNegK)
  }

  val hardNegativesSql: String =
    s"""WITH v AS (
       |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb,
       |    sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                          CAST(e.embedding AS DOUBLE[]))) AS nrm,
       |    e.label
       |  FROM embeddings e),
       |q AS (SELECT * FROM v WHERE vec_id < $NumQueries),
       |s AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |    list_dot_product(q.emb, v.emb) / (q.nrm * v.nrm) AS cos
       |  FROM q JOIN v ON v.vec_id <> q.vec_id AND v.label <> q.label),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       |  round(cos, 4) AS cos_sim
       |FROM r WHERE rank <= $HardNegK ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q95

  /** Shortlist width for the ANN hard-negative pass — 10× the kept
    * [[HardNegK]], the same order-of-magnitude margin as q73's. */
  val AnnNegShortlist = 30

  /** q95 — hard negatives over an ANN SHORTLIST: q90's declared
    * 100 TB path as its own gated query. Stage 1 scores the
    * label-mismatched corpus against each query on int8-quantized
    * vectors (the q73 tier: the streamed corpus bytes drop 8×) and
    * keeps only [[AnnNegShortlist]] candidates per query via the
    * k-bounded aggregate; stage 2 reranks that bounded set with the
    * exact cosine and keeps [[HardNegK]].
    *
    * GATE CONTRACT (the q73 precedent): the output must equal the
    * exact q90 answer verbatim — on this corpus the int8 margin puts
    * every true top-[[HardNegK]] negative inside the 30-wide
    * shortlist (SimilaritySpec asserts that containment against the
    * brute-force scores), and both stages are deterministic, so the
    * equality is a fixed property of the data. A corpus where
    * quantization error pushed a true hard negative past rank 30
    * would fail the gate loudly — correct for a path claiming
    * exactness. This closes the brute-force-has-a-sublinear-sibling
    * invariant: q37→q38/q40/q73, q90→q95. */
  def hardNegativesAnn(spark: SparkSession, dir: String): DataFrame = {
    val lbl = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val v = vectors(spark, dir).join(lbl, Seq("vec_id"))
      .withColumn("s", lit(127.0) / array_max(transform(col("emb"), x => abs(x))))
      .withColumn("q8", transform(col("emb"),
        x => round(x * col("s")).cast("tinyint")))
    val q = v.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("label").as("q_label"),
        col("s").as("q_s"), col("q8").as("q_q8"))
    // stage 1: int8 approx scores, label filter pushed BEFORE the
    // scoring so same-label vectors never cost a dot product. The
    // query side broadcasts EXPLICITLY (guide §3.1, the q90 fix): the
    // label-join-inflated estimate otherwise demotes this non-equi
    // join to CartesianProduct, shuffling the quantized corpus.
    val approx = broadcast(q)
      .join(v.select(col("vec_id"), col("label"), col("s"), col("q8")),
        col("vec_id") =!= col("query_id") && col("label") =!= col("q_label"))
      .withColumn("approx",
        dot(col("q_q8").cast("array<double>"), col("q8").cast("array<double>"))
          / (col("q_s") * col("s")))
    val shortlist = approx.groupBy(col("query_id"))
      .agg(graft.functions.AggExprs.topKMin(
        -col("approx"), col("vec_id"), AnnNegShortlist).as("tk"))
      .select(col("query_id"), explode(col("tk.id")).as("neighbor_id"))
    // stage 2: exact rerank of the bounded candidate set only. The
    // candidate table is ≤ NumQueries×AnnNegShortlist rows by the
    // aggregate's k-bound, so it broadcasts and the corpus side of
    // the rerank join never shuffles or sorts (the planner saw an
    // estimate-free aggregate output and picked SortMergeJoin, which
    // exchanged the whole corpus for a 1.5k-row probe side).
    val scored = broadcast(shortlist
      .join(broadcast(q.select(col("query_id"), col("q_emb"), col("q_nrm"))),
        Seq("query_id")))
      .join(vectors(spark, dir).select(col("vec_id"), col("emb"), col("nrm")),
        col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm"))).as("cos"))
    topK(scored, HardNegK)
  }

  /** q95's gate IS exactness: the quantized shortlist + rerank must
    * reproduce q90's brute-force answer. */
  val hardNegativesAnnSql: String = hardNegativesSql

  // ---------------------------------------------------------------- q111

  /** Product-quantization geometry: [[PqSub]] subspaces, each with a
    * [[PqCents]]-entry codebook seeded from the first PqCents corpus
    * vectors' subvectors (the deterministic-seed discipline of
    * [[IvfCells]]). 64-dim embeddings → 8×8-dim subvectors, 8 small
    * ints per vector instead of 512 bytes — the ~64× compression that
    * makes billion-vector indexes fit in memory (Jégou et al. 2011).
    * (8, 32, shortlist 100) measured recall@5 = 0.92 vs brute force
    * on the sf0.01 testdata — Gaussian embeddings are PQ's worst
    * case, so this is the floor, not the ceiling. */
  val PqSub = 8
  val PqCents = 32

  /** Subvector explode: (vec_id, s, xs) with xs = the s-th equal slice
    * of emb — slicing arithmetic mirrored exactly by the DuckDB oracle
    * (1-based, length dim/PqSub). */
  private def pqSubs(v: DataFrame): DataFrame =
    v.select(col("vec_id"), col("emb"),
        explode(sequence(lit(0), lit(PqSub - 1))).as("s"))
      .withColumn("_len", (size(col("emb")) / PqSub).cast("int"))
      .select(col("vec_id"), col("s"),
        slice(col("emb"), col("s") * col("_len") + 1, col("_len")).as("xs"))

  /** The (s, cent_id, cs) codebook table — 64 rows, always broadcast. */
  private def pqCodebook(v: DataFrame): DataFrame =
    pqSubs(v).filter(col("vec_id") < PqCents)
      .select(col("s").as("cb_s"), col("vec_id").cast("int").as("cent_id"),
        col("xs").as("cs"))

  /** The long-format code table (vec_id, s, code) — SESSION-CACHED and
    * shared by q111 (pivot) and q112 (ADC search): the production
    * shape writes the codes once and every search reads them. Per
    * subspace: one broadcast join against the 64-row codebook + the
    * q39 argmin aggregate — no corpus shuffle. */
  private[ext] def pqCodeTable(spark: SparkSession, dir: String): DataFrame =
    Dedup.cachedOn(spark, dir, "embeddings", "pqCodes") {
      val v = vectors(spark, dir)
      // the self-norms are constant per SIDE of the join — computing
      // them before the ×PqCents codebook fan-out does |sub| + |cb|
      // dot products instead of 3×|sub×cb| (round 18, guide §4: a
      // third of the fan-out's vector work was redundant). dist2 keeps
      // the exact expression shape ((xx + cc) − 2·xc), so every
      // comparison — and therefore the argmin under ties — is
      // bit-identical to the oracle's.
      // adaptive narrow-input fan-out (Tables.fanOut, applied to the
      // derived vectors df): the subvector slicing and the ×PqCents
      // dot-product fan-out below otherwise run fused on the single
      // embeddings scan task; keyed on vec_id so the argmin
      // aggregate's distribution is pre-satisfied
      val vWide = graft.Tables.fanOut(v,
        graft.Tables.scanParallelism(spark, dir, "embeddings"), col("vec_id"))
      val subs = pqSubs(vWide).withColumn("xx", dot(col("xs"), col("xs")))
      val cb = pqCodebook(v).withColumn("cc", dot(col("cs"), col("cs")))
      subs.join(broadcast(cb), col("s") === col("cb_s"))
        .withColumn("dist2",
          col("xx") + col("cc") - lit(2.0d) * dot(col("xs"), col("cs")))
        .groupBy(col("vec_id"), col("s"))
        .agg(min(struct(col("dist2"), col("cent_id"))).as("m"))
        .select(col("vec_id"), col("s"), col("m.cent_id").as("code"))
        .persist()
    }

  /** q111 — PQ ENCODING of the corpus: one int code per subspace per
    * vector (nearest codebook entry by squared L2, tie-break on
    * centroid id — q39's argmin per subspace). Fully deterministic ⇒
    * full DuckDB oracle; q112 searches over exactly these codes. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val pivot = (0 until PqSub).map(i =>
      max(when(col("s") === i, col("code"))).as(s"c$i"))
    pqCodeTable(spark, dir).groupBy(col("vec_id"))
      .agg(pivot.head, pivot.tail: _*)
      .orderBy(col("vec_id"))
  }

  private val pqSubsSql: String =
    s"""sub AS (
       |  SELECT vec_id, CAST(u.s AS INT) AS s,
       |    emb[u.s * (len(emb) // $PqSub) + 1 :
       |        (u.s + 1) * (len(emb) // $PqSub)] AS xs
       |  FROM v, unnest(range($PqSub)) AS u(s)),
       |cb AS (SELECT s, CAST(vec_id AS INT) AS cent_id, xs AS cs
       |       FROM sub WHERE vec_id < $PqCents),
       |d AS (
       |  SELECT sub.vec_id, sub.s, cb.cent_id,
       |    row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |      ORDER BY list_dot_product(sub.xs, sub.xs)
       |        + list_dot_product(cb.cs, cb.cs)
       |        - 2.0 * list_dot_product(sub.xs, cb.cs), cb.cent_id) AS rn
       |  FROM sub JOIN cb USING (s)),
       |codes AS (SELECT vec_id, s, cent_id AS code FROM d WHERE rn = 1)"""
      .stripMargin

  val pqCodesSql: String = {
    val cols = (0 until PqSub).map(i =>
      s"CAST(max(CASE WHEN s = $i THEN code END) AS INT) AS c$i").mkString(",\n  ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |$pqSubsSql
       |SELECT vec_id,
       |  $cols
       |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q112

  /** ADC shortlist width: 100 estimated-nearest per query (2% of the
    * sf0.1 corpus) go to the exact rerank that keeps [[K]]. */
  val AdcShortlist = 100

  /** q112 — ADC (asymmetric distance computation) SEARCH over the PQ
    * codes: per query, a [[PqSub]]×[[PqCents]] (8×32) lookup table of
    * subspace distances to every codebook entry; a corpus vector's
    * estimated distance is the SUM OF 8 TABLE LOOKUPS selected by its
    * stored codes — never a touch of the raw corpus vectors until the
    * exact rerank of the [[AdcShortlist]] survivors. The estimate
    * sums in FIXED subspace order (pd0+…+pd7 as an expression, not a
    * float aggregate), so both engines produce bit-identical
    * estimates and the oracle recomputes the whole pipeline.
    * SimilaritySpec measures recall against brute-force q37.
    *
    * Scale: the scored stream is code rows ⋈ broadcast LUT — the
    * corpus moves as [[PqSub]] ints per vector (the entire point of
    * PQ); shortlisting is the k-bounded aggregate (≤ [[AdcShortlist]]
    * rows per partition per query before the exchange); only
    * ≤ AdcShortlist×queries vectors are ever re-read at full width. */
  def knnPq(spark: SparkSession, dir: String): DataFrame =
    knnPqWith(spark, dir, AdcShortlist)

  /** [[knnPq]] with an explicit shortlist width — the spec seam:
    * a shortlist covering the whole corpus makes ADC+rerank EXACTLY
    * brute force (SimilaritySpec asserts that identity), and a tight
    * one measures the approximation's recall. */
  private[graft] def knnPqWith(spark: SparkSession, dir: String,
                               shortlistK: Int): DataFrame = {
    val v = vectors(spark, dir)
    val lut = pqSubs(v.filter(col("vec_id") < NumQueries))
      .select(col("vec_id").as("query_id"), col("s").as("q_s"),
        col("xs").as("qs"))
      .join(broadcast(pqCodebook(v)), col("q_s") === col("cb_s"))
      .select(col("query_id"), col("q_s").as("s"), col("cent_id"),
        (dot(col("qs"), col("qs")) + dot(col("cs"), col("cs"))
          - lit(2.0d) * dot(col("qs"), col("cs"))).as("pd"))
    val joined = pqCodeTable(spark, dir).as("c")
      .join(broadcast(lut.as("l")),
        col("c.s") === col("l.s") && col("c.code") === col("l.cent_id"))
      .filter(col("c.vec_id") =!= col("l.query_id"))
      .select(col("l.query_id").as("query_id"), col("c.vec_id").as("vec_id"),
        col("c.s").as("s"), col("l.pd").as("pd"))
    val pivot = (0 until PqSub).map(i =>
      max(when(col("s") === i, col("pd"))).as(s"pd$i"))
    val est = joined.groupBy(col("query_id"), col("vec_id"))
      .agg(pivot.head, pivot.tail: _*)
      .withColumn("est", (1 until PqSub)
        .foldLeft(col("pd0"))((acc, i) => acc + col(s"pd$i")))
    val shortlist = est.groupBy(col("query_id"))
      .agg(graft.functions.AggExprs.topKMin(
        col("est"), col("vec_id"), shortlistK).as("tk"))
      .select(col("query_id"), explode(col("tk.id")).as("neighbor_id"))
    val qv = v.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = shortlist.join(qv, Seq("query_id"))
      .join(v.select(col("vec_id"), col("emb"), col("nrm")),
        col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm"))).as("cos"))
    topK(scored)
  }

  val knnPqSql: String = {
    val estSum = (0 until PqSub).map(i =>
      s"max(CASE WHEN c.s = $i THEN l.pd END)").mkString("\n    + ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                          CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |$pqSubsSql,
       |lut AS (
       |  SELECT qs.vec_id AS query_id, qs.s, cb.cent_id,
       |    list_dot_product(qs.xs, qs.xs) + list_dot_product(cb.cs, cb.cs)
       |      - 2.0 * list_dot_product(qs.xs, cb.cs) AS pd
       |  FROM sub qs JOIN cb USING (s) WHERE qs.vec_id < $NumQueries),
       |est AS (
       |  SELECT l.query_id, c.vec_id,
       |    $estSum AS est
       |  FROM codes c JOIN lut l ON l.s = c.s AND l.cent_id = c.code
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY est, vec_id) AS srn FROM est)
       |  WHERE srn <= $AdcShortlist),
       |sc AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    list_dot_product(q.emb, n.emb) / (q.nrm * n.nrm) AS cos
       |  FROM short s JOIN v q ON q.vec_id = s.query_id
       |    JOIN v n ON n.vec_id = s.neighbor_id),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM sc)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       |  round(cos, 4) AS cos_sim
       |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }
}
