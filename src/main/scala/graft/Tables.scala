package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Parquet table registry over the driver's TPC-H-ish testdata
  * (repo:TESTDATA.md). Plays the role of the reference's per-table
  * path registry (reference: spark/batch_silver.py:20-37 TABLES list,
  * spark/batch_gold.py:27-40 silver paths).
  *
  * Scale note: every load is a plain parquet scan, so Catalyst's
  * file-source pushdown (filters, column pruning, partition pruning)
  * applies unchanged whether the path is a 6 MB local file or a
  * 100 TB partitioned S3 prefix.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Per-(session, dir, table) RELATION cache — the role a table
    * catalog plays in a real deployment: `spark.read.parquet` lists
    * the directory and reads parquet footers for schema inference on
    * EVERY call (~65 ms/table measured warm at sf0.1), and the gated
    * queries re-resolve the same immutable testdata tables thousands
    * of times per bench run (round-17 slice probe: 0.65–0.95 s of
    * pure driver-side re-resolution per OLAP query run — half its
    * warm wall time). The cached value is the analyzed LogicalRelation
    * handle only: schema + file listing, NO row data — every action
    * still scans parquet, so nothing here caches or precomputes
    * results. Keyed on the session object (a new session re-resolves)
    * and the exact dir string (tests over other dirs never collide).
    * The testdata dirs are immutable by contract; for mutable tables
    * the open-format connectors (DeltaLog/Iceberg) own snapshot-scoped
    * resolution and never route through here. */
  private val relationCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Must be on before schema inference of the ns-timestamp events table;
    // harmless for the ms/us tables. Runtime-settable SQL conf.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // collect_list/collect_set aggregates run on ObjectHashAggregateExec,
    // whose default in-memory-hash-map limit (128 distinct keys per task)
    // forces an external sort-based fallback on any real group count —
    // the shingle-group stage behind q33/q34/q50/q58 measured ~2-3x
    // slower under it. 64k keys/task is still bounded memory (the
    // per-group buffers, not the map, dominate) at any scale factor.
    spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
    relationCache.computeIfAbsent((spark, sfDir, name), _ => {
      val df = spark.read.parquet(path(sfDir, name))
      // events.parquet stores TIMESTAMP(NANOS) which Spark's parquet
      // reader rejects; read the raw int64 (legacy conf above) and
      // normalize to TimestampType (microsecond) here so every
      // downstream operator sees an ordinary timestamp column.
      if (name == "events") normalizeEventTs(df) else df
    })
  }

  /** Normalize the events table's `ts` to the instant type
    * (TimestampType) whatever physical spelling the generated parquet
    * carries this round:
    *  - TIMESTAMP(NANOS) → raw int64 under the legacy conf → truncate
    *    to micros (Spark has no nanos type);
    *  - tz-less TIMESTAMP(MICROS) → TIMESTAMP_NTZ under Spark 4's NTZ
    *    inference → cast; session tz is pinned UTC, so the micros are
    *    unchanged — the same values DuckDB's naive-timestamp oracle
    *    computes;
    *  - already an instant → untouched.
    * Every downstream operator (unix_micros, watermarks, windows) then
    * sees one ordinary timestamp column. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Planned SCAN parallelism of a table — the number of tasks a bare
    * read of it yields (file splits; a single-row-group parquet file
    * is one unsplittable task however many cores the session has).
    * Cached per (session, dir, table): planning the cached relation's
    * RDD costs ~10 ms once and the testdata is immutable. */
  private val scanPartsCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, String), Integer]()

  def scanParallelism(spark: SparkSession, sfDir: String,
                      name: String): Int =
    scanPartsCache.computeIfAbsent((spark, sfDir, name),
      _ => load(spark, sfDir, name).rdd.getNumPartitions).intValue()

  /** [[load]] with an ADAPTIVE fan-out for NARROW inputs (guide §2.5,
    * input skew — the batch twin of Bronze.fanOut): [[fanOut]] of the
    * plain scan, keyed on `keys` so a following groupBy on (a superset
    * of) them needs no second exchange.
    *
    * APPLY ONLY where the downstream per-row work dominates the
    * rebalance — explode + per-shingle/token hashing builders, vector
    * slicing/dot fan-outs. Round-18 measurement: on plain aggregates
    * and inside the already-concurrent q84 pipeline this HURT
    * (q84 8.2→13.3 s, q15 0.19→0.38 s — extra exchange + 32-task
    * stage overhead with no idle cores to soak up), so those sites
    * deliberately do NOT use it; [[Layout.Sink]] names the pipeline
    * scans re-measured positive since. */
  def loadFanned(spark: SparkSession, sfDir: String, name: String,
                 keys: Column*): DataFrame =
    fanOut(load(spark, sfDir, name), scanParallelism(spark, sfDir, name),
      keys: _*)

  /** The narrow-input rule over any frame `df` derived from a scan that
    * plans `scanParts` tasks: when that is well below the session's
    * cores, every fused map-side operator rides a few threads (the
    * testdata's single-row-group files plan as exactly one task), so
    * the rows move once into `defaultParallelism` partitions, hashed
    * on `keys` (round-robin when none are given).
    *
    * Scale-honest by construction: the decision reads the PLANNED
    * split count, so a production table whose scan already yields ≥
    * cores/2 tasks passes through untouched — no plan change. Only
    * pathological layouts (few huge unsplittable files) pay the one
    * rebalance, the standard remedy for them. */
  def fanOut(df: DataFrame, scanParts: Int, keys: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (scanParts >= math.max(1, target / 2)) df
    else df.repartition(target, keys: _*)
  }

  /** Register every testdata table as a session temp view, so the
    * engine's relational surface is reachable from plain `spark.sql`
    * text exactly like the native functions GraftExtensions injects —
    * the catalog face of the engine (SqlSurfaceSpec proves §2 gates
    * expressed as SQL text match their DataFrame spellings).
    *
    * Idempotent per (session, dir): once the ten views point at
    * `sfDir` they stay valid for the session (testdata is immutable,
    * nothing else names these views — grep-checked round 17), so
    * repeat calls skip the ~0.1 s re-registration. A call with a
    * DIFFERENT dir re-registers, so multi-SF test suites keep their
    * semantics. */
  private val viewsRegistered =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  def registerViews(spark: SparkSession, sfDir: String): Unit =
    if (viewsRegistered.put(spark, sfDir) != sfDir)
      names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}

/** Where a gold/MV builder's frame goes, and so what shape it takes.
  * Each of the twelve medallion tables (the four gold tables, the
  * fact, the four MV rollups, the three dimensions) has ONE builder
  * taking a layout (the dimensions only present — their scans never
  * fan):
  *
  *  - [[Layout.Declared]] — the gated query: plain scans and the
  *    presentation sort the oracle compares against.
  *  - [[Layout.Sink]] — the q84 pipeline's table write. A table sink
  *    needs no total order (readers re-sort; q84's gate re-sorts the
  *    read-back), and each sink-side orderBy was a full range exchange
  *    + sort the commit threw away (guide §2.4; for the fact, a global
  *    sort feeding the pipeline's repartitionByRange is an extra
  *    shuffle the optimizer cannot remove across its persist). The one
  *    scan a table routes through [[scan]] is key-fanned
  *    ([[Tables.loadFanned]]): on the testdata's one-row-group files a
  *    wide expand/partial aggregate or broadcast probe otherwise rides
  *    ONE scan task, which under q84's branch concurrency gets a
  *    fraction of the execution-memory pool and spills (mv_daily
  *    measured ~264 MB, 23× its standalone CPU, round 18). Fan-out
  *    pays only under the pipeline's FAIR pools (a round-17 blanket
  *    retest under FIFO scheduling was negative), and the four tables
  *    whose pipeline write measured worse fanned keep [[Tables.load]].
  *
  * Both layouts build the same rows: same operators over the same
  * input, and the exact count/distinct/decimal aggregates are
  * partition-order-insensitive. */
sealed abstract class Layout(sink: Boolean) {
  /** The builder's fan-out candidate scan of table `name`. */
  def scan(spark: SparkSession, dir: String, name: String,
           keys: Column*): DataFrame =
    if (sink) Tables.loadFanned(spark, dir, name, keys: _*)
    else Tables.load(spark, dir, name)

  /** The finished frame, ordered by `cols` when presented. */
  def present(df: DataFrame, cols: Column*): DataFrame =
    if (sink) df else df.orderBy(cols: _*)
}

object Layout {
  case object Declared extends Layout(sink = false)
  case object Sink extends Layout(sink = true)
}
