package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** CDC core — the Spark-native rebuild of the reference's Silver layer
  * (reference: spark/batch_silver.py): JSON envelope extraction (F1/F2),
  * latest-row-per-key window dedup (W1), soft-delete filtering (T6/P6),
  * and MERGE-upsert semantics (S5) emulated without Delta as
  * union → window-latest → rewrite (SURVEY §7.4 mitigation).
  *
  * Substrate: the `events` table plays the CDC log — `user_id` is the
  * primary key, `ts` the CDC timestamp, `event_type` the operation
  * ('error' plays the delete/tombstone op), `props` the JSON payload.
  *
  * Scale design: W1 is one hash exchange on the PK followed by an
  * in-partition sort — Spark's WindowExec never materializes a group in
  * memory beyond the frame. For a 100 TB log the right physical shape
  * is exactly this (shuffle once on the merge key); with bucketed lake
  * tables the exchange disappears entirely. Skewed keys (one hot
  * entity) are handled by AQE skew-split since rank-within-key still
  * only needs key-local order.
  */
object Cdc {

  /** Library combinator — keep the single latest row per key under an
    * explicit total order (reference: spark/batch_silver.py:107-112).
    * One hash exchange on `keys` + in-partition sort; no state beyond
    * the running rank. */
  def latestPerKey(df: DataFrame, keys: Seq[String],
      order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Events with the window rank attached: row_number() over
    * (PARTITION BY user_id ORDER BY ts DESC, event_id DESC).
    * Tie-break on the unique event_id pins determinism (SURVEY §7.4:
    * reference's arbitrary-first is nondeterministic; we pin). */
  private def ranked(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events.withColumn("_rn", row_number().over(w))
  }

  /** Epoch microseconds of ts — the oracle-safe way to surface event
    * timestamps (events.parquet is nanos; Spark truncates to micros,
    * so raw timestamp output would hash-mismatch DuckDB's nanos). */
  private def epochUs(c: Column): Column = unix_micros(c)

  /** W1 + P7: latest event per user (reference: spark/batch_silver.py:107-112). */
  def latestEventPerUser(spark: SparkSession, dir: String): DataFrame =
    ranked(Tables.load(spark, dir, "events"))
      .filter(col("_rn") === 1)
      .select(col("user_id"), col("event_type"), col("value"),
        epochUs(col("ts")).as("ts_us"), col("event_id"))
      .orderBy(col("user_id"))

  val latestEventPerUserSql: String =
    """SELECT user_id, event_type, value,
      |  date_diff('microsecond', TIMESTAMP '1970-01-01', ts) AS ts_us,
      |  event_id
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY date_diff('microsecond', TIMESTAMP '1970-01-01', ts) DESC,
      |                 event_id DESC) AS rn
      |      FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** W2: first event per user, ascending (reference:
    * spark/load_warehouse.py:286-289 first-item-per-order). */
  def firstEventPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.load(spark, dir, "events")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("user_id"), col("event_type"), col("value"),
        epochUs(col("ts")).as("ts_us"), col("event_id"))
      .orderBy(col("user_id"))
  }

  val firstEventPerUserSql: String =
    """SELECT user_id, event_type, value,
      |  date_diff('microsecond', TIMESTAMP '1970-01-01', ts) AS ts_us,
      |  event_id
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY date_diff('microsecond', TIMESTAMP '1970-01-01', ts) ASC,
      |                 event_id ASC) AS rn
      |      FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** A7: projection-level distinct (reference: spark/load_warehouse.py:115). */
  def distinctDims(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  val distinctDimsSql: String =
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** The compaction core shared by the direct-log and bronze-sourced
    * silver builders: parse the JSON payload, keep the latest row per
    * key, drop soft-deleted rows, type the extracted column. Input
    * needs columns (user_id, event_type, value, event_id, ts, props). */
  private def compactState(events: DataFrame): DataFrame = {
    // single-path extraction (guide §4, as silverFromBronze): only
    // `k` is read from the payload — get_json_object streams to it
    // instead of materializing the whole map per row. Identical
    // values: a string-typed field comes back unescaped/unquoted and
    // a missing field null under both spellings (q12's oracle holds
    // the equality).
    val parsed = events
      .withColumn("k_value",
        get_json_object(col("props"), "$.k").cast("int"))
    ranked(parsed)
      .filter(col("_rn") === 1)
      .filter(col("event_type") =!= "error") // soft-delete (T6)
      .select(col("user_id"), col("event_type"), col("k_value"),
        col("value"), epochUs(col("ts")).as("ts_us"))
      .orderBy(col("user_id"))
  }

  /** F1 + F2 + W1 + T6: the full Silver compaction — parse the JSON
    * payload as Map(String,String) exactly like the reference parses
    * Debezium envelopes (spark/batch_silver.py:60-104), keep the latest
    * row per key, drop soft-deleted rows ('error' plays op='d'), type
    * the extracted column. */
  def silverCompaction(spark: SparkSession, dir: String): DataFrame =
    compactState(Tables.load(spark, dir, "events"))

  /** The same compaction fed from a BRONZE SINK instead of the raw
    * log — the layer-to-layer lineage the reference chains
    * (streaming_bronze → batch_silver reads the bronze Delta,
    * spark/batch_silver.py:33-44). The CDC columns are reconstructed
    * from the envelope: typed columns passed through the projection,
    * `ts` from `_event_ts`, and the original `props` JSON recovered
    * out of `_raw_value`. PipelineSpec proves the result is identical
    * to compacting the raw log directly (stream→bronze→silver ≡
    * batch). */
  def silverFromBronze(spark: SparkSession, bronzeDir: String): DataFrame = {
    val bronze = spark.read.parquet(bronzeDir)
    // single-path extraction (guide §4): only `props` is needed from
    // the envelope — get_json_object streams to that one field
    // instead of materializing EVERY envelope field into a map (the
    // old from_json(Map).getItem parsed all ~8 fields per row to
    // throw 7 away). For a string-valued field both spellings return
    // the identical unescaped text (and null when absent), so the
    // downstream compactState — and the q84 oracle — are unchanged.
    compactState(bronze.select(
      col("user_id"), col("event_type"), col("value"), col("event_id"),
      col("_event_ts").as("ts"),
      get_json_object(col("_raw_value"), "$.props").as("props")))
  }

  val silverCompactionSql: String =
    """SELECT user_id, event_type,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k_value,
      |  value,
      |  date_diff('microsecond', TIMESTAMP '1970-01-01', ts) AS ts_us
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY date_diff('microsecond', TIMESTAMP '1970-01-01', ts) DESC,
      |                 event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin

  /** S5 + J7: MERGE upsert emulated Delta-free. Target = state compacted
    * from the first half of the log; source = second half; MERGE with
    * whenMatchedUpdateAll/whenNotMatchedInsertAll ≡ latest-per-key over
    * target ∪ source (reference: spark/batch_silver.py:146-159; SURVEY
    * §7.4). The emulation is a full-table rewrite — same cost class as
    * Delta MERGE's file rewrite, one shuffle on the merge key. */
  /** q53 — point-in-time snapshots via a scalable AS-OF join: for each
    * (user, probe timestamp), the latest event at-or-before the probe
    * (the "state of every entity at time T" reconstruction a CDC lake
    * serves; beyond the reference's surface — SURVEY §2.3 lists as-of
    * among joins the reference lacks).
    *
    * Implementation is the distributed as-of shape: probes and events
    * UNION into one stream, one hash exchange on the key, one
    * in-partition sort by (time, side, id), and a running
    * `last(_, ignoreNulls)` carries the latest event forward into
    * each probe row. No range-join explosion, no per-probe scan —
    * cost is a single sort-shuffle of |events| + |probes| at any
    * scale. Ties: an event exactly AT the probe instant is visible
    * (side orders events first), and equal-timestamp events resolve
    * by max event_id — both pinned in the oracle via (ts DESC,
    * event_id DESC) rank. */
  def asofSnapshots(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_id"), col("event_type"), col("value"))
    val probes = events.select(col("user_id")).distinct()
      .select(col("user_id"), explode(expr(
        "sequence(timestamp'2024-01-05', timestamp'2024-01-25', " +
          "interval 5 days)")).as("snap_ts"))
      .select(col("user_id"), unix_micros(col("snap_ts")).as("t_us"))
    val tagged = events.withColumn("side", lit(0))
      .unionByName(probes
        .withColumn("event_id", lit(null).cast("long"))
        .withColumn("event_type", lit(null).cast("string"))
        .withColumn("value", lit(null).cast("double"))
        .withColumn("side", lit(1)))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("side"), coalesce(col("event_id"), lit(-1L)))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // carry the WHOLE event as one struct through a single
    // last(ignoreNulls): per-column lasts would stitch fields from
    // different events whenever the latest event holds a null column
    val ev = when(col("side") === 0,
      struct(col("t_us").as("ts_us"), col("event_id"),
        col("event_type"), col("value")))
    tagged
      .withColumn("le", last(ev, ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("user_id"), col("t_us").as("snap_us"),
        col("le.event_id").as("event_id"),
        col("le.event_type").as("event_type"),
        col("le.value").as("value"), col("le.ts_us").as("ts_us"))
      .orderBy(col("user_id"), col("snap_us"))
  }

  val asofSnapshotsSql: String =
    """WITH probes AS (
      |  SELECT DISTINCT user_id, unnest(generate_series(
      |    TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25',
      |    INTERVAL 5 DAY)) AS snap_ts
      |  FROM events),
      |j AS (
      |  SELECT p.user_id,
      |    date_diff('microsecond', TIMESTAMP '1970-01-01', p.snap_ts)
      |      AS snap_us,
      |    e.event_id, e.event_type, e.value,
      |    date_diff('microsecond', TIMESTAMP '1970-01-01', e.ts) AS ts_us,
      |    row_number() OVER (PARTITION BY p.user_id, p.snap_ts
      |      ORDER BY e.ts DESC, e.event_id DESC) AS rn
      |  FROM probes p LEFT JOIN events e
      |    ON e.user_id = p.user_id AND e.ts <= p.snap_ts)
      |SELECT user_id, snap_us, event_id, event_type, value, ts_us
      |FROM j WHERE rn = 1 ORDER BY user_id, snap_us""".stripMargin

  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val cut = 5000L // event_id is dense 0..N; split the log in two
    val target = ranked(events.filter(col("event_id") < cut))
      .filter(col("_rn") === 1).drop("_rn")
    val source = events.filter(col("event_id") >= cut)
    ranked(target.unionByName(source))
      .filter(col("_rn") === 1)
      .select(col("user_id"), col("event_type"), col("value"),
        epochUs(col("ts")).as("ts_us"), col("event_id"))
      .orderBy(col("user_id"))
  }

  val mergeUpsertSql: String =
    """WITH target AS (
      |  SELECT user_id, event_type, value, ts, event_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY date_diff('microsecond', TIMESTAMP '1970-01-01', ts) DESC,
      |               event_id DESC) AS rn
      |    FROM events WHERE event_id < 5000) WHERE rn = 1),
      |source AS (
      |  SELECT user_id, event_type, value, ts, event_id
      |  FROM events WHERE event_id >= 5000),
      |unioned AS (SELECT * FROM target UNION ALL SELECT * FROM source)
      |SELECT user_id, event_type, value,
      |  date_diff('microsecond', TIMESTAMP '1970-01-01', ts) AS ts_us,
      |  event_id
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY date_diff('microsecond', TIMESTAMP '1970-01-01', ts) DESC,
      |                 event_id DESC) AS rn
      |      FROM unioned) WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q106

  /** The q106 snapshot boundary — state as of mid-stream vs state over
    * the full log (the testdata events span 2024-01). */
  val CdfCutoff = "2024-01-16 00:00:00"

  /** q106 — CHANGE DATA FEED between two table versions, gated
    * end-to-end: commit the per-user latest state at [[CdfCutoff]] as
    * version 0 and the full-log state as version 1 of a
    * [[graft.sources.DeltaLog]] table (two overwrite commits), then
    * ask [[changesBetween]] what changed — Delta CDF's
    * `table_changes(...)` re-expressed as a diff of the two versions'
    * full states. Soft-deleted users (latest op = 'error', the
    * tombstone convention of this CDC substrate) are absent from a
    * state version, so users tombstoned between the versions surface
    * as `delete` rows, new users as `insert`, changed states as
    * `update_postimage` — all three paths live in the gate (sf0.01:
    * 22/23/98).
    *
    * Scale: each state build is the W1 window (one exchange on the
    * key); the diff itself is [[changesBetween]]'s single null-safe
    * full-outer join on the key — the same cost class as the MERGE
    * that would produce v1, with no log replay. Fresh temp table per
    * call (always cold, the q84/q101/q104 class). */
  def changeDataFeed(spark: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory("graft_q106").toString
    try {
      val table = s"$work/user_state"
      val e = Tables.load(spark, dir, "events")
      def state(src: DataFrame): DataFrame =
        latestPerKey(src, Seq("user_id"),
          Seq(col("ts").desc, col("event_id").desc))
          .filter(col("event_type") =!= "error") // tombstoned ⇒ absent
          .select("user_id", "event_id", "event_type", "value")
      graft.sources.DeltaLog.commitOverwrite(
        state(e.filter(col("ts") < lit(CdfCutoff).cast("timestamp"))), table)
      graft.sources.DeltaLog.commitOverwrite(state(e), table)
      changesBetween(spark, table, 0, 1, Seq("user_id"))
        .orderBy(col("user_id"))
        .localCheckpoint() // pin rows before the temp table is deleted
    } finally graft.util.Fs.deleteRecursively(new java.io.File(work))
  }

  /** What changed on `keys` from version `fromV` to `toV` of a Delta
    * table, diffing the two versions' full states: one full-outer
    * join on the key. Emits one row per changed key with
    * `_change_type` ∈ {insert, update_postimage, delete};
    * insert/update carry the post-image columns, delete the
    * pre-image. Unchanged keys emit nothing (compared as null-safe
    * structs over every non-key column).
    *
    * Scale: the join shuffles both versions on the key once —
    * identical cost to the MERGE that produced the newer version;
    * the log's per-commit feed (`DeltaLog.changesSince`) reads only
    * the files the commits in between added or removed instead. */
  private[graft] def changesBetween(spark: SparkSession, tableDir: String,
      fromV: Long, toV: Long, keys: Seq[String]): DataFrame = {
    val pre = graft.sources.DeltaLog.readVersion(spark, tableDir, fromV)
    val post = graft.sources.DeltaLog.readVersion(spark, tableDir, toV)
    val nonKey = post.columns.toSeq.filterNot(keys.contains)
    // SCHEMA EVOLUTION: the change feed is served in the TO version's
    // schema (Delta CDF's contract); a column added between the two
    // versions reads as a typed null on the pre side, so "value
    // appeared" surfaces as update_postimage, and delete pre-images
    // carry null for columns the deleted row never had.
    def padded(df: DataFrame, c: String) =
      if (df.columns.contains(c)) col(c)
      else lit(null).cast(post.schema(c).dataType).as(c)
    val a = pre.select(
      keys.map(col) :+ struct(nonKey.map(padded(pre, _)): _*).as("_pre"): _*)
    val b = post.select(
      keys.map(col) :+ struct(nonKey.map(col): _*).as("_post"): _*)
    a.join(b, keys, "full_outer")
      .withColumn("_change_type",
        when(col("_pre").isNull, "insert")
          .when(col("_post").isNull, "delete")
          .when(not(col("_pre") <=> col("_post")), "update_postimage"))
      .filter(col("_change_type").isNotNull)
      .select(keys.map(col) ++ nonKey.map(c =>
        when(col("_change_type") === "delete", col(s"_pre.$c"))
          .otherwise(col(s"_post.$c")).as(c)) :+ col("_change_type"): _*)
  }

  val changeDataFeedSql: String =
    s"""WITH s0 AS (
       |  SELECT user_id, event_id, event_type, value FROM (
       |    SELECT user_id, event_id, event_type, value,
       |      row_number() OVER (PARTITION BY user_id
       |        ORDER BY date_diff('microsecond', TIMESTAMP '1970-01-01', ts)
       |          DESC, event_id DESC) AS rn
       |    FROM events WHERE ts < TIMESTAMP '$CdfCutoff')
       |  WHERE rn = 1 AND event_type <> 'error'),
       |s1 AS (
       |  SELECT user_id, event_id, event_type, value FROM (
       |    SELECT user_id, event_id, event_type, value,
       |      row_number() OVER (PARTITION BY user_id
       |        ORDER BY date_diff('microsecond', TIMESTAMP '1970-01-01', ts)
       |          DESC, event_id DESC) AS rn
       |    FROM events)
       |  WHERE rn = 1 AND event_type <> 'error')
       |SELECT coalesce(s1.user_id, s0.user_id) AS user_id,
       |  CASE WHEN s1.user_id IS NULL THEN s0.event_id ELSE s1.event_id END
       |    AS event_id,
       |  CASE WHEN s1.user_id IS NULL THEN s0.event_type ELSE s1.event_type END
       |    AS event_type,
       |  CASE WHEN s1.user_id IS NULL THEN s0.value ELSE s1.value END
       |    AS value,
       |  CASE WHEN s0.user_id IS NULL THEN 'insert'
       |       WHEN s1.user_id IS NULL THEN 'delete'
       |       WHEN NOT (s0.event_id IS NOT DISTINCT FROM s1.event_id
       |             AND s0.event_type IS NOT DISTINCT FROM s1.event_type
       |             AND s0.value IS NOT DISTINCT FROM s1.value)
       |         THEN 'update_postimage' END AS _change_type
       |FROM s0 FULL OUTER JOIN s1 ON s0.user_id = s1.user_id
       |WHERE _change_type IS NOT NULL
       |ORDER BY user_id""".stripMargin

}
