package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming executions of the [[Sessions]] analytics — watermarked
  * windowed aggregation and custom session state via
  * `flatMapGroupsWithState` — held to the batch definitions by
  * StatefulStreamsSpec (same batch-equivalence discipline as q43).
  *
  * Scale notes: the windowed aggregate's state is one row per open
  * (window × type) — bounded by the watermark horizon; sessionization
  * state is one [[SessState]] per active user, and each micro-batch
  * buffers only that batch's events per user before folding them into
  * state (not the full history).
  */
object StatefulStreams {

  case class SessEvent(user_id: Long, event_id: Long, ts_us: Long)
  case class SessState(sessionNo: Long, startUs: Long, endUs: Long, n: Long)
  case class SessOut(user_id: Long, session_no: Long, n_events: Long,
                     start_us: Long, end_us: Long)

  private def rawEvents(spark: SparkSession, srcDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(srcDir).schema
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(srcDir))
  }

  /** q44's aggregation under readStream + watermark, complete mode:
    * every micro-batch re-emits the full (small: windows × types)
    * result, so the last emission IS the final answer. */
  def windowedCountsStream(spark: SparkSession, srcDir: String,
                           ckptDir: String)(sink: DataFrame => Unit): Unit = {
    val agg = rawEvents(spark, srcDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.util.Cols.dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))
    val q = agg.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (df: DataFrame, _: Long) => sink(df) }
      .start()
    q.awaitTermination()
  }

  /** Streaming exactly-once dedup — the streaming counterpart of the
    * W1 batch dedup that resolves the bronze sink's at-least-once
    * delivery (SURVEY T3): `withWatermark + dropDuplicates(keys)`
    * keeps first-seen per key, holding state only until the watermark
    * passes the event time (bounded state at 100 TB/day; the batch W1
    * remains the backstop for later-than-watermark replays, exactly
    * the reference's layered design). */
  def dedupStream(spark: SparkSession, srcDir: String,
                  ckptDir: String)(sink: DataFrame => Unit): Unit = {
    // dropDuplicatesWithinWatermark, NOT dropDuplicates(id): with the
    // event-time column absent from the keys, plain dropDuplicates
    // never evicts its state (unbounded growth) and silently drops
    // rows older than the watermark; the WithinWatermark variant
    // bounds state AND keeps late first-arrivals
    val deduped = rawEvents(spark, srcDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (df: DataFrame, _: Long) => sink(df) }
      .start()
    q.awaitTermination()
  }

  /** Gap sessionization with custom state: one [[SessState]] per user,
    * carried across micro-batches (and across restarts, via the
    * checkpointed state store). Emits every session touched in the
    * batch — closed sessions finally, the open one provisionally, so
    * downstream keeps the last emission per (user, session_no),
    * exactly the CDC latest-per-key pattern (W1). */
  def sessionizeStream(spark: SparkSession, srcDir: String,
                       ckptDir: String)(sink: DataFrame => Unit): Unit = {
    import spark.implicits._
    val events = rawEvents(spark, srcDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .as[SessEvent]

    val update: (Long, Iterator[SessEvent], GroupState[SessState]) =>
        Iterator[SessOut] = { (userId, batch, state) =>
      // fold THIS batch's events (sorted — arrival within a batch is
      // unordered) into the running session state
      val sorted = batch.toVector.sortBy(e => (e.ts_us, e.event_id))
      if (sorted.isEmpty) Iterator.empty
      else {
        var st = state.getOption.getOrElse(SessState(0L, 0L, Long.MinValue, 0L))
        val out = Vector.newBuilder[SessOut]
        sorted.foreach { e =>
          if (st.n == 0L || e.ts_us - st.endUs >= Sessions.SessionGapUs) {
            if (st.n > 0L) // close previous session
              out += SessOut(userId, st.sessionNo, st.n, st.startUs, st.endUs)
            st = SessState(st.sessionNo + 1, e.ts_us, e.ts_us, 1L)
          } else {
            // max, not assignment: a cross-batch out-of-order event
            // must not move the session end backward (a later event
            // within the true gap would then wrongly open a session)
            st = st.copy(endUs = math.max(st.endUs, e.ts_us), n = st.n + 1)
          }
        }
        // provisional emission of the (still open) current session
        out += SessOut(userId, st.sessionNo, st.n, st.startUs, st.endUs)
        state.update(st)
        out.result().iterator
      }
    }

    val sessions = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(update)

    val q = sessions.toDF().writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (df: DataFrame, _: Long) => sink(df) }
      .start()
    q.awaitTermination()
  }

  /** q76's session_window aggregation under readStream + watermark —
    * the claim that the native operator runs unchanged in streaming,
    * executed. Session windows support APPEND mode only: a session
    * row emits once — FINAL — when the watermark passes its end, so
    * sessions inside the last watermark horizon stay in state until
    * later data advances the clock (the spec stages a far-future
    * sentinel event to flush them, which is exactly how a production
    * stream's own traffic closes old sessions). */
  def sessionWindowsStream(spark: SparkSession, srcDir: String,
                           ckptDir: String)(sink: DataFrame => Unit): Unit = {
    val agg = rawEvents(spark, srcDir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        graft.util.Cols.dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"), col("sum_value"))
    val q = agg.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (df: DataFrame, _: Long) => sink(df) }
      .start()
    q.awaitTermination()
  }

  /** q123 — STREAMING incremental MV maintenance: the literal
    * streaming spelling of q71's state⊕delta merge (SURVEY §2.4's
    * SummingMergeTree semantics; reference
    * clickhouse_init/04_materialized_views.sql keeps its MVs current
    * on INSERT exactly this way). Orders arrive as a file stream
    * (maxFilesPerTrigger=1 forces ≥2 real micro-batches); the
    * monthly-revenue aggregate runs under `outputMode(Update)`, so
    * each trigger emits ONLY the months that batch touched, carrying
    * the RUNNING totals from the streaming state store — count and
    * exact-decimal sum are the same commutative monoids q71's batch
    * merge relies on. The sink keeps every emission under a
    * `batch=<id>` subdir (overwrite — replay-idempotent like q101)
    * and the MV read is latest-emission-per-month: the
    * ReplacingMergeTree read over an update-mode log.
    *
    * The gate's oracle is q71's own SQL — the FULL recompute — so the
    * gate proves stream-maintained ≡ recomputed, the same
    * merge≡recompute contract, now through the state store and
    * micro-batch boundaries. Scale: state is one row per open month
    * (bounded; a production stream adds a watermark on the order
    * timestamp to age out closed months), each emission is a few
    * rows, and no trigger ever re-scans history.
    *
    * Always cold (fresh staging + checkpoint per call, the q84/q101
    * class; Bench keeps its first measurement). */
  def streamingMvMonthly(spark: SparkSession, dir: String): DataFrame = {
    // staging split (round-7 verdict #4, the q104 discipline): the
    // landing zone + sink seed are session-cached; the measured body
    // is the state-store stream itself (fresh checkpoint per call)
    val stage = Staging.staged(spark, "q123",
        graft.Tables.path(new java.io.File(dir).getCanonicalPath,
          "orders")) { d =>
      stageMvInto(spark, dir, s"$d/orders_in", s"$d/seed")
    }
    val work = java.nio.file.Files.createTempDirectory("graft_q123").toString
    try runMvStream(spark, s"$stage/orders_in", s"$stage/seed", work)
    finally graft.util.Fs.deleteRecursively(new java.io.File(work))
  }

  private def stageMvInto(spark: SparkSession, dir: String,
                          srcDir: String, seedDir: String): Unit = {
    graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderdate"), col("o_totalprice"))
      .repartition(2)
      .write.parquet(srcDir)
    // seed with the emission schema so an all-empty source still
    // reads back as an empty MV, not a missing-path error
    monthlyAgg(spark.read.parquet(srcDir)).limit(0)
      .write.parquet(seedDir)
  }

  private def monthlyAgg(df: DataFrame): DataFrame =
    df.withColumn("order_month",
        date_format(col("o_orderdate"), "yyyy-MM"))
      .groupBy(col("order_month"))
      .agg(count(lit(1)).as("n_orders"),
        graft.util.Cols.decSum(col("o_totalprice")).as("rev_dec"))

  /** [[streamingMvMonthly]] over a CALLER-OWNED work dir, so the spec
    * can inspect the per-batch emission log (which months each
    * trigger re-emitted, with which running totals) after the run. */
  private[graft] def streamingMvMonthlyIn(spark: SparkSession, dir: String,
                                          work: String): DataFrame = {
    stageMvInto(spark, dir, s"$work/orders_in", s"$work/mv/batch=-1")
    runMvStream(spark, s"$work/orders_in", s"$work/mv/batch=-1", work)
  }

  /** The stream core over explicit staging (seed linked into the
    * fresh sink — no Spark job; checkpoint + sink under `work`). */
  private def runMvStream(spark: SparkSession, srcDir: String,
                          seedDir: String, work: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tuning.withStatePartitions(spark) {
      // state-sized shuffle partitioning (Tuning): the running state
      // is one row per open month (≤ ~85 keys), so inheriting the
      // session's core-count partitioning paid a per-trigger state-
      // store round per partition to hold a handful of rows each
      val sinkDir = s"$work/mv"
      Staging.linkInto(seedDir, s"$sinkDir/batch=-1")
      val q = monthlyAgg(
          spark.readStream.schema(spark.read.parquet(srcDir).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(srcDir))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", s"$work/_checkpoint")
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          // one emission file per batch — a few KB of touched months
          df.coalesce(1).write.mode("overwrite")
            .parquet(s"$sinkDir/batch=$batchId")
        }
        .start()
      q.awaitTermination()
      val w = Window.partitionBy(col("order_month"))
        .orderBy(col("batch").desc)
      spark.read.parquet(sinkDir)
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("order_month"), col("n_orders"),
          col("rev_dec").cast("double").as("revenue"))
        .orderBy(col("order_month"))
        .localCheckpoint() // pin before the temp sink is deleted
    }
  }

  /** Stream-stream interval self-join: the q67 click→purchase
    * attribution join under two WATERMARKED streams over the same
    * staged source. Emits raw (user, click_us, buy_us) match rows in
    * append mode — the rollup happens downstream (spec) so the stream
    * stays single-stateful-operator and each emission is final.
    *
    * The interval bound `p_ts ∈ [c_ts, c_ts + window]` combined with
    * both watermarks is what bounds the join STATE: clicks older than
    * watermark − window and purchases older than watermark are
    * evicted — without the time bound a stream-stream join holds both
    * sides forever. */
  def clickAttributionStream(spark: SparkSession, srcDir: String,
                             ckptDir: String)(sink: DataFrame => Unit): Unit = {
    val ev = rawEvents(spark, srcDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(buys,
      expr("c_user = p_user AND p_ts >= c_ts AND " +
        "p_ts <= c_ts + interval 1 hour"))
      .select(col("c_user").as("user_id"),
        unix_micros(col("c_ts")).as("click_us"),
        unix_micros(col("p_ts")).as("buy_us"))
    val q = joined.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (df: DataFrame, _: Long) => sink(df) }
      .start()
    q.awaitTermination()
  }

  /** The LEFT OUTER spelling of [[clickAttributionStream]] — q144's
    * streaming twin. The semantics corner the inner join never hits:
    * a click's NULL row is emitted only once BOTH watermarks prove no
    * purchase can still arrive inside its window (click older than
    * watermark − window). State stays bounded exactly as in the inner
    * case; the spec advances the clock with a sentinel event so the
    * final horizon flushes the abandoned clicks, then holds the
    * rollup to the batch q144. */
  def clickAttributionOuterStream(spark: SparkSession, srcDir: String,
                                  ckptDir: String)
                                 (sink: DataFrame => Unit): Unit = {
    val ev = rawEvents(spark, srcDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(buys,
      expr("c_user = p_user AND p_ts >= c_ts AND " +
        "p_ts <= c_ts + interval 1 hour"), "left_outer")
      .select(col("c_user").as("user_id"),
        unix_micros(col("c_ts")).as("click_us"),
        unix_micros(col("p_ts")).as("buy_us")) // null on abandoned
    val q = joined.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (df: DataFrame, _: Long) => sink(df) }
      .start()
    q.awaitTermination()
  }
}
