package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.streaming.{Sessions, StatefulStreams}

/** Stream-vs-batch equivalence for the stateful operators, including
  * session state carried across separate runs through the checkpointed
  * state store. */
class StatefulStreamsSpec extends SparkSuite {

  private def stage(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
    val tmp = Files.createTempDirectory("stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get
    Files.createDirectories(java.nio.file.Paths.get(dest).getParent)
    Files.move(part.toPath, java.nio.file.Paths.get(dest))
  }

  // events with ts coerced to raw long nanos — the on-disk shape these
  // tests stage for the stream, whatever physical type the generated
  // parquet carries (TIMESTAMP(NANOS)→long under the legacy conf, or
  // tz-less micros→NTZ under Spark 4 inference; session tz is UTC so
  // the instants are identical either way)
  private def rawLongEvents() = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts",
        expr("unix_micros(cast(ts as timestamp)) * 1000"))
    }
  }

  test("watermarked windowed aggregation equals the batch window query") {
    val base = Files.createTempDirectory("winstream").toString
    stage(rawLongEvents(), s"$base/src/all.parquet")
    var last: Array[Row] = Array.empty
    StatefulStreams.windowedCountsStream(spark, s"$base/src", s"$base/ckpt") {
      df => last = df.collect()
    }
    val batch = Sessions.windowedCounts(spark, sfDir).collect()
    assert(last.nonEmpty)
    def key(r: Row) = (r.getLong(0), r.getString(1))
    val got = last.map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
    val want = batch.map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got == want)
  }

  test("windowed aggregation resumes from its checkpoint: a second run's file joins the state") {
    // the money-sum state (three longs per key) must survive a restart:
    // run 2 reads only the new file, so equality with the batch needs
    // run 1's (window, type) sums restored from the state store
    val base = Files.createTempDirectory("winrestart").toString
    val raw = rawLongEvents()
    val cut = raw.stat.approxQuantile("ts", Array(0.5), 0.0).head.toLong
    stage(raw.filter(col("ts") < cut), s"$base/src/a.parquet")
    var last: Array[Row] = Array.empty
    StatefulStreams.windowedCountsStream(spark, s"$base/src", s"$base/ckpt") {
      df => last = df.collect()
    }
    val first = last
    stage(raw.filter(col("ts") >= cut), s"$base/src/b.parquet")
    StatefulStreams.windowedCountsStream(spark, s"$base/src", s"$base/ckpt") {
      df => last = df.collect()
    }
    def key(r: Row) = (r.getLong(0), r.getString(1))
    def vals(rs: Array[Row]) =
      rs.map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
    val got = vals(last)
    assert(got == vals(Sessions.windowedCounts(spark, sfDir).collect()))
    // some key straddles the cut: its run-1 state was extended by run 2
    assert(vals(first).exists { case (k, (n, _)) => got(k)._1 > n },
      "no (window, type) key received rows in both runs")
  }

  test("streaming dropDuplicates removes at-least-once replays") {
    val base = Files.createTempDirectory("dedupstream").toString
    val raw = rawLongEvents().limit(400)
    // the same events delivered twice (two files) = at-least-once replay
    stage(raw, s"$base/src/a.parquet")
    stage(raw, s"$base/src/b.parquet")
    val rows = collection.mutable.ArrayBuffer.empty[Row]
    StatefulStreams.dedupStream(spark, s"$base/src", s"$base/ckpt") {
      df => rows ++= df.select("event_id").collect()
    }
    val ids = rows.map(_.getLong(0))
    assert(ids.size == ids.distinct.size, "duplicates survived the stream")
    assert(ids.distinct.size == 400)
  }

  test("native session_window stream equals the batch q76 result") {
    val base = Files.createTempDirectory("swstream").toString
    val raw = rawLongEvents()
    stage(raw, s"$base/src/all.parquet")
    val emitted = collection.mutable.ArrayBuffer.empty[Row]
    val sink = (df: org.apache.spark.sql.DataFrame) =>
      { emitted ++= df.collect(); () }
    graft.streaming.StatefulStreams.sessionWindowsStream(
      spark, s"$base/src", s"$base/ckpt")(sink)
    // append mode holds sessions inside the final watermark horizon;
    // a far-future sentinel event (fake user) advances the clock and
    // flushes them — the role later real traffic plays in production
    val maxTs = raw.agg(max(expr("ts"))).head.getLong(0)
    stage(raw.limit(1)
        .withColumn("ts", lit(maxTs + 365L * 86400 * 1000000000L))
        .withColumn("user_id", lit(-1L)),
      s"$base/src/sentinel.parquet")
    graft.streaming.StatefulStreams.sessionWindowsStream(
      spark, s"$base/src", s"$base/ckpt")(sink)
    def key(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))
    val got = emitted.map(key).filter(_._1 >= 0).toSet
    val want = Sessions.sessionWindows(spark, sfDir).collect().map(key).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("update-mode streaming MV equals the batch recompute (q123)") {
    // the q71 merge≡recompute contract through the REAL state store:
    // the stream must re-emit running totals per touched month, and
    // the latest-per-month collapse must equal both the batch
    // incremental merge and the plain full recompute
    val work = Files.createTempDirectory("q123spec").toString
    try {
      val viaStream = StatefulStreams.streamingMvMonthlyIn(spark, sfDir, work)
      val viaMerge = warehouse.Views.incrementalMvMonthly(spark, sfDir)
      assert(viaStream.count() > 0)
      assert(viaStream.exceptAll(viaMerge).isEmpty &&
        viaMerge.exceptAll(viaStream).isEmpty,
        "stream-maintained MV diverges from the batch merge/recompute")
      // the run was genuinely incremental: >1 micro-batches fired...
      val batches = new java.io.File(s"$work/mv").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.getName.stripPrefix("batch=").toInt).filter(_ >= 0).sorted
      assert(batches.length > 1,
        s"expected ≥2 micro-batches, saw ${batches.toSeq}")
      // ...and update-mode emissions carried RUNNING totals: any month
      // re-emitted in a later batch must grow (never shrink) its count
      val log = spark.read.parquet(s"$work/mv")
        .filter(col("batch") >= 0)
        .select("order_month", "batch", "n_orders").collect()
        .groupBy(_.getString(0))
      val reEmitted = log.filter(_._2.length > 1)
      assert(reEmitted.nonEmpty,
        "no month crossed micro-batches — the staging split is broken")
      reEmitted.foreach { case (m, rows) =>
        val byBatch = rows.sortBy(_.getInt(1)).map(_.getLong(2))
        assert(byBatch.zip(byBatch.tail).forall { case (a, b) => a < b },
          s"month $m re-emitted non-growing totals: ${byBatch.toSeq}")
      }
    } finally graft.util.Fs.deleteRecursively(new java.io.File(work))
  }

  test("snapshot-log bronze sink is exactly-once across checkpoint loss") {
    val base = Files.createTempDirectory("snapbronze").toString
    val raw = rawLongEvents().limit(600)
    stage(raw.limit(300), s"$base/src/a.parquet")
    stage(raw, s"$base/src/b.parquet") // overlapping second file
    graft.streaming.Bronze.ingestExactlyOnce(spark, s"$base/src",
      s"$base/table", s"$base/ckpt", maxFilesPerTrigger = Some(1))
    val versions1 = graft.sources.DeltaLog.versions(s"$base/table")
    assert(versions1.size >= 2, s"expected one version per file: $versions1")
    val rows1 = graft.sources.DeltaLog.read(spark, s"$base/table").count()
    assert(rows1 == 900) // at-least-once INPUT (300 + 600 overlapping rows)
    // checkpoint lost → the restarted query replays every batch; the
    // batch-id-keyed commits make each replay a no-op
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete(); ()
    }
    deleteRec(new java.io.File(s"$base/ckpt"))
    graft.streaming.Bronze.ingestExactlyOnce(spark, s"$base/src",
      s"$base/table", s"$base/ckpt", maxFilesPerTrigger = Some(1))
    assert(graft.sources.DeltaLog.versions(s"$base/table") == versions1,
      "replayed batches must not commit new versions")
    assert(graft.sources.DeltaLog.read(spark, s"$base/table").count()
      == rows1, "replay duplicated rows")
  }

  test("stream-stream interval join equals the batch attribution query") {
    val base = Files.createTempDirectory("ssjoin").toString
    stage(rawLongEvents(), s"$base/src/all.parquet")
    val pairs = collection.mutable.ArrayBuffer.empty[Row]
    StatefulStreams.clickAttributionStream(spark, s"$base/src", s"$base/ckpt") {
      df => pairs ++= df.collect()
    }
    // roll the emitted (user, click_us, buy_us) pairs up like q67
    val got = pairs.groupBy(_.getLong(0)).map { case (u, rs) =>
      val lags = rs.map(r => r.getLong(2) - r.getLong(1))
      (u, rs.size.toLong, lags.min, lags.max)
    }.toSet
    val want = Sessions.clickAttribution(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("stream-stream LEFT OUTER interval join equals the batch q144") {
    val base = Files.createTempDirectory("ssouter").toString
    val raw = rawLongEvents()
    stage(raw, s"$base/src/all.parquet")
    val pairs = collection.mutable.ArrayBuffer.empty[Row]
    val sink = (df: org.apache.spark.sql.DataFrame) =>
      { pairs ++= df.collect(); () }
    StatefulStreams.clickAttributionOuterStream(
      spark, s"$base/src", s"$base/ckpt")(sink)
    // a null row for an abandoned click emits only once the watermark
    // proves no purchase can still arrive. The GLOBAL watermark is the
    // MIN over both sides' watermark operators, so the far-future
    // sentinel (fake user) must carry BOTH event types — a
    // purchase-only sentinel leaves the click-side watermark at the
    // real click maximum and the final hour of clicks never flushes
    // (caught by exactly one abandoned click in this data)
    val maxTs = raw.agg(max(expr("ts"))).head.getLong(0)
    val far = maxTs + 365L * 86400 * 1000000000L
    stage(raw.limit(2)
        .withColumn("ts", lit(far))
        .withColumn("user_id", lit(-1L))
        .withColumn("event_type",
          when(monotonically_increasing_id() % 2 === 0, "purchase")
            .otherwise("click")),
      s"$base/src/sentinel.parquet")
    StatefulStreams.clickAttributionOuterStream(
      spark, s"$base/src", s"$base/ckpt")(sink)
    // roll the emitted (user, click_us, buy_us|null) rows up like q144
    val got = pairs.filter(_.getLong(0) != -1L)
      .groupBy(_.getLong(0)).map { case (u, rs) =>
        (u,
          rs.map(_.getLong(1)).distinct.size.toLong,
          rs.count(!_.isNullAt(2)).toLong,
          rs.filter(_.isNullAt(2)).map(_.getLong(1)).distinct.size.toLong)
      }.toSet
    val want = Sessions.unattributedFunnel(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
    // the corner this test exists for: abandoned clicks DID emit
    assert(got.exists(_._4 > 0), "no null-padded rows surfaced")
  }

  test("flatMapGroupsWithState sessionization equals batch, across restarts") {
    val base = Files.createTempDirectory("sessstream").toString
    val raw = rawLongEvents()
    val cutUs = raw.selectExpr("percentile_approx(ts div 1000, 0.5)")
      .head.getLong(0) // median: both runs carry real state traffic
    val emitted = collection.mutable.ArrayBuffer.empty[Row]
    val sink = (df: org.apache.spark.sql.DataFrame) =>
      { emitted ++= df.collect(); () }

    // run 1: first half of the timeline
    stage(raw.filter(expr(s"ts div 1000") < cutUs), s"$base/src/a.parquet")
    StatefulStreams.sessionizeStream(spark, s"$base/src", s"$base/ckpt")(sink)
    // run 2: later events arrive; state resumes from the checkpoint
    stage(raw.filter(expr(s"ts div 1000") >= cutUs), s"$base/src/b.parquet")
    StatefulStreams.sessionizeStream(spark, s"$base/src", s"$base/ckpt")(sink)

    // latest-per-(user, session): provisional open-session emissions are
    // superseded by later ones (the W1 pattern)
    val finalRows = emitted.zipWithIndex
      .groupBy(r => (r._1.getLong(0), r._1.getLong(1)))
      .map { case (k, rs) => k -> rs.maxBy(_._2)._1 }
    val got = finalRows.map { case ((u, s), r) =>
      (u, s, r.getLong(2), r.getLong(3), r.getLong(4)) }.toSet

    val want = Sessions.sessionize(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
  }

  test("transformWithState processor: converged across batches == batch groupBy") {
    import org.apache.spark.sql.functions.{col, count, max, min, unix_micros}
    val work = java.nio.file.Files
      .createTempDirectory("tws").toString
    val events = Tables.load(spark, sfDir, "events")
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("ts_us"))
    events.repartition(3).write.parquet(s"$work/src")
    val got = streaming.ProcessorStreams.statefulUserAggFrom(
      spark, s"$work/src", work)
    // the run genuinely crossed micro-batches (3 files → 3 triggers)
    val batches = Option(new java.io.File(s"$work/sink").listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("batch="))
    assert(batches >= 2,
      s"state must cross batches to prove anything; got $batches")
    val want = events.groupBy(col("user_id"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_events"),
        min(col("ts_us")).as("first_us"),
        max(col("ts_us")).as("last_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3))).toSet == want)
    // the default state store provider is restored after the run
    assert(!spark.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("event-time timers close idle sessions when the watermark passes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    val work = java.nio.file.Files.createTempDirectory("twstimer").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$work/src"))
    def stage(name: String, rows: Seq[(Long, Long)]): Unit = {
      // deterministic file NAMES (trigger order is (mtime, path)) and
      // one file per stage call
      val tmp =
        java.nio.file.Files.createTempDirectory("twsst").toString + "/w"
      rows.toDF("user_id", "ts_ms")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$work/src/$name.parquet"))
    }
    // all timestamps sit past the initial watermark (0), which drops
    // rows at-or-before it. file A (early): user 100's two-event
    // session; user 200's single event. file B (late): only user 200
    // returns, far past the gap — user 100 goes quiet forever.
    val t0 = 10000000L
    stage("a", Seq((100L, t0), (100L, t0 + 60000L), (200L, t0)))
    stage("b", Seq((200L, t0 + 3600000L)))
    val gapMs = 600000L
    val got = streaming.ProcessorStreams.gapSessionsWithTimers(
        spark, s"$work/src", work, gapMs, "0 seconds")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_ms"),
        r.getAs[Long]("end_ms"), r.getAs[Long]("n_events"),
        r.getAs[Boolean]("via_timer")))
    // user 100's session must be closed BY THE TIMER: no later event
    // of theirs ever arrives — only the watermark (advanced by user
    // 200's late event) can prove the session over
    val u100 = got.filter(_._1 == 100L).toSeq
    assert(u100 == Seq((100L, t0, t0 + 60000L, 2L, true)),
      s"idle session must close via timer: ${got.toSeq}")
    // user 200's first session closes too (inline or timer — order
    // of timer-vs-input within the batch is the engine's choice)
    assert(got.filter(_._1 == 200L)
      .map(t => (t._2, t._3, t._4)).toSeq == Seq((t0, t0, 1L)))
    // the session still OPEN at end-of-stream (user 200's return,
    // whose close-timer sits past the final watermark) must NOT leak
    assert(got.length == 2, s"open tail session leaked: ${got.toSeq}")
  }
}
