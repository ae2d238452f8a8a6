package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** `readStream.format("graft-delta")` — the DSv2 MicroBatchStream
  * over the open Delta log. Spark's own streaming engine drives
  * offsets/recovery; these specs pin the source's contract: appends
  * stream exactly once across restarts, OPTIMIZE commits are silent,
  * data-removing commits refuse loudly unless skipChangeCommits. */
class DeltaStreamSourceSpec extends SparkSuite {
  import spark.implicits._

  private def drain(dir: String, out: String, ckpt: String,
                    extra: Map[String, String] = Map.empty): Unit = {
    var r = spark.readStream.format("graft-delta").option("path", dir)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    val q = r.load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("appends stream exactly once across restarts; OPTIMIZE is silent") {
    val work = Files.createTempDirectory("dstream").toString
    val dir = s"$work/t"
    val out = s"$work/out"
    val ckpt = s"$work/ckpt"
    def outKeys: Seq[Long] = spark.read.parquet(out)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    sources.DeltaLog.commitAppend(
      (1L to 5L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    sources.DeltaLog.commitAppend(
      (6L to 10L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    drain(dir, out, ckpt)
    assert(outKeys == (1L to 10L))
    // OPTIMIZE (dataChange=false) contributes NOTHING — a source
    // that leaked it would redeliver every row; the next append
    // flows incrementally from the checkpointed offset
    sources.DeltaLog.compact(spark, dir, targetFiles = 1)
    sources.DeltaLog.commitAppend(
      (11L to 12L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    drain(dir, out, ckpt)
    assert(outKeys == (1L to 12L),
      "exactly the new append — no compaction rows, no duplicates")
    // a quiet restart is a no-op (the offset rode Spark's checkpoint)
    drain(dir, out, ckpt)
    assert(outKeys == (1L to 12L))
  }

  test("filter option prunes planned files like the batch pushdown read") {
    val work = Files.createTempDirectory("dstreamf").toString
    // PARTITION pruning: three hive partitions, one file each
    val dir = s"$work/t"
    sources.DeltaLog.commitOverwritePartitioned(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "p")
        .repartition(col("p")), dir, Seq("p"))
    streaming.StreamFilter.reset(dir)
    drain(dir, s"$work/out", s"$work/ckpt",
      Map("filter" -> "p = 'b'"))
    assert(streaming.StreamFilter.statsFor(dir) == ((3L, 1L)),
      s"partition pruning: ${streaming.StreamFilter.statsFor(dir)}")
    assert(spark.read.parquet(s"$work/out")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "b")))
    // the BATCH pushdown prunes to the same file count on the same
    // predicate — the seam VERDICT asked for
    sources.DeltaLog.readFiltered(spark, dir, col("p") === "b")
      .collect(): Unit
    assert(sources.DeltaLog.lastFilesScanned == 1)
    // STATS pruning: three appends with disjoint key ranges — a
    // range predicate reads one file, the batch twin agrees
    val dir2 = s"$work/t2"
    Seq(1L to 10L, 11L to 20L, 21L to 30L).foreach(r =>
      sources.DeltaLog.commitAppend(
        r.map(i => (i, s"s$i")).toDF("k", "s").coalesce(1), dir2))
    streaming.StreamFilter.reset(dir2)
    drain(dir2, s"$work/out2", s"$work/ckpt2",
      Map("filter" -> "k >= 25"))
    assert(streaming.StreamFilter.statsFor(dir2) == ((3L, 1L)),
      s"stats pruning: ${streaming.StreamFilter.statsFor(dir2)}")
    // superset contract: the pruned stream emitted the kept FILE
    // (21..30); the query-side .filter provides row exactness
    assert(spark.read.parquet(s"$work/out2")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (21L to 30L))
    sources.DeltaLog.readWhereStats(spark, dir2,
      Seq(("k", 25L, Long.MaxValue))).collect(): Unit
    assert(sources.DeltaLog.lastFilesScanned == 1)
  }

  test("data-removing commits refuse loudly; skipChangeCommits skips them") {
    val work = Files.createTempDirectory("dstream2").toString
    val dir = s"$work/t"
    sources.DeltaLog.commitAppend(
      (1L to 4L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    drain(dir, s"$work/out", s"$work/ckpt")
    // an OVERWRITE removes data — an append stream cannot express it
    sources.DeltaLog.commitOverwrite(
      Seq((99L, "z")).toDF("k", "s"), dir)
    val e = intercept[Exception] {
      drain(dir, s"$work/out", s"$work/ckpt")
    }
    assert(e.getMessage.contains("removes data") ||
      Option(e.getCause).exists(_.getMessage.contains("removes data")))
    // Delta's own escape hatch: skipChangeCommits skips the whole
    // commit; a later append flows (fresh sink/checkpoint — the
    // failed run above poisoned nothing, but keeps the arms simple)
    sources.DeltaLog.commitAppend(
      Seq((100L, "w")).toDF("k", "s"), dir)
    drain(dir, s"$work/out2", s"$work/ckpt2",
      Map("skipChangeCommits" -> "true"))
    val got = spark.read.parquet(s"$work/out2")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L, 100L),
      "the overwrite commit is skipped whole; appends around it land")
  }

  test("startingVersion skips history before the given version") {
    val work = Files.createTempDirectory("dstream6").toString
    val dir = s"$work/t"
    sources.DeltaLog.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    sources.DeltaLog.commitAppend(
      Seq((3L, "c")).toDF("k", "s"), dir)
    drain(dir, s"$work/out", s"$work/ckpt",
      Map("startingVersion" -> "1"))
    assert(spark.read.parquet(s"$work/out")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L),
      "only version 1's rows — version 0 is before the start")
  }

  test("startingVersion=latest skips history; only post-start commits stream") {
    val work = Files.createTempDirectory("dstreaml").toString
    val dir = s"$work/t"
    sources.DeltaLog.commitAppend(
      (1L to 5L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    sources.DeltaLog.commitAppend(
      (6L to 8L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    // the big-history path: backfill rides a BATCH read; the stream
    // starts at the current head and delivers only what lands after
    drain(dir, s"$work/out", s"$work/ckpt",
      Map("startingVersion" -> "latest"))
    assert(!new java.io.File(s"$work/out").exists() ||
      spark.read.parquet(s"$work/out").count() == 0,
      "nothing before query start streams under latest")
    sources.DeltaLog.commitAppend(
      Seq((9L, "s9")).toDF("k", "s"), dir)
    drain(dir, s"$work/out", s"$work/ckpt",
      Map("startingVersion" -> "latest"))
    assert(spark.read.parquet(s"$work/out")
      .collect().map(_.getLong(0)).toSeq == Seq(9L),
      "exactly the post-start append")
  }

  test("maxVersionsPerTrigger drains a backlog in bounded batches") {
    val work = Files.createTempDirectory("dstream4").toString
    val dir = s"$work/t"
    (1 to 6).foreach(i => sources.DeltaLog.commitAppend(
      Seq((i.toLong, s"s$i")).toDF("k", "s"), dir))
    // 6 commits, 2 per trigger: AvailableNow must still drain ALL of
    // them (in 3 bounded batches), exactly once
    drain(dir, s"$work/out", s"$work/ckpt",
      Map("maxVersionsPerTrigger" -> "2"))
    assert(spark.read.parquet(s"$work/out")
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 6L))
    // the progress log shows >1 committed batch — the cap was real
    val batches = new java.io.File(s"$work/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches >= 3, s"expected >=3 bounded batches, got $batches")
  }

  test("a schema change mid-stream fails loudly; restart flows the new column") {
    val work = Files.createTempDirectory("dstream7").toString
    val dir = s"$work/t"
    val out = s"$work/out"
    val ckpt = s"$work/ckpt"
    sources.DeltaLog.commitAppend(
      (1L to 3L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    // a RUNNING query (micro-batch cadence, not AvailableNow — the
    // evolution must land while the query is live)
    val q = spark.readStream.format("graft-delta").option("path", dir)
      .load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(50)).start()
    q.processAllAvailable()
    assert(spark.read.parquet(out).count() == 3)
    // ADD COLUMN lands mid-stream: the next planned range contains
    // the metaData commit — the source must FAIL the stream, not
    // silently drop `x` under the query-start schema
    val st = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last)
    sources.DeltaLog.evolveSchema(dir,
      org.apache.spark.sql.types.StructType(st.schema.fields :+
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType)))
    sources.DeltaLog.commitAppend(
      Seq((4L, "s4", 40L)).toDF("k", "s", "x"), dir)
    val e = intercept[Exception] {
      q.processAllAvailable()
      q.awaitTermination(30000): Unit
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("CHANGES THE TABLE SCHEMA")),
      s"expected the loud schema-change failure, got: ${messages(e)}")
    // RESTART: the source re-infers the evolved schema; the new
    // column flows for the new append (older sink files lack it —
    // mergeSchema unions the parquet sink's two shapes)
    drain(dir, out, ckpt)
    val got = spark.read.option("mergeSchema", "true").parquet(out)
    assert(got.schema.fieldNames.contains("x"))
    assert(got.count() == 4)
    assert(got.filter(col("k") === 4L).select("x")
      .collect().head.getLong(0) == 40L,
      "post-restart the evolved column flows with its values")
  }

  test("maxFilesPerTrigger splits one backfill commit across batches") {
    val work = Files.createTempDirectory("dstream8").toString
    val dir = s"$work/t"
    // 3 versions x 4 files = 12 files; cap 3 files/trigger => >=4
    // batches, and version boundaries don't align with batch
    // boundaries — the (version, fileIndex) offsets must split
    // WITHIN commits without losing or duplicating a file (12 rows
    // per commit so every one of the 4 round-robin partitions is
    // non-empty and the file count is deterministic)
    (0 until 3).foreach { c =>
      sources.DeltaLog.commitAppend(
        (1L to 12L).map(i => (c * 12 + i, s"s${c * 12 + i}"))
          .toDF("k", "s").repartition(4), dir)
    }
    val totalFiles = sources.DeltaLog
      .replay(dir, sources.DeltaLog.versions(dir).last).adds.size
    assert(totalFiles == 12, s"fixture expects 12 files, got $totalFiles")
    drain(dir, s"$work/out", s"$work/ckpt",
      Map("maxFilesPerTrigger" -> "3"))
    assert(spark.read.parquet(s"$work/out")
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 36L),
      "every file exactly once across the split batches")
    val batches = new java.io.File(s"$work/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches >= 4, s"expected >=4 bounded batches, got $batches")
    // byte-based admission: a 1-byte cap still admits one file per
    // trigger (progress guarantee) => 12 batches
    drain(dir, s"$work/out2", s"$work/ckpt2",
      Map("maxBytesPerTrigger" -> "1"))
    assert(spark.read.parquet(s"$work/out2")
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 36L))
    val byteBatches = new java.io.File(s"$work/ckpt2/commits")
      .listFiles().count(f => f.getName.forall(_.isDigit))
    assert(byteBatches >= 12,
      s"one file per byte-capped batch, got $byteBatches")
  }

  test("q195 shape: stream->txn-sink hop is exactly-once across a sink-side crash") {
    val work = Files.createTempDirectory("dstream5").toString
    val dir = s"$work/bronze"
    val silver = s"$work/silver"
    sources.DeltaLog.commitAppend(
      (1L to 4L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    sources.DeltaLog.commitAppend(
      (5L to 8L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    def silverKeys: Seq[Long] = sources.DeltaLog.read(spark, silver)
      .collect().map(_.getLong(0)).sorted.toSeq
    // CRASH planted AFTER the sink commit, BEFORE the engine records
    // the batch — the tightest window; on restart the engine
    // redelivers the batch under the SAME id and the txn watermark
    // must make the redelivery invisible
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(crashOnce: Boolean): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("path", dir).load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                         id: Long) =>
          if (!batch.isEmpty) {
            sources.DeltaLog.commitAppendIdempotent(
              batch, silver, "etl", id): Unit
            if (crashOnce && crashed.compareAndSet(false, true))
              throw new RuntimeException("planted crash after sink commit")
          }
        }
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    intercept[Exception] { run(crashOnce = true) }
    val afterCrash = silverKeys // the sink commit happened
    assert(afterCrash.nonEmpty)
    run(crashOnce = false)
    assert(silverKeys == (1L to 8L),
      "the redelivered batch must be skipped by its txn watermark — " +
        "every row exactly once")
    // and the silver table's txn history shows each batch ONCE
    assert(sources.DeltaLog.latestTxnVersion(silver, "etl").nonEmpty)
  }

  test("two racing streaming writers, txn-scoped: exactly-once per appId") {
    val work = Files.createTempDirectory("dstream9").toString
    val srcA = s"$work/a"
    val srcB = s"$work/b"
    val target = s"$work/target"
    (0 until 3).foreach(c => sources.DeltaLog.commitAppend(
      (1L to 4L).map(i => (c * 4 + i, s"a${c * 4 + i}"))
        .toDF("k", "s"), srcA))
    (0 until 3).foreach(c => sources.DeltaLog.commitAppend(
      (1L to 4L).map(i => (100 + c * 4 + i, s"b${c * 4 + i}"))
        .toDF("k", "s"), srcB))
    // TWO CONCURRENT streaming queries, distinct appIds, appending
    // to ONE Delta table through the CAS — interleaved versions,
    // each writer exactly-once by its own txn watermark
    def writer(src: String, appId: String) =
      spark.readStream.format("graft-delta").option("path", src)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                         id: Long) =>
          if (!batch.isEmpty)
            sources.DeltaLog.commitAppendIdempotent(
              batch, target, appId, id): Unit
        }
        .option("checkpointLocation", s"$work/ckpt-$appId")
        .trigger(Trigger.AvailableNow()).start()
    val q1 = writer(srcA, "w1")
    val q2 = writer(srcB, "w2")
    q1.awaitTermination()
    q2.awaitTermination()
    def targetKeys: Seq[Long] = sources.DeltaLog.read(spark, target)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(targetKeys == ((1L to 12L) ++ (101L to 112L)),
      "both writers' rows land exactly once through the CAS")
    assert(sources.DeltaLog.latestTxnVersion(target, "w1").nonEmpty &&
      sources.DeltaLog.latestTxnVersion(target, "w2").nonEmpty)
    // RESTART both from their checkpoints: redelivered batches are
    // invisible behind the txn watermarks — no new target versions
    val vBefore = sources.DeltaLog.versions(target).last
    val q3 = writer(srcA, "w1")
    val q4 = writer(srcB, "w2")
    q3.awaitTermination()
    q4.awaitTermination()
    assert(sources.DeltaLog.versions(target).last == vBefore,
      "a quiet restart must append nothing")
    // and the DSv2 source drains the interleaved history cleanly
    drain(target, s"$work/out", s"$work/ckpt-read")
    assert(spark.read.parquet(s"$work/out")
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((1L to 12L) ++ (101L to 112L)))
  }

  test("q198 gate shape: nested mapped table streams; values equal batch read") {
    // the q194 fixture: physical col-<uuid> names at every nesting
    // level, two metadata-only renames in the history — the stream
    // must ride the renames and resolve nested physical names
    val streamed = streaming.DeltaStreamQueries
      .deltaStreamNestedMapped(spark, sfDir)
    val batch = sources.DeltaLog.deltaNestedMappedRead(spark, sfDir)
    assert(streamed.schema == batch.schema)
    assert(streamed.collect().toSeq == batch.collect().toSeq,
      "streamed nested-mapped rows must equal the batch read bit-exact")
  }

  test("columnar path null-fills evolved columns on pre-evolution files") {
    val work = Files.createTempDirectory("dstreamn").toString
    val dir = s"$work/t"
    sources.DeltaLog.commitAppend(
      (1L to 3L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    val st = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last)
    sources.DeltaLog.evolveSchema(dir,
      org.apache.spark.sql.types.StructType(st.schema.fields :+
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType)))
    sources.DeltaLog.commitAppend(
      Seq((4L, "s4", 40L)).toDF("k", "s", "x"), dir)
    // a FRESH stream reads the full history under the evolved
    // schema: the v0 file lacks `x` — the VECTORIZED reader must
    // surface constant-null vectors for it (and the row path agrees)
    for ((mode, tag) <- Seq(("true", "v"), ("false", "r"))) {
      drain(dir, s"$work/out$tag", s"$work/ckpt$tag",
        Map("vectorizedRead" -> mode))
      val got = spark.read.parquet(s"$work/out$tag")
        .orderBy(col("k"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
      assert(got == Seq((1L, None), (2L, None), (3L, None),
        (4L, Some(40L))), s"mode=$mode must null-fill old files")
    }
  }

  test("vectorized read path: >=1.5x throughput over the row path, same rows") {
    val work = Files.createTempDirectory("dstreamv").toString
    val dir = s"$work/t"
    sources.DeltaLog.commitAppend(spark.sql(
      """SELECT id AS k, CAST(id AS DOUBLE) / 3 AS d,
        |  CONCAT('customer-', id % 100000) AS s,
        |  CONCAT('comment-string-padding-', id % 977, '-', id % 83) AS c,
        |  CAST(id % 7 AS INT) AS i
        |FROM range(10000000)""".stripMargin).repartition(4), dir)
    def drainTime(vectorized: Boolean, tag: String): Double = {
      val start = System.nanoTime()
      spark.readStream.format("graft-delta").option("path", dir)
        .option("vectorizedRead", vectorized.toString).load()
        .writeStream.format("noop")
        .option("checkpointLocation", s"$work/ckpt-$tag")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      (System.nanoTime() - start) / 1e9
    }
    // correctness first: both paths land identical rows
    drain(dir, s"$work/outv", s"$work/ckptv")
    drain(dir, s"$work/outr", s"$work/ckptr",
      Map("vectorizedRead" -> "false"))
    val cv = spark.read.parquet(s"$work/outv")
    val cr = spark.read.parquet(s"$work/outr")
    assert(cv.count() == 10000000L && cr.count() == 10000000L)
    assert(cv.exceptAll(cr).isEmpty && cr.exceptAll(cv).isEmpty,
      "row and columnar paths must read identical rows")
    // throughput: ColumnarBatch straight into codegen vs per-row
    // Group materialization. The ~0.5s fixed query lifecycle
    // (start/plan/checkpoint) is identical in both modes and would
    // dilute the ratio into noise — measure it on a 1-row table and
    // compare PURE read cost; min-of-3 so a GC pause or noisy
    // neighbor can't fail the gate. The row and columnar drains
    // INTERLEAVE, alternating which side runs first, so a load swing
    // on a shared box lands on both sides instead of on one block
    val tiny = s"$work/tiny"
    sources.DeltaLog.commitAppend(Seq((1L, 0.0, "x", "y", 1))
      .toDF("k", "d", "s", "c", "i"), tiny)
    def drainTiny(tag: String): Double = {
      val start = System.nanoTime()
      spark.readStream.format("graft-delta").option("path", tiny).load()
        .writeStream.format("noop")
        .option("checkpointLocation", s"$work/ckpt-$tag")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      (System.nanoTime() - start) / 1e9
    }
    val base = (1 to 3).map(i => drainTiny(s"base$i")).min
    val pairs = (1 to 3).map { i =>
      def row() = drainTime(vectorized = false, s"brow$i")
      def col() = drainTime(vectorized = true, s"bcol$i")
      if (i % 2 == 1) { val r = row(); (r, col()) }
      else { val c = col(); (row(), c) }
    }
    val rowSec = pairs.map(_._1).min
    val colSec = pairs.map(_._2).min
    val rowRead = rowSec - base
    val colRead = math.max(colSec - base, 0.01)
    info(f"base=$base%.2fs row=$rowSec%.2fs columnar=$colSec%.2fs " +
      f"read-speedup=${rowRead / colRead}%.1fx")
    // 2.4x measured in isolation; the gate is 1.5x so the assert
    // survives a contended full-suite run (the ratio dips when 35
    // suites share the box) while still catching a fallen-off-the-
    // vectorized-path regression, which reads ~1.0x
    assert(colRead * 1.5 <= rowRead,
      f"expected >=1.5x vectorized read speedup, got " +
        f"${rowRead / colRead}%.2fx (base $base%.2fs, row $rowSec%.2fs, " +
        f"columnar $colSec%.2fs)")
  }

  test("typed columns survive the executor-side Group reader") {
    val work = Files.createTempDirectory("dstream3").toString
    val dir = s"$work/t"
    val df = spark.sql(
      """SELECT id AS k, CAST(id AS DOUBLE) / 4 AS d,
        |  CONCAT('s', id) AS s, id % 2 = 0 AS b,
        |  TIMESTAMP'2024-03-01 10:00:00' + make_interval(0,0,0,0,0,0,id)
        |    AS ts,
        |  DATE'2024-03-01' + CAST(id AS INT) AS dt
        |FROM range(1, 6)""".stripMargin)
    sources.DeltaLog.commitAppend(df, dir)
    drain(dir, s"$work/out", s"$work/ckpt")
    val got = spark.read.parquet(s"$work/out").orderBy(col("k"))
    val want = df.orderBy(col("k"))
    assert(got.schema == want.schema)
    assert(got.collect().toSeq == want.collect().toSeq,
      "every primitive type round-trips bit-exact through the stream")
  }
}
