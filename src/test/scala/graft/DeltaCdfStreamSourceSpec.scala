package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** `readStream.format("graft-delta-cdf")` — the CHANGE DATA FEED as
  * a streaming source: row-level inserts AND deletes (DV bitmap
  * diffs executed on the executor), exactly-once across restarts,
  * convergent under batch replay into an idempotent-apply sink. */
class DeltaCdfStreamSourceSpec extends SparkSuite {
  import spark.implicits._

  private def drainTo(dir: String, out: String, ckpt: String,
                      extra: Map[String, String] = Map.empty): Unit = {
    var r = spark.readStream.format("graft-delta-cdf")
      .option("path", dir)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    val q = r.load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("malformed startingVersion refuses descriptively, overflow included") {
    val work = Files.createTempDirectory("cdfstartv").toString
    val deltaDir = s"$work/t"
    sources.DeltaLog.commitAppend(
      Seq((1L, "a")).toDF("k", "s"), deltaDir)
    val icebergDir = s"$work/ice"
    sources.Iceberg.commitAppend(
      Seq((1L, "a")).toDF("k", "s"), icebergDir)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // one shared parser behind all four sources: (format, table,
    // starting option, descriptive refusal)
    val formats = Seq(
      ("graft-delta", deltaDir, "startingVersion",
        "startingVersion must be a version number"),
      ("graft-delta-cdf", deltaDir, "startingVersion",
        "startingVersion must be a version number"),
      ("graft-iceberg", icebergDir, "startingSnapshotId",
        "startingSnapshotId must be a snapshot id"),
      ("graft-iceberg-cdf", icebergDir, "startingSnapshotId",
        "startingSnapshotId must be a snapshot id"))
    // '5-3' fails the regex; a 25-digit string PASSES the regex but
    // overflows Long; '-3' is a well-formed long but no commit id —
    // all must hit the descriptive message, never a raw
    // NumberFormatException or a silent stream from the start
    for ((format, dir, option, expected) <- formats;
         (bad, i) <- Seq("5-3", "9" * 25, "-3").zipWithIndex) {
      val e = intercept[Exception] {
        spark.readStream.format(format).option("path", dir)
          .option(option, bad).load()
          .writeStream.format("parquet")
          .option("path", s"$work/out-$format-$i")
          .option("checkpointLocation", s"$work/ckpt-$format-$i")
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      assert(messages(e).exists(_.contains(expected)),
        s"$format: for '$bad' expected the descriptive refusal, " +
          s"got: ${messages(e)}")
    }
  }

  test("streamed CDF rows equal the batch readChanges row-for-row") {
    val work = Files.createTempDirectory("cdfstream").toString
    val dir = s"$work/t"
    // overwrite, DV delete, append, DV delete — all four change
    // shapes in one history
    sources.DeltaLog.commitOverwrite(
      (1L to 20L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    sources.DeltaLog.deleteWhere(spark, dir,
      org.apache.spark.sql.functions.pmod(col("k"),
        org.apache.spark.sql.functions.lit(5L)) === 0)
    sources.DeltaLog.commitAppend(
      (21L to 25L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    sources.DeltaLog.deleteWhere(spark, dir, col("k") === 7L)
    drainTo(dir, s"$work/out", s"$work/ckpt")
    val streamed = spark.read.parquet(s"$work/out")
      .orderBy(col("k"), col("_commit_version"), col("_change_type"))
      .collect().toSeq
    val batch = sources.DeltaLog.readChanges(spark, dir, 0L,
        sources.DeltaLog.versions(dir).last)
      .select("k", "s", "_change_type", "_commit_version")
      .orderBy(col("k"), col("_commit_version"), col("_change_type"))
      .collect().toSeq
    assert(streamed == batch,
      "the stream and the batch CDF must agree row-for-row")
    // the drain — DV-filtered partitions included — rode the
    // VECTORIZED path (decode stays columnar; survivors are copied
    // by file position)
    assert(streaming.RowReadSupport.lastReadPath == "columnar",
      "the CDF drain must ride the vectorized read path")
    // shape sanity: the v1 delete is EXACTLY the multiples of 5 (a
    // whole-file emission would flood all 20 rows)
    val v1 = streamed.filter(r => r.getLong(3) == 1L)
    assert(v1.map(_.getLong(0)).sorted == Seq(5L, 10L, 15L, 20L))
    assert(v1.forall(_.getString(2) == "delete"))
    // the v3 delete diffs against v1's bitmap: only key 7, not a
    // re-emission of the earlier tenths
    val v3 = streamed.filter(r => r.getLong(3) == 3L)
    assert(v3.map(_.getLong(0)) == Seq(7L))
  }

  test("a COLUMN-MAPPED cdc history streams; rename mid-history is invisible") {
    val work = Files.createTempDirectory("cdfstreammapped").toString
    val dir = s"$work/t"
    // the q211 shape: mapped creation, CDF on, MERGE (physical
    // change file + cdc action), RENAME, DV delete (change file)
    sources.DeltaLog.commitOverwriteMapped(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), dir)
    sources.DeltaLog.setTableProperties(dir,
      Map("delta.enableChangeDataFeed" -> "true"))
    sources.DeltaLog.mergeInto(spark, dir,
      Seq((2L, "B"), (4L, "d")).toDF("k", "s"), Seq("k"))
    sources.DeltaLog.renameColumnMapped(dir, "s", "label")
    sources.DeltaLog.deleteWhere(spark, dir, col("k") === 1L)
    drainTo(dir, s"$work/out", s"$work/ckpt")
    val streamed = spark.read.parquet(s"$work/out")
    // the stream surfaces the query-start LOGICAL names (post-rename)
    assert(streamed.schema.fieldNames.toSeq ==
      Seq("k", "label", "_change_type", "_commit_version"))
    val got = streamed.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val batch = sources.DeltaLog.readChanges(spark, dir, 0L,
        sources.DeltaLog.versions(dir).last)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == batch,
      s"stream $got must equal batch readChanges $batch")
    assert(got.contains((2L, "b", "update_preimage", 2L)) &&
      got.contains((2L, "B", "update_postimage", 2L)) &&
      got.contains((1L, "a", "delete", 4L)), s"got $got")
  }

  test("a whole-file remove after a DV delete emits live rows only") {
    val work = Files.createTempDirectory("cdfstream2").toString
    val dir = s"$work/t"
    sources.DeltaLog.commitOverwrite(
      (1L to 10L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    sources.DeltaLog.deleteWhere(spark, dir, col("k") <= 3L)
    // overwrite removes the (DV-masked) file wholesale: the delete
    // rows are the 7 LIVE keys — 1..3 died at v1 and must not die
    // again at v2
    sources.DeltaLog.commitOverwrite(
      Seq((100L, "z")).toDF("k", "s"), dir)
    drainTo(dir, s"$work/out", s"$work/ckpt")
    val byVersion = spark.read.parquet(s"$work/out")
      .filter(col("_change_type") === "delete")
      .collect().groupBy(_.getLong(3)).view
      .mapValues(_.map(_.getLong(0)).sorted.toSeq).toMap
    assert(byVersion(1L) == Seq(1L, 2L, 3L))
    assert(byVersion(2L) == (4L to 10L),
      "rows already masked by the file's DV stay silent in its removal")
  }

  test("RESTORE streams as deletes of current + re-inserts of old files") {
    val work = Files.createTempDirectory("cdfstream2r").toString
    val dir = s"$work/t"
    sources.DeltaLog.commitOverwrite(
      (1L to 5L).map(i => (i, s"s$i")).toDF("k", "s"), dir) // v0
    sources.DeltaLog.commitOverwrite(
      (6L to 8L).map(i => (i, s"s$i")).toDF("k", "s"), dir) // v1
    sources.DeltaLog.restore(dir, 0L) // v2: re-adds v0's files
    drainTo(dir, s"$work/out", s"$work/ckpt")
    val v2 = spark.read.parquet(s"$work/out")
      .filter(col("_commit_version") === 2L)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
      .sortBy(t => (t._2, t._1))
    assert(v2 == Seq(6L, 7L, 8L).map(k => (k, "delete")) ++
      (1L to 5L).map(k => (k, "insert")),
      s"a RESTORE in the history must stream as its file-set diff: $v2")
  }

  test("q199 shape: sink replay after a planted crash converges") {
    val work = Files.createTempDirectory("cdfstream3").toString
    val dir = s"$work/t"
    val silver = s"$work/silver"
    sources.DeltaLog.commitOverwrite(
      (1L to 10L).map(i => (i, s"s$i")).toDF("k", "s"), dir)
    sources.DeltaLog.deleteWhere(spark, dir,
      org.apache.spark.sql.functions.pmod(col("k"),
        org.apache.spark.sql.functions.lit(2L)) === 0)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(crashOnce: Boolean): Unit = {
      val q = spark.readStream.format("graft-delta-cdf")
        .option("path", dir)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                         _: Long) =>
          if (!batch.isEmpty) {
            val inserts = batch
              .filter(col("_change_type") === "insert")
              .drop("_change_type", "_commit_version")
            val deletes = batch
              .filter(col("_change_type") === "delete").select("k")
            if (sources.DeltaLog.versions(silver).isEmpty)
              sources.DeltaLog.commitOverwrite(inserts, silver): Unit
            else if (!inserts.isEmpty)
              sources.DeltaLog.mergeInto(spark, silver, inserts,
                Seq("k")): Unit
            if (!deletes.isEmpty)
              sources.DeltaLog.deleteWhereKeys(spark, silver,
                "k", deletes): Unit
            // crash AFTER the apply, BEFORE the engine records the
            // batch — the tightest window; the replayed apply must
            // be state-idempotent
            if (crashOnce && crashed.compareAndSet(false, true))
              throw new RuntimeException("planted crash after apply")
          }
        }
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    intercept[Exception] { run(crashOnce = true) }
    run(crashOnce = false)
    assert(sources.DeltaLog.read(spark, silver)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L, 5L, 7L, 9L),
      "replayed batch applies idempotently — odd keys survive, once")
  }

  test("checkpoint-seeded planning: a trigger walks O(delta) commits") {
    val work = Files.createTempDirectory("cdfstream5").toString
    val dir = s"$work/t"
    (1 to 12).foreach(i => sources.DeltaLog.commitAppend(
      Seq((i.toLong, s"s$i")).toDF("k", "s"), dir))
    sources.DeltaLog.checkpoint(spark, dir)
    (13 to 15).foreach(i => sources.DeltaLog.commitAppend(
      Seq((i.toLong, s"s$i")).toDF("k", "s"), dir))
    // plan only the post-checkpoint range: the pre-range replay must
    // SEED from the checkpoint, walking the 4 tail commits (ckpt at
    // v11, range [12..14]), never the 15-commit history
    val (_, plan) = sources.DeltaLog.changePlan(dir, 12L, 14L,
      Some(spark))
    assert(plan.map(_.version).distinct.sorted == Seq(12L, 13L, 14L))
    assert(sources.DeltaLog.lastChangePlanCommitsRead <= 4,
      s"expected <=4 walked commits (checkpoint-seeded), got " +
        s"${sources.DeltaLog.lastChangePlanCommitsRead}")
    // and the seeded plan agrees with the unseeded one
    val (_, cold) = sources.DeltaLog.changePlan(dir, 12L, 14L, None)
    assert(sources.DeltaLog.lastChangePlanCommitsRead == 15)
    assert(plan.map(cf => (cf.version, cf.changeType, cf.path)) ==
      cold.map(cf => (cf.version, cf.changeType, cf.path)))
  }

  test("SQL COW DML's derived cdc actions stream through the source") {
    // the round-15 CDF-from-COW commits (SQL UPDATE/MERGE through
    // the catalog) stamp cdc actions like mergeInto's — the CDF
    // STREAM source must serve them with exact tags, no derivation
    // from file churn
    val work = Files.createTempDirectory("cdfcow").toString
    spark.conf.set("spark.sql.catalog.gcdf",
      classOf[graft.streaming.GraftDeltaCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcdf.warehouse", s"$work/wh")
    spark.sql("CREATE NAMESPACE gcdf.db")
    spark.sql("CREATE TABLE gcdf.db.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true', " +
      s"'${sources.DeltaLog.CdfKeyColsProp}' = 'k')")
    spark.sql("INSERT INTO gcdf.db.t SELECT id, id FROM range(8)")
    spark.sql("UPDATE gcdf.db.t SET v = v + 100 WHERE k % 2 = 0")
    val dir = graft.streaming.TablePointer
      .read(java.nio.file.Paths.get(s"$work/wh/db/t")).get._1
    drainTo(dir, s"$work/out", s"$work/ckpt",
      Map("startingVersion" -> "2"))
    val got = spark.read.parquet(s"$work/out")
    assert(got.filter(col("_change_type") === "update_preimage")
      .count() === 4)
    assert(got.filter(col("_change_type") === "update_postimage" &&
      col("v") >= 100).count() === 4)
    // and the stream keeps serving later COW MERGEs incrementally
    spark.sql("SELECT * FROM VALUES (1, 7L), (50, 50L) AS s(k, v)")
      .createOrReplaceTempView("cowsrc")
    spark.sql("""MERGE INTO gcdf.db.t t USING cowsrc s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    drainTo(dir, s"$work/out", s"$work/ckpt",
      Map("startingVersion" -> "2"))
    val after = spark.read.parquet(s"$work/out")
    assert(after.filter(col("_change_type") === "insert" &&
      col("k") === 50).count() === 1)
    assert(after.filter(col("_change_type") === "update_postimage" &&
      col("k") === 1 && col("v") === 7).count() === 1)
    // ... and a position-delta DELETE (DV tombstones, round 16)
    // streams its exact delete rows from the same cdc actions
    spark.sql("DELETE FROM gcdf.db.t WHERE k % 3 = 1")
    drainTo(dir, s"$work/out", s"$work/ckpt",
      Map("startingVersion" -> "2"))
    val del = spark.read.parquet(s"$work/out")
      .filter(col("_change_type") === "delete")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(del === Seq(1L, 4L, 7L),
      s"position-delta DELETE cdc rows mismatch: $del")
  }

  test("a schema change mid-history fails the CDF stream loudly") {
    val work = Files.createTempDirectory("cdfstream4").toString
    val dir = s"$work/t"
    sources.DeltaLog.commitAppend(
      Seq((1L, "a")).toDF("k", "s"), dir)
    val st = sources.DeltaLog.replay(dir,
      sources.DeltaLog.versions(dir).last)
    sources.DeltaLog.evolveSchema(dir,
      org.apache.spark.sql.types.StructType(st.schema.fields :+
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType)))
    sources.DeltaLog.commitAppend(
      Seq((2L, "b", 9L)).toDF("k", "s", "x"), dir)
    // a fresh stream sees the post-evolution schema; its range
    // includes the metaData commit whose schema EQUALS it -> fine
    drainTo(dir, s"$work/out", s"$work/ckpt")
    assert(spark.read.option("mergeSchema", "true")
      .parquet(s"$work/out").count() == 2)
    // but a stream whose query-start schema predates the change
    // must refuse: start it pinned BEFORE the evolution by reusing
    // a checkpoint... simplest deterministic arm: the guard itself
    val e = intercept[IllegalArgumentException] {
      sources.DeltaLog.requireNoSchemaChange(dir, 0L,
        sources.DeltaLog.versions(dir).last, st.schema)
    }
    assert(e.getMessage.contains("CHANGES THE TABLE SCHEMA"))
  }
}
