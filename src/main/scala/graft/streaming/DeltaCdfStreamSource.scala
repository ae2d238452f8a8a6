package graft.streaming

import java.util

import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.DeltaLog

/** `spark.readStream.format("graft-delta-cdf")` — the CHANGE DATA
  * FEED as a streaming source: where [[DeltaStreamProvider]] refuses
  * data-removing commits (an append stream cannot express them),
  * this source emits them as `_change_type`-tagged rows — inserts
  * AND row-level deletes — so a downstream silver can consume the
  * full CDC loop natively in streaming (the reference's
  * batch_silver.py consumes op=d rows in batch;
  * spark/batch_silver.py:65-69). Offsets are log versions; batch
  * planning is [[DeltaLog.changePlan]], the same commit walk the
  * batch [[DeltaLog.readChanges]] rides (q152/q181), so the two
  * agree row-for-row:
  *
  *  - an append commit streams its rows as `insert`;
  *  - a whole-file remove streams the file's LIVE rows as `delete`
  *    (rows already masked by the file's deletion vector stay
  *    silent);
  *  - a DV UPDATE (remove+re-add of the same path with a grown
  *    bitmap) streams exactly the newly-set positions as `delete` —
  *    the bitmap diff happens on the EXECUTOR reading that one
  *    file, never materialized on the driver;
  *  - a commit CARRYING `cdc` actions (a foreign writer's change
  *    feed, or this engine's own writes under
  *    `delta.enableChangeDataFeed=true`) streams the named
  *    `_change_data` files with `_change_type` read from INSIDE the
  *    file (update_preimage/update_postimage/insert/delete) — the
  *    protocol requires preferring them over add/remove derivation;
  *  - OPTIMIZE (dataChange=false) contributes nothing.
  *
  * Exactly-once rides Spark's offset checkpoint exactly as the
  * append source does; a batch redelivered after a crash re-emits
  * the same change rows, so an idempotent-apply sink (MERGE +
  * deleteWhere — both state-idempotent) converges
  * (DeltaCdfStreamSourceSpec holds the planted-crash proof).
  *
  * Scope: primitive or struct columns; partitioned tables stream
  * with partition columns reconstructed from each add's
  * partitionValues; COLUMN-MAPPED tables stream with data columns
  * resolved by physical name / parquet field id (round 13 — a
  * mid-history rename never breaks the feed). Options: `path` (required),
  * `startingVersion` (a version, `latest`, or default: all history —
  * the initial snapshot streams as inserts), `maxVersionsPerTrigger`,
  * `vectorizedRead` (default true — struct-free schemas ride the
  * columnar path, DV-filtered partitions through the filtered-copy
  * wrapper). */
class DeltaCdfStreamProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-delta-cdf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DeltaCdfStreamSource.publicSchema(
      DeltaStreamSource.pathOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val path = DeltaStreamSource.pathOf(options)
    new MicroBatchTable(s"graft-delta-cdf:$path", schema, () =>
      new DeltaCdfMicroBatchStream(
        DeltaCdfStreamSource.annotatedSchema(path), path,
        Option(options.get("startingVersion")),
        options.getLong("maxVersionsPerTrigger", Long.MaxValue),
        options.getBoolean("vectorizedRead", true)))
  }
}

private[streaming] object DeltaCdfStreamSource {
  /** Table schema + the two CDF columns. COLUMN-MAPPED tables stream
    * too (round 13): mapped tables are unpartitioned by replay
    * contract so there are no partition-value constants to resolve,
    * the shared reader resolves data columns by physical name /
    * parquet field id from the annotated schema, `_change_type` is
    * unannotated and resolves by its literal name inside cdc change
    * files (it is never mapped — the batch writer's spelling), and
    * the schema-change guard compares PHYSICAL shapes so a historic
    * rename streams straight through. */
  def annotatedSchema(tableDir: String): StructType = {
    val base = DeltaStreamSource.annotatedSchema(tableDir)
    StructType(base.fields ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))
  }

  def publicSchema(tableDir: String): StructType =
    DeltaLog.stripFieldMetadata(annotatedSchema(tableDir))
      .asInstanceOf[StructType]
}

/** `graft-delta-cdf`: the shared core over Delta's log, admitting
  * WHOLE versions only (`maxVersionsPerTrigger`; no file/byte split)
  * — CDF rows of one commit form one transactionally-meaningful unit
  * (a MERGE sink applies per-key net effects). Same `startingVersion`
  * spellings as the append source. */
private class DeltaCdfMicroBatchStream(schema: StructType,
                                       tableDir: String,
                                       startingVersion: Option[String],
                                       maxVersionsPerTrigger: Long,
                                       vectorizedRead: Boolean)
    extends CommitLogStream(
      new DeltaCommitLog(tableDir, skipChangeCommits = false,
        StructType(schema.fields.dropRight(2))),
      StreamSpelling.delta("graft-delta-cdf"), tableDir,
      startingVersion, maxVersionsPerTrigger) {

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[CommitOffset].commitId
    val to = end.asInstanceOf[CommitOffset].commitId
    val vs = DeltaLog.versions(tableDir)
    val fromV = vs.find(_ > from)
    if (fromV.isEmpty || fromV.get > to) return Array.empty
    // the append source's schema-change guard, CDF spelling: a
    // metaData commit inside the range fails the stream loudly
    // (changePlan itself replays metaData silently)
    DeltaLog.requireNoSchemaChange(tableDir, from, to,
      StructType(schema.fields.dropRight(2)))
    // checkpoint-seeded pre-range replay: a long-running stream
    // plans each trigger in O(commits since checkpoint), not
    // O(table history)
    val (_, plan) = DeltaLog.changePlan(tableDir, fromV.get, to,
      scala.util.Try(org.apache.spark.sql.SparkSession.active).toOption)
    // one partition PER CHANGED FILE, each tagged with its commit's
    // constants; DV descriptors ride the partition and the bitmap
    // work happens where the file is read — on the executor. A
    // cdc-action commit's change files carry `_change_type` INSIDE
    // the file (update_preimage/update_postimage/insert/delete — the
    // writer's row-level truth), so it is deliberately NOT a constant
    // there: the reader resolves it from the parquet like any column.
    plan.map { cf =>
      val consts = cf.add.partitionValues ++ (
        if (cf.changeType == "cdc")
          Map("_commit_version" -> cf.version.toString)
        else Map(
          "_change_type" -> cf.changeType,
          "_commit_version" -> cf.version.toString))
      DeltaFilePartition(
        if (cf.path.startsWith("/") || cf.path.contains("://")) cf.path
        else s"$tableDir/${cf.path}",
        consts, tableDir,
        dvSkip = if (cf.dvKeepDiff.isEmpty) cf.add.dv else None,
        dvKeepDiff = cf.dvKeepDiff): InputPartition
    }.toArray
  }

  // COLUMNAR by default: plain partitions ride the zero-copy
  // vectorized path; DV-filtered partitions (where CDC backlogs
  // concentrate) ride the filtered-copy wrapper — decode stays
  // vectorized, survivors are copied by file position
  // ([[RowReadSupport.filteredColumnarReader]]). A DSv2 scan must be
  // UNIFORMLY columnar or row-based, so struct-bearing schemas (the
  // filtered copy handles primitive leaves only) keep the row path.
  override def createReaderFactory(): PartitionReaderFactory =
    new DeltaFileReaderFactory(schema.json,
      columnar = vectorizedRead &&
        schema.fields.forall(f =>
          !f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType]))
}

object DeltaCdfStreamQueries {
  /** q199 — THE CDC LOOP, NATIVE STREAMING END TO END: the DV
    * lifecycle table (q172/q181's fixture — full overwrite, then two
    * stacked deletion-vector deletes) streams through
    * `graft-delta-cdf` one commit per trigger into a foreachBatch
    * sink that APPLIES each batch to a silver Delta table: inserts
    * MERGE in, deletes land as silver's own deletion vectors
    * (stacking across batches); version-granular admission makes a
    * batch one commit, so no intra-batch ordering is needed. The
    * final silver
    * state equals the two-predicate oracle IFF (a) the source
    * delivered every insert and exactly the newly-deleted positions
    * of each DV update — a source that emitted a DV re-add as
    * whole-file churn floods silver with false deletes; (b) the
    * executor-side bitmap diff used the right prior bitmap — v1's
    * tenths re-emitted under v2 double-delete; (c) the sink applied
    * batches in offset order. Restart/replay convergence is
    * spec-held with a planted crash (DeltaCdfStreamSourceSpec). */
  def deltaCdfStreamMerge(spark: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = DeltaLog.ordersDvTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_dcdf").toString
    val silver = s"$work/silver"
    spark.readStream.format("graft-delta-cdf").option("path", t)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                       _: Long) =>
        // version-granular admission (maxVersionsPerTrigger=1) means
        // one batch == ONE commit: a commit is all-inserts or
        // all-deletes here, so no intra-batch net-effect resolution
        // is needed. Cache so the insert/delete splits scan the
        // source files once, not per action.
        val b = batch.persist()
        try {
          // ONE counts job off the cached batch routes every arm —
          // the isEmpty-per-split triad was three jobs (round 17)
          val counts = b.groupBy(col("_change_type")).count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          if (counts.values.sum > 0) {
          val inserts = b
            .filter(col("_change_type") === "insert")
            .drop("_change_type", "_commit_version")
          // the delete keys stay DISTRIBUTED: deleteWhereKeys
          // broadcast-semi-joins them against silver's live rows —
          // no IN-list literal (codegen explodes past a few thousand
          // keys), no driver materialization
          val deletes = b
            .filter(col("_change_type") === "delete")
            .select("o_orderkey")
          if (DeltaLog.versions(silver).isEmpty)
            DeltaLog.commitOverwrite(inserts, silver): Unit
          else if (counts.getOrElse("insert", 0L) > 0)
            DeltaLog.mergeInto(spark, silver, inserts,
              Seq("o_orderkey")): Unit
          if (counts.getOrElse("delete", 0L) > 0)
            DeltaLog.deleteWhereKeys(spark, silver,
              "o_orderkey", deletes): Unit
          }
        } finally b.unpersist(): Unit
      }
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    DeltaLog.read(spark, silver).orderBy(col("o_orderkey"))
  }

  val deltaCdfStreamMergeSql: String =
    """SELECT * FROM orders
      |WHERE o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** q206 — THE CDC LOOP INTO A PARTITIONED SILVER: the CDC-wire
    * table (full orders; an append re-emitting status-'F' %3 keys
    * with priority 'MERGED' — the at-least-once upsert shape a CDC
    * topic delivers; a DV delete of every tenth key) drains through
    * `graft-delta-cdf` one commit per trigger into a
    * STATUS-PARTITIONED silver — the reference's MERGE silver and
    * any 100 TB table is partitioned
    * (/root/reference/spark/batch_silver.py:146-159); until this
    * round the engine's own CDC sinks could only land unpartitioned.
    * The sink: first batch `commitOverwritePartitioned`, upsert
    * batches `mergeInto` keyed (o_orderkey, o_orderstatus) — the
    * partition column IN the keys, so the merge probe composes with
    * partition pruning (the in-loop `require` pins candidates <
    * silver files: the upsert batch touches one of three status
    * partitions) — and delete batches land as silver's own deletion
    * vectors through the partition-aware [[graft.sources.DeltaLog
    * .deleteWhereKeys]] scan. Hash gate: final silver state equals
    * the oracle IFF partition columns reconstructed correctly
    * through every arm (merge rewrite, DV delete, untouched
    * files). */
  def deltaCdfPartitionedSilver(spark: org.apache.spark.sql.SparkSession,
                                dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = DeltaLog.ordersCdcWireTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_dcdfp").toString
    val silver = s"$work/silver"
    val partCols = Seq("o_orderstatus")
    spark.readStream.format("graft-delta-cdf").option("path", t)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                       _: Long) =>
        val b = batch.persist()
        try {
          val counts = b.groupBy(col("_change_type")).count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          if (counts.values.sum > 0) {
          val inserts = b
            .filter(col("_change_type") === "insert")
            .drop("_change_type", "_commit_version")
          val deletes = b
            .filter(col("_change_type") === "delete")
            .select("o_orderkey")
          if (DeltaLog.versions(silver).isEmpty)
            // several files per partition, so partial rewrites and
            // partition pruning have real file sets to act on
            DeltaLog.commitOverwritePartitioned(
              inserts.repartition(4), silver, partCols): Unit
          else if (counts.getOrElse("insert", 0L) > 0) {
            val nAll = DeltaLog.replay(silver,
              DeltaLog.versions(silver).last).files.size
            DeltaLog.mergeInto(spark, silver, inserts,
              Seq("o_orderkey", "o_orderstatus")): Unit
            require(DeltaLog.lastMergeFilesTotal < nAll,
              s"partitioned CDC merge probed " +
                s"${DeltaLog.lastMergeFilesTotal} of $nAll silver " +
                "files — partition pruning is off (the upsert batch " +
                "touches one of three status partitions)")
          }
          if (counts.getOrElse("delete", 0L) > 0)
            DeltaLog.deleteWhereKeys(spark, silver,
              "o_orderkey", deletes): Unit
          }
        } finally b.unpersist(): Unit
      }
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    DeltaLog.read(spark, silver).orderBy(col("o_orderkey"))
  }

  val deltaCdfPartitionedSilverSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate,
      |  CASE WHEN o_orderstatus = 'F' AND o_orderkey % 3 = 0
      |       THEN 'MERGED' ELSE o_orderpriority END
      |    AS o_orderpriority
      |FROM orders WHERE o_orderkey % 10 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** q209 — TRUE OVERWRITE THROUGH THE DELTA CDF STREAM: the
    * two-commit lifecycle table (v0 = even keys; v1 = OVERWRITE with
    * the odds) drains verbatim. The overwrite must stream as its
    * file-set semantics — every v0 row deleted AND every odd row
    * inserted, both at commit 1 — the reason a RESTORE or a
    * dataChange compaction in the history cannot kill a long-running
    * CDF consumer. A source that refused the overwrite dies; one
    * that emitted only the adds misses the deletes; one that leaked
    * v0's files again floods inserts — all hash-mismatch. */
  def deltaCdfOverwriteStream(spark: org.apache.spark.sql.SparkSession,
                              dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = DeltaLog.ordersDeltaTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_dcdfo").toString
    spark.readStream.format("graft-delta-cdf").option("path", t)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$work/data")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    spark.read.parquet(s"$work/data")
      .orderBy(col("o_orderkey"), col("_commit_version"),
        col("_change_type"))
  }

  val deltaCdfOverwriteStreamSql: String =
    """SELECT * FROM (
      |  SELECT o.*, 'insert' AS _change_type,
      |         CAST(0 AS BIGINT) AS _commit_version FROM orders o
      |  WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o.*, 'delete', CAST(1 AS BIGINT) FROM orders o
      |  WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o.*, 'insert', CAST(1 AS BIGINT) FROM orders o
      |  WHERE o_orderkey % 2 = 1
      |) ORDER BY o_orderkey, _commit_version, _change_type""".stripMargin
}
