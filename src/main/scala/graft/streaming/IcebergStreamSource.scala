package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.Iceberg

/** `spark.readStream.format("graft-iceberg")` — the
  * [[DeltaStreamProvider]] twin over the Iceberg metadata chain:
  * SNAPSHOT IDS are the offsets, batch planning is the snapshot-diff
  * manifest walk ([[Iceberg.addedFilesSnapshotIterator]] — each
  * append snapshot's own manifest-list names its new manifest, only
  * status=ADDED entries count), and the shared executor-side Group
  * reader resolves columns BY PARQUET FIELD ID — so a stream over a
  * RENAMED table reads pre-rename files correctly, something a
  * by-name reader cannot do. Non-append snapshots refuse loudly
  * unless `skipOverwriteSnapshots` (Iceberg's own
  * streaming-skip-overwrite-snapshots escape hatch).
  *
  * Options: `path` (required), `skipOverwriteSnapshots` (default
  * false), `startingSnapshotId` (exclusive; a snapshot id or `latest`;
  * default 0 = full history), `maxSnapshotsPerTrigger`, `maxFilesPerTrigger` /
  * `maxBytesPerTrigger` (admission control that SPLITS within a
  * snapshot — offsets are (snapshotId, fileIndex); manifest byte
  * sizes are the byte currency), `vectorizedRead` (default true —
  * ColumnarBatch emission), `filter` (a SQL predicate the planner
  * prunes files with — identity partition tuples + manifest value
  * bounds, [[StreamFilter]]; the query must still `.filter(...)` the
  * same predicate for exactness), `branch` (stream a named BRANCH's
  * lineage instead of published main — the WAP auditor's view;
  * after `fastForward` the same checkpoint continues on main with no
  * re-delivery, offsets being snapshot ids). Scope: primitive columns;
  * identity-PARTITIONED tables stream too — each file's manifest
  * tuple rides its InputPartition and the reader emits the stripped
  * partition columns as per-row constants (q197). Only snapshots
  * reachable from the MAIN branch head stream (WAP-staged branches
  * and rolled-back snapshots are unpublished history); a mid-stream
  * schema change (new/retyped field id) fails the stream loudly,
  * while metadata-only renames stream through. */
class IcebergStreamProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-iceberg"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    IcebergStreamSource.checkedSchema(
      IcebergStreamSource.pathOf(options))._1

  // writes hand the DataFrame's own schema + partitionBy transforms
  // to getTable (new tables have no metadata to infer from)
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new IcebergStreamTable(schema,
      new CaseInsensitiveStringMap(properties), partitioning)
}

private[streaming] object IcebergStreamSource {
  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft-iceberg needs .option(\"path\", <tableDir>)")
    p
  }

  def checkedSchema(tableDir: String): (StructType, Map[String, Int]) = {
    val (schema, ids) = Iceberg.streamSchema(tableDir)
    schema.fields.foreach(f => require(f.dataType match {
      case LongType | IntegerType | DoubleType | FloatType |
           BooleanType | StringType | TimestampType |
           TimestampNTZType | DateType => true
      case _ => false
    }, s"graft-iceberg: unsupported streaming column type " +
      s"${f.dataType} for ${f.name}"))
    (schema, ids)
  }

  /** The schema-change signature: (field id → type shape) when the
    * table resolves by field id — renames keep it stable — falling
    * back to (name → type shape) on name-mapped tables. */
  private def schemaSig(tableDir: String): Map[String, String] = {
    val (sch, ids) = Iceberg.streamSchema(tableDir)
    if (ids.nonEmpty)
      ids.map { case (n, id) =>
        id.toString ->
          graft.sources.DeltaLog.schemaShape(sch(n).dataType).json }
    else
      sch.fields.map(f =>
        f.name -> graft.sources.DeltaLog.schemaShape(f.dataType).json)
        .toMap
  }

  /** SCHEMA CHANGES FAIL LOUDLY: Iceberg schema evolution is a
    * metadata-version bump, not a snapshot, so it never appears
    * "inside" an offset range — instead each trigger runs the
    * returned check, comparing the table's CURRENT [[schemaSig]] with
    * the one captured here at query start. A RENAME (same ids, same
    * types, the q193 lifecycle) streams straight through, while an
    * ADD COLUMN fails the stream with a restart message rather than
    * silently dropping the new column under the stale schema. */
  def schemaGuard(tableDir: String): () => Unit = {
    val startSig = schemaSig(tableDir)
    () => require(schemaSig(tableDir) == startSig,
      s"the schema of $tableDir CHANGED mid-stream (a field id was " +
        "added, dropped or retyped) — streaming on would silently " +
        "drop the new columns under the query-start schema. Restart " +
        "the query to pick up the evolved schema (files written " +
        "before the change read NULL for new columns).")
  }
}

private class IcebergStreamTable(schema: StructType,
                                 options: CaseInsensitiveStringMap,
                                 declaredPartitioning: Array[Transform] =
                                   Array.empty)
    extends Table with SupportsRead with OpenFormatMetadata
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def dataSchema: StructType = schema
  override def name(): String =
    s"graft-iceberg:${IcebergStreamSource.pathOf(options)}"
  override def columns()
      : Array[org.apache.spark.sql.connector.catalog.Column] =
    schema.fields.map(f =>
      org.apache.spark.sql.connector.catalog.Column.create(
        f.name, f.dataType, f.nullable))
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava

  /** The METADATA's identity spec as transforms once the table
    * exists (the DataFrameWriter validates partitionBy against
    * this); a table with no metadata yet reports whatever the write
    * declared. */
  override def partitioning(): Array[Transform] = {
    val dir = IcebergStreamSource.pathOf(options)
    val fromMeta = scala.util.Try {
      if (graft.sources.Iceberg.versions(dir).isEmpty)
        Seq.empty[(String, String)]
      else graft.sources.Iceberg.currentSpecFields(dir)
    }.getOrElse(Seq.empty)
    if (fromMeta.nonEmpty)
      fromMeta.collect { case (c, "identity") =>
        org.apache.spark.sql.connector.expressions.Expressions
          .identity(c): Transform
      }.toArray
    else declaredPartitioning
  }

  /** `df.write.format("graft-iceberg")` — the native DSv2 write
    * ([[IcebergDsv2WriteBuilder]]): partitionBy(...) arrives as
    * identity transforms (derived transforms write through
    * [[graft.sources.Iceberg.commitAppendHidden]]). */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val partCols = declaredPartitioning.toSeq.map { t =>
      require(t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1,
        s"graft-iceberg write: unsupported partition transform $t — " +
          "derived transforms write through Iceberg.commitAppendHidden")
      t.references()(0).fieldNames()(0)
    }
    new IcebergDsv2WriteBuilder(IcebergStreamSource.pathOf(options),
      info, partCols)
  }
  // one builder serves both surfaces: batch planning gets pushdown
  // (filters/columns/statistics/runtime filters — BatchRead.scala),
  // streaming scans delegate to [[IcebergStreamScan]] untouched
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new OpenFormatScanBuilder((pushed, required, limit) =>
      IcebergBatchScan(schema, options, pushed, required, limit))
}

private class IcebergStreamScan(schema: StructType,
                                options: CaseInsensitiveStringMap)
    extends Scan {
  override def readSchema(): StructType = schema
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new IcebergMicroBatchStream(schema,
      IcebergStreamSource.pathOf(options),
      options.getBoolean("skipOverwriteSnapshots", false),
      Option(options.get("startingSnapshotId")),
      options.getLong("maxSnapshotsPerTrigger", Long.MaxValue),
      options.getLong("maxFilesPerTrigger", Long.MaxValue),
      options.getLong("maxBytesPerTrigger", Long.MaxValue),
      options.getBoolean("vectorizedRead", true),
      Option(options.get("filter")),
      Option(options.get("branch")))
}

/** Iceberg's metadata chain as the [[CommitLogStream]] core reads
  * it: snapshot ids are the commit ids (monotonic in this writer),
  * the head is the PUBLISHED main head or the `branch` head — never
  * the max id, so an offset cannot advance past WAP-staged snapshots
  * a later fastForward publishes — and
  * [[Iceberg.addedFilesSnapshotIterator]] walks each snapshot's own
  * manifests (status=ADDED entries; non-append snapshots refuse
  * unless `skipOverwriteSnapshots`). */
private class IcebergCommitLog(tableDir: String,
                               skipOverwriteSnapshots: Boolean,
                               branch: Option[String]) extends CommitLog {
  override def head(): Long = Iceberg.streamHead(tableDir, branch)
  override def addedFiles(fromExclusive: Long, to: Long)
      : Iterator[(Long, Seq[graft.sources.DeltaLog.StreamFile])] =
    Iceberg.addedFilesSnapshotIterator(tableDir, fromExclusive, to,
      skipOverwriteSnapshots, branch)
}

/** `graft-iceberg`: the shared core over [[IcebergCommitLog]] —
  * offsets are (snapshotId, fileIndex), manifest byte sizes are the
  * byte currency, `startingSnapshotId` is exclusive. */
private class IcebergMicroBatchStream(schema: StructType,
                                      tableDir: String,
                                      skipOverwriteSnapshots: Boolean,
                                      startingSnapshotId: Option[String],
                                      maxSnapshotsPerTrigger: Long,
                                      maxFilesPerTrigger: Long,
                                      maxBytesPerTrigger: Long,
                                      vectorizedRead: Boolean,
                                      filterSql: Option[String],
                                      branch: Option[String])
    extends CommitLogStream(
      new IcebergCommitLog(tableDir, skipOverwriteSnapshots, branch),
      StreamSpelling.iceberg("graft-iceberg"), tableDir,
      startingSnapshotId, maxSnapshotsPerTrigger, maxFilesPerTrigger,
      maxBytesPerTrigger, StreamFilter.pruner(filterSql, schema)) {

  private val requireUnchangedSchema =
    IcebergStreamSource.schemaGuard(tableDir)

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    requireUnchangedSchema()
    super.planInputPartitions(start, end)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val (_, ids) = IcebergStreamSource.checkedSchema(tableDir)
    new DeltaFileReaderFactory(schema.json, ids,
      columnar = vectorizedRead)
  }
}

object IcebergStreamQueries {
  /** q193 — STREAMING READ OF THE METADATA CHAIN, POST-RENAME: drain
    * the renamed lifecycle table (even keys appended, column renamed
    * metadata-only, odd keys appended under the new name) through
    * `readStream.format("graft-iceberg")`. The landed rows equal
    * full orders with the `priority` column IFF the snapshot-diff
    * planner delivered both appends exactly once AND the
    * executor-side reader resolved the PRE-rename files by parquet
    * field id — a by-name reader NULLs the renamed column for half
    * the table and hash-mismatches. */
  def icebergStreamRead(spark: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame = {
    val t = Iceberg.ordersIcebergRenameTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_istream").toString
    spark.readStream.format("graft-iceberg").option("path", t).load()
      .writeStream.format("parquet")
      .option("path", s"$work/data")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    spark.read.parquet(s"$work/data")
      .orderBy(org.apache.spark.sql.functions.col("o_orderkey"))
  }

  val icebergStreamReadSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority AS priority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q197 — STREAMING AN IDENTITY-PARTITIONED ICEBERG TABLE: the
    * partition column exists only in each file's manifest tuple
    * (data files land hive-style without it), so the snapshot-diff
    * planner must hand the tuple to the reader and the reader must
    * emit it as a per-row constant — a planner that dropped the
    * tuple NULLs the status column for every row and
    * hash-mismatches the full-orders oracle. */
  def icebergStreamPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val t = Iceberg.ordersIcebergPartAppendTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_ipart").toString
    spark.readStream.format("graft-iceberg").option("path", t).load()
      .writeStream.format("parquet")
      .option("path", s"$work/data")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    spark.read.parquet(s"$work/data")
      .orderBy(org.apache.spark.sql.functions.col("o_orderkey"))
  }

  val icebergStreamPartitionedSql: String =
    """SELECT * FROM orders ORDER BY o_orderkey"""

  /** q203 — STREAMING THE WAP AUDIT BRANCH: the pre-publish staged
    * table (evens committed on main, odds staged onto `audit`, NO
    * fast-forward) drains with `branch=audit` — the auditor's view.
    * The result equals FULL orders IFF the ancestry walk followed
    * the branch ref's lineage (branch head → staged snapshot → main
    * base): a walk from main's head misses the odds; one that
    * ignored ancestry and took every snapshot would also pull
    * unrelated staged/rolled-back ids on richer histories
    * (spec-held); and the offset cap at the BRANCH head (not max id)
    * is what lets a later fastForward hand the main stream these
    * same snapshots without loss (IcebergStreamSourceSpec). */
  def icebergBranchStream(spark: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame = {
    val t = Iceberg.ordersIcebergWapStageTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_ibranch").toString
    spark.readStream.format("graft-iceberg").option("path", t)
      .option("branch", "audit").load()
      .writeStream.format("parquet")
      .option("path", s"$work/data")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    spark.read.parquet(s"$work/data")
      .orderBy(org.apache.spark.sql.functions.col("o_orderkey"))
  }

  val icebergBranchStreamSql: String =
    """SELECT * FROM orders ORDER BY o_orderkey"""
}
