package graft.streaming

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions,
  NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite,
  DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation,
  WriterCommitMessage}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{DeletionVectors, DeltaLog, Iceberg}

/** DELTA-BASED SQL MERGE over a Delta table — Spark's
  * `SupportsDelta` row-level operation, the architecture real
  * Delta's low-shuffle merge and the Iceberg-Spark connector's
  * position-delta MERGE share:
  *
  *  1. the SCAN pins the table version and surfaces `(_file, _pos)`
  *     as the ROW ID — the physical row identity every deletion
  *     vector keys on ([[MetaCols]]);
  *  2. Spark's `MergeRows` routes each target row to EXACTLY ONE
  *     verdict, and `WriteDelta` hands the connector that verdict
  *     PER ROW: `delete(id)`, `update(id, newRow)`, `insert(row)`.
  *     Unmatched target rows are NEVER written back — the
  *     copy-on-write group rewrite disappears;
  *  3. the COMMIT tombstones the deleted/updated positions as
  *     DELETION VECTORS on the touched files (remove+re-add of the
  *     same path, the Delta DV spelling; stacked DVs union) and adds
  *     the new files holding inserted + updated rows. A MERGE
  *     touching 1% of rows writes ~1% of bytes plus kilobytes of
  *     bitmap — at 100 TB this is the difference between a merge
  *     and a table rewrite.
  *
  * CDF falls out EXACTLY, with no declared key columns and no
  * rewrite diffing: the merge's own per-row verdicts name which
  * positions died (`delete`), which were rewritten
  * (`update_preimage` read back from the touched files by position —
  * one bounded scan; `update_postimage` = the new rows), and which
  * rows are fresh (`insert`). An UPDATE that leaves a row
  * byte-identical still emits its pre/post pair — the verdict, not
  * a diff, decides (closing the rewrite-diff blind spot the
  * group-based path documents).
  *
  * Scope (round 17): ALL SQL row-level DML — MERGE, UPDATE, and
  * untranslatable DELETE — on unmapped AND column-mapped tables
  * (mapped tables are always unpartitioned, replay-enforced; the
  * writers spell physical names, the commit's CDF pre-image scan
  * reads physically / by field id and surfaces logical names, so a
  * rename between merges is a metadata-only no-op to this path).
  * A table opts OUT with `delta.enableDeletionVectors=false` —
  * [[DeltaSqlTable]] then routes to the group-based copy-on-write
  * operation, whose CDF the rewrite derives exactly. Reference
  * surface: spark/batch_gold.py's MERGE upserts and
  * batch_silver.py's update-dominated CDC loop — this is those
  * statements' engine path when the target is large. */
private[streaming] class DeltaPositionMergeOperation(dir: String,
    tableSchema: StructType,
    cmd: RowLevelOperation.Command = RowLevelOperation.Command.MERGE)
  extends RowLevelOperation
  with org.apache.spark.sql.connector.write.SupportsDelta {

  import scala.jdk.CollectionConverters._

  private val base: Long = {
    val vs = DeltaLog.versions(dir)
    require(vs.nonEmpty, s"no _delta_log commits under $dir")
    vs.last
  }

  @volatile private var mainScan: OpenFormatBatchScan = null

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-delta position-delta $cmd on $dir @v$base"

  /** `(_file, _pos)` — the stable physical row identity; the same
    * currency the committed deletion vectors key on. */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(MetaCols.File),
      Expressions.column(MetaCols.Pos))

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new OpenFormatScanBuilder((pushed, required, _) => {
      val scan = DeltaBatchScan(tableSchema,
        new CaseInsensitiveStringMap(Map("path" -> dir,
          "versionAsOf" -> base.toString).asJava),
        pushed, required, limit = None)
      if (mainScan == null) synchronized {
        if (mainScan == null) mainScan = scan
      }
      scan
    })

  override def newWriteBuilder(
      info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = {
          val st = DeltaLog.replay(dir, base)
          val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
            new IllegalStateException(
              "delta MERGE write planned without a rowId schema"))
          new PositionDeltaBatchWrite(DeltaPositionMergeOperation.this,
            dir, info.schema(),
            Dsv2WriteSchemas.physicalFor(Some(st), info.schema()),
            st.partitionColumns, rowIdSchema, DeltaLog.bloomColsOf(st))
        }
      }
    }

  /** The write's commit half: DV-tombstone the touched files, add
    * the new ones, derive exact CDF — one conflict-proven commit. */
  private[streaming] def commitDelta(ins: Seq[DeltaLog.Dsv2File],
      upd: Seq[DeltaLog.Dsv2File],
      del: Seq[(String, Array[Byte])],
      updPos: Seq[(String, Array[Byte])]): Unit = {
    val scan = mainScan
    require(scan != null,
      s"position-delta MERGE on $dir committed before its scan " +
        "planned — nothing pins the base state")
    GraftSqlSeams.positionDeltaMerges.incrementAndGet()
    DeltaLog.commitMergeDeltaDsv2(SparkSession.active, dir, base,
      del, updPos, ins, upd,
      couldMatch = (_, a) =>
        scan.groupFilterKeep(a.partitionValues, a.longBounds),
      op = s"SQL $cmd"): Unit
  }
}

/** Per-task result of a position-delta MERGE: new files holding the
  * INSERTED and UPDATED rows (separately — the CDF tag boundary),
  * plus the deleted/updated row positions as portable bitmaps keyed
  * by the scan's `_file` value. Bitmap payloads are O(changed rows),
  * compressed — the driver merge stays metadata-sized. */
private[streaming] case class MergeDeltaCommitMsg(
    ins: Seq[DeltaLog.Dsv2File], upd: Seq[DeltaLog.Dsv2File],
    del: Seq[(String, Array[Byte])],
    updPos: Seq[(String, Array[Byte])]) extends WriterCommitMessage

private[streaming] class PositionDeltaBatchWrite(
    op: DeltaPositionMergeOperation, tableDir: String,
    logicalSchema: StructType, physicalSchema: StructType,
    partCols: Seq[String], rowIdSchema: StructType,
    bloomCols: Seq[String])
  extends DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory =
    new PositionDeltaWriterFactory(tableDir, logicalSchema.json,
      physicalSchema.json, partCols, rowIdSchema.json,
      bloomCols = bloomCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.toSeq.map(_.asInstanceOf[MergeDeltaCommitMsg])
    op.commitDelta(ms.flatMap(_.ins), ms.flatMap(_.upd),
      ms.flatMap(_.del), ms.flatMap(_.updPos))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.filter(_ != null).foreach {
      case m: MergeDeltaCommitMsg =>
        (m.ins ++ m.upd).foreach(f =>
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(s"$tableDir/${f.relPath}")): Unit)
      case _ => ()
    }
}

private class PositionDeltaWriterFactory(tableDir: String,
    logicalJson: String, physicalJson: String, partCols: Seq[String],
    rowIdJson: String, relPrefix: String = "",
    hiddenSpec: Seq[(String, String)] = Seq.empty,
    bloomCols: Seq[String] = Seq.empty)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DeltaWriter[InternalRow] =
    new PositionDeltaWriter(tableDir,
      DataType.fromJson(logicalJson).asInstanceOf[StructType],
      DataType.fromJson(physicalJson).asInstanceOf[StructType],
      partCols,
      DataType.fromJson(rowIdJson).asInstanceOf[StructType],
      relPrefix, hiddenSpec, bloomCols)
}

/** Executor-side MERGE writer: inserted and updated rows flow into
  * the ordinary stats-tracking [[DeltaDataWriter]]s (one each — the
  * file sets stay separable for exact CDF tags); deleted and updated
  * row ids fold into per-file position bitmaps. A task that only
  * deletes writes zero bytes of data. */
private class PositionDeltaWriter(tableDir: String,
    logical: StructType, physical: StructType, partCols: Seq[String],
    rowIdSchema: StructType, relPrefix: String = "",
    hiddenSpec: Seq[(String, String)] = Seq.empty,
    bloomCols: Seq[String] = Seq.empty)
  extends DeltaWriter[InternalRow] {

  // rowId field positions resolved by NAME — never assume the
  // projection's order matches the declaration's
  private val fileIdx = rowIdSchema.fieldIndex(MetaCols.File)
  private val posIdx = rowIdSchema.fieldIndex(MetaCols.Pos)

  private def mkWriter() =
    new DeltaDataWriter(tableDir, logical, physical, partCols,
      relPrefix, hiddenSpec, bloomCols)
  private var insW: DeltaDataWriter = null
  private var updW: DeltaDataWriter = null
  private val delBms =
    mutable.Map.empty[String, DeletionVectors.Bitmap64]
  private val updBms =
    mutable.Map.empty[String, DeletionVectors.Bitmap64]

  private def mark(m: mutable.Map[String, DeletionVectors.Bitmap64],
                   id: InternalRow): Unit = {
    require(!id.isNullAt(fileIdx) && !id.isNullAt(posIdx),
      "MERGE row id with null (_file, _pos) — a target row the scan " +
        "never produced")
    m.getOrElseUpdate(id.getUTF8String(fileIdx).toString,
      new DeletionVectors.Bitmap64).add(id.getLong(posIdx))
  }

  override def insert(row: InternalRow): Unit = {
    if (insW == null) insW = mkWriter()
    insW.write(row)
  }

  override def update(meta: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    mark(updBms, id)
    if (updW == null) updW = mkWriter()
    updW.write(row)
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    mark(delBms, id)

  override def commit(): WriterCommitMessage = {
    def filesOf(w: DeltaDataWriter): Seq[DeltaLog.Dsv2File] =
      if (w == null) Seq.empty
      else w.commit().asInstanceOf[Dsv2CommitMsg].files
    def ser(m: mutable.Map[String, DeletionVectors.Bitmap64])
        : Seq[(String, Array[Byte])] =
      m.toSeq.map { case (f, bm) => f -> bm.serializePortable }
    MergeDeltaCommitMsg(filesOf(insW), filesOf(updW),
      ser(delBms), ser(updBms))
  }

  override def abort(): Unit = {
    if (insW != null) insW.abort()
    if (updW != null) updW.abort()
  }

  override def close(): Unit = {
    if (insW != null) insW.close()
    if (updW != null) updW.close()
  }
}

/** [[DeltaPositionMergeOperation]]'s ICEBERG twin — real Iceberg's
  * merge-on-read MERGE: the same `(_file, _pos)` row ids and per-row
  * verdicts, committed as ONE v2 snapshot carrying a POSITION-DELETE
  * manifest (the spec's content=1 MoR currency, explicit
  * (file, pos) targets — what a foreign Iceberg reader applies as an
  * anti-join and this engine's scans fold into position masks) plus
  * the new data manifest. No data file rewritten; the MoR debt is
  * reclaimed by `rewrite_data_files` on the maintenance cadence.
  * Scope: unpartitioned, hidden-transform, and hive-stripped
  * identity tables (everything this engine's writer lays out);
  * foreign standard-layout identity tables — whose data files CARRY
  * partition columns — take the COW path instead, keeping one
  * layout per table. */
private[streaming] class IcebergPositionMergeOperation(dir: String,
    tableSchema: StructType,
    cmd: RowLevelOperation.Command = RowLevelOperation.Command.MERGE)
  extends RowLevelOperation
  with org.apache.spark.sql.connector.write.SupportsDelta {

  import scala.jdk.CollectionConverters._

  private val baseSnap: Long = Iceberg.mainSnapshotId(dir)

  @volatile private var mainScan: OpenFormatBatchScan = null

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-iceberg position-delta $cmd on $dir @snap$baseSnap"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(MetaCols.File),
      Expressions.column(MetaCols.Pos))

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new OpenFormatScanBuilder((pushed, required, _) => {
      val scan = IcebergBatchScan(tableSchema,
        new CaseInsensitiveStringMap(Map("path" -> dir,
          "snapshotAsOf" -> baseSnap.toString).asJava),
        pushed, required, limit = None)
      if (mainScan == null) synchronized {
        if (mainScan == null) mainScan = scan
      }
      scan
    })

  override def newWriteBuilder(
      info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = {
          val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
            new IllegalStateException(
              "iceberg MERGE write planned without a rowId schema"))
          // inherit the table's CURRENT spec whole — identity
          // (hive-stripped) XOR hidden transforms, the write
          // builder's own resolution rule
          val spec = Iceberg.currentSpecFields(dir)
          val hidden = spec.filter(_._2 != "identity")
          val partCols =
            if (hidden.nonEmpty) Seq.empty else spec.map(_._1)
          new IcebergPositionDeltaBatchWrite(
            IcebergPositionMergeOperation.this, dir, info.schema(),
            partCols, hidden, rowIdSchema)
        }
      }
    }

  private[streaming] def commitDelta(ins: Seq[DeltaLog.Dsv2File],
      upd: Seq[DeltaLog.Dsv2File],
      del: Seq[(String, Array[Byte])],
      updPos: Seq[(String, Array[Byte])]): Unit = {
    val scan = mainScan
    require(scan != null,
      s"position-delta MERGE on $dir committed before its scan " +
        "planned — nothing pins the base state")
    GraftSqlSeams.positionDeltaMerges.incrementAndGet()
    // conflict footprint = the scan's own pushed filters: a racing
    // append whose file stats provably miss every conjunct range is
    // disjoint and the commit retries internally (the Delta path's
    // groupFilterKeep discipline); an unprovable add aborts loudly
    Iceberg.commitMergeDsv2(SparkSession.active, dir, baseSnap,
      del, updPos, ins, upd,
      valueRanges =
        SqlFilters.conjunctLongRanges(scan.pushedGroupFilters),
      opName = s"SQL $cmd"): Unit
  }
}

private[streaming] class IcebergPositionDeltaBatchWrite(
    op: IcebergPositionMergeOperation, tableDir: String,
    logicalSchema: StructType, partCols: Seq[String],
    hiddenSpec: Seq[(String, String)], rowIdSchema: StructType)
  extends DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory =
    new PositionDeltaWriterFactory(tableDir, logicalSchema.json,
      IcebergDsv2Write.fieldIdSchema(logicalSchema).json, partCols,
      rowIdSchema.json, relPrefix = "data/", hiddenSpec = hiddenSpec)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.toSeq.map(_.asInstanceOf[MergeDeltaCommitMsg])
    op.commitDelta(ms.flatMap(_.ins), ms.flatMap(_.upd),
      ms.flatMap(_.del), ms.flatMap(_.updPos))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.filter(_ != null).foreach {
      case m: MergeDeltaCommitMsg =>
        (m.ins ++ m.upd).foreach(f =>
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(s"$tableDir/${f.relPath}")): Unit)
      case _ => ()
    }
}
