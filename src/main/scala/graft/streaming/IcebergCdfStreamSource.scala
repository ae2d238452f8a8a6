package graft.streaming

import java.util

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Iceberg

/** `spark.readStream.format("graft-iceberg-cdf")` — the
  * [[DeltaCdfStreamProvider]] twin over the Iceberg metadata chain:
  * where the append source refuses delete snapshots, this source
  * emits them as `_change_type`-tagged row-level changes:
  *
  *  - an `append` snapshot streams its added data files as `insert`;
  *  - a `delete` snapshot (v2 MERGE-ON-READ position deletes)
  *    streams EXACTLY its newly-deleted rows as `delete` — each
  *    delete snapshot's own position-delete file holds only that
  *    snapshot's (file, pos) pairs ([[Iceberg.deleteWhere]]
  *    anti-joins prior deletes at write time), so the planner ships
  *    the delete file to ONE executor task which reads the named
  *    positions out of the untouched data files;
  *  - an EQUALITY-delete snapshot (content=2 — the Flink-CDC upsert
  *    wire, what [[Iceberg.upsert]] writes per checkpoint) streams
  *    one `delete` row per doomed KEY with the non-key columns NULL:
  *    the delete file itself is a parquet of the distinct key values,
  *    so the reader is the plain row path with name-resolution
  *    null-fill — O(keys) read and output, no data file touched. A
  *    MERGE / delete-by-key sink (q202) converges on exactly these;
  *  - a TRUE (non-creation) `overwrite` snapshot streams as its
  *    FILE-SET DIFF against the parent: removed files' LIVE rows as
  *    `delete` (rows the parent's position deletes had already
  *    masked stay silent), added files as `insert` — the batch
  *    table-diff algebra, so a RESTORE or dataChange compaction in
  *    the history no longer kills a long-running consumer.
  *    `skipOverwriteSnapshots=true` (Iceberg's own option name)
  *    skips such snapshots whole; a parent state carrying EQUALITY
  *    deletes refuses to the batch table-diff reads (their
  *    value-matched masking cannot be inverted per removed file).
  *
  * Offsets are snapshot ids (the append source's rule); WAP-staged
  * branch and rolled-back snapshots never stream (main-ancestry
  * walk); exactly-once rides Spark's offset checkpoint; the
  * schema-signature guard fails the stream loudly on mid-stream
  * evolution. Scope: primitive columns; partitioned tables stream
  * with partition columns reconstructed — inserts from each data
  * file's manifest tuple (the append source's rule), pos-delete
  * rows from the per-data-file tuples threaded into the partition,
  * eq-delete rows from the delete file itself whenever the
  * partition columns are equality key columns (the
  * identity-partitioned CDC-table shape; otherwise they null-fill
  * like any non-key column). Options: `path` (required),
  * `startingSnapshotId` (exclusive), `maxSnapshotsPerTrigger`,
  * `skipOverwriteSnapshots`, `vectorizedRead`, and
  * `eqDeletePreimages` (round 14: delete rows carry the FULL rows
  * they retired — doomed keys joined against the parent snapshot's
  * live data on the executor, priced as O(matching files) by a
  * planner-side key-bounds prune, with the parent's positional AND
  * sequence-scoped equality masks applied so a stacked upsert
  * history never resurrects a dead key version; rides the row read
  * path end to end). */
class IcebergCdfStreamProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-iceberg-cdf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    IcebergCdfStreamSource.cdfSchema(
      IcebergStreamSource.pathOf(options))._1

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val path = IcebergStreamSource.pathOf(options)
    new MicroBatchTable(s"graft-iceberg-cdf:$path", schema, () =>
      new IcebergCdfMicroBatchStream(schema, path,
        Option(options.get("startingSnapshotId")),
        options.getLong("maxSnapshotsPerTrigger", Long.MaxValue),
        options.getBoolean("vectorizedRead", true),
        options.getBoolean("skipOverwriteSnapshots", false),
        options.getBoolean("eqDeletePreimages", false)))
  }
}

private[streaming] object IcebergCdfStreamSource {
  def cdfSchema(tableDir: String): (StructType, Map[String, Int]) = {
    val (schema, ids) = IcebergStreamSource.checkedSchema(tableDir)
    // data columns surface NULLABLE regardless of the table schema:
    // an equality-delete row carries only its key columns, and a
    // null in a column DECLARED non-null silently reads as 0/"" —
    // wrong values beat a wrong nullability flag in no world
    (StructType(schema.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false))),
      ids)
  }
}

/** One delete snapshot's worth of row-level deletes: the executor
  * reads the position-delete parquet (file_path, pos — sorted by
  * construction), then walks each named data file emitting exactly
  * the listed positions. O(delta) output for O(touched files) read —
  * the same cost shape as the batch MoR scan of those files.
  * `fileTuples` carries each data file's identity partition tuple
  * (empty on unpartitioned tables), merged into the constants
  * per data file so hive-stripped files reconstruct their partition
  * columns. */
private case class IcebergPosDeletePartition(deleteFile: String,
    constants: Map[String, String],
    fileTuples: Map[String, Map[String, String]] = Map.empty)
    extends InputPartition

/** One REMOVED data file of a true-overwrite snapshot: the executor
  * streams its LIVE rows as deletes — every row EXCEPT the positions
  * the parent snapshot's position-delete files (`maskFiles`) list
  * for it (those rows were already dead; emitting them would
  * double-delete downstream). The inverse keep-filter of
  * [[IcebergPosDeletePartition]]. */
private case class IcebergRemovedFilePartition(dataFile: String,
    maskFiles: Seq[String], constants: Map[String, String])
    extends InputPartition

/** One equality-delete file under the `eqDeletePreimages` option:
  * the executor reads the doomed KEY tuples (O(keys)), then walks
  * the planner-pruned parent data files emitting each live row whose
  * key is doomed — the full pre-image, partition tuples restored
  * from `dataFiles`' manifest values. */
private case class IcebergEqDeletePreimagePartition(deleteFile: String,
    keyCols: Seq[String],
    dataFiles: Seq[(String, Map[String, String], Long)],
    maskFiles: Seq[String],
    eqMasks: Seq[(String, Seq[String], Long)],
    constants: Map[String, String])
    extends InputPartition

/** `graft-iceberg-cdf`: the shared core over Iceberg's PUBLISHED
  * main lineage (never the max snapshot id — an offset that advanced
  * past WAP-staged ids would skip their rows when a later
  * fastForward publishes them), admitting WHOLE snapshots only
  * (`maxSnapshotsPerTrigger`): one snapshot's changes form one
  * transactionally-meaningful unit for a CDC-applying sink. Same
  * `startingSnapshotId` spellings as the append source. */
private class IcebergCdfMicroBatchStream(schema: StructType,
                                         tableDir: String,
                                         startingSnapshotId: Option[String],
                                         maxSnapshotsPerTrigger: Long,
                                         vectorizedRead: Boolean,
                                         skipOverwriteSnapshots: Boolean,
                                         eqDeletePreimages: Boolean)
    extends CommitLogStream(
      new IcebergCommitLog(tableDir, skipOverwriteSnapshots, None),
      StreamSpelling.iceberg("graft-iceberg-cdf"), tableDir,
      startingSnapshotId, maxSnapshotsPerTrigger) {

  private val requireUnchangedSchema =
    IcebergStreamSource.schemaGuard(tableDir)

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    requireUnchangedSchema()
    val from = start.asInstanceOf[CommitOffset].commitId
    val to = end.asInstanceOf[CommitOffset].commitId
    Iceberg.cdfPlanBySnapshot(tableDir, from, to,
      skipOverwriteSnapshots).flatMap { snap =>
      val insertConsts = Map(
        "_change_type" -> "insert",
        "_commit_version" -> snap.id.toString)
      val deleteConsts = Map(
        "_change_type" -> "delete",
        "_commit_version" -> snap.id.toString)
      snap.dataFiles.map(f => DeltaFilePartition(
        f.path, f.partitionValues ++ insertConsts): InputPartition) ++
        // pos-delete rows are read OUT of the data files — each
        // file's manifest partition tuple rides along so stripped
        // identity-partitioned files reconstruct their columns
        snap.posDeleteFiles.map { d =>
          // thread only the TARGET files' tuples into each task:
          // dataTuples holds EVERY live file's tuple at the
          // snapshot, so shipping it whole makes the per-task
          // payload O(table-file-count) instead of O(files this
          // delete file touches). One driver-side O(delete-rows)
          // read per delete file — the same class of work the
          // executor repeats for the rows themselves.
          val tuples =
            if (snap.dataTuples.isEmpty) snap.dataTuples
            else {
              def norm(p: String) = p.replaceFirst(
                "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
              val targets = Iceberg.posDeleteTargetPaths(d)
              snap.dataTuples.filter { case (k, _) =>
                targets.contains(norm(k)) }
            }
          IcebergPosDeletePartition(d, deleteConsts,
            tuples): InputPartition
        } ++
        // an EQUALITY-delete file is itself a parquet of the doomed
        // KEY VALUES — it rides the plain row reader, whose
        // name-resolution null-fills the non-key columns: one
        // `delete` row per distinct key, O(keys) work, no data
        // file touched (the Flink-CDC upsert wire shape). Partition
        // columns surface whenever they are equality key columns
        // (the identity-partitioned CDC-table shape); otherwise they
        // null-fill like any non-key column.
        (if (!eqDeletePreimages)
          snap.eqDeleteFiles.map(d => DeltaFilePartition(
            d, deleteConsts): InputPartition)
         else
          // OPT-IN pre-image enrichment: instead of key rows with
          // null-filled non-key columns (the wire shape), each
          // delete row carries the FULL row it retired — the doomed
          // keys joined against the PARENT snapshot's live data,
          // priced as O(matching files) via the planner's key-bounds
          // prune (what a Debezium-style downstream consumer wants)
          Iceberg.eqDeletePreimagePlan(tableDir, snap.id).map {
            case (d, keyCols, dataFiles, masks, eqMasks) =>
              IcebergEqDeletePreimagePartition(d, keyCols, dataFiles,
                masks, eqMasks, deleteConsts): InputPartition
          }) ++
        // a true overwrite's REMOVED side: live rows stream as
        // deletes, masked by the parent's position deletes
        snap.removedFiles.map(f => IcebergRemovedFilePartition(
          f.path, snap.removedMaskFiles,
          f.partitionValues ++ deleteConsts): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val (_, ids) = IcebergStreamSource.checkedSchema(tableDir)
    // Spark refuses MIXED row/columnar partitions within one batch;
    // the pre-image partitions are row-based (per-row key probes),
    // so the option rides the row path end to end
    new IcebergCdfReaderFactory(schema.json, ids,
      columnar = vectorizedRead && !eqDeletePreimages)
  }
}

/** Factory for both CDF partition shapes, COLUMNAR by default (the
  * schema is primitive by scope): plain data files and equality-
  * delete key files ride the shared [[DeltaFileReaderFactory]]
  * vectorized path; position-delete partitions get a two-phase
  * columnar reader — the (file, pos) pairs are read row-wise (a
  * delete file is O(that snapshot's deletes)), then each named data
  * file is read VECTORIZED with the listed positions as the
  * keep-filter ([[RowReadSupport.filteredColumnarReader]]). The row
  * path is kept behind `vectorizedRead=false`. */
private class IcebergCdfReaderFactory(schemaJson: String,
    fieldIds: Map[String, Int], columnar: Boolean = true)
    extends PartitionReaderFactory {
  import RowReadSupport.{decodeConstant, resolve, value, FieldRes}

  private val delegate =
    new DeltaFileReaderFactory(schemaJson, fieldIds,
      columnar = columnar)

  override def supportColumnarReads(partition: InputPartition)
      : Boolean = columnar

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case _: DeltaFilePartition =>
        delegate.createColumnarReader(partition)
      case p: IcebergPosDeletePartition =>
        RowReadSupport.lastReadPath = "columnar"
        val schema =
          DataType.fromJson(schemaJson).asInstanceOf[StructType]
        val files = posDeleteTargets(p.deleteFile)
        // tuple keys normalized like the delete-file paths they are
        // looked up by (normPath contract)
        val tuples = p.fileTuples.map { case (k, v) =>
          normPath(k) -> v }
        // one filtered VECTORIZED reader per named data file, chained
        new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
          private var fileIdx = -1
          private var cur: PartitionReader[
            org.apache.spark.sql.vectorized.ColumnarBatch] = _
          private def nextFile(): Boolean = {
            if (cur != null) { cur.close(); cur = null }
            fileIdx += 1
            if (fileIdx >= files.size) false
            else {
              val (f, positions) = files(fileIdx)
              val (reader, order) =
                delegate.openVectorized(f,
                  p.constants ++ tuples.getOrElse(f, Map.empty),
                  schema)
              // sorted positions -> binary-search membership
              cur = RowReadSupport.filteredColumnarReader(
                reader, schema, order,
                pos => java.util.Arrays.binarySearch(positions, pos) >= 0)
              true
            }
          }
          override def next(): Boolean = {
            while (true) {
              if (cur == null) { if (!nextFile()) return false }
              if (cur.next()) return true
              cur.close(); cur = null
            }
            false
          }
          override def get()
              : org.apache.spark.sql.vectorized.ColumnarBatch =
            cur.get()
          override def close(): Unit =
            if (cur != null) cur.close()
        }
      case p: IcebergRemovedFilePartition =>
        RowReadSupport.lastReadPath = "columnar"
        val schema =
          DataType.fromJson(schemaJson).asInstanceOf[StructType]
        val skip = maskPositions(p.dataFile, p.maskFiles)
        val (reader, order) =
          delegate.openVectorized(p.dataFile, p.constants, schema)
        // the INVERSE keep-filter of the pos-delete reader: live
        // rows only
        RowReadSupport.filteredColumnarReader(reader, schema, order,
          pos => java.util.Arrays.binarySearch(skip, pos) < 0)
      case other => throw new IllegalArgumentException(
        s"unexpected partition $other")
    }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = partition match {
    case _: DeltaFilePartition => delegate.createReader(partition)
    case p: IcebergPosDeletePartition => posDeleteReader(p)
    case p: IcebergRemovedFilePartition => removedFileReader(p)
    case p: IcebergEqDeletePreimagePartition => preimageReader(p)
    case other => throw new IllegalArgumentException(
      s"unexpected partition $other")
  }

  /** Canonical key-value spelling shared by the delete-file read and
    * the data-file probe — ints widen to longs, string spellings
    * unify — so tuple equality means VALUE equality. */
  private def canonKey(v: Any): Any = v match {
    case i: java.lang.Integer => i.longValue()
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case other => other
  }

  /** Pre-image reader: phase 1 reads the delete file's key tuples
    * (O(keys)); phase 2 walks each planner-pruned parent data file,
    * skipping parent-masked positions, emitting rows whose key tuple
    * is doomed. Key columns absent from a (hive-stripped) data file
    * resolve from its manifest partition tuple. */
  private def preimageReader(p: IcebergEqDeletePreimagePartition)
      : PartitionReader[InternalRow] = {
    RowReadSupport.lastReadPath = "row"
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    def readTuples(file: String, cols: Seq[String]): Set[Seq[Any]] = {
      val fields = cols.map(c => schema.fields.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(
          s"equality key $c not in stream schema")))
      val dr = ParquetReader.builder(new GroupReadSupport(),
        new Path(file)).build()
      val acc = scala.collection.mutable.Set.empty[Seq[Any]]
      try {
        var g = dr.read()
        var res: Array[FieldRes] = null
        while (g != null) {
          val ft = g.getType
          if (res == null) res = resolve(fields.toArray, ft, fieldIds)
          acc += res.toSeq.map(r => canonKey(value(g, ft, r)))
          g = dr.read()
        }
      } finally dr.close()
      acc.toSet
    }
    // phase 1: the doomed key set, plus the PARENT's own equality
    // masks (sequence-scoped — a stacked upsert history leaves old
    // key versions dead by value; a pre-image must never resurrect
    // one). O(delete keys) each, the same rows the batch MoR scan's
    // anti-joins read.
    val keySet: Set[Seq[Any]] = readTuples(p.deleteFile, p.keyCols)
    val eqMasks: Seq[(Seq[String], Long, Set[Seq[Any]])] =
      p.eqMasks.map { case (f, cols, seq) =>
        (cols, seq, readTuples(f, cols)) }
    new PartitionReader[InternalRow] {
      private var fileIdx = -1
      private var reader: ParquetReader[
        org.apache.parquet.example.data.Group] = _
      private var res: Array[FieldRes] = _
      private var maskRes: Map[Seq[String], Array[FieldRes]] = Map.empty
      private var skip: Array[Long] = Array.empty
      private var rowPos = -1L
      private var fileSeq = 0L
      private var consts: Map[String, Any] = Map.empty
      private var current: org.apache.parquet.example.data.Group = _

      private def constsFor(tuple: Map[String, String]): Map[String, Any] = {
        val raw = p.constants ++ tuple
        schema.fields.flatMap { f =>
          raw.get(f.name)
            .map(s => f.name -> decodeConstant(s, f.dataType, f.name))
        }.toMap
      }

      private def nextFile(): Boolean = {
        if (reader != null) { reader.close(); reader = null }
        fileIdx += 1
        if (fileIdx >= p.dataFiles.size) false
        else {
          val (f, tuple, seq) = p.dataFiles(fileIdx)
          reader = ParquetReader.builder(new GroupReadSupport(),
            new Path(f)).build()
          res = null; maskRes = Map.empty; tupleFields = Map.empty
          skip = maskPositions(f, p.maskFiles)
          rowPos = -1L
          fileSeq = seq
          consts = constsFor(tuple)
          true
        }
      }

      // per-file caches: resolution AND the field lookups are done
      // once per (file, column set), never per row
      private var tupleFields:
        Map[Seq[String], Array[org.apache.spark.sql.types.StructField]] =
        Map.empty
      private def tupleOf(g: org.apache.parquet.example.data.Group,
          cols: Seq[String]): Seq[Any] = {
        val ft = g.getType
        val fields = tupleFields.getOrElse(cols, {
          val fs = cols.map(c =>
            schema.fields.find(_.name == c).get).toArray
          tupleFields += cols -> fs
          fs
        })
        val res0 = maskRes.getOrElse(cols, {
          val r = resolve(fields, ft, fieldIds)
          maskRes += cols -> r
          r
        })
        fields.indices.map { i =>
          if (consts.contains(fields(i).name))
            canonKey(consts(fields(i).name))
          else canonKey(value(g, ft, res0(i)))
        }
      }

      private def doomed(g: org.apache.parquet.example.data.Group)
          : Boolean =
        keySet.contains(tupleOf(g, p.keyCols)) &&
          // LIVE at the parent: no later-sequence equality mask
          // covers this row (the stacked-upsert rule)
          !eqMasks.exists { case (cols, seq, keys) =>
            seq > fileSeq && keys.contains(tupleOf(g, cols))
          }

      override def next(): Boolean = {
        while (true) {
          if (reader == null) { if (!nextFile()) return false }
          else {
            current = reader.read()
            if (current == null) { reader.close(); reader = null }
            else {
              rowPos += 1
              if (java.util.Arrays.binarySearch(skip, rowPos) < 0 &&
                  doomed(current))
                return true
            }
          }
        }
        false
      }

      override def get(): InternalRow = {
        val ft = current.getType
        if (res == null) res = resolve(schema.fields, ft, fieldIds)
        new GenericInternalRow(res.map { r =>
          if (consts.contains(r.f.name)) consts(r.f.name)
          else value(current, ft, r)
        }: Array[Any])
      }

      override def close(): Unit =
        if (reader != null) reader.close()
    }
  }

  /** Row-path removed-file reader: walk `dataFile` emitting every
    * row whose position is NOT masked by the parent's position
    * deletes. */
  private def removedFileReader(p: IcebergRemovedFilePartition)
      : PartitionReader[InternalRow] = {
    RowReadSupport.lastReadPath = "row"
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val consts: Map[String, Any] = schema.fields.flatMap { f =>
      p.constants.get(f.name)
        .map(s => f.name -> decodeConstant(s, f.dataType, f.name))
    }.toMap
    val skip = maskPositions(p.dataFile, p.maskFiles)
    new PartitionReader[InternalRow] {
      private val reader = ParquetReader.builder(
        new GroupReadSupport(), new Path(p.dataFile)).build()
      private var res: Array[FieldRes] = _
      private var rowPos = -1L
      private var current: org.apache.parquet.example.data.Group = _

      override def next(): Boolean = {
        while (true) {
          current = reader.read()
          if (current == null) return false
          rowPos += 1
          if (java.util.Arrays.binarySearch(skip, rowPos) < 0)
            return true
        }
        false
      }

      override def get(): InternalRow = {
        val ft = current.getType
        if (res == null) res = resolve(schema.fields, ft, fieldIds)
        new GenericInternalRow(res.map { r =>
          if (consts.contains(r.f.name)) consts(r.f.name)
          else value(current, ft, r)
        }: Array[Any])
      }

      override def close(): Unit = reader.close()
    }
  }

  /** Phase 1 (small): a delete file's (file_path, pos) pairs,
    * grouped per data file in order, positions sorted — shared by the
    * row and columnar pos-delete readers and by the removed-file
    * readers' mask build. */
  /** Scheme-normalize a path for CROSS-SOURCE comparison: a foreign
    * writer records `file:///abs/...` URIs in delete files while our
    * planner hands manifests' paths through `stripFileUri` — raw
    * string equality would silently MISS (empty overwrite masks →
    * double-deletes downstream; missed partition tuples → NULLed
    * partition columns). The batch reader's `norm()` discipline
    * (Iceberg.deleteAntiJoin), applied at every streaming lookup. */
  private def normPath(p: String): String =
    p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")

  private def posDeleteTargets(deleteFile: String)
      : Seq[(String, Array[Long])] = {
    val byFile = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    val dr = ParquetReader.builder(new GroupReadSupport(),
      new Path(deleteFile)).build()
    try {
      var g = dr.read()
      while (g != null) {
        val ft = g.getType
        val path = normPath(new String(g.getBinary(
          ft.getFieldIndex("file_path"), 0).getBytes, "UTF-8"))
        val pos = g.getLong(ft.getFieldIndex("pos"), 0)
        byFile.getOrElseUpdate(path,
          scala.collection.mutable.ArrayBuffer.empty) += pos
        g = dr.read()
      }
    } finally dr.close()
    byFile.toSeq.map { case (f, ps) => (f, ps.toArray.sorted) }
  }

  /** The positions `maskFiles` list for `dataFile` — the rows a
    * removed-file partition must NOT emit (already dead at the
    * parent snapshot). */
  private def maskPositions(dataFile: String,
                            maskFiles: Seq[String]): Array[Long] =
    maskFiles.flatMap(posDeleteTargets(_))
      .filter(_._1 == normPath(dataFile))
      .flatMap(_._2).distinct.sorted.toArray

  private def posDeleteReader(p: IcebergPosDeletePartition)
      : PartitionReader[InternalRow] = {
    RowReadSupport.lastReadPath = "row"
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val tuples = p.fileTuples.map { case (k, v) => normPath(k) -> v }
    def constsFor(dataFile: String): Map[String, Any] = {
      val raw = p.constants ++
        tuples.getOrElse(normPath(dataFile), Map.empty)
      schema.fields.flatMap { f =>
        raw.get(f.name)
          .map(s => f.name -> decodeConstant(s, f.dataType, f.name))
      }.toMap
    }
    // Array positions: the per-row `positions(posIdx)` probe in the
    // phase-2 walk must be O(1) — a linked Seq here turns a 150k-row
    // file walk into O(rows x positions) pointer chasing
    val files: Seq[(String, Array[Long])] = posDeleteTargets(p.deleteFile)
    // phase 2: walk each named data file, emitting the listed
    // positions (sorted — one forward pass, early-stop at the last)
    new PartitionReader[InternalRow] {
      private var fileIdx = -1
      private var reader: ParquetReader[
        org.apache.parquet.example.data.Group] = _
      private var res: Array[FieldRes] = _
      private var positions: Array[Long] = Array.empty
      private var posIdx = 0
      private var rowPos = -1L
      private var current: org.apache.parquet.example.data.Group = _
      private var consts: Map[String, Any] = Map.empty

      private def nextFile(): Boolean = {
        if (reader != null) { reader.close(); reader = null }
        fileIdx += 1
        if (fileIdx >= files.size) false
        else {
          val (f, ps) = files(fileIdx)
          reader = ParquetReader.builder(new GroupReadSupport(),
            new Path(f)).build()
          res = null
          positions = ps
          posIdx = 0
          rowPos = -1L
          consts = constsFor(f)
          true
        }
      }

      override def next(): Boolean = {
        while (true) {
          if (reader == null || posIdx >= positions.size) {
            if (!nextFile()) return false
          }
          current = reader.read()
          if (current == null) {
            // data file ended before its listed positions — corrupt
            require(posIdx >= positions.size,
              s"delete file ${p.deleteFile} names position " +
                s"${positions(posIdx)} beyond the end of " +
                files(fileIdx)._1)
          } else {
            rowPos += 1
            if (rowPos == positions(posIdx)) {
              posIdx += 1
              return true
            }
          }
        }
        false
      }

      override def get(): InternalRow = {
        val ft = current.getType
        if (res == null) res = resolve(schema.fields, ft, fieldIds)
        new GenericInternalRow(res.map { r =>
          if (consts.contains(r.f.name)) consts(r.f.name)
          else value(current, ft, r)
        }: Array[Any])
      }

      override def close(): Unit =
        if (reader != null) reader.close()
    }
  }
}

object IcebergCdfStreamQueries {
  /** q200 — ICEBERG CDF STREAMING (the q181/q199 family on this
    * format): the v2 merge-on-read lifecycle table (overwrite
    * snapshot 1, position-delete of every tenth key at snapshot 2)
    * drains through `graft-iceberg-cdf`. The result equals the
    * two-arm oracle IFF the planner delivered snapshot 1's files as
    * inserts AND snapshot 2's deletes as EXACTLY the tenth keys —
    * read on the executor from the untouched data files at the
    * delete file's (file, pos) pairs. A source that emitted the
    * delete snapshot as file churn floods every row; one that
    * misapplied positions deletes wrong rows; both hash-mismatch. */
  def icebergCdfStream(spark: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = Iceberg.ordersIcebergDeleteTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_icdf").toString
    spark.readStream.format("graft-iceberg-cdf").option("path", t)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$work/data")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    spark.read.parquet(s"$work/data")
      .orderBy(col("o_orderkey"), col("_commit_version"))
  }

  val icebergCdfStreamSql: String =
    """SELECT * FROM (
      |  SELECT o.*, 'insert' AS _change_type,
      |         CAST(1 AS BIGINT) AS _commit_version FROM orders o
      |  UNION ALL
      |  SELECT o.*, 'delete', CAST(2 AS BIGINT) FROM orders o
      |  WHERE o_orderkey % 10 = 0
      |) ORDER BY o_orderkey, _commit_version""".stripMargin

  /** q202 — THE FLINK-CDC UPSERT LOOP, STREAMED END TO END: the
    * stacked-upsert table (creation append; upsert %3→'MERGED';
    * upsert %5→'MERGED2' — each upsert = one equality-delete snapshot
    * + one append snapshot, the per-checkpoint wire a CDC writer
    * emits) drains through `graft-iceberg-cdf` one snapshot per
    * trigger into a MERGE + delete-by-key Delta silver. Equality
    * deletes stream as one `delete` row per doomed key (non-key
    * columns NULL — O(keys), no data file read); the sink applies
    * them with the distributed broadcast-semi-join
    * [[graft.sources.DeltaLog.deleteWhereKeys]]. Final silver state
    * equals the sequence-scoped batch oracle IFF (a) both deletes
    * delivered exactly their key sets, (b) batches applied in
    * snapshot order — the second upsert's delete must retire the
    * FIRST upsert's 'MERGED' rewrites of %15 keys before 'MERGED2'
    * lands, (c) appends after a delete survive it. The one
    * previously-refused arc of the reference's CDC loop
    * (/root/reference/spark/batch_silver.py:65-69) over the open
    * format. */
  def icebergCdfUpsertStream(spark: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import graft.sources.DeltaLog
    val t = Iceberg.ordersIcebergUpsert2Table(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_icdfu").toString
    val silver = s"$work/silver"
    spark.readStream.format("graft-iceberg-cdf").option("path", t)
      .option("maxSnapshotsPerTrigger", "1").load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                       id: Long) =>
        // snapshot-granular admission: one batch == ONE snapshot
        // (all-inserts or all-deletes). The CDC wire orders each
        // upsert's DELETE snapshot before its APPEND snapshot, so
        // the sink needs NO MERGE: deletes retire the old key
        // versions (replay-idempotent — absent keys are a no-op),
        // and inserts land as a BLIND APPEND made exactly-once by
        // the txn watermark keyed on the micro-batch id. At scale
        // this is O(batch) per trigger, never the O(table) rewrite a
        // MERGE emulation pays.
        val b = batch.persist()
        try {
          // one counts job off the cached batch replaces the
          // isEmpty-per-split triad (round 17)
          val counts = b.groupBy(col("_change_type")).count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val inserts = b
            .filter(col("_change_type") === "insert")
            .drop("_change_type", "_commit_version")
          val deletes = b
            .filter(col("_change_type") === "delete")
            .select("o_orderkey")
          if (counts.getOrElse("delete", 0L) > 0)
            DeltaLog.deleteWhereKeys(spark, silver,
              "o_orderkey", deletes): Unit
          if (counts.getOrElse("insert", 0L) > 0)
            DeltaLog.commitAppendIdempotent(inserts, silver,
              "q202-silver", id): Unit
        } finally b.unpersist(): Unit
      }
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    DeltaLog.read(spark, silver).orderBy(col("o_orderkey"))
  }

  val icebergCdfUpsertStreamSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate,
      |  CASE WHEN o_orderkey % 5 = 0 THEN 'MERGED2'
      |       WHEN o_orderkey % 3 = 0 THEN 'MERGED'
      |       ELSE o_orderpriority END AS o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q218 — EQ-DELETE PRE-IMAGE ENRICHMENT, gated (round 14's
    * opt-in as a hash-checked feed): the stacked-upsert history
    * drains with `eqDeletePreimages=true`, so the delete rows carry
    * the FULL rows they retired — the parent snapshot's values,
    * joined on the executor against only the key-bounds-pruned
    * files (in-query seam `require`s planned < total; the doomed
    * keys are the lowest decile of a range-clustered layout by
    * construction). The oracle recomputes all three arms: a reader
    * that null-filled non-keys (the wire default), resurrected a
    * dead version, or emitted masked rows hash-mismatches. */
  def icebergCdfPreimageStream(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = Iceberg.ordersIcebergPreimageTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_icdfpre").toString
    spark.readStream.format("graft-iceberg-cdf").option("path", t)
      .option("eqDeletePreimages", "true").load()
      .writeStream.format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    require(Iceberg.lastPreimageFilesPlanned > 0 &&
        Iceberg.lastPreimageFilesPlanned <
          Iceberg.lastPreimageFilesTotal,
      s"pre-image key-bounds prune off: planned " +
        s"${Iceberg.lastPreimageFilesPlanned} of " +
        s"${Iceberg.lastPreimageFilesTotal} parent files")
    spark.read.parquet(s"$work/out")
      .orderBy(col("_commit_version"), col("o_orderkey"),
        col("_change_type"))
  }

  val icebergCdfPreimageStreamSql: String =
    """WITH cut AS (SELECT 9 * min(o_orderkey) + max(o_orderkey) AS c
      |  FROM orders),
      |doomed AS (SELECT * FROM orders
      |  WHERE o_orderkey * 10 <= (SELECT c FROM cut))
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority,
      |  'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority,
      |  'delete', 2 FROM doomed
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, 'UPSERT', 'insert', 3 FROM doomed
      |ORDER BY _commit_version, o_orderkey, _change_type""".stripMargin

  /** q208 — PARTITIONED ICEBERG CDF STREAM (the refusal round 12
    * kept is now a feature): the identity-partitioned upsert table
    * (creation; equality-delete of (key, status) pairs; partitioned
    * append) drains VERBATIM. Hash gate, three arms: (a) creation
    * inserts must carry o_orderstatus reconstructed from each
    * hive-stripped data file's MANIFEST TUPLE (a planner that
    * dropped the tuple null-fills every partition column and
    * mismatches); (b) equality-delete rows must carry BOTH key
    * columns read out of the delete file itself — partition key ⊆
    * primary key, so the partition value rides the delete row, the
    * property the round-12 refusal existed to protect; (c) the
    * upsert's appended rows reconstruct their tuples like (a). */
  def icebergCdfPartitionedStream(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = Iceberg.ordersIcebergPartUpsertTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_icdfpart").toString
    spark.readStream.format("graft-iceberg-cdf").option("path", t)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$work/data")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    spark.read.parquet(s"$work/data")
      .orderBy(col("o_orderkey"), col("_commit_version"))
  }

  val icebergCdfPartitionedStreamSql: String =
    """SELECT * FROM (
      |  SELECT o.*, 'insert' AS _change_type,
      |         CAST(1 AS BIGINT) AS _commit_version FROM orders o
      |  UNION ALL
      |  SELECT o_orderkey, CAST(NULL AS BIGINT), o_orderstatus,
      |         CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP),
      |         CAST(NULL AS VARCHAR), 'delete', CAST(2 AS BIGINT)
      |  FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |         o_orderdate, 'MERGED', 'insert', CAST(3 AS BIGINT)
      |  FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0
      |) ORDER BY o_orderkey, _commit_version""".stripMargin

  /** q210 — TRUE OVERWRITE THROUGH THE ICEBERG CDF STREAM (the
    * formerly-refused arc): evens created at snapshot 1, every tenth
    * key position-deleted at snapshot 2, then a TRUE OVERWRITE with
    * the odds at snapshot 3. The overwrite must stream as its
    * file-set diff against the parent — removed files' LIVE rows as
    * deletes (the tenths died at snapshot 2 and must stay SILENT: an
    * unmasked emission double-deletes them downstream) plus the odd
    * rows as inserts. This is the RESTORE / dataChange-compaction
    * survival path for a long-running CDF consumer. */
  def icebergCdfOverwriteStream(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = Iceberg.ordersIcebergOverwriteCdfTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_icdfow").toString
    spark.readStream.format("graft-iceberg-cdf").option("path", t)
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

  val icebergCdfOverwriteStreamSql: String =
    """SELECT * FROM (
      |  SELECT o.*, 'insert' AS _change_type,
      |         CAST(1 AS BIGINT) AS _commit_version FROM orders o
      |  WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o.*, 'delete', CAST(2 AS BIGINT) FROM orders o
      |  WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o.*, 'delete', CAST(3 AS BIGINT) FROM orders o
      |  WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 0
      |  UNION ALL
      |  SELECT o.*, 'insert', CAST(3 AS BIGINT) FROM orders o
      |  WHERE o_orderkey % 2 = 1
      |) ORDER BY o_orderkey, _commit_version, _change_type""".stripMargin
}
