package graft.streaming

import java.io.File
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  UnsafeProjection}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo,
  SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.types.{ByteType, DataType, DateType,
  IntegerType, LongType, ShortType, StringType, StructField, StructType,
  TimestampType}

import graft.sources.DeltaLog

/** The DSv2 WRITE half of `graft-delta` —
  * `df.write.format("graft-delta").mode("append"/"overwrite")
  * [.partitionBy(...)].save/option("path", dir)`, the reference's
  * own write spelling (spark/streaming_bronze.py writes bronze with
  * `.format("delta")`) — and the data job of every library Delta
  * writer ([[StagedWrite]]). Executors write the parquet data files
  * DIRECTLY into the table directory under UUID names (invisible —
  * only the log makes files live, Delta's own uncommitted-file
  * model; an aborted write's files are deleted, and stragglers are
  * vacuum's ordinary prey), tracking numRecords + integral min/max AS
  * THEY WRITE, and folding the keys of the table's bloomed columns
  * into each file's bloom words when the file closes — so a commit
  * carries data-skipping stats and its bloom sidecar rows without any
  * post-write footer pass or re-read. The driver then commits through
  * [[DeltaLog.commitDsv2]]: partition-spec + schema-shape
  * validation, CHECK-constraint/generated-column enforcement by
  * reading back the not-yet-visible files, the bloom sidecar, and the
  * same LogStore CAS claim loop as every library writer — so a DSv2
  * write races library writers safely.
  *
  * Partitioned writes: each task keeps one open file per partition
  * value it sees (rows need not arrive clustered); partition columns
  * are PROJECTED OUT of the data files and recorded as the add's
  * partitionValues — the spec's layout, identical to the library
  * writers'. Mapped tables write PHYSICAL column names (+ parquet
  * field ids under mode=id) translated from the table's own schema
  * annotations. Supported partition column types: string, long, int,
  * date (the spellings the readers' decodeConstant/eqMatches
  * round-trip).
  *
  * Scope: mode=append and mode=overwrite (truncate). Streaming
  * writes keep the existing foreachBatch + commitAppendIdempotent
  * path (exactly-once via txn watermarks — a plain DSv2
  * StreamingWrite could not deduplicate replayed batches). */
private[streaming] class DeltaWriteBuilder(tableDir: String,
    info: LogicalWriteInfo, declaredPartCols: Seq[String])
  extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = {
    overwrite = true
    this
  }

  /** Resolve the write's (logical schema, physical schema,
    * partition columns, bloomed columns) against the table's current
    * state — shared by the batch and streaming halves. */
  private def resolved()
      : (StructType, StructType, Seq[String], Seq[String]) = {
    val schema = info.schema()
    val exists = DeltaLog.versions(tableDir).nonEmpty
    val st =
      if (exists)
        Some(DeltaLog.replay(tableDir,
          DeltaLog.versions(tableDir).last))
      else None
    val partCols = st match {
      case Some(s) =>
        require(declaredPartCols.isEmpty ||
            declaredPartCols == s.partitionColumns,
          s"graft-delta write: partitionBy(${declaredPartCols
            .mkString(", ")}) does not match table $tableDir's " +
            s"partitioning (${s.partitionColumns.mkString(", ")})")
        s.partitionColumns
      case None => declaredPartCols
    }
    val missing = partCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"graft-delta write: partition columns ${missing.mkString(", ")} " +
        "not in the written columns")
    partCols.foreach { c =>
      schema(c).dataType match {
        case StringType | LongType | IntegerType | DateType => ()
        case other => throw new IllegalArgumentException(
          s"graft-delta write: partition column $c has type $other " +
            "— supported partition types are string, long, int, date")
      }
    }
    (schema, Dsv2WriteSchemas.physicalFor(st, schema), partCols,
      st.map(DeltaLog.bloomColsOf).getOrElse(Seq.empty))
  }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val (schema, physical, partCols, bloomCols) = resolved()
      new DeltaBatchWrite(tableDir, schema, physical, partCols,
        overwrite, bloomCols)
    }

    /** `df.writeStream.format("graft-delta")` — the NATIVE
      * exactly-once streaming sink: every epoch commits through
      * [[DeltaLog.commitDsv2Idempotent]] with the streaming query id
      * as the txn appId, so a restarted/replayed micro-batch is
      * detected and skipped (its orphan files deleted) — real
      * Delta's sink discipline, no foreachBatch needed. Append-only:
      * complete/update modes have no log spelling here. */
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming
          .StreamingWrite = {
      require(!overwrite,
        "graft-delta streaming sink is APPEND-only — complete mode " +
          "rewrites the table per trigger; use " +
          "foreachBatch + DeltaLog.commitOverwrite for that shape")
      val (schema, physical, partCols, bloomCols) = resolved()
      new DeltaStreamingWrite(tableDir, schema, physical, partCols,
        info.queryId(), bloomCols)
    }
  }
}

/** The exactly-once streaming sink write: executor side is the same
  * stats-tracking [[DeltaDataWriter]] (epoch-unique UUID file
  * names); the driver commits each epoch idempotently under
  * (queryId, epochId). */
private[streaming] class DeltaStreamingWrite(tableDir: String,
    logicalSchema: StructType, physicalSchema: StructType,
    partCols: Seq[String], queryId: String, bloomCols: Seq[String])
  extends org.apache.spark.sql.connector.write.streaming
    .StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming
    .StreamingDataWriterFactory

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new DeltaWriterFactory(tableDir, logicalSchema.json,
      physicalSchema.json, partCols, bloomCols = bloomCols)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit =
    DeltaLog.commitDsv2Idempotent(
      org.apache.spark.sql.SparkSession.active, tableDir,
      logicalSchema, partCols,
      messages.toSeq.flatMap(_.asInstanceOf[Dsv2CommitMsg].files),
      appId = queryId, txnVersion = epochId): Unit

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.filter(_ != null).foreach {
      case Dsv2CommitMsg(files) => files.foreach(f =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$tableDir/${f.relPath}")): Unit)
      case _ => ()
    }
}

/** Physical write schema derivation shared by every DSv2 writer
  * (append/overwrite AND the SQL row-level rewrites): mapped tables
  * spell physical names (+ parquet field ids under mode=id), matched
  * to the INCOMING field order by logical name; unmapped tables pass
  * through. */
private[streaming] object Dsv2WriteSchemas {
  def physicalFor(st: Option[graft.sources.DeltaLog.State],
                  schema: StructType): StructType = st match {
    case Some(s) if s.columnMapping.nonEmpty =>
      require(s.schema.fieldNames.forall(schema.fieldNames.contains),
        s"mapped graft-delta write: incoming columns " +
          s"${schema.fieldNames.toSeq} must cover the table's " +
          s"logical schema ${s.schema.fieldNames.toSeq}")
      def translate(incoming: StructType,
                    table: StructType): StructType =
        StructType(incoming.fields.map { f =>
          val tf = table.fields.find(_.name == f.name).getOrElse(
            throw new IllegalArgumentException(
              s"mapped graft-delta write: column ${f.name} not " +
                "in the table schema"))
          val name =
            if (tf.metadata.contains("delta.columnMapping.physicalName"))
              tf.metadata.getString("delta.columnMapping.physicalName")
            else tf.name
          val meta =
            if (s.mappingMode == "id" &&
                tf.metadata.contains("delta.columnMapping.id"))
              new org.apache.spark.sql.types.MetadataBuilder()
                .putLong("parquet.field.id",
                  tf.metadata.getLong("delta.columnMapping.id"))
                .build()
            else org.apache.spark.sql.types.Metadata.empty
          val dt = (f.dataType, tf.dataType) match {
            case (fi: StructType, ti: StructType) =>
              translate(fi, ti)
            case (other, _) => other
          }
          StructField(name, dt, nullable = true, meta)
        })
      translate(schema, s.schema)
    case _ => schema
  }
}

private[streaming] case class Dsv2CommitMsg(
    files: Seq[DeltaLog.Dsv2File]) extends WriterCommitMessage

private[streaming] class DeltaBatchWrite(tableDir: String,
    logicalSchema: StructType, physicalSchema: StructType,
    partCols: Seq[String], overwrite: Boolean, bloomCols: Seq[String])
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new DeltaWriterFactory(tableDir, logicalSchema.json,
      physicalSchema.json, partCols, bloomCols = bloomCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq
      .flatMap(_.asInstanceOf[Dsv2CommitMsg].files)
    DeltaLog.commitDsv2(org.apache.spark.sql.SparkSession.active,
      tableDir, logicalSchema, partCols, files, overwrite): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.filter(_ != null).foreach {
      case Dsv2CommitMsg(files) => files.foreach(f =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$tableDir/${f.relPath}")): Unit)
      case _ => ()
    }
}

/** The library Delta writers' data job ([[DeltaLog]]'s
  * `commitOverwrite`/`commitAppend*`/partitioned/mapped writers and
  * the compactions): `df` is written by the stats- and
  * bloom-tracking [[DeltaDataWriter]]s under `tableDir/relPrefix` as
  * ONE append command over the caller's plan (so an `Observation` on
  * `df` completes and query listeners see the job), and the tasks'
  * files come back to the caller instead of being committed here —
  * the caller owns the log claim. An unpartitioned batch always
  * lands at least one file. */
private[graft] object StagedWrite {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table,
    TableCapability}

  def apply(df: DataFrame, tableDir: String, relPrefix: String,
      partCols: Seq[String], bloomCols: Seq[String])
      : Seq[DeltaLog.Dsv2File] = {
    @volatile var written: Seq[DeltaLog.Dsv2File] = null
    val table = new Table with SupportsWrite {
      override def name(): String = s"$tableDir/$relPrefix"
      override def schema(): StructType = df.schema
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.BATCH_WRITE,
          TableCapability.ACCEPT_ANY_SCHEMA)
      override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder { override def build(): Write = new Write {
          // the connector's batch write, minus its log commit: the
          // tasks' files go back to the caller (abort is inherited)
          override def toBatch: BatchWrite = new DeltaBatchWrite(tableDir,
              info.schema(), info.schema(), partCols, overwrite = false,
              bloomCols) {
            override def createBatchWriterFactory(
                pinfo: PhysicalWriteInfo): DataWriterFactory =
              new DeltaWriterFactory(tableDir, info.schema().json,
                info.schema().json, partCols, relPrefix,
                bloomCols = bloomCols, keepEmpty = partCols.isEmpty)
            override def commit(
                messages: Array[WriterCommitMessage]): Unit =
              written = messages.toSeq
                .flatMap(_.asInstanceOf[Dsv2CommitMsg].files)
          }
        } }
    }
    org.apache.spark.sql.graftbridge.Bridge.appendV2(df, table)
    written
  }
}

/** `keepEmpty`: partition 0 lands one (possibly empty) file even
  * when it saw no rows — the library writers' contract that an
  * unpartitioned batch is never zero files (Spark's file writer
  * keeps the same one for an empty frame), so the commit always
  * carries a schema-bearing add. */
private[streaming] class DeltaWriterFactory(tableDir: String,
    logicalJson: String, physicalJson: String, partCols: Seq[String],
    relPrefix: String = "",
    hiddenSpec: Seq[(String, String)] = Seq.empty,
    bloomCols: Seq[String] = Seq.empty,
    keepEmpty: Boolean = false)
  extends DataWriterFactory
  with org.apache.spark.sql.connector.write.streaming
    .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new DeltaDataWriter(tableDir,
      DataType.fromJson(logicalJson).asInstanceOf[StructType],
      DataType.fromJson(physicalJson).asInstanceOf[StructType],
      partCols, relPrefix, hiddenSpec, bloomCols,
      keepEmpty && partitionId == 0)
  // streaming tasks write the same UUID-named invisible files —
  // epoch identity lives in the COMMIT's txn/summary watermark
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

/** Executor-side writer: one open parquet file per partition value
  * seen (rows need not be clustered), partition columns projected
  * out via a codegen'd UnsafeProjection, numRecords + integral
  * min/max tracked per file while writing. Each file also keeps the
  * non-null keys of its `bloomCols` and folds them into bloom words
  * when it closes, sized by its own row count
  * ([[DeltaLog.sidecarBloomBits]]) — the geometry is only known once
  * the file is complete, so the keys wait in a primitive buffer
  * (8 bytes per key) until then.
  *
  * `hiddenSpec` (mutually exclusive with `partCols`) switches the
  * writer to Iceberg HIDDEN partitioning: the file key is the
  * DERIVED transform tuple (bucket/truncate/day/month/year/hour of
  * a source column, the [[graft.functions.IcebergTransforms]]
  * scalars — the same implementation the manifest pruner applies,
  * so assignment and pruning can never disagree), the data files
  * keep the FULL schema (nothing projected out — the spec's
  * contract), and the commit message's partitionValues carry the
  * tuple under Iceberg's `<col>_bucket`-style names. */
private[streaming] class DeltaDataWriter(tableDir: String, schema: StructType,
    physical: StructType, partCols: Seq[String],
    relPrefix: String = "",
    hiddenSpec: Seq[(String, String)] = Seq.empty,
    bloomCols: Seq[String] = Seq.empty,
    keepEmpty: Boolean = false)
  extends DataWriter[InternalRow] {

  require(partCols.isEmpty || hiddenSpec.isEmpty,
    "a writer keys on identity partCols or a hidden spec, not both")

  private val partIdx: Array[(String, Int, DataType)] =
    partCols.toArray.map(c =>
      (c, schema.fieldIndex(c), schema(c).dataType))

  // (tuple name, per-row derivation closure): the transform is
  // RESOLVED ONCE here — regex-matching the transform string per
  // row would put a matcher in the write hot loop
  private val hiddenIdx: Array[(String, InternalRow => String)] =
    hiddenSpec.toArray.map { case (src, tr) =>
      (graft.functions.IcebergTransforms.tupleName(tr, src),
        hiddenExtractor(tr, schema.fieldIndex(src),
          schema(src).dataType))
    }
  private val dataIdx: Array[Int] = schema.fields.zipWithIndex
    .collect { case (f, i) if !partCols.contains(f.name) => i }
  private val dataPhysical = StructType(
    dataIdx.map(i => physical.fields(i)))
  private val dataLogical = StructType(
    dataIdx.map(i => schema.fields(i)))
  private val proj = UnsafeProjection.create(dataIdx.map(i =>
    BoundReference(i, schema.fields(i).dataType,
      nullable = true)).toSeq)
  // stats positions within the DATA row: (ordinal, name, extractor).
  // Long-backed decimals track their UNSCALED value — the pruning
  // ladder's currency; the commit re-spells it as a scaled decimal
  // in add.stats (statsJsonOf)
  private val statCols: Array[(Int, String,
      (org.apache.spark.sql.catalyst.expressions.UnsafeRow,
        Int) => Long)] =
    dataLogical.fields.zipWithIndex.collect {
      case (f, j) if f.dataType == LongType =>
        (j, f.name, (r: org.apache.spark.sql.catalyst.expressions
          .UnsafeRow, i: Int) => r.getLong(i))
      case (f, j) if f.dataType == IntegerType =>
        (j, f.name, (r: org.apache.spark.sql.catalyst.expressions
          .UnsafeRow, i: Int) => r.getInt(i).toLong)
      case (f, j) if f.dataType == ShortType =>
        (j, f.name, (r: org.apache.spark.sql.catalyst.expressions
          .UnsafeRow, i: Int) => r.getShort(i).toLong)
      case (f, j) if f.dataType == ByteType =>
        (j, f.name, (r: org.apache.spark.sql.catalyst.expressions
          .UnsafeRow, i: Int) => r.getByte(i).toLong)
      case (f, j) if f.dataType
          .isInstanceOf[org.apache.spark.sql.types.DecimalType] &&
          f.dataType.asInstanceOf[org.apache.spark.sql.types
            .DecimalType].precision <= 18 =>
        val d = f.dataType
          .asInstanceOf[org.apache.spark.sql.types.DecimalType]
        (j, f.name, (r: org.apache.spark.sql.catalyst.expressions
          .UnsafeRow, i: Int) =>
          r.getDecimal(i, d.precision, d.scale).toUnscaledLong)
    }

  // bloomed columns within the DATA row: (ordinal, name, is int)
  private val bloomIdx: Array[(Int, String, Boolean)] =
    dataLogical.fields.zipWithIndex.collect {
      case (f, j) if bloomCols.contains(f.name) =>
        (j, f.name, f.dataType == IntegerType)
    }

  private final class OpenFile(val relPath: String) {
    val abs = s"$tableDir/$relPath"
    val writer: ParquetOutputWriter =
      DeltaDataWriter.parquetWriter(abs, dataPhysical)
    var rows = 0L
    val mins = Array.fill[Long](statCols.length)(Long.MaxValue)
    val maxs = Array.fill[Long](statCols.length)(Long.MinValue)
    var sawValue: Array[Boolean] =
      Array.fill(statCols.length)(false)
    val keys = Array.fill(bloomIdx.length)(new mutable.ArrayBuilder.ofLong)
  }

  private def newFile(): OpenFile =
    new OpenFile(s"${relPrefix}part-${UUID.randomUUID}.snappy.parquet")

  private val open = mutable.LinkedHashMap.empty[Seq[String], OpenFile]

  private def pvString(row: InternalRow, idx: Int,
                       dt: DataType): String =
    if (row.isNullAt(idx)) null
    else dt match {
      case StringType => row.getUTF8String(idx).toString
      case LongType => row.getLong(idx).toString
      case IntegerType => row.getInt(idx).toString
      case DateType =>
        java.time.LocalDate.ofEpochDay(row.getInt(idx).toLong).toString
      // the library writers partition by any atomic type: spelled as
      // Spark's own partition-path cast does (session time zone)
      case other => org.apache.spark.sql.catalyst.expressions.Cast(
        BoundReference(idx, other, nullable = true), StringType,
        Some(org.apache.spark.sql.internal.SQLConf.get
          .sessionLocalTimeZone)).eval(row).toString
    }

  /** The derived-tuple extractor for `transform` over source
    * ordinal `idx` of type `dt`, resolved ONCE per writer — the
    * returned closure renders the per-row tuple value the way the
    * manifest's hive-string bridge expects (int/long ordinals). */
  private def hiddenExtractor(transform: String, idx: Int,
                              dt: DataType): InternalRow => String = {
    import graft.functions.IcebergTransforms._
    def longVal(row: InternalRow): Long = dt match {
      case LongType => row.getLong(idx)
      case IntegerType => row.getInt(idx).toLong
      case other => throw new IllegalArgumentException(
        s"hidden transform $transform over $other — long/int sources")
    }
    def nullable(f: InternalRow => String): InternalRow => String =
      row => if (row.isNullAt(idx)) null else f(row)
    transform match {
      case BucketRe(n) =>
        val b = n.toInt
        nullable(row => bucketLong(longVal(row), b).toString)
      case TruncateRe(w) =>
        val t = w.toLong
        nullable(row => truncateLong(longVal(row), t).toString)
      case tr @ ("day" | "month" | "year" | "hour") => dt match {
        case DateType => tr match {
          case "day" => nullable(row => row.getInt(idx).toString)
          case "month" => nullable { row =>
            val d = java.time.LocalDate
              .ofEpochDay(row.getInt(idx).toLong)
            monthOrdinal(d.getYear, d.getMonthValue).toString
          }
          case "year" => nullable(row => yearOrdinal(java.time
            .LocalDate.ofEpochDay(row.getInt(idx).toLong)
            .getYear).toString)
          case _ => throw new IllegalArgumentException(
            "hour transform needs a timestamp source")
        }
        case TimestampType =>
          nullable(row =>
            timeOrdinalOfMicros(tr, row.getLong(idx)).toString)
        case other => throw new IllegalArgumentException(
          s"time transform $tr over $other — date/timestamp")
      }
      case other => throw new IllegalArgumentException(
        s"unsupported hidden transform '$other'")
    }
  }

  override def write(row: InternalRow): Unit = {
    val key: Seq[String] =
      if (hiddenIdx.nonEmpty)
        hiddenIdx.toSeq.map { case (_, get) => get(row) }
      else partIdx.toSeq.map { case (_, i, dt) => pvString(row, i, dt) }
    val of = open.getOrElseUpdate(key, newFile())
    val out = proj(row)
    // stats BEFORE write: the projection's UnsafeRow is reused
    var s = 0
    while (s < statCols.length) {
      val (j, _, get) = statCols(s)
      if (!out.isNullAt(j)) {
        val v = get(out, j)
        if (v < of.mins(s)) of.mins(s) = v
        if (v > of.maxs(s)) of.maxs(s) = v
        of.sawValue(s) = true
      }
      s += 1
    }
    var b = 0
    while (b < bloomIdx.length) {
      val (j, _, isInt) = bloomIdx(b)
      if (!out.isNullAt(j))
        of.keys(b) += (if (isInt) out.getInt(j).toLong else out.getLong(j))
      b += 1
    }
    of.writer.write(out)
    of.rows += 1
  }

  /** The file's bloom words per bloomed column: its keys folded
    * into a `sidecarBloomBits(rows)`-bit filter, non-zero words only
    * (a column with no non-null key yields none — never bloomed). */
  private def bloomsOf(of: OpenFile): Seq[DeltaLog.FileBloom] =
    bloomIdx.toSeq.zip(of.keys).flatMap { case ((_, name, _), kb) =>
      val ks = kb.result()
      if (ks.isEmpty) None
      else {
        val words = new Array[Long](DeltaLog.sidecarBloomBits(of.rows) / 64)
        ks.foreach(DeltaLog.bloomAdd(words, _))
        val nz = words.indices.filter(words(_) != 0L).toArray
        Some(DeltaLog.FileBloom(name, words.length * 64, nz, nz.map(words)))
      }
    }

  override def commit(): WriterCommitMessage = {
    if (keepEmpty && open.isEmpty) open(Seq.empty) = newFile()
    val files = open.toSeq.map { case (key, of) =>
      of.writer.close()
      val bounds = statCols.zipWithIndex.collect {
        case ((_, name, _), s) if of.sawValue(s) =>
          name -> (of.mins(s), of.maxs(s))
      }.toMap
      val keyNames =
        if (hiddenIdx.nonEmpty) hiddenIdx.toSeq.map(_._1)
        else partIdx.toSeq.map(_._1)
      DeltaLog.Dsv2File(of.relPath, new File(of.abs).length,
        keyNames.zip(key).toMap, of.rows, bounds, bloomsOf(of))
    }
    org.apache.spark.sql.graftbridge.Bridge.addTaskOutput(
      files.map(_.size).sum, files.map(_.numRecords).sum)
    open.clear()
    Dsv2CommitMsg(files)
  }

  override def abort(): Unit = {
    open.values.foreach { of =>
      scala.util.Try(of.writer.close())
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(of.abs)): Unit
    }
    open.clear()
  }

  override def close(): Unit = ()
}

private[graft] object DeltaDataWriter {

  /** One Hadoop configuration per JVM, loaded once and copied per
    * file: a fresh one re-parses the default resources on first use —
    * tens of ms of CPU per file on a many-file write. */
  private lazy val baseConf = {
    val c = new Configuration()
    c.size() // load the default resources now, so copies clone them
    c
  }

  /** One parquet file at `abs` in `schema`, written by Spark's own
    * parquet write support (the same bytes a DataFrame write lands),
    * without a task context — the executor writers above and the
    * driver's bloom sidecar part ([[DeltaLog]]) both open theirs
    * here. Missing parent directories are created through the
    * path's Hadoop file system. */
  def parquetWriter(abs: String, schema: StructType): ParquetOutputWriter = {
    val conf = new Configuration(baseConf)
    conf.set("parquet.write.support.class",
      classOf[ParquetWriteSupport].getName)
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set("parquet.compression", "SNAPPY")
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite",
      "CORRECTED")
    conf.set("spark.sql.parquet.int96RebaseModeInWrite",
      "CORRECTED")
    // the schema converter's boolean reads have no usable string
    // defaults — same keys the vectorized READER path pins
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    conf.set("spark.sql.caseSensitive", "false")
    conf.set(
      "spark.sql.parquet.variant.annotateLogicalType.enabled",
      "false")
    // prefixed layouts (iceberg's data/, a library writer's
    // part-<uuid>/) need the subdir to exist
    val p = new org.apache.hadoop.fs.Path(abs)
    p.getFileSystem(conf).mkdirs(p.getParent)
    new ParquetOutputWriter(abs,
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
  }

  /** `rows` as one parquet file at `abs`, staged under a dot-name and
    * renamed into place, so no reader lists it half written. */
  def writeFile(abs: String, schema: StructType,
      rows: Iterator[InternalRow]): Unit = {
    val dst = new org.apache.hadoop.fs.Path(abs)
    val tmp = new org.apache.hadoop.fs.Path(dst.getParent,
      s".${dst.getName}.tmp")
    val w = parquetWriter(tmp.toString, schema)
    try rows.foreach(w.write) finally w.close()
    dst.getFileSystem(baseConf).rename(tmp, dst): Unit
  }
}

/** q224's home — the DSv2 write path's gated query. */
object DeltaWriteQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.{col, lit, pmod}

  /** q224 — DSV2 WRITE ROUNDTRIP: orders lands in a fresh table
    * through `df.write.format("graft-delta")` — first half
    * partitioned by status via partitionBy, second half inheriting
    * the table's spec with no partitionBy (Delta's own semantics) —
    * and reads back FILTERED through the batch connector. The hash
    * gate covers the whole write path (UUID task files, projected
    * partition columns, writer-tracked stats, timestamp round-trip,
    * the commitDsv2 CAS); the in-query `require` pins that the
    * WRITER's own stats prune the read (files kept < live), so a
    * writer that stopped recording partitionValues or stats fails
    * loudly. Always-cold by design: the measured cost IS the write
    * path. */
  def dsv2Write(spark: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft_dsv2w").toString
    val t = s"$work/orders_dsv2"
    val o = graft.Tables.load(spark, dir, "orders")
    o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .write.format("graft-delta").mode("append")
      .partitionBy("o_orderstatus").save(t)
    o.filter(pmod(col("o_orderkey"), lit(2)) =!= 0)
      .write.format("graft-delta").mode("append").save(t)
    BatchScanStats.reset(t)
    val df = spark.read.format("graft-delta").option("path", t).load()
      .filter(col("o_orderstatus") === "O")
      .orderBy(col("o_orderkey"))
    df.count()
    val s = BatchScanStats.statsFor(t)
    require(s.live > 0 && s.pushdownKept < s.live,
      s"the DSv2 writer's recorded partitionValues/stats did not " +
        s"prune (live ${s.live}, kept ${s.pushdownKept})")
    df
  }

  val dsv2WriteSql: String =
    """SELECT * FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_orderkey""".stripMargin
}
