package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.DeltaLog

/** `spark.readStream.format("graft-delta")` — a REAL Structured
  * Streaming source over the open Delta log, the `readStream
  * .format("delta")` the reference's bronze layer would use if its
  * Kafka topic were a lakehouse table
  * (reference: spark/streaming_bronze.py:71-77 reads a stream and
  * lands bronze; this source is the same contract with the LOG as
  * the offset authority).
  *
  * Spark-first by construction: this is the DataSource V2
  * [[MicroBatchStream]] API — Spark's OWN streaming engine drives
  * the lifecycle (offset tracking in the query checkpoint, batch
  * planning, task scheduling, recovery), and the shared
  * [[CommitLogStream]] core only answers the three questions a
  * source must: what is the latest offset
  * (the log's newest version), what files does a version range add
  * ([[DeltaLog.addedFilesIterator]] — dataChange=false OPTIMIZE
  * commits contribute NOTHING, data-removing commits refuse loudly
  * unless `skipChangeCommits`), and how to read one file's rows on
  * an EXECUTOR (vectorized ColumnarBatch by default; one
  * [[InputPartition]] per file, so a 1000-file commit fans out
  * across the cluster — the driver only ever lists paths).
  *
  * Exactly-once: offsets are committed by the engine AFTER the sink,
  * so a crash replays the last batch into an idempotent sink —
  * exactly the [[DeltaLog.consumeChanges]] contract, now with
  * Spark's checkpoint machinery doing the bookkeeping (spec-held
  * restart proof in DeltaStreamSourceSpec).
  *
  * Scope: primitive and STRUCT columns; PARTITIONED tables stream
  * (each file's log-recorded partitionValues ride its InputPartition
  * and surface as per-row constants); COLUMN-MAPPED tables stream
  * (both modes — the annotated schema resolves physical names /
  * field ids on the executor, and metadata-only renames pass the
  * physical-shape schema-change guard, q198). A schema CHANGE inside
  * a planned range fails the stream loudly with a restart message.
  * The default read path is COLUMNAR (Spark's vectorized parquet
  * reader emitting ColumnarBatch, 2.4× the row path — spec-gated).
  *
  * Options: `path` (required), `skipChangeCommits` (default false),
  * `startingVersion` (a version, or `latest` = backfill via one batch
  * read and stream only post-start commits; default: all history),
  * `maxVersionsPerTrigger`,
  * `maxFilesPerTrigger` / `maxBytesPerTrigger` (admission control
  * that SPLITS within a commit — offsets are (version, fileIndex)),
  * `vectorizedRead` (default true), `filter` (a SQL predicate the
  * planner prunes files with — partition values + `add.stats` bounds,
  * [[StreamFilter]]; the query must still `.filter(...)` the same
  * predicate for exactness — Spark does not push filters into
  * MicroBatchStream scans, so this option is the pushdown seam).
  */
class DeltaStreamProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-delta"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DeltaStreamSource.tableSchema(DeltaStreamSource.pathOf(options))

  // writes hand the DataFrame's own schema + partitionBy transforms
  // to getTable (new tables have no log to infer from)
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new DeltaStreamTable(schema, partitioning,
      new CaseInsensitiveStringMap(properties))
}

private[streaming] object DeltaStreamSource {
  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft-delta needs .option(\"path\", <tableDir>)")
    p
  }

  /** The log's schema WITH its column-mapping annotations (the
    * reader resolves physical names/field ids from them, recursively
    * for nested structs), checked against the streaming scope:
    * primitive leaves, structs allowed at any depth. Refusing here
    * beats a task-side crash after the query started. */
  def annotatedSchema(tableDir: String): StructType = {
    val st = DeltaLog.replay(tableDir,
      DeltaLog.versions(tableDir).last)
    checkSupportedTypes(st.schema, "graft-delta")
    st.schema
  }

  /** The connector reader's type scope — primitive leaves, structs
    * at any depth — shared by the streaming and batch surfaces.
    * Refusing here beats a task-side crash after the query
    * started. */
  def checkSupportedTypes(schema: StructType, who: String): Unit = {
    def check(dt: DataType, path: String): Unit = dt match {
      case s: StructType =>
        s.fields.foreach(f => check(f.dataType, s"$path${f.name}."))
      case LongType | IntegerType | DoubleType | FloatType |
           BooleanType | StringType | TimestampType |
           TimestampNTZType | DateType => ()
      // long-backed decimals (money columns): vectorized read,
      // writer-tracked unscaled bounds, pruning ladder — all wired;
      // wider decimals (int128-backed) are not
      case d: org.apache.spark.sql.types.DecimalType
          if d.precision <= 18 => ()
      case other => throw new IllegalArgumentException(
        s"$who: unsupported column type $other " +
          s"at ${path.stripSuffix(".")}")
    }
    check(schema, "")
  }

  /** The PUBLIC streaming schema: [[annotatedSchema]] with the
    * mapping annotations stripped (they describe the files, not the
    * rows the stream surfaces). */
  def tableSchema(tableDir: String): StructType =
    DeltaLog.stripFieldMetadata(annotatedSchema(tableDir))
      .asInstanceOf[StructType]

  /** mapping mode=id tables carry parquet FIELD IDS in their data
    * files (mode=name files carry only physical names) — decides
    * whether the vectorized reader resolves by id or by name. */
  def mappingModeOf(tableDir: String): String =
    DeltaLog.replay(tableDir, DeltaLog.versions(tableDir).last)
      .mappingMode
}

private class DeltaStreamTable(schema: StructType,
                               partitioning: Array[Transform],
                               options: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with OpenFormatMetadata {
  override def dataSchema: StructType = schema
  override def name(): String =
    s"graft-delta:${DeltaStreamSource.pathOf(options)}"
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

  /** The LOG's partition columns as identity transforms (the
    * DataFrameWriter validates partitionBy against this); a table
    * with no log yet reports whatever the write declared. */
  override def partitioning(): Array[Transform] = {
    val dir = DeltaStreamSource.pathOf(options)
    val fromLog = scala.util.Try {
      val vs = DeltaLog.versions(dir)
      if (vs.isEmpty) Seq.empty[String]
      else DeltaLog.replay(dir, vs.last).partitionColumns
    }.getOrElse(Seq.empty)
    if (fromLog.nonEmpty)
      fromLog.map(c => org.apache.spark.sql.connector.expressions
        .Expressions.identity(c)).toArray
    else partitioning
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // partitionBy(...) arrives as identity transforms; anything else
    // has no Delta spelling
    val partCols = partitioning.toSeq.map { t =>
      require(t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1,
        s"graft-delta write: unsupported partition transform $t — " +
          "Delta partitions by identity columns")
      t.references()(0).fieldNames()(0)
    }
    new DeltaWriteBuilder(DeltaStreamSource.pathOf(options), info,
      partCols)
  }
  // one builder serves both surfaces: batch planning gets pushdown
  // (filters/columns/statistics/runtime filters — BatchRead.scala),
  // streaming scans delegate to [[DeltaStreamScan]] untouched
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new OpenFormatScanBuilder((pushed, required, limit) =>
      DeltaBatchScan(schema, options, pushed, required, limit))
}

private class DeltaStreamScan(schema: StructType,
                              options: CaseInsensitiveStringMap)
    extends Scan {
  override def readSchema(): StructType = schema
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = {
    val path = DeltaStreamSource.pathOf(options)
    // the ANNOTATED query-start schema: the executor reader resolves
    // mapped tables' physical names / field ids from its metadata,
    // and the schema-change guard compares physical shapes so a
    // historic rename doesn't read as a change
    new DeltaMicroBatchStream(
      DeltaStreamSource.annotatedSchema(path), path,
      options.getBoolean("skipChangeCommits", false),
      Option(options.get("startingVersion")),
      options.getLong("maxVersionsPerTrigger", Long.MaxValue),
      options.getLong("maxFilesPerTrigger", Long.MaxValue),
      options.getLong("maxBytesPerTrigger", Long.MaxValue),
      options.getBoolean("vectorizedRead", true),
      Option(options.get("filter")))
  }
}

/** Delta's log as the [[CommitLogStream]] core reads it: versions
  * are the commit ids, and [[DeltaLog.addedFilesIterator]] walks the
  * added files (OPTIMIZE commits contribute nothing, data-removing
  * commits refuse unless `skipChangeCommits`, a mid-stream schema
  * change against `schema` fails loudly). */
private class DeltaCommitLog(tableDir: String, skipChangeCommits: Boolean,
                             schema: StructType) extends CommitLog {
  override def head(): Long = DeltaLog.versions(tableDir).last
  override def addedFiles(fromExclusive: Long, to: Long)
      : Iterator[(Long, Seq[DeltaLog.StreamFile])] =
    DeltaLog.addedFilesIterator(tableDir, fromExclusive, to,
      skipChangeCommits, Some(schema))
}

/** `graft-delta`: the shared core over [[DeltaCommitLog]] — offsets
  * are (version, fileIndex), `startingVersion` is inclusive. */
private class DeltaMicroBatchStream(schema: StructType, tableDir: String,
                                    skipChangeCommits: Boolean,
                                    startingVersion: Option[String],
                                    maxVersionsPerTrigger: Long,
                                    maxFilesPerTrigger: Long,
                                    maxBytesPerTrigger: Long,
                                    vectorizedRead: Boolean,
                                    filterSql: Option[String])
    extends CommitLogStream(
      new DeltaCommitLog(tableDir, skipChangeCommits, schema),
      StreamSpelling.delta("graft-delta"), tableDir, startingVersion,
      maxVersionsPerTrigger, maxFilesPerTrigger, maxBytesPerTrigger,
      // built once at query start; fails loudly on unparseable SQL
      StreamFilter.pruner(filterSql, schema)) {

  override def createReaderFactory(): PartitionReaderFactory =
    new DeltaFileReaderFactory(schema.json,
      columnar = vectorizedRead,
      metadataIdsInFiles =
        DeltaStreamSource.mappingModeOf(tableDir) == "id")
}

/** One file for one streaming task. `partitionValues` become per-row
  * constants (partition columns and, for the CDF source, the
  * `_change_type`/`_commit_version` tags). The optional deletion-
  * vector fields drive ROW FILTERING on the executor: `dvSkip` masks
  * positions already deleted (a whole-file delete emits live rows
  * only); `dvKeepDiff` = (prior DV, new DV) keeps exactly the
  * newly-set positions (a DV update emits just its delta). */
private case class DeltaFilePartition(path: String,
    partitionValues: Map[String, String] = Map.empty,
    tableDir: String = "",
    dvSkip: Option[graft.sources.DeletionVectors.Descriptor] = None,
    dvKeepDiff: Option[(Option[graft.sources.DeletionVectors.Descriptor],
      graft.sources.DeletionVectors.Descriptor)] = None)
  extends InputPartition

object DeltaStreamQueries {
  /** q192 — STREAMING READ OF THE OPEN LOG: drain the append/OPTIMIZE
    * lifecycle table through `readStream.format("graft-delta")`
    * (Trigger.AvailableNow, parquet sink, Spark-checkpointed offsets)
    * and return the landed rows. The result equals full orders IFF
    * the source delivered each append exactly once AND kept the
    * OPTIMIZE commit silent — a source that leaked the compaction
    * doubles every row; one that lost a commit drops a third of
    * them; both hash-mismatch. This is the real DSv2 MicroBatchStream
    * executing under Spark's own streaming engine, not a batch
    * emulation. */
  def deltaStreamRead(spark: org.apache.spark.sql.SparkSession,
                      dir: String): org.apache.spark.sql.DataFrame = {
    val t = DeltaLog.ordersAppendCompactTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_dstream").toString
    spark.readStream.format("graft-delta").option("path", t).load()
      .writeStream.format("parquet")
      .option("path", s"$work/data")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    spark.read.parquet(s"$work/data")
      .orderBy(org.apache.spark.sql.functions.col("o_orderkey"))
  }

  val deltaStreamReadSql: String =
    """SELECT * FROM orders ORDER BY o_orderkey"""

  /** q195 — STREAMING LAKEHOUSE ETL, EXACTLY-ONCE BOTH ENDS: the
    * medallion bronze→silver hop entirely over the open format
    * (reference: spark/batch_silver.py filters/projects bronze into
    * silver; here the hop is STREAMING). Source = the DSv2
    * graft-delta stream (offsets in Spark's checkpoint); transform =
    * filter + projection; sink = [[DeltaLog.commitAppendIdempotent]]
    * keyed by the micro-batch id, so a batch REDELIVERED after a
    * crash between sink commit and engine checkpoint is skipped by
    * the txn watermark — end-to-end exactly-once with both formats'
    * own machinery, no external coordinator
    * (DeltaStreamSourceSpec holds the planted-crash proof). The
    * result must hash-equal the batch-transformed oracle: a source
    * that duplicated a commit, a sink that re-applied a batch, or a
    * transform that drifted from batch semantics all mismatch. */
  def deltaStreamEtl(spark: org.apache.spark.sql.SparkSession,
                     dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val src = DeltaLog.ordersAppendCompactTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_detl").toString
    val silver = s"$work/silver"
    spark.readStream.format("graft-delta").option("path", src).load()
      .filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                       id: Long) =>
        if (!batch.isEmpty)
          DeltaLog.commitAppendIdempotent(
            batch, silver, "silver-etl", id): Unit
      }
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    DeltaLog.read(spark, silver)
      .orderBy(col("o_orderkey"))
  }

  val deltaStreamEtlSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderstatus = 'O'
      |ORDER BY o_orderkey""".stripMargin

  /** q196 — STREAMING A PARTITIONED TABLE: the partition column
    * exists only in the LOG's per-file partitionValues (the data
    * files are written without it), so the stream reader must emit
    * it as a per-file CONSTANT reconstructed from the add action —
    * a reader that ignored partitionValues NULLs the status column
    * for every row and hash-mismatches the full-orders oracle. */
  def deltaStreamPartitioned(spark: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    val t = DeltaLog.ordersPartitionedTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_dpart").toString
    spark.readStream.format("graft-delta").option("path", t).load()
      .writeStream.format("parquet")
      .option("path", s"$work/data")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    spark.read.parquet(s"$work/data")
      .orderBy(org.apache.spark.sql.functions.col("o_orderkey"))
  }

  val deltaStreamPartitionedSql: String =
    """SELECT * FROM orders ORDER BY o_orderkey"""

  /** q198 — STREAMING NESTED STRUCTS × COLUMN MAPPING (q194's table
    * through the DSv2 source): the data files spell `col-<uuid>`
    * names at EVERY nesting level and the table's history holds two
    * metadata-only RENAME commits. The stream must (a) ride through
    * the rename commits — the schema-change guard compares PHYSICAL
    * shapes, so a rename is not a change — and (b) resolve outer and
    * inner columns through the schemaString's recursive physicalName
    * annotations on the EXECUTOR. A reader that resolved only the
    * top level NULLs every inner field; one that compared logical
    * shapes would refuse the history outright; both fail the flat
    * five-column oracle. */
  def deltaStreamNestedMapped(spark: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = DeltaLog.ordersNestedMappedTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_dnest").toString
    spark.readStream.format("graft-delta").option("path", t).load()
      .writeStream.format("parquet")
      .option("path", s"$work/data")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    spark.read.parquet(s"$work/data")
      .select(col("o_orderkey"),
        col("customer.custkey").as("o_custkey"),
        col("customer.status").as("o_orderstatus"),
        col("meta.price").as("o_totalprice"),
        col("meta.priority").as("priority"))
      .orderBy(col("o_orderkey"))
  }

  val deltaStreamNestedMappedSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderpriority AS priority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q204 — STREAM-PLANNER PREDICATE PUSHDOWN: q196's partitioned
    * table drains with `filter = o_orderstatus = 'F'` — the planner
    * prunes whole files by their log-recorded partitionValues before
    * any task launches (the [[StreamFilter]] seam), and the query
    * re-applies the same predicate for row exactness (the superset
    * contract — exactly how batch pushdown composes). The oracle is
    * the filtered table; the in-query `require` turns "the option
    * silently pruned nothing" into a loud gate failure, so this
    * query holds BOTH row correctness and the pruning behavior. At
    * 100 TB this is a backfill stream reading one partition instead
    * of the lake. */
  def deltaStreamFiltered(spark: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = DeltaLog.ordersPartitionedTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_dfilt").toString
    StreamFilter.reset(t)
    spark.readStream.format("graft-delta").option("path", t)
      .option("filter", "o_orderstatus = 'F'").load()
      .filter(col("o_orderstatus") === "F")
      .writeStream.format("parquet")
      .option("path", s"$work/data")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    // table-scoped totals, accumulated across the drain's batches —
    // immune to concurrent streams over OTHER tables
    val (planned, kept) = StreamFilter.statsFor(t)
    require(kept >= 0 && kept < planned,
      s"the filter option pruned nothing (planned $planned, " +
        s"kept $kept)")
    spark.read.parquet(s"$work/data")
      .orderBy(col("o_orderkey"))
  }

  val deltaStreamFilteredSql: String =
    """SELECT * FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_orderkey""".stripMargin
}

/** Executor-side reader. DEFAULT PATH: COLUMNAR — Spark's own
  * [[org.apache.spark.sql.execution.datasources.parquet
  * .VectorizedParquetRecordReader]] emits [[org.apache.spark.sql
  * .vectorized.ColumnarBatch]]es straight into whole-stage codegen
  * (no per-row boxing, no Group materialization), with partition/CDF
  * constants as constant vectors via `initBatch` and column
  * resolution by parquet FIELD ID or physical name through the
  * translated requested schema. Partitions carrying deletion-vector
  * row filters (the CDF source) ride the ROW PATH: parquet Group API
  * → [[InternalRow]], recursive over NESTED STRUCTS, with lookup at
  * every nesting level resolving (1) `delta.columnMapping.id`
  * against the file's parquet field ids, (2) the explicit `fieldIds`
  * map (the Iceberg rule, top level), (3)
  * `delta.columnMapping.physicalName` (mode=name `col-<uuid>`
  * files), (4) the logical name. Either path: a column absent from
  * an older file reads NULL — the same schema-on-read rule the
  * batch scan applies. */
/** The row path's shared machinery — parquet Group → [[InternalRow]]
  * conversion with per-level column resolution — used by
  * [[DeltaFileReaderFactory]] and the Iceberg CDF reader. */
private[graft] object RowReadSupport {

  /** Per-file resolution node: the table field, its index in the
    * file's group type (-1 = absent) and, for structs, the resolved
    * children against the file's nested group. */
  class FieldRes(val f: StructField, val idx: Int,
                 val children: Array[FieldRes])

  /** Seam: which read path the last created reader took ("columnar" |
    * "row") — local[*] runs readers in-process, so specs assert the
    * CDF drains actually ride the vectorized path. */
  @volatile private[graft] var lastReadPath: String = ""

  /** The partition's deletion-vector row predicate over running file
    * position, decoded ONCE per task from the descriptors riding the
    * partition (O(compressed bitmap)); None = no filter. Shared by
    * the row path and the filtered columnar path. */
  def dvKeep(part: DeltaFilePartition): Option[Long => Boolean] =
    (part.dvSkip, part.dvKeepDiff) match {
      case (Some(d), None) =>
        val bm = graft.sources.DeletionVectors
          .readBitmap(part.tableDir, d)
        Some(pos => !bm.contains(pos))
      case (None, Some((beforeD, afterD))) =>
        val before = beforeD
          .map(graft.sources.DeletionVectors
            .readBitmap(part.tableDir, _))
          .getOrElse(new graft.sources.DeletionVectors.Bitmap64)
        val after = graft.sources.DeletionVectors
          .readBitmap(part.tableDir, afterD)
        require(before.andNot(after).isEmpty,
          s"file ${part.path}'s deletion vector SHRANK — an " +
            "undelete has no CDF spelling here")
        Some(pos => after.contains(pos) && !before.contains(pos))
      case (None, None) => None
      case other => throw new IllegalArgumentException(
        s"a partition cannot carry both DV modes: $other")
    }

  /** Copy the surviving rows of each vectorized batch into fresh
    * output vectors, in the PUBLIC schema order. `order` maps public
    * field index → the inner batch's vector index; `keep` judges the
    * running FILE position (parquet row index — exactly what the DV
    * bitmaps key on because these readers scan whole files from
    * offset 0). Primitive leaf types only — the CDF factory gates
    * struct-bearing schemas onto the row path. */
  def filteredColumnarReader(
      reader: org.apache.spark.sql.execution.datasources.parquet
        .VectorizedParquetRecordReader,
      schema: StructType, order: Array[Int], keep: Long => Boolean,
      posAt: Int = -1)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var out: org.apache.spark.sql.vectorized.ColumnarBatch = _
      private var filePos = 0L
      override def next(): Boolean = {
        while (reader.nextKeyValue()) {
          val inner = reader.getCurrentValue
            .asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]
          val n = inner.numRows()
          val base = filePos
          filePos += n
          val sel = new Array[Int](n)
          var m = 0
          var i = 0
          while (i < n) {
            if (keep(base + i)) { sel(m) = i; m += 1 }
            i += 1
          }
          if (m > 0) {
            val vecs = new Array[
              org.apache.spark.sql.vectorized.ColumnVector](
                schema.fields.length)
            var c = 0
            while (c < schema.fields.length) {
              if (c == posAt) {
                // `_pos` metadata: the surviving rows' PHYSICAL file
                // positions — the same counter the DV mask keys on
                val dst = new OnHeapColumnVector(m,
                  org.apache.spark.sql.types.LongType)
                var j = 0
                while (j < m) { dst.putLong(j, base + sel(j)); j += 1 }
                vecs(c) = dst
                c += 1
              } else {
              val src = inner.column(order(c))
              val dt = schema.fields(c).dataType
              val dst = new OnHeapColumnVector(m, dt)
              // type dispatch hoisted OUT of the per-row loop — a
              // per-value match costs more than the copy itself
              val copy: (Int, Int) => Unit = dt match {
                case LongType | TimestampType | TimestampNTZType =>
                  (j, r) => dst.putLong(j, src.getLong(r))
                case IntegerType | DateType =>
                  (j, r) => dst.putInt(j, src.getInt(r))
                case DoubleType =>
                  (j, r) => dst.putDouble(j, src.getDouble(r))
                case FloatType =>
                  (j, r) => dst.putFloat(j, src.getFloat(r))
                case BooleanType =>
                  (j, r) => dst.putBoolean(j, src.getBoolean(r))
                case StringType =>
                  (j, r) => {
                    val s = src.getUTF8String(r)
                    dst.putByteArray(j, s.getBytes): Unit
                  }
                case d: org.apache.spark.sql.types.DecimalType =>
                  (j, r) => dst.putDecimal(j,
                    src.getDecimal(r, d.precision, d.scale),
                    d.precision)
                case other => throw new IllegalArgumentException(
                  s"filtered columnar copy: unsupported type $other")
              }
              var j = 0
              while (j < m) {
                val r = sel(j)
                if (src.isNullAt(r)) dst.putNull(j) else copy(j, r)
                j += 1
              }
              vecs(c) = dst
              c += 1
              }
            }
            out = new org.apache.spark.sql.vectorized.ColumnarBatch(
              vecs, m)
            return true
          }
        }
        false
      }
      override def get()
          : org.apache.spark.sql.vectorized.ColumnarBatch = out
      override def close(): Unit = reader.close()
    }
  }

  /** Column lookup at every nesting level: (1)
    * `delta.columnMapping.id` against the file's parquet field ids,
    * (2) the explicit `ids` map (Iceberg, top level), (3)
    * `delta.columnMapping.physicalName`, (4) the logical name. */
  def resolve(fields: Array[StructField],
      ft: org.apache.parquet.schema.GroupType,
      ids: Map[String, Int]): Array[FieldRes] =
    fields.map { f =>
      val mappedId: Option[Int] =
        if (f.metadata.contains("delta.columnMapping.id"))
          Some(f.metadata.getLong("delta.columnMapping.id").toInt)
        else ids.get(f.name)
      val byId = mappedId.flatMap { id =>
        ft.getFields.asScala.zipWithIndex.collectFirst {
          case (t, i) if t.getId != null &&
            t.getId.intValue == id => i
        }
      }
      val physName =
        if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else f.name
      val idx = byId.getOrElse(
        if (ft.containsField(physName)) ft.getFieldIndex(physName)
        else if (ft.containsField(f.name)) ft.getFieldIndex(f.name)
        else -1)
      val children = f.dataType match {
        case st: StructType if idx >= 0 =>
          // the explicit id map is top-level only; nested levels
          // resolve via their own annotations
          resolve(st.fields, ft.getType(idx).asGroupType(), Map.empty)
        case _ => Array.empty[FieldRes]
      }
      new FieldRes(f, idx, children)
    }

  /** One field's internal value from the current Group (recursive
    * over nested structs; INT96 and INT64 timestamps both decode). */
  def value(g: org.apache.parquet.example.data.Group,
      gt: org.apache.parquet.schema.GroupType, r: FieldRes): Any = {
    val i = r.idx
    if (i < 0) null
    else if (g.getFieldRepetitionCount(i) == 0) null
    else r.f.dataType match {
      case _: StructType =>
        val cg = g.getGroup(i, 0)
        val ct = gt.getType(i).asGroupType()
        new GenericInternalRow(
          r.children.map(c => value(cg, ct, c)): Array[Any])
      case LongType => g.getLong(i, 0)
      case IntegerType => g.getInteger(i, 0)
      case DoubleType => g.getDouble(i, 0)
      case FloatType => g.getFloat(i, 0)
      case BooleanType => g.getBoolean(i, 0)
      case StringType =>
        UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
      // Spark's default parquet timestamp is INT96 (julian day +
      // nanos-of-day, little-endian); newer writers use INT64
      // micros — decode either to internal micros
      case TimestampType | TimestampNTZType =>
        val prim = gt.getType(i).asPrimitiveType()
          .getPrimitiveTypeName
        if (prim == org.apache.parquet.schema.PrimitiveType
              .PrimitiveTypeName.INT96) {
          val buf = java.nio.ByteBuffer
            .wrap(g.getInt96(i, 0).getBytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanosOfDay = buf.getLong
          val julianDay = buf.getInt
          (julianDay - 2440588).toLong * 86400000000L +
            nanosOfDay / 1000L
        } else g.getLong(i, 0)
      case DateType => g.getInteger(i, 0)
      // long-backed decimal: INT64 (or INT32 for p<=9) unscaled
      case d: org.apache.spark.sql.types.DecimalType
          if d.precision <= 18 =>
        val prim = gt.getType(i).asPrimitiveType()
          .getPrimitiveTypeName
        val unscaled =
          if (prim == org.apache.parquet.schema.PrimitiveType
                .PrimitiveTypeName.INT32) g.getInteger(i, 0).toLong
          else g.getLong(i, 0)
        org.apache.spark.sql.types.Decimal
          .createUnsafe(unscaled, d.precision, d.scale)
      case other => throw new IllegalArgumentException(
        s"graft stream reader: unsupported type $other")
    }
  }

  /** Decode one log-stringified partition value into the internal
    * representation of `dataType` (shared by both read paths). */
  def decodeConstant(s: String, dataType: DataType,
                     name: String): Any =
    if (s == null) null else dataType match {
      case LongType => s.toLong
      case IntegerType => s.toInt
      case DoubleType => s.toDouble
      case FloatType => s.toFloat
      case BooleanType => s.toBoolean
      case StringType => UTF8String.fromString(s)
      case DateType =>
        // Delta partitionValues stringify dates as yyyy-MM-dd;
        // Iceberg identity manifest tuples stringify the avro
        // date logical type as its epoch-day INT — accept both
        if (s.matches("-?\\d+")) s.toInt
        else java.time.LocalDate.parse(s).toEpochDay.toInt
      case other => throw new IllegalArgumentException(
        s"unsupported partition column type $other for $name")
    }
}

private class DeltaFileReaderFactory(schemaJson: String,
    fieldIds: Map[String, Int] = Map.empty,
    columnar: Boolean = true,
    metadataIdsInFiles: Boolean = false,
    posCol: Boolean = false)
    extends PartitionReaderFactory {
  import RowReadSupport.{decodeConstant, resolve, value, FieldRes}

  /** The schema the PARQUET reader is asked for: logical names
    * replaced by `delta.columnMapping.physicalName` where annotated
    * (mode=name files spell `col-<uuid>`), and field ids
    * re-expressed as `parquet.field.id` metadata so Spark's native
    * field-id matcher resolves them — but ONLY when the files
    * actually carry parquet ids (`metadataIdsInFiles` = Delta
    * mapping mode=id; the Iceberg `ids` map unconditionally — its
    * spec requires ids in data files). Everything surfaces NULLABLE:
    * a column absent from an older file must null-fill (the
    * schema-on-read rule), not fail a required-column check.
    * Recursive over nested structs. */
  private def translate(fields: Array[StructField],
      ids: Map[String, Int],
      topLevel: Boolean = true): Array[StructField] =
    fields.map { f =>
      val name =
        if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else f.name
      // field ids attach at the TOP level only: NESTED levels
      // resolve by physicalName even under mode=id — the protocol
      // records physical names under both modes and requires data
      // files to spell them, and Spark's nested field-id matching
      // silently NULLs where its schema pruning strips the id
      // metadata (measured, round 13; the batch DataFrame reader
      // adopted the same rule in round 14 — DeltaLog.scala:371)
      val id: Option[Long] =
        if (!topLevel) None
        else if (metadataIdsInFiles &&
            f.metadata.contains("delta.columnMapping.id"))
          Some(f.metadata.getLong("delta.columnMapping.id"))
        else ids.get(f.name).map(_.toLong)
      val meta = id match {
        case Some(i) => new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", i).build()
        case None => org.apache.spark.sql.types.Metadata.empty
      }
      val dt = f.dataType match {
        case st: StructType =>
          StructType(translate(st.fields, Map.empty, topLevel = false))
        case other => other
      }
      StructField(name, dt, nullable = true, meta)
    }

  override def supportColumnarReads(partition: InputPartition)
      : Boolean = columnar

  /** Open one parquet file with Spark's VECTORIZED reader: constants
    * (partition columns / CDF tags) become CONSTANT VECTORS via
    * initBatch, everything else reads from the file (missing columns
    * null-fill). Returns the initialized reader plus the vector
    * re-ordering from the reader's (fileFields, constFields) layout
    * into the public schema's order. Shared by the plain columnar
    * path and the Iceberg CDF position-delete columnar reader. */
  private[streaming] def openVectorized(filePath: String,
      pv: Map[String, String], schema: StructType)
      : (org.apache.spark.sql.execution.datasources.parquet
          .VectorizedParquetRecordReader, Array[Int]) = {
    val (constFields, fileFields) =
      schema.fields.partition(f => pv.contains(f.name))
    val requested = StructType(translate(fileFields, fieldIds))
    val partitionSchema = StructType(constFields.map(f =>
      StructField(f.name, f.dataType, f.nullable)))
    val constRow = new GenericInternalRow(constFields.map(f =>
      decodeConstant(pv(f.name), f.dataType, f.name)): Array[Any])
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet." +
        "ParquetReadSupport")
    conf.set(org.apache.spark.sql.execution.datasources.parquet
      .ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    conf.set("spark.sql.parquet.binaryAsString", "false")
    conf.set("spark.sql.parquet.int96AsTimestamp", "true")
    conf.set("spark.sql.caseSensitive", "false")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val hasIds = {
      def any(fs: Array[StructField]): Boolean = fs.exists(f =>
        f.metadata.contains("parquet.field.id") || (f.dataType match {
          case st: StructType => any(st.fields)
          case _ => false
        }))
      any(requested.fields)
    }
    conf.set("spark.sql.parquet.fieldId.read.enabled", hasIds.toString)
    conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    val path = new Path(filePath)
    // length via the Hadoop filesystem, NOT java.io.File — add
    // actions deliberately pass through URI-schemed absolute paths
    // (file:/, s3a://), for which File.length() answers 0 and a
    // [0,0) split would silently read zero rows from a real file
    val fileLen = path.getFileSystem(conf).getFileStatus(path).getLen
    require(fileLen > 0,
      s"streamed parquet file $filePath resolves to 0 bytes — " +
        "refusing a zero-length split that would silently emit no rows")
    val split = new org.apache.hadoop.mapred.FileSplit(
      path, 0, fileLen, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task
      .TaskAttemptContextImpl(conf,
        new org.apache.hadoop.mapreduce.TaskAttemptID())
    // rebase CORRECTED both calendars: every file here is written by
    // a modern Spark (proleptic Gregorian); session tz is the file tz
    val reader = new org.apache.spark.sql.execution.datasources
      .parquet.VectorizedParquetRecordReader(
        null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
    reader.initialize(split, ctx)
    reader.initBatch(partitionSchema, constRow)
    reader.enableReturningBatches()
    // the reader's batch lays out fileFields THEN constFields —
    // re-order vectors once into the public schema's order
    val innerOrder: Map[String, Int] =
      (fileFields.map(_.name) ++ constFields.map(_.name))
        .zipWithIndex.toMap
    (reader, schema.fields.map(f => innerOrder(f.name)))
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    RowReadSupport.lastReadPath = "columnar"
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val part = partition.asInstanceOf[DeltaFilePartition]
    // `_pos` metadata: synthesized (exists in no file) — open the
    // parquet reader WITHOUT it, re-insert its slot in the order map
    val posIdx =
      if (!posCol) -1 else schema.fieldNames.indexOf(MetaCols.Pos)
    val openSchema =
      if (posIdx < 0) schema
      else StructType(schema.fields.patch(posIdx, Nil, 1))
    val (reader, order0) =
      openVectorized(part.path, part.partitionValues, openSchema)
    val order =
      if (posIdx < 0) order0
      else (order0.take(posIdx) :+ -1) ++ order0.drop(posIdx)
    val keep: Option[Long => Boolean] = RowReadSupport.dvKeep(part)
    if (keep.isEmpty && posIdx >= 0)
      // no row filter but `_pos` requested: per batch, one fresh
      // position vector (base..base+n-1) joins the re-ordered file
      // vectors — O(n) longs, still fully vectorized
      new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
        import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
        private var filePos = 0L
        private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
        override def next(): Boolean = {
          val has = reader.nextKeyValue()
          if (has) {
            val inner = reader.getCurrentValue
              .asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]
            val n = inner.numRows()
            val posVec = new OnHeapColumnVector(n,
              org.apache.spark.sql.types.LongType)
            var i = 0
            while (i < n) { posVec.putLong(i, filePos + i); i += 1 }
            filePos += n
            val vecs = Array.tabulate[
                org.apache.spark.sql.vectorized.ColumnVector](
              schema.fields.length)(c =>
                if (c == posIdx) posVec else inner.column(order(c)))
            batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
              vecs, n)
          }
          has
        }
        override def get()
            : org.apache.spark.sql.vectorized.ColumnarBatch = batch
        override def close(): Unit = reader.close()
      }
    else if (keep.isEmpty)
      // no row filter: zero-copy vector re-ordering
      new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
        private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
        override def next(): Boolean = {
          val has = reader.nextKeyValue()
          if (has) {
            val inner = reader.getCurrentValue
              .asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]
            if (batch == null)
              batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
                order.map(inner.column(_)))
            batch.setNumRows(inner.numRows())
          }
          has
        }
        override def get()
            : org.apache.spark.sql.vectorized.ColumnarBatch = batch
        override def close(): Unit = reader.close()
      }
    else
      // DELETION-VECTOR row filter, columnar: decode stays in the
      // vectorized parquet reader (the 2.4x win); surviving rows are
      // COPIED into fresh output vectors by running file position —
      // the only extra cost over the unfiltered path, O(survivors),
      // and still far below per-row Group materialization. This is
      // where CDC backlogs concentrate (delete-heavy batches), so
      // the copy buys throughput exactly where it matters.
      RowReadSupport.filteredColumnarReader(reader, schema, order,
        keep.get, posAt = posIdx)
  }


  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    RowReadSupport.lastReadPath = "row"
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val file = partition.asInstanceOf[DeltaFilePartition].path
    // partition columns live only in the table's metadata — their
    // per-file value arrives with the partition and is emitted as a
    // CONSTANT for every row of the file (string-decoded once here,
    // exactly what Spark's own PartitioningAwareFileIndex does)
    val constants: Map[String, Any] = {
      val pv = partition.asInstanceOf[DeltaFilePartition].partitionValues
      schema.fields.flatMap { f =>
        pv.get(f.name).map(s =>
          f.name -> decodeConstant(s, f.dataType, f.name))
      }.toMap
    }
    // deletion-vector row predicate, decoded ONCE per task from the
    // descriptors riding the partition — O(compressed bitmap) on the
    // executor that reads the file, O(1) per row after
    val keep: Long => Boolean = RowReadSupport
      .dvKeep(partition.asInstanceOf[DeltaFilePartition])
      .getOrElse(_ => true)
    new PartitionReader[InternalRow] {
      private val reader = ParquetReader
        .builder(new GroupReadSupport(), new Path(file)).build()
      private var current: org.apache.parquet.example.data.Group = _
      private var rowPos = -1L
      // table-field resolution tree, computed ONCE per file
      private var res: Array[FieldRes] = _
      override def next(): Boolean = {
        current = reader.read()
        rowPos += 1
        while (current != null && !keep(rowPos)) {
          current = reader.read()
          rowPos += 1
        }
        current != null
      }
      override def get(): InternalRow = {
        val fileType = current.getType
        if (res == null) res = resolve(schema.fields, fileType, fieldIds)
        val vals = res.map { r =>
          if (posCol && r.f.name == MetaCols.Pos) rowPos
          else if (constants.contains(r.f.name)) constants(r.f.name)
          else value(current, fileType, r)
        }
        new GenericInternalRow(vals: Array[Any])
      }
      override def close(): Unit = reader.close()
    }
  }
}
