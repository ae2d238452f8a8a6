package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions,
  NamedReference, Expression => VExpression}
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReaderFactory, Scan, ScanBuilder, Statistics,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns,
  SupportsReportPartitioning, SupportsReportStatistics,
  SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{
  KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.{And => FAnd, EqualNullSafe,
  EqualTo => FEq, Filter, GreaterThan => FGt,
  GreaterThanOrEqual => FGe, In => FIn, IsNotNull => FNotNull,
  IsNull => FIsNull, LessThan => FLt, LessThanOrEqual => FLe}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{DeltaLog, Iceberg, PruningPredicates}

/** DataSourceV2 BATCH reads for the open formats — the missing half
  * of the `graft-delta` / `graft-iceberg` connectors. The streaming
  * side has been DSv2 since round 9; batch reads so far went through
  * the library's DataFrame APIs (`DeltaLog.read`/`readFiltered`,
  * `Iceberg.read`), where pruning is an EXPLICIT call. This file
  * makes `spark.read.format("graft-delta").load(dir)` a first-class
  * relation Catalyst itself optimizes:
  *
  *  - `SupportsPushDownFilters`: planning-time FILE pruning from the
  *    query's own WHERE clause — partition values (type-aware
  *    equality, the eqMatches discipline) + per-file long bounds
  *    (Delta `add.stats`, Iceberg manifest value bounds). Superset
  *    contract: every filter is also returned as residual, so
  *    unprovable conjuncts cost file reads, never wrong rows.
  *  - `SupportsPushDownRequiredColumns`: column pruning — the scan
  *    reads (and the vectorized reader materializes) only the
  *    projected top-level columns. Nested fields deliberately prune
  *    at the TOP level only: Spark's nested-schema pruning strips
  *    the column-mapping/field-id metadata the mapped readers
  *    resolve by (measured, round 13), so the scan keeps whole
  *    structs and lets the Project above narrow them.
  *  - `SupportsReportStatistics`: post-pushdown sizeInBytes/rowCount
  *    from the log's own file sizes and stats, so a small dimension
  *    read through the connector AUTO-BROADCASTS — at 100 TB the
  *    difference between a map-side hash join and a sort-merge
  *    shuffle of the fact table.
  *  - `SupportsRuntimeFiltering`: DYNAMIC file pruning — Spark's
  *    runtime-filtering rule feeds the join keys of an executed
  *    build side (DPP-style `InSubqueryExec`) back into the scan,
  *    which re-prunes its planned files by partition value AND stats
  *    bounds before any fact-side task launches. A fact⟕dim join
  *    with a selective dim filter reads the matching files only.
  *  - `SupportsReportPartitioning` + `HasPartitionKey`: partitioned
  *    tables report a `KeyGroupedPartitioning` over their identity
  *    partition columns, so two tables partitioned on the join key
  *    join WITHOUT A SHUFFLE under
  *    `spark.sql.sources.v2.bucketing.enabled` — the
  *    storage-partitioned join, the open formats' answer to bucketed
  *    co-location at lake scale.
  *
  * Executor-side reading is the SAME vectorized machinery as the
  * streams ([[DeltaFileReaderFactory]]): ColumnarBatch into
  * whole-stage codegen, partition values as constant vectors,
  * deletion vectors as per-file position masks (Delta DVs ride their
  * log descriptors; Iceberg POSITION deletes are folded driver-side
  * into the same inline-bitmap descriptors — O(delete rows) once at
  * planning, zero join at execution). Iceberg EQUALITY deletes fold
  * into the SAME masks via one bounded distributed matching job at
  * planning ([[Iceberg.eqDeleteBatchMasks]]): sequence-scoped and
  * key-bounds-pruned to the files a delete can touch, scanning only
  * the key columns, collecting O(deleted rows) — so a foreign
  * CDC-written table (the Flink eq-delete wire) SELECTs natively
  * with zero joins in the executed plan.
  *
  * Time travel: `versionAsOf` (Delta), `snapshotAsOf` (Iceberg),
  * `timestampAsOf` (both) pin the snapshot; the pinned state also
  * freezes the file list, so a concurrent commit never tears a
  * running query. Reference surface: spark/batch_silver.py:24-31
  * reads bronze with `spark.read.format("delta")` — this is that
  * call shape against this engine's own logs. */
private[graft] object BatchScanStats {
  /** Seam counters per table dir: live files in the pinned snapshot,
    * files surviving planning-time pushdown, files surviving the
    * LAST runtime-filter replan (-1 until runtime filtering ran). */
  case class Stats(live: Long, pushdownKept: Long, runtimeKept: Long)

  private val m =
    scala.collection.concurrent.TrieMap.empty[String, Stats]

  def reset(table: String): Unit = m.remove(table): Unit

  private[streaming] def record(table: String, live: Long,
                                kept: Long): Unit =
    m.put(table, Stats(live, kept,
      m.get(table).map(_.runtimeKept).getOrElse(-1L))): Unit

  private[streaming] def recordRuntime(table: String,
                                       kept: Long): Unit =
    m.get(table) match {
      case Some(s) => m.put(table, s.copy(runtimeKept = kept)): Unit
      case None => m.put(table, Stats(-1L, -1L, kept)): Unit
    }

  def statsFor(table: String): Stats =
    m.getOrElse(table, Stats(-1L, -1L, -1L))
}

/** The connectors' METADATA COLUMNS (SupportsMetadataColumns):
  * `_file` — the data file path a row came from, constant per file.
  * Generally useful for lake ops debugging (`SELECT _file, count(*)
  * ... GROUP BY _file`), and the backbone of the SQL row-level
  * operations: Spark's runtime GROUP filter feeds matching `_file`
  * values back into the scan, pruning the copy-on-write rewrite
  * group to exactly the files that hold matches. Shadowed by a real
  * data column of the same name, per the interface contract. */
private[streaming] object MetaCols {
  val File = "_file"
  val fileField: org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(File,
      org.apache.spark.sql.types.StringType, nullable = false)

  val fileColumn: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = File
      override def dataType(): DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "data file path the row was read from"
    }

  /** `_pos` — the row's PHYSICAL position within its data file
    * (parquet row index, counted BEFORE any deletion-vector mask, so
    * it is exactly the currency DV bitmaps and Iceberg position
    * deletes key on). `(_file, _pos)` is a stable row identity — the
    * rowId the delta-based (merge-on-read) row-level operations
    * declare, as the Iceberg-Spark connector does. */
  val Pos = "_pos"
  val posField: org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(Pos,
      org.apache.spark.sql.types.LongType, nullable = false)

  val posColumn: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = Pos
      override def dataType(): DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "physical row position within the data file (pre-mask)"
    }
}

/** Mixin giving a connector Table the [[MetaCols]] metadata
  * columns. */
private[streaming] trait OpenFormatMetadata
  extends org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  def dataSchema: StructType
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      Option.unless(dataSchema.fieldNames.contains(MetaCols.File))(
        MetaCols.fileColumn),
      Option.unless(dataSchema.fieldNames.contains(MetaCols.Pos))(
        MetaCols.posColumn)).flatten
}

/** File-level pruning from pushed/runtime V1 filters — the shared
  * judge both connectors' batch scans apply per planned file.
  * Everything here is PROVABLY prune-safe or keeps the file (the
  * superset contract [[graft.sources.PruningPredicates]] documents);
  * Spark re-applies every filter above the scan because
  * `pushFilters` returns them all as residual. */
private[streaming] object BatchPruning {

  /** Filters this scan can use for pruning (reported as
    * `PushedFilters` in explain; the rest are residual-only). */
  def prunable(f: Filter): Boolean = f match {
    case _: FEq | _: EqualNullSafe | _: FIn | _: FGt | _: FGe |
         _: FLt | _: FLe | _: FIsNull | _: FNotNull => true
    case FAnd(l, r) => prunable(l) || prunable(r)
    case _ => false
  }

  private def longLit(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** A predicate literal in the PRUNE-SPACE currency of `col`:
    * plain long for integral columns; for long-backed DECIMAL
    * columns the UNSCALED value at the column's declared scale (the
    * same spelling the writer tracked and [[graft.sources.DeltaLog
    * .statsBoundsFor]] decoded — both sides compare unscaled). A
    * literal that cannot rescale exactly returns None → keep. */
  private def litLong(declared: Map[String, DataType], col: String,
                      v: Any): Option[Long] =
    declared.get(col) match {
      case Some(d: org.apache.spark.sql.types.DecimalType)
          if d.precision <= 18 =>
        val bd = v match {
          case b: java.math.BigDecimal => Some(b)
          case b: BigDecimal => Some(b.underlying)
          case l: Long => Some(java.math.BigDecimal.valueOf(l))
          case i: Int => Some(java.math.BigDecimal.valueOf(i.toLong))
          case _ => None
        }
        bd.flatMap(b => scala.util.Try(
          b.setScale(d.scale).unscaledValue().longValueExact())
          .toOption)
      case _ => longLit(v)
    }

  /** Can `file` (partition values + long bounds) possibly satisfy
    * `filter`? False only on PROOF of a miss. `declared` maps column
    * name → its table type (partition-value strings compare through
    * it — the eqMatches rule). */
  def mightMatch(filter: Filter, declared: Map[String, DataType],
                 partCols: Set[String], pv: Map[String, String],
                 bounds: Map[String, (Long, Long)]): Boolean = {
    def eqAny(col: String, values: Seq[Any]): Boolean = {
      if (values.isEmpty) return true // degenerate IN () — keep
      val byPartition =
        if (!partCols.contains(col) || !pv.contains(col)) true
        else values.exists(v =>
          declared.get(col)
            .flatMap(dt => PruningPredicates.eqMatches(dt, pv(col), v))
            .getOrElse(true))
      val byStats = bounds.get(col) match {
        case Some((lo, hi)) =>
          values.exists(v =>
            litLong(declared, col, v).forall(l => l >= lo && l <= hi))
        case None => true
      }
      byPartition && byStats
    }
    def rangeOk(col: String, cmp: (Long, Long, Long) => Boolean,
                lit: Any): Boolean =
      litLong(declared, col, lit) match {
        case Some(l) =>
          val byBounds = bounds.get(col) match {
            case Some((lo, hi)) => cmp(lo, hi, l)
            case None => true
          }
          // an integral identity-partition value is its own
          // [min, max] — prune range predicates on it too
          val byPartition =
            if (!partCols.contains(col)) true
            else pv.get(col).flatMap(Option(_)) match {
              case Some(s) if declared.get(col).exists(
                  dt => dt == org.apache.spark.sql.types.LongType ||
                    dt == org.apache.spark.sql.types.IntegerType ||
                    dt == org.apache.spark.sql.types.ShortType ||
                    dt == org.apache.spark.sql.types.ByteType) =>
                scala.util.Try(s.trim.toLong).toOption
                  .forall(p => cmp(p, p, l))
              case _ => true
            }
          byBounds && byPartition
        case None => true
      }
    filter match {
      case FEq(col, v) if v != null => eqAny(col, Seq(v))
      case EqualNullSafe(col, v) if v != null => eqAny(col, Seq(v))
      // IN-list nulls match nothing (SQL three-valued IN), so the
      // non-null subset alone decides; an all-null/empty list keeps
      case FIn(col, vs) => eqAny(col, vs.toSeq.filter(_ != null))
      case FGt(col, v) => rangeOk(col, (_, hi, l) => hi > l, v)
      case FGe(col, v) => rangeOk(col, (_, hi, l) => hi >= l, v)
      case FLt(col, v) => rangeOk(col, (lo, _, l) => lo < l, v)
      case FLe(col, v) => rangeOk(col, (lo, _, l) => lo <= l, v)
      case FIsNull(col) =>
        // provable only from a partition value: stored non-null
        // means NO row of the file has this column null
        !(partCols.contains(col) && pv.get(col).exists(_ != null))
      case FNotNull(col) =>
        // a stored NULL partition value means EVERY row is null
        !(partCols.contains(col) && pv.get(col).contains(null))
      case FAnd(l, r) =>
        mightMatch(l, declared, partCols, pv, bounds) &&
          mightMatch(r, declared, partCols, pv, bounds)
      case _ => true // Or/Not/strings-vs-stats/unknown: keep
    }
  }

  def keepFile(filters: Seq[Filter], declared: Map[String, DataType],
               partCols: Set[String], pv: Map[String, String],
               bounds: Map[String, (Long, Long)]): Boolean =
    filters.forall(mightMatch(_, declared, partCols, pv, bounds))
}

/** One batch-planned file: everything the scan needs to prune it,
  * key it, and hand it to the shared reader factory. */
private[streaming] case class BatchFile(path: String,
    pv: Map[String, String], bounds: Map[String, (Long, Long)],
    sizeBytes: Long, records: Option[Long],
    dv: Option[graft.sources.DeletionVectors.Descriptor])

/** [[DeltaFilePartition]] that also reports its partition KEY — the
  * handle `BatchScanExec` groups tasks by under the
  * storage-partitioned join. */
private[streaming] class KeyedFilePartition(path: String,
    pv: Map[String, String], tableDir: String,
    dvSkip: Option[graft.sources.DeletionVectors.Descriptor],
    @transient private val keyVals: Array[Any])
  extends DeltaFilePartition(path, pv, tableDir, dvSkip, None)
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  // materialized eagerly (the driver groups by it); the row never
  // ships to executors — @transient keeps the task binary lean
  @transient private lazy val keyRow: InternalRow =
    new GenericInternalRow(keyVals)
  override def partitionKey(): InternalRow = keyRow
}

/** The two formats' shared batch Scan: pinned snapshot in, pruned
  * file partitions out. Subclasses supply the snapshot plan and the
  * reader factory; everything Catalyst-facing lives here. */
private[streaming] abstract class OpenFormatBatchScan(
    val tableDir: String, publicSchema: StructType,
    partCols: Seq[String], files: Seq[BatchFile],
    pushed: Array[Filter], required: Option[Seq[String]],
    passPartitionValuesToReader: Boolean,
    limit: Option[Int] = None)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering with SupportsReportPartitioning {

  def readerFactory(prunedPublic: StructType): PartitionReaderFactory

  /** Streaming delegate — the unified ScanBuilder serves both
    * surfaces; pushdown never reaches the stream (Spark plans
    * micro-batch scans without the V2 pushdown rule), so the
    * delegate always sees the full schema. */
  def streamingScan: Scan
  override def toMicroBatchStream(cp: String): MicroBatchStream = {
    require(pushed.isEmpty && required.isEmpty,
      "internal: pushdown reached a streaming scan")
    streamingScan.toMicroBatchStream(cp)
  }

  protected val declared: Map[String, DataType] =
    publicSchema.fields.map(f => f.name -> f.dataType).toMap

  /** Was the `_file` METADATA column requested (via
    * [[OpenFormatMetadata]] on the table)? Shadowed by a real data
    * column of the same name, per the SupportsMetadataColumns
    * contract. */
  private val wantFile: Boolean = !declared.contains(MetaCols.File) &&
    required.exists(_.contains(MetaCols.File))

  /** Was the `_pos` METADATA column requested? Its value is the
    * row's physical position within its file — synthesized by the
    * reader (it exists in no file and no partition tuple). */
  protected val wantPos: Boolean = !declared.contains(MetaCols.Pos) &&
    required.exists(_.contains(MetaCols.Pos))

  /** Pruned PUBLIC schema, table field order (+ the `_file` metadata
    * column when requested — its value is the data file's path,
    * constant per file). A required column the snapshot's schema
    * lacks refuses loudly — null-filling a name the table never had
    * would mask a typo'd projection. */
  override val readSchema: StructType = required match {
    case None => publicSchema
    case Some(names) =>
      val missing = names
        .filterNot(n => wantFile && n == MetaCols.File)
        .filterNot(n => wantPos && n == MetaCols.Pos)
        .filterNot(declared.contains)
      require(missing.isEmpty,
        s"$name: columns ${missing.mkString(", ")} not in the " +
          s"pinned snapshot's schema " +
          s"(${publicSchema.fieldNames.mkString(", ")})")
      StructType(publicSchema.fields.filter(f =>
        names.contains(f.name)) ++
        (if (wantFile) Seq(MetaCols.fileField) else Seq.empty) ++
        (if (wantPos) Seq(MetaCols.posField) else Seq.empty))
  }

  /** Pruning views of a file that treat `_file` as a per-file
    * identity "partition value" — so equality/IN predicates on the
    * metadata column (notably the runtime GROUP filter a SQL
    * row-level operation feeds back) prune to exactly the named
    * files. */
  private def prunePv(f: BatchFile): Map[String, String] =
    f.pv + (MetaCols.File -> f.path)
  private lazy val prunePartCols: Set[String] =
    partCols.toSet + MetaCols.File ++ extraPruneCols.keySet
  private lazy val pruneDeclared: Map[String, DataType] =
    declared ++ extraPruneCols +
      (MetaCols.File -> org.apache.spark.sql.types.StringType)

  /** PRUNE-SPACE columns a subclass adds beyond the public schema —
    * hidden-transform TUPLE fields (`o_custkey_bucket` → int): they
    * exist only in manifest partition tuples, never in rows. */
  protected def extraPruneCols: Map[String, DataType] = Map.empty

  /** Prune-space filters DERIVED from data-space ones — the hidden
    * partitioning contract: a predicate on the RAW source column
    * implies a predicate on its transform tuple (equality maps
    * through any transform, ranges through the monotonic ones).
    * Superset-safe by construction: a derived filter only ever
    * REMOVES files whose tuple provably mismatches. */
  protected def derivedPruneFilters(fs: Seq[Filter]): Seq[Filter] =
    Seq.empty

  private def withDerived(fs: Seq[Filter]): Seq[Filter] =
    fs ++ derivedPruneFilters(fs)

  def name: String

  /** Batch-only preconditions, forced at `toBatch` so a STREAMING
    * query through the same builder never trips them (a stream on an
    * equality-delete Iceberg table must keep refusing at its own
    * plan-time seam, not at scan build). */
  protected def batchPrereqs(): Unit = ()

  /** Per-file row mask — overridable so a subclass can derive masks
    * LAZILY (Iceberg folds its position deletes only when a batch
    * actually plans). */
  protected def dvFor(f: BatchFile)
      : Option[graft.sources.DeletionVectors.Descriptor] = f.dv

  protected lazy val afterPushdown: Seq[BatchFile] = {
    val kept =
      if (pushed.isEmpty) files
      else files.filter(f => BatchPruning.keepFile(
        withDerived(pushed.toSeq),
        pruneDeclared, prunePartCols, prunePv(f), f.bounds))
    BatchScanStats.record(tableDir, files.size.toLong,
      kept.size.toLong)
    kept
  }

  // ---- runtime filtering (dynamic file pruning) ----
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  /** Join keys Spark may feed back at runtime: partition columns
    * plus every projected column with stats bounds on some file —
    * the two metadata shapes the planner can prune with. */
  override def filterAttributes(): Array[NamedReference] = {
    val statsCols = files.iterator.flatMap(_.bounds.keysIterator)
      .toSet.intersect(readSchema.fieldNames.toSet)
    (partCols.filter(readSchema.fieldNames.contains).toSet ++
      statsCols ++
      // the `_file` metadata column is the sharpest group key a
      // runtime filter can feed back: IN(file paths) prunes to
      // exactly the matching files
      (if (wantFile) Set(MetaCols.File) else Set.empty))
      .toArray.sorted.map(Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  override def toBatch: Batch = {
    batchPrereqs()
    this
  }

  /** Truncate a planned file list once the per-file LIVE row counts
    * provably cover the pushed limit (partial push — Spark still
    * applies the exact Limit above). Files without recorded counts
    * disable truncation: dropping one could lose rows. */
  private def applyLimit(fs: Seq[BatchFile]): Seq[BatchFile] =
    limit match {
      // under an ACTIVE key-grouped partitioning, truncation could
      // drop whole partition groups out from under the reported
      // numPartitions — leave the file list whole there
      case Some(l) if fs.forall(_.records.isDefined) &&
          (spjKeys.isEmpty || !org.apache.spark.sql.internal
            .SQLConf.get.v2BucketingEnabled) =>
        var acc = 0L
        val (covered, _) = fs.span { f =>
          val before = acc
          acc += math.max(0L, f.records.get -
            dvFor(f).map(_.cardinality).getOrElse(0L))
          before < l
        }
        covered
      case _ => fs
    }

  /** The FINAL planned file set of the most recent
    * `planInputPartitions` — after pushdown, runtime filtering and
    * the limit. For an ordinary batch read it is diagnostics; for a
    * SQL row-level operation it IS the rewrite group the write
    * replaces ([[DeltaRowLevelOperation]]). */
  @volatile private[streaming] var lastPlanned: Seq[BatchFile] = null

  /** Could a file with these partition values / stats bounds hold a
    * row matching this scan's PUSHED filters? The conflict-proving
    * predicate SQL row-level commits test winner-added files with
    * (superset contract: no pushed filters = anything matches). */
  private[streaming] def groupFilterKeep(pv: Map[String, String],
      bounds: Map[String, (Long, Long)]): Boolean =
    BatchPruning.keepFile(pushed.toSeq, declared, partCols.toSet,
      pv, bounds)

  /** The statically-pushed filters — the row-level ops' conflict
    * footprint. */
  private[streaming] def pushedGroupFilters: Seq[Filter] = pushed.toSeq

  override def planInputPartitions(): Array[InputPartition] = {
    val kept = applyLimit(
      if (runtimeFilters.isEmpty) afterPushdown
      else {
        val k = afterPushdown.filter(f =>
          BatchPruning.keepFile(withDerived(runtimeFilters.toSeq),
            pruneDeclared, prunePartCols, prunePv(f), f.bounds))
        BatchScanStats.recordRuntime(tableDir, k.size.toLong)
        k
      })
    lastPlanned = kept
    val keys = spjKeys
    kept.map { f =>
      val pv = (if (passPartitionValuesToReader) f.pv
        else Map.empty[String, String]) ++
        // `_file` rides the partition as a per-file constant — the
        // reader emits it as a constant vector like partition values
        (if (wantFile) Map(MetaCols.File -> f.path) else Map.empty)
      if (keys.isEmpty)
        DeltaFilePartition(f.path, pv, tableDir,
          dvSkip = dvFor(f)): InputPartition
      else
        new KeyedFilePartition(f.path, pv, tableDir, dvFor(f),
          keys.map(_.keyOf(f)).toArray): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    readerFactory(readSchema)

  // ---- statistics (post-pushdown — drives auto-broadcast) ----
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(afterPushdown.map(_.sizeBytes).sum)
    override def numRows(): java.util.OptionalLong = {
      val counts = afterPushdown.map(f =>
        f.records.map(n =>
          n - dvFor(f).map(_.cardinality).getOrElse(0L)))
      if (counts.forall(_.isDefined))
        java.util.OptionalLong.of(counts.flatten.sum)
      else java.util.OptionalLong.empty()
    }
  }

  // ---- metadata-only aggregates ----
  /** Can the snapshot's file metadata answer aggregates EXACTLY at
    * all? Subclasses veto (Iceberg equality deletes remove rows the
    * manifests still count). */
  protected def metadataAggSafe: Boolean = true

  /** Answer `count(*)` / `min(longCol)` / `max(longCol)`, optionally
    * grouped by partition columns, from per-file metadata alone —
    * None when the metadata cannot answer EXACTLY: missing
    * numRecords (count), missing bounds or any row mask (min/max —
    * a deletion vector may have retired the extreme row), non-Long
    * column types, group keys off the partition columns. Schema and
    * row layout follow Spark's pushed-aggregate contract: group-by
    * columns first, aggregate columns after, POSITIONAL. */
  private[streaming] def metadataAggregate(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Option[(StructType, Array[InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{
      CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.types.{IntegerType, LongType,
      StructField}
    if (!metadataAggSafe) return None
    def colOf(e: org.apache.spark.sql.connector.expressions
        .Expression): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        Some(f.fieldNames()(0)).filter(declared.contains)
      case _ => None
    }
    def box(c: String, v: Long): Any = declared(c) match {
      case IntegerType => v.toInt
      case _ => v
    }
    val groupCols: Seq[String] = agg.groupByExpressions.toSeq
      .map(e => colOf(e).getOrElse(return None))
    if (!groupCols.forall(partCols.contains)) return None
    if (groupCols.nonEmpty &&
        !files.forall(f => groupCols.forall(f.pv.contains)))
      return None
    val anyMask = files.exists(f => dvFor(f).isDefined)
    def liveRows(f: BatchFile): Option[Long] =
      f.records.map(n =>
        n - dvFor(f).map(_.cardinality).getOrElse(0L))
    def longTyped(c: String): Boolean = declared(c) match {
      case LongType | IntegerType => true
      case _ => false
    }
    // one evaluator per aggregate, applied per group
    val evals: Seq[(StructField, Seq[BatchFile] => Any)] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          if (!files.forall(_.records.isDefined)) return None
          (StructField("count(*)", LongType, nullable = false),
            (fs: Seq[BatchFile]) =>
              fs.map(liveRows(_).get).sum: Any)
        case m: Min =>
          val c = colOf(m.column).getOrElse(return None)
          if (!longTyped(c) || anyMask ||
              !files.forall(_.bounds.contains(c))) return None
          (StructField(s"min($c)", declared(c)),
            (fs: Seq[BatchFile]) =>
              if (fs.isEmpty) null
              else box(c, fs.map(_.bounds(c)._1).min))
        case m: Max =>
          val c = colOf(m.column).getOrElse(return None)
          if (!longTyped(c) || anyMask ||
              !files.forall(_.bounds.contains(c))) return None
          (StructField(s"max($c)", declared(c)),
            (fs: Seq[BatchFile]) =>
              if (fs.isEmpty) null
              else box(c, fs.map(_.bounds(c)._2).max))
        case _ => return None // sum/avg/count(col): null counts unknown
      }
    val schema = StructType(
      groupCols.map(c => StructField(c, declared(c))) ++ evals.map(_._1))
    val rows: Array[InternalRow] =
      if (groupCols.isEmpty)
        Array(new GenericInternalRow(
          evals.map(_._2(files)).toArray))
      else files.groupBy(f => groupCols.map(f.pv(_)))
        .toSeq.sortBy(_._1.mkString("\u0000"))
        .map { case (keys, fs) =>
          val keyVals: Seq[Any] = groupCols.zip(keys).map {
            case (_, null) => null
            case (c, s) => RowReadSupport.decodeConstant(s,
              declared(c), c)
          }
          new GenericInternalRow(
            (keyVals ++ evals.map(_._2(fs))).toArray): InternalRow
        }.toArray
    Some((schema, rows))
  }

  // ---- storage-partitioned join ----
  /** One SPJ grouping key: the V2 transform the scan REPORTS and the
    * per-file key extractor feeding `HasPartitionKey`. */
  protected case class SpjKey(expr: VExpression,
                              keyOf: BatchFile => Any)

  /** The scan's key-grouped surface. Default: the IDENTITY partition
    * columns — every one must survive column pruning (a join can't
    * cluster on a column the scan doesn't emit), be reconstructable
    * (values ride every file), and decode cleanly. Subclasses widen
    * to HIDDEN transforms (bucket) whose ordinals ride the manifest
    * tuples. Empty = no SPJ. */
  protected lazy val spjKeys: Seq[SpjKey] =
    if (partCols.nonEmpty &&
        partCols.forall(readSchema.fieldNames.contains) &&
        files.forall(f => partCols.forall(f.pv.contains)) &&
        scala.util.Try(files.foreach(f =>
          partCols.foreach(c => decodeKey(f.pv, c)))).isSuccess)
      partCols.map(c => SpjKey(Expressions.identity(c),
        f => decodeKey(f.pv, c)))
    else Seq.empty

  protected def decodeKey(pv: Map[String, String], c: String): Any =
    pv(c) match {
      case null => null
      case s => RowReadSupport.decodeConstant(s, declared(c), c)
    }

  override def outputPartitioning(): Partitioning =
    if (spjKeys.isEmpty)
      new UnknownPartitioning(afterPushdown.size)
    else {
      val n = afterPushdown
        .map(f => spjKeys.map(k => String.valueOf(k.keyOf(f))))
        .distinct.size
      new KeyGroupedPartitioning(spjKeys.map(_.expr).toArray, n)
    }

  override def description(): String =
    s"$name pushed=[${pushed.mkString(", ")}] " +
      s"files=${afterPushdown.size}/${files.size}"
}

/** The unified ScanBuilder both connectors hand Spark: batch
  * planning gets filter/column/limit/AGGREGATE pushdown, streaming
  * scans pass through untouched (Spark plans micro-batch scans
  * without the V2 pushdown rule, so a stream always builds with
  * empty state).
  *
  * Aggregate pushdown is the METADATA-ONLY kind: `count(*)` /
  * `min(longCol)` / `max(longCol)`, optionally grouped by partition
  * columns, answered entirely from the log's per-file stats — the
  * scan collapses to a driver-local row set and NO data file is
  * opened. At 100 TB, `SELECT count(*) FROM fact` is O(files) driver
  * metadata instead of a full scan. Anything the metadata cannot
  * answer EXACTLY (missing stats, deletion vectors under min/max,
  * non-partition group keys) declines the push and scans normally. */
private[streaming] final class OpenFormatScanBuilder(
    mk: (Array[Filter], Option[Seq[String]], Option[Int]) => Scan)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: Option[Seq[String]] = None
  private var limit: Option[Int] = None
  private var agg: Option[(StructType, Array[InternalRow])] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(BatchPruning.prunable)
    filters // all residual — the superset contract
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // top-level names only: nested pruning strips the mapping
    // metadata the mapped readers resolve by (round-13 measurement).
    // A pushed aggregate replaced the scan output — nothing to prune.
    if (agg.isEmpty) required = Some(requiredSchema.fieldNames.toSeq)

  /** LIMIT truncates the planned FILE LIST once the per-file row
    * counts provably cover it (partial push: Spark keeps the Limit
    * operator, the scan just stops planning files a 10-row preview
    * of a million-file table would never read). */
  override def pushLimit(l: Int): Boolean = {
    limit = Some(l)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  private def probe(
      aggregation: org.apache.spark.sql.connector.expressions
        .aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow])] =
    // Spark only attempts aggregate pushdown with no post-scan
    // filters; ours are always residual, so pushed is empty here —
    // the guard keeps the metadata answer honest if that ever drifts
    if (pushed.nonEmpty) None
    else mk(Array.empty, None, None) match {
      case s: OpenFormatBatchScan => s.metadataAggregate(aggregation)
      case _ => None
    }

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions
        .aggregate.Aggregation): Boolean =
    probe(aggregation).isDefined

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions
        .aggregate.Aggregation): Boolean = {
    agg = probe(aggregation)
    agg.isDefined
  }

  override def build(): Scan = agg match {
    case Some((aggSchema, aggRows)) =>
      new Scan with org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = aggSchema
        override def rows(): Array[InternalRow] = aggRows
        override def description(): String =
          s"graft metadata-only aggregate (${aggRows.length} rows, " +
            "no data files read)"
      }
    case None => mk(pushed, required, limit)
  }
}

private[streaming] object DeltaBatchRead {
  /** Pin the version: versionAsOf, timestampAsOf (epoch millis or
    * ISO-8601 / SQL timestamp), else latest. */
  def pinnedVersion(tableDir: String,
                    options: CaseInsensitiveStringMap): Long = {
    val v = Option(options.get("versionAsOf"))
    val ts = Option(options.get("timestampAsOf"))
    require(v.isEmpty || ts.isEmpty,
      "graft-delta: versionAsOf and timestampAsOf are exclusive")
    v match {
      case Some(s) =>
        val parsed = scala.util.Try(s.toLong).toOption
          .filter(_ => s.matches("-?\\d+"))
        require(parsed.isDefined,
          s"graft-delta: versionAsOf must be a version number, got '$s'")
        parsed.get
      case None => ts match {
        case Some(s) => DeltaLog.versionAsOf(tableDir, parseMillis(s))
        case None => DeltaLog.versions(tableDir).last
      }
    }
  }

  def parseMillis(s: String): Long =
    scala.util.Try(s.toLong).toOption
      .filter(_ => s.matches("-?\\d+"))
      .orElse(scala.util.Try(
        java.time.Instant.parse(s).toEpochMilli).toOption)
      .orElse(scala.util.Try(java.time.LocalDateTime
        .parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli).toOption)
      .getOrElse(throw new IllegalArgumentException(
        s"graft: timestampAsOf must be epoch millis or ISO-8601 " +
          s"(UTC), got '$s'"))
}

private[streaming] object DeltaBatchScan {
  def apply(fullSchema: StructType, options: CaseInsensitiveStringMap,
            pushed: Array[Filter], required: Option[Seq[String]],
            limit: Option[Int] = None): DeltaBatchScan = {
    val dir = DeltaStreamSource.pathOf(options)
    val st = DeltaLog.replay(dir,
      DeltaBatchRead.pinnedVersion(dir, options))
    DeltaStreamSource.checkSupportedTypes(st.schema,
      "graft-delta batch")
    new DeltaBatchScan(fullSchema, options, pushed, required, limit,
      dir, st)
  }
}

private[streaming] class DeltaBatchScan private (
    fullSchema: StructType, options: CaseInsensitiveStringMap,
    pushed: Array[Filter], required: Option[Seq[String]],
    limit: Option[Int], dir: String, st: DeltaLog.State)
  extends OpenFormatBatchScan(dir,
    DeltaLog.stripFieldMetadata(st.schema).asInstanceOf[StructType],
    st.partitionColumns,
    st.adds.toSeq.sortBy(_._1).map { case (p, a) =>
      BatchFile(
        if (p.startsWith("/") || p.contains("://")) p else s"$dir/$p",
        a.partitionValues, a.boundsFor(st.schema), a.size,
        a.stats.flatMap(DeltaLog.statsNumRecords), a.dv)
    },
    pushed, required, passPartitionValuesToReader = true,
    limit = limit) {

  override def name: String = s"graft-delta:$tableDir"

  /** The ANNOTATED pruned schema: the executor resolves mapped
    * tables' physical names / parquet field ids from the metadata
    * the public pruned schema strips. */
  override def readerFactory(prunedPublic: StructType)
      : PartitionReaderFactory = {
    val keep = prunedPublic.fieldNames.toSet
    val annotated = StructType(
      st.schema.fields.filter(f => keep.contains(f.name)) ++
        // `_file`/`_pos` metadata columns: a per-partition constant /
        // a reader-synthesized counter, never resolved against the
        // parquet files
        prunedPublic.fields.filter(f =>
          (f.name == MetaCols.File || f.name == MetaCols.Pos) &&
            !st.schema.fieldNames.contains(f.name)))
    new DeltaFileReaderFactory(annotated.json,
      columnar = options.getBoolean("vectorizedRead", true),
      metadataIdsInFiles = st.mappingMode == "id",
      posCol = wantPos)
  }

  override def streamingScan: Scan =
    new DeltaStreamScan(fullSchema, options)
}

private[streaming] object IcebergBatchScan {
  /** Pin the snapshot: snapshotAsOf (an id), timestampAsOf (epoch
    * millis or ISO-8601), branch (a ref name), else the latest. */
  def pinnedSnapshot(tableDir: String,
                     options: CaseInsensitiveStringMap): Long = {
    val snap = Option(options.get("snapshotAsOf"))
    val ts = Option(options.get("timestampAsOf"))
    val branch = Option(options.get("branch"))
    require(Seq(snap, ts, branch).count(_.isDefined) <= 1,
      "graft-iceberg: snapshotAsOf / timestampAsOf / branch are " +
        "exclusive")
    snap match {
      case Some(s) =>
        val parsed = scala.util.Try(s.toLong).toOption
          .filter(_ => s.matches("-?\\d+"))
        require(parsed.isDefined,
          s"graft-iceberg: snapshotAsOf must be a snapshot id, " +
            s"got '$s'")
        parsed.get
      case None => ts match {
        case Some(s) =>
          Iceberg.snapshotAsOf(tableDir, DeltaBatchRead.parseMillis(s))
        case None => branch match {
          case Some(b) => Iceberg.refSnapshot(tableDir, b)
          // MAIN's head — the metadata list's tail may be a staged
          // branch/WAP snapshot that is not on main
          case None => Iceberg.mainSnapshotId(tableDir)
        }
      }
    }
  }

  def apply(fullSchema: StructType, options: CaseInsensitiveStringMap,
            pushed: Array[Filter], required: Option[Seq[String]],
            limit: Option[Int] = None): IcebergBatchScan = {
    val dir = IcebergStreamSource.pathOf(options)
    val snap = pinnedSnapshot(dir, options)
    new IcebergBatchScan(fullSchema, options, pushed, required, limit,
      dir, snap, Iceberg.batchPlan(dir, snap))
  }
}

private[streaming] class IcebergBatchScan private (
    fullSchema: StructType, options: CaseInsensitiveStringMap,
    pushed: Array[Filter], required: Option[Seq[String]],
    limit: Option[Int], dir: String, snap: Long,
    plan: Iceberg.BatchPlanned)
  extends OpenFormatBatchScan(dir, plan.schema, plan.partCols,
    plan.files.map(f =>
      BatchFile(f.path, f.pv, f.bounds, f.sizeBytes, f.records,
        dv = None)),
    pushed, required,
    // identity-partitioned MIGRATED tables strip partition columns
    // from data files — only then must the reader reconstruct them
    // from the manifest tuple (standard tables carry them as data)
    passPartitionValuesToReader = !plan.filesCarryPartCols,
    limit = limit) {

  override def name: String = s"graft-iceberg:$tableDir"

  // (Equality deletes used to veto metadata aggregates — the
  // manifests still count the retired rows. Folding eq-deletes into
  // per-file position masks restored exactness: count(*) subtracts
  // each file's mask cardinality, and min/max already disable
  // themselves whenever any mask exists, via the base class.)

  // ---- hidden-transform pruning ----
  // The CURRENT default spec's derived fields: (tuple name,
  // transform, source col, source type). Files written under OTHER
  // specs simply lack the tuple key in their pv and are kept —
  // superset-safe under spec evolution.
  private lazy val hiddenFields
      : Seq[(String, String, String, DataType)] =
    Iceberg.currentSpecFields(dir).filter(_._2 != "identity")
      .flatMap { case (src, tr) =>
        plan.schema.fields.find(_.name == src).map(f =>
          (graft.functions.IcebergTransforms.tupleName(tr, src), tr,
            src, f.dataType))
      }

  override protected def extraPruneCols: Map[String, DataType] =
    hiddenFields.flatMap { case (name, tr, _, srcT) =>
      scala.util.Try(
        graft.functions.IcebergTransforms.tupleType(tr, srcT))
        .toOption.map(name -> _)
    }.toMap

  /** A raw-column predicate implies a tuple predicate: equality/IN
    * through ANY transform, ranges through the MONOTONIC ones
    * (truncate/day/month/year/hour; Gt/Lt widen to Ge/Le of the
    * transformed value — superset). This is [[Iceberg.readFiltered]]
    * (q177)'s derivation surfaced through the DSv2 optimizer path,
    * sharing the [[graft.functions.IcebergTransforms]] scalars with
    * the writer so assignment and pruning can never disagree. */
  override protected def derivedPruneFilters(
      fs: Seq[Filter]): Seq[Filter] = {
    import graft.functions.IcebergTransforms._
    if (hiddenFields.isEmpty) return Seq.empty
    val bySrc = hiddenFields.map(h => h._3 -> h).toMap
    def longOf(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    def micros(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp =>
        Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
      case i: java.time.Instant =>
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case _ => None
    }
    def days(v: Any): Option[Int] = v match {
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toInt)
      case d: java.time.LocalDate => Some(d.toEpochDay.toInt)
      case _ => None
    }
    def tupleLit(h: (String, String, String, DataType),
                 v: Any): Option[Any] = h._2 match {
      case BucketRe(n) => longOf(v).map(l => bucketLong(l, n.toInt))
      case TruncateRe(w) => longOf(v).map { l =>
        val tv = truncateLong(l, w.toLong)
        if (h._4 == org.apache.spark.sql.types.IntegerType)
          tv.toInt: Any
        else tv: Any
      }
      case tr @ ("day" | "month" | "year" | "hour") =>
        micros(v).map(us => timeOrdinalOfMicros(tr, us): Any)
          .orElse(days(v).flatMap { d =>
            tr match {
              case "day" => Some(d: Any)
              case "month" =>
                val ld = java.time.LocalDate.ofEpochDay(d.toLong)
                Some(monthOrdinal(ld.getYear, ld.getMonthValue): Any)
              case "year" =>
                Some(yearOrdinal(java.time.LocalDate
                  .ofEpochDay(d.toLong).getYear): Any)
              case _ => None // hour of a date literal
            }
          })
      case _ => None
    }
    def monotonic(tr: String): Boolean = tr match {
      case TruncateRe(_) | "day" | "month" | "year" | "hour" => true
      case _ => false
    }
    def rangeDerive(c: String, v: Any, ge: Boolean): Seq[Filter] =
      bySrc.get(c).filter(h => monotonic(h._2))
        .flatMap(h => tupleLit(h, v).map(tv =>
          (if (ge) FGe(h._1, tv) else FLe(h._1, tv)): Filter)).toSeq
    def derive(f: Filter): Seq[Filter] = f match {
      case FAnd(l, r) => derive(l) ++ derive(r)
      case FEq(c, v) if v != null =>
        bySrc.get(c).flatMap(h =>
          tupleLit(h, v).map(tv => FEq(h._1, tv): Filter)).toSeq
      case FIn(c, vs) if vs != null && vs.nonEmpty &&
          vs.forall(_ != null) =>
        bySrc.get(c).flatMap { h =>
          val tvs = vs.toSeq.map(tupleLit(h, _))
          if (tvs.forall(_.isDefined))
            Some(FIn(h._1, tvs.flatten.toArray): Filter)
          else None
        }.toSeq
      case FGe(c, v) => rangeDerive(c, v, ge = true)
      case FGt(c, v) => rangeDerive(c, v, ge = true) // widen
      case FLe(c, v) => rangeDerive(c, v, ge = false)
      case FLt(c, v) => rangeDerive(c, v, ge = false) // widen
      case _ => Seq.empty
    }
    fs.flatMap(derive)
  }

  override protected def batchPrereqs(): Unit =
    DeltaStreamSource.checkSupportedTypes(plan.schema,
      "graft-iceberg batch")

  /** SPJ over the CURRENT spec, HIDDEN transforms included: identity
    * columns group by value; `bucket[n]` fields group by their
    * manifest tuple ordinal and report the `bucket` V2 transform —
    * which the catalogs' shared `system.bucket` function resolves,
    * so two bucket-partitioned tables join shuffle-free at
    * file-group granularity (the q222 zero-exchange shape on hidden
    * specs). Superset-safe: any file lacking a tuple key (written
    * under an older spec), any non-bucket hidden transform, or a
    * pruned-away source column collapses to no SPJ, never to a wrong
    * grouping. */
  override protected lazy val spjKeys: Seq[SpjKey] = {
    import graft.functions.IcebergTransforms
    val fields = Iceberg.currentSpecFields(dir)
    if (fields.isEmpty || plan.files.isEmpty) Seq.empty
    else {
      val built: Seq[Option[SpjKey]] = fields.map {
        case (src, "identity")
            if readSchema.fieldNames.contains(src) &&
              plan.files.forall(_.pv.contains(src)) &&
              scala.util.Try(plan.files.foreach(f =>
                decodeKey(f.pv, src))).isSuccess =>
          Some(SpjKey(Expressions.identity(src),
            f => decodeKey(f.pv, src)))
        case (src, tr @ IcebergTransforms.BucketRe(n))
            if readSchema.fieldNames.contains(src) && {
              val t = IcebergTransforms.tupleName(tr, src)
              plan.files.forall(_.pv.contains(t)) &&
                scala.util.Try(plan.files.foreach(
                  _.pv(t).toInt)).isSuccess
            } =>
          val t = IcebergTransforms.tupleName(tr, src)
          Some(SpjKey(Expressions.bucket(n.toInt, src),
            f => f.pv(t).toInt))
        case (src, tr @ IcebergTransforms.TruncateRe(w))
            if readSchema.fieldNames.contains(src) && {
              val t = IcebergTransforms.tupleName(tr, src)
              plan.files.forall(_.pv.contains(t)) &&
                scala.util.Try(plan.files.foreach(
                  _.pv(t).toLong)).isSuccess
            } =>
          val t = IcebergTransforms.tupleName(tr, src)
          val intSrc = plan.schema.fields.find(_.name == src)
            .exists(_.dataType ==
              org.apache.spark.sql.types.IntegerType)
          // width in the function NAME: Spark's SPJ machinery keys
          // only single-child transforms (see
          // GraftSystemFunctions.TruncateWidthFunction)
          Some(SpjKey(
            Expressions.apply(s"truncate_$w",
              Expressions.column(src)),
            f => if (intSrc) f.pv(t).toInt else f.pv(t).toLong))
        case _ => None
      }
      if (built.forall(_.isDefined)) built.flatten else Seq.empty
    }
  }

  /** The snapshot's delete surface folded to per-file inline bitmap
    * descriptors, ONCE, on first batch planning (a streaming query
    * through this scan never pays for it): position deletes
    * driver-side (O(delete rows)), EQUALITY deletes via one bounded
    * distributed matching job over only the pushdown-surviving files
    * with an applicable delete ([[Iceberg.eqDeleteBatchMasks]] —
    * sequence-scoped, key-bounds-pruned, O(deleted rows) collected).
    * Scoping the mask job to `afterPushdown` is safe: `dvFor` is
    * only ever consulted for files that survived pushdown, and
    * metadata aggregates fire only on scans with no pushed filters
    * (the superset pruning contract keeps filters residual). */
  private lazy val delDvs
      : Map[String, graft.sources.DeletionVectors.Descriptor] =
    if (plan.posDeleteFiles.isEmpty && plan.eqDeletes.isEmpty)
      Map.empty
    else {
      val kept = afterPushdown.map(_.path).toSet
      Iceberg.batchDeleteDescriptors(
        org.apache.spark.sql.SparkSession.active,
        plan.copy(files = plan.files.filter(f => kept(f.path))))
    }

  override protected def dvFor(f: BatchFile)
      : Option[graft.sources.DeletionVectors.Descriptor] =
    delDvs.get(f.path)

  override def readerFactory(prunedPublic: StructType)
      : PartitionReaderFactory =
    new DeltaFileReaderFactory(prunedPublic.json, plan.ids,
      columnar = options.getBoolean("vectorizedRead", true),
      posCol = wantPos)

  override def streamingScan: Scan =
    new IcebergStreamScan(fullSchema, options)
}

/** The gated queries over the DSv2 BATCH connectors (q219–q222) —
  * each holds BOTH row correctness (the DuckDB oracle) and the
  * optimizer behavior it demonstrates (an in-query `require` over
  * the [[BatchScanStats]] seam or the executed plan, so a silent
  * regression to full scans / shuffles fails the gate loudly). */
object BatchReadQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.col

  private def deltaDf(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-delta").option("path", path).load()

  private def icebergDf(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-iceberg").option("path", path).load()

  /** q219 — DSv2 BATCH PUSHDOWN THROUGH CATALYST: q176's predicate
    * spelled as a PLAIN `.filter` over
    * `spark.read.format("graft-delta")` — no readWhere/readFiltered
    * call anywhere. The V2 pushdown rule hands the conjuncts to the
    * connector's ScanBuilder, which prunes files by partition value
    * + add.stats bounds inside the OPTIMIZER; the in-query `require`
    * pins files-kept < files-live, so a connector that stopped
    * pruning fails the gate, not just a spec. At 100 TB this is the
    * difference between the user writing pruning calls and the
    * engine doing it for any WHERE clause. */
  def dsv2Pushdown(spark: SparkSession, dir: String): DataFrame = {
    val t = DeltaLog.ordersPartitionedTable(spark, dir)
    BatchScanStats.reset(t)
    val df = deltaDf(spark, t)
      .filter(col("o_orderstatus") === "O" &&
        col("o_custkey") <= org.apache.spark.sql.functions.lit(750L))
      .orderBy(col("o_orderkey"))
    df.count() // force planning so the seam fills
    val s = BatchScanStats.statsFor(t)
    require(s.live > 0 && s.pushdownKept < s.live,
      s"DSv2 pushdown pruned nothing (live ${s.live}, kept " +
        s"${s.pushdownKept})")
    df
  }

  val dsv2PushdownSql: String =
    """SELECT * FROM orders
      |WHERE o_orderstatus = 'O' AND o_custkey <= 750
      |ORDER BY o_orderkey""".stripMargin

  /** q220 — RUNTIME (DYNAMIC FILE) FILTERING: the fact side is the
    * status-partitioned orders through the connector; the build side
    * is a 3-row dimension FILTERED ON A NON-JOIN COLUMN, so no
    * static pushdown can prune the fact — only Spark's
    * runtime-filtering rule, feeding the executed dim's join keys
    * back into `scan.filter(...)`, can drop the non-matching
    * partitions before any fact task launches. The `require` pins
    * runtime-kept < pushdown-kept (runtime filtering that never ran
    * reads -1 and fails). The 100 TB shape: fact⟕dim with a
    * selective dim predicate reads the matching fraction, not the
    * lake. */
  def dsv2RuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    val t = DeltaLog.ordersPartitionedTable(spark, dir)
    val d = DeltaLog.ordersStatusDimTable(spark, dir)
    BatchScanStats.reset(t)
    val out = deltaDf(spark, t)
      .join(deltaDf(spark, d).filter(col("tag") === "f"),
        "o_orderstatus")
    out.count() // execute: the runtime filter fires during this run
    val s = BatchScanStats.statsFor(t)
    require(s.runtimeKept >= 0 && s.runtimeKept < s.pushdownKept,
      s"runtime filtering did not prune (pushdown ${s.pushdownKept}, " +
        s"runtime ${s.runtimeKept}; -1 = never ran)")
    out.orderBy(col("o_orderkey"))
  }

  val dsv2RuntimeFilterSql: String =
    """SELECT o_orderstatus, o_orderkey, o_custkey, o_totalprice,
      |  o_orderdate, o_orderpriority, lower(o_orderstatus) AS tag
      |FROM orders WHERE lower(o_orderstatus) = 'f'
      |ORDER BY o_orderkey""".stripMargin

  /** q221 — ICEBERG MERGE-ON-READ THROUGH THE CONNECTOR: q158's
    * position-delete table read via
    * `spark.read.format("graft-iceberg")` — the snapshot's delete
    * files fold into per-file INLINE bitmap descriptors at planning
    * (O(delete rows), driver-side) and mask row positions on the
    * executor exactly as Delta DVs do: no anti-join in the plan, the
    * deleted tenth never leaves the scan. Same oracle as q158, so
    * the two read paths are pinned equal. */
  def dsv2IcebergMor(spark: SparkSession, dir: String): DataFrame = {
    val t = Iceberg.ordersIcebergDeleteTable(spark, dir)
    icebergDf(spark, t).orderBy(col("o_orderkey"))
  }

  val dsv2IcebergMorSql: String =
    """SELECT * FROM orders WHERE o_orderkey % 10 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** q222 — STORAGE-PARTITIONED JOIN: status-partitioned orders ⋈
    * the status-partitioned per-status rollup, both through the
    * connector, under `spark.sql.sources.v2.bucketing.enabled`. Both
    * scans report a KeyGroupedPartitioning over the identity
    * partition column, so EnsureRequirements inserts NO exchange —
    * the probe `require`s a shuffle-free executed plan (and
    * correctness holds under the oracle regardless of the conf, the
    * write path replans with whatever the session says). The 100 TB
    * shape: two lake tables co-partitioned on the join key join at
    * file-group granularity with zero network. */
  def dsv2Spj(spark: SparkSession, dir: String): DataFrame = {
    val t = DeltaLog.ordersPartitionedTable(spark, dir)
    val d = DeltaLog.ordersStatusAggTable(spark, dir)
    def join() = deltaDf(spark, t).join(deltaDf(spark, d),
      "o_orderstatus")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val probe = join()
      probe.count()
      val plan = probe.queryExecution.executedPlan.toString()
      require(!plan.contains("Exchange"),
        s"storage-partitioned join still shuffled:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    join().orderBy(col("o_orderkey"))
  }

  val dsv2SpjSql: String =
    """SELECT o.o_orderstatus, o.o_orderkey, o.o_custkey,
      |  o.o_totalprice, o.o_orderdate, o.o_orderpriority, d.n_orders
      |FROM orders o
      |JOIN (SELECT o_orderstatus, count(*) AS n_orders
      |      FROM orders GROUP BY 1) d
      |  ON o.o_orderstatus = d.o_orderstatus
      |ORDER BY o.o_orderkey""".stripMargin

  /** q243 — ICEBERG EQUALITY DELETES THROUGH THE CONNECTOR: the
    * stacked-upsert table (two Flink-CDC-wire rounds — eq-delete +
    * append each, five snapshots) SELECTed natively via
    * `spark.read.format("graft-iceberg")` AND by NAME through the
    * Iceberg SQL catalog — the last format-parity read gap closed.
    * At planning, each equality delete folds to per-file POSITION
    * masks: sequence-scoped, key-bounds-pruned to the files it can
    * touch, matched by one bounded executor job over only the key
    * columns ([[Iceberg.eqDeleteBatchMasks]]), then unioned into the
    * same inline-bitmap descriptors position deletes use. In-query
    * `require`s pin (a) the mask seam RAN (no silent fallback to the
    * library read), (b) the executed plan is a bare BatchScan — zero
    * joins, so the 100 TB read costs one masked scan, and (c) a
    * foreign upsert landed inside a CATALOG table's directory serves
    * the merged state by name. Oracle re-derives both upsert rounds
    * relationally. */
  def dsv2IcebergEqDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Iceberg.ordersIcebergUpsert2Table(spark, dir)
    Iceberg.resetEqMaskStats(t)
    val df = icebergDf(spark, t).orderBy(col("o_orderkey"))
    // ONE execution serves all three probes, and the shape require
    // inspects the EXECUTED plan (round 18, ADVICE r17): a bare
    // df.count() compiles a SEPARATE aggregate query, leaving df's
    // own executedPlan never finalized — the require would read the
    // initial AQE plan. Building the count explicitly gives a handle
    // on the plan that actually ran: its child IS the masked
    // BatchScan (the sort folds away under the aggregate), masks
    // derive during its planning, and its result is the row count
    // the library-parity check needs.
    val cntDf = df.groupBy().count()
    val n = cntDf.head().getLong(0)
    require(Iceberg.eqMaskStats(t).isDefined,
      "eq-mask derivation never ran — a fallback served the read")
    val plan = cntDf.queryExecution.executedPlan.toString()
    require(plan.contains("BatchScan") && !plan.contains("Join"),
      s"eq-deletes must fold to masks inside a bare scan:\n$plan")
    // library-parity MoR read: a second full read by construction
    // (that is the point — an independent path must agree), but
    // nothing downstream depends on it until the final require, so
    // it OVERLAPS the catalog arm instead of serializing before it
    // (round 18: the gate is driver/commit-bound, 8c/32c ratio 1.06)
    val libF = scala.concurrent.Future(Iceberg.read(spark, t).count())(
      scala.concurrent.ExecutionContext.global)
    // catalog arm: a foreign CDC writer upserts INSIDE a cataloged
    // table's directory; SELECT by name serves the merged state
    val ns = SqlCatalogQueries.freshNs(spark, iceberg = true)
    spark.sql(s"CREATE TABLE $ns.ueq (k BIGINT, s STRING)")
    spark.sql(
      s"INSERT INTO $ns.ueq VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val tdir = SqlCatalogQueries.tableDirOf(spark, iceberg = true,
      ns, "ueq")
    Iceberg.upsert(spark, tdir,
      Seq((2L, "B2"), (4L, "d")).toDF("k", "s"), Seq("k"))
    val got = spark.sql(s"SELECT k, s FROM $ns.ueq ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    require(got == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")),
      s"catalog read over the eq-delete snapshot got $got")
    val lib = scala.concurrent.Await.result(libF,
      scala.concurrent.duration.Duration(10, "min"))
    require(n == lib, s"connector read $n rows, library MoR $lib")
    df
  }

  val dsv2IcebergEqDeleteSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate,
      |  CASE WHEN o_orderkey % 5 = 0 THEN 'MERGED2'
      |       WHEN o_orderkey % 3 = 0 THEN 'MERGED'
      |       ELSE o_orderpriority END AS o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin
}

/** q223's home — kept beside the other connector-gated queries. */
object MetadataAggQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.{col, max, min}

  /** q223 — METADATA-ONLY AGGREGATES: per-status count/min/max over
    * the partitioned orders through the connector. The pushed
    * aggregate collapses the scan to a driver-local row set derived
    * from the log's numRecords + add.stats bounds — the in-query
    * `require` pins a LocalTableScan WITHOUT any BatchScan in the
    * executed plan, so a regression to data-reading aggregation
    * fails the gate. The oracle re-derives the same numbers from the
    * raw rows, so the log's recorded stats are themselves
    * hash-verified. At 100 TB: `SELECT count(*) ... GROUP BY
    * partition` is O(files) driver metadata, zero bytes of data. */
  def dsv2MetadataAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = DeltaLog.ordersPartitionedTable(spark, dir)
    val df = spark.read.format("graft-delta").option("path", t).load()
      .groupBy(col("o_orderstatus"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderstatus"))
    df.collect() // execute the probe copy to finalize the plan
    val plan = df.queryExecution.executedPlan.toString()
    require(plan.contains("LocalTableScan") &&
        !plan.contains("BatchScan"),
      s"metadata aggregate still scanned data:\n$plan")
    df
  }

  val dsv2MetadataAggSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
}
