package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{
  NamespaceAlreadyExistsException, NoSuchNamespaceException,
  NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier,
  NamespaceChange, SupportsDeleteV2, SupportsNamespaces, SupportsRead,
  SupportsRowLevelOperations, SupportsWrite, Table, TableCapability,
  TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo,
  PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder,
  RowLevelOperationInfo, SupportsTruncate, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{DeltaLog, Iceberg}

/** SQL CATALOGS for the open formats — the DSv2 `TableCatalog` layer
  * that lets a session address this engine's tables BY NAME and run
  * the whole SQL DDL/DML surface against them:
  *
  * {{{
  * spark.sql.catalog.graft           = graft.streaming.GraftDeltaCatalog
  * spark.sql.catalog.graft.warehouse = /lake
  *
  * CREATE TABLE graft.db.orders (...) PARTITIONED BY (o_orderstatus)
  * INSERT INTO graft.db.orders SELECT ...
  * SELECT * FROM graft.db.orders VERSION AS OF 3
  * DELETE FROM graft.db.orders WHERE o_orderstatus = 'X'
  * UPDATE graft.db.orders SET o_totalprice = ... WHERE ...
  * MERGE INTO graft.db.orders USING updates ON ... WHEN MATCHED ...
  * ALTER TABLE graft.db.orders ADD COLUMN note STRING
  * }}}
  *
  * The reference's users speak exactly this surface (Spark SQL over a
  * Delta lakehouse: /root/reference/spark/batch_silver.py runs
  * MERGE/DELETE through table names); this file is that surface over
  * this engine's own logs. Tables live under the catalog's
  * `warehouse` root as `<warehouse>/<namespace...>/<table>`;
  * namespaces are directories, a table is a directory holding a
  * `_delta_log` (Delta catalog) or `metadata` versions (Iceberg
  * catalog). Everything routes through the SAME machinery every
  * other surface uses — the DSv2 batch scans (file pruning, runtime
  * filtering, metadata aggregates), the DSv2 writers (stats tracked
  * while writing, LogStore CAS commits), [[DeltaLog.deleteWhere]]
  * (DV deletes), and a group-based copy-on-write
  * [[RowLevelOperation]] for SQL UPDATE/MERGE/arbitrary DELETE whose
  * rewrite group is file-pruned by the command's own condition and
  * whose commit rides the conflict-proving row-op loop.
  *
  * SQL DELETE takes the cheapest correct path automatically: Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` asks [[SupportsDeleteV2]]
  * first (translatable predicates → [[DeltaLog.deleteWhere]]'s
  * pruned deletion-vector path — no rewrite at all); anything it
  * cannot express falls to the copy-on-write rewrite. At 100 TB
  * that ordering is the difference between masking a few rows and
  * rewriting files. */
object GraftSqlSeams {
  /** SupportsDeleteV2 deletes taken (the metadata/DV path, not the
    * COW rewrite) — q-gates pin the path, not just the rows. */
  val metadataDeletes = new java.util.concurrent.atomic.AtomicLong

  /** Position-delta (SupportsDelta) MERGE commits — q-gates pin
    * that MERGE rode the DV-tombstone path, not a COW rewrite. */
  val positionDeltaMerges = new java.util.concurrent.atomic.AtomicLong

  /** DIRECTORY moves the catalog performed (the object-store
    * no-go): the pointer-entry lifecycle performs NONE — this only
    * moves on the legacy ADOPTED-directory fallbacks, and the
    * conditional-put lifecycle specs pin it at zero. */
  val dirMoves = new java.util.concurrent.atomic.AtomicLong

  /** Last COW replace per table dir: (files live at base, files in
    * the rewrite group = removed, files added). */
  private val replaces = scala.collection.concurrent.TrieMap
    .empty[String, (Long, Long, Long)]

  private[streaming] def recordReplace(dir: String, live: Long,
      removed: Long, added: Long): Unit =
    replaces.put(dir, (live, removed, added)): Unit

  def lastReplace(dir: String): (Long, Long, Long) =
    replaces.getOrElse(dir, (-1L, -1L, -1L))
}

/** V2 `Predicate` → `Column` translation for the SupportsDeleteV2
  * surface. None = not fully expressible (the caller then declines
  * `canDeleteWhere` and Spark falls back to the copy-on-write
  * rewrite, which handles ANY condition). Values arrive as external
  * Scala types (PredicateUtils.toV1 converts through
  * CatalystTypeConverters), so `lit` round-trips them. */
private[streaming] object SqlFilters {
  import org.apache.spark.sql.functions.{col, lit, not => fnot}
  import org.apache.spark.sql.sources._

  def toColumn(predicates: Array[Predicate]): Option[Column] = {
    val v1 = predicates.toSeq.map(p =>
      org.apache.spark.sql.graftbridge.Bridge.predicateToV1(p))
    if (v1.exists(_.isEmpty)) None
    else {
      val cols = v1.flatten.map(fromFilter)
      if (cols.exists(_.isEmpty)) None
      else Some(cols.flatten.reduceOption(_ && _).getOrElse(lit(true)))
    }
  }

  def fromFilter(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) =>
      for { a <- fromFilter(l); b <- fromFilter(r) } yield a && b
    case Or(l, r) =>
      for { a <- fromFilter(l); b <- fromFilter(r) } yield a || b
    case Not(c) => fromFilter(c).map(fnot)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** Conjunct long ranges of a pushed filter set — the row-level
    * commits' winner-disjointness currency (empty = nothing provable
    * = any racing add conflicts; superset contract). Shared by the
    * copy-on-write AND position-delta Iceberg operations. */
  def conjunctLongRanges(filters: Seq[Filter])
      : Map[String, (Long, Long)] = {
    val m = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def num(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    def add(c: String, lo: Long, hi: Long): Unit = {
      val (l0, h0) = m.getOrElse(c, (Long.MinValue, Long.MaxValue))
      m(c) = (math.max(l0, lo), math.min(h0, hi))
    }
    def walk(f: Filter): Unit = f match {
      case EqualTo(c, v) => num(v).foreach(l => add(c, l, l))
      case GreaterThan(c, v) => num(v).filter(_ < Long.MaxValue)
        .foreach(l => add(c, l + 1, Long.MaxValue))
      case GreaterThanOrEqual(c, v) =>
        num(v).foreach(l => add(c, l, Long.MaxValue))
      case LessThan(c, v) => num(v).filter(_ > Long.MinValue)
        .foreach(l => add(c, Long.MinValue, l - 1))
      case LessThanOrEqual(c, v) =>
        num(v).foreach(l => add(c, Long.MinValue, l))
      case And(l, r) => walk(l); walk(r)
      case _ => ()
    }
    filters.foreach(walk)
    m.toMap
  }
}

/** The catalog's PER-TABLE POINTER OBJECT — how a table is
  * published, renamed, replaced, and dropped WITHOUT a single
  * directory rename, so the whole lifecycle survives object stores
  * (S3/MinIO have no atomic rename; a "directory move" is N copies).
  *
  * A managed table's DATA lives at a hidden immutable home
  * (`<ns>/.tbl-<name>-<uuid>`) that never moves; its catalog ENTRY
  * is a small JSON pointer file at `<warehouse>/<ns>/<name>`:
  * `{"dir": "<absolute data dir>", "external": bool}`. Every entry
  * mutation routes through the [[graft.sources.LogStore]] seam —
  * CREATE/CTAS claim the entry with `claimVersion` (atomic
  * create-if-absent: a racing CREATE loses the claim and aborts
  * loudly), RTAS/REPLACE repoint it with `putPointer` (whole-object
  * replace), RENAME claims the new name then deletes the old entry
  * object, DROP deletes the entry object (single-object delete —
  * atomic un-publish) and only then garbage-collects the data. This
  * is the pointer-object discipline real object-store catalogs
  * (Hive/Glue/Nessie table locations, Iceberg's own
  * metadata-pointer) use — the staged directory is published by
  * WRITING ITS POINTER, never by moving it. */
private[graft] object TablePointer {
  private val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  private def bytes(dir: String, external: Boolean): Array[Byte] = {
    val n = mapper.createObjectNode()
    n.put("dir", dir)
    n.put("external", external)
    mapper.writeValueAsString(n).getBytes("UTF-8")
  }

  /** Parse an entry file: Some((dataDir, external)) iff it is a
    * pointer object; None for anything else (junk files never
    * surface as tables). */
  def read(entry: java.nio.file.Path): Option[(String, Boolean)] =
    if (!Files.isRegularFile(entry)) None
    else scala.util.Try {
      val n = mapper.readTree(Files.readAllBytes(entry))
      require(n.has("dir") && n.has("external"))
      (n.get("dir").asText, n.get("external").asBoolean)
    }.toOption

  /** Publish `dir` as `entry` iff the name is free — the CREATE/CTAS
    * commit point ([[graft.sources.LogStore.claimVersion]]). */
  def claim(entry: java.nio.file.Path, dir: String,
            external: Boolean): Boolean = {
    val tmp = Files.createTempFile(entry.getParent,
      "." + entry.getFileName.toString + "-ptr-", ".tmp")
    Files.write(tmp, bytes(dir, external))
    graft.sources.LogStore.current.claimVersion(entry, tmp)
  }

  /** Repoint an existing entry — the RTAS/REPLACE commit point
    * (whole-object [[graft.sources.LogStore.putPointer]]). */
  def repoint(entry: java.nio.file.Path, dir: String,
              external: Boolean): Unit =
    graft.sources.LogStore.current.putPointer(entry,
      bytes(dir, external))

  /** Marker file inside a data directory meaning "this directory is
    * OWNED by a pointer entry — never surface it by its own path".
    * Written when an adopted-pointer table is RENAMED away from the
    * path its data occupies; formats ignore foreign dot-files. */
  val OwnerMarker = ".graft-owner"
}

/** The catalogs' SQL FUNCTION surface (`FunctionCatalog`) — the
  * partition-transform functions Spark resolves a scan's reported
  * `KeyGroupedPartitioning` expressions against. `system.bucket` is
  * the one storage-partitioned joins over HIDDEN bucket specs need:
  * both join sides resolve `bucket(n, col)` to a BoundFunction with
  * the SAME canonicalName, which is what `EnsureRequirements` keys
  * compatibility on — so two bucket-partitioned tables (either
  * catalog) join with zero exchanges. The implementation IS
  * [[graft.functions.IcebergTransforms.bucketLong]] — the same
  * Murmur3 the writer assigns and the pruner derives with, so
  * reported grouping and physical layout can never disagree. */
private[streaming] object GraftSystemFunctions {
  import org.apache.spark.sql.connector.catalog.functions.{
    BoundFunction, ScalarFunction, UnboundFunction}
  import org.apache.spark.sql.types.{DataType => SDataType,
    IntegerType, LongType}

  object BucketFunction extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(numBuckets, col) — Iceberg bucket transform ordinal " +
        "(Murmur3 over the long value)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2,
        s"bucket takes (numBuckets, col), got $inputType")
      val srcT = inputType.fields(1).dataType
      require(srcT == LongType || srcT == IntegerType,
        s"bucket over $srcT — long/int sources (this engine's " +
          "hidden-spec scope)")
      new ScalarFunction[Integer] {
        override def inputTypes(): Array[SDataType] =
          Array(IntegerType, srcT)
        override def resultType(): SDataType = IntegerType
        override def name(): String = "bucket"
        // int and long sources hash THE SAME long value — one
        // canonical name keeps them SPJ-compatible on purpose
        override def canonicalName(): String = "graft.bucket"
        override def isResultNullable: Boolean = false
        override def produceResult(
            input: org.apache.spark.sql.catalyst.InternalRow)
            : Integer = {
          val v =
            if (srcT == LongType) input.getLong(1)
            else input.getInt(1).toLong
          Int.box(graft.functions.IcebergTransforms
            .bucketLong(v, input.getInt(0)))
        }
      }
    }
  }

  /** `truncate_<w>(col)` — the truncate transform with its WIDTH
    * encoded in the function NAME. Spark's storage-partitioned-join
    * machinery supports only SINGLE-CHILD transform expressions
    * (`KeyGroupedPartitioning.isSupportedTransform`: one reference
    * child; bucket gets a special numBuckets extraction), so a
    * two-argument `truncate(w, col)` can never key a join. Baking
    * the width into the name keeps the transform unary AND keeps
    * different widths join-INcompatible (distinct canonicalNames) —
    * the correctness property the parameter exists for. */
  final class TruncateWidthFunction(w: Int) extends UnboundFunction {
    override def name(): String = s"truncate_$w"
    override def description(): String =
      s"truncate_$w(col) — Iceberg truncate[$w] transform ordinal " +
        "(floor to width multiples)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1,
        s"truncate_$w takes (col), got $inputType")
      val srcT = inputType.fields(0).dataType
      require(srcT == LongType || srcT == IntegerType,
        s"truncate over $srcT — long/int sources (this engine's " +
          "hidden-spec scope)")
      new ScalarFunction[Any] {
        override def inputTypes(): Array[SDataType] = Array(srcT)
        override def resultType(): SDataType = srcT
        override def name(): String = s"truncate_$w"
        override def canonicalName(): String = s"graft.truncate[$w]"
        override def isResultNullable: Boolean = false
        override def produceResult(
            input: org.apache.spark.sql.catalyst.InternalRow): Any =
          if (srcT == LongType)
            graft.functions.IcebergTransforms
              .truncateLong(input.getLong(0), w.toLong)
          else
            graft.functions.IcebergTransforms
              .truncateLong(input.getInt(0).toLong, w.toLong).toInt
      }
    }
  }

  private val TruncateNameRe = "truncate_(\\d+)".r

  /** Fixed-name functions; `truncate_<w>` resolves by pattern. */
  val all: Map[String, UnboundFunction] = Map(
    "bucket" -> BucketFunction)

  def resolve(name: String): Option[UnboundFunction] =
    all.get(name).orElse(name match {
      case TruncateNameRe(w) => Some(new TruncateWidthFunction(w.toInt))
      case _ => None
    })
}

/** Directory-warehouse plumbing the two catalogs share: identifiers
  * map to `<warehouse>/<ns...>/<name>`, namespaces are plain
  * directories, and a table ENTRY at that path is either a pointer
  * object ([[TablePointer]] — every table this catalog creates) or,
  * for ADOPTED pre-existing tables, a directory carrying the
  * format's own on-disk signature ([[isTableDir]]) / a symlink to
  * one. */
private[streaming] abstract class GraftDirCatalog
  extends TableCatalog with SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  // ---- functions (the SPJ transform-resolution surface) ----
  override def listFunctions(ns: Array[String]): Array[Identifier] =
    if (ns.isEmpty || ns.sameElements(Array("system")))
      GraftSystemFunctions.all.keys.toSeq.sorted
        .map(Identifier.of(Array("system"), _)).toArray
    else if (namespaceExists(ns)) Array.empty
    else throw new NoSuchNamespaceException(ns)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions
        .UnboundFunction =
    if (ident.namespace.isEmpty ||
        ident.namespace.sameElements(Array("system")))
      GraftSystemFunctions.resolve(ident.name).getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchFunctionException(ident))
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def functionExists(ident: Identifier): Boolean =
    (ident.namespace.isEmpty ||
      ident.namespace.sameElements(Array("system"))) &&
      GraftSystemFunctions.resolve(ident.name).isDefined

  /** This catalog's `CALL <name>.system.*` maintenance procedures. */
  protected def procedures: Map[String, GraftProcedure]

  /** A procedure's `table` argument ('ns.name' in THIS catalog) to
    * its real directory. */
  protected def resolveTableArg(t: String): String = {
    val parts = t.split('.')
    val ident = Identifier.of(parts.init, parts.last)
    if (!tableExists(ident))
      throw new NoSuchTableException(ident)
    realDir(ident)
  }

  /** A procedure's `namespace` argument to its warehouse directory. */
  protected def resolveNsArg(ns: String): String = {
    val parts = ns.split('.')
    if (!namespaceExists(parts))
      throw new NoSuchNamespaceException(parts)
    (warehouse +: parts.toSeq).mkString("/")
  }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure =
    GraftProcedures.load(procedures, name(), ident)

  override def listProcedures(ns: Array[String]): Array[Identifier] =
    if (ns.isEmpty || ns.sameElements(Array("system")))
      procedures.keys.toSeq.sorted
        .map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  private var catalogName: String = _
  protected var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = options.get("warehouse")
    require(wh != null,
      s"catalog $name needs spark.sql.catalog.$name.warehouse")
    warehouse = wh.stripSuffix("/")
    Files.createDirectories(Paths.get(warehouse)): Unit
  }

  override def name(): String = catalogName

  /** Is this directory one of THIS catalog's tables? */
  protected def isTableDir(d: File): Boolean

  protected def mkTable(ident: Identifier, dir: String): Table

  private def seg(s: String): String = {
    // leading-dot names are reserved for the catalog's own hidden
    // machinery (.tbl-* data homes, .staged/.trash legacies) — they
    // can never be addressed, listed, or created as tables
    require(s.nonEmpty && !s.contains("/") && !s.startsWith("."),
      s"illegal identifier segment '$s'")
    s
  }

  protected def dirOf(ident: Identifier): String =
    (warehouse +: ident.namespace.toSeq.map(seg) :+
      seg(ident.name)).mkString("/")

  private def nsDir(ns: Array[String]): String =
    (warehouse +: ns.toSeq.map(seg)).mkString("/")

  protected def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  // ---- tables ----
  /** Hidden pointer entry for a table CONVERTED from an adopted
    * directory (`CALL system.adopt_table`): the data directory
    * occupies the visible name path, so the pointer lives beside it
    * as `.ptr-<name>` — unaddressable as an identifier, resolved
    * and listed explicitly. After conversion, RTAS and RENAME ride
    * the pointer lifecycle under ANY LogStore; the directory never
    * moves. */
  protected def ptrPath(ident: Identifier): java.nio.file.Path =
    Paths.get((warehouse +: ident.namespace.toSeq.map(seg))
      .mkString("/"), s".ptr-${seg(ident.name)}")

  /** The hidden `.ptr-` entry's target, iff it still carries table
    * state (a dead hidden pointer is invisible, like a dead plain
    * one). */
  protected def ptrEntry(ident: Identifier): Option[(String, Boolean)] =
    TablePointer.read(ptrPath(ident))
      .filter { case (dir, _) => isTableDir(new File(dir)) }

  /** OWNED data directories (adopted-pointer tables renamed away
    * from their path) never surface by their own path — the pointer
    * entry is their only identity. */
  private def owned(f: File): Boolean =
    new File(f, TablePointer.OwnerMarker).isFile

  /** Is the entry at this path one of THIS catalog's tables — a
    * pointer object whose target carries the format signature, an
    * (un-owned) adopted table directory, or a legacy symlink to
    * one? */
  protected def isTableEntry(f: File): Boolean =
    TablePointer.read(f.toPath) match {
      case Some((dir, _)) => isTableDir(new File(dir))
      case None => isTableDir(f) && !owned(f)
    }

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val d = new File(nsDir(ns))
    if (!d.isDirectory || isTableDir(d))
      throw new NoSuchNamespaceException(ns)
    val fs = Option(d.listFiles()).getOrElse(Array.empty)
    val plain = fs
      .filter(f => !f.getName.startsWith(".") && isTableEntry(f))
      .map(_.getName)
    val viaPtr = fs
      .filter(_.getName.startsWith(".ptr-"))
      .filter(f => TablePointer.read(f.toPath)
        .exists { case (dir, _) => isTableDir(new File(dir)) })
      .map(_.getName.stripPrefix(".ptr-"))
    (plain ++ viaPtr).distinct.sorted.map(Identifier.of(ns, _))
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableEntry(new File(dirOf(ident))) || ptrEntry(ident).isDefined

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    mkTable(ident, realDir(ident))
  }

  /** The table's REAL data directory: pointer entries resolve to
    * their recorded home ([[TablePointer]]); hidden `.ptr-` entries
    * (converted adopted tables) likewise — and take precedence over
    * a directory at the name path, so a stale pre-RTAS home never
    * shadows the pointer; legacy symlink entries to the link target
    * (`Files.createDirectories` through a symlinked path segment
    * refuses, so every data-path operation resolves first); adopted
    * directories to themselves. */
  protected def realDir(ident: Identifier): String = {
    val p = Paths.get(dirOf(ident))
    TablePointer.read(p) match {
      case Some((dir, _)) => dir
      case None => ptrEntry(ident) match {
        case Some((dir, _)) => dir
        case None if Files.isSymbolicLink(p) =>
          Files.readSymbolicLink(p).toString
        case None => p.toString
      }
    }
  }

  /** `CALL system.adopt_table` backing: convert an ADOPTED directory
    * table into the pointer lifecycle — ONE create-if-absent claim
    * of the hidden `.ptr-<name>` entry referencing the existing
    * directory as its (now immutable) home. Metadata-only: no data
    * moves, no directory renames, safe on any store. Racing
    * adoptions decide at the claim and both succeed (same target);
    * re-adopting is a no-op. Legacy symlink entries refuse — their
    * identity is a POSIX link; copy them (CTAS) instead. */
  private[streaming] def adoptTable(t: String): String = {
    val parts = t.split('.')
    val ident = Identifier.of(parts.init, parts.last)
    val entry = new File(dirOf(ident))
    if (TablePointer.read(entry.toPath).isDefined)
      return "already-managed"
    if (ptrEntry(ident).isDefined) return "already-adopted"
    require(!Files.isSymbolicLink(entry.toPath),
      s"adopt_table: ${fullName(ident)} is a legacy symlink entry " +
        "(POSIX-only) — copy it (CREATE TABLE ... AS SELECT) instead")
    if (!isTableDir(entry) || owned(entry))
      throw new NoSuchTableException(ident)
    if (!TablePointer.claim(ptrPath(ident), entry.getPath,
        external = false))
      // racing adoption of the same table: the winner published the
      // identical pointer — verify and succeed; anything else is a
      // real conflict
      require(TablePointer.read(ptrPath(ident))
          .exists(_._1 == entry.getPath),
        s"adopt_table: ${fullName(ident)}'s hidden entry is " +
          "claimed by a different target")
    "adopted"
  }

  override def dropTable(ident: Identifier): Boolean = {
    val f = new File(dirOf(ident))
    // converted-adopted table: delete the hidden entry (the
    // un-publish), then the managed home it references — which may
    // be the name-path directory itself (un-renamed) or an owned
    // directory elsewhere (post-rename names resolve plain, but a
    // dead hidden entry may linger; reclaim either way)
    if (!isTableEntry(f) && TablePointer.read(f.toPath).isEmpty &&
        TablePointer.read(ptrPath(ident)).isDefined) {
      val (dir, external) = TablePointer.read(ptrPath(ident)).get
      Files.delete(ptrPath(ident))
      if (!external) graft.util.Fs.deleteRecursively(new File(dir))
      return true
    }
    if (isTableEntry(f) && TablePointer.read(f.toPath).isEmpty &&
        ptrEntry(ident).isDefined) {
      // un-renamed converted table: name path IS the home — the
      // hidden entry goes first (un-publish), then the data
      Files.delete(ptrPath(ident))
      graft.util.Fs.deleteRecursively(f)
      return true
    }
    if (!isTableEntry(f)) {
      // a DEAD pointer (target lost its table state out-of-band) is
      // invisible to listings/loads but still occupies the name —
      // DROP TABLE is the explicit admin action that reclaims it
      TablePointer.read(f.toPath) match {
        case Some(_) => Files.delete(f.toPath); true
        case None => false
      }
    }
    else TablePointer.read(f.toPath) match {
      case Some((dir, external)) =>
        // the entry-object delete IS the un-publish (atomic on any
        // store); the managed data home is garbage afterwards —
        // readers holding the old path finish their scan untouched
        Files.delete(f.toPath)
        if (!external) graft.util.Fs.deleteRecursively(new File(dir))
        true
      case None =>
        // adopted entries: an external table (symlinked LOCATION)
        // keeps its data — only the catalog entry goes
        if (Files.isSymbolicLink(f.toPath)) Files.delete(f.toPath)
        else graft.util.Fs.deleteRecursively(f)
        true
    }
  }

  override def purgeTable(ident: Identifier): Boolean = {
    val f = new File(dirOf(ident))
    if (TablePointer.read(f.toPath).isEmpty &&
        TablePointer.read(ptrPath(ident)).isDefined) {
      val (dir, _) = TablePointer.read(ptrPath(ident)).get
      Files.delete(ptrPath(ident))
      graft.util.Fs.deleteRecursively(new File(dir))
      if (f.isDirectory && f.getPath != dir)
        graft.util.Fs.deleteRecursively(f)
      return true
    }
    if (!isTableEntry(f)) false
    else TablePointer.read(f.toPath) match {
      case Some((dir, _)) =>
        // PURGE removes the data even for external tables
        Files.delete(f.toPath)
        graft.util.Fs.deleteRecursively(new File(dir))
        true
      case None =>
        val target =
          if (Files.isSymbolicLink(f.toPath))
            Files.readSymbolicLink(f.toPath).toFile
          else f
        graft.util.Fs.deleteRecursively(target)
        if (Files.isSymbolicLink(f.toPath)) Files.delete(f.toPath)
        true
    }
  }

  /** RENAME is two entry-object operations — claim the new name
    * (create-if-absent through the LogStore seam: a racing CREATE
    * of the same name loses exactly one of the two), then delete
    * the old entry. The DATA DIRECTORY NEVER MOVES — its hidden
    * home stays put and the new pointer names it, so the rename is
    * object-store-safe. A crash between the two steps leaves the
    * table briefly visible under both names (both resolve to the
    * same data — benign; the next rename/drop of either heals it).
    * Adopted directory entries have no pointer to repoint: their
    * identity IS their path, so renaming one falls back to a real
    * directory move — atomic on POSIX, refused under an
    * object-store LogStore where a directory move would be N
    * non-atomic copies. */
  override def renameTable(old: Identifier, next: Identifier): Unit = {
    val from = new File(dirOf(old))
    if (!tableExists(old)) throw new NoSuchTableException(old)
    val to = new File(dirOf(next))
    if (tableExists(next)) throw new TableAlreadyExistsException(next)
    require(to.getParentFile.isDirectory,
      s"target namespace ${next.namespace.mkString(".")} does not exist")
    // CONVERTED-adopted table (hidden .ptr entry): mark the home
    // OWNED (its path stops surfacing as a table), claim the new
    // name's PLAIN entry, delete the hidden one — three
    // object-store-safe steps, no directory moves. Crash windows:
    // after the marker, the old name still resolves via the hidden
    // entry; after the claim, both names briefly resolve to the same
    // data (benign, as with managed renames).
    if (TablePointer.read(from.toPath).isEmpty &&
        ptrEntry(old).isDefined) {
      val (dir, external) = ptrEntry(old).get
      require(external || old.namespace.toSeq == next.namespace.toSeq,
        s"RENAME of managed table ${fullName(old)} across " +
          s"namespaces: its data home stays under the original " +
          "namespace, which a later DROP NAMESPACE CASCADE would " +
          "destroy — copy it (CREATE TABLE ... AS SELECT) instead")
      graft.sources.LogStore.current.putPointer(
        Paths.get(dir, TablePointer.OwnerMarker),
        s"""{"owner":"${dirOf(next)}"}""".getBytes("UTF-8"))
      if (!TablePointer.claim(to.toPath, dir, external))
        throw new TableAlreadyExistsException(next)
      Files.delete(ptrPath(old))
      return
    }
    TablePointer.read(from.toPath) match {
      case Some((dir, external)) =>
        // a MANAGED home lives under its ORIGINAL namespace
        // directory and never moves: renaming across namespaces
        // would leave the new name's data inside a namespace whose
        // later DROP ... CASCADE destroys it out from under the
        // pointer — refuse; external locations are elsewhere by
        // definition and rename freely
        require(external ||
            old.namespace.toSeq == next.namespace.toSeq,
          s"RENAME of managed table ${fullName(old)} across " +
            s"namespaces (${old.namespace.mkString(".")} -> " +
            s"${next.namespace.mkString(".")}): its data home " +
            "stays under the original namespace, which a later " +
            "DROP NAMESPACE CASCADE would destroy — copy it " +
            "(CREATE TABLE ... AS SELECT) instead")
        if (!TablePointer.claim(to.toPath, dir, external))
          throw new TableAlreadyExistsException(next)
        Files.delete(from.toPath)
      case None =>
        require(graft.sources.LogStore.current eq
            graft.sources.PosixLogStore,
          s"RENAME of adopted directory table ${fullName(old)}: its " +
            "identity is its path, and a directory move is not " +
            "atomic on an object store — copy it into a managed " +
            "table (CREATE TABLE ... AS SELECT) instead")
        GraftSqlSeams.dirMoves.incrementAndGet()
        Files.move(from.toPath, to.toPath): Unit
    }
  }

  /** Prepare the DATA HOME for a new table — a hidden immutable
    * `.tbl-<name>-<uuid>` directory under the namespace for managed
    * tables, the resolved LOCATION for external ones. Nothing is
    * published yet: the entry appears only when [[publishNewTable]]
    * claims the pointer. Refuses when the namespace directory does
    * not exist. */
  protected def prepareDataDir(ident: Identifier,
      properties: util.Map[String, String]): (String, Boolean) = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val entry = new File(dirOf(ident))
    if (!entry.getParentFile.isDirectory)
      throw new NoSuchNamespaceException(ident.namespace)
    Option(properties.get(TableCatalog.PROP_LOCATION)) match {
      case Some(loc) =>
        // Spark normalizes LOCATION to a URI string (file:/...)
        val p = if (loc.startsWith("file:"))
          Paths.get(java.net.URI.create(loc))
        else Paths.get(loc)
        Files.createDirectories(p)
        (p.toString, true)
      case None =>
        val d = new File(entry.getParentFile,
          s".tbl-${ident.name}-${java.util.UUID.randomUUID}")
        Files.createDirectories(d.toPath)
        (d.getPath, false)
    }
  }

  /** The CREATE commit point: claim the entry pointer. On a lost
    * claim (racing CREATE won) the prepared MANAGED home is deleted
    * — external data is never destroyed by a losing CREATE. */
  protected def publishNewTable(ident: Identifier, dataDir: String,
                                external: Boolean): Unit =
    if (!TablePointer.claim(Paths.get(dirOf(ident)), dataDir,
        external)) {
      if (!external)
        graft.util.Fs.deleteRecursively(new File(dataDir))
      throw new TableAlreadyExistsException(ident)
    }

  /** Table properties minus Spark's reserved / option keys — what
    * actually lands in the format's own table configuration. */
  protected def userProperties(
      properties: util.Map[String, String]): Map[String, String] =
    properties.asScala.toMap.filter { case (k, _) =>
      !Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_COMMENT,
        TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
        TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION,
        TableCatalog.PROP_TABLE_TYPE).contains(k) &&
        !k.startsWith(TableCatalog.OPTION_PREFIX)
    }

  /** Create the FORMAT's table state under `dir` — the staging
    * hook (Delta: a metadata-only v0 commit; Iceberg: the CREATE
    * marker). */
  protected def createUnder(dir: String, schema: StructType,
      partCols: Seq[String], properties: Map[String, String]): Unit

  /** Invoked between the staged write and a LEGACY directory-move
    * publish (RTAS over an adopted directory table, where the staged
    * dir must physically move to the entry path) — formats whose
    * metadata records absolute paths (Iceberg) repoint them at the
    * final location here. The pointer-entry publish never needs it:
    * the staged directory IS the table's permanent home. */
  protected def beforePublishStaged(stagedDir: String,
                                    dest: String): Unit = ()

  /** ATOMIC CTAS / RTAS (`CREATE TABLE ... AS SELECT`,
    * `[CREATE OR] REPLACE TABLE ... AS SELECT`): the query writes
    * into a HIDDEN `.tbl-<name>-<uuid>` directory (invisible to
    * listings and loads — leading-dot names are unaddressable), and
    * only `commitStagedChanges` publishes it, by CLAIMING or
    * REPOINTING the table's entry pointer through the LogStore seam
    * ([[TablePointer]]) — the staged directory never moves; it
    * becomes the table's permanent data home. A failed or aborted
    * query deletes the hidden directory and leaves no table; a
    * racing plain CREATE makes exactly one claimant lose its
    * pointer claim and abort loudly; REPLACE repoints in ONE
    * whole-object put and garbage-collects the previous managed
    * home afterwards. The only directory move left is the legacy
    * fallback publishing OVER an adopted directory table (whose
    * identity is its path) — POSIX-only, counted by
    * [[GraftSqlSeams.dirMoves]]. */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties,
      replace = false, orCreate = false)

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties,
      replace = true, orCreate = false)

  override def stageCreateOrReplace(ident: Identifier,
      schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties,
      replace = true, orCreate = true)

  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String], replace: Boolean,
      orCreate: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!replace && tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !tableExists(ident))
      throw new NoSuchTableException(ident)
    val parent = new File(dirOf(ident)).getParentFile
    if (!parent.isDirectory)
      throw new NoSuchNamespaceException(ident.namespace)
    val stagedDir = new File(parent,
      s".tbl-${ident.name}-${java.util.UUID.randomUUID}").getPath
    Files.createDirectories(Paths.get(stagedDir))
    val inner =
      try {
        createUnder(stagedDir, schema,
          identityPartCols(partitions, name()),
          userProperties(properties))
        mkTable(ident, stagedDir)
      } catch {
        case e: Throwable =>
          graft.util.Fs.deleteRecursively(new File(stagedDir))
          throw e
      }
    new org.apache.spark.sql.connector.catalog.StagedTable
      with SupportsWrite {
      override def name(): String = inner.name()
      override def columns()
          : Array[org.apache.spark.sql.connector.catalog.Column] =
        inner.columns()
      override def capabilities(): util.Set[TableCapability] =
        inner.capabilities()
      override def partitioning(): Array[Transform] =
        inner.partitioning()
      override def newWriteBuilder(
          info: LogicalWriteInfo): WriteBuilder =
        inner.asInstanceOf[SupportsWrite].newWriteBuilder(info)
      override def abortStagedChanges(): Unit =
        graft.util.Fs.deleteRecursively(new File(stagedDir))
      override def commitStagedChanges(): Unit = {
        val dest = Paths.get(dirOf(ident))
        val destPointer = TablePointer.read(dest)
        val viaPtr =
          if (destPointer.isEmpty) ptrEntry(ident) else None
        if (viaPtr.isDefined) {
          // CONVERTED-adopted table: the pointer lifecycle, on the
          // hidden entry — one whole-object repoint publishes the
          // staged home, then the previous home is GC'd. No
          // directory moves; safe on any store.
          if (!replace) {
            abortStagedChanges()
            throw new TableAlreadyExistsException(ident)
          }
          val oldHome = viaPtr.filter(!_._2).map(_._1)
          TablePointer.repoint(ptrPath(ident), stagedDir,
            external = false)
          oldHome.foreach(d =>
            graft.util.Fs.deleteRecursively(new File(d)))
        } else if (destPointer.isEmpty && isTableDir(dest.toFile)) {
          // LEGACY fallback: the name is occupied by an ADOPTED
          // directory table whose identity is its path — publishing
          // over it needs real directory moves (POSIX-only; the
          // pointer lifecycle never comes here)
          require(graft.sources.LogStore.current eq
              graft.sources.PosixLogStore,
            s"RTAS over adopted directory table ${fullName(ident)}: " +
              "directory moves are not atomic on an object store")
          if (!replace) {
            abortStagedChanges()
            throw new TableAlreadyExistsException(ident)
          }
          beforePublishStaged(stagedDir, dest.toString)
          val trash = new File(dest.getParent.toFile,
            s".trash-${ident.name}-${java.util.UUID.randomUUID}")
          GraftSqlSeams.dirMoves.incrementAndGet()
          Files.move(dest, trash.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          GraftSqlSeams.dirMoves.incrementAndGet()
          Files.move(Paths.get(stagedDir), dest,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          if (Files.isSymbolicLink(trash.toPath))
            Files.delete(trash.toPath)
          else graft.util.Fs.deleteRecursively(trash)
        } else if (!replace) {
          // CREATE: claim the entry pointer — the staged dir is the
          // table's permanent home, published by ONE create-if-absent
          // pointer claim; a racing CREATE makes exactly one of the
          // two lose here
          if (!TablePointer.claim(dest, stagedDir, external = false)) {
            abortStagedChanges()
            throw new TableAlreadyExistsException(ident)
          }
        } else {
          // REPLACE: one whole-object repoint, then GC the previous
          // MANAGED home (an external table's data is never touched
          // — only its entry is repointed away from it); a legacy
          // symlink entry is deleted first so the pointer put lands
          // on a plain path
          val oldManaged = destPointer.collect {
            case (dir, false) => dir
          }
          if (destPointer.isEmpty && Files.isSymbolicLink(dest))
            Files.delete(dest)
          TablePointer.repoint(dest, stagedDir, external = false)
          oldManaged.foreach(d =>
            graft.util.Fs.deleteRecursively(new File(d)))
        }
      }
    }
  }

  protected def identityPartCols(partitions: Array[Transform],
                                 what: String): Seq[String] =
    partitions.toSeq.map { t =>
      require(t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1,
        s"$what: unsupported partition transform $t — tables " +
          "partition by identity columns")
      t.references()(0).fieldNames()(0)
    }

  // ---- namespaces ----
  override def namespaceExists(ns: Array[String]): Boolean =
    ns.isEmpty || {
      val d = new File(nsDir(ns))
      d.isDirectory && !isTableDir(d)
    }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    val d = new File(nsDir(ns))
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !isTableDir(f) &&
        !f.getName.startsWith("."))
      .map(_.getName).sorted.map(n => ns :+ n)
  }

  override def loadNamespaceMetadata(
      ns: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    java.util.Collections.emptyMap[String, String]()
  }

  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(ns) && ns.nonEmpty)
      throw new NamespaceAlreadyExistsException(ns)
    // the path may be occupied by a TABLE (an adopted table dir
    // fails namespaceExists but would make createDirectories a
    // silent no-op, aliasing the table as a namespace; a pointer
    // entry would make it fail confusingly) — refuse loudly
    val p = Paths.get(nsDir(ns))
    if (Files.exists(p) && !Files.isDirectory(p) ||
        Files.isDirectory(p) && isTableDir(p.toFile))
      throw new NamespaceAlreadyExistsException(ns)
    Files.createDirectories(p): Unit
  }

  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"catalog $name: namespaces carry no mutable metadata")

  override def dropNamespace(ns: Array[String],
                             cascade: Boolean): Boolean = {
    if (ns.isEmpty) return false
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    val d = new File(nsDir(ns))
    if (!cascade)
      require(Option(d.listFiles()).forall(_.isEmpty),
        s"namespace ${ns.mkString(".")} is not empty — DROP ... CASCADE")
    graft.util.Fs.deleteRecursively(d)
    true
  }
}

/** The Delta-format SQL catalog: full DDL (CREATE/DROP/RENAME/ALTER
  * with add-column, set/unset properties including CHECK constraints,
  * mapped renames), INSERT INTO/OVERWRITE through the DSv2 writer,
  * `VERSION AS OF` / `TIMESTAMP AS OF` time travel, DV-pruned
  * DELETE, and copy-on-write UPDATE/MERGE/DELETE. */
class GraftDeltaCatalog extends GraftDirCatalog {

  override protected lazy val procedures: Map[String, GraftProcedure] =
    GraftProcedures.delta(resolveTableArg) ++
      GraftProcedures.common(resolveNsArg, adoptTable)

  override protected def isTableDir(d: File): Boolean =
    new File(d, "_delta_log").isDirectory

  override protected def mkTable(ident: Identifier,
                                 dir: String): Table =
    new DeltaSqlTable(fullName(ident), dir,
      DeltaStreamSource.tableSchema(dir), pinnedVersion = None)

  /** `SELECT ... VERSION AS OF v` — the pinned table reports the
    * PINNED version's schema (a later evolution must not leak into a
    * historical read). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = realDir(ident)
    val v = scala.util.Try(version.trim.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"graft-delta: VERSION AS OF takes a version number, " +
          s"got '$version'"))
    pinned(ident, dir, v)
  }

  /** `SELECT ... TIMESTAMP AS OF ts` — Spark hands MICROseconds. */
  override def loadTable(ident: Identifier,
                         timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = realDir(ident)
    pinned(ident, dir,
      DeltaLog.versionAsOf(dir, Math.floorDiv(timestampMicros, 1000L)))
  }

  private def pinned(ident: Identifier, dir: String, v: Long): Table =
    new DeltaSqlTable(fullName(ident), dir,
      DeltaLog.stripFieldMetadata(DeltaLog.replay(dir, v).schema)
        .asInstanceOf[StructType],
      pinnedVersion = Some(v))

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val partCols = identityPartCols(partitions, "graft-delta")
    val (dataDir, external) = prepareDataDir(ident, properties)
    DeltaLog.createTable(dataDir, schema, partCols,
      userProperties(properties))
    publishNewTable(ident, dataDir, external)
    loadTable(ident)
  }

  override protected def createUnder(dir: String, schema: StructType,
      partCols: Seq[String], properties: Map[String, String]): Unit =
    DeltaLog.createTable(dir, schema, partCols, properties): Unit

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = realDir(ident)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft-delta ALTER: nested ADD COLUMN is not supported — " +
            "evolve the whole struct through DeltaLog.evolveSchema")
        val st = DeltaLog.replay(dir, DeltaLog.versions(dir).last)
        DeltaLog.evolveSchema(dir, StructType(st.schema.fields :+
          StructField(a.fieldNames()(0), a.dataType,
            nullable = true))): Unit
      case p: TableChange.SetProperty =>
        // CHECK constraints validate EXISTING rows before landing
        if (p.property.startsWith("delta.constraints."))
          DeltaLog.addCheckConstraint(SparkSession.active, dir,
            p.property.stripPrefix("delta.constraints."),
            p.value): Unit
        else
          DeltaLog.setTableProperties(dir,
            Map(p.property -> p.value)): Unit
      case p: TableChange.RemoveProperty =>
        DeltaLog.removeTableProperties(dir, Seq(p.property)): Unit
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graft-delta ALTER: nested RENAME COLUMN is not supported")
        DeltaLog.renameColumnMapped(dir, r.fieldNames()(0),
          r.newName): Unit
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "graft-delta ALTER: nested DROP COLUMN is not supported")
        DeltaLog.dropColumnMapped(dir, d.fieldNames()(0)): Unit
      case other =>
        throw new UnsupportedOperationException(
          s"graft-delta ALTER: unsupported change $other")
    }
    loadTable(ident)
  }
}

/** A Delta table addressed through the SQL catalog — the streaming/
  * batch/write [[DeltaStreamTable]] surface plus the SQL row-level
  * ops. `pinnedVersion` = a time-travel load: read-only, scans pin
  * `versionAsOf`. */
private[streaming] class DeltaSqlTable(sqlName: String,
    private[streaming] val dir: String, schema: StructType,
    pinnedVersion: Option[Long])
  extends DeltaStreamTable(schema, Array.empty,
    new CaseInsensitiveStringMap(
      (Map("path" -> dir) ++
        pinnedVersion.map(v => "versionAsOf" -> v.toString)).asJava))
  with SupportsDeleteV2 with SupportsRowLevelOperations {

  override def name(): String = sqlName

  /** The log's table configuration — SHOW TBLPROPERTIES. */
  override def properties(): util.Map[String, String] =
    DeltaLog.replay(dir,
      pinnedVersion.getOrElse(DeltaLog.versions(dir).last))
      .configuration.asJava

  private def requireWritable(op: String): Unit =
    require(pinnedVersion.isEmpty,
      s"$op on a time-travel read of $sqlName " +
        s"(VERSION AS OF ${pinnedVersion.get}) — writes go to the " +
        "current table")

  override def newWriteBuilder(
      info: LogicalWriteInfo): WriteBuilder = {
    requireWritable("INSERT")
    super.newWriteBuilder(info)
  }

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    pinnedVersion.isEmpty && SqlFilters.toColumn(predicates).isDefined &&
      // a table that opted OUT of deletion vectors must not take the
      // DV metadata-delete path (it would silently upgrade the
      // protocol to reader 3 / writer 7) — fall to the row-level
      // operation, which routes to the copy-on-write rewrite below
      DeltaLog.dvWritesEnabled(
        DeltaLog.replay(dir, DeltaLog.versions(dir).last))

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    requireWritable("DELETE")
    val cond = SqlFilters.toColumn(predicates).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE predicates ${predicates.mkString(", ")} are not " +
          "translatable — Spark should have taken the row-level path"))
    GraftSqlSeams.metadataDeletes.incrementAndGet()
    DeltaLog.deleteWhere(SparkSession.active, dir, cond): Unit
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireWritable(info.command.toString)
    // ALL row-level DML — MERGE, UPDATE, untranslatable-predicate
    // DELETE, on unmapped AND column-mapped tables — takes the
    // DELTA-BASED (position tombstone) path: exact per-row verdicts,
    // DV commit, exact CDF without declared keys. A scattered 100 TB
    // UPDATE costs changed rows + kilobytes of bitmap, never a group
    // rewrite. The table opts OUT via
    // delta.enableDeletionVectors=false (real Delta's knob — no
    // silent reader-3/writer-7 upgrade without consent), which keeps
    // the group-based copy-on-write operation, whose CDF the rewrite
    // derives exactly.
    () =>
      if (DeltaLog.dvWritesEnabled(
          DeltaLog.replay(dir, DeltaLog.versions(dir).last)))
        new DeltaPositionMergeOperation(dir, schema, info.command)
      else new DeltaRowLevelOperation(dir, schema, info.command)
  }
}

/** GROUP-BASED (copy-on-write) row-level operation over a Delta
  * table — what Spark's own `RewriteDeleteFromTable` /
  * `RewriteUpdateTable` / `RewriteMergeIntoTable` plan against for
  * SQL DELETE/UPDATE/MERGE:
  *
  *  1. the SCAN pins the table version and plans the REWRITE GROUP —
  *     Spark pushes the command's own condition into the scan
  *     builder (`GroupBasedRowLevelOperationScanPlanning`), so
  *     partition values + `add.stats` bounds prune provably-missed
  *     files out of the group at PLANNING time, and the
  *     runtime-group-filter subquery (DPP over the same scan's
  *     `filterAttributes`) re-prunes at RUNTIME — a one-partition
  *     UPDATE on a 100 TB table rewrites that partition's matching
  *     files, not the lake;
  *  2. the WRITE receives the group's full rewritten row set
  *     (survivors + updates + merge inserts) through the same
  *     stats-tracking executor writer every DSv2 write uses;
  *  3. the COMMIT removes exactly the planned group and adds the new
  *     files atomically ([[DeltaLog.commitReplaceDsv2]]), with the
  *     conflict-proving retry loop: racing winners provably outside
  *     the group (by the pushed condition's own pruning predicate)
  *     retry internally, genuine conflicts abort loudly.
  *
  * The FIRST scan this operation builds is the main row-level scan
  * (Spark builds the runtime-group-filter scan later from the same
  * operation); only it names the rewrite group. */
private[streaming] class DeltaRowLevelOperation(dir: String,
    tableSchema: StructType, cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  private val base: Long = {
    val vs = DeltaLog.versions(dir)
    require(vs.nonEmpty, s"no _delta_log commits under $dir")
    vs.last
  }

  @volatile private var mainScan: OpenFormatBatchScan = null

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-delta copy-on-write $cmd on $dir @v$base"

  /** `_file` is required metadata: (a) Spark's rewrite then builds
    * the projections that strip the `__row_operation`/metadata
    * columns off the rows before they reach the data writer (the
    * DataAndMetadataWritingSparkTask path — without metadata
    * attributes a group-based MERGE would hand the writer its raw
    * MergeRows output), and (b) the runtime group filter can feed
    * matching FILE PATHS back into the scan — exact-file rewrite
    * groups. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(MetaCols.File))

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new OpenFormatScanBuilder((pushed, required, _) => {
      // limit is FORCED OFF: a truncated plan would shrink the
      // rewrite group and lose rows (Spark never pushes limits into
      // row-level scans today — this pins it)
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
      info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new Write {
      override def toBatch: BatchWrite = {
        val st = DeltaLog.replay(dir, base)
        val schema = info.schema()
        new ReplaceFilesBatchWrite(DeltaRowLevelOperation.this, dir,
          schema, Dsv2WriteSchemas.physicalFor(Some(st), schema),
          st.partitionColumns, DeltaLog.bloomColsOf(st))
      }
    }
  }

  /** The write's commit half: replace the scanned group with the
    * written files. */
  private[streaming] def commitReplace(
      files: Seq[DeltaLog.Dsv2File]): Unit = {
    val scan = mainScan
    require(scan != null && scan.lastPlanned != null,
      s"row-level $cmd on $dir committed before its scan planned — " +
        "nothing names the rewrite group")
    val group = scan.lastPlanned
    GraftSqlSeams.recordReplace(dir,
      live = DeltaLog.replay(dir, base).adds.size.toLong,
      removed = group.size.toLong, added = files.size.toLong)
    DeltaLog.commitReplaceDsv2(SparkSession.active, dir, base,
      group.map(_.path), files,
      couldMatch = (_, a) =>
        scan.groupFilterKeep(a.partitionValues, a.longBounds),
      op = s"SQL $cmd"): Unit
  }
}

/** The ReplaceData write: executors run the ordinary stats-tracking
  * [[DeltaDataWriter]]s; the driver commit swaps the rewrite group
  * for the new files in one conflict-proven commit. */
private[streaming] class ReplaceFilesBatchWrite(
    op: DeltaRowLevelOperation, tableDir: String,
    logicalSchema: StructType, physicalSchema: StructType,
    partCols: Seq[String], bloomCols: Seq[String]) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    new DeltaWriterFactory(tableDir, logicalSchema.json,
      physicalSchema.json, partCols, bloomCols = bloomCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    op.commitReplace(messages.toSeq
      .flatMap(_.asInstanceOf[Dsv2CommitMsg].files))

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.filter(_ != null).foreach {
      case Dsv2CommitMsg(files) => files.foreach(f =>
        Files.deleteIfExists(
          Paths.get(s"$tableDir/${f.relPath}")): Unit)
      case _ => ()
    }
}

/** The Iceberg-format SQL catalog: DDL, INSERT INTO/OVERWRITE
  * (native DSv2 writes committing through the library's distributed
  * committers — identity AND hidden specs, with transform closures
  * resolved once at writer construction), snapshot/timestamp time
  * travel, and
  * position-delete `DELETE FROM`. A just-created table holds a
  * schema marker until its first INSERT writes real metadata (real
  * Iceberg's CREATE also commits no snapshot — readers of an empty
  * table see zero rows either way). */
class GraftIcebergCatalog extends GraftDirCatalog {

  override protected lazy val procedures: Map[String, GraftProcedure] =
    GraftProcedures.iceberg(resolveTableArg) ++
      GraftProcedures.common(resolveNsArg, adoptTable)

  override protected def isTableDir(d: File): Boolean =
    Iceberg.versions(d.getPath).nonEmpty ||
      new File(d, IcebergSqlTables.Marker).isFile

  override protected def mkTable(ident: Identifier,
                                 dir: String): Table =
    IcebergSqlTables.load(fullName(ident), dir, pinned = Map.empty)

  /** `VERSION AS OF` = a SNAPSHOT ID (Iceberg's own convention). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    IcebergSqlTables.load(fullName(ident), realDir(ident),
      pinned = Map("snapshotAsOf" -> version.trim))
  }

  override def loadTable(ident: Identifier,
                         timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = realDir(ident)
    IcebergSqlTables.load(fullName(ident), dir,
      pinned = Map("snapshotAsOf" -> Iceberg.snapshotAsOf(dir,
        Math.floorDiv(timestampMicros, 1000L)).toString))
  }

  /** `PARTITIONED BY` transform DDL → this engine's spec strings:
    * identity columns plus the full hidden-transform vocabulary
    * (`bucket(n, c)`, `truncate(w, c)`, `days/months/years/hours(c)`
    * — real Iceberg's own SQL spellings), all landing natively
    * through the DSv2 writers. */
  private def parseSpec(
      partitions: Array[Transform]): Seq[(String, String)] =
    partitions.toSeq.map { t =>
      require(t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1,
        s"graft-iceberg: unsupported partition transform $t")
      val src = t.references()(0).fieldNames()(0)
      def intArg: Int = t.arguments.toSeq.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value.isInstanceOf[Int] => l.value.asInstanceOf[Int]
      }.getOrElse(throw new IllegalArgumentException(
        s"graft-iceberg: transform $t needs an integer argument"))
      t.name match {
        case "identity" => src -> "identity"
        case "bucket" => src -> s"bucket[$intArg]"
        case "truncate" => src -> s"truncate[$intArg]"
        case "days" | "day" => src -> "day"
        case "months" | "month" => src -> "month"
        case "years" | "year" => src -> "year"
        case "hours" | "hour" => src -> "hour"
        case other => throw new UnsupportedOperationException(
          s"graft-iceberg: unsupported partition transform $other")
      }
    }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val spec = parseSpec(partitions)
    val (dataDir, external) = prepareDataDir(ident, properties)
    IcebergSqlTables.writeMarker(dataDir, schema, spec,
      userProperties(properties))
    publishNewTable(ident, dataDir, external)
    loadTable(ident)
  }

  override protected def createUnder(dir: String, schema: StructType,
      partCols: Seq[String], properties: Map[String, String]): Unit =
    IcebergSqlTables.writeMarker(dir, schema,
      partCols.map(_ -> "identity"), properties)

  override protected def beforePublishStaged(stagedDir: String,
                                             dest: String): Unit =
    Iceberg.relocate(stagedDir, dest)

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = realDir(ident)
    require(Iceberg.versions(dir).nonEmpty,
      s"graft-iceberg ALTER on ${fullName(ident)}: the table has no " +
        "metadata yet (no INSERT ran) — recreate it instead")
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft-iceberg ALTER: nested ADD COLUMN is not supported")
        val cur = Iceberg.streamSchema(dir)._1
        Iceberg.evolveSchema(dir, StructType(cur.fields :+
          StructField(a.fieldNames()(0), a.dataType,
            nullable = true))): Unit
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graft-iceberg ALTER: nested RENAME COLUMN is not supported")
        Iceberg.renameColumn(dir, r.fieldNames()(0), r.newName): Unit
      case s: TableChange.SetProperty =>
        Iceberg.setTableProperties(dir,
          Map(s.property -> Some(s.value))): Unit
      case u: TableChange.RemoveProperty =>
        Iceberg.setTableProperties(dir, Map(u.property -> None)): Unit
      case other =>
        throw new UnsupportedOperationException(
          s"graft-iceberg ALTER: unsupported change $other")
    }
    loadTable(ident)
  }
}

private[streaming] object IcebergSqlTables {
  /** CREATE-but-never-written marker: the declared schema +
    * partition columns, pending the first INSERT's real metadata. */
  val Marker = ".graft-table.json"

  private val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  def writeMarker(dir: String, schema: StructType,
                  spec: Seq[(String, String)],
                  props: Map[String, String] = Map.empty): Unit = {
    val missing = spec.map(_._1).filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"CREATE TABLE: partition source columns " +
        s"${missing.mkString(", ")} not in the declared schema")
    val (identity, hidden) = spec.partition(_._2 == "identity")
    require(identity.isEmpty || hidden.isEmpty,
      "CREATE TABLE: a spec mixes identity and derived transforms " +
        "— out of scope (pick one clustering)")
    val n = mapper.createObjectNode()
    n.put("schemaJson", schema.json)
    val pc = n.putArray("spec")
    spec.foreach { case (src, tr) =>
      pc.addObject().put("src", src).put("transform", tr): Unit
    }
    if (props.nonEmpty) {
      val pn = n.putObject("props")
      props.foreach { case (k, v) => pn.put(k, v): Unit }
    }
    Files.write(Paths.get(s"$dir/$Marker"),
      mapper.writeValueAsString(n).getBytes("UTF-8")): Unit
  }

  /** Declared TBLPROPERTIES pending the first INSERT's metadata. */
  def markerProps(dir: String): Map[String, String] = {
    val f = Paths.get(s"$dir/$Marker")
    if (!Files.isRegularFile(f)) Map.empty
    else {
      val n = mapper.readTree(Files.readAllBytes(f))
      if (!n.has("props")) Map.empty
      else n.get("props").properties().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap
    }
  }

  def readMarker(dir: String): (StructType, Seq[(String, String)]) = {
    val n = mapper.readTree(
      Files.readAllBytes(Paths.get(s"$dir/$Marker")))
    val spec =
      if (n.has("spec"))
        n.get("spec").elements().asScala.map(e =>
          e.get("src").asText -> e.get("transform").asText).toSeq
      else // legacy identity-only marker shape
        n.get("partCols").elements().asScala
          .map(_.asText -> "identity").toSeq
    (DataType.fromJson(n.get("schemaJson").asText)
      .asInstanceOf[StructType], spec)
  }

  def load(sqlName: String, dir: String,
           pinned: Map[String, String]): Table =
    if (Iceberg.versions(dir).nonEmpty) {
      // declared TBLPROPERTIES ride the marker until the first
      // INSERT creates real metadata; publish them as ONE catch-up
      // metadata commit the first time the table loads with both
      // (idempotent: the marker is consumed by the publish)
      val pending = markerProps(dir)
      if (pending.nonEmpty) {
        def covered() = {
          val have = Iceberg.tableProperties(dir)
          pending.forall { case (k, v) => have.get(k).contains(v) }
        }
        if (!covered())
          // a racing load may publish first and win the version CAS;
          // the loser's failure is benign iff the props then read back
          try Iceberg.setTableProperties(dir,
            pending.map { case (k, v) => k -> Some(v) }): Unit
          catch { case e: Throwable => if (!covered()) throw e }
        if (covered())
          Files.deleteIfExists(Paths.get(s"$dir/$Marker")): Unit
      }
      new IcebergSqlTable(sqlName, dir,
        IcebergStreamSource.checkedSchema(dir)._1, pinned)
    } else {
      require(pinned.isEmpty,
        s"time travel on $sqlName: the table has no snapshots yet")
      val (schema, spec) = readMarker(dir)
      new PendingIcebergTable(sqlName, dir, schema, spec)
    }

}

/** An Iceberg table addressed through the SQL catalog: the DSv2
  * batch/streaming reads plus SQL INSERT (native DSv2 writes under
  * identity AND hidden-transform specs — no V1 bridge),
  * position-delete DELETE FROM, and copy-on-write UPDATE/MERGE
  * through [[IcebergRowLevelOperation]]. */
private[streaming] class IcebergSqlTable(sqlName: String, dir: String,
    schema: StructType, pinned: Map[String, String])
  extends IcebergStreamTable(schema,
    new CaseInsensitiveStringMap((Map("path" -> dir) ++ pinned).asJava))
  with SupportsWrite with SupportsDeleteV2
  with SupportsRowLevelOperations {

  override def name(): String = sqlName

  /** The metadata's table properties — SHOW TBLPROPERTIES. */
  override def properties(): util.Map[String, String] =
    Iceberg.tableProperties(dir).asJava

  override def capabilities(): util.Set[TableCapability] =
    (super.capabilities().asScala.toSet ++
      Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)).asJava

  private def requireWritable(op: String): Unit =
    require(pinned.isEmpty,
      s"$op on a time-travel read of $sqlName ($pinned) — writes go " +
        "to the current table")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireWritable("INSERT")
    // one native DSv2 write path for every spec shape — the builder
    // resolves identity vs hidden transforms from the metadata
    new IcebergDsv2WriteBuilder(dir, info, Seq.empty)
  }

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    pinned.isEmpty && SqlFilters.toColumn(predicates).isDefined

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    requireWritable("DELETE")
    val cond = SqlFilters.toColumn(predicates).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE predicates ${predicates.mkString(", ")} are not " +
          "translatable"))
    val spark = SparkSession.active
    // SQL DELETE matching nothing is a no-op, not an error
    if (Iceberg.read(spark, dir).filter(cond).isEmpty) return
    GraftSqlSeams.metadataDeletes.incrementAndGet()
    Iceberg.deleteWhere(spark, dir, cond): Unit
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireWritable(info.command.toString)
    // ALL row-level DML — MERGE, UPDATE, untranslatable-predicate
    // DELETE — takes the position-delta (merge-on-read) path, real
    // Iceberg's row-delta wire: per-row verdicts committed as one v2
    // snapshot with a position-delete manifest, zero data-file
    // rewrites. The table's own `write.<command>.mode` property is
    // honored when set (real Iceberg's knob: 'copy-on-write' keeps
    // the group-based rewrite); unset defaults to merge-on-read —
    // this engine's 100 TB default. Foreign standard-layout identity
    // tables (data files CARRY partition columns; this engine's
    // writers hive-strip, one table keeps one layout) stay
    // copy-on-write regardless. Translatable DELETEs keep the
    // SupportsDeleteV2 metadata/MoR path, which never reaches here.
    () => {
      val cmdName =
        info.command.toString.toLowerCase(java.util.Locale.ROOT)
      val modeProp = s"write.$cmdName.mode"
      val mor = Iceberg.tableProperties(dir)
        .getOrElse(modeProp, "merge-on-read") == "merge-on-read"
      if (mor && {
        val plan = Iceberg.batchPlan(dir, Iceberg.mainSnapshotId(dir))
        plan.partCols.isEmpty || !plan.filesCarryPartCols
      }) new IcebergPositionMergeOperation(dir, dataSchema,
        info.command)
      else new IcebergRowLevelOperation(dir, dataSchema, info.command)
    }
  }
}

/** GROUP-BASED (copy-on-write) row-level operation over an Iceberg
  * table — [[DeltaRowLevelOperation]]'s twin: the scan pins the
  * current snapshot and plans the rewrite group (manifest-bounds +
  * identity-partition pruning from the pushed command condition,
  * runtime `_file` group filtering), the write reuses the Iceberg
  * DSv2 executor writers (field ids, hive-stripped partition
  * columns, tracked stats), and the commit publishes ONE
  * operation=overwrite snapshot swapping the group for the new
  * files ([[Iceberg.commitReplaceDsv2]]) under the append-only
  * conflict-proving retry discipline. */
private[streaming] class IcebergRowLevelOperation(dir: String,
    tableSchema: StructType, cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  private val baseV: Int = Iceberg.versions(dir).last
  private val baseSnap: Long = Iceberg.mainSnapshotId(dir)

  @volatile private var mainScan: OpenFormatBatchScan = null

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-iceberg copy-on-write $cmd on $dir @snap$baseSnap"

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(MetaCols.File))

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new OpenFormatScanBuilder((pushed, required, _) => {
      // limit forced off — see DeltaRowLevelOperation
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
      info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new Write {
      override def toBatch: BatchWrite = {
        val partCols = Iceberg.currentSpecFields(dir)
          .filter(_._2 == "identity").map(_._1)
        new IcebergReplaceBatchWrite(IcebergRowLevelOperation.this,
          dir, info.schema(), partCols)
      }
    }
  }

  /** Conjunct long ranges of the pushed group filters — the winner
    * disjointness proof's currency (empty = nothing provable = any
    * racing append conflicts; superset contract). */
  private def valueRanges: Map[String, (Long, Long)] = {
    val scan = mainScan
    if (scan == null) Map.empty
    else SqlFilters.conjunctLongRanges(scan.pushedGroupFilters)
  }

  private[streaming] def commitReplace(
      files: Seq[DeltaLog.Dsv2File]): Unit = {
    val scan = mainScan
    require(scan != null && scan.lastPlanned != null,
      s"row-level $cmd on $dir committed before its scan planned — " +
        "nothing names the rewrite group")
    val group = scan.lastPlanned
    GraftSqlSeams.recordReplace(dir,
      live = Iceberg.batchPlan(dir, baseSnap).files.size.toLong,
      removed = group.size.toLong, added = files.size.toLong)
    if (group.isEmpty && files.isEmpty) return
    Iceberg.commitReplaceDsv2(dir, baseV,
      group.map(_.path).toSet, files, valueRanges,
      s"SQL $cmd"): Unit
  }
}

/** A created-but-never-written Iceberg catalog table: reads are
  * empty, the first INSERT writes the real metadata under the
  * marker's declared spec (identity columns OR hidden transforms —
  * `PARTITIONED BY (bucket(8, k), ...)`). */
private[streaming] class PendingIcebergTable(sqlName: String,
    dir: String, declaredSchema: StructType,
    spec: Seq[(String, String)])
  extends Table with SupportsRead with SupportsWrite
  with SupportsDeleteV2 {

  private val (identitySpec, hiddenSpec) =
    spec.partition(_._2 == "identity")
  private def partCols: Seq[String] = identitySpec.map(_._1)

  override def name(): String = sqlName

  override def columns()
      : Array[org.apache.spark.sql.connector.catalog.Column] =
    declaredSchema.fields.map(f =>
      org.apache.spark.sql.connector.catalog.Column.create(
        f.name, f.dataType, f.nullable))

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import graft.functions.IcebergTransforms.{BucketRe, TruncateRe}
    spec.map {
      case (c, "identity") => Expressions.identity(c): Transform
      case (c, BucketRe(n)) => Expressions.bucket(n.toInt, c): Transform
      case (c, TruncateRe(w)) => Expressions.apply("truncate",
        Expressions.literal(w.toInt), Expressions.column(c)): Transform
      case (c, "day") => Expressions.days(c): Transform
      case (c, "month") => Expressions.months(c): Transform
      case (c, "year") => Expressions.years(c): Transform
      case (c, "hour") => Expressions.hours(c): Transform
      case (c, other) => throw new IllegalStateException(
        s"marker spec names unknown transform $other on $c")
    }.toArray
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = declaredSchema
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          Array.empty
        override def createReaderFactory(): PartitionReaderFactory =
          (_: InputPartition) => throw new IllegalStateException(
            "empty table planned no partitions")
        override def description(): String =
          s"$sqlName (created, no snapshots yet — zero rows)"
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    // the first INSERT writes the real metadata under the marker's
    // declared spec — identity OR hidden transforms — natively
    // through the DSv2 writers
    new IcebergDsv2WriteBuilder(dir, info, partCols, hiddenSpec)

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    true

  override def deleteWhere(predicates: Array[Predicate]): Unit = ()
}

/** The SQL catalogs' GATED QUERIES (q225–q231) — every statement is
  * real Spark SQL against catalog-registered table names, the surface
  * the reference's own jobs speak. Each query builds its fixture in a
  * fresh namespace of a session-scoped warehouse (always-cold by
  * design: the measured cost IS the DDL/DML path) and holds BOTH row
  * correctness (the DuckDB oracle over the same source rows) and the
  * engine behavior it demonstrates via in-query `require`s over the
  * seams — pruning, the delete-path choice, time travel, the `_file`
  * metadata column. */
object SqlCatalogQueries {
  import org.apache.spark.sql.functions.col

  private val runIds = new java.util.concurrent.atomic.AtomicLong

  /** Register (once per session) the two catalogs over a
    * session-scoped temp warehouse; returns a FRESH namespace so
    * repeated runs never collide. (Package-visible: the connector
    * gates that need a catalog arm — q243 — share the harness.) */
  private[streaming] def freshNs(spark: SparkSession,
                                 iceberg: Boolean): String = {
    val cat = if (iceberg) "graftice" else "graftsql"
    if (!spark.conf.getOption(s"spark.sql.catalog.$cat").isDefined) {
      val wh = Files.createTempDirectory(s"graft_wh_$cat").toString
      spark.conf.set(s"spark.sql.catalog.$cat",
        if (iceberg) classOf[GraftIcebergCatalog].getName
        else classOf[GraftDeltaCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    }
    val ns = s"r${runIds.incrementAndGet()}"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.$ns")
    s"$cat.$ns"
  }

  private def warehouseOf(spark: SparkSession,
                          iceberg: Boolean): String =
    spark.conf.get(
      s"spark.sql.catalog.${if (iceberg) "graftice" else "graftsql"}" +
        ".warehouse")

  /** A catalog table's REAL data directory: the entry at
    * `<warehouse>/<ns>/<name>` is a pointer object — the gates that
    * probe the log directly resolve it exactly as the catalog does. */
  private[streaming] def tableDirOf(spark: SparkSession,
                                    iceberg: Boolean,
                                    ns: String, name: String): String = {
    val entry = Paths.get(
      s"${warehouseOf(spark, iceberg)}/${ns.split('.')(1)}/$name")
    TablePointer.read(entry).map(_._1).getOrElse(entry.toString)
  }

  /** The orders subset all seven queries speak, registered as a temp
    * view for INSERT ... SELECT. */
  private def ordersView(spark: SparkSession, dir: String): String = {
    val v = s"orders_sqlcat_${runIds.incrementAndGet()}"
    graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      .createOrReplaceTempView(v)
    v
  }

  private val cols =
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice"

  /** q225 — SQL CATALOG LIFECYCLE: CREATE TABLE PARTITIONED BY,
    * two INSERT INTO ... SELECT halves, VERSION AS OF pinning the
    * first insert (in-query `require`), and a final filtered SELECT
    * whose WHERE prunes files through the catalog (seam-pinned).
    * This is the reference's own surface — Spark SQL DDL/DML over a
    * lakehouse table addressed by NAME. The WHOLE lifecycle runs
    * under [[graft.sources.ConditionalPutStore]] — object-store
    * commit semantics (no hard links, no atomic renames) for the
    * table's commits AND the catalog's own pointer-entry publish,
    * with the dirMoves seam `require`d untouched: nothing on the
    * path moved a directory. */
  def sqlLifecycle(spark: SparkSession, dir: String): DataFrame =
    graft.sources.LogStore.withStore(
        graft.sources.ConditionalPutStore) {
    val moves0 = GraftSqlSeams.dirMoves.get()
    val ns = freshNs(spark, iceberg = false)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.orders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)""")
    spark.sql(s"INSERT INTO $ns.orders SELECT $cols FROM $v " +
      "WHERE o_orderkey % 2 = 0")
    spark.sql(s"INSERT INTO $ns.orders SELECT $cols FROM $v " +
      "WHERE o_orderkey % 2 = 1")
    val evens = spark.table(v)
      .filter(col("o_orderkey") % 2 === 0).count()
    val atV1 = spark.sql(
      s"SELECT * FROM $ns.orders VERSION AS OF 1").count()
    require(atV1 == evens,
      s"VERSION AS OF 1 read $atV1 rows, first insert wrote $evens")
    val tableDir =
      tableDirOf(spark, iceberg = false, ns, "orders")
    BatchScanStats.reset(tableDir)
    val out = spark.sql(s"SELECT $cols FROM $ns.orders " +
      "WHERE o_orderstatus = 'O' ORDER BY o_orderkey")
    out.count()
    val s = BatchScanStats.statsFor(tableDir)
    require(s.live > 0 && s.pushdownKept < s.live,
      s"catalog SELECT did not prune (live ${s.live}, kept " +
        s"${s.pushdownKept})")
    require(GraftSqlSeams.dirMoves.get() == moves0,
      "the conditional-put lifecycle moved a directory")
    out
  }

  val sqlLifecycleSql: String =
    s"""SELECT $cols FROM orders WHERE o_orderstatus = 'O'
       |ORDER BY o_orderkey""".stripMargin

  /** q226 — SQL DELETE, METADATA PATH: a translatable predicate must
    * take the SupportsDeleteV2 route (DeltaLog.deleteWhere's pruned
    * deletion-vector delete — no rewrite), pinned by the
    * [[GraftSqlSeams.metadataDeletes]] counter. */
  def sqlDelete(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = false)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.orders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)""")
    spark.sql(s"INSERT INTO $ns.orders SELECT $cols FROM $v")
    val before = GraftSqlSeams.metadataDeletes.get()
    spark.sql(s"DELETE FROM $ns.orders WHERE o_orderstatus = 'F'")
    require(GraftSqlSeams.metadataDeletes.get() == before + 1,
      "a translatable SQL DELETE must take the SupportsDeleteV2 " +
        "metadata/DV path, not the copy-on-write rewrite")
    spark.sql(s"SELECT $cols FROM $ns.orders ORDER BY o_orderkey")
  }

  val sqlDeleteSql: String =
    s"""SELECT $cols FROM orders WHERE o_orderstatus <> 'F'
       |ORDER BY o_orderkey""".stripMargin

  /** q227 — SQL UPDATE, COPY-ON-WRITE with a PRUNED rewrite group:
    * the table OPTS OUT of deletion vectors
    * (`delta.enableDeletionVectors=false` — real Delta's knob,
    * honored since round 17 so legacy readers never see a silent
    * reader-3/writer-7 upgrade), which routes the UPDATE to the
    * group-based rewrite. The UPDATE's own WHERE (a partition
    * predicate) reaches the row-level scan as a group filter, so
    * only the matching partition's files are rewritten — `require`d
    * through [[GraftSqlSeams.lastReplace]] against the partition's
    * actual file count. The 100 TB shape: a one-partition UPDATE
    * rewrites that partition, not the lake. (The DV-default UPDATE
    * is q247's gate.) */
  def sqlUpdate(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = false)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.orders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)
      TBLPROPERTIES ('delta.enableDeletionVectors' = 'false')""")
    spark.sql(s"INSERT INTO $ns.orders SELECT $cols FROM $v")
    val tableDir =
      tableDirOf(spark, iceberg = false, ns, "orders")
    val fFiles = DeltaLog
      .replay(tableDir, DeltaLog.versions(tableDir).last)
      .adds.values
      .count(_.partitionValues.get("o_orderstatus").contains("F"))
    spark.sql(s"UPDATE $ns.orders SET o_totalprice = " +
      "o_totalprice + 10.0 WHERE o_orderstatus = 'F'")
    val (live, removed, added) = GraftSqlSeams.lastReplace(tableDir)
    require(removed == fFiles && removed < live && added >= 1,
      s"SQL UPDATE must rewrite only the F partition's files " +
        s"(live $live, removed $removed of $fFiles, added $added)")
    spark.sql(s"SELECT $cols FROM $ns.orders ORDER BY o_orderkey")
  }

  val sqlUpdateSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 10.0
      |       ELSE o_totalprice END AS o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q228 — SQL MERGE INTO through the catalog: target = orders with
    * keys % 3 <> 0, source = keys % 4 = 0 at doubled price; matched
    * keys update, new keys insert — Spark's own RewriteMergeIntoTable
    * against this engine's row-level operation. Since round 16 the
    * MERGE rides the POSITION-DELTA (SupportsDelta) path: per-row
    * verdicts, DV tombstones, no group rewrite (q244 pins the
    * mechanics; this gate pins the statement's results). */
  def sqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = false)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.orders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE)""")
    spark.sql(s"INSERT INTO $ns.orders SELECT $cols FROM $v " +
      "WHERE o_orderkey % 3 <> 0")
    spark.sql(
      s"""MERGE INTO $ns.orders t
         |USING (SELECT o_orderkey, o_custkey, o_orderstatus,
         |         o_totalprice * 2 AS o_totalprice
         |       FROM $v WHERE o_orderkey % 4 = 0) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(s"SELECT $cols FROM $ns.orders ORDER BY o_orderkey")
  }

  val sqlMergeSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 2
      |       ELSE o_totalprice END AS o_totalprice
      |FROM orders WHERE o_orderkey % 3 <> 0 OR o_orderkey % 4 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** q229 — SQL DELETE, row-level path: a modulo predicate no
    * metadata delete can express falls through to the row-level
    * operation — which, since round 16, is the POSITION-DELTA
    * (SupportsDelta) path: the matched rows' verdicts become
    * deletion-vector tombstones on the touched files, no survivor
    * rewrite. In-query `require`s pin the metadata counter did NOT
    * move (row-level, not metadata), the position-delta seam DID,
    * every base file is still live, and the tombstones landed as
    * DVs. At 100 TB a scattered DELETE costs kilobytes of bitmap,
    * never a rewrite. */
  def sqlCowDelete(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = false)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.orders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE)""")
    spark.sql(s"INSERT INTO $ns.orders SELECT $cols FROM $v")
    val tableDir =
      tableDirOf(spark, iceberg = false, ns, "orders")
    val st0 = graft.sources.DeltaLog
      .replay(tableDir, graft.sources.DeltaLog.versions(tableDir).last)
    val before = GraftSqlSeams.metadataDeletes.get()
    val merges0 = GraftSqlSeams.positionDeltaMerges.get()
    spark.sql(s"DELETE FROM $ns.orders WHERE o_orderkey % 10 = 0")
    require(GraftSqlSeams.metadataDeletes.get() == before,
      "an untranslatable DELETE must take the row-level path")
    require(GraftSqlSeams.positionDeltaMerges.get() == merges0 + 1,
      "the row-level DELETE must ride the position-delta path")
    val st1 = graft.sources.DeltaLog
      .replay(tableDir, graft.sources.DeltaLog.versions(tableDir).last)
    require(st0.adds.keySet.subsetOf(st1.adds.keySet),
      "a position-delta DELETE must keep every base file live")
    require(st1.adds.values.flatMap(_.dv).map(_.cardinality).sum > 0,
      "the deleted rows must be deletion-vector tombstones")
    spark.sql(s"SELECT $cols FROM $ns.orders ORDER BY o_orderkey")
  }

  val sqlCowDeleteSql: String =
    s"""SELECT $cols FROM orders WHERE o_orderkey % 10 <> 0
       |ORDER BY o_orderkey""".stripMargin

  /** q230 — the ICEBERG SQL catalog: CREATE (schema marker, reads
    * empty), INSERT creating the real metadata under the declared
    * identity spec, a second INSERT, snapshot time travel
    * (`require`), DELETE FROM via position deletes, and a pruned
    * SELECT — the same name-addressed lifecycle over the OTHER open
    * format. */
  def sqlIceberg(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = true)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.orders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)""")
    require(spark.sql(s"SELECT * FROM $ns.orders").count() == 0,
      "a created-but-never-written iceberg table must read empty")
    spark.sql(s"INSERT INTO $ns.orders SELECT $cols FROM $v " +
      "WHERE o_orderkey % 2 = 0")
    spark.sql(s"INSERT INTO $ns.orders SELECT $cols FROM $v " +
      "WHERE o_orderkey % 2 = 1")
    val tableDir =
      tableDirOf(spark, iceberg = true, ns, "orders")
    val firstSnap = Iceberg.snapshotIds(tableDir).min
    val evens = spark.table(v)
      .filter(col("o_orderkey") % 2 === 0).count()
    val atFirst = spark.sql(
      s"SELECT * FROM $ns.orders VERSION AS OF $firstSnap").count()
    require(atFirst == evens,
      s"snapshot $firstSnap read $atFirst rows, first insert " +
        s"wrote $evens")
    spark.sql(s"DELETE FROM $ns.orders WHERE o_custkey <= 30")
    spark.sql(s"SELECT $cols FROM $ns.orders " +
      "WHERE o_orderstatus = 'O' ORDER BY o_orderkey")
  }

  val sqlIcebergSql: String =
    s"""SELECT $cols FROM orders
       |WHERE o_custkey > 30 AND o_orderstatus = 'O'
       |ORDER BY o_orderkey""".stripMargin

  /** q231 — the `_file` METADATA COLUMN: rows know their data file.
    * The in-query `require` pins `count(DISTINCT _file)` to the
    * log's own live-file count; the RESULT is data-only (per-status
    * rollup) so the oracle stays machine-independent. */
  def sqlFileColumn(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = false)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.orders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)""")
    spark.sql(s"INSERT INTO $ns.orders SELECT $cols FROM $v")
    val tableDir =
      tableDirOf(spark, iceberg = false, ns, "orders")
    val liveFiles = DeltaLog
      .replay(tableDir, DeltaLog.versions(tableDir).last).adds.size
    val distinctFiles = spark.sql(
      s"SELECT count(DISTINCT _file) FROM $ns.orders")
      .head.getLong(0)
    require(distinctFiles == liveFiles,
      s"_file surfaced $distinctFiles distinct paths, the log " +
        s"holds $liveFiles live files")
    spark.sql(s"""SELECT o_orderstatus, count(*) AS n_orders
      FROM $ns.orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  val sqlFileColumnSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin
  /** q232 — ICEBERG DSV2 WRITE ROUNDTRIP (q224's twin): orders
    * lands in a fresh Iceberg table through
    * `df.write.format("graft-iceberg")` — first half partitioned by
    * status via partitionBy, second half inheriting the metadata's
    * spec — and reads back FILTERED through the batch connector. The
    * hash gate covers the whole path (executor-written field-id
    * files, hive-stripped partition columns, writer-tracked stats
    * becoming manifest bounds, the metadata CAS); the in-query
    * `require` pins that those recorded tuples/bounds PRUNE the
    * read. Always-cold by design. */
  def icebergDsv2Write(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{lit, pmod}
    val work = Files.createTempDirectory("graft_icew").toString
    val t = s"$work/orders_iceberg_dsv2"
    val o = graft.Tables.load(spark, dir, "orders")
    o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .write.format("graft-iceberg").mode("append")
      .partitionBy("o_orderstatus").save(t)
    o.filter(pmod(col("o_orderkey"), lit(2)) =!= 0)
      .write.format("graft-iceberg").mode("append").save(t)
    BatchScanStats.reset(t)
    val df = spark.read.format("graft-iceberg").option("path", t)
      .load().filter(col("o_orderstatus") === "O")
      .orderBy(col("o_orderkey"))
    df.count()
    val s = BatchScanStats.statsFor(t)
    require(s.live > 0 && s.pushdownKept < s.live,
      s"the iceberg DSv2 writer's recorded tuples/stats did not " +
        s"prune (live ${s.live}, kept ${s.pushdownKept})")
    df
  }

  val icebergDsv2WriteSql: String =
    """SELECT * FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_orderkey""".stripMargin

  /** q233 — ICEBERG SQL UPDATE, COPY-ON-WRITE: q227's twin over the
    * other format — the table pins `write.update.mode=copy-on-write`
    * (real Iceberg's routing property, honored since round 17; the
    * engine default is merge-on-read), so the rewrite group prunes
    * to the matching partition's files (identity tuple pruning from
    * the pushed condition), the commit publishes ONE overwrite
    * snapshot, and history stays time-travelable across it
    * (in-query `require`s on both). The MoR-default UPDATE is
    * q248's gate. */
  def icebergSqlUpdate(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = true)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.orders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)
      TBLPROPERTIES ('write.update.mode' = 'copy-on-write')""")
    spark.sql(s"INSERT INTO $ns.orders SELECT $cols FROM $v")
    val tableDir =
      tableDirOf(spark, iceberg = true, ns, "orders")
    val preSnap = Iceberg.snapshotIds(tableDir).max
    val fFiles = Iceberg.batchPlan(tableDir, preSnap)
      .files.count(_.pv.get("o_orderstatus").contains("F"))
    spark.sql(s"UPDATE $ns.orders SET o_totalprice = " +
      "o_totalprice + 10.0 WHERE o_orderstatus = 'F'")
    val (live, removed, added) = GraftSqlSeams.lastReplace(tableDir)
    require(removed == fFiles && removed < live && added >= 1,
      s"iceberg SQL UPDATE must rewrite only the F partition " +
        s"(live $live, removed $removed of $fFiles, added $added)")
    val preCount = spark.sql(
      s"SELECT count(*) FROM $ns.orders VERSION AS OF $preSnap")
      .head.getLong(0)
    val postCount = spark.sql(s"SELECT count(*) FROM $ns.orders")
      .head.getLong(0)
    require(preCount == postCount,
      s"the COW overwrite snapshot changed the row count " +
        s"($preCount -> $postCount)")
    spark.sql(s"SELECT $cols FROM $ns.orders ORDER BY o_orderkey")
  }

  val icebergSqlUpdateSql: String = sqlUpdateSql

  /** q234 — ICEBERG SQL MERGE INTO: q228's twin. Since round 16 the
    * MERGE rides the MERGE-ON-READ (position-delta) path: one v2
    * snapshot carrying a position-delete manifest + the new data
    * manifest, zero rewrites (q246 pins the mechanics; this gate
    * pins the statement's results). */
  def icebergSqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = true)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.orders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE)""")
    spark.sql(s"INSERT INTO $ns.orders SELECT $cols FROM $v " +
      "WHERE o_orderkey % 3 <> 0")
    spark.sql(
      s"""MERGE INTO $ns.orders t
         |USING (SELECT o_orderkey, o_custkey, o_orderstatus,
         |         o_totalprice * 2 AS o_totalprice
         |       FROM $v WHERE o_orderkey % 4 = 0) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(s"SELECT $cols FROM $ns.orders ORDER BY o_orderkey")
  }

  val icebergSqlMergeSql: String = sqlMergeSql
  /** q235 — ATOMIC CTAS / RTAS, OBJECT-STORE SAFE: `CREATE TABLE
    * ... AS SELECT` stages into a hidden `.tbl-` directory and
    * publishes by ONE pointer-object claim through the LogStore
    * seam (StagingTableCatalog + [[TablePointer]] — the staged
    * directory never moves), then `REPLACE TABLE ... AS SELECT`
    * swaps the whole table — schema change included — by ONE
    * whole-object repoint, garbage-collecting the previous home.
    * The whole statement pair runs under
    * [[graft.sources.ConditionalPutStore]] (no hard links, no
    * atomic renames — S3 semantics). The in-query `require`s pin
    * the publish shape: the catalog entry is a pointer FILE, the
    * replaced CTAS home was GC'd (exactly one referenced `.tbl-`
    * home remains), zero directory moves, and the replaced table's
    * reads come entirely from the new snapshot. */
  def sqlCtas(spark: SparkSession, dir: String): DataFrame =
    graft.sources.LogStore.withStore(
        graft.sources.ConditionalPutStore) {
    val moves0 = GraftSqlSeams.dirMoves.get()
    val ns = freshNs(spark, iceberg = false)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.big_orders AS
      SELECT $cols FROM $v WHERE o_totalprice > 100000""")
    spark.sql(s"""REPLACE TABLE $ns.big_orders AS
      SELECT o_orderkey, o_orderstatus FROM $v
      WHERE o_totalprice > 200000""")
    val whDir = new java.io.File(
      s"${warehouseOf(spark, iceberg = false)}/${ns.split('.')(1)}")
    val entry = new java.io.File(whDir, "big_orders")
    require(entry.isFile &&
        TablePointer.read(entry.toPath).isDefined,
      "CTAS/RTAS must publish a pointer entry, not move a directory")
    val referenced = TablePointer.read(entry.toPath).get._1
    val homes = Option(whDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(".tbl-big_orders"))
    require(homes.length == 1 && homes.head.getPath == referenced,
      s"RTAS must GC the replaced home and reference the new one " +
        s"(found ${homes.map(_.getName).toSeq}, pointer $referenced)")
    require(GraftSqlSeams.dirMoves.get() == moves0,
      "the CTAS/RTAS publish path moved a directory")
    val out = spark.sql(
      s"SELECT o_orderkey, o_orderstatus FROM $ns.big_orders " +
        "ORDER BY o_orderkey")
    require(out.columns.toSeq == Seq("o_orderkey", "o_orderstatus"),
      "REPLACE TABLE did not swap the schema")
    out
  }

  val sqlCtasSql: String =
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE o_totalprice > 200000 ORDER BY o_orderkey""".stripMargin
  /** q236 — SQL MAINTENANCE PROCEDURES: the `CALL cat.system.*`
    * surface over a catalog table — `optimize` compacts the
    * small-file pileup (in-query `require`: files_after <
    * files_before), `vacuum` deletes the unreferenced pre-compaction
    * files (`require`: deleted ≥ 1), and the rows survive both,
    * hash-checked against the oracle. At 100 TB this is the
    * operational loop that keeps a streaming-ingest table readable —
    * now one SQL statement instead of a library call. */
  def sqlProcedures(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = false)
    val nsOnly = ns.split('.')(1)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.orders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE)""")
    (0 until 4).foreach(i =>
      spark.sql(s"INSERT INTO $ns.orders SELECT $cols FROM $v " +
        s"WHERE o_orderkey % 4 = $i"))
    val opt = spark.sql(
      s"CALL graftsql.system.optimize(table => '$nsOnly.orders')")
      .collect().head
    require(opt.getLong(2) < opt.getLong(1),
      s"optimize did not compact (${opt.getLong(1)} -> " +
        s"${opt.getLong(2)} files)")
    val vac = spark.sql(s"CALL graftsql.system.vacuum(" +
      s"table => '$nsOnly.orders', keep_versions => 1)")
      .collect().head
    require(vac.getLong(0) >= 1,
      "vacuum deleted no pre-compaction files")
    spark.sql(s"SELECT $cols FROM $ns.orders ORDER BY o_orderkey")
  }

  val sqlProceduresSql: String =
    s"""SELECT $cols FROM orders ORDER BY o_orderkey""".stripMargin
  /** q237 — NATIVE STREAMING SINK, EXACTLY-ONCE: orders streams
    * source→sink through `writeStream.format("graft-delta")` (the
    * DSv2 StreamingWrite whose every epoch commits under a txn
    * watermark), in TWO AvailableNow drains against one checkpoint
    * with a source append in between; a THIRD drain with no new data
    * must land nothing (in-query `require` — the exactly-once seam),
    * and the sink's rows hash-check against the plain orders oracle.
    * This is the reference's bronze-ingest shape
    * (spark/streaming_bronze.py writes `.format("delta")` from a
    * stream) on this engine's own log, no foreachBatch. */
  def streamingSink(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.pmod
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.streaming.Trigger
    val work = Files.createTempDirectory("graft_ssink").toString
    val src = s"$work/src"
    val dst = s"$work/dst"
    val o = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    DeltaLog.commitAppend(
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0), src)
    def drain(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("path", src).load()
        .writeStream.format("graft-delta")
        .option("path", dst)
        .option("checkpointLocation", s"$work/cp")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000): Unit
    }
    drain()
    DeltaLog.commitAppend(
      o.filter(pmod(col("o_orderkey"), lit(2)) =!= 0), src)
    drain()
    val afterTwo = DeltaLog.versions(dst).last
    drain() // no new data: the txn watermark must land NOTHING
    require(DeltaLog.versions(dst).last == afterTwo,
      "an empty re-drain committed to the sink — the exactly-once " +
        "watermark failed")
    spark.read.format("graft-delta").option("path", dst).load()
      .orderBy(col("o_orderkey"))
  }

  val streamingSinkSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q238 — SQL `OPTIMIZE ... ZORDER BY` (`CALL
    * graftsql.system.optimize_zorder`): re-cluster a catalog table
    * on the Morton interleave of (o_custkey, o_orderkey), then read
    * a 2-D box through the catalog. In-query `require`s pin the
    * whole contract: the commit classifies as OPTIMIZE (remove+add
    * all dataChange=false — same rows, new layout), blooms were
    * backfilled on the new files, and the box SELECT prunes files
    * through the refreshed min/max stats in BOTH dimensions — the
    * one-statement operational loop that keeps multi-dimensional
    * point/range lookups cheap on a 100 TB fact table. */
  def sqlOptimizeZorder(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = false)
    val nsOnly = ns.split('.')(1)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.orders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE)""")
    spark.sql(s"INSERT INTO $ns.orders SELECT $cols FROM $v")
    // declare the bloomed lookup column: the zorder pass backfills
    // sidecars for its re-clustered files
    spark.sql(s"ALTER TABLE $ns.orders SET TBLPROPERTIES " +
      s"('${DeltaLog.BloomColsProp}' = 'o_orderkey')")
    val r = spark.sql(s"CALL graftsql.system.optimize_zorder(" +
      s"table => '$nsOnly.orders', " +
      "columns => 'o_custkey,o_orderkey', target_files => 16)")
      .collect().head
    require(r.getLong(2) >= 2 && r.getLong(3) >= 1,
      s"optimize_zorder landed ${r.getLong(2)} files, bloomed " +
        s"${r.getLong(3)}")
    val tableDir = tableDirOf(spark, iceberg = false, ns, "orders")
    val lastOp = DeltaLog.history(spark, tableDir)
      .orderBy(col("version").desc).head.getString(1)
    require(lastOp == "OPTIMIZE",
      s"the z-order commit classified as $lastOp — it must be a " +
        "dataChange=false OPTIMIZE")
    BatchScanStats.reset(tableDir)
    val out = spark.sql(s"SELECT $cols FROM $ns.orders " +
      "WHERE o_custkey BETWEEN 50 AND 120 " +
      "AND o_orderkey BETWEEN 100 AND 20000 ORDER BY o_orderkey")
    out.count()
    val s = BatchScanStats.statsFor(tableDir)
    require(s.live >= 4 && s.pushdownKept < s.live,
      s"the z-ordered layout did not prune the 2-D box " +
        s"(live ${s.live}, kept ${s.pushdownKept})")
    out
  }

  val sqlOptimizeZorderSql: String =
    s"""SELECT $cols FROM orders
       |WHERE o_custkey BETWEEN 50 AND 120
       |  AND o_orderkey BETWEEN 100 AND 20000
       |ORDER BY o_orderkey""".stripMargin

  /** q239 — PARTITIONED STREAMING SINK INTO THE SQL CATALOG:
    * `writeStream ... .toTable("cat.ns.t")` against a
    * status-partitioned catalog table — the native exactly-once
    * DSv2 sink landing IDENTITY-PARTITIONED adds by table NAME
    * (q237's shape promoted through the catalog + partitioning).
    * Two AvailableNow drains with a source append between; a third
    * empty drain must commit NOTHING (epoch watermark), a PLANTED
    * epoch replay must be invisible (the idempotent commit returns
    * None the second time), and every streamed add must carry its
    * partition values — `require`d in-query. */
  def streamingSinkPartitioned(spark: SparkSession,
                               dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{lit, pmod}
    import org.apache.spark.sql.streaming.Trigger
    val ns = freshNs(spark, iceberg = false)
    spark.sql(s"""CREATE TABLE $ns.osink (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)""")
    val work = Files.createTempDirectory("graft_psinkq").toString
    val src = s"$work/src"
    val o = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    DeltaLog.commitAppend(
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0), src)
    def drain(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("path", src).load()
        .writeStream
        .option("checkpointLocation", s"$work/cp")
        .trigger(Trigger.AvailableNow()).toTable(s"$ns.osink")
      q.awaitTermination(120000): Unit
    }
    drain()
    DeltaLog.commitAppend(
      o.filter(pmod(col("o_orderkey"), lit(2)) =!= 0), src)
    drain()
    val tableDir = tableDirOf(spark, iceberg = false, ns, "osink")
    val afterTwo = DeltaLog.versions(tableDir).last
    drain() // no new data: the epoch watermark must land NOTHING
    require(DeltaLog.versions(tableDir).last == afterTwo,
      "an empty re-drain committed to the catalog sink")
    val st = DeltaLog.replay(tableDir, afterTwo)
    require(st.partitionColumns == Seq("o_orderstatus") &&
        st.adds.values.forall(_.partitionValues.contains("o_orderstatus")),
      "streamed adds must land identity-partitioned")
    // planted epoch replay: the same (appId, epoch) commits once
    val first = DeltaLog.commitDsv2Idempotent(spark, tableDir,
      st.schema, st.partitionColumns, Seq.empty, "q239-replay", 99L)
    val replay = DeltaLog.commitDsv2Idempotent(spark, tableDir,
      st.schema, st.partitionColumns, Seq.empty, "q239-replay", 99L)
    require(first.isDefined && replay.isEmpty,
      s"planted epoch replay was visible (first $first, " +
        s"replay $replay)")
    spark.sql(s"SELECT $cols FROM $ns.osink ORDER BY o_orderkey")
  }

  val streamingSinkPartitionedSql: String = streamingSinkSql

  /** q240 — NATIVE DSv2 WRITES UNDER A HIDDEN TRANSFORM SPEC: a
    * `bucket[8](o_custkey)` table takes one third of orders through
    * each write surface — the library DataFrame committer (which
    * mints the spec), `df.write.format("graft-iceberg")` (the DSv2
    * executor writers deriving the tuple with the same murmur3
    * scalars), and SQL `INSERT INTO` through the catalog (no V1
    * bridge left) — then a point predicate on the RAW customer key
    * reads back through the DSv2 batch connector, PRUNED to the
    * probe key's bucket by the optimizer-derived tuple predicate.
    * In-query `require`s: every live file's manifest tuple carries
    * `o_custkey_bucket`, and files kept < live. The 100 TB shape:
    * point lookups on a bucket-clustered fact touch one bucket's
    * files regardless of which surface wrote them. */
  def icebergHiddenDsv2Write(spark: SparkSession,
                             dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{lit, pmod}
    val work = Files.createTempDirectory("graft_hidw").toString
    val t = s"$work/orders_bucket"
    val o = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    Iceberg.commitAppendHidden(
      o.filter(pmod(col("o_orderkey"), lit(3)) === 0), t,
      Seq("o_custkey" -> "bucket[8]"))
    o.filter(pmod(col("o_orderkey"), lit(3)) === 1)
      .write.format("graft-iceberg").mode("append").save(t)
    val ns = freshNs(spark, iceberg = true)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.bkt (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE) LOCATION '$t'""")
    spark.sql(s"INSERT INTO $ns.bkt SELECT $cols FROM $v " +
      "WHERE o_orderkey % 3 = 2")
    val snap = Iceberg.snapshotIds(t).max
    val files = Iceberg.batchPlan(t, snap).files
    require(files.nonEmpty &&
        files.forall(_.pv.contains("o_custkey_bucket")),
      "every write surface must land typed o_custkey_bucket tuples")
    val probe = Iceberg.BucketProbeCustkey
    BatchScanStats.reset(t)
    val out = spark.read.format("graft-iceberg").option("path", t)
      .load().filter(col("o_custkey") === probe)
      .orderBy(col("o_orderkey"))
    out.count()
    val s = BatchScanStats.statsFor(t)
    require(s.live >= 8 && s.pushdownKept < s.live,
      s"the derived bucket predicate did not prune " +
        s"(live ${s.live}, kept ${s.pushdownKept})")
    out
  }

  val icebergHiddenDsv2WriteSql: String =
    s"""SELECT $cols FROM orders
       |WHERE o_custkey = ${Iceberg.BucketProbeCustkey}
       |ORDER BY o_orderkey""".stripMargin

  /** q241 — DECIMAL(10,2) END-TO-END: money-typed columns through
    * the DSv2 writer (unscaled bounds tracked while writing,
    * re-spelled as scaled decimal numbers in `add.stats` — the
    * foreign-readable form), the batch scan's pruning ladder (a
    * decimal range predicate converts to unscaled space and drops
    * price bands the bounds provably miss — `require`d kept < live),
    * and SQL UPDATE (the copy-on-write rewrite group pruned by the
    * same decimal bounds — `require`d removed < live). Decimal
    * min/max was the one stats type the ladder had not proven; at
    * 100 TB money predicates are the most common range filters a
    * warehouse sees. */
  def decimalStats(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = false)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.dorders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DECIMAL(10,2)) TBLPROPERTIES (
      'delta.enableDeletionVectors' = 'false')""")
    // three price bands = three commits, so decimal bounds have
    // something to prune between
    val dcols = "o_orderkey, o_custkey, o_orderstatus, " +
      "CAST(o_totalprice AS DECIMAL(10,2))"
    spark.sql(s"INSERT INTO $ns.dorders SELECT $dcols FROM $v " +
      "WHERE o_totalprice < 50000")
    spark.sql(s"INSERT INTO $ns.dorders SELECT $dcols FROM $v " +
      "WHERE o_totalprice >= 50000 AND o_totalprice < 150000")
    spark.sql(s"INSERT INTO $ns.dorders SELECT $dcols FROM $v " +
      "WHERE o_totalprice >= 150000")
    val tableDir = tableDirOf(spark, iceberg = false, ns, "dorders")
    BatchScanStats.reset(tableDir)
    val big = spark.sql(s"SELECT count(*) FROM $ns.dorders " +
      "WHERE o_totalprice > 250000.00").head.getLong(0)
    require(big > 0, "the top price band is empty — bad fixture")
    val s = BatchScanStats.statsFor(tableDir)
    require(s.live >= 3 && s.pushdownKept < s.live,
      s"decimal bounds did not prune the price bands " +
        s"(live ${s.live}, kept ${s.pushdownKept})")
    val liveFiles = DeltaLog
      .replay(tableDir, DeltaLog.versions(tableDir).last).adds.size
    spark.sql(s"UPDATE $ns.dorders SET o_totalprice = " +
      "o_totalprice + 1.00 WHERE o_totalprice > 250000.00")
    val (live, removed, added) = GraftSqlSeams.lastReplace(tableDir)
    require(live.toInt == liveFiles && removed < live && added >= 1,
      s"the decimal-pruned rewrite group must exclude the low " +
        s"bands (live $live, removed $removed, added $added)")
    // result surfaces the money column as DOUBLE: the oracle compare
    // hashes typed encodings and DuckDB's decimal decays to float64 —
    // the DECIMAL machinery under test all happened above
    spark.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus, " +
      s"CAST(o_totalprice AS DOUBLE) AS o_totalprice " +
      s"FROM $ns.dorders ORDER BY o_orderkey")
  }

  /** q242 — CDF FROM SQL DML: a `delta.enableChangeDataFeed=true`
    * table takes SQL UPDATE then SQL MERGE through Spark's own
    * rewrite planning — since round 17 BOTH ride the default
    * position-delta path, whose per-row verdicts stamp exact cdc
    * actions (update_preimage/postimage for the UPDATE; exact
    * three-tag MERGE with no key pairing needed). The result is the
    * CDF read over both commits, hash-checked against the oracle's
    * re-derived change set; the in-query `require` pins that the
    * MERGE's commit carries all three change types (a net-changes
    * fallback would spell delete+insert and fail it). The
    * copy-on-write derivation (cowChangeActions: multiset diff +
    * declared-key pairing) keeps its own coverage through the
    * opt-out gates — q227/q241 for UPDATE and SqlCatalogSpec's
    * "SQL COW DML derives CDF" for the keyed MERGE. */
  def sqlCdfDml(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = false)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.corders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE) TBLPROPERTIES (
      'delta.enableChangeDataFeed' = 'true',
      '${DeltaLog.CdfKeyColsProp}' = 'o_orderkey')""")
    spark.sql(s"INSERT INTO $ns.corders SELECT $cols FROM $v")
    spark.sql(s"UPDATE $ns.corders SET o_totalprice = " +
      "o_totalprice + 5.0 WHERE o_orderkey % 10 = 0")
    val cordersDir = tableDirOf(spark, iceberg = false, ns, "corders")
    spark.sql(
      s"""MERGE INTO $ns.corders t USING (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         -1.0 AS o_totalprice
         |  FROM $v WHERE o_orderkey % 7 = 3
         |  UNION ALL
         |  SELECT o_orderkey + 1000000000, o_custkey, 'N', -2.0
         |  FROM $v WHERE o_orderkey % 7 = 3) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val ch = DeltaLog.readChanges(spark, cordersDir, 2L, 3L)
    val v3types = ch.filter(col("_commit_version") === 3)
      .select("_change_type").distinct()
      .collect().map(_.getString(0)).toSet
    require(v3types ==
        Set("update_preimage", "update_postimage", "insert"),
      s"the MERGE's cdc must carry exact tags, got $v3types")
    ch.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        col("_change_type"), col("_commit_version"))
      .orderBy(col("_commit_version"), col("_change_type"),
        col("o_orderkey"))
  }

  val sqlCdfDmlSql: String =
    """WITH v AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |  FROM orders),
      |upd AS (SELECT * FROM v WHERE o_orderkey % 10 = 0),
      |s2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 5.0
      |       ELSE o_totalprice END AS o_totalprice FROM v),
      |m AS (SELECT * FROM s2 WHERE o_orderkey % 7 = 3)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  'update_preimage' AS _change_type,
      |  CAST(2 AS BIGINT) AS _commit_version FROM upd
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  o_totalprice + 5.0, 'update_postimage', CAST(2 AS BIGINT)
      |FROM upd
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  'update_preimage', CAST(3 AS BIGINT) FROM m
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, -1.0,
      |  'update_postimage', CAST(3 AS BIGINT) FROM m
      |UNION ALL
      |SELECT o_orderkey + 1000000000, o_custkey, 'N', -2.0,
      |  'insert', CAST(3 AS BIGINT) FROM v WHERE o_orderkey % 7 = 3
      |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin

  val decimalStatsSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CAST(CAST(CASE
      |    WHEN CAST(o_totalprice AS DECIMAL(10,2)) > 250000.00
      |    THEN CAST(o_totalprice AS DECIMAL(10,2)) + 1.00
      |    ELSE CAST(o_totalprice AS DECIMAL(10,2))
      |  END AS DECIMAL(10,2)) AS DOUBLE) AS o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q244 — POSITION-DELTA SQL MERGE (SupportsDelta): a mixed
    * update+insert+delete MERGE on a CDF table with NO declared
    * `graft.cdf.keyColumns` — the tags are EXACT anyway, because the
    * merge's own per-row verdicts classify each row (no key pairing,
    * no net-changes fallback, no rewrite diff). In-query `require`s
    * pin the engine shape: (a) the [[GraftSqlSeams
    * .positionDeltaMerges]] seam moved — MERGE rode the
    * SupportsDelta path, not a COW rewrite; (b) every base file is
    * still live at the same path and the matched rows became
    * DELETION-VECTOR tombstones — a MERGE touching 1% of a 100 TB
    * table writes ~1% new rows plus kilobytes of bitmap, never a
    * group rewrite; (c) the cdc actions carry all four exact tags.
    * Oracle re-derives the change set relationally. */
  def sqlMergeDelta(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = false)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.morders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE) TBLPROPERTIES (
      'delta.enableChangeDataFeed' = 'true')""")
    spark.sql(s"INSERT INTO $ns.morders SELECT $cols FROM $v")
    val mDir = tableDirOf(spark, iceberg = false, ns, "morders")
    val adds0 = graft.sources.DeltaLog
      .replay(mDir, graft.sources.DeltaLog.versions(mDir).last)
      .adds.keySet
    val merges0 = GraftSqlSeams.positionDeltaMerges.get()
    spark.sql(
      s"""MERGE INTO $ns.morders t USING (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         -1.0 AS o_totalprice
         |  FROM $v WHERE o_orderkey % 9 = 4
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         o_totalprice + 7.0
         |  FROM $v WHERE o_orderkey % 9 = 1
         |  UNION ALL
         |  SELECT o_orderkey + 2000000000, o_custkey, 'N', -2.0
         |  FROM $v WHERE o_orderkey % 9 = 1) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND s.o_totalprice < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    require(GraftSqlSeams.positionDeltaMerges.get() == merges0 + 1,
      "MERGE did not ride the position-delta (SupportsDelta) path")
    val st = graft.sources.DeltaLog
      .replay(mDir, graft.sources.DeltaLog.versions(mDir).last)
    require(adds0.subsetOf(st.adds.keySet),
      "position-delta MERGE must keep every base file live (no " +
        "copy-on-write rewrite)")
    val tombstoned = st.adds.view.filterKeys(adds0)
      .values.flatMap(_.dv).map(_.cardinality).sum
    require(tombstoned > 0,
      "matched rows must be deletion-vector tombstones")
    val ch = DeltaLog.readChanges(spark, mDir, 2L, 2L)
    val types = ch.select("_change_type").distinct()
      .collect().map(_.getString(0)).toSet
    require(types == Set("delete", "update_preimage",
        "update_postimage", "insert"),
      s"exact tags expected without declared keys, got $types")
    ch.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        col("_change_type"))
      .orderBy(col("_change_type"), col("o_orderkey"))
  }

  /** q249 — CDF THROUGH A SQL TABLE FUNCTION (round 17):
    * `delta_changes(path, from[, to])` — the `table_changes`
    * spelling real Delta users audit CDC with — over a catalog table
    * whose change history came entirely from position-delta SQL DML:
    * INSERT (v1, insert rows derived from the adds), a scattered
    * UPDATE (v2 — DV tombstones + exact pre/post pairs), an
    * untranslatable DELETE (v3 — position-delta tombstones). The TVF
    * serves the full row-level change set by PATH in plain SQL; the
    * in-query `require`s pin the bounded two-arg read (only v2's
    * pairs) and that the DML stayed on the position-delta path. */
  def sqlTableChanges(spark: SparkSession, dir: String): DataFrame = {
    graft.extensions.GraftExtensions.registerTableFunctions(spark)
    val ns = freshNs(spark, iceberg = false)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.tc (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE) TBLPROPERTIES (
      'delta.enableChangeDataFeed' = 'true')""")
    spark.sql(s"INSERT INTO $ns.tc SELECT $cols FROM $v")
    val merges0 = GraftSqlSeams.positionDeltaMerges.get()
    spark.sql(s"UPDATE $ns.tc SET o_totalprice = " +
      "o_totalprice + 3.0 WHERE o_orderkey % 11 = 5")
    spark.sql(s"DELETE FROM $ns.tc WHERE o_orderkey % 13 = 3")
    require(GraftSqlSeams.positionDeltaMerges.get() == merges0 + 2,
      "UPDATE and DELETE must both ride the position-delta path")
    val tcDir = tableDirOf(spark, iceberg = false, ns, "tc")
    val updPairs = spark.sql(
      s"SELECT count(*) FROM delta_changes('$tcDir', 2, 2)")
      .head.getLong(0)
    val updRows = spark.table(v)
      .filter(col("o_orderkey") % 11 === 5).count()
    require(updPairs == 2 * updRows,
      s"bounded delta_changes(2,2) must hold exactly the UPDATE's " +
        s"pre/post pairs ($updPairs vs 2x$updRows)")
    spark.sql(
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |  _change_type, _commit_version
         |FROM delta_changes('$tcDir', 1)
         |ORDER BY _commit_version, _change_type, o_orderkey"""
        .stripMargin)
  }

  val sqlTableChangesSql: String =
    """WITH v AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |  FROM orders),
      |upd AS (SELECT * FROM v WHERE o_orderkey % 11 = 5),
      |s2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 11 = 5 THEN o_totalprice + 3.0
      |       ELSE o_totalprice END AS o_totalprice FROM v),
      |del AS (SELECT * FROM s2 WHERE o_orderkey % 13 = 3)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
      |FROM v
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  'update_preimage', CAST(2 AS BIGINT) FROM upd
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  o_totalprice + 3.0, 'update_postimage', CAST(2 AS BIGINT)
      |FROM upd
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  'delete', CAST(3 AS BIGINT) FROM del
      |ORDER BY _commit_version, _change_type, o_orderkey"""
      .stripMargin

  /** q245 — STORAGE-PARTITIONED JOIN OVER HIDDEN BUCKET SPECS: two
    * catalog tables created `PARTITIONED BY (bucket(8, o_orderkey))`
    * and filled through the native hidden-spec DSv2 writer join ON
    * THE BUCKET SOURCE COLUMN with ZERO exchanges: each scan reports
    * `KeyGroupedPartitioning(bucket(8, o_orderkey))`, the catalog's
    * `system.bucket` function (the writer's own Murmur3) resolves
    * both sides to one canonical transform, and EnsureRequirements
    * plans the join at file-group granularity — the q222 shape
    * extended from identity partitions to hidden transforms. The
    * in-query `require` pins the exchange-free executed plan; the
    * oracle pins row correctness (and holds with the conf off —
    * the fallback is an ordinary shuffle join, never wrong rows).
    * At 100 TB: two bucket-co-located lake tables join with zero
    * network. */
  def sqlBucketSpj(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = true)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.bo (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE) PARTITIONED BY (bucket(8, o_orderkey))""")
    spark.sql(s"INSERT INTO $ns.bo SELECT $cols FROM $v")
    spark.sql(s"""CREATE TABLE $ns.bp (
      o_orderkey BIGINT, dbl DOUBLE)
      PARTITIONED BY (bucket(8, o_orderkey))""")
    spark.sql(s"INSERT INTO $ns.bp SELECT o_orderkey, " +
      s"o_totalprice * 2 FROM $v WHERE o_orderkey % 3 = 0")
    def joined() = spark.sql(
      s"""SELECT a.o_orderkey, a.o_custkey, a.o_orderstatus,
         |  a.o_totalprice, b.dbl
         |FROM $ns.bo a JOIN $ns.bp b
         |ON a.o_orderkey = b.o_orderkey""".stripMargin)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (c, _) =>
      c -> scala.util.Try(spark.conf.get(c)).toOption }
    confs.foreach { case (c, x) => spark.conf.set(c, x) }
    try {
      val probe = joined()
      probe.count()
      val plan = probe.queryExecution.executedPlan.toString()
      require(!plan.contains("Exchange"),
        s"hidden-bucket SPJ still shuffled:\n$plan")
    } finally saved.foreach {
      case (c, Some(x)) => spark.conf.set(c, x)
      case (c, None) => spark.conf.unset(c)
    }
    joined().orderBy(col("o_orderkey"))
  }

  val sqlBucketSpjSql: String =
    """SELECT a.o_orderkey, a.o_custkey, a.o_orderstatus,
      |  a.o_totalprice, a.o_totalprice * 2 AS dbl
      |FROM orders a WHERE a.o_orderkey % 3 = 0
      |ORDER BY a.o_orderkey""".stripMargin

  /** q246 — ICEBERG POSITION-DELTA MERGE (merge-on-read): the q244
    * statement on the OTHER format — SQL MERGE on an Iceberg catalog
    * table commits real Iceberg's MoR wire: ONE v2 snapshot
    * (operation=overwrite) carrying a POSITION-DELETE manifest
    * (content=1, explicit (file, pos) targets at the spec's reserved
    * field ids) plus the new data manifest, no data file rewritten.
    * In-query `require`s pin: (a) the position-delta seam moved —
    * not the COW rewrite; (b) every pre-merge data file is still
    * live in the merged snapshot; (c) the snapshot carries position
    * deletes; (d) the connector read equals the library MoR read.
    * Oracle re-derives all three arms relationally. At 100 TB a
    * 1%-match MERGE writes ~1% new rows + an O(changed rows) delete
    * file — never a rewrite; `rewrite_data_files` reclaims the MoR
    * debt on the maintenance cadence. */
  def sqlIcebergMergeDelta(spark: SparkSession, dir: String)
      : DataFrame = {
    val ns = freshNs(spark, iceberg = true)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.imrg (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE)""")
    spark.sql(s"INSERT INTO $ns.imrg SELECT $cols FROM $v")
    val tdir = tableDirOf(spark, iceberg = true, ns, "imrg")
    val files0 = Iceberg
      .batchPlan(tdir, Iceberg.mainSnapshotId(tdir))
      .files.map(_.path).toSet
    val merges0 = GraftSqlSeams.positionDeltaMerges.get()
    spark.sql(
      s"""MERGE INTO $ns.imrg t USING (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         -1.0 AS o_totalprice
         |  FROM $v WHERE o_orderkey % 9 = 4
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         o_totalprice + 7.0
         |  FROM $v WHERE o_orderkey % 9 = 1
         |  UNION ALL
         |  SELECT o_orderkey + 2000000000, o_custkey, 'N', -2.0
         |  FROM $v WHERE o_orderkey % 9 = 1) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND s.o_totalprice < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    require(GraftSqlSeams.positionDeltaMerges.get() == merges0 + 1,
      "Iceberg MERGE did not ride the position-delta path")
    val plan2 = Iceberg
      .batchPlan(tdir, Iceberg.mainSnapshotId(tdir))
    require(files0.subsetOf(plan2.files.map(_.path).toSet),
      "position-delta MERGE must keep every base data file live " +
        "(no copy-on-write rewrite)")
    require(plan2.posDeleteFiles.nonEmpty,
      "the merged snapshot must carry POSITION deletes — the MoR " +
        "currency a foreign Iceberg reader applies")
    val out = spark.sql(s"SELECT * FROM $ns.imrg")
    val n = out.count()
    val lib = Iceberg.read(spark, tdir).count()
    require(n == lib, s"connector read $n rows, library MoR $lib")
    out.orderBy(col("o_orderkey"))
  }

  /** q247 — POSITION-DELTA SQL UPDATE (round 17): the r16 verdict's
    * top item. A scattered, unprunable UPDATE (`o_orderkey % 7 = 3`
    * — no partition, no stats range can prune it) rides the SAME
    * SupportsDelta operation MERGE does: per-row update verdicts,
    * updated positions tombstoned as deletion vectors on the touched
    * files, updated rows written to NEW files — zero base files
    * rewritten. In-query `require`s pin: the position-delta seam
    * moved, every base file is still live, DV tombstones exist, and
    * the CDF carries EXACTLY update_preimage/update_postimage (no
    * declared keys, no rewrite diffing — the verdicts decide). At
    * 100 TB a 1%-scattered UPDATE costs ~1% new bytes + kilobytes
    * of bitmap where copy-on-write rewrites every touched group. */
  def sqlUpdateDelta(spark: SparkSession, dir: String): DataFrame = {
    val ns = freshNs(spark, iceberg = false)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.uorders (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE) TBLPROPERTIES (
      'delta.enableChangeDataFeed' = 'true')""")
    spark.sql(s"INSERT INTO $ns.uorders SELECT $cols FROM $v")
    val uDir = tableDirOf(spark, iceberg = false, ns, "uorders")
    val adds0 = graft.sources.DeltaLog
      .replay(uDir, graft.sources.DeltaLog.versions(uDir).last)
      .adds.keySet
    val merges0 = GraftSqlSeams.positionDeltaMerges.get()
    spark.sql(s"UPDATE $ns.uorders SET o_totalprice = " +
      "o_totalprice + 5.0 WHERE o_orderkey % 7 = 3")
    require(GraftSqlSeams.positionDeltaMerges.get() == merges0 + 1,
      "UPDATE did not ride the position-delta (SupportsDelta) path")
    val st = graft.sources.DeltaLog
      .replay(uDir, graft.sources.DeltaLog.versions(uDir).last)
    require(adds0.subsetOf(st.adds.keySet),
      "position-delta UPDATE must keep every base file live (no " +
        "copy-on-write rewrite)")
    val tombstoned = st.adds.view.filterKeys(adds0)
      .values.flatMap(_.dv).map(_.cardinality).sum
    require(tombstoned > 0,
      "updated rows must be deletion-vector tombstones")
    val ch = DeltaLog.readChanges(spark, uDir, 2L, 2L)
    val types = ch.select("_change_type").distinct()
      .collect().map(_.getString(0)).toSet
    require(types == Set("update_preimage", "update_postimage"),
      s"an UPDATE's CDF must be exact pre/post pairs, got $types")
    ch.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        col("_change_type"))
      .orderBy(col("_change_type"), col("o_orderkey"))
  }

  val sqlUpdateDeltaSql: String =
    """WITH upd AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 7 = 3)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  'update_preimage' AS _change_type FROM upd
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  o_totalprice + 5.0, 'update_postimage' FROM upd
      |ORDER BY _change_type, o_orderkey""".stripMargin

  /** q248 — ICEBERG MERGE-ON-READ SQL UPDATE: q247 on the other
    * format — the scattered UPDATE commits real Iceberg's MoR wire:
    * ONE v2 snapshot (operation=overwrite) carrying a
    * position-delete manifest tombstoning the updated positions plus
    * the new data manifest holding the updated rows; zero data files
    * rewritten, foreign-reader-applicable. In-query `require`s pin
    * the seam, every base file live, position deletes present, and
    * connector ≡ library MoR count. (`write.update.mode` honored:
    * q233 pins the copy-on-write opt-out.) */
  def sqlIcebergUpdateMor(spark: SparkSession, dir: String)
      : DataFrame = {
    val ns = freshNs(spark, iceberg = true)
    val v = ordersView(spark, dir)
    spark.sql(s"""CREATE TABLE $ns.iupd (
      o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
      o_totalprice DOUBLE)""")
    spark.sql(s"INSERT INTO $ns.iupd SELECT $cols FROM $v")
    val tdir = tableDirOf(spark, iceberg = true, ns, "iupd")
    val files0 = Iceberg
      .batchPlan(tdir, Iceberg.mainSnapshotId(tdir))
      .files.map(_.path).toSet
    val merges0 = GraftSqlSeams.positionDeltaMerges.get()
    spark.sql(s"UPDATE $ns.iupd SET o_totalprice = " +
      "o_totalprice + 5.0 WHERE o_orderkey % 7 = 3")
    require(GraftSqlSeams.positionDeltaMerges.get() == merges0 + 1,
      "Iceberg UPDATE did not ride the position-delta path")
    val plan2 = Iceberg
      .batchPlan(tdir, Iceberg.mainSnapshotId(tdir))
    require(files0.subsetOf(plan2.files.map(_.path).toSet),
      "MoR UPDATE must keep every base data file live")
    require(plan2.posDeleteFiles.nonEmpty,
      "the update snapshot must carry POSITION deletes")
    val out = spark.sql(s"SELECT * FROM $ns.iupd")
    val n = out.count()
    val lib = Iceberg.read(spark, tdir).count()
    require(n == lib, s"connector read $n rows, library MoR $lib")
    out.orderBy(col("o_orderkey"))
  }

  val sqlIcebergUpdateMorSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice + 5.0
      |       ELSE o_totalprice END AS o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  val sqlIcebergMergeDeltaSql: String =
    """WITH v AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |  FROM orders)
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 9 = 1 THEN o_totalprice + 7.0
      |       ELSE o_totalprice END AS o_totalprice
      |FROM v WHERE o_orderkey % 9 <> 4
      |UNION ALL
      |SELECT o_orderkey + 2000000000, o_custkey, 'N', -2.0
      |FROM v WHERE o_orderkey % 9 = 1
      |ORDER BY o_orderkey""".stripMargin

  val sqlMergeDeltaSql: String =
    """WITH v AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |  FROM orders),
      |del AS (SELECT * FROM v WHERE o_orderkey % 9 = 4),
      |upd AS (SELECT * FROM v WHERE o_orderkey % 9 = 1)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  'delete' AS _change_type FROM del
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  'update_preimage' FROM upd
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  o_totalprice + 7.0, 'update_postimage' FROM upd
      |UNION ALL
      |SELECT o_orderkey + 2000000000, o_custkey, 'N', -2.0,
      |  'insert' FROM upd
      |ORDER BY _change_type, o_orderkey""".stripMargin
}
