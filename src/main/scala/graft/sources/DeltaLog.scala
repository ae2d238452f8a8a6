package graft.sources

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, LongType, StringType,
  StructField, StructType}

/** Minimal reader/writer for the OPEN Delta Lake transaction-log
  * format (the public protocol: a `_delta_log/` directory of
  * zero-padded `<version>.json` commit files, each line one action —
  * `protocol`, `metaData`, `add`, `remove`, `commitInfo`), plus an
  * export from [[Snapshots]] tables into that layout.
  *
  * The reference pipeline is a *Delta* lakehouse (reference:
  * spark/batch_silver.py:152-164 writes silver as Delta;
  * spark/batch_gold.py:156-157 relies on its atomic overwrite).
  * [[Snapshots]] reproduces those semantics Delta-free; this module
  * closes the remaining *format* distance: tables whose commit history
  * is spelled exactly as the open spec spells it — readable by any
  * Delta client and produced/consumed here with no Delta jars.
  *
  * Scope (documented, deliberate): JSON commits plus parquet
  * CHECKPOINTS ([[checkpoint]] writes the spec's one-row-per-action
  * shape + `_last_checkpoint`; session-backed replays seed from it
  * and read only the JSON tail — O(commits since checkpoint), the
  * reason the format has checkpoints at all). Multi-part checkpoints
  * written by external clients are honored via `_last_checkpoint`'s
  * `parts` field; a checkpoint whose shape this reader does not
  * recognize is IGNORED and replay falls back to the pure-JSON path —
  * slower, never wrong. Protocol support: reader v1 (plain), v2 when
  * explained by columnMapping mode=name (physical-name reads,
  * metadata-only rename), v3 when every listed readerFeature is one
  * this reader speaks — today `deletionVectors` (merge-on-read
  * DELETE: per-file roaring bitmaps built executor-side, applied as
  * a broadcast-bitmap filter inside the scan) and `columnMapping`.
  * A log needing anything else (mode=id, nested mapped columns,
  * unknown features) fails loudly instead of reading wrong data.
  * DVs COMPOSE with partitioned AND column-mapped tables (the
  * bitmap filter keys on `_metadata`, independent of partition
  * reconstruction and column resolution). Checkpoints written HERE
  * carry protocol/metaData/add/txn — txn watermarks ride so a real
  * streaming client replaying only from the checkpoint keeps its
  * exactly-once guarantee ([[commitAppendIdempotent]]); remove
  * tombstones are omitted (they matter for concurrent-writer
  * reconciliation windows, which the version-count [[vacuum]]
  * horizon replaces in this engine).
  *
  * Scale: log replay is DRIVER-SIDE over commit files — metadata
  * proportional to file count, never data size; this is exactly what
  * Delta's own client does (its driver materializes the add-file list
  * from the log/checkpoint). The data read itself is a plain parquet
  * scan of the active files, so Catalyst pushdown/pruning apply
  * unchanged. Partitioned tables reconstruct partition columns from
  * the log's per-file `add.partitionValues` — ONE scan of the live
  * files plus one broadcast join against the (file → values) map,
  * keyed on the file basename; values come from the LOG, the spec's
  * source of truth, never from paths. Partition PRUNING rides the
  * same driver-side state: [[readWhere]] filters the replayed file
  * list against a partition predicate before the scan is ever built,
  * so a predicate on a partition column reads only matching files —
  * the reason the reference Hive-partitions its bronze
  * (spark/streaming_bronze.py:102).
  */
object DeltaLog {

  private val mapper = new ObjectMapper()

  /** Reader-version-3 table features this reader implements. */
  private val SupportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping")

  /** WRITER features this engine commits FAITHFULLY — the spec's
    * writer gate applied to OURSELVES: reading never checks these,
    * but a MUTATING commit on a table whose protocol demands a
    * writer capability outside this set must refuse, exactly as
    * this engine expects foreign writers to refuse its own
    * feature-listed tables. (`icebergCompatV2`-style marker features
    * are not here on purpose: an unknown writer feature could carry
    * semantics a blind commit corrupts.) */
  private val SupportedWriterFeatures: Set[String] =
    Set("appendOnly", "invariants", "checkConstraints",
      "generatedColumns", "changeDataFeed", "columnMapping",
      "deletionVectors", "timestampNtz")

  /** The writer gate, called by the row-REMOVING/REWRITING entry
    * points after the replay they already pay (DELETE, COW replace,
    * position-delta MERGE, library mergeInto): legacy
    * minWriterVersion 6 (identity columns) and any unimplemented
    * writer feature refuse loudly — committing past them could
    * silently corrupt the capability they protect. Plain APPENDS
    * stay blind by design (they remove nothing, and taxing the
    * streaming hot path with a per-append replay would cost more
    * than the narrow identity-allocation edge it would close —
    * disclosed). */
  private def requireWriterSupported(st: State, tableDir: String,
                                     op: String): Unit = {
    require(st.minWriter <= 7 && st.minWriter != 6,
      s"$op on $tableDir: minWriterVersion ${st.minWriter} " +
        "(version 6 = identity columns) is not implemented — " +
        "refusing a commit that could corrupt it")
    val unknown = st.writerFeatures -- SupportedWriterFeatures
    require(unknown.isEmpty,
      s"$op on $tableDir: table requires writerFeatures " +
        s"${unknown.toSeq.sorted.mkString(", ")} this engine does " +
        "not implement — refusing a commit that could corrupt them")
  }

  /** Should row-level DML on this table land as DELETION VECTORS
    * (the position-delta path) instead of copy-on-write group
    * rewrites? The table's own `delta.enableDeletionVectors` decides
    * when set — real Delta's opt-in knob, so an explicit `false`
    * keeps the protocol at the reader's level (no silent reader-3 /
    * writer-7 upgrade without consent) and the group-based rewrite
    * serves the command. Unset falls to the engine conf
    * `spark.graft.delta.autoDeletionVectors` (default TRUE — this
    * engine's 100 TB default is changed-rows + kilobytes of bitmap,
    * never a group rewrite; flip the conf for fleets of legacy
    * readers). */
  private[graft] def dvWritesEnabled(st: State): Boolean =
    st.configuration.get("delta.enableDeletionVectors") match {
      case Some(v) => v.equalsIgnoreCase("true")
      case None => scala.util.Try(
          org.apache.spark.sql.SparkSession.active.conf
            .get("spark.graft.delta.autoDeletionVectors")).toOption
        .forall(_.equalsIgnoreCase("true"))
    }

  /** `delta.appendOnly` honoring (the appendOnly writer feature's
    * semantics): commits that REMOVE rows refuse. OPTIMIZE-class
    * rewrites (dataChange=false, same rows) stay allowed, as real
    * Delta allows. */
  private def requireNotAppendOnly(st: State, tableDir: String,
                                   op: String): Unit =
    require(!st.configuration.get("delta.appendOnly")
        .exists(_.equalsIgnoreCase("true")),
      s"$op on $tableDir: delta.appendOnly=true forbids removing " +
        "or rewriting rows")

  private def logDir(tableDir: String) = s"$tableDir/_delta_log"

  private def commitFile(tableDir: String, v: Long) =
    new File(logDir(tableDir), f"$v%020d.json")

  /** Committed versions, ascending — the sorted numeric names of the
    * `<version>.json` files under `_delta_log`. */
  def versions(tableDir: String): Seq[Long] =
    Option(new File(logDir(tableDir)).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".json"))
      .map(_.getName.stripSuffix(".json").toLong)
      .sorted.toSeq

  /** One live file in a replayed state: its partition values (from
    * the log, possibly genuinely null), its size in bytes (0 when
    * a hand-written log omits it — size is advisory for this reader,
    * but [[checkpoint]] re-emits whatever the log carried), and the
    * add's raw `stats` JSON string (Delta's per-file data-skipping
    * stats; None when the writer recorded none — such files never
    * prune, the superset contract). */
  private[graft] case class AddFile(
      partitionValues: Map[String, String], size: Long,
      stats: Option[String] = None,
      dv: Option[DeletionVectors.Descriptor] = None) {
    /** minValues/maxValues of integer-valued stats columns — the
      * bounds [[readWhereStats]] prunes on. Non-numeric entries are
      * ignored (they never prune). */
    def longBounds: Map[String, (Long, Long)] =
      stats.map(statsLongBounds).getOrElse(Map.empty)

    /** [[longBounds]] plus long-backed DECIMAL columns decoded to
      * their UNSCALED value at the schema's declared scale — the
      * pruning ladder's currency for money-typed range predicates
      * (the DSv2 scan converts predicate literals the same way, so
      * both sides compare in unscaled space). */
    def boundsFor(schema: StructType): Map[String, (Long, Long)] =
      stats.map(s => statsBoundsFor(s, schema)).getOrElse(Map.empty)
  }

  /** numRecords out of an `add.stats` JSON string — the DSv2 batch
    * scan's row-count statistic (None when the writer recorded no
    * stats, which then reports no row count rather than a wrong
    * one). */
  private[graft] def statsNumRecords(s: String): Option[Long] = {
    val node = mapper.readTree(s)
    if (node.has("numRecords") && node.get("numRecords").canConvertToLong)
      Some(node.get("numRecords").asLong)
    else None
  }

  /** min/max of integer-valued columns out of an `add.stats` JSON
    * string — shared by the batch skip path ([[AddFile.longBounds]])
    * and the stream planner's per-file pruning. */
  private[graft] def statsLongBounds(s: String): Map[String, (Long, Long)] = {
    val node = mapper.readTree(s)
    def side(name: String): Map[String, Long] =
      if (!node.has(name)) Map.empty
      else node.get(name).properties().asScala
        .filter(_.getValue.canConvertToLong)
        .map(e => e.getKey -> e.getValue.asLong).toMap
    val (lo, hi) = (side("minValues"), side("maxValues"))
    lo.keySet.intersect(hi.keySet).map(k => k -> (lo(k), hi(k))).toMap
  }

  /** [[statsLongBounds]] widened by the SCHEMA: long-backed decimal
    * stats (recorded as scaled decimal numbers) decode to their
    * unscaled long. A value whose scale disagrees with the schema's
    * is skipped — that file simply never prunes (superset). */
  private[graft] def statsBoundsFor(s: String,
      schema: StructType): Map[String, (Long, Long)] = {
    val decimals: Map[String, org.apache.spark.sql.types.DecimalType] =
      schema.fields.collect {
        case f if f.dataType
            .isInstanceOf[org.apache.spark.sql.types.DecimalType] &&
            f.dataType.asInstanceOf[org.apache.spark.sql.types
              .DecimalType].precision <= 18 =>
          f.name -> f.dataType
            .asInstanceOf[org.apache.spark.sql.types.DecimalType]
      }.toMap
    if (decimals.isEmpty) return statsLongBounds(s)
    val node = mapper.readTree(s)
    def side(name: String): Map[String, Long] =
      if (!node.has(name)) Map.empty
      else node.get(name).properties().asScala.flatMap { e =>
        decimals.get(e.getKey) match {
          case Some(d) if e.getValue.isNumber =>
            scala.util.Try(e.getValue.decimalValue()
              .setScale(d.scale).unscaledValue().longValueExact())
              .toOption.map(e.getKey -> _)
          case Some(_) => None
          case None if e.getValue.canConvertToLong =>
            Some(e.getKey -> e.getValue.asLong)
          case None => None
        }
      }.toMap
    val (lo, hi) = (side("minValues"), side("maxValues"))
    lo.keySet.intersect(hi.keySet).map(k => k -> (lo(k), hi(k))).toMap
  }

  /** Replayed state of the table at `version`: the latest metaData
    * and the active (added, never since removed) files.
    * `columnMapping` (logical → physical, nonempty when mapping is
    * enabled in either mode — the spec annotates physicalName under
    * both) says what the data files call each schema column;
    * `columnMappingIds` (logical → parquet field id) is how a
    * mode=id read actually resolves; `mappingMode` is "none", "name"
    * or "id". */
  private[graft] case class State(
      schema: StructType, partitionColumns: Seq[String],
      adds: Map[String, AddFile],
      columnMapping: Map[String, String] = Map.empty,
      minReader: Int = 1,
      readerFeatures: Set[String] = Set.empty,
      mappingMode: String = "none",
      columnMappingIds: Map[String, Long] = Map.empty,
      configuration: Map[String, String] = Map.empty,
      minWriter: Int = 2,
      writerFeatures: Set[String] = Set.empty) {
    def files: Seq[String] = adds.keys.toSeq.sorted
    def addPartitionValues: Map[String, Map[String, String]] =
      adds.map { case (p, a) => p -> a.partitionValues }
  }

  /** `add.deletionVector` JSON → descriptor (shared by replay and
    * vacuum's registry walk). */
  private def parseDvNode(d: JsonNode): DeletionVectors.Descriptor =
    DeletionVectors.Descriptor(
      d.get("storageType").asText,
      d.get("pathOrInlineDv").asText,
      if (d.has("offset") && !d.get("offset").isNull)
        Some(d.get("offset").asInt)
      else None,
      d.get("sizeInBytes").asInt,
      d.get("cardinality").asLong)

  /** Test seam: JSON commit files the last replay actually read —
    * a checkpoint-seeded replay reads only the tail. */
  @volatile private[graft] var lastJsonCommitsRead: Int = 0

  /** Test seam: data files the last [[readVersion]]/[[readWhere]]
    * handed to the scan — partition pruning is judged by this, the
    * way ScaleSpec bounds the bloom probe by rows collected. */
  @volatile private[graft] var lastFilesScanned: Int = 0

  /** Test seam: checkpoint rows the last [[seedFromCheckpoint]]
    * collected — one per live action (files + protocol + metaData),
    * the O(files) driver-metadata bound DeltaLogSpec pins with an
    * explicit ceiling. */
  @volatile private[graft] var lastCheckpointRowsCollected: Long = 0L

  /** Test seam: rows the last [[deleteWhere]] collected onto the
    * driver — ONE per file with newly deleted rows, each carrying a
    * compressed bitmap, never one per deleted row. DeltaLogSpec pins
    * `lastDeleteRowsCollected <= live file count` under a planted
    * large delete; this is the O(files) contract that keeps a 1%
    * DELETE of a 100 TB table from collecting billions of
    * positions. */
  @volatile private[graft] var lastDeleteRowsCollected: Long = 0L

  /** CAS losses retried by the commit loops since session start —
    * the race-spec seam proving a losing writer actually lost the
    * version claim and recovered. Atomic: the race specs bump it
    * from N concurrent committer threads. */
  private[graft] val commitCasRetries =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Test seam: invoked with (tableDir, claimedVersion) between a
    * commit loop's version computation and its CAS attempt — the
    * exact window a racing writer exploits. The race specs install a
    * hook that plants a competing commit here, making loser-recovery
    * DETERMINISTIC (thread-timing races leave the window unexercised
    * more often than not). No-op in production. */
  @volatile private[graft] var commitClaimHook: (String, Long) => Unit =
    (_, _) => ()

  /** One `add` action node → (path, [[AddFile]]) — shared by the
    * [[Replayer]] and the row-level conflict checker's winner walk. */
  private def parseAddNode(a: JsonNode): (String, AddFile) = {
    val pv =
      if (a.has("partitionValues"))
        a.get("partitionValues").properties().asScala
          // JSON null is the spec's encoding of a NULL partition
          // value — asText would stringify it to "null"
          .map(e => e.getKey ->
            (if (e.getValue.isNull) null else e.getValue.asText))
          .toMap
      else Map.empty[String, String]
    val size = if (a.has("size")) a.get("size").asLong else 0L
    val stats =
      if (a.has("stats") && !a.get("stats").isNull)
        Some(a.get("stats").asText)
      else None
    val dv =
      if (a.has("deletionVector") && !a.get("deletionVector").isNull)
        Some(parseDvNode(a.get("deletionVector")))
      else None
    a.get("path").asText -> AddFile(pv, size, stats, dv)
  }

  private class Replayer {
    var schema: StructType = null
    var partCols: Seq[String] = Seq.empty
    var minReader: Int = 1
    var minWriter: Int = 2
    var mappingMode: String = "none"
    var readerFeatures: Set[String] = Set.empty
    var writerFeatures: Set[String] = Set.empty
    // the latest metaData's full configuration map — carried forward
    // by metadata-only commits (rename, evolveSchema) so a rewrite
    // never silently drops a table property another key depends on
    var configuration: Map[String, String] = Map.empty
    // insertion-ordered so `files` ties break deterministically
    val adds = scala.collection.mutable.LinkedHashMap
      .empty[String, AddFile]
    def applyNode(node: JsonNode): Unit = {
      if (node.has("protocol")) {
        val p = node.get("protocol")
        val r = p.get("minReaderVersion").asInt
        require(r >= 1 && r <= 3,
          s"unsupported Delta minReaderVersion $r (reader supports 1; " +
            "2 when explained by columnMapping mode=name; 3 when every " +
            "readerFeature is one this reader speaks)")
        minReader = r
        // writer-side protocol is parsed and CARRIED (a reader never
        // checks writerFeatures — the spec gates writers, not reads)
        // so this engine's own commits can preserve and grow it
        minWriter =
          if (p.has("minWriterVersion")) p.get("minWriterVersion").asInt
          else 2
        writerFeatures =
          if (p.has("writerFeatures"))
            p.get("writerFeatures").elements().asScala
              .map(_.asText).toSet
          else Set.empty
        readerFeatures =
          if (p.has("readerFeatures"))
            p.get("readerFeatures").elements().asScala
              .map(_.asText).toSet
          else Set.empty
        if (r == 3) {
          require(p.has("readerFeatures"),
            "minReaderVersion 3 without readerFeatures — the spec " +
              "requires the feature list at reader 3; refusing a " +
              "malformed protocol")
          val unknown = readerFeatures -- SupportedReaderFeatures
          require(unknown.isEmpty,
            s"unsupported Delta readerFeatures ${unknown.mkString(",")} " +
              s"(this reader speaks ${SupportedReaderFeatures.mkString(",")})")
        }
      }
      if (node.has("metaData")) {
        val md = node.get("metaData")
        schema = DataType.fromJson(md.get("schemaString").asText)
          .asInstanceOf[StructType]
        partCols = md.get("partitionColumns").elements().asScala
          .map(_.asText).toSeq
        configuration =
          if (md.has("configuration"))
            md.get("configuration").properties().asScala
              .map(e => e.getKey -> e.getValue.asText).toMap
          else Map.empty
        mappingMode =
          configuration.getOrElse("delta.columnMapping.mode", "none")
      }
      if (node.has("add")) {
        val (p, a) = parseAddNode(node.get("add"))
        adds.put(p, a)
      }
      if (node.has("remove"))
        adds.remove(node.get("remove").get("path").asText)
    }

    /** Apply ONE commit's actions, order-insensitively for the DV
      * re-add pattern: the spec keys file actions by (path, dvId), so
      * a remove of the OLD (path, oldDv) must not tombstone the NEW
      * (path, newDv) add even when the commit file lists the add
      * first (action order within a commit is not pinned). This
      * path-keyed replayer approximates that keying with a
      * commit-scoped guard: a remove whose path was re-added WITH a
      * deletion vector earlier in the same commit is the paired
      * tombstone of the old file version — skipping it is exactly
      * what (path, dvId) keying would do. */
    def applyCommit(nodes: Seq[JsonNode]): Unit = {
      val dvReadds: Set[String] = nodes.collect {
        case n if n.has("add") && n.get("add").has("deletionVector") =>
          n.get("add").get("path").asText
      }.toSet
      val appliedDvAdd = scala.collection.mutable.Set.empty[String]
      nodes.foreach { node =>
        if (node.has("remove") && {
            val p = node.get("remove").get("path").asText
            dvReadds.contains(p) && appliedDvAdd.contains(p)
          }) ()
        else {
          if (node.has("add") &&
            dvReadds.contains(node.get("add").get("path").asText))
            appliedDvAdd += node.get("add").get("path").asText
          applyNode(node)
        }
      }
    }
    def state(version: Long): State = {
      require(schema != null, s"log through $version carries no metaData")
      // a reader-v2 table must be EXPLAINED by a feature this reader
      // speaks — accepting v2 blindly would read wrong data the
      // moment the table also uses a feature we don't know; v3 tables
      // were already validated at the protocol line (every
      // readerFeature ∈ SupportedReaderFeatures)
      require(minReader != 2 || mappingMode == "name" ||
          mappingMode == "id",
        s"Delta minReaderVersion $minReader with columnMapping mode " +
          s"'$mappingMode' — v2 must be explained by a mapping mode")
      require(minReader == 3 || adds.values.forall(_.dv.isEmpty),
        "deletion vectors present under minReaderVersion " +
          s"$minReader — a spec table needs reader 3 + the " +
          "deletionVectors feature; refusing an inconsistent log")
      val mapping: Map[String, String] =
        if (mappingMode == "none") Map.empty
        else {
          require(mappingMode == "name" || mappingMode == "id",
            s"unsupported columnMapping mode '$mappingMode'")
          require(partCols.isEmpty,
            "column mapping on a PARTITIONED table is out of scope " +
              "(partitionValues would key by physical names)")
          schema.fields.map { f =>
            // the spec annotates physicalName under BOTH modes —
            // mode decides how reads RESOLVE, not what is recorded
            require(
              f.metadata.contains("delta.columnMapping.physicalName"),
              s"column ${f.name} lacks delta.columnMapping." +
                s"physicalName under mode=$mappingMode")
            // NESTED structs: every inner field carries its own
            // physicalName and the reader resolves them recursively
            // (mode=name), including structs INSIDE arrays and map
            // VALUES (round 13 — the lambda rebuild in
            // logicalize/physicalize). Structs under map KEYS, and
            // nesting under mode=id, stay refused — loud beats a
            // NULLed inner field.
            def hasAnyStruct(dt: DataType): Boolean = dt match {
              case _: StructType => true
              case a: org.apache.spark.sql.types.ArrayType =>
                hasAnyStruct(a.elementType)
              case m: org.apache.spark.sql.types.MapType =>
                hasAnyStruct(m.keyType) || hasAnyStruct(m.valueType)
              case _ => false
            }
            def validateNested(dt: DataType, path: String): Unit =
              dt match {
                case s: StructType => s.fields.foreach { nf =>
                  // nested under mode=id reads through the
                  // physical-NAME machinery (round 14, closing the
                  // round-13 measured refusal): Spark's nested
                  // schema pruning rebuilds pruned struct fields
                  // WITHOUT their parquet.field.id metadata, so a
                  // field-id read of a nested projection silently
                  // NULLs — but the protocol records physicalName
                  // under BOTH modes and requires files to use
                  // physical column names, so nested resolution by
                  // physicalName is sound for any conforming writer
                  // (and pruning preserves names). The physicalName
                  // requirement below is therefore load-bearing
                  // under mode=id too.
                  require(nf.metadata.contains(
                      "delta.columnMapping.physicalName"),
                    s"nested column $path.${nf.name} lacks " +
                      "delta.columnMapping.physicalName")
                  validateNested(nf.dataType, s"$path.${nf.name}")
                }
                case a: org.apache.spark.sql.types.ArrayType =>
                  validateNested(a.elementType, s"$path.element")
                case m: org.apache.spark.sql.types.MapType =>
                  require(!hasAnyStruct(m.keyType),
                    s"column $path: structs under map KEYS with " +
                      "column mapping are out of scope")
                  validateNested(m.valueType, s"$path.value")
                case _ => ()
              }
            validateNested(f.dataType, f.name)
            f.name -> f.metadata.getString("delta.columnMapping.physicalName")
          }.toMap
        }
      val mappingIds: Map[String, Long] =
        if (mappingMode != "id") Map.empty
        else schema.fields.map { f =>
          require(f.metadata.contains("delta.columnMapping.id"),
            s"column ${f.name} lacks delta.columnMapping.id under " +
              "mode=id — field-id resolution has nothing to match")
          f.name -> f.metadata.getLong("delta.columnMapping.id")
        }.toMap
      State(schema, partCols, adds.toMap, mapping, minReader,
        readerFeatures, mappingMode, mappingIds, configuration,
        minWriter, writerFeatures)
    }
  }

  private[graft] def replay(tableDir: String, version: Long): State =
    replayMaybeCheckpointed(None, tableDir, version)

  /** Replay to `version`. With a session available, a `_last_checkpoint`
    * at version c ≤ `version` seeds the state from the checkpoint
    * parquet and only the JSON commits in (c, version] are read —
    * O(tail), the reason the format has checkpoints at all. Without a
    * session, for time travel BEFORE the checkpoint, or when the
    * checkpoint's shape is unrecognized, the pure-JSON path replays
    * from 0: same answer, linear cost, still metadata-sized. */
  private def replayMaybeCheckpointed(spark: Option[SparkSession],
      tableDir: String, version: Long): State = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
    require(vs.contains(version),
      s"version $version not in log (have ${vs.mkString(",")})")
    val seeded: Option[(Replayer, Long)] =
      (spark, lastCheckpoint(tableDir)) match {
        case (Some(s), Some(lc)) if lc.version <= version =>
          val r = new Replayer
          if (seedFromCheckpoint(s, tableDir, lc, r))
            Some((r, lc.version + 1))
          else None // unrecognized checkpoint → pure-JSON fallback
        case _ => None
      }
    val (r, from) = seeded.getOrElse((new Replayer, Long.MinValue))
    val tail = vs.filter(v => v >= from && v <= version)
    lastJsonCommitsRead = tail.size
    tail.foreach { v =>
      r.applyCommit(Files.readAllLines(commitFile(tableDir, v).toPath)
        .asScala.filter(_.nonEmpty).map(mapper.readTree).toSeq)
    }
    r.state(version)
  }

  /** Latest snapshot.
    *
    * Session note: reading a mode=id column-mapped table enables
    * `spark.sql.parquet.fieldId.read.enabled` SESSION-WIDE (the
    * field-id matcher is a SQL conf, not a per-read option, and the
    * lazy scan reads it at execution time so it cannot be restored
    * eagerly). Safe to leave on — schemas without id metadata still
    * resolve by name — but callers sharing the session should know
    * the flag may flip here. */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    readVersion(spark, tableDir, versions(tableDir).last)

  /** Commit timestamps, ADJUSTED to be strictly monotonic — exactly
    * Delta's own commit-timestamp rule: the raw reading is the commit
    * file's modification time (the protocol's source of truth for
    * `timestampAsOf`), and a commit whose mtime does not exceed its
    * predecessor's (same-millisecond commits, clock skew) is read as
    * predecessor + 1 ms, so the (version, timestamp) sequence is
    * always a valid search key. Returns (version, adjustedMillis)
    * ascending. */
  def commitTimestamps(tableDir: String): Seq[(Long, Long)] = {
    var prev = Long.MinValue
    versions(tableDir).map { v =>
      // in-commit timestamp preferred (survives copied logs whose
      // mtimes were reset); mtime is the protocol's fallback for
      // commits without commitInfo
      val f = commitFile(tableDir, v)
      val inCommit: Option[Long] =
        Files.readAllLines(f.toPath).asScala.filter(_.nonEmpty)
          .map(mapper.readTree)
          .collectFirst {
            case n if n.has("commitInfo") &&
              n.get("commitInfo").has("timestamp") =>
              n.get("commitInfo").get("timestamp").asLong
          }
      val m = inCommit.getOrElse(f.lastModified())
      val t = if (m <= prev) prev + 1 else m
      prev = t
      (v, t)
    }
  }

  /** The version `timestampAsOf` resolves to: the LATEST commit whose
    * adjusted timestamp is <= `tsMillis` (Delta's contract — you get
    * the table as it stood at that instant). A timestamp before the
    * first commit fails loudly, as Delta fails. */
  def versionAsOf(tableDir: String, tsMillis: Long): Long = {
    val cts = commitTimestamps(tableDir)
    require(cts.nonEmpty, s"no _delta_log commits under $tableDir")
    require(tsMillis >= cts.head._2,
      s"timestamp $tsMillis precedes the first commit (${cts.head._2})")
    cts.takeWhile(_._2 <= tsMillis).last._1
  }

  /** Timestamp time travel: [[readVersion]] at [[versionAsOf]]. */
  def readAsOfTimestamp(spark: SparkSession, tableDir: String,
                        tsMillis: Long): DataFrame =
    readVersion(spark, tableDir, versionAsOf(tableDir, tsMillis))

  /** RESTORE to `version` as a NEW commit (Delta's RESTORE command):
    * files added since `version` get remove actions, files of
    * `version` that are no longer live get re-added (with their
    * original partitionValues + stats, carried from the replayed
    * target state), files live in both stay untouched — history is
    * preserved, the restore is itself a commit that time travel can
    * step past. dataChange=true on both sides: a restore genuinely
    * changes the table for downstream consumers. Returns the new
    * version. */
  def restore(tableDir: String, version: Long): Long = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
    val cur = replay(tableDir, vs.last)
    val tgt = replay(tableDir, version)
    require(cur.schema == tgt.schema && cur.columnMapping == tgt.columnMapping,
      "RESTORE across a schema/mapping change is out of scope — " +
        "restore the metadata evolution first")
    // act on every path whose ADD ENTRY differs — not just presence:
    // a deletion-vector delete is remove+add of the SAME path, so a
    // presence-only diff would restore the files but keep the newer
    // DV and lose rows silently
    val removes = cur.files
      .filter(p => !tgt.adds.get(p).contains(cur.adds(p)))
      .map(p => removeAction(p))
    val adds = tgt.files
      .filter(p => !cur.adds.get(p).contains(tgt.adds(p)))
      .map { p =>
        val a = tgt.adds(p)
        addAction(p, a.size, a.partitionValues, dataChange = true,
          a.stats, a.dv)
      }
    require(writeActions(tableDir, vs.last + 1, removes ++ adds),
      s"concurrent writer claimed version ${vs.last + 1} during restore " +
        "— re-run against the new state")
    vs.last + 1
  }

  /** Time travel: the table exactly as of commit `version`. Schema
    * comes from the log's metaData (not parquet footers); partition
    * columns come from the log's per-file `partitionValues`. */
  def readVersion(spark: SparkSession, tableDir: String,
                  version: Long): DataFrame = {
    val st = replayMaybeCheckpointed(Some(spark), tableDir, version)
    lastFilesScanned = st.adds.size
    scanState(spark, tableDir, st)
  }

  /** PARTITION-PRUNED read of the latest snapshot: `keep` sees each
    * live file's partition values AS THE LOG SPELLS THEM (strings,
    * possibly null) and files it rejects are never handed to the
    * scan. The pruning decision is driver-side over the replayed
    * state — already in memory, O(files) metadata — which is exactly
    * where Delta's own client prunes; at 100 TB this is the
    * difference between scanning one month and scanning the lake.
    * Fails loudly on an unpartitioned table: there is nothing to
    * prune on, and silently scanning everything would let a caller
    * believe a predicate was applied. */
  def readWhere(spark: SparkSession, tableDir: String)(
      keep: Map[String, String] => Boolean): DataFrame =
    readVersionWhere(spark, tableDir, versions(tableDir).last)(keep)

  /** STATS-PRUNED read of the latest snapshot — Delta data skipping
    * (the [[Iceberg.readPrunedRange]] twin, through `add.stats`):
    * keep only files whose recorded [min, max] can intersect every
    * `(col, lo, hi)` range, decided driver-side over the replayed
    * adds. Superset contract: a file or column without stats never
    * prunes, false positives cost a file read, false negatives
    * cannot happen — callers re-apply the exact predicate.
    * [[lastFilesScanned]] records the surviving count. */
  def readWhereStats(spark: SparkSession, tableDir: String,
                     ranges: Seq[(String, Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "readWhereStats needs at least one range")
    val st = replayMaybeCheckpointed(Some(spark), tableDir,
      versions(tableDir).last)
    val kept = st.adds.filter { case (_, a) =>
      val b = a.longBounds
      ranges.forall { case (c, lo, hi) =>
        b.get(c) match {
          case Some((mn, mx)) => mn <= hi && mx >= lo
          case None => true // no stats can never prove no match
        }
      }
    }
    lastFilesScanned = kept.size
    scanState(spark, tableDir, st.copy(adds = kept))
  }

  /** PREDICATE-PUSHDOWN read — the DSv2 `SupportsPushDownFilters`
    * shape applied inside the library: decompose `pred` into
    * prune-safe conjuncts ([[PruningPredicates]]), drop files whose
    * partition values miss an equality conjunct or whose `add.stats`
    * bounds exclude a long-range conjunct, scan the survivors, and
    * re-apply the FULL predicate — so the caller writes one
    * raw-column predicate and gets partition pruning + data skipping
    * automatically, exactly as against Delta's own connector.
    * Unrecognized conjuncts prune nothing (superset contract). */
  def readFiltered(spark: SparkSession, tableDir: String,
                   pred: org.apache.spark.sql.Column): DataFrame = {
    val st = replayMaybeCheckpointed(Some(spark), tableDir,
      versions(tableDir).last)
    val ex = PruningPredicates.extract(pred)
    // absent key (external log oddity) or an undecidable comparison
    // → cannot prove a miss, keep; comparison is TYPE-AWARE through
    // the declared column type (Spark's re-applied predicate casts,
    // so '05' = 5 holds) — the shared extractedKeep contract
    val kept = st.adds.filter { case (_, a) => extractedKeep(st, ex, a) }
    lastFilesScanned = kept.size
    scanState(spark, tableDir, st.copy(adds = kept)).filter(pred)
  }

  /** [[readWhere]] pinned to `version` (pruned time travel). */
  def readVersionWhere(spark: SparkSession, tableDir: String,
      version: Long)(keep: Map[String, String] => Boolean): DataFrame = {
    val st = replayMaybeCheckpointed(Some(spark), tableDir, version)
    require(st.partitionColumns.nonEmpty,
      s"readWhere on unpartitioned table $tableDir: no partition " +
        "values to prune on")
    val kept = st.adds.filter { case (_, a) => keep(a.partitionValues) }
    lastFilesScanned = kept.size
    scanState(spark, tableDir, st.copy(adds = kept))
  }

  /** Build the data scan for a replayed (possibly pruned) state. */
  private def scanState(spark: SparkSession, tableDir: String,
                        st: State): DataFrame = {
    val dataSchema = StructType(
      st.schema.filterNot(f => st.partitionColumns.contains(f.name)))
    def resolve(p: String) =
      if (p.startsWith("/") || p.contains("://")) p else s"$tableDir/$p"
    // deletion vectors: merge-on-read — decode each live file's DV
    // driver-side into a compressed bitmap (O(DV bytes), the same
    // metadata class as the log replay), BROADCAST the bitmap map,
    // and apply it as a per-row `contains` FILTER on
    // (file_name, row_index) inside the scan stage — no anti-join, no
    // build side materializing every deleted position; executor
    // memory is O(files × compressed bitmap), exactly the shape
    // Delta's own reader uses. Composes with PARTITIONED tables (the
    // filter rides [[PartitionedScan]]'s preProject hook, before the
    // partition-value join) and with COLUMN-MAPPED tables (the
    // filter keys on `_metadata` (file_name, row_index), independent
    // of how data columns resolve — it runs before the logical-name
    // projection).
    val dvAdds = st.adds.filter(_._2.dv.isDefined)
    val mor: DataFrame => DataFrame =
      if (dvAdds.isEmpty) identity
      else {
        val basenames = st.files.map(p => p.substring(p.lastIndexOf('/') + 1))
        require(basenames.distinct.size == basenames.size,
          "duplicate data-file basenames — cannot key deletion vectors")
        val bitmaps: Map[String, DeletionVectors.Bitmap64] =
          dvAdds.map { case (p, a) =>
            p.substring(p.lastIndexOf('/') + 1) ->
              DeletionVectors.readBitmap(tableDir, a.dv.get)
          }.toMap
        val bc = spark.sparkContext.broadcast(bitmaps)
        data => data.filter(!graft.functions.DvExprs.deleted(
          col("_metadata.file_name"), col("_metadata.row_index"), bc))
      }
    if (st.adds.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](), st.schema)
    else if (st.columnMapping.nonEmpty) {
      // column mapping: the data files spell every column by its
      // PHYSICAL name — read physically, surface logically. The
      // rename is a projection, free under codegen; the mapping
      // metadata is stripped from the surfaced schema (it describes
      // the files, not the rows). mode=name resolves through the
      // physicalName annotations; mode=id resolves through PARQUET
      // FIELD IDS. DVs compose in both modes: `mor` filters on
      // `_metadata` before the projection.
      mor(mappedScanRaw(spark, tableDir, st))
        .select(mappedCols(st): _*)
    } else if (st.partitionColumns.isEmpty)
      mor(spark.read.schema(dataSchema)
        .parquet(st.files.map(resolve): _*))
    else
      // partition columns restored from the LOG's partitionValues —
      // the shared open-format scan (one scan + one broadcast join;
      // see [[PartitionedScan]] for the basename-uniqueness
      // contract); DVs apply inside the scan via preProject, before
      // the partition-value join
      PartitionedScan.scan(spark, st.schema, st.partitionColumns,
        st.adds.toSeq.map { case (p, a) =>
          (resolve(p), a.partitionValues) },
        preProject = mor)
  }

  /** Physical scan of a COLUMN-MAPPED table's live files, before the
    * logical-name projection ([[mappedCols]]). mode=name requests
    * the files' physical `col-<uuid>` names; mode=id requests
    * LOGICAL names annotated with `parquet.field.id` and lets
    * Spark's native field-id matcher resolve them — resolution
    * survives any physical-name drift, which is the point of id
    * mode. Shared by the read path and [[deleteWhere]] (which needs
    * `_metadata` row identity BEFORE the projection). */
  private def mappedScanRaw(spark: SparkSession, tableDir: String,
                            st: State): DataFrame = {
    def resolve(p: String) =
      if (p.startsWith("/") || p.contains("://")) p else s"$tableDir/$p"
    if (idFlatRead(st)) {
      // FLAT mode=id: session-level switch for Spark's field-id
      // matcher; safe to leave on — schemas WITHOUT id metadata
      // still resolve by name, so unmapped reads are unaffected.
      // idReadType stamps LOGICAL names with ids. NESTED id-mode
      // tables take the else-branch instead: Spark's nested schema
      // pruning strips field-id metadata from pruned struct fields
      // (measured round 13 — a projection of one nested field
      // silently NULLs), while physical-NAME resolution survives
      // pruning and is protocol-sound under both modes (files must
      // use physical column names; physicalName is recorded under
      // either mode).
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      val idSchema = idReadType(st.schema).asInstanceOf[StructType]
      spark.read.schema(idSchema).parquet(st.files.map(resolve): _*)
    } else {
      val physSchema = StructType(st.schema.fields.map(f =>
        org.apache.spark.sql.types.StructField(
          st.columnMapping(f.name), physDataType(f.dataType),
          nullable = true)))
      spark.read.schema(physSchema).parquet(st.files.map(resolve): _*)
    }
  }

  private def physFieldName(f: org.apache.spark.sql.types.StructField)
      : String =
    f.metadata.getString("delta.columnMapping.physicalName")

  /** Physical spelling of a mapped column's TYPE (recursive): every
    * struct level renamed to its physicalName annotations —
    * mode=name data files spell nested columns physically too,
    * including structs INSIDE arrays and map values. */
  private def physDataType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        physFieldName(f), physDataType(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = physDataType(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = physDataType(m.valueType))
    case other => other
  }

  /** Logical type with ALL mapping metadata stripped, recursively. */
  private def strippedType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        f.name, strippedType(f.dataType), f.nullable)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = strippedType(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = strippedType(m.valueType))
    case other => other
  }

  /** Does the type hold a struct anywhere under containers (map
    * KEYS excluded — the write/read rebuild never descends into
    * keys)? Decides whether a container column needs the lambda
    * rebuild below. */
  private def holdsStruct(dt: DataType): Boolean = dt match {
    case _: StructType => true
    case a: org.apache.spark.sql.types.ArrayType =>
      holdsStruct(a.elementType)
    case m: org.apache.spark.sql.types.MapType =>
      holdsStruct(m.valueType)
    case _ => false
  }

  /** Struct ANYWHERE, map keys included — the creation writers'
    * refusal currency: replay refuses shapes the rebuild cannot
    * express, so minting a table with one would create a log every
    * subsequent read refuses forever. */
  private def anyStruct(dt: DataType): Boolean = dt match {
    case _: StructType => true
    case a: org.apache.spark.sql.types.ArrayType =>
      anyStruct(a.elementType)
    case m: org.apache.spark.sql.types.MapType =>
      anyStruct(m.keyType) || anyStruct(m.valueType)
    case _ => false
  }

  /** The ONE mapping annotator (three writers used to carry private
    * copies, and the copies drifted into a real bug — the evolve
    * path's deterministic name minting): annotate `dt` recursively
    * with `delta.columnMapping.id`s numbered depth-first from
    * `startId + 1` and physical names from `mint(path)`, descending
    * into array elements and map values. Returns the annotated type
    * and the LAST id used (the new maxColumnId currency). */
  private def annotateMapped(dt: DataType, startId: Long,
      mint: String => String): (DataType, Long) = {
    import org.apache.spark.sql.types.MetadataBuilder
    var nextId = startId
    def go(dt: DataType, path: String): DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        nextId += 1
        val id = nextId
        val inner = go(f.dataType, s"$path.${f.name}")
        f.copy(dataType = inner, metadata = new MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName",
            mint(s"$path.${f.name}"))
          .build())
      })
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = go(a.elementType, s"$path.element"))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(valueType = go(m.valueType, s"$path.value"))
      case other => other
    }
    (go(dt, ""), nextId)
  }

  /** A struct under a map KEY anywhere in the type? Refused at
    * creation AND replay under mapping (no lambda can rebuild map
    * keys positionally). */
  private def mapKeyStruct(dt: DataType): Boolean = dt match {
    case s: StructType => s.fields.exists(f => mapKeyStruct(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType =>
      mapKeyStruct(a.elementType)
    case m: org.apache.spark.sql.types.MapType =>
      anyStruct(m.keyType) || mapKeyStruct(m.valueType)
    case _ => false
  }

  /** mode=id READ spelling: LOGICAL names at every level, each
    * struct field stamped with its `parquet.field.id` from the
    * mapping annotations — Spark's field-id matcher resolves nested
    * levels regardless of the files' physical names. */
  private def idReadType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        f.name, idReadType(f.dataType), nullable = true,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id",
            f.metadata.getLong("delta.columnMapping.id")).build())))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = idReadType(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = idReadType(m.valueType))
    case other => other
  }


  /** Rebuild a physically-read column under its LOGICAL names,
    * recursively — a nested struct is reconstructed field by field
    * (free under codegen), with a null-guard so a NULL struct stays
    * NULL instead of becoming a struct of NULLs. */
  private def logicalize(c: org.apache.spark.sql.Column,
                         dt: DataType): org.apache.spark.sql.Column =
    dt match {
      case s: StructType =>
        import org.apache.spark.sql.functions.{lit, struct, when}
        val rebuilt = struct(s.fields.toSeq.map(f =>
          logicalize(c.getField(physFieldName(f)), f.dataType)
            .as(f.name)): _*)
        when(c.isNull, lit(null).cast(strippedType(s))).otherwise(rebuilt)
      case a: org.apache.spark.sql.types.ArrayType
          if holdsStruct(a.elementType) =>
        // structs INSIDE arrays rebuild per element (NULL array and
        // NULL elements pass through transform untouched)
        org.apache.spark.sql.functions.transform(c,
          x => logicalize(x, a.elementType))
      case m: org.apache.spark.sql.types.MapType
          if holdsStruct(m.valueType) =>
        org.apache.spark.sql.functions.transform_values(c,
          (_, v) => logicalize(v, m.valueType))
      case _ => c
    }

  /** The logical-name projection over [[mappedScanRaw]]'s columns —
    * strips the mapping metadata (it describes the files, not the
    * rows). */
  private def mappedCols(st: State): Seq[org.apache.spark.sql.Column] =
    st.schema.fields.toSeq.map { f =>
      (if (idFlatRead(st)) col(f.name)
       else logicalize(col(st.columnMapping(f.name)), f.dataType))
        .as(f.name, org.apache.spark.sql.types.Metadata.empty)
    }

  /** Does this mapped state ride Spark's native field-id matcher?
    * Only FLAT mode=id schemas — nested ones read physically (see
    * [[mappedScanRaw]]). */
  private def idFlatRead(st: State): Boolean =
    st.mappingMode == "id" &&
      !st.schema.fields.exists(f => anyStruct(f.dataType))

  /** [[logicalize]]'s inverse: rebuild a logical column under its
    * PHYSICAL names at every nesting level, with the same NULL-struct
    * guard (a NULL struct stays NULL instead of becoming a struct of
    * NULLs). `f` must carry the mapping annotations (a replayed
    * mapped state's schema always does). */
  private def physicalize(c: org.apache.spark.sql.Column,
                          f: org.apache.spark.sql.types.StructField)
      : org.apache.spark.sql.Column = physicalizeType(c, f.dataType)

  private def physicalizeType(c: org.apache.spark.sql.Column,
                              dt: DataType)
      : org.apache.spark.sql.Column = dt match {
    case s: StructType =>
      import org.apache.spark.sql.functions.{lit, struct, when}
      val rebuilt = struct(s.fields.toSeq.map(nf =>
        physicalizeType(c.getField(nf.name), nf.dataType)
          .as(physFieldName(nf))): _*)
      when(c.isNull, lit(null).cast(physDataType(s))).otherwise(rebuilt)
    case a: org.apache.spark.sql.types.ArrayType
        if holdsStruct(a.elementType) =>
      org.apache.spark.sql.functions.transform(c,
        x => physicalizeType(x, a.elementType))
    case m: org.apache.spark.sql.types.MapType
        if holdsStruct(m.valueType) =>
      org.apache.spark.sql.functions.transform_values(c,
        (_, v) => physicalizeType(v, m.valueType))
    case _ => c
  }

  /** Spell a LOGICAL-rows DataFrame the way a mapped table's files
    * must store it: mode=name renames every level to its
    * physicalName; mode=id renames the top level and stamps each
    * column's `parquet.field.id` (write-side flag enabled) so
    * field-id readers resolve regardless of physical-name drift.
    * Non-data columns absent from the table schema (`_change_type`
    * on a CDF change file) pass through under their own names — the
    * CDF columns are never mapped, matching Delta's spelling. */
  private def physicalRows(df: DataFrame, st: State): DataFrame = {
    val extras = df.columns.toSeq
      .filterNot(st.schema.fieldNames.contains)
    if (st.mappingMode != "id")
      df.select(st.schema.fields.toSeq.map(f =>
        physicalize(col(f.name), f).as(physFieldName(f))) ++
        extras.map(col): _*)
    else {
      // top-level `.as(name, metadata)` is the ONLY alias spelling
      // whose parquet.field.id reliably reaches the parquet writer:
      // a `DataFrame.to(schema)` carries the metadata in its own
      // schema but Project-collapsing re-derives alias metadata from
      // the child and the write records NO ids (measured round 13).
      // Nested-under-id is refused at replay, so top-level suffices.
      df.sparkSession.conf.set(
        "spark.sql.parquet.fieldId.write.enabled", "true")
      df.select(st.schema.fields.toSeq.map(f =>
        physicalize(col(f.name), f).as(physFieldName(f),
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id",
              f.metadata.getLong("delta.columnMapping.id"))
            .build())) ++ extras.map(col): _*)
    }
  }

  // ---------------------------------------------------------------
  // Checkpoints (the open spec's replay shortcut)
  // ---------------------------------------------------------------

  private case class LastCheckpoint(version: Long, parts: Option[Int])

  /** Checkpoint part files for version `v`: single-file
    * `<v>.checkpoint.parquet`, or the spec's multi-part
    * `<v>.checkpoint.<i>.<n>.parquet` (i 1-based) when
    * `_last_checkpoint` declares `parts`. */
  private def checkpointPartFiles(tableDir: String,
                                  lc: LastCheckpoint): Seq[File] =
    lc.parts match {
      case None => Seq(new File(logDir(tableDir),
        f"${lc.version}%020d.checkpoint.parquet"))
      case Some(n) => (1 to n).map(i => new File(logDir(tableDir),
        f"${lc.version}%020d.checkpoint.$i%010d.$n%010d.parquet"))
    }

  private def lastCheckpoint(tableDir: String): Option[LastCheckpoint] = {
    val f = new File(logDir(tableDir), "_last_checkpoint")
    if (!f.isFile) None
    else {
      val node = mapper.readTree(
        new String(Files.readAllBytes(f.toPath), "UTF-8"))
      Some(LastCheckpoint(node.get("version").asLong,
        if (node.has("parts")) Some(node.get("parts").asInt) else None))
    }
  }

  /** Write a checkpoint of the CURRENT latest version: parquet in
    * the spec's checkpoint shape — one row per live action,
    * top-level nullable `protocol` / `metaData` / `add` structs, the
    * add rows carrying the log's real file sizes — plus the
    * `_last_checkpoint` pointer. Replay cost for later reads drops
    * from O(commits) to O(commits since checkpoint); JSON commits
    * stay on disk (history auditable, pre-checkpoint time travel
    * still replays them).
    *
    * MULTI-PART: when the action count exceeds `maxActionsPerPart`
    * the checkpoint splits into the spec's
    * `<v>.checkpoint.<i>.<n>.parquet` files (i 1-based) and
    * `_last_checkpoint` records `parts` — the shape real clients
    * write for large tables (a million-file table's checkpoint
    * re-written as one parquet per snapshot would bottleneck on the
    * single writer; parts parallelize both ends). This reader has
    * always accepted parts ([[checkpointPartFiles]]); now it writes
    * them. Returns the checkpointed version. */
  def checkpoint(spark: SparkSession, tableDir: String,
                 maxActionsPerPart: Long = Long.MaxValue): Long = {
    import org.apache.spark.sql.types._
    val v = versions(tableDir).last
    val st = replay(tableDir, v)
    val protocolT = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType),
        nullable = true),
      StructField("writerFeatures", ArrayType(StringType),
        nullable = true)))
    val metaDataT = StructType(Seq(
      StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration",
        MapType(StringType, StringType), nullable = true)))
    val dvT = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType, nullable = true),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues",
        MapType(StringType, StringType, valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType, nullable = true),
      StructField("deletionVector", dvT, nullable = true)))
    val txnT = StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType),
      StructField("lastUpdated", LongType, nullable = true)))
    val ckptT = StructType(Seq(
      StructField("protocol", protocolT, nullable = true),
      StructField("metaData", metaDataT, nullable = true),
      StructField("add", addT, nullable = true),
      StructField("txn", txnT, nullable = true)))
    val rows = new java.util.ArrayList[Row]()
    // the checkpoint must preserve the table's REPLAYED protocol, not
    // an inference from the current state's features: a table whose
    // DVs were compacted away still carries protocol 3, and a later
    // RESTORE may re-add DV files without writing a protocol action —
    // a checkpoint that downgraded to (1,2) would make that valid
    // tail unreadable. Feature configs ride for the same reason.
    val mapped = st.columnMapping.nonEmpty
    // minWriterVersion 7 REQUIRES a writerFeatures list (the spec's
    // table-features contract) — a checkpoint carrying only
    // readerFeatures is rejected by real Delta clients replaying from
    // it, even though the JSON commits were fine; mirror the reader
    // list (every feature this writer emits is reader-writer paired)
    val protoRow =
      if (st.minReader == 3)
        Row(3, 7, st.readerFeatures.toSeq.sorted,
          st.readerFeatures.toSeq.sorted)
      else if (st.minReader == 2 || mapped) Row(2, 5, null, null)
      else Row(1, 2, null, null)
    rows.add(Row(protoRow, null, null, null))
    // the FULL replayed configuration rides the checkpoint metaData:
    // an external writer replaying only from the checkpoint allocates
    // mapping ids against delta.columnMapping.maxColumnId — a
    // checkpoint that kept just the mode would hand it a colliding id
    // space (caught by InteropRoundTripSpec's foreign replay)
    rows.add(Row(null,
      Row("ckpt", st.schema.json, st.partitionColumns,
        if (st.configuration.nonEmpty) st.configuration
        else if (mapped) Map("delta.columnMapping.mode" -> st.mappingMode)
        else null),
      null, null))
    st.files.foreach { f =>
      val a = st.adds(f)
      val dvRow = a.dv.map(d => Row(d.storageType, d.pathOrInlineDv,
        d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull
      rows.add(Row(null, null,
        Row(f, a.partitionValues, a.size, 0L, true, a.stats.orNull,
          dvRow), null))
    }
    // the spec REQUIRES txn watermarks in checkpoints: a real
    // streaming client replaying only from the checkpoint must see
    // its appId's latest version or it double-commits its batch
    txnWatermarks(tableDir).toSeq.sortBy(_._1).foreach {
      case (appId, tv) =>
        rows.add(Row(null, null, null, Row(appId, tv, 0L)))
    }
    // stage through temp dirs: Spark writes directories, the spec
    // wants exact file names (<v>.checkpoint.parquet, or the
    // multi-part <v>.checkpoint.<i>.<n>.parquet split)
    require(maxActionsPerPart >= 1, "maxActionsPerPart must be >= 1")
    val nParts =
      if (rows.size <= maxActionsPerPart) 1
      else ((rows.size + maxActionsPerPart - 1) / maxActionsPerPart).toInt
    val lcShape =
      LastCheckpoint(v, if (nParts == 1) None else Some(nParts))
    val targets = checkpointPartFiles(tableDir, lcShape)
    val chunk = (rows.size + nParts - 1) / nParts
    targets.zipWithIndex.foreach { case (target, i) =>
      val tmp = Files.createTempDirectory("dl_ckpt").toString + "/w"
      val slice = new java.util.ArrayList[Row](rows.subList(
        i * chunk, math.min((i + 1) * chunk, rows.size)))
      spark.createDataFrame(slice, ckptT).coalesce(1).write.parquet(tmp)
      val part = new File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, target.toPath,
        StandardCopyOption.REPLACE_EXISTING)
      graft.util.Fs.deleteRecursively(new File(tmp).getParentFile)
    }
    val lc = mapper.createObjectNode()
    lc.put("version", v).put("size", rows.size.toLong)
    lcShape.parts.foreach(lc.put("parts", _))
    // advisory pointer — a checkpoint only ever ACCELERATES replay,
    // so the store-appropriate whole-object replace is enough
    LogStore.current.putPointer(
      Paths.get(logDir(tableDir), "_last_checkpoint"),
      mapper.writeValueAsString(lc).getBytes("UTF-8"))
    v
  }

  /** Seed `r` from the checkpoint parquet. Fields are resolved BY
    * NAME, never by ordinal — real Delta clients write metaData/add
    * structs with more fields (name, description, stats, tags) and in
    * their own order, so ordinal reads would grab the wrong column.
    * Returns false — caller falls back to pure-JSON replay — when the
    * part files are missing or the shape is unrecognizable; a
    * checkpoint must only ever ACCELERATE a read, never change it. */
  private def seedFromCheckpoint(spark: SparkSession, tableDir: String,
                                 lc: LastCheckpoint, r: Replayer): Boolean =
    try {
      val parts = checkpointPartFiles(tableDir, lc)
      if (!parts.forall(_.isFile)) return false
      val df = spark.read.parquet(parts.map(_.getPath): _*)
      val cols = df.schema.fieldNames.toSet
      if (!cols.contains("add") || !cols.contains("metaData")) return false
      def structOpt(row: Row, name: String): Option[Row] = {
        if (!cols.contains(name)) None
        else {
          val i = row.fieldIndex(name)
          if (row.isNullAt(i)) None else Some(row.getStruct(i))
        }
      }
      val collected = df.collect()
      lastCheckpointRowsCollected = collected.length.toLong
      collected.foreach { row =>
        structOpt(row, "protocol").foreach { p =>
          val mr = p.getAs[Int]("minReaderVersion")
          require(mr >= 1 && mr <= 3,
            s"unsupported Delta minReaderVersion $mr")
          r.minReader = mr
          r.readerFeatures =
            (if (p.schema.fieldNames.contains("readerFeatures"))
               Option(p.getAs[scala.collection.Seq[String]](
                 "readerFeatures"))
             else None).map(_.toSet).getOrElse(Set.empty)
          if (mr == 3) {
            val unknown = r.readerFeatures -- SupportedReaderFeatures
            require(unknown.isEmpty,
              s"unsupported Delta readerFeatures ${unknown.mkString(",")}")
          }
        }
        structOpt(row, "metaData").foreach { m =>
          r.schema = DataType.fromJson(m.getAs[String]("schemaString"))
            .asInstanceOf[StructType]
          r.partCols =
            Option(m.getAs[scala.collection.Seq[String]]("partitionColumns"))
              .map(_.toSeq).getOrElse(Seq.empty)
          r.configuration =
            (if (m.schema.fieldNames.contains("configuration"))
               Option(m.getAs[scala.collection.Map[String, String]](
                 "configuration"))
             else None).map(_.toMap).getOrElse(Map.empty)
          r.mappingMode = r.configuration
            .getOrElse("delta.columnMapping.mode", "none")
        }
        structOpt(row, "add").foreach { a =>
          val pv =
            Option(a.getAs[scala.collection.Map[String, String]](
              "partitionValues")).map(_.toMap).getOrElse(Map.empty)
          val size =
            if (a.schema.fieldNames.contains("size") &&
              !a.isNullAt(a.fieldIndex("size"))) a.getAs[Long]("size")
            else 0L
          val stats =
            if (a.schema.fieldNames.contains("stats"))
              Option(a.getAs[String]("stats"))
            else None
          val dv =
            (if (a.schema.fieldNames.contains("deletionVector"))
               Option(a.getAs[Row]("deletionVector"))
             else None).map { d =>
              DeletionVectors.Descriptor(
                d.getAs[String]("storageType"),
                d.getAs[String]("pathOrInlineDv"),
                Option(d.getAs[Any]("offset"))
                  .map(_.asInstanceOf[Int]),
                d.getAs[Int]("sizeInBytes"),
                d.getAs[Long]("cardinality"))
            }
          r.adds.put(a.getAs[String]("path"),
            AddFile(pv, size, stats, dv))
        }
      }
      r.schema != null
    } catch {
      // an unsupported PROTOCOL is a table property, not a checkpoint
      // malformation — falling back to JSON would just re-discover it
      // slower (the protocol action replays too), so fail now
      case e: IllegalArgumentException
        if e.getMessage != null && e.getMessage.contains("minReaderVersion") =>
        throw e
      case NonFatal(_) =>
        r.schema = null; r.partCols = Seq.empty; r.adds.clear()
        false
    }

  // ---------------------------------------------------------------
  // Writer: overwrite/append/compaction commits + Snapshots export
  // ---------------------------------------------------------------

  /** Publish commit `v`. Returns false if another writer claimed `v`
    * first — the open protocol's put-if-absent commit CAS, routed
    * through [[LogStore.current]]: hard-link CAS on POSIX
    * ([[PosixLogStore]] — atomic create-if-absent whose published
    * name carries complete content in the same instant; a rename
    * would silently REPLACE an existing commit, a claim-then-fill
    * would expose an empty one), conditional PUT on object stores
    * ([[ConditionalPutStore]] — what real Delta does on S3). A
    * crashed writer leaves only a dot-tmp the version listing never
    * sees. Sibling paths (Staging.linkInto, exportSnapshots) copy
    * instead because a lost link only costs bytes there; here the
    * claim IS the commit point. */
  private[graft] def writeActions(tableDir: String, v: Long,
                           actions: Seq[ObjectNode]): Boolean = {
    Files.createDirectories(Paths.get(logDir(tableDir)))
    // every commit carries commitInfo with an IN-COMMIT timestamp:
    // [[commitTimestamps]] prefers it over file mtimes, so
    // `timestampAsOf` survives a log that was copied/rsynced
    // (mtimes reset) — the operational failure mtime-based
    // resolution cannot
    val ci = mapper.createObjectNode()
    ci.putObject("commitInfo")
      .put("timestamp", System.currentTimeMillis())
      .put("engineInfo", "graft-spark")
    val stamped =
      if (actions.exists(_.has("commitInfo"))) actions
      else ci +: actions
    val tmp = Files.createTempFile(
      Paths.get(logDir(tableDir)), s".$v-", ".json.tmp")
    val bytes =
      stamped.map(mapper.writeValueAsString).mkString("", "\n", "\n")
        .getBytes("UTF-8")
    Files.write(tmp, bytes)
    LogStore.current.claimVersion(
        commitFile(tableDir, v).toPath, tmp) || {
      // LOST-RESPONSE self-recognition: on a real object store the
      // PUT can land while the response is lost (timeout, dropped
      // connection) — the retry then finds its own commit at the
      // claimed name. Byte-compare discriminates exactly: the
      // attempted content carries this attempt's UUID part paths /
      // in-commit timestamp, so a DIFFERENT writer's commit never
      // matches, and re-claiming ownership prevents the duplicate
      // append a blind bump-and-retry would land.
      val target = commitFile(tableDir, v).toPath
      scala.util.Try(Files.readAllBytes(target)).toOption
        .exists(java.util.Arrays.equals(_, bytes))
    }
  }

  private def protocolAction(minReader: Int = 1,
                             minWriter: Int = 2): ObjectNode = {
    val p = mapper.createObjectNode()
    p.putObject("protocol").put("minReaderVersion", minReader)
      .put("minWriterVersion", minWriter)
    p
  }

  private[graft] def metaDataAction(schema: StructType, partCols: Seq[String],
      configuration: Map[String, String] = Map.empty): ObjectNode = {
    val m = mapper.createObjectNode()
    val md = m.putObject("metaData")
    md.put("id", java.util.UUID.nameUUIDFromBytes(
      schema.json.getBytes("UTF-8")).toString)
    md.putObject("format").put("provider", "parquet")
      .putObject("options")
    md.put("schemaString", schema.json)
    val pc = md.putArray("partitionColumns")
    partCols.foreach(pc.add)
    val cfg = md.putObject("configuration")
    configuration.toSeq.sortBy(_._1).foreach { case (k, v) =>
      cfg.put(k, v) }
    md.put("createdTime", 0L)
    m
  }

  private def addAction(path: String, size: Long,
                        partitionValues: Map[String, String] = Map.empty,
                        dataChange: Boolean = true,
                        stats: Option[String] = None,
                        dv: Option[DeletionVectors.Descriptor] = None)
      : ObjectNode = {
    val a = mapper.createObjectNode()
    val add = a.putObject("add")
    add.put("path", path)
    val pv = add.putObject("partitionValues")
    partitionValues.foreach { case (k, v) =>
      if (v == null) pv.putNull(k) else pv.put(k, v)
    }
    add.put("size", size)
    add.put("modificationTime", 0L)
    add.put("dataChange", dataChange)
    stats.foreach(add.put("stats", _))
    dv.foreach { d =>
      val dn = add.putObject("deletionVector")
      dn.put("storageType", d.storageType)
      dn.put("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(o => dn.put("offset", o))
      dn.put("sizeInBytes", d.sizeInBytes)
      dn.put("cardinality", d.cardinality)
    }
    a
  }

  /** Fully-spelled protocol action. At minReaderVersion 3 the
    * readerFeatures list is mandatory; at minWriterVersion 7 the
    * writerFeatures list is mandatory AND must contain every reader
    * feature too (the spec's containment rule). */
  private def protocolFull(minReader: Int, minWriter: Int,
      readerFeats: Set[String], writerFeats: Set[String]): ObjectNode = {
    val p = mapper.createObjectNode()
    val pr = p.putObject("protocol")
    pr.put("minReaderVersion", minReader)
      .put("minWriterVersion", minWriter)
    if (minReader >= 3) {
      val rf = pr.putArray("readerFeatures")
      readerFeats.toSeq.sorted.foreach(rf.add)
    }
    if (minWriter >= 7) {
      val wf = pr.putArray("writerFeatures")
      (writerFeats ++ (if (minReader >= 3) readerFeats
        else Set.empty[String])).toSeq.sorted.foreach(wf.add)
    }
    p
  }

  /** WRITER features the table's current state implies — carried
    * along whenever a commit upgrades the protocol to table features
    * (minWriter 7), so a foreign client keeps gating on EVERY
    * capability the table uses, not just the newly-activated one.
    * `appendOnly`/`invariants` are the spec's legacy-writer-2
    * baseline features, included as real Delta does on upgrade. */
  private def impliedWriterFeatures(st: State): Set[String] =
    Set("appendOnly", "invariants") ++
      (if (st.configuration.keys
          .exists(_.startsWith("delta.constraints.")))
        Set("checkConstraints") else Set.empty) ++
      (if (st.schema.fields.exists(
          _.metadata.contains("delta.generationExpression")))
        Set("generatedColumns") else Set.empty) ++
      (if (cdfWriteEnabled(st)) Set("changeDataFeed") else Set.empty) ++
      (if (st.columnMapping.nonEmpty) Set("columnMapping")
       else Set.empty)

  /** Protocol upgrade to reader 3 / writer 7 with explicit table
    * features — the spec's spelling for deletion-vector tables. The
    * upgrade PRESERVES the table's existing feature surface: prior
    * reader/writer feature lists carry over, and legacy-versioned
    * capabilities (CHECK constraints, generated columns, CDF,
    * column mapping) re-spell as their writer features. */
  private def protocolActionV3(features: Seq[String],
      st: State = null): ObjectNode = {
    val prior = Option(st)
    protocolFull(3, 7,
      features.toSet ++ prior.map(_.readerFeatures).getOrElse(Set.empty),
      features.toSet ++
        prior.map(s => s.writerFeatures ++ impliedWriterFeatures(s))
          .getOrElse(Set.empty))
  }

  /** One-feature WRITER-SIDE protocol upgrade, or None when the
    * current protocol already gates it: legacy-versioned tables bump
    * the legacy writer version (the spec's original spelling —
    * checkConstraints = 3, CDF/generatedColumns = 4), feature-listed
    * tables (minWriter 7) append the writer feature. Reader
    * requirements never grow — these are writer-only features, and a
    * foreign reader keeps reading the table untouched. */
  private def writerUpgrade(st: State, feature: String,
      legacyWriter: Int): Option[ObjectNode] =
    if (st.minWriter >= 7) {
      if (st.writerFeatures.contains(feature)) None
      else Some(protocolFull(st.minReader, 7, st.readerFeatures,
        st.writerFeatures + feature))
    } else if (st.minWriter >= legacyWriter) None
    else Some(protocolFull(st.minReader,
      math.max(st.minWriter, legacyWriter), st.readerFeatures,
      Set.empty))

  /** Delta's per-file data-skipping stats: numRecords + min/max of
    * top-level INT64 columns — the format spells them as a JSON
    * STRING inside the add action (same numbers [[Iceberg]] writes
    * as manifest value bounds). */
  private def statsJsonOf(n: Long,
                          bounds: Map[String, (Long, Long)],
                          schema: StructType = null): String = {
    val s = mapper.createObjectNode()
    s.put("numRecords", n)
    val mins = s.putObject("minValues")
    val maxs = s.putObject("maxValues")
    bounds.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
      // decimal bounds arrive UNSCALED from the writer; the stats
      // JSON spells them as scaled decimal numbers — what real
      // Delta records and what a foreign reader expects
      Option(schema).flatMap(_.fields.find(_.name == c))
        .map(_.dataType) match {
        case Some(d: org.apache.spark.sql.types.DecimalType)
            if d.precision <= 18 =>
          mins.put(c, java.math.BigDecimal.valueOf(lo, d.scale))
          maxs.put(c, java.math.BigDecimal.valueOf(hi, d.scale)): Unit
        case _ =>
          mins.put(c, lo); maxs.put(c, hi): Unit
      }
    }
    mapper.writeValueAsString(s)
  }

  /** [[statsJsonOf]] from ONE driver-side footer open — kept for
    * [[registerFiles]] (external files, one-time migration metadata);
    * every commit of a just-written batch rides [[statsJsonBatch]]'s
    * distributed job instead. */
  private def statsJson(absPath: String): String = {
    val (n, bounds) = Iceberg.parquetFooter(absPath)
    statsJsonOf(n, bounds)
  }

  /** Per-file `add.stats` for a just-written batch through
    * [[Iceberg.footerStatsBatch]]'s distributed footer job — the
    * driver collects O(files) stats rows instead of serializing
    * O(files) footer opens. Keyed by absolute file path. */
  private def statsJsonBatch(spark: SparkSession,
                             files: Seq[File]): Map[String, String] =
    Iceberg.footerStatsBatch(spark, files.map(_.getPath))
      .map { case (p, (n, b)) => p -> statsJsonOf(n, b) }

  private def removeAction(path: String,
                           dataChange: Boolean = true): ObjectNode = {
    val r = mapper.createObjectNode()
    r.putObject("remove").put("path", path)
      .put("dataChange", dataChange)
    r
  }

  /** The spec's `cdc` action: names a CHANGE DATA file (the rows this
    * commit inserted/updated/deleted, `_change_type`-tagged inside
    * the file) that CDF readers must use INSTEAD of deriving changes
    * from the commit's add/remove churn. `dataChange=false` — change
    * files are never part of table state
    * (reference CDC loop: /root/reference/spark/batch_silver.py:58-82). */
  private def cdcAction(path: String, size: Long,
      partitionValues: Map[String, String] = Map.empty): ObjectNode = {
    val c = mapper.createObjectNode()
    val cdc = c.putObject("cdc")
    cdc.put("path", path)
    val pv = cdc.putObject("partitionValues")
    partitionValues.foreach { case (k, v) =>
      if (v == null) pv.putNull(k) else pv.put(k, v)
    }
    cdc.put("size", size)
    cdc.put("dataChange", false)
    c
  }

  /** Is the Change Data Feed WRITE path on for this table?
    * `delta.enableChangeDataFeed=true` — the property real Delta
    * writers honor; when set, [[mergeInto]] and [[deleteWhere]]
    * persist their row-level changes under `_change_data/` and stamp
    * `cdc` actions so ANY Delta CDF reader (this engine's or a
    * foreign client's) reads exact row-level changes instead of
    * whole-file derivation. */
  private def cdfWriteEnabled(st: State): Boolean =
    st.configuration.get("delta.enableChangeDataFeed")
      .exists(_.trim.equalsIgnoreCase("true"))

  /** Write `changes` (table columns + `_change_type`; partition
    * columns included for partitioned tables — stripped into the
    * hive layout by `partitionBy`) as `_change_data/` files, returning
    * their `cdc` actions. Empty `changes` yields no files and no
    * actions — callers treat that as "nothing changed". */
  private def writeChangeData(changes: DataFrame, tableDir: String,
      partCols: Seq[String]): Seq[ObjectNode] = {
    val sub = s"_change_data/cdc-${java.util.UUID.randomUUID}"
    if (partCols.isEmpty) {
      changes.write.parquet(s"$tableDir/$sub")
      partFiles(tableDir, sub).map(f =>
        cdcAction(s"$sub/${f.getName}", f.length))
    } else {
      changes.write.partitionBy(partCols: _*).parquet(s"$tableDir/$sub")
      val root = new File(tableDir).getPath
      partFiles(tableDir, sub).map { f0 =>
        // per-file UUID basenames: Spark's writer reuses one task's
        // part-<id> name across EVERY partition dir it touches, and
        // the partitioned scan keys partitionValues by basename —
        // a multi-partition change batch would collide
        val f = new File(f0.getParentFile,
          s"cdc-${java.util.UUID.randomUUID}.parquet")
        Files.move(f0.toPath, f.toPath)
        val rel = f.getPath.stripPrefix(root + "/")
        // hive value dirs between the cdc subdir and the file name
        val pv = rel.split('/').filter(_.contains('=')).map { seg =>
          val eq = seg.indexOf('=')
          seg.substring(0, eq) ->
            PartitionedScan.hiveUnescape(seg.substring(eq + 1))
        }.toMap
        require(pv.keySet == partCols.toSet,
          s"change-data file $rel: hive dirs $pv do not match " +
            s"declared partition columns $partCols")
        cdcAction(rel, f.length, pv)
      }
    }
  }

  /** Parquet part files under `tableDir/sub`, recursively (a
    * partitioned write nests hive-style value directories), in
    * path order. */
  private def partFiles(tableDir: String, sub: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty)
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    walk(new File(tableDir, sub))
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
  }

  /** Commit `df` as the table's next version with OVERWRITE semantics
    * (previous adds removed — the reference's
    * `.mode("overwrite")` Delta writes, spark/batch_gold.py:156).
    * Data files land under `part-v<version>/`; the first commit also
    * carries protocol + metaData. Returns the committed version. */
  /** An unpartitioned commit against a PARTITIONED table would write
    * adds with no `partitionValues` — readers would reconstruct NULL
    * partition columns, silently wrong. Loud, here and in append. */
  private def requireUnpartitioned(tableDir: String,
                                   op: String): Option[State] =
    requirePartitionSpec(tableDir, Seq.empty, op)

  /** The commit writers' partition-spec discipline: the caller's
    * declared `partCols` must EQUAL the table's (ordered — the
    * metaData's partitionColumns is an ordered list), so an
    * unpartitioned write against a partitioned table (adds with no
    * partitionValues — readers would reconstruct NULL partition
    * columns, silently wrong) and a partitioned write against a
    * table declaring different columns both fail loudly. Mapped
    * tables refuse every writer that would spell logical names into
    * data files. First commit (no log yet) passes — it DECLARES the
    * spec. */
  /** Returns the replayed state (None on a fresh table) so callers
    * thread ONE replay through the write path instead of each helper
    * re-replaying — a hot CDC append must not pay O(history) three
    * times per commit. */
  /** Write-side enforcement of the table's declared invariants —
    * `delta.constraints.<name>` CHECK expressions (the reference's
    * own Postgres schema carries CHECKs, postgres_init/init.sql:134
    * `review_score BETWEEN 1 AND 5`; a lakehouse engine must REFUSE
    * bad writes, not just filter them later) and
    * `delta.generationExpression` column metadata (Delta's generated
    * columns: a provided value that disagrees with its expression is
    * refused). ONE aggregate pass over the incoming batch computes
    * every violation count (no shuffle — partial counts to the
    * driver); zero invariants costs zero. CHECK fails only on FALSE:
    * a NULL/UNKNOWN result passes, the SQL standard's semantics. */
  private def enforceWriteInvariants(df: DataFrame, st: State): Unit = {
    import org.apache.spark.sql.functions.{count, expr, lit, not, when}
    val constraints = st.configuration.toSeq.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    }.sortBy(_._1)
    val gens = st.schema.fields.toSeq.flatMap { f =>
      if (f.metadata.contains("delta.generationExpression"))
        Some(f.name -> f.metadata.getString("delta.generationExpression"))
      else None
    }
    if (constraints.isEmpty && gens.isEmpty) return
    val aggs = constraints.map { case (n, c) =>
      count(when(expr(c) <=> lit(false), 1)).as(s"c_$n")
    } ++ gens.map { case (n, g) =>
      count(when(not(col(n) <=> expr(g)), 1)).as(s"g_$n")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    constraints.zipWithIndex.foreach { case ((n, c), i) =>
      require(row.getLong(i) == 0L,
        s"CHECK constraint '$n' ($c) violated by ${row.getLong(i)} " +
          "incoming row(s) — write refused")
    }
    gens.zipWithIndex.foreach { case ((n, g), i) =>
      val bad = row.getLong(constraints.size + i)
      require(bad == 0L,
        s"generated column '$n' must equal $g; $bad incoming row(s) " +
          "disagree — write refused")
    }
  }

  /** ALTER TABLE ADD CONSTRAINT: validate EXISTING rows satisfy the
    * CHECK (real Delta's rule — a constraint that the current data
    * already violates must not be recordable), then commit the
    * `delta.constraints.<name>` property. Every subsequent
    * append/overwrite/merge enforces it. */
  def addCheckConstraint(spark: SparkSession, tableDir: String,
                         name: String, check: String): Long = {
    import org.apache.spark.sql.functions.{expr, lit}
    require(name.nonEmpty && !name.contains(' '),
      s"constraint name '$name' must be a bare identifier")
    var v = -1L
    var done = false
    while (!done) {
      // validate INSIDE the claim loop: a lost CAS means rows landed
      // between validation and commit — they must be re-checked, or
      // a racing violating write slips under the new constraint
      val vs = versions(tableDir)
      require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
      val st = replay(tableDir, vs.last)
      val bad = read(spark, tableDir)
        .filter(expr(check) <=> lit(false)).limit(1).collect()
      require(bad.isEmpty,
        s"cannot add CHECK constraint '$name' ($check): existing " +
          s"rows already violate it (e.g. ${bad.headOption.getOrElse("")})")
      v = vs.last + 1
      commitClaimHook(tableDir, v)
      // the spec's writer gate: CHECK constraints require writer 3
      // (legacy) / the checkConstraints writer feature — a foreign
      // writer that would not enforce the constraint must refuse
      done = writeActions(tableDir, v,
        writerUpgrade(st, "checkConstraints", 3).toSeq :+
        metaDataAction(st.schema, st.partitionColumns,
          st.configuration + (s"delta.constraints.$name" -> check)))
      if (!done) commitCasRetries.incrementAndGet()
    }
    v
  }

  /** Declare `colName` GENERATED AS `generationExpr` (metadata-only
    * commit stamping `delta.generationExpression` into the column's
    * schema metadata). Existing rows must already satisfy it. */
  def addGenerationExpression(spark: SparkSession, tableDir: String,
                              colName: String,
                              generationExpr: String): Long = {
    import org.apache.spark.sql.functions.{expr, not}
    var v = -1L
    var done = false
    while (!done) {
      // the addCheckConstraint discipline: re-derive state AND
      // re-validate existing rows per claim attempt, so neither a
      // racing schema change nor racing violating rows slip under
      val vs = versions(tableDir)
      require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
      val st = replay(tableDir, vs.last)
      require(st.schema.fieldNames.contains(colName),
        s"generated column $colName not in table schema")
      val bad = read(spark, tableDir)
        .filter(not(col(colName) <=> expr(generationExpr)))
        .limit(1).collect()
      require(bad.isEmpty,
        s"cannot declare $colName generated as $generationExpr: " +
          s"existing rows disagree (e.g. ${bad.headOption.getOrElse("")})")
      val schemaOut = StructType(st.schema.fields.map { f =>
        if (f.name != colName) f
        else f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("delta.generationExpression", generationExpr)
            .build())
      })
      v = vs.last + 1
      commitClaimHook(tableDir, v)
      // generated columns gate foreign writers at writer 4 (legacy)
      // / the generatedColumns writer feature
      done = writeActions(tableDir, v,
        writerUpgrade(st, "generatedColumns", 4).toSeq :+
        metaDataAction(schemaOut, st.partitionColumns,
          st.configuration))
      if (!done) commitCasRetries.incrementAndGet()
    }
    v
  }

  private def requirePartitionSpec(tableDir: String,
      partCols: Seq[String], op: String): Option[State] = {
    val vs = versions(tableDir)
    if (vs.isEmpty) None
    else {
      val st = replay(tableDir, vs.last)
      // the spec's writer gate applies to APPENDS too (since round
      // 17): a table whose protocol demands an unimplemented writer
      // capability (rowTracking, icebergCompatV2, identity columns'
      // minWriterVersion 6, ...) refuses even blind adds — appending
      // past the feature could corrupt the invariant it protects for
      // foreign readers. Every append entry point funnels through
      // this replay, so the gate costs nothing extra.
      requireWriterSupported(st, tableDir, op)
      require(st.partitionColumns == partCols,
        if (partCols.isEmpty)
          s"$op on PARTITIONED table $tableDir (partitioned by " +
            s"${st.partitionColumns}) — use the Partitioned variant " +
            "so adds carry partitionValues"
        else
          s"$op declares partition columns $partCols but table " +
            s"$tableDir is partitioned by ${st.partitionColumns} — " +
            "adds must carry exactly the declared spec's " +
            "partitionValues")
      Some(st)
    }
  }

  /** Mapped-table write adapter: when `tableDir`'s current state is
    * column-mapped, require the incoming LOGICAL columns cover the
    * table schema and spell the rows physically ([[physicalRows]]),
    * so appends/overwrites/merges land files a foreign mapped reader
    * resolves. Unmapped (or fresh) tables pass through. Mapped
    * tables are unpartitioned by replay contract, so every caller is
    * a `partCols.isEmpty` write branch. */
  private def writeRows(df: DataFrame, tableDir: String,
                        state: Option[State]): DataFrame =
    state match {
      case Some(st) if st.columnMapping.nonEmpty =>
        require(st.schema.fieldNames.forall(df.columns.contains),
          s"mapped write to $tableDir: incoming columns " +
            s"${df.columns.toSeq} must cover the table's logical " +
            s"schema ${st.schema.fieldNames.toSeq}")
        physicalRows(df, st)
      case _ => df
    }

  def commitOverwrite(df: DataFrame, tableDir: String): Long =
    commitOverwriteExtra(df, tableDir, Seq.empty)

  /** [[commitOverwrite]] with extra actions (cdc change-data stamps)
    * riding the SAME commit — change files and the file churn they
    * describe must be atomic or a CDF reader sees a torn version. */
  private def commitOverwriteExtra(df: DataFrame, tableDir: String,
      extra: Seq[ObjectNode]): Long = {
    val st0 = requireUnpartitioned(tableDir, "commitOverwrite")
    st0.foreach(enforceWriteInvariants(df, _))
    // data dir named by UUID, not by version: two racing writers must
    // not collide at the DATA write — only the log CAS decides order
    val sub = s"part-${java.util.UUID.randomUUID}"
    writeRows(df, tableDir, st0).write.parquet(s"$tableDir/$sub")
    val fs = partFiles(tableDir, sub)
    val stats = statsJsonBatch(df.sparkSession, fs)
    val adds = fs.map(f => addAction(s"$sub/${f.getName}", f.length,
      stats = Some(stats(f.getPath))))
    maybeWriteBlooms(df.sparkSession, tableDir, fs, st0)
    // lost CAS ⇒ another writer advanced the log; recompute the
    // version AND the removes from the new latest state and retry —
    // the loop makes progress by construction (each failure means a
    // new committed version exists)
    var v = -1L
    var done = false
    while (!done) {
      val vs = versions(tableDir)
      v = if (vs.isEmpty) 0L else vs.last + 1
      val head: Seq[ObjectNode] =
        if (vs.isEmpty)
          Seq(protocolAction(), metaDataAction(df.schema, Seq.empty))
        else replay(tableDir, vs.last).files.map(p => removeAction(p))
      commitClaimHook(tableDir, v)
      done = writeActions(tableDir, v, head ++ adds ++ extra)
      if (!done) commitCasRetries.incrementAndGet()
    }
    v
  }

  /** Commit `df` as the table's next version with APPEND semantics:
    * add actions only, prior files untouched — the protocol's blind
    * append (`.mode("append")`), which never conflicts with another
    * append and so retries only the cheap version claim, never the
    * data write. First commit on an empty table also carries
    * protocol + metaData. Returns the committed version. */
  def commitAppend(df: DataFrame, tableDir: String): Long =
    commitAppendCore(df, tableDir, Seq.empty)

  /** [[commitAppend]] for a PARTITIONED table — the CDC-sink append
    * a 100 TB silver needs: `df` is written `partitionBy(partCols)`
    * (data files do NOT contain the partition columns — the spec's
    * layout) and every add carries its file's `partitionValues`, so
    * partition pruning ([[readWhere]], the stream planners, the
    * merge probe) composes with every append. The declared spec must
    * equal the table's. */
  def commitAppendPartitioned(df: DataFrame, tableDir: String,
                              partCols: Seq[String]): Long = {
    require(partCols.nonEmpty,
      "partitioned append needs partition columns")
    commitAppendCore(df, tableDir, partCols)
  }

  private def commitAppendCore(df: DataFrame, tableDir: String,
                               partCols: Seq[String]): Long = {
    val st0 = requirePartitionSpec(tableDir, partCols, "commitAppend")
    st0.foreach(enforceWriteInvariants(df, _))
    val sub = s"part-${java.util.UUID.randomUUID}"
    val adds: Seq[ObjectNode] =
      if (partCols.isEmpty) {
        writeRows(df, tableDir, st0).write.parquet(s"$tableDir/$sub")
        val fs = partFiles(tableDir, sub)
        val stats = statsJsonBatch(df.sparkSession, fs)
        fs.map(f => addAction(s"$sub/${f.getName}", f.length,
          stats = Some(stats(f.getPath))))
      } else {
        df.write.partitionBy(partCols: _*).parquet(s"$tableDir/$sub")
        partitionedAdds(df.sparkSession, tableDir, sub, partCols,
          dataChange = true)
      }
    maybeWriteBlooms(df.sparkSession, tableDir, partFiles(tableDir, sub),
      st0)
    var v = -1L
    var done = false
    while (!done) {
      val vs = versions(tableDir)
      v = if (vs.isEmpty) 0L else vs.last + 1
      val head: Seq[ObjectNode] =
        if (vs.isEmpty)
          Seq(protocolAction(), metaDataAction(df.schema, partCols))
        else Seq.empty
      commitClaimHook(tableDir, v)
      done = writeActions(tableDir, v, head ++ adds)
      if (!done) commitCasRetries.incrementAndGet()
    }
    v
  }

  /** One file the DSv2 WRITER produced: log-relative path, size,
    * the file's partition values (null allowed), and the stats the
    * writer tracked while writing (numRecords + long bounds — no
    * post-write footer pass needed). */
  private[graft] case class Dsv2File(relPath: String, size: Long,
      partitionValues: Map[String, String], numRecords: Long,
      bounds: Map[String, (Long, Long)])

  /** Commit files the DSv2 write connector produced — the log half
    * of `df.write.format("graft-delta")`. The data files are already
    * on disk (invisible until this commit lands); this validates and
    * commits:
    *
    *  - partition spec must equal the table's (or creates the table
    *    with `partCols` on an empty dir);
    *  - schema SHAPE must equal the table's — DSv2 writes never
    *    evolve schema silently ([[evolveSchema]] is the explicit
    *    path);
    *  - CHECK constraints / generated columns are enforced by
    *    READING BACK the just-written files (they are invisible to
    *    readers until the commit, so the check is race-free) with
    *    the same [[enforceWriteInvariants]] every library writer
    *    uses — a violating DSv2 write deletes its files and refuses;
    *  - bloom sidecars are written for bloom-configured tables;
    *  - the version claim rides the same [[LogStore]] CAS loop as
    *    every other commit (overwrite recomputes removes per retry).
    */
  private[graft] def commitDsv2(spark: SparkSession, tableDir: String,
      logicalSchema: StructType, partCols: Seq[String],
      files: Seq[Dsv2File], overwrite: Boolean): Long = {
    val op = if (overwrite) "dsv2 overwrite" else "dsv2 append"
    val st0 = requirePartitionSpec(tableDir, partCols, op)
    st0.foreach { st =>
      // compare LOGICAL shapes: schemaShape keys mapped schemas by
      // physical name, but the incoming DSv2 schema is logical
      require(schemaShape(stripFieldMetadata(st.schema)) ==
          schemaShape(stripFieldMetadata(logicalSchema)),
        s"$op to $tableDir: incoming schema shape " +
          s"${stripFieldMetadata(logicalSchema)} does not match the " +
          s"table's ${stripFieldMetadata(st.schema)} — use " +
          "evolveSchema for schema changes")
    }
    def resolveAbs(rel: String) = s"$tableDir/$rel"
    st0.foreach(st =>
      enforceDsv2Invariants(spark, tableDir, st, partCols, files, op))
    maybeWriteBlooms(spark, tableDir,
      files.map(f => new File(resolveAbs(f.relPath))), st0)
    val adds = files.map(f => addAction(f.relPath, f.size,
      f.partitionValues, dataChange = true,
      stats = Some(statsJsonOf(f.numRecords, f.bounds,
        logicalSchema))))
    var v = -1L
    var done = false
    while (!done) {
      val vs = versions(tableDir)
      v = if (vs.isEmpty) 0L else vs.last + 1
      val head: Seq[ObjectNode] =
        if (vs.isEmpty)
          Seq(protocolAction(), metaDataAction(
            stripFieldMetadata(logicalSchema).asInstanceOf[StructType],
            partCols))
        else if (overwrite)
          replay(tableDir, vs.last).files.map(p => removeAction(p))
        else Seq.empty
      commitClaimHook(tableDir, v)
      done = writeActions(tableDir, v, head ++ adds)
      if (!done) commitCasRetries.incrementAndGet()
    }
    v
  }

  /** [[commitDsv2]] with the EXACTLY-ONCE txn watermark — the
    * native DSv2 STREAMING sink's commit
    * (`df.writeStream.format("graft-delta")`): the commit carries a
    * `txn` action (appId = the streaming query id, version = the
    * epoch id), a redelivered epoch — a restarted micro-batch, a
    * racing instance of the same query — is detected and SKIPPED
    * both up front and again inside the claim loop (the loser
    * deletes its orphan files and walks away), exactly the
    * [[commitAppendIdempotent]] discipline over executor-written
    * files. Returns Some(version) when this call committed, None
    * when the epoch was already recorded. */
  private[graft] def commitDsv2Idempotent(spark: SparkSession,
      tableDir: String, logicalSchema: StructType,
      partCols: Seq[String], files: Seq[Dsv2File], appId: String,
      txnVersion: Long): Option[Long] = {
    def dropFiles(): Unit = files.foreach(f =>
      Files.deleteIfExists(Paths.get(s"$tableDir/${f.relPath}")): Unit)
    if (latestTxnVersion(tableDir, appId).exists(_ >= txnVersion)) {
      dropFiles()
      return None
    }
    val op = "dsv2 streaming append"
    val st0 = requirePartitionSpec(tableDir, partCols, op)
    st0.foreach { st =>
      require(schemaShape(stripFieldMetadata(st.schema)) ==
          schemaShape(stripFieldMetadata(logicalSchema)),
        s"$op to $tableDir: incoming schema shape " +
          s"${stripFieldMetadata(logicalSchema)} does not match the " +
          s"table's ${stripFieldMetadata(st.schema)}")
      enforceDsv2Invariants(spark, tableDir, st, partCols, files, op)
    }
    maybeWriteBlooms(spark, tableDir,
      files.map(f => new File(s"$tableDir/${f.relPath}")), st0)
    val txn = mapper.createObjectNode()
    txn.putObject("txn").put("appId", appId)
      .put("version", txnVersion).put("lastUpdated", 0L)
    val adds = files.map(f => addAction(f.relPath, f.size,
      f.partitionValues, dataChange = true,
      stats = Some(statsJsonOf(f.numRecords, f.bounds,
        logicalSchema))))
    var v = -1L
    var done = false
    while (!done) {
      // re-check INSIDE the loop: losing the CAS may mean a racing
      // instance of the SAME query just recorded this very epoch
      if (latestTxnVersion(tableDir, appId).exists(_ >= txnVersion)) {
        dropFiles()
        return None
      }
      val vs = versions(tableDir)
      v = if (vs.isEmpty) 0L else vs.last + 1
      val head: Seq[ObjectNode] =
        if (vs.isEmpty)
          Seq(protocolAction(), metaDataAction(
            stripFieldMetadata(logicalSchema).asInstanceOf[StructType],
            partCols))
        else Seq.empty
      commitClaimHook(tableDir, v)
      done = writeActions(tableDir, v, (head :+ txn) ++ adds)
      if (!done) commitCasRetries.incrementAndGet()
    }
    Some(v)
  }

  /** CHECK-constraint / generated-column enforcement for files a
    * DSv2 writer already landed (invisible until the commit): read
    * back exactly those files with the table schema and run the same
    * [[enforceWriteInvariants]] every library writer uses. A
    * violating batch deletes its files and refuses — nothing to
    * vacuum, nothing half-committed. Zero invariants costs zero. */
  private def enforceDsv2Invariants(spark: SparkSession,
      tableDir: String, st: State, partCols: Seq[String],
      files: Seq[Dsv2File], op: String): Unit = {
    val hasInvariants =
      st.configuration.keys.exists(_.startsWith("delta.constraints.")) ||
        st.schema.fields.exists(
          _.metadata.contains("delta.generationExpression"))
    if (!hasInvariants) return
    require(st.columnMapping.isEmpty,
      s"$op: column-mapped tables with constraints/generated " +
        "columns write through the library API " +
        "(DeltaLog.commitAppend), not the DSv2 connector")
    def resolveAbs(rel: String) = s"$tableDir/$rel"
    val dataSchema = StructType(st.schema
      .filterNot(f => partCols.contains(f.name)))
    val checked =
      if (files.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[Row](), st.schema)
      else if (partCols.isEmpty)
        spark.read.schema(dataSchema)
          .parquet(files.map(f => resolveAbs(f.relPath)): _*)
      else
        PartitionedScan.scan(spark, st.schema, partCols,
          files.map(f => (resolveAbs(f.relPath), f.partitionValues)))
    try enforceWriteInvariants(checked, st)
    catch {
      case e: Throwable =>
        files.foreach(f =>
          Files.deleteIfExists(Paths.get(resolveAbs(f.relPath))))
        throw e
    }
  }

  /** CREATE TABLE — a METADATA-ONLY version-0 commit (protocol +
    * metaData with the declared schema/partitioning/properties and
    * zero files), the SQL catalog's DDL primitive and exactly what
    * real Delta writes for `CREATE TABLE ... USING delta`. The claim
    * rides the same [[LogStore]] CAS as every commit, so two racing
    * CREATEs resolve to one winner and one loud loser. */
  def createTable(tableDir: String, schema: StructType,
                  partCols: Seq[String],
                  properties: Map[String, String] = Map.empty): Long = {
    require(versions(tableDir).isEmpty,
      s"CREATE TABLE: $tableDir already has _delta_log commits")
    val missing = partCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"CREATE TABLE: partition columns ${missing.mkString(", ")} " +
        "not in the declared schema")
    val clean =
      stripFieldMetadata(schema).asInstanceOf[StructType]
    // a declared mapping mode annotates the schema AT CREATION (the
    // moment Delta fixes the mode): every field minted an id +
    // physicalName, protocol raised to the mapping feature level
    val mode = properties.get("delta.columnMapping.mode")
      .map(_.trim.toLowerCase)
    mode.foreach(m => require(m == "name" || m == "id",
      s"CREATE TABLE: delta.columnMapping.mode must be name or id, " +
        s"got '$m'"))
    // the DECLARED properties may activate writer capabilities from
    // the first commit: the protocol's writer version gates foreign
    // writers at the spec's level (CHECK constraints = 3, CDF = 4)
    val baseWriter = math.max(2, math.max(
      if (properties.keys.exists(_.startsWith("delta.constraints.")))
        3 else 2,
      if (properties.get("delta.enableChangeDataFeed")
          .exists(_.equalsIgnoreCase("true"))) 4 else 2))
    val (recorded, props, protocol) = mode match {
      case Some(_) =>
        require(!clean.fields.exists(f => mapKeyStruct(f.dataType)),
          "structs under map KEYS with column mapping are out of scope")
        require(partCols.isEmpty,
          "CREATE TABLE: mapped tables are unpartitioned (the " +
            "mapped writers' replay contract)")
        val (annotated, maxId) = annotateMapped(clean, 0L, path =>
          s"col-${java.util.UUID.nameUUIDFromBytes(
            path.getBytes("UTF-8"))}")
        (annotated.asInstanceOf[StructType],
          properties +
            ("delta.columnMapping.maxColumnId" -> maxId.toString),
          protocolAction(minReader = 2,
            minWriter = math.max(5, baseWriter)))
      case None =>
        (clean, properties, protocolAction(minWriter = baseWriter))
    }
    commitClaimHook(tableDir, 0L)
    require(writeActions(tableDir, 0L,
      Seq(protocol, metaDataAction(recorded, partCols, props))),
      s"CREATE TABLE lost the version-0 claim on $tableDir — a " +
        "concurrent writer created this table first")
    0L
  }

  /** Declared row-identity columns for CDF derivation (this
    * engine's spelling of Iceberg's identifier fields): when set on
    * a CDF-enabled table, a SQL MERGE's copy-on-write change set
    * classifies EXACTLY — post-rows whose key existed among the
    * replaced rows are update_postimage, fresh keys are insert (and
    * symmetrically preimage vs delete). Without it a mixed
    * update+insert MERGE has no sound row pairing and falls back to
    * the NET-CHANGES contract (delete + insert rows — what
    * Iceberg's changelog emits without identifier fields). */
  private[graft] val CdfKeyColsProp = "graft.cdf.keyColumns"

  /** Derive the `_change_data` of a COPY-ON-WRITE replace from the
    * replaced-vs-replacement ROW MULTISETS — real Delta's CDF
    * contract for SQL DML re-expressed over Spark's group-based
    * rewrite (which hands the connector final rows, not per-row
    * tags):
    *
    *  - copied survivors appear in both sets and cancel
    *    (`exceptAll` both ways — multiset difference);
    *  - DELETE: every net pre-row is a `delete` (a delete adds
    *    nothing — `require`d);
    *  - UPDATE: net pre-rows are `update_preimage`, net post-rows
    *    `update_postimage` (an update preserves row count —
    *    `require`d);
    *  - MERGE: exact tags under [[CdfKeyColsProp]] (key joins split
    *    postimages from inserts); otherwise the documented
    *    net-changes fallback (delete + insert).
    *
    * KNOWN derivation limit (inherent to rewrite-diffing, shared
    * with Iceberg's changelog): an update that leaves a row
    * byte-identical produces NO change rows — it is
    * indistinguishable from a copied survivor.
    *
    * Cost: one scan of the rewrite GROUP and one of its
    * replacement + a hash diff — proportional to the pruned group,
    * never the table; paid only when CDF is on. */
  private def cowChangeActions(spark: SparkSession, tableDir: String,
      st: State, groupRel: Seq[String], files: Seq[Dsv2File],
      op: String): Seq[ObjectNode] = {
    val dataCols = st.schema.fieldNames.toSeq.map(col)
    val pre0 = scanState(spark, tableDir,
      st.copy(adds = groupRel.map(p => p -> st.adds(p)).toMap))
      .select(dataCols: _*)
    val post0 = scanState(spark, tableDir,
      st.copy(adds = files.map(f => f.relPath ->
        AddFile(f.partitionValues, f.size)).toMap))
      .select(dataCols: _*)
    // cached: the classification consumes each net set several
    // times (guards, key joins, the change-file write) — without
    // this every consumer re-scans the group's parquet
    val pre = pre0.exceptAll(post0).persist()
    val post = post0.exceptAll(pre0).persist()
    try cowChangeWrite(spark, tableDir, st, pre, post, op)
    finally {
      pre.unpersist()
      post.unpersist(): Unit
    }
  }

  private def cowChangeWrite(spark: SparkSession, tableDir: String,
      st: State, pre: DataFrame, post: DataFrame,
      op: String): Seq[ObjectNode] = {
    val cmd = op.stripPrefix("SQL ").trim
    def tag(df: DataFrame, ct: String): DataFrame =
      df.withColumn("_change_type", lit(ct))
    val changes: DataFrame = cmd match {
      case "DELETE" =>
        require(post.isEmpty,
          s"$op on $tableDir: a DELETE's replacement introduced " +
            "rows — the rewrite is not a delete")
        tag(pre, "delete")
      case "UPDATE" =>
        require(pre.count() == post.count(),
          s"$op on $tableDir: an UPDATE must preserve row count — " +
            "the rewrite is not an update")
        tag(pre, "update_preimage")
          .unionByName(tag(post, "update_postimage"))
      case _ =>
        st.configuration.get(CdfKeyColsProp)
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .filter(_.nonEmpty) match {
          case Some(keys) =>
            val missing = keys.filterNot(st.schema.fieldNames.contains)
            require(missing.isEmpty,
              s"$CdfKeyColsProp names ${missing.mkString(", ")} — " +
                "not in the table schema")
            val preKeys = pre.select(keys.map(col): _*).distinct()
            val postKeys = post.select(keys.map(col): _*).distinct()
            tag(pre.join(postKeys, keys, "left_semi"),
                "update_preimage")
              .unionByName(tag(pre.join(postKeys, keys, "left_anti"),
                "delete"))
              .unionByName(tag(post.join(preKeys, keys, "left_semi"),
                "update_postimage"))
              .unionByName(tag(post.join(preKeys, keys, "left_anti"),
                "insert"))
          case None =>
            // net-changes fallback: no declared row identity — a
            // mixed update+insert MERGE cannot be soundly paired
            tag(pre, "delete").unionByName(tag(post, "insert"))
        }
    }
    writeChangeData(
      if (st.columnMapping.isEmpty) changes
      else physicalRows(changes, st),
      tableDir, st.partitionColumns)
  }

  /** Commit a COPY-ON-WRITE file replacement the SQL row-level ops
    * (DELETE/UPDATE/MERGE through the DSv2 catalog) produced: the
    * scanned rewrite-group files are REMOVED and the rewritten rows'
    * files (already on disk, invisible) are ADDED, one atomic
    * commit. `removedPaths` are the paths as the SCAN planned them
    * (absolute or table-relative) and are resolved back to the log's
    * own add keys — a path the base snapshot does not hold refuses
    * loudly rather than committing a remove nothing tracks.
    *
    * Invariants are enforced on the REWRITTEN rows (an UPDATE must
    * not forge a row a CHECK constraint refuses); bloom sidecars are
    * written for bloom-configured tables, so a rewrite keeps the
    * scattered-key delete path pruned. CDF-enabled tables derive
    * their row-level change files from the rewrite itself
    * ([[cowChangeActions]]) and stamp cdc actions, so any Delta CDF
    * reader — this engine's or a foreign client's — reads exact
    * row-level changes instead of mis-deriving the file churn.
    *
    * CONCURRENCY: the [[commitRowOp]] conflict-proving discipline —
    * a lost CAS re-proves every winner disjoint (no shared removes,
    * no metadata change, every winner-added file provably outside
    * `couldMatch`) and retries internally; genuine conflicts abort
    * loudly for a re-run against the new state. The derived change
    * files stay valid across internal retries: a provably-disjoint
    * winner never touches the rewrite group they diff. */
  private[graft] def commitReplaceDsv2(spark: SparkSession,
      tableDir: String, base: Long, removedPaths: Seq[String],
      files: Seq[Dsv2File],
      couldMatch: (String, AddFile) => Boolean, op: String): Long = {
    if (removedPaths.isEmpty && files.isEmpty) return base
    val st = replay(tableDir, base)
    requireWriterSupported(st, tableDir, op)
    if (removedPaths.nonEmpty) requireNotAppendOnly(st, tableDir, op)
    val removedRel = removedPaths.map { p =>
      val rel = p.stripPrefix(s"$tableDir/")
      if (st.adds.contains(rel)) rel
      else if (st.adds.contains(p)) p
      else throw new IllegalStateException(
        s"$op: rewrite group names $p, which snapshot v$base of " +
          s"$tableDir does not hold — the scan and the commit " +
          "disagree on the base state")
    }
    enforceDsv2Invariants(spark, tableDir, st, st.partitionColumns,
      files, op)
    maybeWriteBlooms(spark, tableDir,
      files.map(f => new File(s"$tableDir/${f.relPath}")), Some(st))
    val cdcActs: Seq[ObjectNode] =
      if (!cdfWriteEnabled(st)) Seq.empty
      else cowChangeActions(spark, tableDir, st, removedRel, files, op)
    val actions = removedRel.map(p => removeAction(p)) ++
      files.map(f => addAction(f.relPath, f.size, f.partitionValues,
        dataChange = true,
        stats = Some(statsJsonOf(f.numRecords, f.bounds,
        st.schema)))) ++ cdcActs
    commitRowOp(tableDir, base, actions, removedRel.toSet,
      couldMatch, op)
  }

  /** Commit a POSITION-DELTA MERGE (the SupportsDelta write —
    * [[graft.streaming.DeltaPositionMergeOperation]]): the merge's
    * per-row verdicts arrive as (file → deleted-position bitmap),
    * (file → updated-position bitmap) and the new files holding
    * inserted/updated rows. The touched files are NOT rewritten —
    * their dead positions become DELETION VECTORS (remove+re-add of
    * the same path with the DV descriptor, unioned over any existing
    * DV — the Delta spec's stacked-delete contract, reader 3 /
    * writer 7 `deletionVectors`).
    *
    * CDF (when `delta.enableChangeDataFeed`): EXACT tags with no
    * declared keys and no rewrite diffing —
    *
    *  - `delete` / `update_preimage`: ONE bounded scan of the
    *    touched files tags each row by which bitmap holds its
    *    position (the verdicts themselves, re-read by position);
    *  - `update_postimage` / `insert`: the new files, kept separate
    *    by the writer precisely so the tag boundary is a file
    *    boundary.
    *
    * Cost: O(touched files) data read for pre-images + O(new rows)
    * written — never the table. A byte-identical UPDATE still emits
    * its pre/post pair: the merge's verdict decides, not a diff. */
  private[graft] def commitMergeDeltaDsv2(spark: SparkSession,
      tableDir: String, base: Long,
      deleted: Seq[(String, Array[Byte])],
      updated: Seq[(String, Array[Byte])],
      insFiles: Seq[Dsv2File], updFiles: Seq[Dsv2File],
      couldMatch: (String, AddFile) => Boolean, op: String): Long = {
    val st = replay(tableDir, base)
    requireWriterSupported(st, tableDir, op)
    // column-mapped tables ride the SAME position-delta path: the
    // writer already spells physical names (Dsv2WriteSchemas), the
    // DV tombstones key on positions (name-independent), and the
    // CDF pre-image scan below reads physically / by field id and
    // surfaces logical names — rename between merges is a
    // metadata-only commit the whole pipeline is indifferent to
    def toRel(p: String): String = {
      val rel = p.stripPrefix(s"$tableDir/")
      if (st.adds.contains(rel)) rel
      else if (st.adds.contains(p)) p
      else throw new IllegalStateException(
        s"$op: merge verdicts name $p, which snapshot v$base of " +
          s"$tableDir does not hold")
    }
    def fold(ms: Seq[(String, Array[Byte])])
        : Map[String, DeletionVectors.Bitmap64] =
      ms.groupBy(m => toRel(m._1)).map { case (rel, parts) =>
        val bm = new DeletionVectors.Bitmap64
        parts.foreach(p =>
          bm.or(DeletionVectors.Bitmap64.fromPortable(p._2)))
        rel -> bm
      }
    val delBms = fold(deleted)
    val updBms = fold(updated)
    // MergeRows' contract: one verdict per target row — hold it
    delBms.foreach { case (rel, bm) =>
      updBms.get(rel).foreach(u => require(
        !bm.toPositions.exists(u.contains),
        s"$op: a row of $rel is both deleted and updated"))
    }
    val touched: Map[String, DeletionVectors.Bitmap64] =
      (delBms.keySet ++ updBms.keySet).map { rel =>
        val bm = new DeletionVectors.Bitmap64
        delBms.get(rel).foreach(bm.or)
        updBms.get(rel).foreach(bm.or)
        rel -> bm
      }.toMap
    val newFiles = insFiles ++ updFiles
    if (touched.isEmpty && newFiles.isEmpty) return base
    if (touched.nonEmpty) requireNotAppendOnly(st, tableDir, op)
    enforceDsv2Invariants(spark, tableDir, st, st.partitionColumns,
      newFiles, op)
    maybeWriteBlooms(spark, tableDir,
      newFiles.map(f => new File(s"$tableDir/${f.relPath}")), Some(st))
    def resolveP(p: String) =
      if (p.startsWith("/") || p.contains("://")) p else s"$tableDir/$p"
    def baseName(rel: String) =
      rel.substring(rel.lastIndexOf('/') + 1)
    val cdcActs: Seq[ObjectNode] =
      if (!cdfWriteEnabled(st)) Seq.empty
      else {
        val dataCols = st.schema.fieldNames.toSeq.map(col)
        def newRows(files: Seq[Dsv2File],
                    tag: String): Option[DataFrame] =
          if (files.isEmpty) None
          else Some(scanState(spark, tableDir,
            st.copy(adds = files.map(f => f.relPath ->
              AddFile(f.partitionValues, f.size)).toMap))
            .select(dataCols: _*)
            .withColumn("_change_type", lit(tag)))
        val preRows: Option[DataFrame] =
          if (touched.isEmpty) None
          else {
            import org.apache.spark.sql.functions.when
            val delBc = spark.sparkContext.broadcast(
              delBms.map { case (r, b) => baseName(r) -> b })
            val updBc = spark.sparkContext.broadcast(
              updBms.map { case (r, b) => baseName(r) -> b })
            val adds = touched.keySet.toSeq.sorted
              .map(r => r -> st.adds(r))
            def withId(d: DataFrame): DataFrame = d
              .withColumn("_dw_f", col("_metadata.file_name"))
              .withColumn("_dw_p", col("_metadata.row_index"))
            val live =
              if (st.columnMapping.nonEmpty)
                // mapped (always unpartitioned, replay-enforced):
                // physical / field-id read, row identity taken
                // BEFORE the logical-name projection — the same
                // decomposition deleteWhere uses
                withId(mappedScanRaw(spark, tableDir,
                    st.copy(adds = adds.toMap)))
                  .select(mappedCols(st) ++
                    Seq(col("_dw_f"), col("_dw_p")): _*)
              else if (st.partitionColumns.isEmpty)
                withId(spark.read.schema(st.schema)
                  .parquet(adds.map(t => resolveP(t._1)): _*))
              else PartitionedScan.scan(spark, st.schema,
                st.partitionColumns,
                adds.map { case (p, a) =>
                  (resolveP(p), a.partitionValues) },
                preProject = withId,
                carryCols = Seq("_dw_f", "_dw_p"))
            Some(live.withColumn("_change_type",
                when(graft.functions.DvExprs.deleted(
                  col("_dw_f"), col("_dw_p"), delBc), lit("delete"))
                .when(graft.functions.DvExprs.deleted(
                  col("_dw_f"), col("_dw_p"), updBc),
                  lit("update_preimage")))
              .filter(col("_change_type").isNotNull)
              .select(dataCols :+ col("_change_type"): _*))
          }
        val parts = Seq(preRows, newRows(updFiles, "update_postimage"),
          newRows(insFiles, "insert")).flatten
        if (parts.isEmpty) Seq.empty
        else {
          val all = parts.reduce(_ unionByName _)
          // mapped tables spell their CHANGE files physically too
          // (the CDF reader logicalizes under the reading state's
          // mapping — rename-safe), exactly as the COW path does
          writeChangeData(
            if (st.columnMapping.isEmpty) all
            else physicalRows(all, st),
            tableDir, st.partitionColumns)
        }
      }
    // DV union with any existing vector (stacked deletes/merges)
    val newDvs = touched.toSeq.sortBy(_._1).map { case (rel, bm) =>
      st.adds(rel).dv.foreach(d =>
        bm.or(DeletionVectors.readBitmap(tableDir, d)))
      rel -> bm
    }
    val descs =
      if (newDvs.isEmpty) Map.empty[String, DeletionVectors.Descriptor]
      else DeletionVectors.writeDvFile(tableDir, newDvs)
    val actions =
      (if (touched.isEmpty) Seq.empty
       else Seq(protocolActionV3(Seq("deletionVectors"), st))) ++
      newDvs.flatMap { case (rel, _) =>
        val a = st.adds(rel)
        Seq(removeAction(rel),
          addAction(rel, a.size, a.partitionValues, dataChange = true,
            a.stats, Some(descs(rel))))
      } ++
      newFiles.map(f => addAction(f.relPath, f.size,
        f.partitionValues, dataChange = true,
        stats = Some(statsJsonOf(f.numRecords, f.bounds,
          st.schema)))) ++
      cdcActs
    commitRowOp(tableDir, base, actions, touched.keySet,
      couldMatch, op)
  }

  /** One file a streaming batch reads: absolute path, the add's
    * log-recorded partitionValues, the add's byte size (the
    * admission-control currency for maxBytesPerTrigger), and the
    * recorded min/max bounds of long-valued columns (the stream
    * planner's data-skipping currency; empty = never prunes). */
  private[graft] case class StreamFile(path: String,
      partitionValues: Map[String, String], size: Long,
      bounds: Map[String, (Long, Long)] = Map.empty)

  /** `dataType` with every field-metadata annotation stripped and
    * nullability normalized — the SHAPE two schemas are compared by
    * when deciding whether a metaData commit CHANGED the table
    * mid-stream (mapping ids, comments and nullable drift are not
    * schema changes; a new/removed/retyped column is). On MAPPED
    * schemas each field is keyed by its PHYSICAL name instead of the
    * logical one, so a pure RENAME (same physical columns, new
    * logical spelling — the metadata-only commit mapping exists for)
    * compares EQUAL and streams straight through, while an added or
    * retyped physical column still differs. */
  private[graft] def schemaShape(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map { f =>
      val key =
        if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else f.name
      StructField(key, schemaShape(f.dataType), nullable = true)
    })
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = schemaShape(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = schemaShape(m.keyType),
        valueType = schemaShape(m.valueType))
    case other => other
  }

  /** `dataType` with field metadata stripped recursively but names
    * and nullability kept — the PUBLIC face of a mapped table's
    * streaming schema (the annotations describe the files, not the
    * rows). */
  private[graft] def stripFieldMetadata(dt: DataType): DataType =
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, stripFieldMetadata(f.dataType),
          f.nullable)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = stripFieldMetadata(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = stripFieldMetadata(m.keyType),
          valueType = stripFieldMetadata(m.valueType))
      case other => other
    }

  /** The streaming sources' schema-change guard, standalone: throws
    * when a NON-CREATION commit in (`fromExclusive`, `to`] carries a
    * metaData whose [[schemaShape]] differs from `startSchema` (the
    * query-start schema). Restart picks up the evolved schema. */
  private[graft] def requireNoSchemaChange(tableDir: String,
      fromExclusive: Long, to: Long, startSchema: StructType): Unit = {
    val vs = versions(tableDir)
    vs.filter(v => v > fromExclusive && v <= to && v != vs.head)
      .foreach(v => requireSameShape(tableDir, v, commitNodes(tableDir, v),
        startSchema))
  }

  private def commitNodes(tableDir: String, v: Long): Seq[JsonNode] =
    Files.readAllLines(commitFile(tableDir, v).toPath).asScala
      .filter(_.nonEmpty).map(mapper.readTree).toSeq

  /** Throws when version `v` (its parsed `nodes`) carries a metaData
    * whose [[schemaShape]] differs from `startSchema`. */
  private def requireSameShape(tableDir: String, v: Long,
      nodes: Seq[JsonNode], startSchema: StructType): Unit =
    nodes.find(_.has("metaData")).foreach { n =>
      val sch = DataType
        .fromJson(n.get("metaData").get("schemaString").asText)
        .asInstanceOf[StructType]
      require(schemaShape(sch) == schemaShape(startSchema),
        s"version $v of $tableDir CHANGES THE TABLE SCHEMA " +
          "mid-stream — streaming on would silently drop the " +
          "new columns under the query-start schema. Restart " +
          "the query to pick up the evolved schema (files " +
          "written before the change read NULL for new columns).")
    }

  /** Files ADDED with dataChange=true by versions in
    * (`fromExclusive`, `to`], GROUPED by version in commit order and
    * LAZILY — each commit file is read and JSON-parsed only when the
    * iterator advances to it, so the stream core's admission walk
    * ([[graft.streaming.CommitLogStream]] file/byte caps) stops
    * paying parse cost at the first version past its cap: draining
    * an N-commit backlog is O(N) commit reads across all triggers,
    * not O(N²). OPTIMIZE commits (dataChange=false) contribute
    * nothing (an empty group); a remove with dataChange=true in the
    * range means rows DISAPPEARED,
    * which an append stream cannot express — refused loudly unless
    * `skipChangeCommits` (Delta's own option of that name) skips the
    * whole commit. Partition columns live only in the LOG, so the
    * stream reader reconstructs them from each file's values.
    *
    * SCHEMA CHANGES FAIL LOUDLY (Delta's own streaming contract):
    * when `startSchema` (the stream's query-start schema) is given
    * and a NON-CREATION commit in the range carries a metaData
    * action whose schema shape differs, the stream must NOT silently
    * drop the new columns under the stale schema — it throws with a
    * restart message. On restart the source re-infers the evolved
    * schema and the new column flows (older files read NULL for it,
    * the same schema-on-read rule as the batch scan). The creation
    * commit is exempt: a stream starting over a table whose FIRST
    * schema predates one later evolution is the ordinary
    * null-filling backfill, not a mid-stream change. */
  private[graft] def addedFilesIterator(tableDir: String,
      fromExclusive: Long, to: Long, skipChangeCommits: Boolean,
      startSchema: Option[StructType] = None)
      : Iterator[(Long, Seq[StreamFile])] = {
    val vs = versions(tableDir)
    vs.filter(v => v > fromExclusive && v <= to).iterator.map { v =>
      val nodes = commitNodes(tableDir, v)
      startSchema.filter(_ => v != vs.head)
        .foreach(requireSameShape(tableDir, v, nodes, _))
      val changeRemove = nodes.exists(n => n.has("remove") && {
        val r = n.get("remove")
        !r.has("dataChange") || r.get("dataChange").asBoolean
      })
      val files: Seq[StreamFile] =
        if (changeRemove && skipChangeCommits) Seq.empty
        else {
          require(!changeRemove,
            s"version $v of $tableDir removes data — an append stream " +
              "cannot express it; pass skipChangeCommits=true to skip " +
              "such commits (Delta's own escape hatch)")
          nodes.filter(_.has("add")).map(_.get("add"))
            .filter(a => !a.has("dataChange") ||
              a.get("dataChange").asBoolean)
            .map { a =>
              val p = a.get("path").asText
              val abs =
                if (p.startsWith("/") || p.contains("://")) p
                else s"$tableDir/$p"
              val pv: Map[String, String] =
                if (!a.has("partitionValues")) Map.empty
                else a.get("partitionValues").properties().asScala
                  .map(e => e.getKey ->
                    (if (e.getValue.isNull) null
                     else e.getValue.asText)).toMap
              StreamFile(abs, pv,
                if (a.has("size")) a.get("size").asLong else 0L,
                if (a.has("stats") && !a.get("stats").isNull)
                  statsLongBounds(a.get("stats").asText)
                else Map.empty)
            }
        }
      (v, files)
    }
  }

  /** DESCRIBE HISTORY as a DataFrame — one row per commit with the
    * operation CLASSIFIED from the commit's action shape (this
    * writer records no operation string, so the classification is
    * the deterministic inverse of what each writer emits): CREATE =
    * protocol+metaData+adds; SET SCHEMA = metaData only; DELETE =
    * DV re-adds; OPTIMIZE = remove+add all dataChange=false;
    * OVERWRITE = remove+add with dataChange; WRITE = adds only.
    * Driver-side O(commits) metadata, like every log walk here. */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    versions(tableDir).map { v =>
      val nodes = Files.readAllLines(commitFile(tableDir, v).toPath)
        .asScala.filter(_.nonEmpty).map(mapper.readTree).toSeq
      val hasProto = nodes.exists(_.has("protocol"))
      val hasMeta = nodes.exists(_.has("metaData"))
      val adds = nodes.filter(_.has("add")).map(_.get("add"))
      val removes = nodes.filter(_.has("remove")).map(_.get("remove"))
      val dvAdds = adds.exists(a =>
        a.has("deletionVector") && !a.get("deletionVector").isNull)
      val dataChange = (adds ++ removes).exists(n =>
        !n.has("dataChange") || n.get("dataChange").asBoolean)
      val op =
        if (hasProto && hasMeta && adds.nonEmpty) "CREATE"
        else if (hasMeta && adds.isEmpty && removes.isEmpty) "SET SCHEMA"
        else if (dvAdds && removes.nonEmpty) "DELETE"
        else if (adds.nonEmpty && removes.nonEmpty && !dataChange)
          "OPTIMIZE"
        else if (adds.nonEmpty && removes.nonEmpty) "OVERWRITE"
        else if (adds.nonEmpty) "WRITE"
        else "UNKNOWN"
      (v, op)
    }.toDF("version", "operation")
  }

  /** The `table$files` / DESCRIBE DETAIL audit surface (q216): one
    * row per LIVE file of the current snapshot, straight off the
    * replayed state — path, the log's partitionValues, stats
    * numRecords, live records (numRecords minus the DV's
    * cardinality), byte size, DV presence, and the raw min/max stats
    * JSON for ad-hoc skipping diagnostics. Pure driver-side
    * O(files) metadata; no data file is opened (the DV bitmap read
    * is O(deleted rows) per masked file, the same cost every scan
    * pays). The ops question this answers at 100 TB: which files
    * would a given predicate even consider, and how dead is each. */
  def fileStats(spark: SparkSession, tableDir: String): DataFrame =
    fileStats(spark, tableDir, versions(tableDir).last)

  /** [[fileStats]] AS OF a pinned version — the layout question ops
    * actually ask ("what did the table look like before that
    * OPTIMIZE?"), same O(files) driver walk over the replayed
    * state. */
  def fileStats(spark: SparkSession, tableDir: String,
                version: Long): DataFrame = {
    import spark.implicits._
    val st = replay(tableDir, version)
    st.adds.toSeq.sortBy(_._1).map { case (p, a) =>
      val node = a.stats.map(mapper.readTree)
      val records = node.filter(_.has("numRecords"))
        .map(_.get("numRecords").asLong)
      val dvCard = a.dv.map(d =>
        DeletionVectors.readBitmap(tableDir, d).cardinality)
      (p, a.partitionValues, records,
        records.map(_ - dvCard.getOrElse(0L)), a.size, a.dv.isDefined,
        node.filter(_.has("minValues"))
          .map(n => mapper.writeValueAsString(n.get("minValues"))),
        node.filter(_.has("maxValues"))
          .map(n => mapper.writeValueAsString(n.get("maxValues"))))
    }.toDF("path", "partition", "records", "live_records",
      "size_bytes", "has_dv", "min_values", "max_values")
  }

  /** Latest `txn` version recorded for `appId` — the protocol's
    * application-transaction watermark. O(commits) driver-side
    * metadata scan straight off the JSON log (txn actions are rare
    * and the scan is checkpoint-independent, so the answer is always
    * the full history's). None = appId never committed. */
  def latestTxnVersion(tableDir: String, appId: String): Option[Long] =
    txnWatermarks(tableDir).get(appId)

  /** Every appId's latest recorded txn version, from the raw JSON
    * log (checkpoint-independent — commits are never deleted, so
    * this is always the full history's answer). */
  private def txnWatermarks(tableDir: String): Map[String, Long] =
    versions(tableDir).flatMap { v =>
      Files.readAllLines(commitFile(tableDir, v).toPath).asScala
        .filter(_.nonEmpty).map(mapper.readTree)
        .filter(_.has("txn")).map(_.get("txn"))
        .map(t => t.get("appId").asText -> t.get("version").asLong)
    }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap

  /** IDEMPOTENT APPEND through the protocol's `txn` action — the
    * exactly-once contract Delta streaming sinks ride: the commit
    * carries `{"txn": {appId, version}}`, and a writer REDELIVERING
    * the same (appId, version) — a restarted micro-batch, a retried
    * job — is detected and SKIPPED, both up front and again inside
    * the claim loop (a racing instance of the same app that wins the
    * CAS first is seen on the loser's retry; the loser deletes its
    * orphan data files and walks away). Returns Some(version) when
    * this call committed, None when the transaction was already
    * recorded. */
  def commitAppendIdempotent(df: DataFrame, tableDir: String,
                             appId: String,
                             txnVersion: Long): Option[Long] =
    commitAppendIdempotent(df, tableDir, appId, txnVersion, Seq.empty)

  /** [[commitAppendIdempotent]] with a PARTITION SPEC — the
    * exactly-once streaming append into a partitioned 100 TB silver
    * (each add carries its `partitionValues`; the txn watermark is
    * partition-independent, one per appId). `partCols` empty =
    * unpartitioned (the two-arg overload). */
  def commitAppendIdempotent(df: DataFrame, tableDir: String,
                             appId: String, txnVersion: Long,
                             partCols: Seq[String]): Option[Long] = {
    val st0 =
      requirePartitionSpec(tableDir, partCols, "commitAppendIdempotent")
    if (latestTxnVersion(tableDir, appId).exists(_ >= txnVersion))
      return None
    st0.foreach(enforceWriteInvariants(df, _))
    val sub = s"part-${java.util.UUID.randomUUID}"
    val adds: Seq[ObjectNode] =
      if (partCols.isEmpty) {
        writeRows(df, tableDir, st0).write.parquet(s"$tableDir/$sub")
        val fs = partFiles(tableDir, sub)
        val stats = statsJsonBatch(df.sparkSession, fs)
        fs.map(f => addAction(s"$sub/${f.getName}", f.length,
          stats = Some(stats(f.getPath))))
      } else {
        df.write.partitionBy(partCols: _*).parquet(s"$tableDir/$sub")
        partitionedAdds(df.sparkSession, tableDir, sub, partCols,
          dataChange = true)
      }
    maybeWriteBlooms(df.sparkSession, tableDir, partFiles(tableDir, sub),
      st0)
    val txn = mapper.createObjectNode()
    txn.putObject("txn").put("appId", appId)
      .put("version", txnVersion).put("lastUpdated", 0L)
    var v = -1L
    var done = false
    while (!done) {
      // re-check INSIDE the loop: losing the CAS may mean the same
      // app's racing instance just recorded this very transaction
      if (latestTxnVersion(tableDir, appId).exists(_ >= txnVersion)) {
        graft.util.Fs.deleteRecursively(new File(tableDir, sub))
        return None
      }
      val vs = versions(tableDir)
      v = if (vs.isEmpty) 0L else vs.last + 1
      val head: Seq[ObjectNode] =
        if (vs.isEmpty)
          Seq(protocolAction(), metaDataAction(df.schema, partCols))
        else Seq.empty
      commitClaimHook(tableDir, v)
      done = writeActions(tableDir, v, head ++ (txn +: adds))
      if (!done) commitCasRetries.incrementAndGet()
    }
    Some(v)
  }

  /** [[commitOverwrite]] for a PARTITIONED table: `df` is written
    * `partitionBy(partCols)` (data files do NOT contain the partition
    * columns — the spec's layout), and each add action carries the
    * file's `partitionValues` so readers reconstruct the columns from
    * the LOG. The hive-style value directories the write produces are
    * decoded once, here, at write time; after that the paths are
    * opaque, as the spec intends. Returns the committed version. */
  /** Decode the hive-style value directories of a `partitionBy` write
    * under `tableDir/sub` into add actions carrying each file's
    * `partitionValues` — decoded once, here, at write time; after
    * that the paths are opaque, as the spec intends. */
  private def partitionedAdds(spark: SparkSession, tableDir: String,
      sub: String, partCols: Seq[String],
      dataChange: Boolean): Seq[ObjectNode] = {
    val moved = partFiles(tableDir, sub).map { f0 =>
      // a single job writing several hive partitions reuses one task
      // basename across the value dirs (part-00003-<jobUUID> lands
      // under every status=X it touched) — rename to a per-FILE UUID
      // so basenames stay globally unique, the invariant the
      // partitionValues broadcast join keys on; the log records the
      // new path, so the rename is free driver metadata
      val f = new File(f0.getParentFile,
        s"part-${java.util.UUID.randomUUID}.parquet")
      Files.move(f0.toPath, f.toPath)
      f
    }
    val stats = statsJsonBatch(spark, moved)
    moved.map { f =>
      val rel = Paths.get(tableDir).toAbsolutePath
        .relativize(f.toPath.toAbsolutePath).toString
      addAction(rel, f.length,
        PartitionedScan.hivePartitionValues(rel, partCols), dataChange,
        stats = Some(stats(f.getPath)))
    }
  }

  def commitOverwritePartitioned(df: DataFrame, tableDir: String,
                                 partCols: Seq[String]): Long = {
    require(partCols.nonEmpty, "partitioned commit needs partition columns")
    // the SAME spec discipline as the append writers: an overwrite
    // declaring different partition columns would land adds whose
    // partitionValues the unrefreshed metaData cannot reconstruct
    // (silently NULLed partition columns); mapped tables (always
    // unpartitioned) refuse through the same check
    val st0 = requirePartitionSpec(tableDir, partCols,
      "commitOverwritePartitioned")
    st0.foreach(enforceWriteInvariants(df, _))
    val sub = s"part-${java.util.UUID.randomUUID}"
    df.write.partitionBy(partCols: _*).parquet(s"$tableDir/$sub")
    val adds = partitionedAdds(df.sparkSession, tableDir, sub, partCols,
      dataChange = true)
    maybeWriteBlooms(df.sparkSession, tableDir, partFiles(tableDir, sub),
      st0)
    var v = -1L
    var done = false
    while (!done) {
      val vs = versions(tableDir)
      v = if (vs.isEmpty) 0L else vs.last + 1
      val head: Seq[ObjectNode] =
        if (vs.isEmpty)
          Seq(protocolAction(), metaDataAction(df.schema, partCols))
        else replay(tableDir, vs.last).files.map(p => removeAction(p))
      commitClaimHook(tableDir, v)
      done = writeActions(tableDir, v, head ++ adds)
      if (!done) commitCasRetries.incrementAndGet()
    }
    v
  }

  /** COLUMN MAPPING (mode=name) table creation — the Delta protocol's
    * reader-version-2 feature: every data file spells its columns by
    * stable PHYSICAL names (`col-<uuid>`), the logical names live only
    * in the metaData's schemaString (each field annotated
    * `delta.columnMapping.id` / `.physicalName`), and renaming a
    * logical column becomes a pure metadata commit — no data rewrite,
    * the reason the feature exists. The mode is fixed at table
    * creation, as Delta fixes it; readers here honor it end to end
    * (replay validates the mode explains minReaderVersion 2, the scan
    * reads physically and surfaces logically, checkpoints preserve
    * protocol + configuration). Returns the committed version (0). */
  def commitOverwriteMapped(df: DataFrame, tableDir: String): Long = {
    require(versions(tableDir).isEmpty,
      "mapped writer creates a fresh table (the mapping mode is fixed " +
        "at creation, as Delta fixes it)")
    // replay refuses map-key structs under mapping — refuse HERE too
    // rather than minting a table every subsequent read refuses
    require(!df.schema.fields.exists(f => mapKeyStruct(f.dataType)),
      "structs under map KEYS with column mapping are out of scope")
    // annotate RECURSIVELY via the shared [[annotateMapped]]: every
    // nested field (arrays / map values included) gets its own id
    // and physicalName; ids number depth-first. Deterministic
    // path-derived names are safe at CREATION only — evolve mints
    // random (see mappedEvolution's collision note).
    val (annotated, maxId) = annotateMapped(df.schema, 0L, path =>
      s"col-${java.util.UUID.nameUUIDFromBytes(path.getBytes("UTF-8"))}")
    val mappedSchema = annotated.asInstanceOf[StructType]
    val nextId = maxId
    // write physically at every nesting level: the hoisted
    // [[physicalize]], shared with the mapped append/merge writers
    val sub = s"part-${java.util.UUID.randomUUID}"
    df.select(mappedSchema.fields.toSeq.map(f =>
        physicalize(col(f.name), f).as(physFieldName(f))): _*)
      .write.parquet(s"$tableDir/$sub")
    val fs = partFiles(tableDir, sub)
    val stats = statsJsonBatch(df.sparkSession, fs)
    val adds = fs.map(f => addAction(s"$sub/${f.getName}", f.length,
      stats = Some(stats(f.getPath))))
    require(writeActions(tableDir, 0L,
      Seq(protocolAction(minReader = 2, minWriter = 5),
        metaDataAction(mappedSchema, Seq.empty,
          Map("delta.columnMapping.mode" -> "name",
            "delta.columnMapping.maxColumnId" ->
              nextId.toString))) ++ adds),
      s"table $tableDir already has commit 0")
    0L
  }

  /** Session-cached NESTED column-mapped table: orders reshaped into
    * two struct columns, committed under mode=name (every nesting
    * level spelled physically in the files), then TWO metadata-only
    * renames — one nested (`meta.prio` → `priority`), one top-level
    * (`cust` → `customer`). */
  private[graft] def ordersNestedMappedTable(spark: SparkSession,
                                             dir: String): String =
    cachedTable(spark, dir, "deltacmn") { (o, t) =>
      import org.apache.spark.sql.functions.struct
      val nested = o.select(col("o_orderkey"),
        struct(col("o_custkey").as("custkey"),
          col("o_orderstatus").as("status")).as("cust"),
        struct(col("o_totalprice").as("price"),
          col("o_orderpriority").as("prio")).as("meta"))
      commitOverwriteMapped(nested, t)
      renameColumnMapped(t, "meta.prio", "priority")
      renameColumnMapped(t, "cust", "customer")
    }

  /** q194 — NESTED STRUCTS × COLUMN MAPPING (the round-9 refusal
    * turned feature): the data files spell `col-<uuid>` names at
    * EVERY nesting level; the read resolves outer and inner names
    * through the schemaString's recursive annotations and surfaces
    * the post-rename logical names — then flattens for the oracle.
    * A reader that renamed only the top level NULLs every inner
    * field; one that lost a nested rename surfaces the old name
    * (schema mismatch); one whose null-guard built structs of NULLs
    * from NULL parents would corrupt rows — all fail the flat
    * five-column oracle. */
  def deltaNestedMappedRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersNestedMappedTable(spark, dir))
      .select(col("o_orderkey"),
        col("customer.custkey").as("o_custkey"),
        col("customer.status").as("o_orderstatus"),
        col("meta.price").as("o_totalprice"),
        col("meta.priority").as("priority"))
      .orderBy(col("o_orderkey"))

  val deltaNestedMappedReadSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderpriority AS priority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Session-cached NESTED mode=id table (q215): orders reshaped
    * into a struct column, committed under mode=id, then a nested
    * metadata-only RENAME (`meta.prio` → `priority`) — the id-mode
    * promise that renames never rewrite data. */
  private[graft] def ordersNestedMappedIdTable(spark: SparkSession,
                                               dir: String): String =
    cachedTable(spark, dir, "deltacmni") { (o, t) =>
      import org.apache.spark.sql.functions.struct
      val nested = o.select(col("o_orderkey"),
        struct(col("o_custkey").as("custkey"),
          col("o_orderpriority").as("prio")).as("meta"))
      commitOverwriteMappedId(nested, t)
      renameColumnMapped(t, "meta.prio", "priority")
    }

  /** q215 — NESTED STRUCTS × mode=id, PRUNING-SAFE (the round-13
    * measured refusal, closed): the query projects a SINGLE nested
    * field — exactly the shape where Spark's nested schema pruning
    * strips `parquet.field.id` metadata and a field-id read silently
    * NULLs (verified by experiment, round 13). Nested levels resolve
    * by physicalName instead (the protocol records it under BOTH
    * modes and requires files to use physical column names, so this
    * is sound for any conforming writer — and names survive
    * pruning); the mid-history nested rename proves metadata-only
    * evolution still holds. A reader that kept field-id resolution
    * here would surface an all-NULL `priority` and hash-mismatch. */
  def deltaNestedMappedIdRead(spark: SparkSession,
                              dir: String): DataFrame =
    read(spark, ordersNestedMappedIdTable(spark, dir))
      .select(col("o_orderkey"),
        col("meta.priority").as("priority"))
      .orderBy(col("o_orderkey"))

  val deltaNestedMappedIdReadSql: String =
    """SELECT o_orderkey, o_orderpriority AS priority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** [[commitOverwriteMapped]] with columnMapping mode=id — the
    * protocol's OTHER mapping mode, the one Delta migrations of
    * Iceberg/parquet tables produce: data files carry PARQUET FIELD
    * IDS (and arbitrary physical names readers must NOT rely on);
    * resolution goes id → column. The schemaString annotates every
    * field with `delta.columnMapping.id` AND `.physicalName` (the
    * spec records both under either mode), the data write attaches
    * each physical column's `parquet.field.id`, and the read path
    * resolves through Spark's native field-id matcher — so a rename
    * stays a pure metadata commit even if physical names drift.
    * Returns the committed version (0). */
  def commitOverwriteMappedId(df: DataFrame, tableDir: String): Long = {
    require(versions(tableDir).isEmpty,
      "mapped writer creates a fresh table (the mapping mode is fixed " +
        "at creation, as Delta fixes it)")
    // structs under map KEYS stay refused (no sound physical
    // spelling); other nesting is fine — nested levels read through
    // the physical-name machinery (round 14), so Spark's
    // field-id-stripping nested pruning can't NULL them
    df.schema.fields.foreach(f => require(!mapKeyStruct(f.dataType),
      s"column ${f.name}: structs under map KEYS with column " +
        "mapping are out of scope"))
    // ids number depth-first via the shared [[annotateMapped]] —
    // the same scheme as the name-mode creation writer
    val (annotated, nextId) = annotateMapped(df.schema, 0L, path =>
      s"col-${java.util.UUID.nameUUIDFromBytes(path.getBytes("UTF-8"))}")
    val mappedSchema = annotated.asInstanceOf[StructType]
    val sub = s"part-${java.util.UUID.randomUUID}"
    // physical names + parquet field ids: the `.as(name, metadata)`
    // alias spelling is the one whose ids reliably reach the parquet
    // writer (a DataFrame.to's metadata is lost to Project
    // collapsing — measured round 13). Top-level aliases carry the
    // ids; INNER struct fields are spelled physically by
    // [[physicalize]] without ids — sufficient for any
    // protocol-conforming reader, which resolves by physical name
    // where an id is absent (and this engine's nested-id read does
    // exactly that)
    df.sparkSession.conf.set(
      "spark.sql.parquet.fieldId.write.enabled", "true")
    df.select(mappedSchema.fields.toSeq.map(f =>
        physicalize(col(f.name), f).as(physFieldName(f),
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id",
              f.metadata.getLong("delta.columnMapping.id"))
            .build())): _*)
      .write.parquet(s"$tableDir/$sub")
    val fs = partFiles(tableDir, sub)
    val stats = statsJsonBatch(df.sparkSession, fs)
    val adds = fs.map(f => addAction(s"$sub/${f.getName}", f.length,
      stats = Some(stats(f.getPath))))
    require(writeActions(tableDir, 0L,
      Seq(protocolAction(minReader = 2, minWriter = 5),
        metaDataAction(mappedSchema, Seq.empty,
          Map("delta.columnMapping.mode" -> "id",
            "delta.columnMapping.maxColumnId" ->
              nextId.toString))) ++ adds),
      s"table $tableDir already has commit 0")
    0L
  }

  /** RENAME a logical column of a mapped table — the metadata-only
    * commit column mapping buys: same physical files, new
    * schemaString where `from`'s field keeps its id and physicalName
    * but carries the new logical name. `from` may be a DOTTED PATH
    * into a nested struct (`meta.prio`) — nested fields have their
    * own mapping annotations, so renaming one is the same pure
    * metadata op. Works under either mapping mode (the mode rides
    * the table's existing configuration). Returns the committed
    * version. */
  /** ALTER TABLE DROP COLUMN — METADATA-ONLY on a column-mapped
    * table (the reason real Delta requires mapping for drops: the
    * physical column stays in the data files, unreferenced; readers
    * resolve by the remaining mapping entries and never see it).
    * Top-level, non-partition columns; dropping the last column
    * refuses. Unmapped tables refuse — without mapping a drop means
    * rewriting every data file. */
  def dropColumnMapped(tableDir: String, name: String): Long = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
    val st = replay(tableDir, vs.last)
    require(st.columnMapping.nonEmpty,
      "dropColumnMapped needs a column-mapped table — without " +
        "mapping a drop means rewriting every data file")
    require(st.schema.fieldNames.contains(name), s"no column $name")
    require(!st.partitionColumns.contains(name),
      s"$name is a partition column — repartition instead")
    require(st.schema.fields.length > 1,
      "cannot drop the table's last column")
    val remaining =
      StructType(st.schema.fields.filterNot(_.name == name))
    val maxId = math.max(maxMappedId(st.schema),
      st.configuration.get("delta.columnMapping.maxColumnId")
        .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L))
    require(writeActions(tableDir, vs.last + 1,
      Seq(metaDataAction(remaining, st.partitionColumns,
        st.configuration ++
          Map("delta.columnMapping.mode" -> st.mappingMode,
            "delta.columnMapping.maxColumnId" -> maxId.toString)))),
      s"concurrent writer claimed version ${vs.last + 1}")
    vs.last + 1
  }

  def renameColumnMapped(tableDir: String, from: String,
                         to: String): Long = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
    val st = replay(tableDir, vs.last)
    require(st.columnMapping.nonEmpty,
      "renameColumnMapped needs a column-mapped table — without " +
        "mapping a rename means rewriting every data file")
    require(!to.contains("."), s"new name $to must be unqualified")
    def renameAt(s: StructType, path: List[String]): StructType =
      path match {
        case name :: Nil =>
          require(s.fieldNames.contains(name), s"no column $name")
          require(!s.fieldNames.contains(to),
            s"column $to exists at this level")
          StructType(s.fields.map(f =>
            if (f.name == name) f.copy(name = to) else f))
        case name :: rest =>
          require(s.fieldNames.contains(name), s"no column $name")
          StructType(s.fields.map { f =>
            if (f.name != name) f
            else {
              // descend THROUGH containers: renaming a field of a
              // struct inside an array / map value is the same pure
              // metadata op (the files spell physical names at every
              // level, containers included)
              def into(dt: DataType): DataType = dt match {
                case inner: StructType => renameAt(inner, rest)
                case a: org.apache.spark.sql.types.ArrayType =>
                  a.copy(elementType = into(a.elementType))
                case m: org.apache.spark.sql.types.MapType =>
                  m.copy(valueType = into(m.valueType))
                case other => throw new IllegalArgumentException(
                  s"$name is $other, not a struct — cannot descend")
              }
              f.copy(dataType = into(f.dataType))
            }
          })
        case Nil => throw new IllegalArgumentException("empty path")
      }
    val renamed = renameAt(st.schema, from.split('.').toList)
    // maxColumnId must stay >= EVERY assigned id (the spec invariant
    // an external writer relies on when allocating new ids): ids are
    // assigned depth-first across NESTED fields, so top-level field
    // count undercounts — take the max id actually present in the
    // replayed schema, never regressing below the prior recorded value
    val maxId = math.max(maxMappedId(st.schema),
      st.configuration.get("delta.columnMapping.maxColumnId")
        .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L))
    require(writeActions(tableDir, vs.last + 1,
      Seq(metaDataAction(renamed, st.partitionColumns,
        st.configuration ++
          Map("delta.columnMapping.mode" -> st.mappingMode,
            "delta.columnMapping.maxColumnId" -> maxId.toString)))),
      s"concurrent writer claimed version ${vs.last + 1}")
    vs.last + 1
  }

  /** Largest `delta.columnMapping.id` assigned anywhere in `schema`
    * (recursive — nested fields carry their own ids). 0 when no field
    * is annotated. */
  private[graft] def maxMappedId(schema: StructType): Long = {
    def walk(dt: DataType): Long = dt match {
      case s: StructType => s.fields.foldLeft(0L) { (m, f) =>
        val own =
          if (f.metadata.contains("delta.columnMapping.id"))
            f.metadata.getLong("delta.columnMapping.id")
          else 0L
        math.max(m, math.max(own, walk(f.dataType)))
      }
      case _ => 0L
    }
    walk(schema)
  }

  /** MERGE-ON-READ DELETE through DELETION VECTORS (protocol reader 3
    * / writer 7, feature `deletionVectors`): rows matching `predicate`
    * are recorded as row indexes in a per-file roaring bitmap — the
    * data files are NOT rewritten; each affected file gets
    * remove+add of the SAME path where the new add carries the DV
    * descriptor. Stacked deletes union into a replacement DV (the
    * spec's contract: an add's DV covers ALL of that file's deleted
    * rows). At 100 TB this is the difference between a DELETE costing
    * kilobytes of bitmap and rewriting every touched gigabyte.
    *
    * The bitmaps are built EXECUTOR-SIDE: matched rows group by file
    * and fold their row indexes into a
    * [[graft.functions.RowPosBitmap]] aggregate (map-side partial →
    * bitmap-OR merge), so the driver collects ONE row per affected
    * file whose payload is the compressed bitmap — O(files), never
    * O(deleted rows); a DELETE matching 1% of a 100 TB table collects
    * file-count rows, not billions of positions
    * ([[lastDeleteRowsCollected]] pins the bound). Existing DVs are
    * probed through the same broadcast-bitmap filter the read path
    * uses and union into replacement DVs in bitmap space. Composes
    * with PARTITIONED tables — partition columns are restored from
    * the log before the predicate runs (so it may reference them,
    * and a partition-only DELETE is still answered with bitmaps, as
    * Delta spells it), and each re-add keeps its `partitionValues`;
    * column-mapped tables stay refused.
    * Returns the committed version (unchanged if nothing matched). */
  // ---------------------------------------------------------------
  // Per-file BLOOM sidecar — point-lookup data skipping for
  // scattered keys (Delta's delta.bloomFilter idea, the
  // [[Snapshots.commitWithStats]] machinery on the open log)
  // ---------------------------------------------------------------

  /** Bloom sidecar directory. `add.stats` min/max prunes RANGE
    * predicates but is defeated by a SCATTERED key set (a
    * hash-distributed CDC delete batch spans [min,max] of every
    * file); the per-file bloom answers "could file F hold key k?"
    * regardless of layout. Rows: (file basename, colname, word,
    * bits, m_bits), geometry = [[Snapshots.BloomHashes]] positions
    * via xxhash64(key_as_long, i), sized ~8 bits/row from the batch
    * ([[Snapshots.bloomSizeFor]]). Sidecar metadata beside the log —
    * foreign Delta clients ignore it; this engine's deletes probe
    * it. Superset contract everywhere: a file with no bloom rows is
    * never pruned, false positives cost a file scan, false negatives
    * cannot happen. */
  private[graft] val BloomSidecarDir = "_bloom"

  /** Table property naming the bloomed columns (comma-separated,
    * long/int-typed). Writers bloom each new file when set;
    * [[bloomBackfill]] covers files committed before it was set. */
  private[graft] val BloomColsProp = "graft.bloomFilter.columns"

  private def bloomColsOf(st: State): Seq[String] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    // mapped tables: the sidecar writer rereads data files by
    // LOGICAL name, which physical files cannot resolve — declared
    // out of scope (the property is simply inert there)
    if (st.columnMapping.nonEmpty) return Seq.empty
    st.configuration.get(BloomColsProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
      .filter(c => st.schema.fieldNames.contains(c) &&
        !st.partitionColumns.contains(c) && (st.schema(c).dataType match {
          case LongType | IntegerType => true
          case _ => false
        }))
  }

  /** Sidecar geometry: ~20 bits/row where [[Snapshots.bloomSizeFor]]
    * uses ~8. The delete probe tests a BATCH of K keys per file and
    * a file survives if ANY key false-positives — prune probability
    * is (1−fpr)^K, so the per-key fpr must sit well under 1/K. At 20
    * bits/row with 3 hashes fpr ≈ 0.05%, keeping a 100-key batch's
    * per-file prune probability ≈ 95% where 8 bits/row (fpr ≈ 2.5%)
    * would keep almost nothing. Cost: ~2.5 MB sidecar per 1M-row
    * file — metadata, linear in file count. */
  private[graft] def sidecarBloomBits(maxRows: Long): Int = {
    val target = math.max(Snapshots.BloomMinBits.toLong, 20L * maxRows)
    var m = Snapshots.BloomMinBits
    while (m < target && m < (1 << 27)) m <<= 1
    m
  }

  /** Write bloom rows for `absFiles` (one just-written batch, all
    * one geometry sized from the batch's largest file). One
    * distributed scan of the batch per call — the same cost class as
    * the stats job every commit already pays. */
  private def writeBloomRows(spark: SparkSession, tableDir: String,
      absFiles: Seq[String], cols: Seq[String]): Unit = {
    if (absFiles.isEmpty || cols.isEmpty) return
    import org.apache.spark.sql.functions.{array, bit_or, expr,
      explode, lit, pmod, shiftleft, xxhash64}
    val maxRows = Iceberg.footerStatsBatch(spark, absFiles)
      .values.map(_._1).maxOption.getOrElse(0L)
    if (maxRows == 0L) return
    val mBits = sidecarBloomBits(maxRows)
    val reread = spark.read.parquet(absFiles: _*)
    cols.map { c =>
      val positions = (0 until Snapshots.BloomHashes).map(i =>
        pmod(xxhash64(col(c).cast("long"), lit(i.toLong)),
          lit(mBits.toLong)))
      reread.filter(col(c).isNotNull)
        .select(col("_metadata.file_name").as("file"),
          explode(array(positions: _*)).as("pos"))
        .groupBy(col("file"), (col("pos") / 64).cast("int").as("word"))
        .agg(expr(
          "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))")
          .as("bits"))
        .withColumn("colname", lit(c))
        .withColumn("m_bits", lit(mBits))
    }.reduce(_.unionByName(_))
      .coalesce(1)
      .write.parquet(
        s"$tableDir/$BloomSidecarDir/bloom-${java.util.UUID.randomUUID}")
  }

  /** Bloom the batch under `tableDir/sub` when the table property
    * asks for it — the append/merge writers' hook. Runs AFTER the
    * data write; a crash before the sidecar lands leaves the files
    * unbloomed = never pruned (safe). */
  private def maybeWriteBlooms(spark: SparkSession, tableDir: String,
                               fs: Seq[File],
                               state: Option[State]): Unit = {
    if (state.isEmpty || fs.isEmpty) return
    val cols = bloomColsOf(state.get)
    if (cols.nonEmpty)
      writeBloomRows(spark, tableDir, fs.map(_.getPath), cols)
  }

  /** Backfill bloom rows for LIVE files lacking them (files
    * committed before the property was set). Returns how many files
    * were bloomed. One distributed scan of exactly those files. */
  def bloomBackfill(spark: SparkSession, tableDir: String): Int = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
    val st = replay(tableDir, vs.last)
    val cols = bloomColsOf(st)
    if (cols.isEmpty) return 0
    def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
    def resolve(p: String) =
      if (p.startsWith("/") || p.contains("://")) p else s"$tableDir/$p"
    val bloomed: Set[String] = bloomManifest(spark, tableDir) match {
      case None => Set.empty
      case Some(m) => m.select("file").distinct()
        .collect().map(_.getString(0)).toSet
    }
    val missing = st.files.filterNot(p => bloomed.contains(base(p)))
    // one sidecar write per geometry-uniform batch: all at once here
    writeBloomRows(spark, tableDir, missing.map(resolve), cols)
    missing.size
  }

  private def bloomManifest(spark: SparkSession,
                            tableDir: String): Option[DataFrame] = {
    val parts = partFiles(tableDir, BloomSidecarDir)
    if (parts.isEmpty) None
    else Some(spark.read.parquet(parts.map(_.getPath): _*))
  }

  /** Sidecar maintenance, [[vacuum]]'s companion: rewrite the bloom
    * manifest keeping only LIVE files' rows (every commit appends a
    * sidecar part; rows for files later removed/compacted/merged are
    * garbage that grows with table churn — harmless for correctness,
    * metadata bloat at 100 TB lifetimes). Stage-then-swap: the new
    * manifest lands first, the old parts are deleted after, so a
    * concurrent probe sees a superset at worst. Returns rows
    * dropped. */
  def bloomCompact(spark: SparkSession, tableDir: String): Long = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
    val oldParts = partFiles(tableDir, BloomSidecarDir)
    if (oldParts.isEmpty) return 0L
    def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val live = replay(tableDir, vs.last).files.map(base)
    val m = spark.read.parquet(oldParts.map(_.getPath): _*)
    val total = m.count()
    // semi-join against the live file LIST, never an isin literal
    // set — at 100 TB the live set is millions of names and a
    // million-literal predicate is a driver-side plan explosion
    import spark.implicits._
    val kept = m.join(
      org.apache.spark.sql.functions.broadcast(live.toDF("file")),
      Seq("file"), "left_semi")
    val keptN = kept.count()
    if (keptN < total) {
      // natural output partitioning: a big table's manifest is
      // GB-scale (linear in file count) — never forced to one file
      kept.write.parquet(s"$tableDir/$BloomSidecarDir/" +
        s"bloom-${java.util.UUID.randomUUID}")
      oldParts.foreach(f => Files.deleteIfExists(f.toPath): Unit)
    }
    total - keptN
  }

  /** Probe cap: a delete batch larger than this skips the bloom path
    * (its keys are collected to build the probe rows; past ~100k the
    * batch likely touches most files anyway and min/max or partition
    * pruning is the right tool). */
  private val BloomProbeMaxKeys = 100000

  /** Test seam: candidate files the last bloom probe kept vs the
    * files that HAD bloom rows (unbloomed files bypass the probe). */
  @volatile private[graft] var lastBloomProbeKept: Int = -1
  @volatile private[graft] var lastBloomProbeBloomed: Int = -1

  /** Which live files may hold ANY of `keyVals` in `keyCol`, per the
    * bloom sidecar. None = no sidecar / column never bloomed →
    * cannot prune. Some((bloomed, hits)): a file IN `bloomed` but
    * NOT in `hits` provably holds no key; files absent from
    * `bloomed` must be kept by the caller.
    *
    * DISTRIBUTED probe: the driver never sees whole blooms. The
    * probe rows — (m_bits, word, mask, key ordinal, words-per-key) —
    * are O(keys × hashes) and BROADCAST into a join against the
    * word-filtered sidecar scan; a key hits a file iff EVERY one of
    * its probe words has all mask bits set there (a missing word row
    * means those bits are zero → miss). The driver collects one row
    * per surviving file — O(files), the same metadata class as the
    * log replay. Per-file geometries may differ across batches
    * (m_bits rides each row), so probe rows are built per distinct
    * geometry. */
  private def bloomProbe(spark: SparkSession, tableDir: String,
      keyCol: String, keyVals: Seq[Long])
      : Option[(Set[String], Set[String])] = {
    import org.apache.spark.sql.functions.{broadcast, count, expr, lit,
      sum, when}
    bloomManifest(spark, tableDir).flatMap { m0 =>
      val manifest = m0.filter(col("colname") === keyCol)
      val fileGeoms = manifest.select("file", "m_bits").distinct()
        .collect().map(r => (r.getString(0), r.getInt(1)))
      if (fileGeoms.isEmpty) None
      else {
        val bloomed = fileGeoms.map(_._1).toSet
        val geoms = fileGeoms.map(_._2).distinct.toSeq
        // probe rows: per geometry × key → per-word bit masks
        val probeRows: Seq[(Int, Int, Long, Int, Int)] =
          geoms.flatMap { g =>
            keyVals.zipWithIndex.flatMap { case (v, ki) =>
              val byWord = Snapshots.bloomPositions(v, g)
                .groupBy(_ / 64).view.mapValues(ps =>
                  ps.foldLeft(0L)((acc, p) => acc | (1L << (p % 64))))
                .toSeq
              byWord.map { case (w, mask) =>
                (g, w, mask, ki, byWord.size)
              }
            }
          }
        import spark.implicits._
        val probe = probeRows
          .toDF("m_bits", "word", "mask", "key_i", "n_words")
        // DUPLICATE-PROOF counting: bloomCompact's stage-then-swap
        // (or a crash inside it) can leave manifest rows duplicated
        // across parts, and an exact row-count filter would read a
        // duplicate as present != n_words — a FALSE NEGATIVE, i.e. a
        // wrongly-pruned file and silently undeleted rows. Counting
        // DISTINCT words is immune (duplicate rows carry identical
        // bits — the sidecar derives them from file content), and it
        // costs nothing extra: the dedup happens on the tiny
        // post-join row set (≤ keys × hashes per file), never on the
        // full manifest. Grouping also keys by m_bits so a file
        // bloomed under two geometries never merges their counts.
        import org.apache.spark.sql.functions.countDistinct
        val hits = manifest
          .join(broadcast(probe), Seq("m_bits", "word"))
          .groupBy(col("file"), col("m_bits"), col("key_i"),
            col("n_words"))
          .agg(countDistinct(when(expr("(bits & mask) = mask"),
              col("word"))).as("ok"),
            countDistinct(col("word")).as("present"))
          .filter(col("ok") === col("n_words") &&
            col("present") === col("n_words"))
          .select("file").distinct()
          .collect().map(_.getString(0)).toSet
        lastBloomProbeBloomed = bloomed.size
        lastBloomProbeKept = hits.size
        Some((bloomed, hits))
      }
    }
  }

  def deleteWhere(spark: SparkSession, tableDir: String,
                  predicate: org.apache.spark.sql.Column): Long = {
    // the predicate's prune-safe conjuncts skip files that provably
    // hold no match (partition values + add.stats bounds — the
    // readFiltered decomposition): a one-day DELETE on a 100 TB
    // table scans the day's files, not the lake. Superset contract:
    // unprovable files scan and the exact predicate decides.
    val ex = PruningPredicates.extract(predicate)
    // point-equality conjuncts on a BLOOMED column probe the bloom
    // sidecar too — a key-equality delete on an unsorted layout
    // (where min/max cannot prune) scans only files whose bloom
    // admits the key. The probe setup rides deleteWhereFiltered's
    // OWN replayed state (one replay per delete, not two).
    deleteWhereFiltered(spark, tableDir, _.filter(predicate),
      pruneSetup = st0 => {
        val probes = bloomColsOf(st0).flatMap { c =>
          ex.eqs.get(c).collect {
            case v: Long => c -> v
            case v: Int => c -> v.toLong
          }
        }
        val verdicts = probes.flatMap { case (c, v) =>
          bloomProbe(spark, tableDir, c, Seq(v))
        }
        (p, a) => extractedKeep(st0, ex, a) && {
          val b = p.substring(p.lastIndexOf('/') + 1)
          verdicts.forall { case (bloomed, hits) =>
            !bloomed.contains(b) || hits.contains(b)
          }
        }
      })
  }

  /** Can file `a` hold a row matching the extracted conjuncts?
    * (partition-value equality, type-aware; stats-bounds range
    * intersection; absent evidence keeps the file — the superset
    * contract shared by [[readFiltered]] and [[deleteWhere]]). */
  private def extractedKeep(st: State,
      ex: PruningPredicates.Extracted, a: AddFile): Boolean = {
    val partEq = ex.eqs.filter {
      case (c, _) => st.partitionColumns.contains(c)
    }
    partEq.forall { case (c, v) =>
      a.partitionValues.get(c).forall(s =>
        PruningPredicates.eqMatches(st.schema(c).dataType, s, v)
          .getOrElse(true))
    } && {
      val b = a.longBounds
      ex.longRanges.forall { case (c, lo, hi) =>
        b.get(c) match {
          case Some((mn, mx)) => mn <= hi && mx >= lo
          case None => true
        }
      }
    }
  }

  /** [[deleteWhere]] with the doomed rows named by a KEY-SET
    * DataFrame instead of a Column predicate — the CDC-sink shape: a
    * replicated batch of deleted keys is often far too large for an
    * IN-list literal (planning/codegen cost explodes with list
    * length), so the match is a BROADCAST left-semi join against the
    * live rows; everything downstream is the same executor-side
    * bitmap build. `keys` must have exactly one column, compared to
    * the table's `keyCol`. */
  def deleteWhereKeys(spark: SparkSession, tableDir: String,
                      keyCol: String, keys: DataFrame): Long = {
    require(keys.schema.fields.length == 1,
      "deleteWhereKeys takes a single-column key set")
    import org.apache.spark.sql.functions.broadcast
    val k = keys.distinct().withColumnRenamed(
      keys.schema.fields.head.name, "_dw_key")
    // key-RANGE pruning: one tiny agg over the key set bounds the
    // scan to files whose stats can intersect [min,max] — a CDC
    // delete batch of one id range scans its files, not the table
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val isLongKey = keys.schema.fields.head.dataType match {
      case LongType | IntegerType => true
      case _ => false
    }
    // ONE capped collect serves BOTH pruning layers when the key set
    // is small (the common CDC-batch case — round 17: the separate
    // min/max aggregate job was a second pass over the key set).
    // Nulls dropped BEFORE the cap: a null key never matches the
    // semi-join (no crash, no probe slot), and dropping it after
    // limit() would let an over-cap key set masquerade as capped and
    // probe with an incomplete list — wrongly pruned files.
    val capped: Option[Array[Long]] =
      if (!isLongKey) None
      else {
        val c = k.filter(k("_dw_key").isNotNull)
          .limit(BloomProbeMaxKeys + 1)
          .collect().map(r => r.get(0) match {
            case l: Long => l
            case i: Int => i.toLong
          })
        if (c.length > BloomProbeMaxKeys) None else Some(c)
      }
    val rangePrune: (State, AddFile) => Boolean =
      if (!isLongKey) (_, _) => true
      else {
        val bounds: Option[(Long, Long)] = capped match {
          case Some(c) if c.nonEmpty => Some((c.min, c.max))
          case Some(_) => None // empty/all-null key set: keep all
          case None => // over the cap: one aggregate pass for bounds
            val mm = k.agg(org.apache.spark.sql.functions
                .min(col("_dw_key")).cast("long"),
              org.apache.spark.sql.functions
                .max(col("_dw_key")).cast("long")).collect().head
            if (mm.isNullAt(0)) None
            else Some((mm.getLong(0), mm.getLong(1)))
        }
        bounds match {
          case None => (_, _) => true
          case Some((lo, hi)) =>
            (_, a) => a.longBounds.get(keyCol) match {
              case Some((mn, mx)) => mn <= hi && mx >= lo
              case None => true
            }
        }
      }
    // BLOOM pruning — the scattered-key case [min,max] is defeated
    // by (a hash-distributed CDC delete batch spans every file's
    // range): probe with the collected distinct keys (bounded — a
    // CDC batch is the broadcast-small side by construction; past
    // the cap, skip) and keep only files whose bloom admits ≥1 key
    val bloomKeep: (String, AddFile) => Boolean =
      (capped, partFiles(tableDir, BloomSidecarDir).isEmpty) match {
        case (Some(c), false) =>
          bloomProbe(spark, tableDir, keyCol, c.toSeq) match {
            case None => (_, _) => true
            case Some((bloomed, hits)) => (p, _) => {
              val b = p.substring(p.lastIndexOf('/') + 1)
              !bloomed.contains(b) || hits.contains(b)
            }
          }
        case _ => (_, _) => true
      }
    deleteWhereFiltered(spark, tableDir, d =>
      d.join(broadcast(k), d(keyCol) === k("_dw_key"), "left_semi"),
      st => (p, a) => rangePrune(st, a) && bloomKeep(p, a))
  }

  /** Test seam: data files the last delete actually scanned — the
    * pruning bound. */
  @volatile private[graft] var lastDeleteFilesScanned: Int = -1

  private def deleteWhereFiltered(spark: SparkSession, tableDir: String,
      matchRows: DataFrame => DataFrame,
      pruneSetup: State => (String, AddFile) => Boolean =
        _ => (_, _) => true)
      : Long = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
    val st = replay(tableDir, vs.last)
    requireWriterSupported(st, tableDir, "DELETE")
    requireNotAppendOnly(st, tableDir, "DELETE")
    // prune SETUP runs once against the single replay this call
    // already pays (bloom probes, stats bounds) — callers must not
    // re-replay the log for their own setup
    val prune: (String, AddFile) => Boolean = pruneSetup(st)
    def resolve(p: String) =
      if (p.startsWith("/") || p.contains("://")) p else s"$tableDir/$p"
    def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val byBase = st.files.map(p => base(p) -> p).toMap
    require(byBase.size == st.files.size,
      "duplicate data-file basenames — cannot key deletion vectors")
    // candidate files only — pruned files provably hold no match and
    // neither scan nor grow a deletion vector
    val candAdds: Map[String, AddFile] =
      st.adds.filter { case (p, a) => prune(p, a) }
    lastDeleteFilesScanned = candAdds.size
    if (candAdds.isEmpty) return vs.last
    val existing: Map[String, DeletionVectors.Bitmap64] =
      st.adds.collect {
        case (p, a) if a.dv.isDefined =>
          base(p) -> DeletionVectors.readBitmap(tableDir, a.dv.get)
      }.toMap
    val morFilter: DataFrame => DataFrame =
      if (existing.isEmpty) identity
      else {
        val bc = spark.sparkContext.broadcast(existing)
        d => d.filter(!graft.functions.DvExprs.deleted(
          col("_dw_f"), col("_dw_p"), bc))
      }
    val candFiles = candAdds.keys.toSeq.sorted
    val live: DataFrame =
      if (st.columnMapping.nonEmpty)
        // mapped table (always unpartitioned, replay-enforced): read
        // physically / by field id, take row identity BEFORE the
        // logical-name projection so `predicate` sees logical names
        // while the bitmap keys stay physical
        morFilter(mappedScanRaw(spark, tableDir,
            st.copy(adds = candAdds))
          .withColumn("_dw_f", col("_metadata.file_name"))
          .withColumn("_dw_p", col("_metadata.row_index")))
          .select(mappedCols(st) ++ Seq(col("_dw_f"), col("_dw_p")): _*)
      else if (st.partitionColumns.isEmpty)
        morFilter(spark.read.schema(st.schema)
          .parquet(candFiles.map(resolve): _*)
          .withColumn("_dw_f", col("_metadata.file_name"))
          .withColumn("_dw_p", col("_metadata.row_index")))
      else
        // partition columns restored BEFORE the predicate runs; the
        // row-identity columns ride carryCols through the projection
        PartitionedScan.scan(spark, st.schema, st.partitionColumns,
          candAdds.toSeq.map { case (p, a) =>
            (resolve(p), a.partitionValues) },
          preProject = d => morFilter(
            d.withColumn("_dw_f", col("_metadata.file_name"))
              .withColumn("_dw_p", col("_metadata.row_index"))),
          carryCols = Seq("_dw_f", "_dw_p"))
    val cdfOn = cdfWriteEnabled(st)
    // CDF write needs the matched ROWS a second time (the change
    // file); persist so the bitmap build and the change write share
    // one scan instead of re-running the match. try/finally: a
    // failing bitmap collect or change write (the column-mapped-CDF
    // require, a Spark job failure) must not leak the cached
    // DataFrame's executor storage for the rest of the session.
    val matched = if (cdfOn) matchRows(live).persist()
      else matchRows(live)
    try {
      val collected: Seq[(String, DeletionVectors.Bitmap64)] =
        matched
          .groupBy(col("_dw_f"))
          .agg(graft.functions.AggExprs.rowPosBitmap(col("_dw_p"))
            .as("_dw_bm"))
          .collect().toSeq
          .map(r => (r.getString(0), DeletionVectors.Bitmap64
            .fromPortable(r.getAs[Array[Byte]](1))))
          .filter(!_._2.isEmpty)
      lastDeleteRowsCollected = collected.size.toLong
      if (collected.isEmpty) return vs.last
      // delta.enableChangeDataFeed=true: the deleted rows ride a
      // _change_data file + cdc action, so CDF readers (this engine's
      // and foreign clients') take exact delete rows from the change
      // file instead of diffing deletion-vector bitmaps
      val cdcActs: Seq[ObjectNode] =
        if (!cdfOn) Seq.empty
        else {
          // mapped tables: change files spell the data columns
          // PHYSICALLY like any data file (`_change_type` itself is
          // never mapped) — a foreign mapped reader resolves them
          val changes = matched.drop("_dw_f", "_dw_p")
            .withColumn("_change_type", lit("delete"))
          writeChangeData(
            if (st.columnMapping.isEmpty) changes
            else physicalRows(changes, st),
            tableDir, st.partitionColumns)
        }
      val newDvs: Seq[(String, DeletionVectors.Bitmap64)] =
        collected.map { case (b, bm) => (byBase(b), bm) }
          .sortBy(_._1).map { case (p, bm) =>
            existing.get(base(p)).foreach(bm.or)
            p -> bm
          }
      val descs = DeletionVectors.writeDvFile(tableDir, newDvs)
      // the v3 upgrade must carry EVERY reader feature the table uses:
      // a mapped table that listed only deletionVectors would make
      // real clients read physical col-<uuid> names as data columns
      val features =
        if (st.columnMapping.nonEmpty)
          Seq("deletionVectors", "columnMapping")
        else Seq("deletionVectors")
      val actions = (protocolActionV3(features, st) +:
        newDvs.flatMap { case (p, _) =>
          val a = st.adds(p)
          Seq(removeAction(p),
            addAction(p, a.size, a.partitionValues, dataChange = true,
              a.stats, Some(descs(p))))
        }) ++ cdcActs
      // conflict-proving commit (the merge discipline): a winner
      // provably holding no row this delete matches — the op's own
      // prune predicate, superset contract — retries internally
      commitRowOp(tableDir, vs.last, actions,
        newDvs.map(_._1).toSet, prune, "delete")
    } finally if (cdfOn) matched.unpersist(): Unit
  }

  /** OPTIMIZE-style compaction: rewrite the current snapshot's rows
    * into `targetFiles` files and commit proper `remove`(old) +
    * `add`(new) actions with dataChange=false — Delta's OPTIMIZE
    * contract (same rows, new layout; a streaming reader may skip the
    * commit entirely because no data changed). The old files stay on
    * disk for time travel until [[vacuum]] reclaims them. Returns the
    * committed version.
    *
    * Scope: unpartitioned tables — a partitioned table compacts
    * within each partition via [[compactPartitioned]].
    *
    * Scale: compaction is the small-files cure — a streaming table
    * that appended thousands of per-trigger files becomes a handful
    * of full-size files, and every later scan pays file-open cost
    * proportional to the compacted count. */
  def compact(spark: SparkSession, tableDir: String,
              targetFiles: Int = 1): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
    val base = vs.last
    val st = replayMaybeCheckpointed(Some(spark), tableDir, base)
    require(st.partitionColumns.isEmpty,
      "compact supports unpartitioned tables (partitioned OPTIMIZE " +
        "compacts per-partition — see Snapshots.optimizeCompact)")
    val sub = s"part-${java.util.UUID.randomUUID}"
    // mapped tables compact like any other: the logical scan folds
    // DVs, the physical spelling goes back on at the write
    val snapshot = scanState(spark, tableDir, st)
    (if (st.columnMapping.isEmpty) snapshot
     else physicalRows(snapshot, st))
      .repartition(targetFiles)
      .write.parquet(s"$tableDir/$sub")
    val fs = partFiles(tableDir, sub)
    val stats = statsJsonBatch(spark, fs)
    val adds = fs.map(f =>
      addAction(s"$sub/${f.getName}", f.length, Map.empty,
        dataChange = false, stats = Some(stats(f.getPath))))
    val removes = st.files.map(p => removeAction(p, dataChange = false))
    // conflict-proving commit: a racing APPEND never conflicts with a
    // compaction (its files are not in the rewrite set and carry over
    // by identity — at 100 TB, OPTIMIZE races ingest constantly and
    // must not abort for it); a winner touching any INPUT file (DV
    // delete, merge, another OPTIMIZE) still aborts loudly
    commitRowOp(tableDir, base, removes ++ adds,
      st.files.toSet, (_, _) => false, "compaction")
  }

  /** [[compact]] for a PARTITIONED table: OPTIMIZE compacts WITHIN
    * each partition (the Delta contract — partition boundaries are
    * never merged). One distributed job, not one job per partition:
    * the snapshot is read once, hash-shuffled ON the partition
    * columns so each partition's rows land in a single task, and
    * written `partitionBy` — exactly one file per live partition, at
    * 10k partitions the same single shuffle. Commits proper
    * remove(old)+add(new) actions, all dataChange=false, each add
    * carrying its partition values. Returns the committed version. */
  def compactPartitioned(spark: SparkSession, tableDir: String): Long = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
    val base = vs.last
    val st = replayMaybeCheckpointed(Some(spark), tableDir, base)
    require(st.partitionColumns.nonEmpty,
      "compactPartitioned needs a partitioned table (use compact)")
    val sub = s"part-${java.util.UUID.randomUUID}"
    scanState(spark, tableDir, st)
      .repartition(st.partitionColumns.map(col): _*)
      .write.partitionBy(st.partitionColumns: _*)
      .parquet(s"$tableDir/$sub")
    val adds = partitionedAdds(spark, tableDir, sub, st.partitionColumns,
      dataChange = false)
    val removes = st.files.map(p => removeAction(p, dataChange = false))
    // the compact discipline: append winners carry over by identity
    commitRowOp(tableDir, base, removes ++ adds,
      st.files.toSet, (_, _) => false, "compaction")
  }

  /** OPTIMIZE ZORDER BY — [[compact]] whose layout is a MORTON
    * (Z-order) re-cluster on `zorderCols`: each dimension is min/max
    * NORMALIZED onto its bit range and the bits INTERLEAVED, so every
    * written file covers a small hyper-rectangle in ALL the named
    * dimensions at once and the refreshed `add.stats` min/max bounds
    * prune scans filtered on ANY of them (a single-column sort gives
    * perfect skipping on one dimension and none on the others — the
    * [[graft.ops.Scale.zOrderedOrders]] trade, now reachable from
    * `CALL <cat>.system.optimize_zorder`, real Delta's
    * `OPTIMIZE ... ZORDER BY (...)`). Commits remove(old)+add(new)
    * all `dataChange=false` — same rows, new layout; streaming
    * readers may skip the commit entirely.
    *
    * Scale: one distributed pass — a broadcast bounds row, a
    * projected z column, and a range-partitioned sort into
    * `targetFiles` files (sampled bounds, no single-reducer funnel);
    * the same cost class as any clustered rewrite, paid once per
    * OPTIMIZE cycle. Dimensions must be integral or date columns
    * (the bit interleave's domain). PARTITIONED tables z-order
    * WITHIN each partition (the range sort leads with the partition
    * columns — z-order never crosses partition boundaries, real
    * Delta's semantics). */
  def compactZorder(spark: SparkSession, tableDir: String,
      zorderCols: Seq[String], targetFiles: Int): Long = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
    val base = vs.last
    val st = replayMaybeCheckpointed(Some(spark), tableDir, base)
    val sub = s"part-${java.util.UUID.randomUUID}"
    if (st.partitionColumns.nonEmpty) {
      // PARTITIONED OPTIMIZE ZORDER: the range partitioning and
      // within-partition sort LEAD with the table's partition
      // columns, so every written file is a z-contiguous slice of
      // one partition — partition pruning and z-bounds pruning
      // compose (real Delta's semantics: z-order never crosses
      // partition boundaries)
      graft.ops.Scale.zClusteredBy(scanState(spark, tableDir, st),
          st.partitionColumns, zorderCols, targetFiles)
        .write.partitionBy(st.partitionColumns: _*)
        .parquet(s"$tableDir/$sub")
      val adds = partitionedAdds(spark, tableDir, sub,
        st.partitionColumns, dataChange = false)
      val removes =
        st.files.map(p => removeAction(p, dataChange = false))
      commitRowOp(tableDir, base, removes ++ adds,
        st.files.toSet, (_, _) => false, "compaction")
    } else {
      val clustered = graft.ops.Scale.zClustered(
        scanState(spark, tableDir, st), zorderCols, targetFiles)
      (if (st.columnMapping.isEmpty) clustered
       else physicalRows(clustered, st))
        .write.parquet(s"$tableDir/$sub")
      val fs = partFiles(tableDir, sub)
      val stats = statsJsonBatch(spark, fs)
      val adds = fs.map(f =>
        addAction(s"$sub/${f.getName}", f.length, Map.empty,
          dataChange = false, stats = Some(stats(f.getPath))))
      val removes =
        st.files.map(p => removeAction(p, dataChange = false))
      commitRowOp(tableDir, base, removes ++ adds,
        st.files.toSet, (_, _) => false, "compaction")
    }
  }

  // ---------------------------------------------------------------
  // Gated queries (q128/q129/q145/q146)
  // ---------------------------------------------------------------

  /** Session-cached built tables, keyed by (session, sf dir, source
    * fingerprint, kind): the fingerprint term evicts entries when the
    * orders testdata is rewritten in-session (driver regenerates
    * testdata between rounds) — the Staging/optimizeCache discipline;
    * without it q128/q129 would serve stale halves against a fresh
    * oracle and hash-mismatch confusingly. */
  private val tableCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long, String), String]()

  private[sources] def cachedTable(spark: SparkSession, dir: String,
      kind: String)(build: (DataFrame, String) => Unit): String = {
    tableCache.keySet.asScala.toSeq.foreach { k =>
      if (k._1.sparkContext.isStopped)
        Option(tableCache.remove(k)).foreach(p =>
          graft.util.Fs.deleteRecursively(new File(p).getParentFile))
    }
    val canon = new File(dir).getCanonicalPath
    val fp = graft.ops.Scale.sourceFingerprint(
      graft.Tables.path(canon, "orders"))
    tableCache.keySet.asScala.toSeq.foreach { k =>
      if ((k._1 eq spark) && k._2 == canon && k._4 == kind && k._3 != fp)
        Option(tableCache.remove(k)).foreach(p =>
          graft.util.Fs.deleteRecursively(new File(p).getParentFile))
    }
    tableCache.computeIfAbsent((spark, canon, fp, kind), _ => {
      val work = Files.createTempDirectory("graft_delta").toString
      val t = s"$work/orders_$kind"
      build(graft.Tables.load(spark, canon, "orders"), t)
      t
    })
  }

  /** Session-cached two-commit Delta table over the orders testdata:
    * commit 0 = even order keys, commit 1 = OVERWRITE with odd keys.
    * The halves are disjoint, so a reader that ignored commit 1's
    * remove actions would return both and row-count-mismatch — replay
    * correctness is the gate, not just file listing. */
  private[graft] def ordersDeltaTable(spark: SparkSession,
                                      dir: String): String =
    cachedTable(spark, dir, "delta") { (o, t) =>
      commitOverwrite(o.filter(
        org.apache.spark.sql.functions.pmod(col("o_orderkey"), lit(2)) === 0), t)
      commitOverwrite(o.filter(
        org.apache.spark.sql.functions.pmod(col("o_orderkey"), lit(2)) === 1), t)
    }

  /** q128 — DELTA LOG READ (latest): replays the open-format
    * transaction log and returns the current snapshot. Equals the odd
    * half of orders iff commit 1's remove actions were honored. */
  def deltaRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersDeltaTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val deltaReadSql: String =
    """SELECT * FROM orders WHERE o_orderkey % 2 = 1 ORDER BY o_orderkey"""

  /** q129 — DELTA TIME TRAVEL: pins commit 0, proving replay stops at
    * the requested version (the even half, before the overwrite). */
  def deltaTimeTravel(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, ordersDeltaTable(spark, dir), 0L)
      .orderBy(col("o_orderkey"))

  val deltaTimeTravelSql: String =
    """SELECT * FROM orders WHERE o_orderkey % 2 = 0 ORDER BY o_orderkey"""

  /** q168 — DELTA TIMESTAMP TIME TRAVEL: `timestampAsOf` the adjusted
    * timestamp of commit 0 must resolve to version 0 (the even half)
    * even when both commits landed in the same millisecond — the
    * monotonic adjustment is what makes the timestamp a valid search
    * key; a resolver using raw mtimes would nondeterministically
    * return the overwrite and hash-mismatch. */
  def deltaAsOfRead(spark: SparkSession, dir: String): DataFrame = {
    val t = ordersDeltaTable(spark, dir)
    readAsOfTimestamp(spark, t, commitTimestamps(t).head._2)
      .orderBy(col("o_orderkey"))
  }

  val deltaAsOfReadSql: String = deltaTimeTravelSql

  /** Session-cached RESTORE lifecycle table: even-keys commit, odd
    * overwrite, then RESTORE to version 0 — three commits on disk,
    * the latest re-adding the evens and removing the odds. */
  private[graft] def ordersRestoreTable(spark: SparkSession,
                                        dir: String): String =
    cachedTable(spark, dir, "deltars") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), t)
      restore(t, 0L)
    }

  /** q170 — DELTA RESTORE READBACK: after RESTORE-to-v0 the latest
    * snapshot must equal version 0 again, reached through a THIRD
    * commit whose adds re-reference v0's files — a restore that
    * rewrote data files, dropped the overwrite's removes, or
    * truncated history (time travel to v1 must still see the odds,
    * DeltaLogSpec-held) all fail. */
  def deltaRestoreRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersRestoreTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val deltaRestoreReadSql: String = deltaTimeTravelSql

  /** Session-cached DELETION-VECTOR table: one overwrite of orders,
    * then two stacked [[deleteWhere]] passes (every tenth key, every
    * seventh key) — the data files are untouched; the deletions exist
    * only as roaring bitmaps in `deletion_vector_*.bin`, and the
    * second delete's DVs must UNION the first's. */
  private[graft] def ordersDvTable(spark: SparkSession,
                                   dir: String): String =
    cachedTable(spark, dir, "deltadv") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o, t)
      deleteWhere(spark, t, pmod(col("o_orderkey"), lit(10)) === 0)
      deleteWhere(spark, t, pmod(col("o_orderkey"), lit(7)) === 0)
    }

  /** q172 — DELTA DELETION VECTORS (merge-on-read readback): the
    * stacked deletes must both apply through the bitmap anti-join —
    * a reader that ignored DVs returns the deleted tenths, one whose
    * second delete REPLACED instead of UNIONED the first's bitmap
    * resurrects the tenths, one that misdecoded the roaring framing
    * deletes wrong rows — every failure hash-mismatches the plain
    * two-predicate oracle. DeltaLogSpec separately pins the wire
    * format (Z85 vector, portable magic, CRC) and that data files
    * are byte-untouched. */
  def deltaDvRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersDvTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val deltaDvReadSql: String =
    """SELECT * FROM orders
      |WHERE o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** q181 — CDF OVER DELETION VECTORS: a DV update (remove+re-add of
    * the same path with a grown bitmap) must surface as ROW-LEVEL
    * deletes — exactly the newly-set positions, scanned from the one
    * touched file. A CDF that emitted the re-add as insert+delete of
    * the whole file floods downstream with false churn; one that
    * diffed against the wrong prior bitmap re-emits v1's tenths
    * under v2 — the three-arm oracle catches both. */
  def deltaDvChanges(spark: SparkSession, dir: String): DataFrame = {
    val t = ordersDvTable(spark, dir)
    readChanges(spark, t, 0L, versions(t).last)
      .orderBy(col("o_orderkey"), col("_commit_version"))
  }

  val deltaDvChangesSql: String =
    """SELECT * FROM (
      |  SELECT o.*, 'insert' AS _change_type,
      |         CAST(0 AS BIGINT) AS _commit_version FROM orders o
      |  UNION ALL
      |  SELECT o.*, 'delete', CAST(1 AS BIGINT) FROM orders o
      |  WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o.*, 'delete', CAST(2 AS BIGINT) FROM orders o
      |  WHERE o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
      |) ORDER BY o_orderkey, _commit_version""".stripMargin

  /** Session-cached PARTITIONED + DELETION-VECTOR table: orders
    * written `partitionBy(o_orderstatus)` through the log, then ONE
    * [[deleteWhere]] of every tenth key — the feature combination a
    * real migrated Delta table carries most often (partitioned AND
    * MoR-deleted). The deletions exist only as bitmaps; every re-add
    * keeps its `partitionValues`, so pruning still works on the
    * re-added files. */
  private[graft] def ordersPartitionedDvTable(spark: SparkSession,
                                              dir: String): String =
    cachedTable(spark, dir, "deltapdv") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwritePartitioned(o, t, Seq("o_orderstatus"))
      deleteWhere(spark, t, pmod(col("o_orderkey"), lit(10)) === 0)
    }

  /** q183 — DELETION VECTORS × PARTITIONED TABLE: the partition-
    * pruned read (only status-'O' files reach the scan, decided
    * driver-side over log metadata) must COMPOSE with the
    * broadcast-bitmap merge-on-read filter. A reader that pruned but
    * skipped the DVs returns the deleted tenths; one that applied
    * DVs but scanned every partition leaks other statuses; one whose
    * re-adds lost their partitionValues reconstructs NULL statuses —
    * each hash-mismatches the two-predicate oracle. DeltaLogSpec
    * additionally pins files-scanned == the 'O' partition's file
    * count and the O(files) delete collect on this exact shape. */
  def deltaPartitionedDvRead(spark: SparkSession,
                             dir: String): DataFrame =
    readFiltered(spark, ordersPartitionedDvTable(spark, dir),
        col("o_orderstatus") === "O")
      .orderBy(col("o_orderkey"))

  val deltaPartitionedDvReadSql: String =
    """SELECT * FROM orders
      |WHERE o_orderstatus = 'O' AND o_orderkey % 10 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** Session-cached PARTITIONED Delta table: orders written
    * `partitionBy(o_orderstatus)` through the log, one commit. The
    * status column's values exist only in `add.partitionValues`. */
  private[graft] def ordersPartitionedTable(spark: SparkSession,
                                            dir: String): String =
    cachedTable(spark, dir, "deltap") { (o, t) =>
      commitOverwritePartitioned(o, t, Seq("o_orderstatus"))
    }

  /** q145 — DELTA PARTITION-PRUNED READ: a predicate on the partition
    * column is answered by [[readWhere]], which drops non-matching
    * files from the replayed state BEFORE the scan exists — the open
    * format's partition pruning, driver-side over log metadata. The
    * oracle is the full-table filter, so pruning that ever dropped a
    * matching file (or kept a wrong one whose reconstructed status
    * leaked through) hash-mismatches; DeltaLogSpec separately asserts
    * files-scanned == files in the matching partition. */
  def deltaPrunedRead(spark: SparkSession, dir: String): DataFrame =
    readWhere(spark, ordersPartitionedTable(spark, dir))(
        pv => pv.get("o_orderstatus").contains("O"))
      .filter(col("o_orderstatus") === "O")
      .orderBy(col("o_orderkey"))

  val deltaPrunedReadSql: String =
    """SELECT * FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderkey"""

  /** q176 — DELTA PREDICATE PUSHDOWN: ONE raw-column predicate
    * (status equality AND a custkey bound) drives partition pruning
    * and stats skipping automatically through [[readFiltered]]'s
    * conjunct extraction — no explicit readWhere/readWhereStats
    * call. The oracle is the identical SQL filter; DeltaLogSpec pins
    * files-scanned == the pruned partition's files. */
  def deltaPushdownRead(spark: SparkSession, dir: String): DataFrame =
    readFiltered(spark, ordersPartitionedTable(spark, dir),
        col("o_orderstatus") === "O" && col("o_custkey") <= lit(750L))
      .orderBy(col("o_orderkey"))

  val deltaPushdownReadSql: String =
    """SELECT * FROM orders
      |WHERE o_orderstatus = 'O' AND o_custkey <= 750
      |ORDER BY o_orderkey""".stripMargin

  /** Session-cached 3-row status dimension (q220): distinct order
    * statuses with a derived lowercase tag — the selective build
    * side whose join keys the runtime filter feeds back into the
    * fact scan. */
  private[graft] def ordersStatusDimTable(spark: SparkSession,
                                          dir: String): String =
    cachedTable(spark, dir, "deltadim") { (o, t) =>
      commitAppend(o.select(col("o_orderstatus")).distinct()
        .withColumn("tag",
          org.apache.spark.sql.functions.lower(col("o_orderstatus"))),
        t)
    }

  /** Session-cached status-partitioned per-status rollup (q222): the
    * CO-PARTITIONED dimension the storage-partitioned join pairs
    * with the status-partitioned orders — same partition column,
    * same identity layout, so the join needs no shuffle. */
  private[graft] def ordersStatusAggTable(spark: SparkSession,
                                          dir: String): String =
    cachedTable(spark, dir, "deltasagg") { (o, t) =>
      commitOverwritePartitioned(
        o.groupBy(col("o_orderstatus"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_orders")),
        t, Seq("o_orderstatus"))
    }

  /** Session-cached append/compaction lifecycle table: three APPEND
    * commits (order keys mod 3), a checkpoint, then an OPTIMIZE
    * [[compact]] — the log ends with a realistic mixed history
    * (protocol/metaData, pure adds, remove+add with
    * dataChange=false). */
  private[graft] def ordersAppendCompactTable(spark: SparkSession,
                                              dir: String): String =
    cachedTable(spark, dir, "deltaac") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      (0 to 2).foreach { m =>
        commitAppend(o.filter(pmod(col("o_orderkey"), lit(3)) === m), t)
      }
      checkpoint(spark, t)
      compact(spark, t, targetFiles = 2)
    }

  /** q146 — DELTA APPEND + OPTIMIZE READBACK: the table was built by
    * three disjoint appends then compacted; reading through the log
    * must return exactly the union of the appends — an append reader
    * that dropped prior files, or a compaction that lost/duplicated
    * rows or mis-ordered its remove+add actions, all hash-mismatch
    * against the plain full-orders oracle. */
  def deltaAppendCompactRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersAppendCompactTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val deltaAppendCompactReadSql: String =
    """SELECT * FROM orders ORDER BY o_orderkey"""

  /** Session-cached STORAGE-LIFECYCLE table — the full retention
    * story in one history: two disjoint appends (v0/v1), a MoR
    * DELETE of every tenth key that exists only as a deletion-vector
    * bitmap (v2), an OPTIMIZE that folds the DV into rewritten files
    * (v3, dataChange=false), then VACUUM to the latest version —
    * reclaiming the compacted-away originals AND the DV file (only
    * v2 referenced it; a vacuum that missed DV reference counting
    * would either leak it forever or, worse, reclaim one a retained
    * version still needs). Builder-`require`d: the vacuum reclaimed
    * the original data files and exactly the one DV file, and kept
    * every live compacted file. */
  private[graft] def ordersRetentionTable(spark: SparkSession,
                                          dir: String): String =
    cachedTable(spark, dir, "deltaret") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitAppend(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
      commitAppend(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), t)
      deleteWhere(spark, t, pmod(col("o_orderkey"), lit(10)) === 0)
      compact(spark, t, targetFiles = 2)
      val live = replay(t, versions(t).last).files.toSet
      val reclaimed = vacuum(t, keepVersions = 1)
      require(reclaimed.count(_.startsWith("deletion_vector_")) == 1,
        s"vacuum must reclaim exactly the expired DV file, got " +
          reclaimed.mkString(", "))
      require(reclaimed.exists(_.endsWith(".parquet")),
        "vacuum must reclaim the compacted-away original data files")
      require(reclaimed.forall(p => !live.contains(p)),
        "vacuum reclaimed a file the retained version still reads")
    }

  /** q185 — RETENTION LIFECYCLE READBACK: after append → MoR delete
    * (DV) → OPTIMIZE → VACUUM(keep latest), the table must read as
    * orders minus the deleted tenths FROM THE COMPACTED FILES ALONE
    * — every pre-compaction file and the DV are gone from disk. A
    * compaction that failed to fold the bitmap resurrects the
    * tenths; a vacuum that reclaimed a live file breaks the scan; a
    * DV reference-count bug upstream deletes rows twice or zero
    * times — all hash-mismatch (or throw) against the one-predicate
    * oracle. DeltaLogSpec additionally pins that time travel PAST
    * the horizon now fails loudly on the missing files. */
  def deltaRetentionRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersRetentionTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val deltaRetentionReadSql: String =
    """SELECT * FROM orders
      |WHERE o_orderkey % 10 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** q178 — DELTA SCAN AS A SQL TABLE FUNCTION: `delta_scan(path)`
    * in plain SQL (the DuckDB-parity spelling, injected via
    * SparkSessionExtensions / runtime-registered on given sessions).
    * The TVF's analysis-time builder must replay the same log the
    * programmatic read replays — the odd-half oracle catches a
    * builder that read the wrong version or dropped removes. */
  def sqlDeltaScan(spark: SparkSession, dir: String): DataFrame = {
    graft.extensions.GraftExtensions.registerTableFunctions(spark)
    val t = ordersDeltaTable(spark, dir)
    spark.sql(s"SELECT * FROM delta_scan('$t') ORDER BY o_orderkey")
  }

  val sqlDeltaScanSql: String = deltaReadSql

  /** q190 — DESCRIBE HISTORY AS SQL: `delta_history(path)` over the
    * append/OPTIMIZE lifecycle table must classify each commit from
    * its action shape — CREATE, WRITE, WRITE, OPTIMIZE. A classifier
    * that missed dataChange=false calls the compaction an OVERWRITE;
    * one that missed the first commit's metaData calls it a WRITE —
    * both hash-mismatch the literal oracle. Pure driver-side
    * metadata (no data scanned), like the DESCRIBE HISTORY every
    * lakehouse audit runs. */
  def sqlDeltaHistory(spark: SparkSession, dir: String): DataFrame = {
    graft.extensions.GraftExtensions.registerTableFunctions(spark)
    val t = ordersAppendCompactTable(spark, dir)
    spark.sql(s"SELECT * FROM delta_history('$t') ORDER BY version")
  }

  val sqlDeltaHistorySql: String =
    """SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'CREATE'),
      |  (1, 'WRITE'), (2, 'WRITE'), (3, 'OPTIMIZE'))
      |  AS t(version, operation)
      |ORDER BY version""".stripMargin

  /** Session-cached status-partitioned tables with ONE file per
    * partition (repartition by the partition column → one task per
    * status → one file per hive dir), so the q216 file-stats rows
    * ARE the per-partition aggregates the oracle recomputes. */
  private[graft] def ordersDeltaFilesTable(spark: SparkSession,
                                           dir: String): String =
    cachedTable(spark, dir, "deltafiles") { (o, t) =>
      commitOverwritePartitioned(o.repartition(col("o_orderstatus")),
        t, Seq("o_orderstatus"))
    }

  private[graft] def ordersIcebergFilesTable(spark: SparkSession,
                                             dir: String): String =
    cachedTable(spark, dir, "icebergfiles") { (o, t) =>
      Iceberg.commitAppendPartitioned(
        o.repartition(col("o_orderstatus")), t, Seq("o_orderstatus"))
    }

  /** q216 — the `table$files` METADATA TABLES as SQL
    * (`delta_file_stats` / `iceberg_files`, the DESCRIBE-surface
    * companions of q190/q191's history/snapshots): both formats'
    * per-file rows over one-file-per-partition fixtures, so records
    * and the decoded o_orderkey bounds equal the per-status
    * aggregates DuckDB recomputes from the raw data — the recorded
    * stats themselves are what is being verified (a writer whose
    * numRecords or min/max drifted from the data hash-mismatches
    * here, and every stats-bound prune above rests on these). */
  def sqlFileStats(spark: SparkSession, dir: String): DataFrame = {
    graft.extensions.GraftExtensions.registerTableFunctions(spark)
    val dt = ordersDeltaFilesTable(spark, dir)
    val it = ordersIcebergFilesTable(spark, dir)
    spark.sql(
      s"""SELECT 'delta' AS fmt,
         |  element_at(partition, 'o_orderstatus') AS o_orderstatus,
         |  records,
         |  CAST(get_json_object(min_values, '$$.o_orderkey') AS BIGINT)
         |    AS min_k,
         |  CAST(get_json_object(max_values, '$$.o_orderkey') AS BIGINT)
         |    AS max_k
         |FROM delta_file_stats('$dt')
         |UNION ALL
         |SELECT 'iceberg' AS fmt,
         |  element_at(partition, 'o_orderstatus') AS o_orderstatus,
         |  records,
         |  element_at(min_values, 'o_orderkey') AS min_k,
         |  element_at(max_values, 'o_orderkey') AS max_k
         |FROM iceberg_files('$it') WHERE content = 0
         |ORDER BY fmt, o_orderstatus""".stripMargin)
  }

  val sqlFileStatsSql: String =
    """SELECT fmt, o_orderstatus, records, min_k, max_k FROM (
      |  SELECT 'delta' AS fmt, o_orderstatus,
      |    count(*) AS records, min(o_orderkey) AS min_k,
      |    max(o_orderkey) AS max_k
      |  FROM orders GROUP BY o_orderstatus
      |  UNION ALL
      |  SELECT 'iceberg' AS fmt, o_orderstatus,
      |    count(*) AS records, min(o_orderkey) AS min_k,
      |    max(o_orderkey) AS max_k
      |  FROM orders GROUP BY o_orderstatus)
      |ORDER BY fmt, o_orderstatus""".stripMargin

  /** Incremental consumption — the Delta STREAMING-SOURCE offset
    * contract (versions are the offsets): all changes strictly AFTER
    * `sinceVersion`, plus the latest version for the consumer to
    * checkpoint. A consumer that persists the returned version and
    * calls back gets each commit's rows exactly once across calls —
    * the batch skeleton of `readStream.format("delta")`, and the
    * O(delta)-per-trigger path an incremental MV rides at 100 TB.
    * `sinceVersion = -1` consumes from the beginning. */
  def changesSince(spark: SparkSession, tableDir: String,
                   sinceVersion: Long): (DataFrame, Long) = {
    val latest = versions(tableDir).last
    require(sinceVersion <= latest,
      s"offset $sinceVersion is ahead of the log (latest $latest)")
    if (sinceVersion == latest) {
      import org.apache.spark.sql.types.{LongType, StringType, StructField}
      val st = replayMaybeCheckpointed(Some(spark), tableDir, latest)
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[Row](),
        StructType(st.schema.fields ++ Seq(
          StructField("_change_type", StringType, nullable = false),
          StructField("_commit_version", LongType, nullable = false))))
      (empty, latest)
    } else {
      val from = versions(tableDir).find(_ > sinceVersion).get
      (readChanges(spark, tableDir, from, latest), latest)
    }
  }

  /** Checkpointed incremental CONSUMER over the log — the streaming-
    * source lifecycle on top of [[changesSince]]: poll the changes
    * past the persisted offset, land each commit's rows in its own
    * `commit=<version>` sink partition (OVERWRITE — a commit
    * re-delivered after a crash REPLACES its own output, never
    * appends a duplicate), then persist the new offset atomically.
    * The crash window is exactly between sink write and offset
    * persist — `afterSink` runs there so a spec can plant the crash;
    * on restart the consumer re-reads from the stale offset and the
    * idempotent sink makes the re-delivery invisible. Exactly-once
    * end to end with O(new commits) work per poll. Returns the new
    * offset (the latest consumed version). */
  def consumeChanges(spark: SparkSession, tableDir: String,
                     workDir: String,
                     afterSink: Long => Unit = _ => ()): Long = {
    val offsetFile = Paths.get(workDir, "offset")
    val offset =
      if (Files.isRegularFile(offsetFile))
        new String(Files.readAllBytes(offsetFile), "UTF-8").trim.toLong
      else -1L
    val (changes, latest) = changesSince(spark, tableDir, offset)
    if (latest > offset) {
      // bound to `latest`: a commit landing between the changesSince
      // read and this listing belongs to the NEXT poll
      versions(tableDir).filter(v => v > offset && v <= latest).foreach { v =>
        changes.filter(col("_commit_version") === v)
          .write.mode("overwrite").parquet(s"$workDir/sink/commit=$v")
      }
      afterSink(latest)
      Files.createDirectories(Paths.get(workDir))
      // consumer-side advisory pointer — store-appropriate replace
      // (ATOMIC_MOVE on posix, whole-object PUT on object stores)
      LogStore.current.putPointer(offsetFile,
        latest.toString.getBytes("UTF-8"))
    }
    latest
  }

  /** q152 — DELTA CHANGE DATA FEED: the full change history of the
    * append/compaction lifecycle table. Three appends contribute
    * their rows as inserts tagged with their commit version (keys
    * ≡ v mod 3 by construction); the OPTIMIZE commit contributes
    * NOTHING — its remove+add actions carry dataChange=false, and a
    * CDF that leaked them would show every row deleted and
    * re-inserted, hash-mismatching the oracle. */
  def deltaChanges(spark: SparkSession, dir: String): DataFrame = {
    val t = ordersAppendCompactTable(spark, dir)
    readChanges(spark, t, 0L, versions(t).last)
      .orderBy(col("o_orderkey"))
  }

  val deltaChangesSql: String =
    """SELECT o.*, 'insert' AS _change_type,
      |  o_orderkey % 3 AS _commit_version
      |FROM orders o ORDER BY o_orderkey""".stripMargin

  /** Session-cached partitioned table AFTER a partitioned OPTIMIZE:
    * orders written `partitionBy(o_orderstatus)` (many files per
    * partition), then [[compactPartitioned]] — one file per status. */
  private[graft] def ordersPartitionedCompactTable(spark: SparkSession,
                                                   dir: String): String =
    cachedTable(spark, dir, "deltapc") { (o, t) =>
      commitOverwritePartitioned(o, t, Seq("o_orderstatus"))
      compactPartitioned(spark, t)
    }

  /** q154 — PARTITIONED OPTIMIZE READBACK THROUGH PRUNING: the table
    * was compacted per-partition (dataChange=false remove+add, values
    * preserved on the new adds); a partition predicate then prunes to
    * the compacted 'F' file. Lost/duplicated rows, a compaction that
    * merged partition boundaries, or post-compaction adds whose
    * partitionValues went missing all hash-mismatch; DeltaLogSpec
    * separately asserts one-file-per-partition and files-scanned==1. */
  def deltaPartitionedOptimize(spark: SparkSession, dir: String): DataFrame =
    readWhere(spark, ordersPartitionedCompactTable(spark, dir))(
        pv => pv.get("o_orderstatus").contains("F"))
      .filter(col("o_orderstatus") === "F")
      .orderBy(col("o_orderkey"))

  val deltaPartitionedOptimizeSql: String =
    """SELECT * FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey"""

  /** Session-cached MERGE lifecycle table: base commit = even order
    * keys; then [[mergeInto]] with source = keys divisible by 3,
    * their priority rewritten to 'MERGED'. Matched keys (even, %3=0)
    * must take the source's values; odd %3=0 keys must insert; even
    * non-matched keys must survive untouched. */
  private[graft] def ordersMergeTable(spark: SparkSession,
                                      dir: String): String =
    cachedTable(spark, dir, "deltam") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
      mergeInto(spark, t,
        o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
          .withColumn("o_orderpriority", lit("MERGED")),
        Seq("o_orderkey"))
    }

  /** q155 — MERGE INTO through the open log: read back the merged
    * snapshot. The oracle spells the MERGE algebra directly (source
    * wins on matched keys, inserts on new keys, untouched otherwise),
    * so update-all/insert-all semantics are the hash gate. */
  def deltaMergeRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersMergeTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val deltaMergeReadSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate,
      |  CASE WHEN o_orderkey % 3 = 0 THEN 'MERGED'
      |       ELSE o_orderpriority END AS o_orderpriority
      |FROM orders
      |WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** Session-cached PARTITIONED-MERGE fixture (q205): full orders
    * committed status-partitioned with several files per partition,
    * then one [[mergeInto]] keyed (o_orderkey, o_orderstatus) whose
    * source touches ONLY status 'F' (%7 keys → priority 'MERGED').
    * Because the partition columns are merge keys, the probe
    * composes with partition pruning — the builder `require`s the
    * ladder in-fixture, so a regression to whole-table probing fails
    * the gated query loudly, not just a spec:
    * candidates (= `lastMergeFilesTotal`) < snapshot files (only the
    * F partition's files are candidates), scanned ≤ candidates,
    * rewritten ≤ scanned. */
  private[graft] def ordersPartitionedMergeTable(spark: SparkSession,
                                                 dir: String): String =
    cachedTable(spark, dir, "deltapm") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwritePartitioned(o.repartition(4), t,
        Seq("o_orderstatus"))
      val nAll = replay(t, versions(t).last).files.size
      mergeInto(spark, t,
        o.filter(col("o_orderstatus") === "F" &&
            pmod(col("o_orderkey"), lit(7)) === 0)
          .withColumn("o_orderpriority", lit("MERGED")),
        Seq("o_orderkey", "o_orderstatus"))
      require(lastMergeFilesTotal < nAll,
        s"partitioned merge probed $lastMergeFilesTotal of $nAll " +
          "files — partition pruning is off (source touches one of " +
          "three status partitions)")
      require(lastMergeFilesScanned <= lastMergeFilesTotal &&
          lastMergeFilesRewritten <= lastMergeFilesScanned,
        s"merge pruning ladder violated: rewritten " +
          s"$lastMergeFilesRewritten / scanned $lastMergeFilesScanned" +
          s" / candidates $lastMergeFilesTotal")
    }

  /** q205 — PARTITIONED MERGE INTO: the q155 algebra against a
    * status-partitioned target with the partition column in the
    * merge keys — the 100 TB CDC-silver shape (the reference's MERGE
    * silver is partitioned, spark/batch_silver.py:146-159; a
    * date-partitioned lake receiving a one-day batch must probe one
    * day's files, not the lake). Hash gate: matched (key, status)
    * rows take the source's priority, everything else unchanged, and
    * partition columns reconstruct from the log's per-file
    * partitionValues across BOTH the untouched files and the
    * merge-rewritten ones. The in-fixture `require`s pin the
    * pruning. */
  def deltaPartitionedMergeRead(spark: SparkSession,
                                dir: String): DataFrame =
    read(spark, ordersPartitionedMergeTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val deltaPartitionedMergeReadSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate,
      |  CASE WHEN o_orderstatus = 'F' AND o_orderkey % 7 = 0
      |       THEN 'MERGED' ELSE o_orderpriority END
      |    AS o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Session-cached BLOOM-SIDECAR fixture (q207): orders committed
    * as 8 interleaved files (file i = keys ≡ i mod 8 — every file's
    * [min,max] spans the whole key domain, so range pruning can
    * prove NOTHING), `graft.bloomFilter.columns=o_orderkey` set
    * after the first append ([[bloomBackfill]] covers it), then one
    * scattered-key CDC delete (keys ≡ 3 mod 1000, which all live in
    * file 3 since 1000 ≡ 0 mod 8). The builder `require`s the scan
    * stayed ≪ total — the exact seam a hash-distributed delete
    * batch needs at 100 TB, where min/max is always defeated. */
  private[graft] def ordersBloomTable(spark: SparkSession,
                                      dir: String): String =
    cachedTable(spark, dir, "deltabloom") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitAppend(
        o.filter(pmod(col("o_orderkey"), lit(8)) === 0).coalesce(1), t)
      setTableProperties(t, Map(BloomColsProp -> "o_orderkey"))
      (1 to 7).foreach(i => commitAppend(
        o.filter(pmod(col("o_orderkey"), lit(8)) === i).coalesce(1), t))
      require(bloomBackfill(spark, t) == 1,
        "exactly the pre-property file needed a bloom backfill")
      // a FIXED-size key batch (the 8 smallest ≡3-mod-1000 keys):
      // bloom prune probability per file is (1−fpr)^K, so the gate
      // must not let K grow with scale factor
      deleteWhereKeys(spark, t, "o_orderkey",
        o.filter(pmod(col("o_orderkey"), lit(1000)) === 3)
          .orderBy(col("o_orderkey")).limit(8)
          .select("o_orderkey"))
      require(lastDeleteFilesScanned <= 2,
        s"bloom probe should scan ~1 of 8 interleaved files, " +
          s"scanned $lastDeleteFilesScanned — scattered-key pruning " +
          "is off")
    }

  /** q207 — BLOOM-PRUNED SCATTERED-KEY DELETE: read back
    * [[ordersBloomTable]]. Hash gate: exactly the 8 smallest
    * ≡3-mod-1000 keys are gone (the bloom is a SUPERSET filter — a
    * false negative would leave rows undeleted and hash-mismatch;
    * over-pruning would delete nothing from unbloomed files). The
    * in-fixture `require` pins files-scanned ≪ total on a key batch
    * whose [min,max] covers every file. */
  def deltaBloomDeleteRead(spark: SparkSession,
                           dir: String): DataFrame =
    read(spark, ordersBloomTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val deltaBloomDeleteReadSql: String =
    """SELECT * FROM orders WHERE o_orderkey NOT IN (
      |  SELECT o_orderkey FROM orders WHERE o_orderkey % 1000 = 3
      |  ORDER BY o_orderkey LIMIT 8)
      |ORDER BY o_orderkey""".stripMargin

  /** Session-cached CONSTRAINTS fixture (q217): an orders-derived
    * table that declares a CHECK (`delta.constraints.*`) and a
    * GENERATED column, then lives through enforced appends and a
    * MERGE. The builder `require`s the refusal arms in-fixture —
    * a violating append and a violating merge must both abort
    * naming their invariant and commit NOTHING — so a regression to
    * unenforced writes fails the gated query loudly, not just a
    * spec. */
  private[graft] def ordersConstraintsTable(spark: SparkSession,
                                            dir: String): String =
    cachedTable(spark, dir, "deltaconstraints") { (o, t) =>
      val base = o.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        (col("o_orderkey") % 10).as("key_mod"))
      commitOverwrite(base.filter(col("o_orderkey") % 2 === 0), t)
      addCheckConstraint(spark, t, "status_domain",
        "o_orderstatus IN ('F','O','P')")
      addGenerationExpression(spark, t, "key_mod", "o_orderkey % 10")
      // enforced appends + merge: the valid half lands
      commitAppend(base.filter(col("o_orderkey") % 2 === 1), t)
      mergeInto(spark, t,
        base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderstatus", lit("P")),
        Seq("o_orderkey"))
      val vBefore = versions(t).last
      def refused(body: => Unit, name: String): Unit = {
        val ok = try { body; false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains(name) }
        require(ok, s"a write violating $name must refuse loudly")
      }
      refused(commitAppend(
        base.limit(1).withColumn("o_orderstatus", lit("X"))
          .withColumn("o_orderkey", lit(-1L)), t), "status_domain")
      refused(mergeInto(spark, t,
        base.limit(1).withColumn("key_mod", lit(99L)), Seq("o_orderkey")),
        "key_mod")
      require(versions(t).last == vBefore,
        "refused writes must commit nothing")
    }

  /** q217 — CHECK CONSTRAINTS + GENERATED COLUMNS through the write
    * lifecycle (the reference's Postgres CHECK shape,
    * postgres_init/init.sql:134, enforced at the lake): declared
    * post-creation with existing-data validation, enforced on
    * append AND merge (in-fixture refusal requires), and the
    * surviving data — exactly the compliant writes — hash-checked
    * against the oracle. */
  def deltaConstraintsRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersConstraintsTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val deltaConstraintsReadSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 7 = 0 THEN 'P'
      |       ELSE o_orderstatus END AS o_orderstatus,
      |  o_orderkey % 10 AS key_mod
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** Session-cached CONDITIONAL-PUT lifecycle fixture (q213): the
    * full writer surface — overwrite, append, MERGE INTO, row-level
    * delete, checkpoint — committed with
    * [[ConditionalPutStore]] active, i.e. under OBJECT-STORE commit
    * semantics (no hard links, no atomic rename, put-if-absent only:
    * the S3/MinIO storage the reference's lake lives on,
    * docker-compose.yml:146-149). The builder `require`s the routing:
    * every claim went through the conditional-put store and ZERO
    * through the posix CAS — a silent fallback to links would pass
    * the data check while breaking on a real object store. */
  private[graft] def condPutLifecycleTable(spark: SparkSession,
                                           dir: String): String =
    cachedTable(spark, dir, "condput") { (o, t) =>
      val posixBefore = PosixLogStore.claimsAttempted.get
      val condBefore = ConditionalPutStore.claimsAttempted.get
      LogStore.withStore(ConditionalPutStore) {
        commitOverwrite(o.filter(col("o_orderkey") % 2 === 0), t)
        commitAppend(o.filter(col("o_orderkey") % 2 === 1), t)
        mergeInto(spark, t,
          o.filter(col("o_orderkey") % 3 === 0)
            .withColumn("o_orderpriority", lit("MERGED")),
          Seq("o_orderkey"))
        deleteWhere(spark, t, col("o_orderkey") % 10 === 7)
        checkpoint(spark, t) // _last_checkpoint rides putPointer
      }
      require(ConditionalPutStore.claimsAttempted.get >= condBefore + 4,
        "the lifecycle's four commits must claim through the " +
          "conditional-put store")
      require(PosixLogStore.claimsAttempted.get == posixBefore,
        "no commit may fall back to the posix hard-link CAS while " +
          "the conditional-put store is active")
    }

  /** q213 — the q155/q172 write algebra through the OBJECT-STORE
    * commit protocol: overwrite + append + MERGE + DV delete +
    * checkpoint, all claimed via conditional PUT ([[LogStore]]), then
    * read back through the ordinary replay path (which never cares
    * which store published the commits — the log is the log). */
  def condPutLifecycleRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, condPutLifecycleTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val condPutLifecycleReadSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate,
      |  CASE WHEN o_orderkey % 3 = 0 THEN 'MERGED'
      |       ELSE o_orderpriority END AS o_orderpriority
      |FROM orders
      |WHERE o_orderkey % 10 <> 7
      |ORDER BY o_orderkey""".stripMargin

  /** Session-cached CDC-WIRE source table (the q206 feed): v0 = full
    * orders (the initial snapshot), v1 = an APPEND of the update
    * batch (status-'F' %3 keys re-emitted with priority 'MERGED' —
    * the at-least-once shape a CDC topic delivers: updates arrive as
    * new rows with old keys, the SINK's merge dedups), v2 = a
    * deletion-vector [[deleteWhere]] of every tenth key. Three
    * commits = three `graft-delta-cdf` micro-batches: inserts,
    * upserts, deletes. */
  private[graft] def ordersCdcWireTable(spark: SparkSession,
                                        dir: String): String =
    cachedTable(spark, dir, "deltacdcwire") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o, t)
      commitAppend(
        o.filter(col("o_orderstatus") === "F" &&
            pmod(col("o_orderkey"), lit(3)) === 0)
          .withColumn("o_orderpriority", lit("MERGED")), t)
      deleteWhere(spark, t, pmod(col("o_orderkey"), lit(10)) === 0): Unit
    }

  /** Session-cached CDC-ENABLED lifecycle table: v0 = even keys
    * (plain create — CDF derives it as inserts), v1 = ALTER TABLE SET
    * `delta.enableChangeDataFeed=true` (metaData only, contributes no
    * changes), v2 = [[mergeInto]] keys %3=0 with priority 'MERGED'
    * (writes a `_change_data` file: update_preimage/update_postimage
    * pairs for matched keys + inserts for new keys, stamped by a
    * `cdc` action), v3 = [[deleteWhere]] keys %5=0 (deletion-vector
    * delete whose deleted ROWS also ride a change file + cdc
    * action). */
  private[graft] def ordersCdcTable(spark: SparkSession,
                                    dir: String): String =
    cachedTable(spark, dir, "deltacdcfeed") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
      setTableProperties(t, Map("delta.enableChangeDataFeed" -> "true"))
      mergeInto(spark, t,
        o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
          .withColumn("o_orderpriority", lit("MERGED")),
        Seq("o_orderkey"))
      deleteWhere(spark, t, pmod(col("o_orderkey"), lit(5)) === 0): Unit
    }

  /** q201 — CDC ACTIONS HONORED OVER DERIVATION: the full change feed
    * of [[ordersCdcTable]]. The protocol requires a reader to take a
    * commit's changes from its `cdc` change files when present and
    * derive from add/remove only for bare commits — so v0 derives as
    * inserts, v2 (a MERGE, physically an overwrite: remove-all +
    * add-all) must read its change file's update_preimage/
    * update_postimage/insert rows (deriving would report the whole
    * table deleted and re-inserted — hash mismatch), and v3 (a DV
    * delete) must read its change file's delete rows rather than diff
    * bitmaps. The property commit v1 contributes nothing. This is the
    * read path a user migrating from the reference's CDC-first
    * pipeline (spark/batch_silver.py:58-82) hits on day one against a
    * foreign-written Delta change feed. */
  def deltaCdcFeed(spark: SparkSession, dir: String): DataFrame = {
    val t = ordersCdcTable(spark, dir)
    readChanges(spark, t, 0L, versions(t).last)
      .orderBy(col("_commit_version"), col("_change_type"),
        col("o_orderkey"))
  }

  val deltaCdcFeedSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority,
      |  'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority,
      |  'update_preimage', CAST(2 AS BIGINT)
      |FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, 'MERGED',
      |  'update_postimage', CAST(2 AS BIGINT)
      |FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, 'MERGED',
      |  'insert', CAST(2 AS BIGINT)
      |FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate,
      |  CASE WHEN o_orderkey % 3 = 0 THEN 'MERGED'
      |       ELSE o_orderpriority END,
      |  'delete', CAST(3 AS BIGINT)
      |FROM orders
      |WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0)
      |  AND o_orderkey % 5 = 0
      |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin

  /** Session-cached COLUMN-MAPPED CDC fixture (q211): the round-12
    * refusal ("CDF write on a column-mapped table is out of scope")
    * turned feature. v0 = mapped creation (mode=name, physical
    * col-<uuid> files) of keys %2=0; v1 = enableChangeDataFeed; v2 =
    * [[mergeInto]] keys %3=0 priority 'MERGED' (physically-spelled
    * rewrite files AND change file, cdc action stamped); v3 =
    * RENAME `o_orderpriority` → `priority` (the metadata-only
    * commit mapping exists for — the v2 change file is untouched);
    * v4 = [[deleteWhere]] keys %5=0 (DV delete, physically-spelled
    * change file). */
  private[graft] def ordersMappedCdcTable(spark: SparkSession,
                                          dir: String): String =
    cachedTable(spark, dir, "deltamappedcdc") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      val proj = o.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
      commitOverwriteMapped(
        proj.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
      setTableProperties(t, Map("delta.enableChangeDataFeed" -> "true"))
      mergeInto(spark, t,
        proj.filter(pmod(col("o_orderkey"), lit(3)) === 0)
          .withColumn("o_orderpriority", lit("MERGED")),
        Seq("o_orderkey"))
      renameColumnMapped(t, "o_orderpriority", "priority")
      deleteWhere(spark, t, pmod(col("o_orderkey"), lit(5)) === 0): Unit
    }

  /** q211 — CDC × COLUMN MAPPING, RENAME-SAFE: the full change feed
    * of [[ordersMappedCdcTable]]. Every branch of the mapped CDF
    * read is on the hash path: v0's inserts DERIVE from the creation
    * add (a physical file the scan must surface logically — a bare
    * state here nulls every column), v2's and v4's rows come from
    * physically-spelled cdc change files, and ALL rows surface the
    * POST-RENAME logical name `priority` (CDF reads with the latest
    * schema; the physical name under it never changed — the reason a
    * rename doesn't kill a CDC pipeline). */
  def deltaMappedCdcFeed(spark: SparkSession, dir: String): DataFrame = {
    val t = ordersMappedCdcTable(spark, dir)
    readChanges(spark, t, 0L, versions(t).last)
      .orderBy(col("_commit_version"), col("_change_type"),
        col("o_orderkey"))
  }

  /** q212 — the SAME mapped cdc history as q211, drained through the
    * `graft-delta-cdf` STREAMING source (one version per trigger)
    * and checked against the SAME oracle: the stream and the batch
    * feed must agree row-for-row on a column-mapped table, rename
    * included. */
  def deltaMappedCdcStream(spark: SparkSession, dir: String): DataFrame = {
    val t = ordersMappedCdcTable(spark, dir)
    val work = java.nio.file.Files
      .createTempDirectory("graft_dmcdfs").toString
    val q = spark.readStream.format("graft-delta-cdf")
      .option("path", t).option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$work/out")
      .orderBy(col("_commit_version"), col("_change_type"),
        col("o_orderkey"))
  }

  val deltaMappedCdcFeedSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderpriority AS priority,
      |  'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderpriority,
      |  'update_preimage', CAST(2 AS BIGINT)
      |FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  'MERGED',
      |  'update_postimage', CAST(2 AS BIGINT)
      |FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  'MERGED',
      |  'insert', CAST(2 AS BIGINT)
      |FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  CASE WHEN o_orderkey % 3 = 0 THEN 'MERGED'
      |       ELSE o_orderpriority END,
      |  'delete', CAST(4 AS BIGINT)
      |FROM orders
      |WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0)
      |  AND o_orderkey % 5 = 0
      |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin

  /** Session-cached SCHEMA-EVOLUTION table: commit 0 = even order
    * keys WITHOUT `o_orderpriority` (the original 5-column schema),
    * commit 1 = the metaData-only evolution adding the column,
    * commit 2 = append of the odd keys with all 6 columns. */
  private[graft] def ordersEvolvedTable(spark: SparkSession,
                                        dir: String): String =
    cachedTable(spark, dir, "deltaev") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .drop("o_orderpriority"), t)
      evolveSchema(t, org.apache.spark.sql.types.StructType(
        o.schema.fields.map(f =>
          if (f.name == "o_orderpriority") f.copy(nullable = true) else f)))
      commitAppend(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), t)
    }

  /** q160 — DELTA SCHEMA EVOLUTION READBACK: pre-evolution files
    * surface NULL for the added column (parquet schema-on-read
    * against the log's LATEST metaData), post-evolution appends carry
    * real values — one scan serves both file generations. A reader
    * stuck on the old schema drops a column (schema mismatch); one
    * that refused old files drops half the rows — either way the
    * oracle hash catches it. */
  def deltaEvolvedRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersEvolvedTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val deltaEvolvedReadSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate,
      |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
      |       ELSE NULL END AS o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Session-cached RANGE-CLUSTERED Delta table: orders
    * `repartitionByRange(8)` on the key before the commit, so each
    * data file's `add.stats` bounds span a disjoint key slice — the
    * [[Iceberg.ordersIcebergRangeTable]] twin through the Delta
    * spelling of file stats. */
  private[graft] def ordersRangeTable(spark: SparkSession,
                                      dir: String): String =
    cachedTable(spark, dir, "deltaz") { (o, t) =>
      commitOverwrite(o.repartitionByRange(8, col("o_orderkey")), t)
    }

  /** q162 — DELTA STATS-PRUNED READ: the q151 probe range answered by
    * [[readWhereStats]] over the log's own `add.stats` min/max —
    * Delta data skipping end-to-end (footer stats → stats JSON →
    * driver pruning). Oracle = the plain full-table filter;
    * DeltaLogSpec bounds files-scanned via the seam. */
  def deltaStatsPrunedRead(spark: SparkSession, dir: String): DataFrame =
    readWhereStats(spark, ordersRangeTable(spark, dir),
        Seq(("o_orderkey", Iceberg.PruneKeyLo, Iceberg.PruneKeyHi)))
      .filter(col("o_orderkey").between(
        Iceberg.PruneKeyLo, Iceberg.PruneKeyHi))
      .orderBy(col("o_orderkey"))

  // def, not val: DeltaLog and Iceberg alias each other's oracle
  // texts — a val would capture null during circular object init
  def deltaStatsPrunedReadSql: String = Iceberg.icebergPrunedReadSql

  /** Session-cached COLUMN-MAPPED Delta table: orders created under
    * columnMapping mode=name (physical `col-<uuid>` names in the data
    * files), then `o_orderpriority` logically renamed to `priority` —
    * a metadata-only commit touching zero data files. */
  private[graft] def ordersMappedTable(spark: SparkSession,
                                       dir: String): String =
    cachedTable(spark, dir, "deltacm") { (o, t) =>
      commitOverwriteMapped(o, t)
      renameColumnMapped(t, "o_orderpriority", "priority")
    }

  /** q167 — DELTA COLUMN MAPPING READBACK: the table's data files
    * carry only physical `col-<uuid>` names; the read must resolve
    * them through the schemaString's mapping annotations AND surface
    * the post-rename logical name — a reader that ignored the mapping
    * surfaces uuid column names (schema mismatch), one that missed
    * the rename commit surfaces the old name, one that re-read the
    * files for the rename would still pass but DeltaLogSpec pins the
    * rename commit to zero add/remove actions. */
  def deltaMappedRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersMappedTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val deltaMappedReadSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority AS priority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Session-cached columnMapping mode=ID table: orders written
    * with parquet field ids through [[commitOverwriteMappedId]],
    * then a metadata-only rename — resolution must go THROUGH the
    * ids. */
  private[graft] def ordersMappedIdTable(spark: SparkSession,
                                         dir: String): String =
    cachedTable(spark, dir, "deltacmid") { (o, t) =>
      commitOverwriteMappedId(o, t)
      renameColumnMapped(t, "o_orderpriority", "priority")
    }

  /** q187 — COLUMN MAPPING MODE=ID READBACK: the q167 twin through
    * the protocol's other mapping mode. The read requests LOGICAL
    * names annotated with `parquet.field.id` and lets Spark's
    * field-id matcher resolve them against the files — a reader
    * that fell back to name matching surfaces nothing (the files
    * spell physical `col-<uuid>` names), one that ignored the
    * rename commit surfaces the old name; both fail the q167-shaped
    * oracle. DeltaLogSpec additionally pins that resolution
    * survives a physicalName annotation the files never heard of —
    * the drift id mode exists to absorb. */
  def deltaMappedIdRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersMappedIdTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val deltaMappedIdReadSql: String = deltaMappedReadSql

  /** Session-cached MAPPED + DELETION-VECTOR table: mode=name
    * mapping, a metadata-only rename, then a MoR delete of every
    * tenth key — the bitmaps key on `_metadata` while the data
    * columns resolve through physical names. */
  private[graft] def ordersMappedDvTable(spark: SparkSession,
                                         dir: String): String =
    cachedTable(spark, dir, "deltacmdv") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwriteMapped(o, t)
      renameColumnMapped(t, "o_orderpriority", "priority")
      deleteWhere(spark, t, pmod(col("o_orderkey"), lit(10)) === 0)
    }

  /** q188 — DELETION VECTORS × COLUMN MAPPING: the round-9 refusal
    * turned feature. The DV bitmap filter keys on `_metadata`
    * (file_name, row_index) BEFORE the logical-name projection, so
    * merge-on-read composes with physical-name resolution; the
    * protocol upgrade lists BOTH reader features (a v3 protocol
    * naming only deletionVectors would make real clients read
    * `col-<uuid>` as data columns). A read that projected before
    * filtering loses the bitmap keys and throws; one that skipped
    * the DVs resurrects the tenths; one that dropped the mapping
    * surfaces uuid names — each fails the two-feature oracle. */
  def deltaMappedDvRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersMappedDvTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val deltaMappedDvReadSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority AS priority
      |FROM orders WHERE o_orderkey % 10 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** VACUUM: delete data files no longer referenced by any of the
    * last `keepVersions` snapshots (Delta's VACUUM with a
    * version-count retention horizon instead of a wall-clock one —
    * deterministic in tests, same reader contract: time travel to a
    * retained version keeps working; travel past the horizon fails on
    * missing files rather than reading wrong data). Only files under
    * the table root are candidates; the log itself is never touched
    * (history stays auditable, as Delta's VACUUM leaves it). Returns
    * the deleted relative paths. */
  def vacuum(tableDir: String, keepVersions: Int): Seq[String] = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val vs = versions(tableDir)
    if (vs.isEmpty) return Seq.empty
    val keep = vs.takeRight(keepVersions)
    val keptStates = keep.map(v => replay(tableDir, v))
    val live: Set[String] = keptStates.flatMap(_.files).toSet
    // deletion-vector files referenced by any RETAINED version stay;
    // DVs only reachable through expired versions are reclaimed with
    // the data files (losing a live DV would resurrect deleted rows)
    val liveDv: Set[String] = keptStates
      .flatMap(_.adds.values.flatMap(_.dv))
      .flatMap(DeletionVectors.relativePath(tableDir, _)).toSet
    // every file any version EVER added (relative paths only — the
    // log is the complete registry, no directory walk needed)
    val everActions = vs.flatMap { v =>
      Files.readAllLines(commitFile(tableDir, v).toPath).asScala
        .filter(_.nonEmpty)
        .map(mapper.readTree)
        .filter(_.has("add"))
        .map(_.get("add"))
    }
    val everAdded: Seq[String] = everActions
      .map(_.get("path").asText).distinct
      .filterNot(p => p.startsWith("/") || p.contains("://"))
    val everDv: Seq[String] = everActions
      .filter(a => a.has("deletionVector") &&
        !a.get("deletionVector").isNull)
      .map(a => parseDvNode(a.get("deletionVector")))
      .flatMap(DeletionVectors.relativePath(tableDir, _)).distinct
    // return only what THIS call removed (already-gone files make a
    // second vacuum a no-op, not a repeat report)
    (everAdded.filterNot(live.contains) ++
      everDv.filterNot(liveDv.contains))
      .filter(p => Files.deleteIfExists(Paths.get(tableDir, p)))
  }

  /** SCHEMA EVOLUTION: commit a metaData-only action carrying
    * `newSchema` — Delta's ALTER TABLE ADD COLUMNS (the format
    * evolves schema by writing a new metaData into the log; data
    * files are untouched). ADDITIVE ONLY, `require`d: every existing
    * column must survive with its type, new columns must be nullable
    * — old files lack them, and parquet schema-on-read fills NULL,
    * which a non-nullable column could not honor. Drops/renames are
    * column-mapping territory (protocol ≥2, declared out of scope).
    * Returns the committed version. */
  def evolveSchema(tableDir: String, newSchema: StructType): Long = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
    // validated against the CURRENT head on every claim attempt: a
    // lost CAS means a racing commit landed, and if THAT commit also
    // changed the schema, blindly rewriting our metaData would
    // silently clobber its evolution — re-validate (and refuse on a
    // genuine conflict) instead, the metadata-conflict discipline
    // Delta's own transaction protocol applies
    def validate(): State = {
      val st = replay(tableDir, versions(tableDir).last)
      st.schema.fields.foreach { f =>
        val nf = newSchema.fields.find(_.name == f.name)
        // compare SHAPES: a mapped table's own fields carry mapping
        // metadata the caller's bare schema cannot
        require(nf.exists(x =>
            strippedType(x.dataType) == strippedType(f.dataType)),
          s"evolution must keep column ${f.name}: ${f.dataType} " +
            "(drops/renames/retypes need column mapping — out of scope)")
      }
      newSchema.fields
        .filterNot(f => st.schema.fieldNames.contains(f.name))
        .foreach(f => require(f.nullable,
          s"new column ${f.name} must be nullable: files written " +
            "before the evolution have no values for it"))
      st
    }
    // MAPPED tables: kept fields keep their annotations (the
    // schemaString's id/physicalName are the files' identity — a
    // bare rewrite would make replay read col-<uuid> names as data
    // columns); ADDED fields mint fresh ids past maxColumnId, the
    // Delta evolution contract. Old physical files lack the new
    // physical column and null-fill on read, both modes.
    def mappedEvolution(st: State): (StructType, Map[String, String]) = {
      // refuse shapes REPLAY refuses before committing them — an
      // evolve that minted a struct-under-id or map-key-struct
      // column would brick the table (every later replay throws)
      newSchema.fields
        .filterNot(f => st.schema.fieldNames.contains(f.name))
        .foreach { f =>
          require(!mapKeyStruct(f.dataType),
            s"evolved column ${f.name}: structs under map KEYS " +
              "with column mapping are out of scope")

        }
      // seed past BOTH the recorded maxColumnId and the schema's own
      // max id (the renameColumnMapped discipline): a foreign mapped
      // table with a missing/stale/garbled maxColumnId must never
      // mint ids that collide with existing ones — id-keyed readers
      // would silently misresolve the new column to old data
      var nextId = math.max(maxMappedId(st.schema),
        st.configuration.get("delta.columnMapping.maxColumnId")
          .flatMap(v => scala.util.Try(v.toLong).toOption)
          .getOrElse(0L))
      val evolved = StructType(newSchema.fields.map { f =>
        st.schema.fields.find(_.name == f.name).getOrElse {
          // RANDOM physical names, never path-derived: a rename
          // frees the logical name but keeps its physical one, so a
          // later evolve-add of the freed name would mint the SAME
          // deterministic physical name and silently resolve to the
          // renamed column's historical data (the reason Delta mints
          // random names)
          val (annotated, maxId) = annotateMapped(
            StructType(Seq(f)), nextId,
            _ => s"col-${java.util.UUID.randomUUID}")
          nextId = maxId
          annotated.asInstanceOf[StructType].fields.head
        }
      })
      (evolved,
        st.configuration +
          ("delta.columnMapping.maxColumnId" -> nextId.toString))
    }
    var v = -1L
    var done = false
    while (!done) {
      val st = validate()
      val (schemaOut, confOut) =
        if (st.columnMapping.isEmpty) (newSchema, st.configuration)
        else mappedEvolution(st)
      v = versions(tableDir).last + 1
      commitClaimHook(tableDir, v)
      // the replayed configuration rides the new metaData — a schema
      // evolution must not silently clear unrelated table properties
      done = writeActions(tableDir, v,
        Seq(metaDataAction(schemaOut, st.partitionColumns, confOut)))
      if (!done) commitCasRetries.incrementAndGet()
    }
    v
  }

  /** ALTER TABLE SET TBLPROPERTIES: commit a metaData-only action
    * carrying the existing schema/partitioning with `props` merged
    * into the configuration — how `delta.enableChangeDataFeed` is
    * switched on for [[mergeInto]]/[[deleteWhere]]'s cdc-action
    * writes. Schema SHAPE is unchanged, so streaming sources pass the
    * commit through their schema-change guard. Returns the committed
    * version. */
  /** ALTER TABLE UNSET TBLPROPERTIES — the removal twin of
    * [[setTableProperties]] (which merges). Unknown keys are a
    * no-op, real Delta's semantics. */
  def removeTableProperties(tableDir: String,
                            keys: Seq[String]): Long = {
    // protocol-bearing keys cannot be unset: without
    // delta.columnMapping.mode/maxColumnId a mapped table's replay
    // can no longer resolve physical names — real Delta refuses to
    // unset table-feature properties the same way
    val reserved = keys.filter(k =>
      k.startsWith("delta.columnMapping.") ||
        k == "delta.minReaderVersion" || k == "delta.minWriterVersion")
    require(reserved.isEmpty,
      s"UNSET TBLPROPERTIES ${reserved.mkString(", ")} on $tableDir: " +
        "protocol-bearing properties cannot be removed — a mapped " +
        "table's replay depends on them")
    var v = -1L
    var done = false
    while (!done) {
      val vs = versions(tableDir)
      require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
      val st = replay(tableDir, vs.last)
      v = vs.last + 1
      commitClaimHook(tableDir, v)
      done = writeActions(tableDir, v,
        Seq(metaDataAction(st.schema, st.partitionColumns,
          st.configuration -- keys)))
      if (!done) commitCasRetries.incrementAndGet()
    }
    v
  }

  def setTableProperties(tableDir: String,
                         props: Map[String, String]): Long = {
    var v = -1L
    var done = false
    while (!done) {
      val vs = versions(tableDir)
      require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
      val st = replay(tableDir, vs.last)
      v = vs.last + 1
      commitClaimHook(tableDir, v)
      // properties that ACTIVATE writer capabilities upgrade the
      // protocol in the same commit — ONE combined action (CDF =
      // writer 4 legacy / the changeDataFeed writer feature; CHECK
      // constraints = writer 3 / checkConstraints)
      val wantFeats =
        (if (props.get("delta.enableChangeDataFeed")
            .exists(_.equalsIgnoreCase("true")))
          Set("changeDataFeed") else Set.empty[String]) ++
        (if (props.keys.exists(_.startsWith("delta.constraints.")))
          Set("checkConstraints") else Set.empty[String])
      val upgrade: Option[ObjectNode] =
        if (wantFeats.isEmpty) None
        else if (st.minWriter >= 7) {
          if (wantFeats.subsetOf(st.writerFeatures)) None
          else Some(protocolFull(st.minReader, 7, st.readerFeatures,
            st.writerFeatures ++ wantFeats))
        } else {
          val need = math.max(st.minWriter, math.max(
            if (wantFeats("changeDataFeed")) 4 else 2,
            if (wantFeats("checkConstraints")) 3 else 2))
          if (need <= st.minWriter) None
          else Some(protocolFull(st.minReader, need,
            st.readerFeatures, Set.empty))
        }
      done = writeActions(tableDir, v,
        upgrade.toSeq :+
        metaDataAction(st.schema, st.partitionColumns,
          st.configuration ++ props))
      if (!done) commitCasRetries.incrementAndGet()
    }
    v
  }

  /** Test seams, set per [[mergeInto]] call:
    * `lastMergeFilesTotal` — candidate files AFTER partition pruning
    * (= the snapshot's total on unpartitioned tables / when the keys
    * don't cover the partition columns);
    * `lastMergeFilesScanned` — files the probe actually SCANNED
    * after the source-key stats bound;
    * `lastMergeFilesRewritten` — files the merge rewrote.
    * rewritten ≤ scanned ≤ total ≤ snapshot files; each inequality
    * is a pruning layer a spec pins. */
  @volatile private[graft] var lastMergeFilesRewritten: Int = -1
  @volatile private[graft] var lastMergeFilesScanned: Int = -1
  @volatile private[graft] var lastMergeFilesTotal: Int = -1

  /** MERGE INTO the open Delta table: `whenMatchedUpdateAll` +
    * `whenNotMatchedInsertAll`, the reference's core Delta operation
    * (spark/batch_silver.py:146-159), executed through the real
    * format — result = source rows (matched keys take the source's
    * values, new keys insert) ∪ target rows with no source match.
    *
    * FILE-PRUNED, the way real Delta MERGE executes: one broadcast
    * left-semi join of the live rows against the distinct source
    * keys names the files that HOLD a matched key (O(files) driver
    * metadata collected — file names, never rows); only those files
    * are rewritten (their survivors + every source row land in fresh
    * files, removes+adds for exactly the touched set), every other
    * file carries over with NO action. At 100 TB a MERGE matching 1%
    * of keys rewrites ~1% of files instead of the lake — this is the
    * difference between a CDC upsert cadence that holds and one that
    * rewrites the table per batch. [[lastMergeFilesRewritten]] /
    * [[lastMergeFilesTotal]] pin the bound. Deletion-vector masks on
    * touched files fold into the rewrite (their dead rows stay
    * dead); untouched files keep their DVs.
    *
    * Under `delta.enableChangeDataFeed=true` the commit also carries
    * the row-level change file (update_preimage/update_postimage/
    * insert) + cdc action, so CDF readers never mis-derive the file
    * churn.
    *
    * CONCURRENCY: single writer per table — a lost CAS means the
    * snapshot changed under the pruning decision, so this fails
    * loudly for a re-run rather than silently merging into a stale
    * file set (the [[deleteWhere]] discipline). Returns the
    * committed version. */
  def mergeInto(spark: SparkSession, tableDir: String,
                source: DataFrame, keys: Seq[String]): Long =
    mergeInto(spark, tableDir, source, keys, None)

  /** Internal retries taken by row-level ops after proving a racing
    * winner DISJOINT — the seam the conflict-proving specs pin. */
  private[graft] val rowOpConflictRetries =
    new java.util.concurrent.atomic.AtomicLong

  /** The real-Delta ConflictChecker discipline for a ROW-LEVEL op
    * that lost its commit CAS: walk every winner commit in
    * `(base, head]` and prove it disjoint from this op's footprint —
    * then the op's already-computed actions are still correct at the
    * new head and the caller may retry INTERNALLY instead of
    * aborting to the user. Throws the loud abort when any winner
    * cannot be proven disjoint. A winner is disjoint when:
    *
    *  - it carries no `metaData` (schema/partitioning/properties
    *    could invalidate anything) and any `protocol` it carries is
    *    one this reader still speaks (this engine's row-level
    *    commits upgrade protocol monotonically — two disjoint
    *    DV-deletes racing both carry the same v3 upgrade);
    *  - none of its `remove` paths intersect `ourRemoves` — the
    *    files THIS op rewrites (a shared file is a write-write
    *    conflict: one of the two rewrites is stale);
    *  - every `add` with dataChange=true provably holds no row this
    *    op could match (`couldMatch` — the op's own partition-tuple
    *    + stats pruning predicate, superset contract: unknown means
    *    conflict). dataChange=false adds (OPTIMIZE rearrangements)
    *    carry only rows that already existed at our base — they
    *    cannot change a match decision, and a compaction touching
    *    our files is already caught by the remove check. */
  private def requireWinnersDisjoint(tableDir: String, base: Long,
      head: Long, ourRemoves: Set[String],
      couldMatch: (String, AddFile) => Boolean, op: String): Unit =
    ((base + 1) to head).foreach { w =>
      val nodes = Files.readAllLines(commitFile(tableDir, w).toPath)
        .asScala.filter(_.nonEmpty).map(mapper.readTree)
      nodes.foreach { n =>
        require(!n.has("metaData"),
          s"concurrent writer committed a metadata change at v$w " +
            s"during $op — recompute against the new state and re-run")
        if (n.has("protocol")) {
          val p = n.get("protocol")
          val feats =
            if (p.has("readerFeatures"))
              p.get("readerFeatures").elements().asScala
                .map(_.asText).toSet
            else Set.empty[String]
          require(p.get("minReaderVersion").asInt <= 3 &&
              (feats -- SupportedReaderFeatures).isEmpty,
            s"concurrent writer committed an unsupported protocol " +
              s"change at v$w during $op — recompute against the " +
              "new state and re-run")
        }
        if (n.has("remove")) {
          val rp = n.get("remove").get("path").asText
          require(!ourRemoves.contains(rp),
            s"concurrent writer at v$w rewrote $rp, which this $op " +
              "also rewrites — recompute against the new state and " +
              "re-run")
        }
        if (n.has("add")) {
          val dataChange = !n.get("add").has("dataChange") ||
            n.get("add").get("dataChange").asBoolean(true)
          if (dataChange) {
            val (ap, a) = parseAddNode(n.get("add"))
            require(!couldMatch(ap, a),
              s"concurrent writer at v$w added $ap, which may hold " +
                s"rows this $op matches — recompute against the new " +
                "state and re-run")
          }
        }
      }
    }

  /** Commit-with-conflict-proving: attempt `actions` at head+1; on a
    * lost CAS, prove the winners disjoint ([[requireWinnersDisjoint]]
    * — throws the loud abort otherwise) and retry at the new head.
    * Returns the committed version. Shared by [[mergeInto]] and the
    * DV-delete commit. */
  private def commitRowOp(tableDir: String, base: Long,
      actions: Seq[ObjectNode], ourRemoves: Set[String],
      couldMatch: (String, AddFile) => Boolean, op: String): Long = {
    var checked = base
    var committed = -1L
    while (committed < 0) {
      val head = versions(tableDir).last
      if (head > checked) {
        requireWinnersDisjoint(tableDir, checked, head, ourRemoves,
          couldMatch, op)
        checked = head
        rowOpConflictRetries.incrementAndGet()
      }
      commitClaimHook(tableDir, head + 1)
      if (writeActions(tableDir, head + 1, actions)) committed = head + 1
      else commitCasRetries.incrementAndGet()
    }
    committed
  }

  /** [[mergeInto]] with an optional `whenMatchedDelete` arm: source
    * rows satisfying the predicate are TOMBSTONES — their matched
    * target rows are deleted and the tombstone itself is never
    * inserted (Delta's `whenMatched(...).delete()`), so a CDC batch
    * carrying upserts AND deletes rides ONE merge commit instead of
    * a delete+append pair. The predicate is evaluated against the
    * SOURCE row's columns.
    *
    * PARTITIONED targets: supported. When every partition column is
    * a merge key, matching is partition-scoped by definition and the
    * probe composes with PARTITION PRUNING — only files in the
    * source's own partition tuples are candidates (the reason real
    * Delta MERGEs put the partition conjunct in the ON clause: a
    * date-partitioned 100 TB silver receiving a one-day CDC batch
    * probes one day's files, not the lake). When the keys do NOT
    * cover the partition columns, a matched key may legitimately
    * live in any partition, so every file stays a candidate —
    * correctness first, and the stats bound below still applies.
    *
    * STATS-BOUND probe: before any scan, the source key set's
    * [min, max] (long-typed key columns, one tiny agg over the
    * broadcast-small source) is intersected with each candidate's
    * recorded `add.stats` bounds — a file whose key range provably
    * misses every source key is not even SCANNED by the probe (the
    * [[deleteWhereKeys]] discipline). A 1%-match MERGE on a
    * range-clustered table now scans ~1% of key columns to rewrite
    * ~1% of files, instead of scanning 100% to rewrite 1%. */
  def mergeInto(spark: SparkSession, tableDir: String,
                source: DataFrame, keys: Seq[String],
                whenMatchedDelete: Option[org.apache.spark.sql.Column])
      : Long = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
    val st = replayMaybeCheckpointed(Some(spark), tableDir, vs.last)
    requireWriterSupported(st, tableDir, "MERGE")
    requireNotAppendOnly(st, tableDir, "MERGE")
    require(keys.nonEmpty && keys.forall(st.schema.fieldNames.contains),
      s"merge keys $keys must exist in the target schema")
    val partCols = st.partitionColumns
    import org.apache.spark.sql.functions.{broadcast, lit}
    // an empty source merges nothing — skip before paying the probe
    if (source.isEmpty) return vs.last
    val keyDf = broadcast(source.select(keys.map(col): _*)
      .dropDuplicates())
    def resolve(p: String) =
      if (p.startsWith("/") || p.contains("://")) p else s"$tableDir/$p"
    def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val byBase = st.files.map(p => base(p) -> p).toMap
    require(byBase.size == st.files.size,
      "duplicate data-file basenames — cannot key the merge's file " +
        "pruning")
    // PARTITION PRUNING (sound only when partCols ⊆ keys — then the
    // equi-join on the keys is partition-scoped by construction): a
    // file whose log-recorded partitionValues match NO source tuple
    // can hold no matched key and carries over untouched. The tuple
    // set is one tiny distinct over the broadcast-small source; a
    // source spanning >10k tuples skips the prune (it would match
    // most of the table anyway).
    val srcTuples: Option[Array[Row]] =
      if (partCols.isEmpty || !partCols.forall(keys.contains)) None
      else {
        val tuples = source.select(partCols.map(col): _*)
          .dropDuplicates().limit(10001).collect()
        if (tuples.length > 10000) None else Some(tuples)
      }
    def partCouldMatch(a: AddFile): Boolean = srcTuples match {
      case None => true
      case Some(tuples) =>
        tuples.exists { t =>
          partCols.zipWithIndex.forall { case (c, i) =>
            val stored = a.partitionValues.get(c).orNull
            val v = t.get(i)
            if (v == null) stored == null
            else PruningPredicates
              .eqMatches(st.schema(c).dataType, stored, v)
              .getOrElse(true)
          }
        }
    }
    val candidates0: Map[String, AddFile] =
      if (srcTuples.isEmpty) st.adds
      else st.adds.filter { case (_, a) => partCouldMatch(a) }
    lastMergeFilesTotal = candidates0.size
    // STATS BOUND: source-key [min,max] vs each add's recorded
    // bounds — files that provably miss every source key are never
    // scanned (superset contract: boundless files always scan)
    val longKeys = keys.filter { c =>
      import org.apache.spark.sql.types.{IntegerType, LongType}
      st.schema(c).dataType match {
        case LongType | IntegerType => true
        case _ => false
      }
    }
    val ranges: Seq[(String, Long, Long)] =
      if (longKeys.isEmpty || candidates0.isEmpty) Seq.empty
      else {
        import org.apache.spark.sql.functions.{max, min}
        val aggs = longKeys.flatMap(c => Seq(
          min(col(c).cast("long")), max(col(c).cast("long"))))
        val mm = keyDf.agg(aggs.head, aggs.tail: _*).collect().head
        longKeys.zipWithIndex.flatMap { case (c, i) =>
          if (mm.isNullAt(2 * i) || mm.isNullAt(2 * i + 1)) None
          else Some((c, mm.getLong(2 * i), mm.getLong(2 * i + 1)))
        }
      }
    def statsCouldMatch(a: AddFile): Boolean = {
      val b = a.longBounds
      ranges.forall { case (c, lo, hi) =>
        // mapped tables key add.stats by PHYSICAL name (the
        // stats job reads the files); resolve the logical key
        b.get(st.columnMapping.getOrElse(c, c)) match {
          case Some((mn, mx)) => mn <= hi && mx >= lo
          case None => true
        }
      }
    }
    val candidates: Map[String, AddFile] =
      if (ranges.isEmpty) candidates0
      else candidates0.filter { case (_, a) => statsCouldMatch(a) }
    // BLOOM BOUND: when any merge key is a bloomed column, the
    // sidecar probe drops candidates no source key can hit —
    // probing ONE key column is sound for composite keys (a file
    // must hold that key's value for any all-keys match), and it is
    // what rescues a SCATTERED-key CDC upsert batch that min/max
    // cannot bound (the deleteWhereKeys discipline, on the probe)
    val candidatesB: Map[String, AddFile] = {
      val bloomedKey = bloomColsOf(st).find(keys.contains)
      if (candidates.isEmpty || bloomedKey.isEmpty ||
          partFiles(tableDir, BloomSidecarDir).isEmpty) candidates
      else {
        val c = bloomedKey.get
        // null keys filtered BEFORE the cap, not after: dropping a
        // sampled null post-limit would undercount an over-cap key
        // set and probe with an incomplete list (wrongly pruned
        // files = silently unmatched merge keys)
        val vals = keyDf.select(col(c)).filter(col(c).isNotNull)
          .distinct()
          .limit(BloomProbeMaxKeys + 1).collect()
          .map(_.get(0) match {
            case l: Long => l
            case i: Int => i.toLong
          })
        if (vals.length > BloomProbeMaxKeys) candidates
        else bloomProbe(spark, tableDir, c, vals.toSeq) match {
          case None => candidates
          case Some((bl, hits)) => candidates.filter { case (p, _) =>
            val b = p.substring(p.lastIndexOf('/') + 1)
            !bl.contains(b) || hits.contains(b)
          }
        }
      }
    }
    lastMergeFilesScanned = candidatesB.size
    // merge-on-read mask shared by the probe and the rewrite scans
    val existing: Map[String, DeletionVectors.Bitmap64] =
      st.adds.collect {
        case (p, a) if a.dv.isDefined =>
          base(p) -> DeletionVectors.readBitmap(tableDir, a.dv.get)
      }.toMap
    val morFilter: DataFrame => DataFrame =
      if (existing.isEmpty) identity
      else {
        val bc = spark.sparkContext.broadcast(existing)
        d => d.filter(!graft.functions.DvExprs.deleted(
          col("_m_f"), col("_m_p"), bc))
      }
    // partition columns live only in the LOG — a partitioned scan
    // reconstructs them (broadcast file→values join) so key columns
    // that are partition columns resolve; row identity rides
    // carryCols through the projection
    def scanWithId(addsSel: Map[String, AddFile]): DataFrame =
      if (st.columnMapping.nonEmpty)
        // mapped (always unpartitioned): physical read, row identity
        // BEFORE the logical projection — the deleteWhere discipline
        morFilter(mappedScanRaw(spark, tableDir,
            st.copy(adds = addsSel))
          .withColumn("_m_f", col("_metadata.file_name"))
          .withColumn("_m_p", col("_metadata.row_index")))
          .select(mappedCols(st) ++ Seq(col("_m_f"), col("_m_p")): _*)
      else if (partCols.isEmpty)
        morFilter(spark.read.schema(st.schema)
          .parquet(addsSel.keys.toSeq.sorted.map(resolve): _*)
          .withColumn("_m_f", col("_metadata.file_name"))
          .withColumn("_m_p", col("_metadata.row_index")))
      else
        PartitionedScan.scan(spark, st.schema, partCols,
          addsSel.toSeq.sortBy(_._1).map { case (p, a) =>
            (resolve(p), a.partitionValues) },
          preProject = d => morFilter(
            d.withColumn("_m_f", col("_metadata.file_name"))
              .withColumn("_m_p", col("_metadata.row_index"))),
          carryCols = Seq("_m_f", "_m_p"))
    // the pruning probe: which files hold a matched key? Collects
    // O(touched files) file names, never rows.
    val touched: Seq[String] =
      if (candidatesB.isEmpty) Seq.empty
      else scanWithId(candidatesB)
        .join(keyDf, keys, "left_semi")
        .select(col("_m_f")).distinct()
        .collect().map(r => byBase(r.getString(0))).toSeq.sorted
    lastMergeFilesRewritten = touched.size
    val target = read(spark, tableDir)
    val cdfOn = cdfWriteEnabled(st)
    // tombstone split: rows matching the delete arm retire their
    // target match and are never inserted
    val upserts = whenMatchedDelete match {
      case Some(p) => source.filter(!p)
      case None => source
    }
    // CHECK constraints / generated columns hold for MERGE too: the
    // rewritten survivors came from the table (enforced at their own
    // write); only the incoming upsert rows need the gate
    enforceWriteInvariants(
      upserts.select(st.schema.fieldNames.map(col): _*), st)
    // rewrite set = touched survivors (ALL source-matched keys
    // removed — updates replaced, tombstones dropped; DV masks
    // folded) + every upsert row
    val touchedAdds = touched.map(p => p -> st.adds(p)).toMap
    val newRows =
      (if (touched.isEmpty)
         spark.createDataFrame(
           java.util.Collections.emptyList[Row](), st.schema)
       else scanWithId(touchedAdds).join(keyDf, keys, "left_anti")
         .drop("_m_f", "_m_p"))
        .unionByName(upserts.select(st.schema.fieldNames.map(col): _*))
    val sub = s"part-${java.util.UUID.randomUUID}"
    val adds: Seq[ObjectNode] =
      if (partCols.isEmpty) {
        // mapped targets (always unpartitioned): rewrite files spell
        // the columns physically, like every other mapped write
        (if (st.columnMapping.isEmpty) newRows
         else physicalRows(newRows, st))
          .write.parquet(s"$tableDir/$sub")
        val fs = partFiles(tableDir, sub)
        val stats = statsJsonBatch(spark, fs)
        fs.map(f => addAction(s"$sub/${f.getName}", f.length,
          stats = Some(stats(f.getPath))))
      } else {
        newRows.write.partitionBy(partCols: _*)
          .parquet(s"$tableDir/$sub")
        partitionedAdds(spark, tableDir, sub, partCols,
          dataChange = true)
      }
    maybeWriteBlooms(spark, tableDir, partFiles(tableDir, sub), Some(st))
    // delta.enableChangeDataFeed=true: the row-level change file +
    // cdc action ride the SAME commit (update_preimage/postimage for
    // matched upsert keys, delete for tombstone matches, insert for
    // new keys)
    val cdc: Seq[ObjectNode] =
      if (!cdfOn) Seq.empty
      else {
        // the SOURCE key set broadcasts (a CDC batch is the small
        // side by construction); the target side never does — a join
        // keyed the other way would ship the table
        val tgtKeys = target.select(keys.map(col): _*)
        val upsertKeys = broadcast(upserts.select(keys.map(col): _*))
        val changes0 =
          target.join(upsertKeys, keys, "left_semi")
            .withColumn("_change_type", lit("update_preimage"))
            .unionByName(upserts.join(tgtKeys, keys, "left_semi")
              .withColumn("_change_type", lit("update_postimage")))
            .unionByName(upserts.join(tgtKeys, keys, "left_anti")
              .withColumn("_change_type", lit("insert")))
        val changes = whenMatchedDelete match {
          case Some(p) =>
            val tombKeys = broadcast(
              source.filter(p).select(keys.map(col): _*))
            changes0.unionByName(
              target.join(tombKeys, keys, "left_semi")
                .withColumn("_change_type", lit("delete")))
          case None => changes0
        }
        writeChangeData(
          if (st.columnMapping.isEmpty) changes
          else physicalRows(changes, st),
          tableDir, partCols)
      }
    // conflict-proving commit: a lost CAS re-reads the winners and
    // retries INTERNALLY when provably disjoint (different
    // partitions / non-intersecting key ranges / rearrangement-only
    // commits) — partition-disjoint CDC writers no longer serialize
    // through caller retries; a genuinely conflicting winner still
    // aborts loudly
    commitRowOp(tableDir, vs.last,
      touched.map(p => removeAction(p)) ++ adds ++ cdc,
      touched.toSet,
      (_, a) => partCouldMatch(a) && statsCouldMatch(a), "merge")
  }

  // ---------------------------------------------------------------
  // Change Data Feed (incremental between-version reads)
  // ---------------------------------------------------------------

  /** One changed file of one commit, as the CDF planners see it:
    * `changeType` insert|delete; for a DV UPDATE (remove+re-add of
    * the same path with a grown bitmap — a ROW-level delete)
    * `dvKeepDiff` carries (prior DV, new DV) and the delete rows are
    * exactly the positions set in new∖prior; for a whole-file delete
    * `add.dv` (when set) masks the rows that were ALREADY deleted.
    * Shared by the batch [[readChanges]] and the
    * `graft-delta-cdf` streaming source's batch planner. */
  private[graft] case class ChangeFile(version: Long,
      changeType: String, path: String, add: AddFile,
      dvKeepDiff: Option[(Option[DeletionVectors.Descriptor],
        DeletionVectors.Descriptor)])

  /** JSON commits the last [[changePlan]] walked — the seam a spec
    * holds to prove checkpoint-seeded CDF planning is O(delta) per
    * trigger, not O(full history). */
  @volatile private[graft] var lastChangePlanCommitsRead: Int = -1

  /** The commit-walk behind CDF: replays history to `toVersion`,
    * recording each in-range data-changing action as a [[ChangeFile]]
    * in commit order. Pure driver-side metadata — O(actions) plus
    * O(compressed bitmap) for DV descriptors; row data is never
    * touched here. With `spark` given, the PRE-RANGE replay seeds
    * from the newest checkpoint strictly below `fromVersion` (its
    * adds carry DV descriptors, so the first in-range DV diff still
    * sees its prior bitmap) — a long-running CDF stream plans each
    * trigger in O(commits since checkpoint), not O(table history). */
  private[graft] def changePlan(tableDir: String, fromVersion: Long,
      toVersion: Long, spark: Option[SparkSession] = None)
      : (State, Seq[ChangeFile]) = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no _delta_log commits under $tableDir")
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    require(vs.contains(fromVersion) && vs.contains(toVersion),
      s"range [$fromVersion,$toVersion] not in log (have ${vs.mkString(",")})")
    val seeded: Option[(Replayer, Long)] =
      (spark, lastCheckpoint(tableDir)) match {
        case (Some(s), Some(lc)) if lc.version < fromVersion =>
          val r0 = new Replayer
          if (seedFromCheckpoint(s, tableDir, lc, r0))
            Some((r0, lc.version + 1))
          else None // unrecognized checkpoint → pure-JSON fallback
        case _ => None
      }
    val (r, walkFrom) = seeded.getOrElse((new Replayer, Long.MinValue))
    val out = Seq.newBuilder[ChangeFile]
    def record(v: Long, ct: String, path: String, a: AddFile): Unit =
      out += ChangeFile(v, ct, path, a, None)
    // a DV update (remove+re-add of the SAME path with a grown
    // bitmap) is a ROW-level delete, not a file churn
    val dvDeletes = Seq.newBuilder[ChangeFile]
    val walked = vs.filter(v => v >= walkFrom && v <= toVersion)
    lastChangePlanCommitsRead = walked.size
    walked.foreach { v =>
      val inRange = v >= fromVersion
      val nodes = Files.readAllLines(commitFile(tableDir, v).toPath)
        .asScala.filter(_.nonEmpty).map(mapper.readTree).toSeq
      def dataChange(action: JsonNode): Boolean =
        !action.has("dataChange") || action.get("dataChange").asBoolean
      // the pre-commit adds: a DV re-add needs the file's PRIOR
      // bitmap, which the paired remove has destroyed by the time
      // the add line is reached
      val preAdds: Map[String, AddFile] = r.adds.toMap
      // paths this commit re-adds WITH a DV (their paired removes are
      // the other half of the same row-delete, not whole-file deletes)
      val dvReadds: Set[String] = nodes.collect {
        case n if n.has("add") && dataChange(n.get("add")) &&
          n.get("add").has("deletionVector") =>
          n.get("add").get("path").asText
      }.toSet
      // a commit CARRYING cdc actions: the protocol requires readers
      // to take that commit's change data from the named change files
      // INSTEAD of deriving from its add/remove churn — a foreign
      // MERGE's rewrite would otherwise mis-report as whole-file
      // delete+insert. Record the change files (with their partition
      // values); the file actions replay into STATE only.
      val cdcNodes = nodes.filter(_.has("cdc"))
      if (cdcNodes.nonEmpty) {
        if (inRange) cdcNodes.foreach { n =>
          val c = n.get("cdc")
          val pv =
            if (c.has("partitionValues"))
              c.get("partitionValues").properties().asScala
                .map(e => e.getKey ->
                  (if (e.getValue.isNull) null else e.getValue.asText))
                .toMap
            else Map.empty[String, String]
          out += ChangeFile(v, "cdc", c.get("path").asText,
            AddFile(pv,
              if (c.has("size")) c.get("size").asLong else 0L,
              None, None), None)
        }
        r.applyCommit(nodes)
      } else {
      // action order WITHIN a commit is not pinned by the spec: if a
      // DV re-add lists its add BEFORE the paired remove, applying
      // the remove afterwards would delete the just-updated AddFile
      // from state — track which re-add paths have applied and skip
      // their trailing remove (its only effect would be that delete)
      val appliedDvAdd = scala.collection.mutable.Set.empty[String]
      nodes.foreach { node =>
        if (node.has("remove") && {
            val p = node.get("remove").get("path").asText
            dvReadds.contains(p) && appliedDvAdd.contains(p)
          }) {
          // trailing half of an already-applied DV update: no-op
        } else if (inRange && node.has("add") &&
            dataChange(node.get("add"))) {
          val p = node.get("add").get("path").asText
          if (dvReadds.contains(p)) appliedDvAdd += p
          // partitionValues/DV parse ride the replayer's own path —
          // apply first, then read the parsed AddFile back
          r.applyNode(node)
          val parsed = r.adds(p)
          if (parsed.dv.isDefined) {
            val prior = preAdds.getOrElse(p,
              throw new IllegalArgumentException(
                s"commit $v adds a deletion vector for unknown file " +
                  s"$p — cannot diff its deleted rows"))
            // the diff itself happens in bitmap space at READ time
            // (driver for the batch path, executor for the stream) —
            // the plan carries only the two descriptors
            dvDeletes += ChangeFile(v, "delete", p, parsed,
              Some((prior.dv, parsed.dv.get)))
          } else record(v, "insert", p, parsed)
        } else if (inRange && node.has("remove") &&
            dataChange(node.get("remove"))) {
          val p = node.get("remove").get("path").asText
          if (dvReadds.contains(p)) r.applyNode(node) // DV update half
          else {
            val a = r.adds.getOrElse(p,
              throw new IllegalArgumentException(
                s"commit $v removes unknown file $p — cannot attribute " +
                  "partition values for its delete rows"))
            record(v, "delete", p, a)
            r.applyNode(node)
          }
        } else {
          // pre-range commits replay through here too — a DV re-add
          // whose add precedes its remove needs the same guard
          if (node.has("add") &&
            dvReadds.contains(node.get("add").get("path").asText))
            appliedDvAdd += node.get("add").get("path").asText
          r.applyNode(node)
        }
      }
      }
    }
    (r.state(toVersion), out.result() ++ dvDeletes.result())
  }

  /** CHANGE DATA FEED: every row inserted or deleted in commits
    * `fromVersion..toVersion` (inclusive), tagged `_change_type`
    * ('insert' | 'delete') and `_commit_version` — Delta CDF's
    * contract, derived here from the log's own add/remove actions
    * (valid because this writer's commits are file-granular: an
    * overwrite is remove-all+add, an append is pure adds). Actions
    * with `dataChange=false` are SKIPPED — an OPTIMIZE rewrites
    * layout, not data, so a downstream incremental consumer must see
    * nothing from it; that is the entire point of the flag.
    *
    * A delete's rows come from scanning the REMOVED file, so CDF over
    * a range whose removed files were [[vacuum]]ed fails on the
    * missing file — loudly, never silently dropping deletes. The
    * removed file's partition values come from the replayed state at
    * the commit that removed it (a remove action does not carry
    * them).
    *
    * Scale: the plan is one parquet scan per (commit, change-type)
    * group — O(commits in range) scans each reading only that
    * commit's changed files, never the whole table; this is how
    * incremental consumers (streaming MV maintenance, downstream
    * sync) ride a 100 TB table for the cost of the day's delta. */
  def readChanges(spark: SparkSession, tableDir: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    val (st, plan) =
      changePlan(tableDir, fromVersion, toVersion, Some(spark))
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val changeSchema = StructType(st.schema.fields ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))
    // (version, changeType) -> files, insertion-ordered for stable
    // output; one scan per group, not per file
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[(Long, String),
        scala.collection.mutable.LinkedHashMap[String, AddFile]]
    plan.filter(_.dvKeepDiff.isEmpty).foreach(cf =>
      groups.getOrElseUpdate((cf.version, cf.changeType),
        scala.collection.mutable.LinkedHashMap.empty)
        .put(cf.path, cf.add))
    val parts = groups.toSeq.map { case ((v, ct), files) =>
      def abs(p: String) =
        if (p.startsWith("/") || p.contains("://")) p
        else s"$tableDir/$p"
      files.keys.foreach { p =>
        require(new File(abs(p)).isFile || p.contains("://"),
          s"changed file $p of commit $v is gone (vacuumed?) — CDF " +
            "needs the range's data files on disk")
      }
      if (ct == "cdc") {
        // a cdc-action commit: `_change_type` comes from INSIDE the
        // change file (insert | delete | update_preimage |
        // update_postimage — the writer's row-level truth), never
        // synthesized; partition columns restore from the cdc
        // action's partitionValues like any metadata-partitioned scan
        import org.apache.spark.sql.types.{StringType, StructField}
        val ctField =
          StructField("_change_type", StringType, nullable = false)
        val scanned =
          if (st.columnMapping.nonEmpty) {
            // mapped (always unpartitioned): the change file spells
            // data columns PHYSICALLY, `_change_type` literally —
            // read physically / by field id, surface logically
            val raw =
              if (st.mappingMode == "id") {
                spark.conf.set(
                  "spark.sql.parquet.fieldId.read.enabled", "true")
                val idSchema = StructType(
                  idReadType(st.schema).asInstanceOf[StructType]
                    .fields :+ ctField)
                spark.read.schema(idSchema)
                  .parquet(files.keys.toSeq.map(abs): _*)
              } else {
                val physWithCt = StructType(st.schema.fields.map(f =>
                  StructField(st.columnMapping(f.name),
                    physDataType(f.dataType), nullable = true)) :+
                  ctField)
                spark.read.schema(physWithCt)
                  .parquet(files.keys.toSeq.map(abs): _*)
              }
            raw.select(mappedCols(st) :+ col("_change_type"): _*)
          } else if (st.partitionColumns.isEmpty) {
            val withCt = StructType(st.schema.fields :+ ctField)
            spark.read.schema(withCt)
              .parquet(files.keys.toSeq.map(abs): _*)
          } else {
            val withCt = StructType(st.schema.fields :+ ctField)
            PartitionedScan.scan(spark, withCt, st.partitionColumns,
              files.toSeq.map { case (p, a) =>
                (abs(p), a.partitionValues) })
          }
        scanned.withColumn("_commit_version", lit(v))
      } else
        // st.copy keeps the mapping/protocol fields: a mapped
        // table's derived changes read physically and surface
        // logically like any scan (a bare State would silently
        // null every column of a mapped file)
        scanState(spark, tableDir, st.copy(adds = files.toMap))
          .withColumn("_change_type", lit(ct))
          .withColumn("_commit_version", lit(v))
    }
    // DV updates: the newly-set bitmap positions ARE the deleted
    // rows — bitmap-space diff (O(compressed bitmap); the
    // materialized positions are only this commit's delta, the same
    // size as the CDF rows it produces), then scan just that file
    // and semi-join the positions (broadcast: a DV delta is
    // O(deleted keys) by construction)
    val dvParts = plan.filter(_.dvKeepDiff.isDefined).map { cf =>
      import org.apache.spark.sql.functions.broadcast
      val (v, p, a) = (cf.version, cf.path, cf.add)
      val (beforeD, afterD) = cf.dvKeepDiff.get
      val before = beforeD
        .map(DeletionVectors.readBitmap(tableDir, _))
        .getOrElse(new DeletionVectors.Bitmap64)
      val after = DeletionVectors.readBitmap(tableDir, afterD)
      require(before.andNot(after).isEmpty,
        s"commit $v SHRANK file $p's deletion vector — an " +
          "undelete has no CDF spelling here")
      val fresh = after.andNot(before).toPositions
      val abs = if (p.startsWith("/") || p.contains("://")) p
        else s"$tableDir/$p"
      val posDf = spark.createDataFrame(
        new java.util.ArrayList[Row](fresh.map(Row(_)).asJava),
        StructType(Seq(StructField("_dv_pos", LongType))))
      val semi: DataFrame => DataFrame = d =>
        d.withColumn("_cdf_pos", col("_metadata.row_index"))
          .join(broadcast(posDf),
            col("_cdf_pos") === col("_dv_pos"), "left_semi")
          .drop("_cdf_pos")
      // partitioned tables: the data file lacks the partition
      // columns — restore them from the re-add's partitionValues
      val scanned =
        if (st.columnMapping.nonEmpty)
          // mapped (always unpartitioned): position-filter the raw
          // physical read, then surface logically
          semi(mappedScanRaw(spark, tableDir,
              st.copy(adds = Map(p -> a))))
            .select(mappedCols(st): _*)
        else if (st.partitionColumns.isEmpty)
          semi(spark.read.schema(st.schema).parquet(abs))
        else PartitionedScan.scan(spark, st.schema,
          st.partitionColumns, Seq((abs, a.partitionValues)),
          preProject = semi)
      scanned
        .withColumn("_change_type", lit("delete"))
        .withColumn("_commit_version", lit(v))
    }
    (parts ++ dvParts).reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](), changeSchema))
  }

  /** MIGRATION TARGET: create a new Delta table whose commit 0
    * registers EXISTING parquet files by absolute path — pure
    * metadata; `add.stats` are derived with one footer open per file
    * so data skipping works from the first read. The target must be
    * fresh. Returns the committed version (0). */
  def registerFiles(tableDir: String, schema: StructType,
                    partCols: Seq[String],
                    files: Seq[(String, Map[String, String])]): Long = {
    require(versions(tableDir).isEmpty,
      s"registerFiles target $tableDir already has a log — " +
        "migrations land in a fresh location")
    require(files.nonEmpty, "nothing to register")
    val adds = files.sortBy(_._1).map { case (p, pv) =>
      addAction(p, new File(p).length, pv, stats = Some(statsJson(p)))
    }
    require(writeActions(tableDir, 0L,
      protocolAction() +: metaDataAction(schema, partCols) +: adds),
      s"racing writer claimed version 0 of fresh target $tableDir")
    0L
  }

  /** Current state's live files for a cross-format export: absolute
    * path → partition values. */
  private[sources] def currentFilesForExport(tableDir: String)
      : (StructType, Seq[String], Seq[(String, Map[String, String])]) = {
    val st = replay(tableDir, versions(tableDir).last)
    def resolve(p: String) =
      if (p.startsWith("/") || p.contains("://")) p else s"$tableDir/$p"
    (st.schema, st.partitionColumns,
      st.adds.toSeq.sortBy(_._1).map { case (p, a) =>
        (resolve(p), a.partitionValues) })
  }

  /** Export every committed version of a [[Snapshots]] table as a
    * Delta-layout table — version k of the log reproduces version
    * `versions(k)` of the snapshots (each Snapshots version is a full
    * table state, so each commit is an overwrite). Data files are
    * hard-linked where the filesystem allows (copy fallback): the
    * export is metadata work, not a data rewrite. */
  def exportSnapshots(spark: SparkSession, snapshotsDir: String,
                      deltaDir: String): Seq[Long] = {
    val schema = Snapshots.read(spark, snapshotsDir).schema
    var prev: Seq[String] = Seq.empty
    Snapshots.versions(snapshotsDir).zipWithIndex.map { case (sv, i) =>
      val sub = s"part-v$i"
      Files.createDirectories(Paths.get(deltaDir, sub))
      val parts = Option(
          new File(s"$snapshotsDir/v=$sv").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      val rels = parts.map { f =>
        val dest = Paths.get(deltaDir, sub, f.getName)
        try Files.createLink(dest, f.toPath)
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(f.toPath, dest, StandardCopyOption.REPLACE_EXISTING) }
        s"$sub/${f.getName}"
      }.toSeq
      val head: Seq[ObjectNode] =
        if (i == 0) Seq(protocolAction(), metaDataAction(schema, Seq.empty))
        else prev.map(p => removeAction(p))
      require(writeActions(deltaDir, i.toLong,
        head ++ rels.zip(parts.map(_.length))
          .map { case (p, s) => addAction(p, s) }),
        s"export target $deltaDir already carries commit $i — " +
          "export into a fresh directory")
      prev = rels
      i.toLong
    }
  }
}
