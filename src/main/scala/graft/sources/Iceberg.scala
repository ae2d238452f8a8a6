package graft.sources

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader,
  GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Minimal reader/writer for the OPEN Apache Iceberg table layout —
  * the Delta twin of [[DeltaLog]] (the north star names both formats;
  * reference: the lakehouse's open-table-format tier).
  *
  * The public layout this module speaks (Iceberg spec, Hadoop-catalog
  * convention):
  *
  *   table/metadata/v<N>.metadata.json   table metadata: schema,
  *       snapshot list, current-snapshot-id; one IMMUTABLE file per
  *       commit — the log is the metadata.json chain, not a delta log
  *   table/metadata/version-hint.text    current N (Hadoop catalog's
  *       pointer; absent → highest vN wins)
  *   snapshot.manifest-list              an AVRO file enumerating the
  *       snapshot's manifests (manifest_path, length, spec id, ...)
  *   manifest files                      AVRO files enumerating data
  *       files: status (1=ADDED/0=EXISTING live, 2=DELETED),
  *       data_file{file_path, file_format, record_count, size}
  *
  * Both metadata hops are avro + JSON read DRIVER-SIDE with the plain
  * avro library (on Spark's classpath) — exactly what an Iceberg
  * client's planning phase does: metadata cost scales with manifest
  * count, never data size. The data read is a plain parquet scan of
  * the live files, so pushdown/pruning apply unchanged.
  *
  * Scope (documented, deliberate): format-version 1, unpartitioned
  * tables (partition pruning through an open log is proven on the
  * Delta side — [[DeltaLog.readWhere]]), parquet data files, the
  * required manifest fields only (no column stats/bounds, no delete
  * files — those are v2 row-level features; [[read]] `require`s
  * format-version 1 so a table needing them fails loudly). Snapshot
  * ids are sequential, not random: deterministic for the oracle gate,
  * legal per the spec (any unique long).
  *
  * Cited reference behavior: spark/batch_silver.py:152-164 (open-
  * format table writes), spark/load_warehouse.py:73-87 (warehouse
  * loads that a format-agnostic reader would replace). */
object Iceberg {

  private val mapper = new ObjectMapper()

  private def metaDir(tableDir: String) = s"$tableDir/metadata"

  // ---------------------------------------------------------------
  // Avro shapes (required fields of the spec's manifest-list and
  // manifest entry records)
  // ---------------------------------------------------------------

  private val manifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null}
      |]}""".stripMargin)

  // v2 manifest-list entries carry `content`: 0 = data manifests,
  // 1 = delete manifests (the row-level v2 feature)
  private val manifestFileSchemaV2: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int","default":0},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null}
      |]}""".stripMargin)

  // v2 delete-manifest entries: data_file.content = 1 (position
  // deletes); the referenced parquet carries the spec's two columns
  // (file_path string, pos long)
  private val deleteEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |{"name":"content","type":"int","default":0},
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"}
      |]}}]}""".stripMargin)

  // v2 equality-delete entries: data_file.content = 2 plus the
  // `equality_ids` field-id list naming the match columns; the
  // referenced parquet carries one row per deleted key tuple
  private val eqDeleteEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |{"name":"content","type":"int","default":0},
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"},
      |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
      |"default":null}
      |]}}]}""".stripMargin)

  // lower/upper bounds ride as the spec's field-id → single-value-
  // serialized bytes pairs (avro spells non-string-key maps as arrays
  // of key/value records)
  private val manifestEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"},
      |{"name":"lower_bounds","type":["null",{"type":"array","items":
      |{"type":"record","name":"k_v","fields":[
      |{"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],
      |"default":null},
      |{"name":"upper_bounds","type":["null",{"type":"array","items":"k_v"}],
      |"default":null}
      |]}}]}""".stripMargin)

  /** Manifest-entry schema whose `data_file` carries a `partition`
    * record with one nullable field per identity partition column —
    * the spec's per-file partition tuple (record name `r102` is the
    * spec's field-id-derived convention). Empty spec → the plain
    * schema. */
  private def manifestEntrySchemaFor(
      part: Seq[(String, DataType)]): Schema =
    if (part.isEmpty) manifestEntrySchema
    else {
      val fields = part.map { case (n, t) =>
        s"""{"name":"$n","type":["null","${avroPrimitive(t)}"],"default":null}"""
      }.mkString(",")
      new Schema.Parser().parse(
        s"""{"type":"record","name":"manifest_entry","fields":[
           |{"name":"status","type":"int"},
           |{"name":"snapshot_id","type":["null","long"],"default":null},
           |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
           |{"name":"file_path","type":"string"},
           |{"name":"file_format","type":"string"},
           |{"name":"partition","type":{"type":"record","name":"r102","fields":[$fields]}},
           |{"name":"record_count","type":"long"},
           |{"name":"file_size_in_bytes","type":"long"},
           |{"name":"lower_bounds","type":["null",{"type":"array","items":
           |{"type":"record","name":"k_v","fields":[
           |{"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],
           |"default":null},
           |{"name":"upper_bounds","type":["null",{"type":"array","items":"k_v"}],
           |"default":null}
           |]}}]}""".stripMargin)
    }

  private def avroPrimitive(t: DataType): String = t match {
    case StringType  => "string"
    case LongType    => "long"
    case IntegerType => "int"
    case BooleanType => "boolean"
    case DoubleType  => "double"
    case FloatType   => "float"
    case other => throw new IllegalArgumentException(
      s"identity partition over $other not supported (primitives only)")
  }

  /** Hive directory value → the avro-typed partition value the
    * manifest tuple carries. */
  private def typedPartitionValue(v: String, t: DataType): Any =
    if (v == null) null else t match {
      case StringType  => v
      case LongType    => java.lang.Long.valueOf(v)
      case IntegerType => java.lang.Integer.valueOf(v)
      case BooleanType => java.lang.Boolean.valueOf(v)
      case DoubleType  => java.lang.Double.valueOf(v)
      case FloatType   => java.lang.Float.valueOf(v)
      case other => throw new IllegalArgumentException(
        s"identity partition over $other not supported")
    }

  private def writeAvro(path: String, schema: Schema,
                        records: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new File(path))
    try records.foreach(w.append) finally w.close()
  }

  /** Read every record of an avro file, BY NAME field access (a real
    * client's files carry more fields and their own order). */
  private def readAvro(path: String): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](
      new File(stripFileUri(path)),
      new GenericDatumReader[GenericRecord]())
    try { val b = Seq.newBuilder[GenericRecord]
      while (r.hasNext) b += r.next(); b.result() }
    finally r.close()
  }

  private def stripFileUri(p: String): String =
    if (p.startsWith("file:")) p.stripPrefix("file:") else p

  /** Safe by-name avro access: None when the writer's schema lacks
    * the field (GenericData.Record.get THROWS on unknown names). */
  private def fieldOpt(r: GenericRecord, name: String): Option[AnyRef] =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name)))

  // ---------------------------------------------------------------
  // Schema conversion (Iceberg JSON schema <-> Spark StructType)
  // ---------------------------------------------------------------

  private val DecimalRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  private def icebergTypeToSpark(t: String): DataType = t match {
    case "boolean"                  => BooleanType
    case "int"                      => IntegerType
    case "long"                     => LongType
    case "float"                    => FloatType
    case "double"                   => DoubleType
    case "date"                     => DateType
    case "timestamp"                => TimestampNTZType // no zone
    case "timestamptz"              => TimestampType
    case "string"                   => StringType
    case "binary"                   => BinaryType
    case DecimalRe(p, s)            => DecimalType(p.toInt, s.toInt)
    case other => throw new IllegalArgumentException(
      s"unsupported Iceberg type '$other' (reader speaks the v1 " +
        "primitives; nested/uuid/fixed types out of scope)")
  }

  private def sparkTypeToIceberg(t: DataType): String = t match {
    case BooleanType        => "boolean"
    case IntegerType        => "int"
    case ShortType | ByteType => "int"
    case LongType           => "long"
    case FloatType          => "float"
    case DoubleType         => "double"
    case DateType           => "date"
    case TimestampNTZType   => "timestamp"
    case TimestampType      => "timestamptz"
    case StringType         => "string"
    case BinaryType         => "binary"
    case d: DecimalType     => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"unsupported Spark type $other for Iceberg v1 export")
  }

  private def schemaFromMetadata(meta: ObjectNode): StructType = {
    // v1 writes "schema"; v2 moved to "schemas" + current-schema-id —
    // accept both spellings (v1 tables written by newer clients carry
    // both)
    val schemaNode =
      if (meta.has("schema")) meta.get("schema")
      else {
        val id = meta.get("current-schema-id").asInt
        meta.get("schemas").elements().asScala
          .find(_.get("schema-id").asInt == id)
          .getOrElse(throw new IllegalArgumentException(
            s"current-schema-id $id not in schemas list"))
      }
    StructType(schemaNode.get("fields").elements().asScala.map { f =>
      StructField(f.get("name").asText,
        icebergTypeToSpark(f.get("type").asText),
        nullable = !f.get("required").asBoolean)
    }.toSeq)
  }

  private def schemaToJson(schema: StructType): ObjectNode = {
    val s = mapper.createObjectNode()
    s.put("type", "struct").put("schema-id", 0)
    val fields = s.putArray("fields")
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val fn = fields.addObject()
      fn.put("id", i + 1).put("name", f.name)
        .put("required", !f.nullable)
        .put("type", sparkTypeToIceberg(f.dataType))
    }
    s
  }

  // ---------------------------------------------------------------
  // Metadata chain
  // ---------------------------------------------------------------

  /** Committed metadata versions, ascending (the vN of
    * `metadata/v<N>.metadata.json`). */
  def versions(tableDir: String): Seq[Int] =
    Option(new File(metaDir(tableDir)).listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".metadata.json") =>
        n.stripPrefix("v").stripSuffix(".metadata.json") }
      .collect { case n if n.forall(_.isDigit) => n.toInt }
      .sorted.toSeq

  /** Current metadata version: max of `version-hint.text` (the
    * Hadoop catalog's pointer) and the highest vN on disk. The hint
    * is ADVISORY — the hard link on vN.metadata.json is the commit
    * point, and a writer crashing between the link and the hint
    * move leaves the hint one behind; trusting it alone would hide
    * a fully committed version. Every vN on disk is immutable and
    * complete (the tmp+link publish), so max() is always safe. */
  private def currentVersion(tableDir: String): Int = {
    val hintFile = new File(metaDir(tableDir), "version-hint.text")
    val hint: Option[Int] =
      if (hintFile.isFile)
        Some(new String(Files.readAllBytes(hintFile.toPath), "UTF-8")
          .trim.toInt)
      else None
    val vs = versions(tableDir)
    require(hint.nonEmpty || vs.nonEmpty,
      s"no metadata/v*.metadata.json under $tableDir")
    math.max(hint.getOrElse(Int.MinValue), vs.lastOption.getOrElse(Int.MinValue))
  }

  private def loadMetadata(tableDir: String, v: Int): ObjectNode = {
    val f = new File(metaDir(tableDir), s"v$v.metadata.json")
    require(f.isFile, s"missing metadata file ${f.getPath}")
    val meta = mapper.readTree(
      new String(Files.readAllBytes(f.toPath), "UTF-8"))
      .asInstanceOf[ObjectNode]
    val fv = meta.get("format-version").asInt
    require(fv == 1 || fv == 2,
      s"unsupported Iceberg format-version $fv (reader supports 1 and " +
        "2; v2 coverage = position deletes — equality deletes refuse " +
        "at the manifest)")
    meta
  }

  /** The `$snapshots` metadata table as a DataFrame — one row per
    * recorded snapshot with its summary operation (the deterministic
    * subset of Iceberg's snapshots table; timestamps are wall-clock
    * and excluded). Driver-side O(snapshots) metadata. */
  def snapshotsTable(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    meta.get("snapshots").elements().asScala.map { s =>
      (s.get("snapshot-id").asLong,
        Option(s.get("summary")).flatMap(su => Option(su.get("operation")))
          .map(_.asText).getOrElse("unknown"))
    }.toSeq.sortBy(_._1).toDF("snapshot_id", "operation")
  }

  /** The `table$files` metadata table (q216): one row per manifest
    * entry of the current snapshot — data files (content=0) AND
    * delete files (1=positional, 2=equality) — with its partition
    * tuple, the spec it was written under, its record count, byte
    * size, and the manifest's value bounds decoded to longs where
    * the encoding allows (other fields are absent from the maps —
    * bounds only ever ACCELERATE, the superset rule). Driver-side
    * O(files) manifest walk; no data file is opened. */
  def filesTable(spark: SparkSession, tableDir: String): DataFrame = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    filesTable(spark, tableDir, meta.get("current-snapshot-id").asLong)
  }

  /** [[filesTable]] AS OF a pinned snapshot — the at-version layout
    * audit, same O(files) manifest walk. */
  def filesTable(spark: SparkSession, tableDir: String,
                 snapshotId: Long): DataFrame = {
    import spark.implicits._
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    val idToName = fieldIds(meta).map(_.swap)
    val snapId = snapshotId
    val snap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == snapId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapId not in metadata"))
    val rows = readAvro(snap.get("manifest-list").asText).flatMap { r =>
      val specId = fieldOpt(r, "partition_spec_id")
        .map(_.asInstanceOf[Int]).getOrElse(0)
      readAvro(r.get("manifest_path").toString).flatMap { e =>
        if (e.get("status").asInstanceOf[Int] == 2) None
        else {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val content = fieldOpt(df, "content")
            .map(_.asInstanceOf[Int]).getOrElse(0)
          val pv: Map[String, String] = fieldOpt(df, "partition") match {
            case Some(rec: GenericRecord) =>
              rec.getSchema.getFields.asScala.map { f =>
                f.name -> (rec.get(f.name) match {
                  case null => null
                  case v => v.toString
                })
              }.toMap
            case _ => Map.empty
          }
          def decoded(field: String): Map[String, Long] =
            boundsMap(df, field).flatMap { case (id, b) =>
              for {
                n <- idToName.get(id)
                v <- longBound(b)
              } yield n -> v
            }
          Some((stripFileUri(df.get("file_path").toString), pv, specId,
            content, df.get("record_count").asInstanceOf[Long],
            fieldOpt(df, "file_size_in_bytes")
              .map(_.asInstanceOf[Long]).getOrElse(0L),
            decoded("lower_bounds"), decoded("upper_bounds")))
        }
      }
    }
    rows.sortBy(_._1).toDF("path", "partition", "spec_id", "content",
      "records", "size_bytes", "min_values", "max_values")
  }

  /** Snapshot ids recorded in the current metadata, ascending. */
  def snapshotIds(tableDir: String): Seq[Long] = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    meta.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong).toSeq.sorted
  }

  /** Test seam: manifest avro files the last read planned over. */
  @volatile private[graft] var lastManifestsRead: Int = 0

  /** Test seam: data files the last read handed to the scan (after
    * any bounds pruning) — the q145/q104 files-scanned discipline. */
  @volatile private[graft] var lastFilesPlanned: Int = 0

  /** Test seam: data files the last [[deleteWhere]] actually scanned
    * — the manifest-bounds pruning bound. */
  @volatile private[graft] var lastDeleteFilesScanned: Int = -1

  /** One planned data file: path, the manifest's per-field-id value
    * bounds (absent for files/columns without stats — which then
    * never prune, the superset contract), the file's partition
    * tuple (stringified; empty for unpartitioned tables), and the
    * snapshot that ADDED its manifest (the sequence surrogate
    * equality-delete scoping needs). */
  private case class PlannedFile(path: String,
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      partition: Map[String, String] = Map.empty,
      addedBy: Long = 0L,
      specId: Int = 0,
      sizeBytes: Long = 0L,
      records: Long = -1L)

  /** One equality-delete file: its path, the field ids its rows
    * match on, and the snapshot that added it — it applies only to
    * data files added by EARLIER snapshots (the spec's sequence
    * rule: rows written after the delete survive). */
  private case class EqDelete(path: String, fieldIds: Seq[Int],
                              addedBy: Long)

  private def boundsMap(df: GenericRecord,
                        field: String): Map[Int, Array[Byte]] =
    df.getSchema.getField(field) match {
      case null => Map.empty
      case _ => Option(df.get(field)) match {
        case None => Map.empty
        case Some(arr: java.util.Collection[_]) =>
          arr.asScala.map { kv =>
            val r = kv.asInstanceOf[GenericRecord]
            val buf = r.get("value").asInstanceOf[java.nio.ByteBuffer]
            val bytes = new Array[Byte](buf.remaining())
            buf.duplicate().get(bytes)
            r.get("key").asInstanceOf[Int] -> bytes
          }.toMap
        case _ => Map.empty
      }
    }

  /** A snapshot's planned inputs: live data files plus the position-
    * and equality-delete files that apply to them (both empty on v1
    * tables). */
  private case class Planned(data: Seq[PlannedFile],
                             deleteFiles: Seq[String],
                             eqDeletes: Seq[EqDelete] = Seq.empty)

  /** Live files of snapshot `snapshotId`: manifest-list hop, then
    * each manifest's entries with status != 2 (DELETED). A v2
    * manifest-list row with `content`=1 is a DELETE manifest whose
    * entries name position-delete parquet (data_file.content 1:
    * explicit (file, pos) targets) or equality-delete parquet
    * (content 2: value-matching rows, scoped by sequence). Both hops
    * are driver-side metadata reads.
    *
    * Sequence scoping: equality deletes apply only to data files with
    * a SMALLER sequence. The sequence used is, in order of
    * preference: the entry's own `data_sequence_number` /
    * `sequence_number` (what real v2 clients write — sound even when
    * maintenance merges manifests, because re-written entries keep
    * their original data sequence), the manifest-list row's
    * `sequence_number`, and finally `added_snapshot_id` — the
    * surrogate that is exact for THIS engine's layouts (one manifest
    * per commit, snapshot ids are the sequence). Position deletes
    * name their target by explicit `file_path` and every writer here
    * names data files by per-file UUID (paths never reused), so
    * applying all of a snapshot's position deletes to all of its
    * data files is exact without per-file sequence tracking — which
    * exists to protect REUSED paths across rewrites. */
  private def planFilesAll(tableDir: String, meta: ObjectNode,
                           snapshotId: Long): Planned = {
    val snap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapshotId not in metadata (have " +
          s"${snapshotIds(tableDir).mkString(",")})"))
    val manifests = readAvro(snap.get("manifest-list").asText)
      .map(r => (r.get("manifest_path").toString,
        fieldOpt(r, "content").map(_.asInstanceOf[Int]).getOrElse(0),
        fieldOpt(r, "sequence_number").map(_.asInstanceOf[Long])
          .orElse(fieldOpt(r, "added_snapshot_id")
            .map(_.asInstanceOf[Long]))
          .getOrElse(0L),
        // the spec this manifest's files were written under — a
        // multi-spec table (partition evolution) prunes each
        // manifest with ITS OWN spec's transforms
        fieldOpt(r, "partition_spec_id")
          .map(_.asInstanceOf[Int]).getOrElse(0)))
    lastManifestsRead = manifests.size
    // an entry's own data sequence wins over its manifest's (v2
    // inheritance: null means inherit)
    def entrySeq(e: GenericRecord, manifestSeq: Long): Long =
      fieldOpt(e, "data_sequence_number").map(_.asInstanceOf[Long])
        .orElse(fieldOpt(e, "sequence_number")
          .map(_.asInstanceOf[Long]))
        .getOrElse(manifestSeq)
    val posB = Seq.newBuilder[String]
    val eqB = Seq.newBuilder[EqDelete]
    manifests.filter(_._2 == 1).foreach { case (m, _, mSeq, _) =>
      readAvro(m).foreach { e =>
        if (e.get("status").asInstanceOf[Int] != 2) {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val c = fieldOpt(df, "content")
            .map(_.asInstanceOf[Int]).getOrElse(0)
          val fmt = df.get("file_format").toString
          require(fmt.equalsIgnoreCase("PARQUET"),
            s"unsupported delete file format $fmt")
          c match {
            case 1 => posB += df.get("file_path").toString
            case 2 =>
              val ids = fieldOpt(df, "equality_ids") match {
                case Some(arr: java.util.Collection[_]) =>
                  arr.asScala.map(_.asInstanceOf[Int]).toSeq
                case _ => throw new IllegalArgumentException(
                  "equality-delete entry without equality_ids — " +
                    "cannot know which columns match")
              }
              eqB += EqDelete(df.get("file_path").toString, ids,
                entrySeq(e, mSeq))
            case other => throw new IllegalArgumentException(
              s"unsupported delete-file content $other")
          }
        }
      }
    }
    val data = manifests.filter(_._2 == 0).flatMap {
      case (m, _, mSeq, mSpec) =>
      readAvro(m).flatMap { e =>
        val status = e.get("status").asInstanceOf[Int]
        if (status == 2) None // DELETED — not part of this snapshot
        else {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val fmt = df.get("file_format").toString
          require(fmt.equalsIgnoreCase("PARQUET"),
            s"unsupported data file format $fmt")
          val pv: Map[String, String] =
            (df.getSchema.getField("partition") match {
              case null => None
              case _ => Option(df.get("partition"))
            }) match {
              case Some(rec: GenericRecord) =>
                rec.getSchema.getFields.asScala.map { f =>
                  f.name -> (rec.get(f.name) match {
                    case null => null
                    case v => v.toString
                  })
                }.toMap
              case _ => Map.empty
            }
          Some(PlannedFile(df.get("file_path").toString,
            boundsMap(df, "lower_bounds"), boundsMap(df, "upper_bounds"),
            pv, entrySeq(e, mSeq), mSpec,
            fieldOpt(df, "file_size_in_bytes")
              .map(_.asInstanceOf[Long]).getOrElse(0L),
            Option(df.get("record_count"))
              .map(_.asInstanceOf[Long]).getOrElse(-1L)))
        }
      }
    }
    Planned(data, posB.result(), eqB.result())
  }

  /** Live data files only; refuses a snapshot that carries deletes —
    * callers on this path would silently resurrect deleted rows. */
  private def planFiles(tableDir: String, meta: ObjectNode,
                        snapshotId: Long): Seq[PlannedFile] = {
    val p = planFilesAll(tableDir, meta, snapshotId)
    require(p.deleteFiles.isEmpty && p.eqDeletes.isEmpty,
      "snapshot carries deletes — use the delete-aware read")
    p.data
  }

  /** One field of the default partition spec: the tuple field's
    * display name, its transform string, and the SOURCE column it
    * derives from (resolved through `source-id` against the schema —
    * never through the display name). */
  private[graft] case class SpecField(name: String, transform: String,
                                      sourceCol: String)

  /** The default partition spec's fields (empty for unpartitioned
    * tables). Transforms outside this engine's set (identity, bucket,
    * truncate, day/month/year) fail loudly — a tuple under an unknown
    * transform cannot be pruned against, and ignoring it would turn
    * pruned reads into silent full scans. */
  private def partitionSpecOf(meta: ObjectNode): Seq[SpecField] = {
    if (!meta.has("partition-specs")) return Seq.empty
    val specId =
      if (meta.has("default-spec-id")) meta.get("default-spec-id").asInt
      else 0
    val spec = partitionSpecsAll(meta).getOrElse(specId,
      throw new IllegalArgumentException(
        s"default-spec-id $specId not in partition-specs"))
    // the DEFAULT spec must be fully speakable — writers validate
    // against it and pruned reads derive tuples from it. HISTORICAL
    // specs are exempt (see partitionSpecsAll): they only ever
    // weaken pruning, never correctness.
    // `void` is readable in ANY spec (real Iceberg v1 replaces
    // dropped partition fields with void IN PLACE): it derives no
    // tuple value, prunes nothing, and is never an identity column —
    // harmless to reads; this engine's own writers never declare it
    spec.foreach(f =>
      require(f.transform == "void" ||
          graft.functions.IcebergTransforms.supported(f.transform),
        s"unsupported partition transform '${f.transform}' (this " +
          "engine speaks identity, bucket[n], truncate[w], day, " +
          "month, year — plus read-only void)"))
    val rawFields = meta.get("partition-specs").elements().asScala
      .find(_.get("spec-id").asInt == specId)
      .map(_.get("fields").size).getOrElse(0)
    require(spec.size == rawFields,
      s"default partition spec $specId has a field whose source-id " +
        "is not in the schema — cannot derive tuples for writes or " +
        "pruned reads")
    spec
  }

  /** EVERY partition spec in the metadata keyed by spec-id — a
    * multi-spec table (partition evolution: `partition-specs` is a
    * LIST and each manifest records the `partition_spec_id` it was
    * written under) must prune a manifest's files with the spec
    * those tuples were derived from, not with whatever the default
    * is today. */
  private[graft] def partitionSpecsAll(
      meta: ObjectNode): Map[Int, Seq[SpecField]] = {
    if (!meta.has("partition-specs"))
      return Map.empty
    val byId = fieldIds(meta).map(_.swap)
    // transforms are NOT validated here: a HISTORICAL spec with a
    // transform this engine cannot speak (real Iceberg v1 partition
    // evolution leaves `void` fields behind; foreign engines may use
    // others) must not brick the table — per-spec pruning simply
    // derives no predicate for such fields (the tuplePredsFor match
    // falls through to None, the superset answer). Only the DEFAULT
    // spec is require-validated, in [[partitionSpecOf]]. Unresolvable
    // source-ids get the same soft treatment (a dropped column's
    // void field has no living source).
    meta.get("partition-specs").elements().asScala.map { spec =>
      spec.get("spec-id").asInt ->
        spec.get("fields").elements().asScala.flatMap { f =>
          val sid = f.get("source-id").asInt
          byId.get(sid).map(src =>
            SpecField(f.get("name").asText, f.get("transform").asText,
              src))
        }.toSeq
    }.toMap
  }

  // (round 13: the CDF stream's former partitioned-table refusal is
  // gone — position-delete partitions now carry each data file's
  // manifest partition tuple, and equality-delete rows carry
  // partition columns whenever they are equality key columns — see
  // [[cdfPlanBySnapshot]] / IcebergCdfStreamSource.)

  /** IDENTITY-partition column names — the only spec fields whose
    * tuple values can substitute for a column the data files dropped
    * (the hive-migrated shape). Hidden-transform fields (bucket/
    * month/...) never appear here: their source columns stay in the
    * data files, the tuple is pruning metadata only. */
  private def partitionColsOf(meta: ObjectNode): Seq[String] =
    partitionSpecOf(meta)
      .filter(_.transform == "identity").map(_.sourceCol)

  /** The table properties recorded in the current metadata (empty
    * for tables with none) — the SQL catalog's
    * `SHOW TBLPROPERTIES` surface. */
  def tableProperties(tableDir: String): Map[String, String] = {
    val vs = versions(tableDir)
    if (vs.isEmpty) return Map.empty
    val meta = loadMetadata(tableDir, vs.last)
    if (!meta.has("properties")) Map.empty
    else meta.get("properties").properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
  }

  /** The DEFAULT partition spec as (source column, transform) pairs
    * — identity fields spell `("col", "identity")`. The SQL
    * catalog's INSERT path re-declares exactly this spec when it
    * commits through [[commitAppendPartitioned]] /
    * [[commitAppendHidden]]. */
  def currentSpecFields(tableDir: String): Seq[(String, String)] =
    partitionSpecOf(loadMetadata(tableDir, versions(tableDir).last))
      .map(f => f.sourceCol -> f.transform)

  /** Do the snapshot's data files carry the partition columns
    * themselves (standard Iceberg: partition columns are ordinary
    * data columns, the tuple is derived metadata), or were they
    * stripped hive-style (migrated-table shape, where the spec's
    * identity tuple substitutes for the missing column)? One footer
    * open of one file decides — the layouts never mix in a snapshot. */
  private def dataFilesCarryPartitionCols(path: String,
                                          partCols: Seq[String]): Boolean = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(stripFileUri(path)),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val names = r.getFooter.getFileMetaData.getSchema.getFields
        .asScala.map(_.getName).toSet
      partCols.forall(names.contains)
    } finally r.close()
  }

  /** Latest snapshot (current-snapshot-id of the current metadata).
    *
    * Session note: Iceberg reads resolve columns by parquet field id,
    * which enables `spark.sql.parquet.fieldId.read.enabled`
    * SESSION-WIDE (a SQL conf, not a per-read option; the lazy scan
    * reads it at execution time so it cannot be restored eagerly).
    * Safe to leave on — schemas without id metadata still resolve by
    * name — but callers sharing the session should know the flag may
    * flip here. */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    readSnapshotFrom(spark, tableDir, meta,
      meta.get("current-snapshot-id").asLong)
  }

  /** Time travel: the table exactly as of `snapshotId` — every
    * snapshot in the metadata's list stays addressable, the spec's
    * time-travel contract. */
  def readSnapshot(spark: SparkSession, tableDir: String,
                   snapshotId: Long): DataFrame = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    readSnapshotFrom(spark, tableDir, meta, snapshotId)
  }

  /** Snapshot timestamps in COMMIT order (the metadata list's order),
    * adjusted to be strictly monotonic — the Delta-side
    * [[DeltaLog.commitTimestamps]] rule applied to `timestamp-ms`:
    * an external table whose clock skewed still yields a valid
    * search key, and the answer for our own tables (whose writer
    * already enforces monotonicity) is the recorded value
    * unchanged. */
  def snapshotTimestamps(tableDir: String): Seq[(Long, Long)] = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    var prev = Long.MinValue
    meta.get("snapshots").elements().asScala.map { s =>
      val raw = s.get("timestamp-ms").asLong
      val t = if (raw <= prev) prev + 1 else raw
      prev = t
      (s.get("snapshot-id").asLong, t)
    }.toSeq
  }

  /** The snapshot a timestamp resolves to: the LATEST snapshot whose
    * adjusted timestamp is <= `tsMillis` (Iceberg's `FOR TIMESTAMP AS
    * OF`). Before the first snapshot fails loudly. */
  def snapshotAsOf(tableDir: String, tsMillis: Long): Long = {
    val sts = snapshotTimestamps(tableDir)
    require(sts.nonEmpty, s"no snapshots under $tableDir")
    require(tsMillis >= sts.head._2,
      s"timestamp $tsMillis precedes the first snapshot (${sts.head._2})")
    sts.takeWhile(_._2 <= tsMillis).last._1
  }

  /** Timestamp time travel: [[readSnapshot]] at [[snapshotAsOf]]. */
  def readAsOfTimestamp(spark: SparkSession, tableDir: String,
                        tsMillis: Long): DataFrame =
    readSnapshot(spark, tableDir, snapshotAsOf(tableDir, tsMillis))

  /** ROLLBACK to `snapshotId` (Iceberg's `rollback_to_snapshot`
    * procedure): publish a new metadata version whose
    * current-snapshot-id points at the older snapshot — PURE METADATA,
    * no manifest or data file touched, every later snapshot still in
    * the list and addressable (the rollback itself can be rolled
    * back). Returns the new metadata version. */
  def rollbackTo(tableDir: String, snapshotId: Long): Int = {
    val v = currentVersion(tableDir)
    val meta = loadMetadata(tableDir, v)
    require(meta.get("snapshots").elements().asScala
        .exists(_.get("snapshot-id").asLong == snapshotId),
      s"snapshot $snapshotId not in metadata (have " +
        s"${snapshotIds(tableDir).mkString(",")})")
    val next = meta.deepCopy[ObjectNode]()
    next.put("current-snapshot-id", snapshotId)
    appendSnapshotLog(next, snapshotId)
    publishPinned(tableDir, v + 1, next, "rollback")
    v + 1
  }

  /** Record a CURRENT-snapshot-id transition in `snapshot-log` — the
    * list external clients binary-search for FOR TIMESTAMP AS OF.
    * The entry's timestamp is forced past every recorded one so the
    * log stays chronologically ordered (a rollback would otherwise
    * land "before" the snapshot it reinstates). */
  private def appendSnapshotLog(meta: ObjectNode, snapshotId: Long): Unit = {
    val log: ArrayNode =
      if (meta.has("snapshot-log"))
        meta.get("snapshot-log").asInstanceOf[ArrayNode]
      else meta.putArray("snapshot-log")
    val prevMax = log.elements().asScala
      .map(_.get("timestamp-ms").asLong).maxOption.getOrElse(0L)
    log.addObject()
      .put("timestamp-ms",
        math.max(prevMax + 1, System.currentTimeMillis()))
      .put("snapshot-id", snapshotId)
    ()
  }

  /** NAMED REFS (Iceberg spec `refs`): tag or branch a snapshot —
    * pure metadata, and [[expireSnapshots]] retains ref'd snapshots
    * past the count horizon (the spec's contract: a ref holds its
    * snapshot until dropped). `type` is "tag" (immutable audit
    * pointer) or "branch". Returns the new metadata version. */
  def setRef(tableDir: String, name: String, snapshotId: Long,
             refType: String = "tag"): Int = {
    require(refType == "tag" || refType == "branch",
      s"ref type must be tag|branch, got $refType")
    val v = currentVersion(tableDir)
    val meta = loadMetadata(tableDir, v)
    require(meta.get("snapshots").elements().asScala
        .exists(_.get("snapshot-id").asLong == snapshotId),
      s"snapshot $snapshotId not in metadata")
    val next = meta.deepCopy[ObjectNode]()
    val refs =
      if (next.has("refs")) next.get("refs").asInstanceOf[ObjectNode]
      else next.putObject("refs")
    refs.putObject(name)
      .put("snapshot-id", snapshotId).put("type", refType)
    publishPinned(tableDir, v + 1, next, "setRef")
    v + 1
  }

  /** PARTITION-SPEC EVOLUTION (metadata-only, version-pinned):
    * append a NEW spec to `partition-specs`, point `default-spec-id`
    * at it, continue `field-id`s past every recorded one
    * (`last-partition-id`). Existing manifests keep their spec ids
    * and keep pruning under THEIR spec ([[readFiltered]]'s per-spec
    * predicates); future commits must declare the new spec — the
    * first thing a real Iceberg user does when daily partitions get
    * too coarse is exactly this daily→hourly evolution. Returns the
    * new spec id.
    *
    * Scope: the new spec's IDENTITY column set must equal the
    * current default's. This engine's hive-shape writer STRIPS
    * identity partition columns from data files, so changing the
    * stripped set across generations would leave one generation's
    * files missing a column the other spells physically — refused
    * with the reason. Hidden transforms evolve freely (data files
    * keep the full schema); FOREIGN multi-spec tables whose files
    * carry every column read correctly under any spec history. */
  def evolvePartitionSpec(tableDir: String,
      partCols: Seq[String] = Seq.empty,
      hiddenSpec: Seq[(String, String)] = Seq.empty): Int = {
    import graft.functions.IcebergTransforms
    require(partCols.isEmpty || hiddenSpec.isEmpty,
      "a spec declares either identity partCols or hidden " +
        "transforms, not both")
    val v = currentVersion(tableDir)
    val meta = loadMetadata(tableDir, v)
    val schema = schemaFromMetadata(meta)
    val colIds = fieldIds(meta)
    (partCols ++ hiddenSpec.map(_._1)).foreach(c =>
      require(schema.fieldNames.contains(c),
        s"partition source column $c not in table schema"))
    hiddenSpec.foreach { case (src, tr) =>
      require(IcebergTransforms.supported(tr) && tr != "identity",
        s"unsupported hidden transform '$tr' on $src (identity goes " +
          "through partCols)")
    }
    val curIdentity = partitionSpecOf(meta)
      .filter(_.transform == "identity").map(_.sourceCol).toSet
    if (partCols.toSet != curIdentity) {
      // an identity-set change is sound ONLY when the live data
      // files physically carry every affected column (the standard
      // shape [[rewriteDataFilesFullSchema]] produces, and the shape
      // foreign tables arrive in) — hive-stripped generations would
      // disagree on which columns exist physically
      val affected = (partCols.toSet ++ curIdentity).toSeq.sorted
      val carried = scala.util.Try {
        val p = batchPlan(tableDir, mainSnapshotId(tableDir))
        p.files.isEmpty ||
          dataFilesCarryPartitionCols(p.files.head.path, affected)
      }.getOrElse(false)
      require(carried,
        s"partition-spec evolution cannot change the IDENTITY " +
          s"column set (${curIdentity.mkString(",")} -> " +
          s"${partCols.mkString(",")}) while live data files are " +
          "hive-stripped: the generations would disagree on which " +
          "columns exist physically — run " +
          "rewriteDataFilesFullSchema first (files then carry " +
          "every column), or evolve hidden transforms instead")
    }
    val newFields: Seq[(String, String, String)] =
      partCols.map(c => (c, "identity", c)) ++
        hiddenSpec.map { case (src, tr) =>
          (IcebergTransforms.tupleName(tr, src), tr, src) }
    val next = meta.deepCopy[ObjectNode]()
    val specs =
      if (next.has("partition-specs"))
        next.withArray[ArrayNode]("partition-specs")
      else next.putArray("partition-specs")
    val existing = specs.elements().asScala.toSeq
    val newSpecId = existing.map(_.get("spec-id").asInt)
      .maxOption.getOrElse(-1) + 1
    // field-ids continue past EVERY recorded one (and the recorded
    // last-partition-id, whichever is higher) — reusing an old
    // spec's field-id would alias two different transforms
    var fieldId = math.max(
      existing.flatMap(_.get("fields").elements().asScala)
        .map(_.get("field-id").asInt).maxOption.getOrElse(999),
      if (next.has("last-partition-id"))
        next.get("last-partition-id").asInt else 999)
    val node = specs.addObject()
    node.put("spec-id", newSpecId)
    val fs = node.putArray("fields")
    newFields.foreach { case (name, tr, src) =>
      fieldId += 1
      fs.addObject().put("name", name).put("transform", tr)
        .put("source-id", colIds(src)).put("field-id", fieldId)
    }
    next.put("default-spec-id", newSpecId)
    next.put("last-partition-id", fieldId)
    publishPinned(tableDir, v + 1, next, "evolvePartitionSpec")
    newSpecId
  }

  /** Drop a ref; its snapshot becomes expirable again. */
  def dropRef(tableDir: String, name: String): Int = {
    val v = currentVersion(tableDir)
    val meta = loadMetadata(tableDir, v)
    require(meta.has("refs") && meta.get("refs").has(name),
      s"no ref '$name'")
    val next = meta.deepCopy[ObjectNode]()
    next.get("refs").asInstanceOf[ObjectNode].remove(name)
    publishPinned(tableDir, v + 1, next, "dropRef")
    v + 1
  }

  /** The snapshot a ref names. */
  def refSnapshot(tableDir: String, name: String): Long = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    require(meta.has("refs") && meta.get("refs").has(name),
      s"no ref '$name' (have ${
        if (meta.has("refs"))
          meta.get("refs").properties().asScala.map(_.getKey).mkString(",")
        else ""})")
    meta.get("refs").get(name).get("snapshot-id").asLong
  }

  /** Read the table AS OF a named ref — `VERSION AS OF 'tag'`. */
  def readRef(spark: SparkSession, tableDir: String,
              name: String): DataFrame =
    readSnapshot(spark, tableDir, refSnapshot(tableDir, name))

  /** WRITE-AUDIT-PUBLISH staging: append `df` as a new snapshot on
    * `branch` — the branch ref advances (created from main's head if
    * absent), MAIN's current-snapshot-id does not move, so readers
    * keep serving the audited state while the stage accumulates.
    * Returns the staged snapshot id. */
  def commitAppendToBranch(df: DataFrame, tableDir: String,
                           branch: String): Long =
    commit(df, tableDir, overwrite = false, toBranch = Some(branch))

  /** PUBLISH a branch (Iceberg's `fast_forward`): point main's
    * current-snapshot-id at the branch head — metadata only, the
    * audited snapshots become the table in one atomic metadata
    * version. Returns the new metadata version. */
  def fastForward(tableDir: String, branch: String): Int = {
    val v = currentVersion(tableDir)
    val meta = loadMetadata(tableDir, v)
    require(meta.has("refs") && meta.get("refs").has(branch),
      s"no branch '$branch' to publish")
    val ref = meta.get("refs").get(branch)
    require(ref.get("type").asText == "branch",
      s"'$branch' is a ${ref.get("type").asText}, not a branch")
    val next = meta.deepCopy[ObjectNode]()
    next.put("current-snapshot-id", ref.get("snapshot-id").asLong)
    appendSnapshotLog(next, ref.get("snapshot-id").asLong)
    publishPinned(tableDir, v + 1, next, "fastForward")
    v + 1
  }

  private def readSnapshotFrom(spark: SparkSession, tableDir: String,
      meta: ObjectNode, snapshotId: Long): DataFrame = {
    val p = planFilesAll(tableDir, meta, snapshotId)
    scanPlanned(spark, readSchemaFor(meta), p.data,
      partitionColsOf(meta), p.deleteFiles, p.eqDeletes,
      fieldIds(meta).map(_.swap))
  }

  /** MERGE-ON-READ: anti-join the raw data scan against the
    * position-delete rows on (file, position) — `_metadata.file_path`
    * / `_metadata.row_index` are Spark's native per-row file identity,
    * so the whole merge stays one broadcast hash anti-join inside
    * codegen, no row-by-row bookkeeping. Paths normalize on BOTH
    * sides (scheme-prefixed URIs vs plain paths) before comparing.
    * Must run on the scan output BEFORE any projection — projections
    * drop the hidden `_metadata` column. */
  private def deleteAntiJoin(spark: SparkSession,
      deleteFiles: Seq[String]): DataFrame => DataFrame =
    if (deleteFiles.isEmpty) identity
    else { data =>
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.functions.{broadcast, regexp_replace}
      def norm(c: Column): Column =
        regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
      val delT = StructType(Seq(
        StructField("file_path", StringType),
        StructField("pos", LongType)))
      val del = spark.read.schema(delT)
        .parquet(deleteFiles.map(stripFileUri).sorted: _*)
        .select(norm(col("file_path")).as("_del_path"),
          col("pos").as("_del_pos"))
      data
        .withColumn("_ice_path", norm(col("_metadata.file_path")))
        .withColumn("_ice_pos", col("_metadata.row_index"))
        .join(broadcast(del),
          col("_ice_path") === col("_del_path") &&
            col("_ice_pos") === col("_del_pos"), "left_anti")
        .drop("_ice_path", "_ice_pos")
    }

  private def scanPlanned(spark: SparkSession, schema: StructType,
                          files: Seq[PlannedFile],
                          partCols: Seq[String] = Seq.empty,
                          deleteFiles: Seq[String] = Seq.empty,
                          eqDeletes: Seq[EqDelete] = Seq.empty,
                          idToName: Map[Int, String] = Map.empty)
      : DataFrame = {
    lastFilesPlanned = files.size
    // schemas from [[readSchemaFor]] carry `parquet.field.id` —
    // switch on Spark's field-id matcher (safe session-wide: schemas
    // without id metadata still resolve by name) and strip the
    // annotation from the SURFACED schema at the end (it describes
    // the files, not the rows)
    val hasIds = schema.fields.exists(_.metadata.contains("parquet.field.id"))
    if (hasIds)
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    def strip(df: DataFrame): DataFrame =
      if (!hasIds) df
      else df.select(df.columns.toSeq.map(n => col(n).as(n,
        org.apache.spark.sql.types.Metadata.empty)): _*)
    def scanSubset(subset: Seq[PlannedFile]): DataFrame = {
      val mor = deleteAntiJoin(spark, deleteFiles)
      if (subset.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[Row](), schema)
      else if (partCols.isEmpty ||
          dataFilesCarryPartitionCols(subset.head.path, partCols))
        mor(spark.read.schema(schema).parquet(
          subset.map(f => stripFileUri(f.path)).sorted: _*))
      else
        // hive-migrated shape: the identity tuple substitutes for the
        // stripped columns (the shared open-format reconstruction)
        PartitionedScan.scan(spark, schema, partCols,
          subset.map(f => (stripFileUri(f.path), f.partition)), mor)
    }
    strip(if (eqDeletes.isEmpty || files.isEmpty) scanSubset(files)
    else {
      // EQUALITY deletes are sequence-scoped: a delete applies only
      // to data files added by EARLIER snapshots. Group the live
      // files by their APPLICABLE delete-set (distinct sets only —
      // at most one per append generation, typically 2: pre- and
      // post-delete) and anti-join each group on the delete's key
      // columns with null-safe equality, then union. The delete rows
      // are broadcast — an equality-delete file is O(deleted keys),
      // the small side by construction.
      import org.apache.spark.sql.functions.broadcast
      val groups = files
        .groupBy(f => eqDeletes.filter(_.addedBy > f.addedBy)
          .map(_.path).toSet)
        .toSeq.sortBy(_._1.size)
      groups.map { case (delPaths, subset) =>
        val dels = eqDeletes.filter(d => delPaths.contains(d.path))
        dels.foldLeft(scanSubset(subset)) { (df, ed) =>
          val names = ed.fieldIds.map(id =>
            idToName.getOrElse(id, throw new IllegalArgumentException(
              s"equality_ids field $id not in table schema")))
          val del = spark.read
            .parquet(stripFileUri(ed.path))
            .select(names.map(n => col(n).as(s"_eq_$n")): _*)
            .dropDuplicates()
          df.join(broadcast(del),
            names.map(n => col(n) <=> col(s"_eq_$n"))
              .reduce(_ && _), "left_anti")
        }
      }.reduce(_ unionByName _)
    })
  }

  /** Iceberg's single-value serialization for `long`: 8 bytes
    * little-endian. The only bound type this engine writes/prunes on
    * (documented scope — long key/measure columns are where range
    * skipping pays). */
  private def longBound(bytes: Array[Byte]): Option[Long] =
    if (bytes.length != 8) None
    else Some(java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong)

  /** Column name → field id from the metadata schema (external
    * tables carry their own ids — never assume position). */
  private def fieldIds(meta: ObjectNode): Map[String, Int] = {
    val schemaNode =
      if (meta.has("schema")) meta.get("schema")
      else meta.get("schemas").elements().asScala
        .find(_.get("schema-id").asInt == meta.get("current-schema-id").asInt)
        .get
    schemaNode.get("fields").elements().asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap
  }

  /** The spec's `schema.name-mapping.default` property marks a table
    * whose data files have NO parquet field ids (registered external
    * parquet) — those resolve by NAME through the mapping; files our
    * writer produces carry ids and resolve by id. */
  private def hasNameMapping(meta: ObjectNode): Boolean =
    meta.has("properties") &&
      meta.get("properties").has("schema.name-mapping.default")

  /** Table schema for a SCAN: each field annotated with its
    * `parquet.field.id` so Spark's native matcher resolves data-file
    * columns by FIELD ID — the Iceberg spec's resolution rule, and
    * the thing that makes [[renameColumn]] a pure metadata op (a
    * pre-rename file spells the OLD name; its id still matches).
    * Name-mapped tables (external files without ids) keep plain
    * name resolution. */
  private def readSchemaFor(meta: ObjectNode): StructType = {
    val base = schemaFromMetadata(meta)
    if (hasNameMapping(meta)) base
    else {
      val ids = fieldIds(meta)
      StructType(base.fields.map(f => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", ids(f.name).toLong).build())))
    }
  }

  /** RANGE-PRUNED read of the latest snapshot: keep only files whose
    * manifest [lower, upper] bounds can intersect every `(col, lo,
    * hi)` range — Iceberg data skipping, decided driver-side over
    * manifest rows exactly as an Iceberg client's planner does.
    * Superset contract (the Snapshots.pruneFiles / DeltaLog.readWhere
    * discipline): a file or column WITHOUT bounds never prunes, false
    * positives cost a file read, false negatives cannot happen —
    * callers re-apply the exact predicate. [[lastFilesPlanned]]
    * records the surviving file count for spec ceilings. */
  def readPrunedRange(spark: SparkSession, tableDir: String,
                      ranges: Seq[(String, Long, Long)]): DataFrame = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    val ids = fieldIds(meta)
    ranges.foreach { case (c, _, _) =>
      require(ids.contains(c), s"no column '$c' in table schema") }
    val planned = planFilesAll(tableDir, meta,
      meta.get("current-snapshot-id").asLong)
    val kept = planned.data.filter { f =>
      ranges.forall { case (c, lo, hi) =>
        val id = ids(c)
        (f.lower.get(id).flatMap(longBound),
          f.upper.get(id).flatMap(longBound)) match {
          case (Some(mn), Some(mx)) => mn <= hi && mx >= lo
          case _ => true // no stats can never prove no match
        }
      }
    }
    scanPlanned(spark, readSchemaFor(meta), kept,
      partitionColsOf(meta), planned.deleteFiles, planned.eqDeletes,
      fieldIds(meta).map(_.swap))
  }

  /** PARTITION-PRUNED read of the latest snapshot (the
    * [[DeltaLog.readWhere]] twin): `keep` sees each live file's
    * identity-partition tuple AS THE MANIFEST SPELLS IT (stringified,
    * null allowed) and files it rejects never reach the scan — the
    * decision is driver-side over manifest rows, exactly where an
    * Iceberg planner prunes. Fails loudly on an unpartitioned table. */
  def readWhere(spark: SparkSession, tableDir: String)(
      keep: Map[String, String] => Boolean): DataFrame = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    require(partitionSpecOf(meta).nonEmpty,
      s"readWhere on unpartitioned Iceberg table $tableDir: no " +
        "partition tuple to prune on")
    val planned = planFilesAll(tableDir, meta,
      meta.get("current-snapshot-id").asLong)
    val kept = planned.data.filter(f => keep(f.partition))
    scanPlanned(spark, readSchemaFor(meta), kept,
      partitionColsOf(meta), planned.deleteFiles, planned.eqDeletes,
      fieldIds(meta).map(_.swap))
  }

  /** PREDICATE-PUSHDOWN read — the [[DeltaLog.readFiltered]] twin,
    * with the extra dimension only Iceberg has: HIDDEN transforms.
    * `pred`'s prune-safe conjuncts ([[PruningPredicates]]) are mapped
    * through the partition spec — an equality on a bucket source
    * column prunes to ONE bucket via the spec's murmur3, a timestamp
    * range on a time-transformed column prunes to the ordinal window
    * (month/day/year/hour), identity columns prune on the tuple
    * directly, truncate sources prune through the order-preserving
    * floor — plus manifest value-bounds skipping for long ranges.
    * The FULL predicate is re-applied on the scan; unrecognized
    * conjuncts prune nothing (superset contract). */
  def readFiltered(spark: SparkSession, tableDir: String,
                   pred: org.apache.spark.sql.Column): DataFrame = {
    import graft.functions.IcebergTransforms
    import IcebergTransforms.{BucketRe, TruncateRe}
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    val ex = PruningPredicates.extract(pred)
    val ids = fieldIds(meta)
    val planned = planFilesAll(tableDir, meta,
      meta.get("current-snapshot-id").asLong)
    // one tuple predicate per spec field the extraction can speak to;
    // an absent tuple field keeps the file (external superset rule)
    def onTuple(name: String)(keep: String => Boolean)
        : Map[String, String] => Boolean =
      pv => pv.get(name) match {
        case None => true
        case Some(s) => s != null && keep(s)
      }
    val schema = schemaFromMetadata(meta)
    // a tuple value that fails to PARSE as the expected type cannot
    // prove a miss — keep the file (external superset rule)
    def parsedLong(s: String): Option[Long] =
      scala.util.Try(s.trim.toLong).toOption
    def tuplePredsFor(spec: Seq[SpecField])
        : Seq[Map[String, String] => Boolean] =
      spec.flatMap { f =>
        f.transform match {
          case "identity" =>
            // type-aware through the source column's declared type —
            // the DeltaLog.readFiltered discipline ('05' = 5 holds
            // after Spark's cast)
            ex.eqs.get(f.sourceCol).map { v =>
              val dt = schema(f.sourceCol).dataType
              (pv: Map[String, String]) => pv.get(f.name) match {
                case None => true
                case Some(s) =>
                  PruningPredicates.eqMatches(dt, s, v).getOrElse(true)
              }
            }
          case BucketRe(n) =>
            ex.eqs.get(f.sourceCol).collect {
              case v: Long => v
              case v: Int => v.toLong
            }.map { v =>
              val b = IcebergTransforms.bucketLong(v, n.toInt).toLong
              onTuple(f.name)(s => parsedLong(s).forall(_ == b))
            }
          case TruncateRe(w) =>
            // truncate preserves order: value ∈ [lo,hi] ⇒ tuple ∈
            // [trunc(lo), trunc(hi)]
            ex.longRanges.find(_._1 == f.sourceCol).map {
              case (_, lo, hi) =>
                val tLo = IcebergTransforms.truncateLong(lo, w.toLong)
                val tHi = IcebergTransforms.truncateLong(hi, w.toLong)
                onTuple(f.name)(s => parsedLong(s)
                  .forall(t => t >= tLo && t <= tHi))
            }
          case t @ ("month" | "year" | "day" | "hour") =>
            val lo = ex.tsLo.get(f.sourceCol)
              .map(IcebergTransforms.timeOrdinalOfMicros(t, _))
            val hi = ex.tsHi.get(f.sourceCol)
              .map(IcebergTransforms.timeOrdinalOfMicros(t, _))
            if (lo.isEmpty && hi.isEmpty) None
            else Some(onTuple(f.name)(s => parsedLong(s).forall { o =>
              lo.forall(o >= _) && hi.forall(o <= _)
            }))
          case _ => None
        }
      }
    // one predicate set PER SPEC: a multi-spec table's manifests
    // prune under the spec their tuples were derived from (daily
    // files by the day field, post-evolution hourly files by the
    // hour field); a file under a spec the metadata doesn't list
    // prunes nothing (superset contract)
    val predsBySpec: Map[Int, Seq[Map[String, String] => Boolean]] =
      partitionSpecsAll(meta).map { case (id, sp) =>
        id -> tuplePredsFor(sp) }
    val ranges = ex.longRanges
    lastFilesTotalBySpec =
      planned.data.groupBy(_.specId).map { case (k, v) => k -> v.size }
    val kept = planned.data
      .filter(f => predsBySpec.getOrElse(f.specId, Seq.empty)
        .forall(_(f.partition)))
      .filter { f =>
        ranges.forall { case (c, lo, hi) =>
          ids.get(c).flatMap(id =>
            (f.lower.get(id).flatMap(longBound),
              f.upper.get(id).flatMap(longBound)) match {
              case (Some(mn), Some(mx)) => Some(mn <= hi && mx >= lo)
              case _ => None
            }).getOrElse(true)
        }
      }
    lastFilesPlannedBySpec =
      kept.groupBy(_.specId).map { case (k, v) => k -> v.size }
    scanPlanned(spark, readSchemaFor(meta), kept,
      partitionColsOf(meta), planned.deleteFiles, planned.eqDeletes,
      ids.map(_.swap)).filter(pred)
  }

  /** Per-spec (pre-prune, post-prune) file counts of the last
    * [[readFiltered]] — the seam q214 pins: a multi-spec read must
    * show BOTH generations contributing files and both PRUNED. */
  @volatile private[graft] var lastFilesTotalBySpec: Map[Int, Int] =
    Map.empty
  @volatile private[graft] var lastFilesPlannedBySpec: Map[Int, Int] =
    Map.empty

  // ---------------------------------------------------------------
  // Writer (overwrite/append snapshots through the metadata chain)
  // ---------------------------------------------------------------

  /** Driver-side parquet footer read — metadata, never a scan: the
    * record count the spec requires per data file, plus min/max of
    * every top-level INT64 column (merged across row groups) for the
    * manifest's value bounds. One footer open serves both. Shared
    * with [[DeltaLog]]'s `add.stats` writer — same numbers, two
    * format spellings. Kept for the O(1)-per-call sites (single
    * delete files, external-file migration); a just-written BATCH
    * goes through [[footerStatsBatch]] so the driver never
    * serializes O(files) IO round-trips. */
  private[sources] def parquetFooter(path: String): (Long, Map[String, (Long, Long)]) = {
    driverFooterOpens += 1
    footerStatsOf(path)
  }

  /** Driver-side footer opens since session start — the spec seam
    * proving commit paths collect stats through the DISTRIBUTED job:
    * executor tasks call [[footerStatsOf]] directly, so local-mode
    * tasks never inflate the count, and a multi-file commit must
    * leave it unchanged. */
  @volatile private[graft] var driverFooterOpens: Long = 0L

  /** Per-file footer stats for a just-written batch via ONE
    * distributed job: executors open the footers in parallel
    * (footer IO is O(metadata), never a data scan) and the driver
    * collects exactly O(files) stats rows — at 100 TB a commit of a
    * thousand part files pays one job instead of a thousand
    * sequential driver round-trips. A single file skips the job
    * (task-launch overhead exceeds one local footer open, and a
    * 1-file commit's latency never grows with table size). */
  private[sources] def footerStatsBatch(spark: SparkSession,
      paths: Seq[String]): Map[String, (Long, Map[String, (Long, Long)])] =
    paths match {
      case Seq() => Map.empty
      case Seq(one) => Map(one -> parquetFooter(one))
      case many => spark.sparkContext
        .parallelize(many, math.min(many.size, 32))
        .map(p => (p, footerStatsOf(p)))
        .collect().toMap
    }

  private def footerStatsOf(path: String): (Long, Map[String, (Long, Long)]) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val bounds = scala.collection.mutable.Map.empty[String, (Long, Long)]
      r.getFooter.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          // decimal-annotated INT64 carries an UNSCALED value —
          // recording it as a plain long would poison add.stats
          // with mis-scaled bounds; footer-path decimal stats are
          // simply omitted (superset — such files never prune)
          val isLong = c.getPrimitiveType.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 &&
            !c.getPrimitiveType.getLogicalTypeAnnotation
              .isInstanceOf[org.apache.parquet.schema
                .LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
          val st = c.getStatistics
          if (isLong && c.getPath.size == 1 && st != null &&
            !st.isEmpty && st.hasNonNullValue) {
            val name = c.getPath.toDotString
            val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue
            val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue
            val merged = bounds.get(name)
              .map { case (a, b2) => (math.min(a, mn), math.max(b2, mx)) }
              .getOrElse((mn, mx))
            bounds(name) = merged
          }
        }
      }
      (r.getRecordCount, bounds.toMap)
    } finally r.close()
  }

  private def longBoundBytes(v: Long): java.nio.ByteBuffer = {
    val b = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putLong(v); b.flip(); b
  }

  private def manifestEntry(path: String, status: Int,
                            ids: Map[String, Int],
                            entrySchema: Schema = manifestEntrySchema,
                            partition: Seq[(String, Any)] = Seq.empty,
                            stats: Option[(Long, Map[String, (Long, Long)])]
                              = None)
      : GenericRecord = {
    val dfSchema = entrySchema.getField("data_file").schema()
    val kvSchema = dfSchema.getField("lower_bounds").schema()
      .getTypes.get(1).getElementType
    val df = new GenericData.Record(dfSchema)
    df.put("file_path", path)
    df.put("file_format", "PARQUET")
    if (partition.nonEmpty) {
      val pSchema = dfSchema.getField("partition").schema()
      val p = new GenericData.Record(pSchema)
      partition.foreach { case (n, v) => p.put(n, v) }
      df.put("partition", p)
    }
    val (rows, bounds) = stats.getOrElse(parquetFooter(path))
    df.put("record_count", rows)
    df.put("file_size_in_bytes", new File(path).length())
    val known = bounds.toSeq
      .flatMap { case (name, b) => ids.get(name).map(id => (id, b)) }
      .sortBy(_._1)
    def kvs(pick: ((Long, Long)) => Long): java.util.List[GenericRecord] =
      known.map { case (id, b) =>
        val r = new GenericData.Record(kvSchema)
        r.put("key", id)
        r.put("value", longBoundBytes(pick(b)))
        r: GenericRecord
      }.asJava
    if (known.nonEmpty) {
      df.put("lower_bounds", kvs(_._1))
      df.put("upper_bounds", kvs(_._2))
    }
    val e = new GenericData.Record(entrySchema)
    e.put("status", status)
    e.put("snapshot_id", null)
    e.put("data_file", df)
    e
  }

  private def commit(df: DataFrame, tableDir: String,
                     overwrite: Boolean,
                     partCols: Seq[String] = Seq.empty,
                     hiddenSpec: Seq[(String, String)] = Seq.empty,
                     toBranch: Option[String] = None,
                     summaryExtra: Map[String, String] = Map.empty,
                     abortIf: () => Boolean = () => false,
                     forceStandardShape: Boolean = false): Long = {
    import graft.functions.IcebergTransforms
    require(partCols.isEmpty || hiddenSpec.isEmpty,
      "a commit declares either identity partCols (hive-shape) or a " +
        "hidden transform spec, not both")
    partCols.foreach(c => require(df.columns.contains(c),
      s"partition column $c not in commit schema"))
    hiddenSpec.foreach { case (src, tr) =>
      require(df.columns.contains(src),
        s"hidden-partition source column $src not in commit schema")
      require(tr != "identity",
        "identity goes through partCols (hive-shape); hidden specs " +
          "are for derived transforms")
    }
    // the declared tuple fields: (tuple field name, transform, source
    // column, tuple type) — identity hive-shape fields keep the
    // column's own name/type, hidden fields derive theirs
    val tupleFields: Seq[(String, String, String, DataType)] =
      partCols.map(c => (c, "identity", c, df.schema(c).dataType)) ++
        hiddenSpec.map { case (src, tr) =>
          val name = IcebergTransforms.tupleName(tr, src)
          require(!df.columns.contains(name),
            s"derived tuple name $name collides with a data column")
          (name, tr, src,
            IcebergTransforms.tupleType(tr, df.schema(src).dataType))
        }
    val declaredSpec = tupleFields.map {
      case (name, tr, src, _) => SpecField(name, tr, src) }
    Files.createDirectories(Paths.get(metaDir(tableDir)))
    val vs = versions(tableDir)
    val v = if (vs.isEmpty) 1 else vs.last + 1
    val prevMeta = if (vs.isEmpty) None else Some(loadMetadata(tableDir, vs.last))
    // the TABLE's schema (prev metadata) is authoritative once it
    // exists: commits must match names+types, but nullability is not
    // compared — Spark's parquet scans surface everything nullable,
    // so a rewrite of a required column would otherwise self-reject
    def erased(s: StructType) = StructType(s.fields.map(f =>
      StructField(f.name, f.dataType, nullable = true)))
    prevMeta.foreach { m =>
      val prevSchema = schemaFromMetadata(m)
      require(erased(prevSchema) == erased(df.schema),
        s"schema mismatch: table has $prevSchema, commit has ${df.schema}")
      require(partitionSpecOf(m) == declaredSpec,
        s"partition spec mismatch: table has ${partitionSpecOf(m)}, " +
          s"commit declares $declaredSpec")
    }
    val tableSchema = prevMeta.map(schemaFromMetadata).getOrElse(df.schema)
    // STANDARD-SHAPE identity writes: once a table's live files carry
    // their partition columns physically (standard Iceberg — the
    // foreign-table shape, and what [[rewriteDataFilesFullSchema]]
    // produces to unlock identity spec evolution), every later
    // identity commit must keep that layout: mixing hive-stripped and
    // column-carrying generations would leave the two disagreeing on
    // which columns exist physically. Detected from the current
    // snapshot; `forceStandardShape` is the rewrite's own entry.
    val standardShape: Boolean = hiddenSpec.isEmpty &&
      partCols.nonEmpty && (forceStandardShape ||
        prevMeta.exists(m => scala.util.Try(
          firstDataFilePath(m).exists(p =>
            dataFilesCarryPartitionCols(p, partCols)))
          .getOrElse(false)))
    val snapshotId: Long = prevMeta.map(
      _.get("snapshots").elements().asScala
        .map(_.get("snapshot-id").asLong).maxOption.getOrElse(0L))
      .getOrElse(0L) + 1L
    // data files: plain write; hive-layout write (identity partCols —
    // partition columns stripped, tuple substitutes on read); or
    // HIDDEN-partition write — derived tuple columns computed per row
    // inside codegen, partitionBy strips exactly those derived
    // columns, so the data files keep the FULL table schema and the
    // transform values exist only in the value dirs, decoded ONCE
    // here into typed manifest tuples (files renamed to per-file
    // UUIDs — the PartitionedScan basename contract)
    val sub = s"data/part-${java.util.UUID.randomUUID}"
    val tupleNames = tupleFields.map(_._1)
    // the spec REQUIRES parquet field ids in data files — attach each
    // column's id (the metadata schema's, stable across renames) so
    // readers resolve by id, and any Iceberg client reads the files
    df.sparkSession.conf.set(
      "spark.sql.parquet.fieldId.write.enabled", "true")
    val writeIds: Map[String, Long] = df.schema.fieldNames.zipWithIndex
      .map { case (n, i) => n -> (i + 1L) }.toMap
    val dfIds = df.select(df.schema.fieldNames.toSeq.map(n =>
      col(n).as(n, new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", writeIds(n)).build())): _*)
    val parts: Seq[(File, Seq[(String, Any)])] =
      if (tupleFields.isEmpty) {
        dfIds.write.parquet(s"$tableDir/$sub")
        Option(new File(tableDir, sub).listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .sortBy(_.getName).toSeq.map(f => (f, Seq.empty[(String, Any)]))
      } else {
        // standard shape stages ALIAS columns so partitionBy strips
        // only the alias — the data files keep every real column,
        // while the value dirs still carry the tuple to decode
        val aliasOf: Map[String, String] =
          if (standardShape) partCols.map(c => c -> s"__pt_$c").toMap
          else Map.empty
        val staged =
          if (hiddenSpec.nonEmpty)
            hiddenSpec.foldLeft(dfIds) { case (d, (src, tr)) =>
              d.withColumn(IcebergTransforms.tupleName(tr, src),
                IcebergTransforms.transformCol(tr, src))
            }
          else if (standardShape)
            partCols.foldLeft(dfIds)((d, c) =>
              d.withColumn(aliasOf(c), col(c)))
          else dfIds
        val stageNames = tupleNames.map(n => aliasOf.getOrElse(n, n))
        staged.write.partitionBy(stageNames: _*)
          .parquet(s"$tableDir/$sub")
        def walk(f: File): Seq[File] =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty)
              .sortBy(_.getName).toSeq.flatMap(walk)
          else Seq(f)
        walk(new File(tableDir, sub))
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map { f0 =>
            val f = new File(f0.getParentFile,
              s"part-${java.util.UUID.randomUUID}.parquet")
            Files.move(f0.toPath, f.toPath)
            val rel = Paths.get(tableDir, sub).toAbsolutePath
              .relativize(f.toPath.toAbsolutePath).toString
            // prepend one dummy segment: hivePartitionValues expects
            // <stage>/<k=v dirs...>/<file>
            val pv = PartitionedScan.hivePartitionValues(
              s"stage/$rel", stageNames)
            (f, tupleFields.map { case (name, _, _, t) =>
              name -> typedPartitionValue(
                pv(aliasOf.getOrElse(name, name)), t) })
          }
      }
    // stats for every part file in ONE distributed footer job —
    // the driver collects O(files) rows, never opens footers itself
    val statsByPath = footerStatsBatch(df.sparkSession,
      parts.map(_._1.getPath))
    publishDataSnapshot(tableDir, df.schema, tupleFields, declaredSpec,
      parts, statsByPath, overwrite, toBranch, summaryExtra, abortIf,
      () => graft.util.Fs.deleteRecursively(new File(tableDir, sub)),
      v, prevMeta, snapshotId)
  }

  /** The VERSION-DEPENDENT publish phase shared by [[commit]] (files
    * just written from a DataFrame) and [[commitDsv2]] (files the
    * DSv2 executors wrote, stats tracked while writing): write the
    * new-files manifest once, then claim metadata versions until the
    * CAS lands, re-deriving base metadata / version / snapshot id
    * per attempt. `v0`/`prevMeta0`/`snapshotId0` are the caller's
    * first-attempt view; the loop re-validates schema + spec against
    * every racing winner. Returns the snapshot id (-1 when
    * `abortIf` fired — idempotent replays walk away after
    * `abortCleanup`). */
  private def publishDataSnapshot(tableDir: String,
      commitSchema: StructType,
      tupleFields: Seq[(String, String, String, DataType)],
      declaredSpec: Seq[SpecField],
      parts: Seq[(File, Seq[(String, Any)])],
      statsByPath: Map[String, (Long, Map[String, (Long, Long)])],
      overwrite: Boolean, toBranch: Option[String],
      summaryExtra: Map[String, String], abortIf: () => Boolean,
      abortCleanup: () => Unit,
      v0: Int, prevMeta0: Option[ObjectNode],
      snapshotId0: Long): Long = {
    def erased(s: StructType) = StructType(s.fields.map(f =>
      StructField(f.name, f.dataType, nullable = true)))
    val v = v0
    val prevMeta = prevMeta0
    val snapshotId = snapshotId0
    val tableSchema =
      prevMeta.map(schemaFromMetadata).getOrElse(commitSchema)
    // one new manifest for the added files — UUID-named so two RACING
    // committers never collide at a file write; only the metadata
    // hard-link CAS decides commit order (the same rule as Delta's
    // UUID data dirs). The manifest is version-independent (entries
    // carry no snapshot id), so a CAS retry reuses it as-is.
    val commitUuid = java.util.UUID.randomUUID
    val manifestPath =
      s"${metaDir(tableDir)}/snap-$commitUuid-m0.avro"
    val colIds = commitSchema.fields.zipWithIndex
      .map { case (f, i) => f.name -> (i + 1) }.toMap
    val entrySchema = manifestEntrySchemaFor(
      tupleFields.map { case (name, _, _, t) => name -> t })
    writeAvro(manifestPath, entrySchema,
      parts.map { case (f, pv) =>
        manifestEntry(f.getPath, 1, colIds, entrySchema, pv,
          statsByPath.get(f.getPath)) })
    // Everything VERSION-DEPENDENT lives inside one publish attempt:
    // losing the metadata CAS means a racing writer owns vN, so the
    // loser re-derives base metadata / version / snapshot id against
    // the NEW head and retries onto v(N+1) — an append is a blind add
    // (no semantic conflict possible), an overwrite recomputes what
    // it replaces. Each attempt writes its own manifest-list
    // (immutable once referenced); a loser's list file is an orphan,
    // exactly as Iceberg's own retries leave one.
    def publishAttempt(v: Int, prevMeta: Option[ObjectNode],
                       snapshotId: Long): Boolean = {
      // manifest list: append keeps the prior snapshot's manifests (its
      // files stay EXISTING); overwrite references only the new one
      // carried-forward manifests KEEP their original added_snapshot_id
      // (incremental readers diff snapshots by exactly that field) and
      // their content (an append after a v2 delete keeps the delete
      // manifests in force)
      val prevManifests: Seq[(String, Long, Int, Any, Int)] =
        if (overwrite || prevMeta.isEmpty) Seq.empty
        else {
          // an append's PARENT is the branch head when committing to a
          // branch (WAP staging), otherwise the main current snapshot
          val baseId = toBranch match {
            case Some(b)
                if prevMeta.get.has("refs") &&
                  prevMeta.get.get("refs").has(b) =>
              prevMeta.get.get("refs").get(b).get("snapshot-id").asLong
            case _ => prevMeta.get.get("current-snapshot-id").asLong
          }
          val curSnap = prevMeta.get.get("snapshots").elements().asScala
            .find(_.get("snapshot-id").asLong == baseId).get
          readAvro(curSnap.get("manifest-list").asText)
            .map(r => (r.get("manifest_path").toString,
              r.get("manifest_length").asInstanceOf[Long],
              fieldOpt(r, "content").map(_.asInstanceOf[Int]).getOrElse(0),
              r.get("added_snapshot_id"),
              // carried manifests KEEP the spec they were written
              // under — rewriting it to the current default would
              // make their tuples prune under the wrong transforms
              fieldOpt(r, "partition_spec_id")
                .map(_.asInstanceOf[Int]).getOrElse(0)))
        }
      val fv = prevMeta.map(_.get("format-version").asInt).getOrElse(1)
      val listPath =
        s"${metaDir(tableDir)}/snap-$snapshotId-$commitUuid-v$v-manifest-list.avro"
      // the NEW manifest was written under the table's current
      // DEFAULT spec (the commit validated declaredSpec against it)
      val defaultSpecId = prevMeta
        .filter(_.has("default-spec-id"))
        .map(_.get("default-spec-id").asInt).getOrElse(0)
      val listRecords = (prevManifests :+
        (manifestPath, new File(manifestPath).length(), 0,
          snapshotId: Any, defaultSpecId)).map {
          case (p, len, content, addedBy, specId) =>
            val listSchema =
              if (fv == 2) manifestFileSchemaV2 else manifestFileSchema
            val r = new GenericData.Record(listSchema)
            r.put("manifest_path", p)
            r.put("manifest_length", len)
            r.put("partition_spec_id", specId)
            if (fv == 2) r.put("content", content)
            else require(content == 0,
              "delete manifest carried into a v1 list — table corrupt")
            r.put("added_snapshot_id", addedBy)
            r
        }
      writeAvro(listPath,
        if (fv == 2) manifestFileSchemaV2 else manifestFileSchema,
        listRecords)
      // new metadata json: full snapshot history + the new snapshot
      val meta = mapper.createObjectNode()
      meta.put("format-version", fv)
      meta.put("table-uuid", java.util.UUID.nameUUIDFromBytes(
        tableDir.getBytes("UTF-8")).toString)
      meta.put("location", tableDir)
      meta.put("last-updated-ms", 0L)
      meta.put("last-column-id", commitSchema.fields.length)
      // carry the table's schema NODES verbatim once they exist — a
      // regenerated node would reset schema-id and drop the `schemas`
      // history an evolution recorded
      prevMeta match {
        case Some(m) =>
          meta.set[com.fasterxml.jackson.databind.JsonNode](
            "schema", m.get("schema"))
          if (m.has("schemas"))
            meta.set[com.fasterxml.jackson.databind.JsonNode](
              "schemas", m.get("schemas"))
          if (m.has("current-schema-id"))
            meta.put("current-schema-id", m.get("current-schema-id").asInt)
        case None =>
          meta.set[ObjectNode]("schema", schemaToJson(tableSchema))
      }
      // partition-specs carry VERBATIM once they exist (the schema
      // rule): a table evolved to a multi-spec history must keep
      // every spec its manifests reference — regenerating a
      // single-spec list here would orphan the old generations'
      // spec ids. Creation writes spec 0 from the declared fields.
      prevMeta match {
        case Some(m) if m.has("partition-specs") =>
          meta.set[com.fasterxml.jackson.databind.JsonNode](
            "partition-specs", m.get("partition-specs"))
          meta.put("default-spec-id",
            if (m.has("default-spec-id")) m.get("default-spec-id").asInt
            else 0)
          if (m.has("last-partition-id"))
            meta.put("last-partition-id",
              m.get("last-partition-id").asInt)
        case _ =>
          val specs = meta.putArray("partition-specs")
          val specFields =
            specs.addObject().put("spec-id", 0).putArray("fields")
          tupleFields.zipWithIndex.foreach {
            case ((name, tr, src, _), i) =>
              specFields.addObject()
                .put("name", name).put("transform", tr)
                .put("source-id", colIds(src)).put("field-id", 1000 + i)
          }
          meta.put("default-spec-id", 0)
      }
      // properties carry across commits (table state, not snapshot
      // state) — dropping them would e.g. lose a migrated table's
      // name-mapping and break every later read of its id-less files
      val props = meta.putObject("properties")
      prevMeta.filter(_.has("properties")).foreach(
        _.get("properties").properties().asScala.foreach(e =>
          props.set[com.fasterxml.jackson.databind.JsonNode](
            e.getKey, e.getValue)))
      // refs carry across commits (they are table state, not snapshot
      // state); a BRANCH commit advances its ref and leaves main's
      // current-snapshot-id untouched — the write-audit-publish shape
      val refs = meta.putObject("refs")
      prevMeta.filter(_.has("refs")).foreach(
        _.get("refs").properties().asScala.foreach(e =>
          refs.set[com.fasterxml.jackson.databind.JsonNode](
            e.getKey, e.getValue)))
      val prevCurrent: Option[Long] =
        prevMeta.map(_.get("current-snapshot-id").asLong)
      // the spec's parent-snapshot-id — a branch commit's parent is
      // the branch head BEFORE this commit (WAP lineage), a main
      // commit's the prior current snapshot; ancestry walks (the
      // streaming planner, real clients' incremental scans) depend on
      // this chain to tell published history from staged branches
      val parentId: Option[Long] = toBranch match {
        case Some(b)
            if prevMeta.exists(m => m.has("refs") &&
              m.get("refs").has(b)) =>
          Some(prevMeta.get.get("refs").get(b)
            .get("snapshot-id").asLong)
        case _ => prevCurrent
      }
      val newCurrent: Long = toBranch match {
        case Some(b) =>
          refs.putObject(b)
            .put("snapshot-id", snapshotId).put("type", "branch")
          prevCurrent.getOrElse(snapshotId)
        case None => snapshotId
      }
      meta.put("current-snapshot-id", newCurrent)
      val snaps: ArrayNode = meta.putArray("snapshots")
      prevMeta.foreach(_.get("snapshots").elements().asScala
        .foreach(s => snaps.add(s)))
      val snapTs = nextSnapshotTs(prevMeta)
      val sn = snaps.addObject()
      sn.put("snapshot-id", snapshotId)
      parentId.foreach(sn.put("parent-snapshot-id", _))
      sn.put("timestamp-ms", snapTs)
      val summary = sn.putObject("summary")
      summary.put("operation", if (overwrite) "overwrite" else "append")
      summaryExtra.foreach { case (k, value) => summary.put(k, value) }
      sn.put("manifest-list", listPath)
      // the spec's history logs — real clients resolve FOR TIMESTAMP AS
      // OF through snapshot-log and locate prior metadata through
      // metadata-log; carrying them keeps tables fully interop-readable
      val snapLog = meta.putArray("snapshot-log")
      prevMeta.filter(_.has("snapshot-log")).foreach(
        _.get("snapshot-log").elements().asScala.foreach(snapLog.add))
      // snapshot-log records CURRENT-snapshot-id transitions, not
      // snapshot creation: external clients resolve FOR TIMESTAMP AS OF
      // through it, so a branch commit (current unchanged) must NOT
      // append — an entry here would let a reader resolve to an
      // unpublished WAP-staged snapshot inside the audit window;
      // [[rollbackTo]]/[[fastForward]] append their transitions instead
      if (!prevCurrent.contains(newCurrent))
        snapLog.addObject()
          .put("timestamp-ms", snapTs).put("snapshot-id", newCurrent)
      val metaLog = meta.putArray("metadata-log")
      prevMeta.filter(_.has("metadata-log")).foreach(
        _.get("metadata-log").elements().asScala.foreach(metaLog.add))
      prevMeta.foreach { _ =>
        metaLog.addObject()
          .put("timestamp-ms", snapTs)
          .put("metadata-file",
            s"${metaDir(tableDir)}/v${v - 1}.metadata.json")
      }
      publishMetadataVersion(tableDir, v, meta)
    }
    var curV = v
    var curPrev = prevMeta
    var curSnapshot = snapshotId
    var retries = 0
    while (!publishAttempt(curV, curPrev, curSnapshot)) {
      retries += 1
      // an idempotent streaming append re-checks its epoch here:
      // losing the CAS may mean a racing instance of the SAME app
      // just recorded this very epoch — the loser removes its orphan
      // data files and manifest and walks away
      if (abortIf()) {
        commitCasRetries.addAndGet(retries)
        abortCleanup()
        new File(manifestPath).delete(): Unit
        return -1L
      }
      // lost the CAS: a racing writer committed vN first. The loop
      // makes progress by construction — every loss means a new
      // committed version exists — and the winner must not have
      // changed what this commit assumed (same schema, same spec:
      // the contract a first attempt validates up front).
      val vs2 = versions(tableDir)
      curV = vs2.last + 1
      val p = loadMetadata(tableDir, vs2.last)
      val prevSchema = schemaFromMetadata(p)
      require(erased(prevSchema) == erased(commitSchema),
        s"schema changed under a racing commit: table has " +
          s"$prevSchema, commit has ${commitSchema}")
      require(partitionSpecOf(p) == declaredSpec,
        "partition spec changed under a racing commit: table has " +
          s"${partitionSpecOf(p)}, commit declares $declaredSpec")
      curPrev = Some(p)
      curSnapshot = p.get("snapshots").elements().asScala
        .map(_.get("snapshot-id").asLong).maxOption.getOrElse(0L) + 1L
    }
    if (retries > 0) commitCasRetries.addAndGet(retries)
    curSnapshot
  }


  /** CAS losses retried by [[commit]] since session start — the
    * race-spec seam proving the loser actually lost and recovered
    * (N racing appenders ⇒ at least N-1 retries). Atomic because the
    * race specs bump it from N concurrent committer threads. */
  private[graft] val commitCasRetries =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Test seam: invoked with (tableDir, claimedVersion) at the top
    * of [[publishMetadataVersion]] — between EVERY metadata
    * publisher's assembly and its hard-link CAS, the exact window a
    * racing writer exploits. The race specs install a hook that
    * plants a competing commit here, making loser behavior
    * DETERMINISTIC: [[commit]] retries onto the next version,
    * version-PINNED ops ([[publishPinned]] callers) refuse loudly.
    * No-op in production. */
  @volatile private[graft] var commitClaimHook: (String, Int) => Unit =
    (_, _) => ()

  /** Snapshot id + SEQUENCE NUMBER for a new commit on `meta`'s
    * current state. This engine's own tables mint ids max+1, making
    * id and sequence coincide — the historical convention every
    * reader here supports via the added_snapshot_id fallback. On a
    * FOREIGN table whose random 64-bit snapshot ids approach
    * overflow, max+1 could wrap (negative id, and a wrapped value
    * used as a sequence would mis-scope later equality deletes) —
    * so past 2^62 the id is minted RANDOM with a collision check,
    * exactly as real clients do, and the sequence derives from the
    * metadata's `last-sequence-number` + 1, written EXPLICITLY on
    * the new manifest-list rows so sequence scoping never rides the
    * id (cf. ADVICE r16). */
  private def newSnapshotIdAndSeq(meta: ObjectNode): (Long, Long) = {
    val ids = meta.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong).toSet
    val maxId = ids.maxOption.getOrElse(0L)
    val lastSeq =
      if (meta.has("last-sequence-number"))
        meta.get("last-sequence-number").asLong
      else maxId // legacy v1 metadata: ids ARE the sequence here
    if (maxId < (1L << 62)) {
      val id = maxId + 1
      (id, math.max(lastSeq, maxId) + 1)
    } else {
      var id = 0L
      do id = java.util.concurrent.ThreadLocalRandom.current()
        .nextLong(1L, Long.MaxValue)
      while (ids.contains(id))
      (id, lastSeq + 1)
    }
  }

  /** Wall-clock timestamp for a new snapshot, forced past every
    * recorded one — same-millisecond commits (and clock skew) would
    * otherwise make `timestamp-ms` useless as the time-travel search
    * key. */
  private def nextSnapshotTs(prevMeta: Option[ObjectNode]): Long = {
    val prevMax = prevMeta.map(
      _.get("snapshots").elements().asScala
        .map(_.get("timestamp-ms").asLong).maxOption.getOrElse(0L))
      .getOrElse(0L)
    math.max(prevMax + 1, System.currentTimeMillis())
  }

  /** Publish metadata version `v`: tmp + put-if-absent CAS through
    * [[LogStore.current]], like the Delta commit (metadata files are
    * immutable — the CLAIM is the commit point; losing it means
    * another writer owns vN and this attempt changed nothing).
    * Returns whether the CAS won; only a WIN moves the advisory
    * version-hint, and [[currentVersion]] takes max(hint, disk) so a
    * crash inside the hint window (or a loser's stale hint) can
    * never hide a committed version. */
  private def publishMetadataVersion(tableDir: String, v: Int,
                                     meta: ObjectNode): Boolean = {
    commitClaimHook(tableDir, v)
    val tmp = Files.createTempFile(
      Paths.get(metaDir(tableDir)), s".v$v-", ".json.tmp")
    val bytes =
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta)
        .getBytes("UTF-8")
    Files.write(tmp, bytes)
    val target = Paths.get(metaDir(tableDir), s"v$v.metadata.json")
    val won = LogStore.current.claimVersion(target, tmp) || {
      // lost-response self-recognition (see DeltaLog.writeActions):
      // the attempted metadata carries this attempt's snapshot
      // uuid/timestamps, so byte equality proves the claim that
      // "failed" was OURS landing without a response
      scala.util.Try(Files.readAllBytes(target)).toOption
        .exists(java.util.Arrays.equals(_, bytes))
    }
    if (won)
      LogStore.current.putPointer(
        Paths.get(metaDir(tableDir), "version-hint.text"),
        v.toString.getBytes("UTF-8"))
    won
  }

  /** [[publishMetadataVersion]] for VERSION-PINNED metadata ops
    * (rollback, refs, schema evolution, row-level deletes): these
    * computed their next state against a specific base, so a lost
    * CAS cannot be blindly retried — fail loudly and let the caller
    * recompute against the new head. Only [[commit]] retries,
    * because an append/overwrite re-derives cleanly. */
  private def publishPinned(tableDir: String, v: Int,
                            meta: ObjectNode, op: String): Unit =
    require(publishMetadataVersion(tableDir, v, meta),
      s"concurrent writer claimed metadata v$v during $op — " +
        "recompute against the new table state and retry")

  /** Current snapshot's live files for a cross-format export:
    * (schema, partition columns, file → stringified partition
    * tuple). Refuses a MoR state — position deletes have no
    * target-format spelling; [[rewriteDataFiles]] first. */
  private[sources] def currentFilesForExport(tableDir: String)
      : (StructType, Seq[String], Seq[(String, Map[String, String])]) = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    val p = planFilesAll(tableDir, meta,
      meta.get("current-snapshot-id").asLong)
    require(p.deleteFiles.isEmpty && p.eqDeletes.isEmpty,
      "table carries deletes — rewriteDataFiles before export")
    (schemaFromMetadata(meta), partitionColsOf(meta),
      p.data.map(f => (stripFileUri(f.path), f.partition)))
  }

  /** MIGRATION (Iceberg's `add_files` / in-place import): create a
    * NEW Iceberg table whose first snapshot registers EXISTING
    * parquet files by absolute path — pure metadata, no data copied
    * or moved; manifest bounds and record counts come from one
    * driver-side footer open per file. Partitioned sources pass each
    * file's partition values (typed into the identity tuple from the
    * schema's column types). The target must be fresh: a migration
    * lands in a new table location. Returns the snapshot id (1). */
  def registerFiles(tableDir: String, schema: StructType,
                    partCols: Seq[String],
                    files: Seq[(String, Map[String, String])]): Long = {
    require(versions(tableDir).isEmpty,
      s"registerFiles target $tableDir already has metadata — " +
        "migrations land in a fresh location")
    require(files.nonEmpty, "nothing to register")
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c not in schema"))
    Files.createDirectories(Paths.get(metaDir(tableDir)))
    val snapshotId = 1L
    val colIds = schema.fields.zipWithIndex
      .map { case (f, i) => f.name -> (i + 1) }.toMap
    val partFields = partCols.map(c => c -> schema(c).dataType)
    val entrySchema = manifestEntrySchemaFor(partFields)
    val manifestPath = s"${metaDir(tableDir)}/snap-$snapshotId-m0.avro"
    writeAvro(manifestPath, entrySchema, files.sortBy(_._1).map {
      case (p, pv) =>
        manifestEntry(p, 1, colIds, entrySchema,
          partCols.map(c => c ->
            typedPartitionValue(pv.getOrElse(c, null), schema(c).dataType)))
    })
    val listPath =
      s"${metaDir(tableDir)}/snap-$snapshotId-manifest-list.avro"
    val lr = new GenericData.Record(manifestFileSchema)
    lr.put("manifest_path", manifestPath)
    lr.put("manifest_length", new File(manifestPath).length())
    lr.put("partition_spec_id", 0)
    lr.put("added_snapshot_id", snapshotId)
    writeAvro(listPath, manifestFileSchema, Seq(lr))
    val meta = mapper.createObjectNode()
    meta.put("format-version", 1)
    meta.put("table-uuid", java.util.UUID.nameUUIDFromBytes(
      tableDir.getBytes("UTF-8")).toString)
    meta.put("location", tableDir)
    meta.put("last-updated-ms", 0L)
    meta.put("last-column-id", schema.fields.length)
    meta.set[ObjectNode]("schema", schemaToJson(schema))
    val specs = meta.putArray("partition-specs")
    val specFields = specs.addObject().put("spec-id", 0).putArray("fields")
    partCols.zipWithIndex.foreach { case (c, i) =>
      specFields.addObject()
        .put("name", c).put("transform", "identity")
        .put("source-id", colIds(c)).put("field-id", 1000 + i)
    }
    meta.put("default-spec-id", 0)
    // the registered files carry NO parquet field ids — record the
    // spec's name mapping so readers (ours and real clients) resolve
    // them by name; this also pins [[renameColumn]] to refuse here
    val nm = mapper.createArrayNode()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val e = nm.addObject()
      e.put("field-id", i + 1)
      e.putArray("names").add(f.name)
    }
    meta.putObject("properties").put("schema.name-mapping.default",
      mapper.writeValueAsString(nm))
    meta.put("current-snapshot-id", snapshotId)
    val sn = meta.putArray("snapshots").addObject()
    sn.put("snapshot-id", snapshotId)
    sn.put("timestamp-ms", System.currentTimeMillis())
    sn.putObject("summary").put("operation", "append")
    sn.put("manifest-list", listPath)
    publishPinned(tableDir, 1, meta, "registerFiles")
    snapshotId
  }

  /** Commit `df` as a new snapshot REPLACING the table contents
    * (overwrite: the new manifest list references only the new
    * manifest). Returns the snapshot id. */
  def commitOverwrite(df: DataFrame, tableDir: String): Long =
    commit(df, tableDir, overwrite = true)

  /** Commit `df` as a new snapshot APPENDING to the table (the new
    * manifest list carries the previous snapshot's manifests plus one
    * new manifest). Returns the snapshot id. */
  def commitAppend(df: DataFrame, tableDir: String): Long =
    commit(df, tableDir, overwrite = false)

  /** Latest streaming epoch recorded for `appId` in the MAIN-branch
    * snapshot summaries — Iceberg's own streaming-sink exactly-once
    * rule: the sink stamps its app id + epoch id into each commit's
    * snapshot summary and skips epochs already recorded. O(snapshots)
    * driver-side metadata. None = appId never committed. */
  def latestStreamingEpoch(tableDir: String,
                           appId: String): Option[Long] =
    if (versions(tableDir).isEmpty) None
    else loadMetadata(tableDir, currentVersion(tableDir))
      .get("snapshots").elements().asScala
      .flatMap { s =>
        val su = s.get("summary")
        if (su != null && !su.isNull &&
            su.has("streaming-app-id") &&
            su.get("streaming-app-id").asText == appId &&
            su.has("streaming-epoch-id"))
          Some(su.get("streaming-epoch-id").asText.toLong)
        else None
      }.maxOption

  /** IDEMPOTENT STREAMING APPEND — the [[DeltaLog
    * .commitAppendIdempotent]] twin on this format's machinery: the
    * snapshot summary carries (streaming-app-id, streaming-epoch-id),
    * a redelivered (appId, epoch) — a restarted micro-batch, a
    * retried job — is detected and SKIPPED both up front and again
    * inside the publish CAS loop (a racing instance of the same app
    * that wins first is seen on the loser's retry; the loser deletes
    * its orphan data files and manifest and walks away). Returns
    * Some(snapshotId) when this call committed, None when the epoch
    * was already recorded. */
  def commitAppendIdempotent(df: DataFrame, tableDir: String,
                             appId: String,
                             epochId: Long): Option[Long] = {
    def recorded: Boolean =
      latestStreamingEpoch(tableDir, appId).exists(_ >= epochId)
    if (recorded) return None
    val sid = commit(df, tableDir, overwrite = false,
      summaryExtra = Map(
        "streaming-app-id" -> appId,
        "streaming-epoch-id" -> epochId.toString),
      abortIf = () => recorded)
    if (sid < 0) None else Some(sid)
  }

  /** [[commitOverwrite]] for an IDENTITY-PARTITIONED table: the
    * metadata carries a partition spec (`transform: identity`,
    * source-id-resolved), each data file's manifest entry carries its
    * typed partition tuple, and readers prune on the tuple via
    * [[readWhere]]. Data files land hive-style with the partition
    * columns stripped (the migrated-table shape the spec supports —
    * the identity tuple substitutes on read); appends to the table
    * must declare the same spec. */
  def commitOverwritePartitioned(df: DataFrame, tableDir: String,
                                 partCols: Seq[String]): Long = {
    require(partCols.nonEmpty, "partitioned commit needs partition columns")
    commit(df, tableDir, overwrite = true, partCols)
  }

  /** [[commitAppend]] for an IDENTITY-PARTITIONED table — appends
    * must declare the table's exact spec (validated against the
    * metadata), and each new file's manifest entry carries its
    * partition tuple. */
  def commitAppendPartitioned(df: DataFrame, tableDir: String,
                              partCols: Seq[String]): Long = {
    require(partCols.nonEmpty, "partitioned commit needs partition columns")
    commit(df, tableDir, overwrite = false, partCols)
  }

  /** Session-cached identity-partitioned APPEND table (q197): two
    * partitioned appends (even/odd keys), so the stream has a real
    * multi-snapshot history AND stripped partition columns to
    * reconstruct. */
  private[graft] def ordersIcebergPartAppendTable(
      spark: SparkSession, dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergpartapp") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitAppendPartitioned(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t,
        Seq("o_orderstatus"))
      commitAppendPartitioned(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1), t,
        Seq("o_orderstatus"))
    }

  /** [[commitOverwrite]] with HIDDEN partitioning — Iceberg's defining
    * layout feature: `spec` maps source columns to derived transforms
    * (`bucket[n]`, `truncate[w]`, `day`/`month`/`year`), the rows are
    * physically clustered by the DERIVED values, and the data files
    * keep the FULL table schema — the transform value exists only in
    * the manifest partition tuple, named by Iceberg's convention
    * (`<col>_bucket`, `<col>_month`, ...). Readers keep filtering on
    * the raw column; [[readWhere]] prunes by applying the same
    * transform ([[graft.functions.IcebergTransforms]] — one shared
    * implementation, write and prune can never disagree) to the
    * predicate value. At 100 TB this is bucket-join/point-lookup
    * pruning without any derived column leaking into queries. */
  def commitOverwriteHidden(df: DataFrame, tableDir: String,
                            spec: Seq[(String, String)]): Long = {
    require(spec.nonEmpty, "hidden commit needs a transform spec")
    commit(df, tableDir, overwrite = true, hiddenSpec = spec)
  }

  /** [[commitAppend]] onto a hidden-partitioned table (same declared
    * spec required — the append inherits the table's clustering). */
  def commitAppendHidden(df: DataFrame, tableDir: String,
                         spec: Seq[(String, String)]): Long = {
    require(spec.nonEmpty, "hidden commit needs a transform spec")
    commit(df, tableDir, overwrite = false, hiddenSpec = spec)
  }

  /** Commit files a DSv2 WRITER already landed (the Iceberg half of
    * `df.write.format("graft-iceberg")` / the SQL catalog's native
    * INSERT): the executors wrote the parquet files — partition
    * columns projected out hive-style, parquet field ids attached,
    * numRecords + long bounds tracked while writing — and this
    * publishes the manifest + metadata through the SAME
    * [[publishDataSnapshot]] claim loop as every DataFrame commit.
    * No footer pass: the writer-tracked stats become the manifest's
    * record_count/value bounds directly. `hiddenSpec` writes land
    * under a DERIVED-transform spec: the executor writers keyed the
    * files on the transform tuple ([[graft.streaming]]'s writer
    * derives it with the same [[graft.functions.IcebergTransforms]]
    * scalars the pruner applies) and the manifest records the typed
    * tuple under the spec's `<col>_bucket`-style names. Creates the
    * table (spec 0, schema from the write) when no metadata
    * exists. */
  private[graft] def commitDsv2(tableDir: String,
      logicalSchema: StructType, partCols: Seq[String],
      files: Seq[DeltaLog.Dsv2File], overwrite: Boolean,
      hiddenSpec: Seq[(String, String)] = Seq.empty): Long =
    commitDsv2(tableDir, logicalSchema, partCols, files, overwrite,
      summaryExtra = Map.empty, abortIf = () => false,
      hiddenSpec = hiddenSpec)

  /** [[commitDsv2]] with the EXACTLY-ONCE epoch watermark — the
    * native DSv2 STREAMING sink's commit: the snapshot summary
    * carries (streaming-app-id, streaming-epoch-id) exactly as
    * [[commitAppendIdempotent]] records them, a redelivered epoch is
    * skipped up front and again inside the publish CAS loop (the
    * loser deletes its orphan files and walks away). Returns
    * Some(snapshotId) when this call committed. */
  private[graft] def commitDsv2Idempotent(tableDir: String,
      logicalSchema: StructType, partCols: Seq[String],
      files: Seq[DeltaLog.Dsv2File], appId: String, epochId: Long,
      hiddenSpec: Seq[(String, String)] = Seq.empty): Option[Long] = {
    def recorded: Boolean =
      latestStreamingEpoch(tableDir, appId).exists(_ >= epochId)
    def dropFiles(): Unit = files.foreach(f =>
      Files.deleteIfExists(Paths.get(s"$tableDir/${f.relPath}")): Unit)
    if (recorded) {
      dropFiles()
      return None
    }
    val sid = commitDsv2(tableDir, logicalSchema, partCols, files,
      overwrite = false,
      summaryExtra = Map(
        "streaming-app-id" -> appId,
        "streaming-epoch-id" -> epochId.toString),
      abortIf = () => recorded, hiddenSpec = hiddenSpec)
    if (sid < 0) { dropFiles(); None } else Some(sid)
  }

  private def commitDsv2(tableDir: String,
      logicalSchema: StructType, partCols: Seq[String],
      files: Seq[DeltaLog.Dsv2File], overwrite: Boolean,
      summaryExtra: Map[String, String],
      abortIf: () => Boolean,
      hiddenSpec: Seq[(String, String)]): Long = {
    import graft.functions.IcebergTransforms
    def erased(s: StructType) = StructType(s.fields.map(f =>
      StructField(f.name, f.dataType, nullable = true)))
    require(partCols.isEmpty || hiddenSpec.isEmpty,
      "a DSv2 commit declares identity partCols or a hidden spec, " +
        "not both")
    val tupleFields: Seq[(String, String, String, DataType)] =
      if (hiddenSpec.nonEmpty)
        hiddenSpec.map { case (src, tr) =>
          (IcebergTransforms.tupleName(tr, src), tr, src,
            IcebergTransforms.tupleType(tr, logicalSchema(src).dataType))
        }
      else partCols.map(c =>
        (c, "identity", c, logicalSchema(c).dataType))
    val declaredSpec = tupleFields.map {
      case (name, tr, src, _) => SpecField(name, tr, src) }
    Files.createDirectories(Paths.get(metaDir(tableDir)))
    val vs = versions(tableDir)
    val v = if (vs.isEmpty) 1 else vs.last + 1
    val prevMeta =
      if (vs.isEmpty) None else Some(loadMetadata(tableDir, vs.last))
    prevMeta.foreach { m =>
      val prevSchema = schemaFromMetadata(m)
      require(erased(prevSchema) == erased(logicalSchema),
        s"schema mismatch: table has $prevSchema, DSv2 commit has " +
          s"$logicalSchema")
      require(partitionSpecOf(m) == declaredSpec,
        s"partition spec mismatch: table has ${partitionSpecOf(m)}, " +
          s"DSv2 commit declares $declaredSpec")
    }
    val snapshotId: Long = prevMeta.map(
      _.get("snapshots").elements().asScala
        .map(_.get("snapshot-id").asLong).maxOption.getOrElse(0L))
      .getOrElse(0L) + 1L
    val parts: Seq[(File, Seq[(String, Any)])] =
      files.sortBy(_.relPath).map { f =>
        (new File(s"$tableDir/${f.relPath}"),
          tupleFields.map { case (name, _, _, t) =>
            name -> typedPartitionValue(
              f.partitionValues.getOrElse(name, null), t)
          })
      }
    // manifest value bounds stay long/int-typed: the writer tracks
    // decimal bounds as UNSCALED longs, but this engine's manifest
    // bound encoding is the 8-byte long form — recording a decimal
    // there would hand foreign readers spec-shaped bytes with the
    // wrong meaning, so decimal columns are omitted (superset)
    val integral: Set[String] = logicalSchema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType => f.name
    }.toSet
    val statsByPath: Map[String, (Long, Map[String, (Long, Long)])] =
      files.map(f =>
        s"$tableDir/${f.relPath}" ->
          (f.numRecords,
            f.bounds.filter(b => integral.contains(b._1)))).toMap
    publishDataSnapshot(tableDir, logicalSchema, tupleFields,
      declaredSpec, parts, statsByPath, overwrite, toBranch = None,
      summaryExtra, abortIf,
      abortCleanup = () => (), v, prevMeta, snapshotId)
  }

  /** Repoint every ABSOLUTE path a STAGED table's metadata recorded
    * — `location`, snapshot `manifest-list`s, `metadata-log`
    * entries, manifest-list `manifest_path`s and manifest
    * `data_file.file_path`s — from the staging directory to the
    * final one, BEFORE the rename publishes it (the atomic-CTAS
    * half the directory move alone cannot provide: the spec's
    * file-system tables store full paths). Freshly staged tables
    * carry no position-delete files, so parquet delete-file CONTENTS
    * (which also spell target paths) never need touching — the only
    * caller is the SQL catalog's staged CTAS/RTAS commit. */
  private[graft] def relocate(stagedDir: String, dest: String): Unit = {
    if (versions(stagedDir).isEmpty) return
    def fix(s: String): String =
      if (s.startsWith(stagedDir)) dest + s.substring(stagedDir.length)
      else s
    val md = new File(metaDir(stagedDir))
    Option(md.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".avro"))
      .sortBy(_.getName).foreach { f =>
        val recs = readAvro(f.getPath)
        if (recs.nonEmpty) {
          val schema = recs.head.getSchema
          val fixed = recs.map { r =>
            if (schema.getField("manifest_path") != null)
              r.put("manifest_path",
                fix(r.get("manifest_path").toString))
            else if (schema.getField("data_file") != null) {
              val dfr = r.get("data_file").asInstanceOf[GenericRecord]
              dfr.put("file_path", fix(dfr.get("file_path").toString))
            }
            r
          }
          val tmp = s"${f.getPath}.reloc"
          writeAvro(tmp, schema, fixed)
          Files.move(Paths.get(tmp), f.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
        }
      }
    // second pass: rewriting a manifest changed its byte length, and
    // manifest-LIST rows record manifest_length — spec-compliant
    // readers use it for ranged reads, so refresh it from the file's
    // actual post-rewrite size (the recorded path already points at
    // `dest`; the file still lives under the staging dir until the
    // publish)
    Option(md.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".avro"))
      .foreach { f =>
        val recs = readAvro(f.getPath)
        if (recs.nonEmpty &&
            recs.head.getSchema.getField("manifest_path") != null &&
            recs.head.getSchema.getField("manifest_length") != null) {
          val fixed = recs.map { r =>
            val p = r.get("manifest_path").toString
            val local =
              if (p.startsWith(dest)) stagedDir + p.substring(dest.length)
              else p
            val len = new File(local).length()
            if (len > 0L) r.put("manifest_length", len)
            r
          }
          val tmp = s"${f.getPath}.reloc"
          writeAvro(tmp, recs.head.getSchema, fixed)
          Files.move(Paths.get(tmp), f.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
        }
      }
    versions(stagedDir).foreach { v =>
      val p = Paths.get(s"${metaDir(stagedDir)}/v$v.metadata.json")
      val meta = mapper.readTree(Files.readAllBytes(p))
        .asInstanceOf[ObjectNode]
      meta.put("location", fix(meta.get("location").asText))
      meta.withArray[ArrayNode]("snapshots").elements().asScala
        .foreach { sn =>
          val s0 = sn.asInstanceOf[ObjectNode]
          s0.put("manifest-list",
            fix(s0.get("manifest-list").asText)): Unit
        }
      if (meta.has("metadata-log"))
        meta.withArray[ArrayNode]("metadata-log").elements().asScala
          .foreach { e =>
            val e0 = e.asInstanceOf[ObjectNode]
            e0.put("metadata-file",
              fix(e0.get("metadata-file").asText)): Unit
          }
      Files.write(p, mapper.writeValueAsString(meta)
        .getBytes("UTF-8")): Unit
    }
  }

  /** ONE live data file's path from the current snapshot — the
    * O(1-manifest) layout probe ([[dataFilesCarryPartitionCols]]'s
    * input; layouts never mix in a snapshot, so one file decides).
    * Reads the manifest LIST plus the first DATA manifest only —
    * never plans the snapshot; a per-commit probe must not add
    * O(files) driver work to every append on a 100 TB table. */
  private def firstDataFilePath(meta: com.fasterxml.jackson.databind.JsonNode): Option[String] = {
    val curId = meta.get("current-snapshot-id").asLong
    meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId)
      .flatMap { snap =>
        readAvro(snap.get("manifest-list").asText).iterator
          .filter(r => fieldOpt(r, "content")
            .map(_.asInstanceOf[Int]).getOrElse(0) == 0)
          .flatMap(r => readAvro(r.get("manifest_path").toString))
          .map(_.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString)
          .map(stripFileUri)
          .nextOption()
      }
  }

  /** Commit a COPY-ON-WRITE file replacement the SQL row-level ops
    * produced against this Iceberg table (the
    * [[DeltaLog.commitReplaceDsv2]] twin): publish one
    * operation=overwrite snapshot whose manifest list is the current
    * snapshot's manifests REWRITTEN to drop the replaced data files
    * (each filtered manifest keeps its original `added_snapshot_id`
    * and spec id — incremental readers' diff key) plus one new
    * manifest holding the rewritten files. Delete manifests carry
    * over untouched: position deletes against RETAINED files stay in
    * force, entries against replaced files dangle harmlessly (their
    * target path no longer plans).
    *
    * CONCURRENCY: a lost metadata CAS re-proves the winners disjoint
    * under [[requireIcebergWinnersDisjoint]]'s append-only
    * discipline — `valueRanges` is the op's own pushed-filter
    * footprint (empty = nothing provable = any winner-added file
    * conflicts) — then retries against the new head; the replaced
    * set is untouched by provably-disjoint appends by construction. */
  private[graft] def commitReplaceDsv2(tableDir: String,
      baseV: Int, removedPaths: Set[String],
      files: Seq[DeltaLog.Dsv2File],
      valueRanges: Map[String, (Long, Long)], op: String): Long = {
    val baseMeta = loadMetadata(tableDir, baseV)
    val baseCurId = baseMeta.get("current-snapshot-id").asLong
    val removed = removedPaths.map(stripFileUri)
    val schema = schemaFromMetadata(baseMeta)
    val colIds = schema.fields.zipWithIndex
      .map { case (f, i) => f.name -> (i + 1) }.toMap
    val tupleFields = partitionSpecOf(baseMeta).map(sf =>
      (sf.name, sf.transform, sf.sourceCol,
        schema(sf.sourceCol).dataType))
    require(tupleFields.forall(_._2 == "identity"),
      s"$op: copy-on-write rewrites only speak identity specs — " +
        s"table $tableDir's default spec is " +
        s"${partitionSpecOf(baseMeta)}")
    val entrySchema = manifestEntrySchemaFor(
      tupleFields.map { case (name, _, _, t) => name -> t })
    var meta = baseMeta
    var v = baseV
    var curId = baseCurId
    var minted0 = newSnapshotIdAndSeq(meta)
    var snapshotId = minted0._1
    var seqNum = minted0._2
    while (true) {
      // every avro this ATTEMPT mints — a lost CAS deletes them
      // before retrying (they reference a snapshot id that will be
      // re-minted; leaving them would orphan unreferenced metadata
      // no snapshot names and expire_snapshots cannot reclaim)
      val minted = scala.collection.mutable.Buffer.empty[String]
      // the new-files manifest (re-minted per attempt so its list
      // row's added_snapshot_id stays true)
      val newManifest =
        s"${metaDir(tableDir)}/snap-$snapshotId-${
          java.util.UUID.randomUUID}-m0.avro"
      minted += newManifest
      writeAvro(newManifest, entrySchema,
        files.sortBy(_.relPath).map { f =>
          manifestEntry(s"$tableDir/${f.relPath}", 1, colIds,
            entrySchema,
            tupleFields.map { case (name, _, _, t) =>
              name -> typedPartitionValue(
                f.partitionValues.getOrElse(name, null), t) },
            Some((f.numRecords, f.bounds)))
        })
      val curSnap = meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong == curId).get
      val fv = meta.get("format-version").asInt
      val listSchema =
        if (fv == 2) manifestFileSchemaV2 else manifestFileSchema
      // carried manifests: rewrite any that reference a replaced
      // data file (filtered copy, original added_snapshot_id kept);
      // drop manifests left empty; delete manifests pass through
      val carried = readAvro(curSnap.get("manifest-list").asText)
        .flatMap { r =>
          val content = fieldOpt(r, "content")
            .map(_.asInstanceOf[Int]).getOrElse(0)
          val path = r.get("manifest_path").toString
          val specId = fieldOpt(r, "partition_spec_id")
            .map(_.asInstanceOf[Int]).getOrElse(0)
          val addedBy = r.get("added_snapshot_id")
          // carried rows keep their recorded sequence (null = the
          // reader's added_snapshot_id fallback, exact on this
          // engine's own layouts)
          val seq: Any = fieldOpt(r, "sequence_number").orNull
          if (content != 0)
            Some((path, new File(path).length(), content, addedBy,
              specId, seq))
          else {
            val entries = readAvro(path)
            val kept = entries.filter { e =>
              val df0 = e.get("data_file")
                .asInstanceOf[GenericRecord]
              !removed.contains(
                stripFileUri(df0.get("file_path").toString))
            }
            if (kept.size == entries.size)
              Some((path, new File(path).length(), content, addedBy,
                specId, seq))
            else if (kept.isEmpty) None
            else {
              val filtered =
                s"${metaDir(tableDir)}/snap-$snapshotId-${
                  java.util.UUID.randomUUID}-rw.avro"
              writeAvro(filtered, entries.head.getSchema, kept)
              minted += filtered
              Some((filtered, new File(filtered).length(), content,
                addedBy, specId, seq))
            }
          }
        }
      val listPath =
        s"${metaDir(tableDir)}/snap-$snapshotId-${
          java.util.UUID.randomUUID}-manifest-list.avro"
      minted += listPath
      val defaultSpecId =
        if (meta.has("default-spec-id"))
          meta.get("default-spec-id").asInt else 0
      writeAvro(listPath, listSchema,
        (carried :+ (newManifest, new File(newManifest).length(), 0,
          snapshotId: Any, defaultSpecId, (seqNum: java.lang.Long): Any))
          .map {
          case (p, len, content, addedBy, specId, seq) =>
            val r = new GenericData.Record(listSchema)
            r.put("manifest_path", p)
            r.put("manifest_length", len)
            r.put("partition_spec_id", specId)
            if (fv == 2) r.put("content", content)
            if (fv == 2 && seq != null) r.put("sequence_number", seq)
            r.put("added_snapshot_id", addedBy)
            r
        })
      val next = meta.deepCopy[ObjectNode]()
      if (fv == 2) next.put("last-sequence-number", seqNum)
      next.put("current-snapshot-id", snapshotId)
      val sn = next.withArray[ArrayNode]("snapshots").addObject()
      sn.put("snapshot-id", snapshotId)
      sn.put("parent-snapshot-id", curId)
      if (fv == 2) sn.put("sequence-number", seqNum)
      val ts = nextSnapshotTs(Some(meta))
      sn.put("timestamp-ms", ts)
      sn.putObject("summary").put("operation", "overwrite")
      sn.put("manifest-list", listPath)
      next.withArray[ArrayNode]("snapshot-log").addObject()
        .put("timestamp-ms", ts).put("snapshot-id", snapshotId)
      if (publishMetadataVersion(tableDir, v + 1, next))
        return snapshotId
      commitCasRetries.incrementAndGet()
      // this attempt's manifests/list reference a snapshot id the
      // retry re-mints — delete them or they orphan (no snapshot
      // ever names them, expire_snapshots cannot reclaim them)
      minted.foreach(p => Files.deleteIfExists(Paths.get(p)): Unit)
      val headV = currentVersion(tableDir)
      val headMeta = loadMetadata(tableDir, headV)
      requireIcebergWinnersDisjoint(tableDir, meta, headMeta, curId,
        valueRanges, op)
      rowOpConflictRetries.incrementAndGet()
      meta = headMeta
      v = headV
      curId = headMeta.get("current-snapshot-id").asLong
      minted0 = newSnapshotIdAndSeq(headMeta)
      snapshotId = minted0._1
      seqNum = minted0._2
    }
    -1L // unreachable
  }

  /** INCREMENTAL APPEND SCAN — Iceberg's snapshot-diff read (the
    * [[DeltaLog.changesSince]] twin): rows of data files ADDED by
    * snapshots in (`fromSnapshotExclusive`, `toSnapshot`], each
    * tagged `_snapshot_id`. Planning is pure metadata: the `to`
    * snapshot's manifest-list names each manifest's
    * `added_snapshot_id`, so the diff is a filter over manifest rows
    * — never a data diff. Every snapshot in the range must be an
    * `append` (the spec's contract for incremental reads: an
    * overwrite in the range means removed rows the diff cannot
    * express — refused loudly, exactly as Iceberg's own incremental
    * scan refuses). Within a selected manifest only status=ADDED
    * entries count; EXISTING entries were carried forward from an
    * earlier snapshot and would double-read. */
  def readIncremental(spark: SparkSession, tableDir: String,
      fromSnapshotExclusive: Long, toSnapshot: Long): DataFrame = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    val snaps = meta.get("snapshots").elements().asScala.toSeq
    val inRange = snaps.filter { s =>
      val id = s.get("snapshot-id").asLong
      id > fromSnapshotExclusive && id <= toSnapshot
    }
    require(inRange.exists(_.get("snapshot-id").asLong == toSnapshot),
      s"snapshot $toSnapshot not in metadata after $fromSnapshotExclusive")
    inRange.foreach { s =>
      val op = Option(s.get("summary"))
        .flatMap(su => Option(su.get("operation"))).map(_.asText)
      require(op.contains("append"),
        s"snapshot ${s.get("snapshot-id").asLong} is ${op.getOrElse("?")} " +
          "— incremental read is defined only over appends")
    }
    val ids = inRange.map(_.get("snapshot-id").asLong).toSet
    val toSnap = snaps.find(_.get("snapshot-id").asLong == toSnapshot).get
    val manifests = readAvro(toSnap.get("manifest-list").asText)
      .flatMap { r =>
        fieldOpt(r, "added_snapshot_id")
          .map(_.asInstanceOf[Long])
          .filter(ids.contains)
          .map(sid => (r.get("manifest_path").toString, sid))
      }
    lastManifestsRead = manifests.size
    val schema = readSchemaFor(meta)
    val parts = manifests.map { case (m, sid) =>
      val files = readAvro(m).flatMap { e =>
        if (e.get("status").asInstanceOf[Int] != 1) None // ADDED only
        else Some(e.get("data_file").asInstanceOf[GenericRecord]
          .get("file_path").toString)
      }
      scanPlanned(spark, schema, files.map(p =>
          PlannedFile(p, Map.empty, Map.empty)))
        .withColumn("_snapshot_id", org.apache.spark.sql.functions.lit(sid))
    }
    parts.reduceOption(_ unionByName _).getOrElse {
      import org.apache.spark.sql.types.{LongType, StructField}
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(schema.fields :+
          StructField("_snapshot_id", LongType, nullable = false)))
    }
  }

  /** Files ADDED by append snapshots in (`fromExclusive`, `to`] —
    * the streaming-source batch planner
    * ([[graft.streaming.IcebergStreamSource]]): each append
    * snapshot's own manifest-list names its new manifest by
    * `added_snapshot_id`, and only status=ADDED entries count
    * (EXISTING are carried forward). A non-append snapshot in the
    * range cannot be expressed by an append stream — refused loudly
    * unless `skipOverwriteSnapshots` (Iceberg's own
    * streaming-skip-overwrite-snapshots) skips it whole. Pure
    * metadata; returns absolute paths, snapshot-ordered. */
  /** PUBLISHED history only: a WAP-staged branch snapshot or a
    * rolled-back snapshot is NOT reachable from the main head —
    * streaming it would leak unpublished audit-window rows. Walks
    * parent-snapshot-id ancestry from current-snapshot-id, exactly
    * Iceberg's own incremental-scan rule. (A snapshot staged behind
    * the committed offset high-water mark and published LATER is not
    * replayed — restart the query to pick it up; ids, the offsets,
    * are allocated at staging time.) */
  private def mainAncestry(meta: ObjectNode): Set[Long] =
    ancestryOf(meta, meta.get("current-snapshot-id").asLong)

  /** Snapshot ids reachable from `head` via parent-snapshot-id —
    * [[mainAncestry]] generalized so a stream can walk a BRANCH ref's
    * lineage (WAP auditors stream the staged branch pre-publish). */
  private def ancestryOf(meta: ObjectNode, head: Long): Set[Long] = {
    val snaps = meta.get("snapshots").elements().asScala.toSeq
    val byId = snaps.map(s => s.get("snapshot-id").asLong -> s).toMap
    val seen = scala.collection.mutable.Set.empty[Long]
    var terminal: Option[com.fasterxml.jackson.databind.JsonNode] = None
    var cur = byId.get(head)
    while (cur.isDefined) {
      val s = cur.get
      val id = s.get("snapshot-id").asLong
      if (!seen.add(id)) cur = None
      else {
        terminal = Some(s)
        cur = Option(s.get("parent-snapshot-id"))
          .filterNot(_.isNull).map(_.asLong).flatMap(byId.get)
      }
    }
    // LEGACY HISTORY: snapshots written before this writer recorded
    // parent-snapshot-id cannot be ancestry-walked. When the walk
    // terminates at a parent-LESS snapshot, every OLDER parent-less
    // snapshot is pre-upgrade linear main history (staged/rolled-back
    // snapshots always carry parent ids) — include them rather than
    // silently truncating the streaming backfill at the upgrade
    // boundary. A genuine creation snapshot is the oldest, so this
    // adds nothing on tables written entirely by the current code.
    //
    // GATED to tables whose ids this "older = smaller id" inference
    // is actually valid for: (a) every snapshot id must look
    // SEQUENTIAL (this writer allocates max+1 from 1; foreign
    // writers allocate random 64-bit ids, under which an unrelated
    // parent-less snapshot — an orphaned replace-table creation —
    // could draw a smaller id and be wrongly streamed as main
    // history), and (b) the candidate's timestamp-ms must not be
    // newer than the terminal's (a parent-less snapshot committed
    // AFTER the walk's oldest point is not its pre-history under any
    // id scheme).
    val idsLookSequential =
      snaps.forall(_.get("snapshot-id").asLong <= 1000000L)
    terminal
      .filter(_ => idsLookSequential)
      .filter(t => Option(t.get("parent-snapshot-id")).forall(_.isNull))
      .foreach { t =>
        val tid = t.get("snapshot-id").asLong
        val tts = Option(t.get("timestamp-ms")).filterNot(_.isNull)
          .map(_.asLong).getOrElse(Long.MaxValue)
        snaps.foreach { s =>
          val id = s.get("snapshot-id").asLong
          val ts = Option(s.get("timestamp-ms")).filterNot(_.isNull)
            .map(_.asLong).getOrElse(Long.MaxValue)
          if (id < tid && ts <= tts &&
              Option(s.get("parent-snapshot-id")).forall(_.isNull))
            seen.add(id): Unit
        }
      }
    seen.toSet
  }

  /** The CDF streaming planner's view of the published snapshots in
    * (`fromExclusive`, `to`]: (snapshot id, operation, added data
    * files, NEW position-delete parquet files, NEW equality-delete
    * parquet files). An `append` contributes its data files
    * (inserts); a `delete` snapshot contributes the delete files its
    * OWN delete manifests added:
    *
    *  - position deletes (content=1) hold exactly that snapshot's
    *    newly-deleted (file, pos) pairs ([[deleteWhere]] anti-joins
    *    prior deletes at write time) — the stream reads the named
    *    positions out of the data files, full delete rows;
    *  - EQUALITY deletes (content=2 — the Flink-CDC upsert wire, one
    *    per [[upsert]] checkpoint) hold the DISTINCT doomed KEY
    *    VALUES. The stream emits one `delete` row per key with the
    *    non-key columns NULL — value-matched CDC deletes, O(distinct
    *    keys) read AND output per snapshot, no data file touched
    *    (materializing the full pre-delete rows would re-scan every
    *    earlier-sequence data file per snapshot — O(table), the
    *    opposite of a CDC stream's cost shape). A MERGE /
    *    delete-by-key sink converges on exactly these rows.
    *
    * `overwrite` snapshots still refuse loudly — they replace files
    * wholesale with no row-level attribution; the batch table-diff
    * reads cover them. */
  /** One CDF-planned snapshot: appends carry their added data files;
    * delete snapshots carry their new position/equality delete files
    * plus `dataTuples` — every LIVE data file's identity partition
    * tuple at that snapshot (empty on unpartitioned tables), so the
    * pos-delete reader reconstructs partition columns for rows read
    * out of hive-stripped data files. A TRUE (non-creation)
    * `overwrite` snapshot decomposes into file-set diffs against its
    * parent: `removedFiles` stream their LIVE rows as deletes (rows
    * already masked by the parent's position deletes —
    * `removedMaskFiles` — stay silent) and `dataFiles` carries the
    * added side as inserts — the batch table-diff read's algebra,
    * now streamable, so a RESTORE or a dataChange compaction in the
    * history no longer kills a long-running CDF consumer. */
  private[graft] case class CdfSnapshot(id: Long, op: String,
      dataFiles: Seq[DeltaLog.StreamFile],
      posDeleteFiles: Seq[String], eqDeleteFiles: Seq[String],
      dataTuples: Map[String, Map[String, String]] = Map.empty,
      removedFiles: Seq[DeltaLog.StreamFile] = Seq.empty,
      removedMaskFiles: Seq[String] = Seq.empty)

  /** Every live data file's identity partition tuple at one
    * snapshot — one walk of its content=0 manifests (the metadata
    * class planning itself pays); empty map on unpartitioned
    * tables. The CDF stream threads these into pos-delete pre-image
    * reads over hive-stripped files. */
  private def snapshotDataTuples(
      s: com.fasterxml.jackson.databind.JsonNode,
      partitioned: Boolean): Map[String, Map[String, String]] =
    if (!partitioned) Map.empty
    else readAvro(s.get("manifest-list").asText)
      .filter(r => fieldOpt(r, "content")
        .map(_.asInstanceOf[Int]).getOrElse(0) == 0)
      .map(_.get("manifest_path").toString)
      .flatMap { m =>
        readAvro(m).flatMap { e =>
          if (e.get("status").asInstanceOf[Int] == 2) None
          else {
            val df =
              e.get("data_file").asInstanceOf[GenericRecord]
            val pv = fieldOpt(df, "partition") match {
              case Some(rec: GenericRecord) =>
                rec.getSchema.getFields.asScala.map { f =>
                  f.name -> (rec.get(f.name) match {
                    case null => null
                    case v => v.toString
                  })
                }.toMap
              case _ => Map.empty[String, String]
            }
            Some(stripFileUri(
              df.get("file_path").toString) -> pv)
          }
        }
      }.toMap

  /** The scheme-normalized `file_path` targets of one position-delete
    * parquet — driver-side Group read, O(delete-file rows), used by
    * the overwrite planner's un-delete guard. */
  private[graft] def posDeleteTargetPaths(
      deleteFile: String): Set[String] = {
    val dr = org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(),
      new org.apache.hadoop.fs.Path(deleteFile)).build()
    val out = scala.collection.mutable.Set.empty[String]
    try {
      var g = dr.read()
      while (g != null) {
        val ft = g.getType
        out += new String(g.getBinary(
          ft.getFieldIndex("file_path"), 0).getBytes, "UTF-8")
          .replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
        g = dr.read()
      }
    } finally dr.close()
    out.toSet
  }

  private[graft] def cdfPlanBySnapshot(tableDir: String,
      fromExclusive: Long, to: Long,
      skipOverwriteSnapshots: Boolean = false): Seq[CdfSnapshot] = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    val snaps = meta.get("snapshots").elements().asScala.toSeq
    val ancestry = mainAncestry(meta)
    val partitioned = partitionColsOf(meta).nonEmpty
    snaps
      .filter { s =>
        val id = s.get("snapshot-id").asLong
        id > fromExclusive && id <= to && ancestry.contains(id)
      }
      .sortBy(_.get("snapshot-id").asLong)
      .map { s =>
        val id = s.get("snapshot-id").asLong
        val rawOp = Option(s.get("summary"))
          .flatMap(su => Option(su.get("operation"))).map(_.asText)
          .getOrElse("?")
        // a CREATION overwrite (no parent snapshot) replaced nothing
        // — its files are pure inserts, exactly Delta's v0 rule
        val isCreation = Option(s.get("parent-snapshot-id"))
          .forall(_.isNull)
        val op =
          if (rawOp == "overwrite" && isCreation) "append" else rawOp
        op match {
          case "append" =>
            CdfSnapshot(id, op, addedDataFiles(s, id), Seq.empty,
              Seq.empty)
          case "delete" =>
            val entries = readAvro(s.get("manifest-list").asText)
              .filter(r => fieldOpt(r, "added_snapshot_id")
                .map(_.asInstanceOf[Long]).contains(id) &&
                fieldOpt(r, "content")
                  .map(_.asInstanceOf[Int]).contains(1))
              .map(_.get("manifest_path").toString)
              .flatMap { m =>
                readAvro(m).map { e =>
                  val df = e.get("data_file").asInstanceOf[GenericRecord]
                  val content = fieldOpt(df, "content")
                    .map(_.asInstanceOf[Int]).getOrElse(0)
                  require(content == 1 || content == 2,
                    s"snapshot $id of $tableDir: delete manifest " +
                      s"entry with content=$content is not a delete " +
                      "file — refusing an inconsistent manifest")
                  (content, stripFileUri(df.get("file_path").toString))
                }
              }
            // identity-partitioned tables: the delete rows read OUT
            // of hive-stripped data files need each file's manifest
            // partition tuple — one walk of the snapshot's DATA
            // manifests (same metadata class as planning itself)
            val tuples = snapshotDataTuples(s, partitioned)
            CdfSnapshot(id, op, Seq.empty,
              entries.collect { case (1, p) => p },
              entries.collect { case (2, p) => p }, tuples)
          case "overwrite" if skipOverwriteSnapshots =>
            // Iceberg's own streaming-skip-overwrite-snapshots: the
            // consumer opted out of file-replacement semantics
            CdfSnapshot(id, "overwrite", Seq.empty, Seq.empty,
              Seq.empty)
          case "overwrite" =>
            // TRUE overwrite: diff the live file sets against the
            // parent (pure metadata — two manifest walks). Removed
            // files stream their live rows as deletes, masked by the
            // PARENT's position deletes so already-dead rows stay
            // silent; added files stream as inserts. Equality
            // deletes in the parent state have no per-file targeting
            // to invert — that combination refuses to the batch
            // table-diff reads.
            val parentId = s.get("parent-snapshot-id").asLong
            val parent = planFilesAll(tableDir, meta, parentId)
            val cur = planFilesAll(tableDir, meta, id)
            def strip(p: String) = stripFileUri(p)
            // UN-DELETE guard: an overwrite/RESTORE that drops a
            // position-delete file while RETAINING its target data
            // file resurrects rows — and a resurrection has no CDF
            // spelling here (the Delta DV-shrink rule). The file-set
            // diff below sees identical data files and would stream
            // NOTHING, silently diverging a downstream MERGE silver.
            // Deletes dropped alongside their target files (the
            // compaction shape) pass — the mask machinery handles
            // those.
            def normU(p: String) =
              p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
            val retainedN = cur.data.map(f => normU(f.path)).toSet
              .intersect(parent.data.map(f => normU(f.path)).toSet)
            val curDelN = cur.deleteFiles.map(normU).toSet
            // ADDED-delete guard (the inverse of the un-delete guard
            // below): an overwrite that ADDS position/equality delete
            // files — the shape foreign merge-on-read UPDATE/MERGE
            // writers commit as operation=overwrite — has no spelling
            // in a file-set diff. Retained files diff to nothing, so
            // their new deletes would silently vanish; added files
            // stream ALL their rows as inserts, so dead-on-arrival
            // rows would surface. Both diverge a downstream MERGE
            // silver — refuse loudly instead.
            val parentDelN = parent.deleteFiles.map(normU).toSet
            val addedDel = cur.deleteFiles
              .filterNot(d => parentDelN.contains(normU(d)))
            val parentEqN =
              parent.eqDeletes.map(d => normU(d.path)).toSet
            val addedEq = cur.eqDeletes
              .filterNot(d => parentEqN.contains(normU(d.path)))
            val parentPathsN = parent.data.map(f => normU(f.path)).toSet
            val removedAny = parent.data.exists(f =>
              !cur.data.map(x => normU(x.path)).toSet
                .contains(normU(f.path)))
            if ((addedDel.nonEmpty || addedEq.nonEmpty) &&
                !removedAny) {
              // the MERGE-ON-READ shape (this engine's own
              // position-delta MERGE, and any foreign MoR writer —
              // Flink's combined CDC upsert commits exactly this):
              // an overwrite that REMOVES nothing, ADDS data files,
              // and ADDS position/equality delete files has an exact
              // CDF spelling — new pos-deletes stream their targeted
              // rows as `delete` pre-images (the delete-snapshot
              // machinery), new EQ-deletes stream their doomed keys
              // (or full pre-images under eqDeletePreimages, whose
              // planner diffs parent-vs-current delete sets and so
              // serves overwrite snapshots unchanged — r16 verdict
              // item 5), and the added files stream as `insert`s; an
              // update surfaces as its delete+insert pair (the
              // changelog contract without row lineage). Sequence
              // scoping holds by construction: only PARENT data
              // files are probed for pre-images, so rows added in
              // this same snapshot never match their own deletes.
              val added = addedDataFiles(s, id).filter(f =>
                !parentPathsN.contains(normU(f.path)))
              CdfSnapshot(id, "overwrite", added,
                addedDel.map(strip),
                addedEq.map(d => strip(d.path)),
                snapshotDataTuples(s, partitioned))
            } else {
            // the FILE-REPLACEMENT shape: removed files stream as
            // deletes masked by the parent's POSITION deletes — a
            // parent EQUALITY delete's value-matched masking cannot
            // be inverted per removed file, so that combination
            // refuses to the batch table-diff reads
            require(parent.eqDeletes.isEmpty,
              s"snapshot $id of $tableDir overwrites a state with " +
                "EQUALITY deletes — their value-matched masking " +
                "cannot be inverted per removed file; use the batch " +
                "table-diff reads (or skipOverwriteSnapshots)")
            require(addedDel.isEmpty && addedEq.isEmpty,
              s"snapshot $id of $tableDir ADDS delete files " +
                s"(${addedDel.size} positional, " +
                s"${addedEq.size} equality) in an overwrite that " +
                "also REMOVES data files — row-level deletes inside " +
                "a file-replacement commit have no CDF spelling; " +
                "use the batch table-diff reads (or " +
                "skipOverwriteSnapshots)")
            val droppedDel = parent.deleteFiles
              .filterNot(d => curDelN.contains(normU(d)))
            if (droppedDel.nonEmpty && retainedN.nonEmpty)
              droppedDel.foreach { d =>
                require(!posDeleteTargetPaths(strip(d))
                    .exists(retainedN.contains),
                  s"snapshot $id of $tableDir drops position-delete " +
                    s"file $d targeting RETAINED data files — an " +
                    "un-delete has no CDF spelling; use the batch " +
                    "table-diff reads (or skipOverwriteSnapshots)")
              }
            val curPaths = cur.data.map(f => strip(f.path)).toSet
            val parentPaths = parent.data.map(f => strip(f.path)).toSet
            def asStream(f: PlannedFile) = DeltaLog.StreamFile(
              strip(f.path), f.partition, 0L)
            CdfSnapshot(id, "overwrite",
              cur.data.filterNot(f => parentPaths.contains(strip(f.path)))
                .map(asStream),
              Seq.empty, Seq.empty, Map.empty,
              removedFiles = parent.data
                .filterNot(f => curPaths.contains(strip(f.path)))
                .map(asStream),
              removedMaskFiles = parent.deleteFiles.map(strip))
            }
          case other => throw new IllegalArgumentException(
            s"snapshot $id of $tableDir is $other — the CDF stream " +
              "expresses appends, row-level deletes, and overwrite " +
              "file-set diffs; nothing else has row-level " +
              "attribution here (use the batch table-diff reads)")
        }
      }
  }

  /** Per-plan seams for the eq-delete PRE-IMAGE option: parent data
    * files considered / actually planned after the key-bounds prune
    * (the "priced as O(matching files)" promise a spec pins). */
  @volatile private[graft] var lastPreimageFilesTotal: Int = -1
  @volatile private[graft] var lastPreimageFilesPlanned: Int = -1

  /** Planning for the CDF stream's `eqDeletePreimages` option: for
    * snapshot `snapshotId`, every equality-delete file it ADDED,
    * with (key column names, the PARENT snapshot's live data files
    * pruned by the delete keys' [min,max] against manifest value
    * bounds — superset contract, unknown keeps — and the parent's
    * position-delete masks). The delete file is read ONCE driver-side
    * (O(keys)) for the bounds; the executor joins against only the
    * surviving files, so a narrow CDC delete batch against a
    * range-clustered 100 TB silver prices as O(matching files). */
  private[graft] def eqDeletePreimagePlan(tableDir: String,
      snapshotId: Long): Seq[(String, Seq[String],
        Seq[(String, Map[String, String], Long)], Seq[String],
        Seq[(String, Seq[String], Long)])] = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    val ids = fieldIds(meta)
    val idToName = ids.map(_.swap)
    val snap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapshotId not in metadata"))
    if (!snap.has("parent-snapshot-id")) return Seq.empty
    val parentId = snap.get("parent-snapshot-id").asLong
    val parent = planFilesAll(tableDir, meta, parentId)
    val cur = planFilesAll(tableDir, meta, snapshotId)
    val parentEq = parent.eqDeletes.map(d => stripFileUri(d.path)).toSet
    val newEq = cur.eqDeletes
      .filterNot(d => parentEq.contains(stripFileUri(d.path)))
    newEq.map { d =>
      val keyCols = d.fieldIds.map(id =>
        idToName.getOrElse(id, throw new IllegalArgumentException(
          s"equality_ids field $id not in table schema")))
      val bounds = eqDeleteKeyBounds(stripFileUri(d.path), keyCols)
      val kept = parent.data.filter { f =>
        bounds.forall { case (c, (lo, hi)) =>
          ids.get(c).flatMap { id =>
            (f.lower.get(id).flatMap(longBound),
              f.upper.get(id).flatMap(longBound)) match {
              case (Some(mn), Some(mx)) => Some(mn <= hi && mx >= lo)
              case _ => None
            }
          }.getOrElse(true)
        }
      }
      lastPreimageFilesTotal = parent.data.size
      lastPreimageFilesPlanned = kept.size
      // the parent's own EQUALITY deletes ride along, sequence-scoped:
      // a stacked upsert history leaves earlier key versions dead by
      // value — emitting one as a pre-image would resurrect it. Only
      // masks that can cover at least one kept file matter.
      val minSeq = kept.map(_.addedBy).minOption.getOrElse(Long.MaxValue)
      val eqMasks = parent.eqDeletes.filter(_.addedBy > minSeq).map { m =>
        (stripFileUri(m.path),
          m.fieldIds.map(id => idToName.getOrElse(id,
            throw new IllegalArgumentException(
              s"equality_ids field $id not in table schema"))),
          m.addedBy)
      }
      (stripFileUri(d.path), keyCols,
        kept.map(f => (stripFileUri(f.path), f.partition, f.addedBy)),
        parent.deleteFiles.map(stripFileUri), eqMasks)
    }
  }

  /** [min,max] of each long/int-typed key column of one
    * equality-delete parquet — driver-side Group read, O(keys). */
  private def eqDeleteKeyBounds(path: String,
      keyCols: Seq[String]): Map[String, (Long, Long)] = {
    val dr = org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(),
      new org.apache.hadoop.fs.Path(path)).build()
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
    try {
      var g = dr.read()
      while (g != null) {
        val ft = g.getType
        keyCols.foreach { c =>
          if (ft.containsField(c) && g.getFieldRepetitionCount(c) > 0) {
            val idx = ft.getFieldIndex(c)
            val v: Option[Long] =
              ft.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
                case org.apache.parquet.schema.PrimitiveType
                    .PrimitiveTypeName.INT64 => Some(g.getLong(idx, 0))
                case org.apache.parquet.schema.PrimitiveType
                    .PrimitiveTypeName.INT32 =>
                  Some(g.getInteger(idx, 0).toLong)
                case _ => None
              }
            v.foreach { x =>
              val (lo, hi) = acc.getOrElse(c, (x, x))
              acc(c) = (math.min(lo, x), math.max(hi, x))
            }
          }
        }
        g = dr.read()
      }
    } finally dr.close()
    acc.toMap
  }

  /** One append snapshot's ADDED data files (status=1 entries of its
    * own manifests), with identity partition tuples, byte sizes, and
    * the manifest's long-typed value bounds keyed by COLUMN NAME
    * (`idToName` resolves the bounds' field ids — the stream
    * planner's data-skipping currency). */
  private def addedDataFiles(s: com.fasterxml.jackson.databind.JsonNode,
      id: Long, idToName: Map[Int, String] = Map.empty)
      : Seq[DeltaLog.StreamFile] =
    readAvro(s.get("manifest-list").asText)
      .filter(r => fieldOpt(r, "added_snapshot_id")
        .map(_.asInstanceOf[Long]).contains(id) &&
        // DATA manifests only: a MoR merge snapshot adds its delete
        // manifest under the same snapshot id — its delete parquet
        // must never surface as appended data
        fieldOpt(r, "content")
          .map(_.asInstanceOf[Int]).getOrElse(0) == 0)
      .map(_.get("manifest_path").toString)
      .flatMap { m =>
        readAvro(m).flatMap { e =>
          if (e.get("status").asInstanceOf[Int] != 1) None
          else {
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            val pv: Map[String, String] =
              fieldOpt(df, "partition") match {
                case Some(rec: GenericRecord) =>
                  rec.getSchema.getFields.asScala.map { f =>
                    f.name -> (rec.get(f.name) match {
                      case null => null
                      case v => v.toString
                    })
                  }.toMap
                case _ => Map.empty
              }
            val lower = boundsMap(df, "lower_bounds")
            val upper = boundsMap(df, "upper_bounds")
            val bounds: Map[String, (Long, Long)] =
              lower.keySet.intersect(upper.keySet).flatMap { fid =>
                for {
                  name <- idToName.get(fid)
                  lo <- longBound(lower(fid))
                  hi <- longBound(upper(fid))
                } yield name -> (lo, hi)
              }.toMap
            Some(DeltaLog.StreamFile(
              stripFileUri(df.get("file_path").toString), pv,
              fieldOpt(df, "file_size_in_bytes")
                .map(_.asInstanceOf[Long]).getOrElse(0L),
              bounds))
          }
        }
      }

  /** The streaming head: a branch ref's snapshot id, or the
    * PUBLISHED main head (`current-snapshot-id`) — deliberately NOT
    * the max snapshot id: WAP-staged branch snapshots carry ids
    * above main's head, and an offset that advanced past them would
    * silently skip their rows when `fastForward` later publishes
    * them (offsets are snapshot ids; an id once passed never
    * replays). Capping at the published head keeps the checkpoint
    * exactly at consumed-published history, so publish-then-continue
    * delivers the branch snapshots. */
  private[graft] def streamHead(tableDir: String,
                                branch: Option[String]): Long =
    branch match {
      case Some(b) =>
        val meta = loadMetadata(tableDir, currentVersion(tableDir))
        require(meta.has("refs") && meta.get("refs").has(b) &&
            meta.get("refs").get(b).get("type").asText == "branch",
          s"graft-iceberg: '$b' is not a branch of $tableDir (tags " +
            "are frozen history — read them with the batch readRef)")
        refSnapshot(tableDir, b)
      case None =>
        val meta = loadMetadata(tableDir, currentVersion(tableDir))
        Option(meta.get("current-snapshot-id")).map(_.asLong)
          .filter(_ > 0).getOrElse(0L)
    }

  /** The data files ADDED by the append snapshots in
    * (`fromExclusive`, `to`] on the streamed lineage (published main,
    * or `branch`), GROUPED by snapshot with per-file byte sizes (each
    * manifest entry's `file_size_in_bytes`) — the
    * [[DeltaLog.addedFilesIterator]] twin. LAZY: manifests are read
    * only when the iterator advances to their snapshot, so the stream
    * core's admission walk ([[graft.streaming.CommitLogStream]]
    * file/byte caps) stops paying manifest-read cost at the first
    * snapshot past its cap: draining an N-snapshot backlog is O(N)
    * total manifest reads across all triggers, not O(N²). */
  private[graft] def addedFilesSnapshotIterator(tableDir: String,
      fromExclusive: Long, to: Long, skipOverwriteSnapshots: Boolean,
      branch: Option[String] = None)
      : Iterator[(Long, Seq[DeltaLog.StreamFile])] = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    val snaps = meta.get("snapshots").elements().asScala.toSeq
    // a named BRANCH streams its own lineage (WAP pre-publish audit);
    // default = published main
    val ancestry = branch match {
      case Some(b) => ancestryOf(meta, refSnapshot(tableDir, b))
      case None => mainAncestry(meta)
    }
    snaps
      .filter { s =>
        val id = s.get("snapshot-id").asLong
        id > fromExclusive && id <= to && ancestry.contains(id)
      }
      .sortBy(_.get("snapshot-id").asLong)
      .iterator
      .map { s =>
        val id = s.get("snapshot-id").asLong
        val rawOp = Option(s.get("summary"))
          .flatMap(su => Option(su.get("operation"))).map(_.asText)
        // a CREATION overwrite (no parent snapshot) replaced nothing
        // — pure inserts, the same rule the CDF planner applies
        val op =
          if (rawOp.contains("overwrite") &&
              Option(s.get("parent-snapshot-id")).forall(_.isNull))
            Some("append")
          else rawOp
        val files: Seq[DeltaLog.StreamFile] =
          if (!op.contains("append")) {
            require(skipOverwriteSnapshots,
              s"snapshot $id of $tableDir is ${op.getOrElse("?")} — an " +
                "append stream cannot express it (an equality-delete " +
                "upsert or overwrite REMOVES rows by value; consume " +
                "row-level changes with the batch readIncremental / " +
                "consumeIncremental CDC path instead); pass " +
                "skipOverwriteSnapshots=true to skip such snapshots " +
                "(Iceberg's own escape hatch)")
            Seq.empty
          } else
            // identity tuples reconstruct stripped partition columns
            // in the stream reader (same stringified shape the batch
            // planner hands PartitionedScan)
            addedDataFiles(s, id,
              fieldIds(meta).map { case (n, i) => i -> n })
        (id, files)
      }
  }

  /** Streaming-scope schema + field ids for
    * [[graft.streaming.IcebergStreamSource]]: unpartitioned tables
    * with primitive columns; the (logical name → field id) map lets
    * the executor-side reader resolve pre-rename files by ID. */
  /** One DSv2-batch-planned data file: scheme-stripped path, its
    * manifest partition tuple (stringified), name-decoded long value
    * bounds, and size/records for the scan's reported statistics. */
  private[graft] case class BatchFilePlan(path: String,
      pv: Map[String, String], bounds: Map[String, (Long, Long)],
      sizeBytes: Long, records: Option[Long], addedBy: Long = 0L)

  /** One equality-delete file as the batch scan plans it: path (URI
    * stripped), key COLUMN NAMES (equality_ids resolved through the
    * metadata's field ids), and the snapshot that added it — the
    * sequence-scope fence (applies only to data files added by
    * EARLIER snapshots). */
  private[graft] case class BatchEqDelete(path: String,
      keyCols: Seq[String], addedBy: Long)

  /** The DSv2 batch scan's planning bridge (BatchRead.scala): the
    * pinned snapshot's live data files plus its delete-file surface
    * and the schema/partition facts the scan prunes and reconstructs
    * with. Driver-side O(files) manifest walk, no data file opened
    * (one footer decides the hive-migrated layout question). */
  private[graft] case class BatchPlanned(schema: StructType,
      ids: Map[String, Int], partCols: Seq[String],
      filesCarryPartCols: Boolean, files: Seq[BatchFilePlan],
      posDeleteFiles: Seq[String], eqDeletes: Seq[BatchEqDelete],
      tableDir: String = "") {
    def hasEqDeletes: Boolean = eqDeletes.nonEmpty
  }

  private[graft] def batchPlan(tableDir: String,
                               snapshotId: Long): BatchPlanned = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    // snapshot 0 = empty history (the latestSnapshotId sentinel): a
    // created-but-never-written table reads as its empty schema
    if (snapshotId == 0L)
      return BatchPlanned(schemaFromMetadata(meta),
        if (hasNameMapping(meta)) Map.empty else fieldIds(meta),
        partitionColsOf(meta), filesCarryPartCols = true,
        Seq.empty, Seq.empty, Seq.empty, tableDir)
    val idToName = fieldIds(meta).map(_.swap)
    val p = planFilesAll(tableDir, meta, snapshotId)
    val partCols = partitionColsOf(meta)
    def decode(b: Map[Int, Array[Byte]]): Map[String, Long] =
      b.flatMap { case (id, bytes) =>
        for {
          n <- idToName.get(id)
          v <- longBound(bytes)
        } yield n -> v
      }
    val files = p.data.map { f =>
      val lo = decode(f.lower)
      val hi = decode(f.upper)
      BatchFilePlan(stripFileUri(f.path), f.partition,
        lo.keySet.intersect(hi.keySet)
          .map(k => k -> (lo(k), hi(k))).toMap,
        f.sizeBytes, Some(f.records).filter(_ >= 0), f.addedBy)
    }
    val carry = partCols.isEmpty || p.data.isEmpty ||
      dataFilesCarryPartitionCols(p.data.head.path, partCols)
    BatchPlanned(schemaFromMetadata(meta),
      if (hasNameMapping(meta)) Map.empty else fieldIds(meta),
      partCols, carry, files,
      p.deleteFiles.map(stripFileUri),
      p.eqDeletes.map(d => BatchEqDelete(stripFileUri(d.path),
        d.fieldIds.map(id => idToName.getOrElse(id,
          throw new IllegalArgumentException(
            s"equality_ids field $id not in table schema"))),
        d.addedBy)), tableDir)
  }

  /** The snapshot's POSITION deletes folded into per-data-file
    * INLINE deletion-vector descriptors — O(delete rows) driver work
    * once at planning, zero join at execution: the batch scan
    * attaches each file's descriptor to its task and the shared
    * reader masks row positions exactly as it does Delta DVs.
    * (Position deletes name (file, pos) pairs, and file names are
    * per-file UUIDs, so sequence scoping is identity here — a delete
    * can never hit a file written after it.) */
  private[graft] def posDeleteDescriptors(deleteFiles: Seq[String])
      : Map[String, DeletionVectors.Descriptor] =
    posDeleteBitmaps(deleteFiles).toMap
      .map { case (p, bm) => p -> inlineDescriptor(bm) }

  /** The raw (data file → position bitmap) fold behind
    * [[posDeleteDescriptors]] — mutable so [[batchDeleteDescriptors]]
    * can union equality-delete masks in before serializing once. */
  private def posDeleteBitmaps(deleteFiles: Seq[String])
      : scala.collection.mutable.Map[String, DeletionVectors.Bitmap64] = {
    val bms = scala.collection.mutable.Map
      .empty[String, DeletionVectors.Bitmap64]
    deleteFiles.sorted.foreach { df =>
      val dr = org.apache.parquet.hadoop.ParquetReader.builder(
        new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(stripFileUri(df))).build()
      try {
        var g = dr.read()
        while (g != null) {
          val ft = g.getType
          val path = new String(g.getBinary(
            ft.getFieldIndex("file_path"), 0).getBytes, "UTF-8")
          val pos = g.getLong(ft.getFieldIndex("pos"), 0)
          bms.getOrElseUpdate(stripFileUri(path),
            new DeletionVectors.Bitmap64).add(pos)
          g = dr.read()
        }
      } finally dr.close()
    }
    bms
  }

  /** One bitmap → the shared INLINE deletion-vector descriptor the
    * batch reader masks with (Delta DV currency). */
  private def inlineDescriptor(bm: DeletionVectors.Bitmap64)
      : DeletionVectors.Descriptor = {
    val data = bm.serializePortable
    // Z85 transports 4-byte groups: pad; sizeInBytes keeps the
    // true frame length for the decoder to slice back
    val padded = java.util.Arrays.copyOf(data,
      (data.length + 3) / 4 * 4)
    DeletionVectors.Descriptor("i",
      DeletionVectors.z85Encode(padded), None, data.length,
      bm.cardinality)
  }

  /** Run `body` with a session conf temporarily set, restoring the
    * prior value (or unsetting) afterwards — session confs must not
    * leak past the bounded job that needed them (ADVICE r16): a
    * later, unrelated name-resolving parquet read/write in the same
    * session must see the session's own settings. `body` must
    * MATERIALIZE its reads/writes before returning. */
  private def withSessionConf[A](spark: SparkSession, key: String,
                                 value: String)(body: => A): A = {
    val prior = scala.util.Try(spark.conf.get(key)).toOption
    spark.conf.set(key, value)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Per-TABLE seams for the DSv2 batch EQ-DELETE mask derivation:
    * live data files in the pinned snapshot / files the matching job
    * actually scanned after the sequence-scope ∩ key-bounds prune
    * (absent until a plan with equality deletes ran for that dir).
    * Keyed by table directory so concurrent scans of DIFFERENT
    * tables never clobber each other's counts (ADVICE r16); a gate
    * resets and reads its own table's entry. A spec pins
    * planned < total on a range-clustered table — the "priced as
    * O(matching files)" promise. */
  private val eqMaskStatsByDir =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  private[graft] def eqMaskStats(tableDir: String): Option[(Int, Int)] =
    Option(eqMaskStatsByDir.get(tableDir))
  private[graft] def resetEqMaskStats(tableDir: String): Unit =
    eqMaskStatsByDir.remove(tableDir): Unit

  /** EQUALITY deletes folded to per-file POSITION masks for the DSv2
    * batch scan — value-matched deletes become the same inline-bitmap
    * currency as position deletes, so the executor masks rows with
    * zero joins in the plan. The planning-time job:
    *
    *  1. per (delete, file): sequence scope (`delete.addedBy >
    *     file.addedBy`) ∩ key-bounds overlap (the delete keys'
    *     [min,max] — one driver-side O(keys) Group read — against
    *     the manifests' long value bounds; unknown keeps, superset
    *     contract). A narrow CDC delete against a range-clustered
    *     100 TB table prices as O(matching files), spec-pinned via
    *     the seams above.
    *  2. group surviving files by their APPLICABLE delete set (at
    *     most one distinct set per append generation) and run ONE
    *     distributed matching job per group: scan only the union of
    *     key columns plus `_metadata` row positions, left-semi join
    *     each delete's broadcast DISTINCT keys with null-safe
    *     equality, union, and collect the matched (file, pos) pairs
    *     — O(deleted rows) driver bytes, the same bound as
    *     [[posDeleteDescriptors]].
    *
    * Correctness under stacked upserts: masks only ever REMOVE rows,
    * and a row appended after a delete lives in a file the sequence
    * fence excludes — exactly [[scanPlanned]]'s MoR anti-join
    * semantics, re-expressed as positions. Migrated tables whose
    * data files hive-strip an identity partition column match
    * through the MANIFEST partition tuple (the per-file value the
    * spec records), synthesized as a literal column per
    * partition-value subgroup — the value never rides a data row,
    * but the tuple knows it (r16 verdict item 4). */
  private[graft] def eqDeleteBatchMasks(spark: SparkSession,
      plan: BatchPlanned): Map[String, Seq[Long]] = {
    if (plan.eqDeletes.isEmpty || plan.files.isEmpty) return Map.empty
    val delBounds: Map[String, Map[String, (Long, Long)]] =
      plan.eqDeletes.map(d =>
        d.path -> eqDeleteKeyBounds(d.path, d.keyCols)).toMap
    def applies(d: BatchEqDelete, f: BatchFilePlan): Boolean =
      d.addedBy > f.addedBy && delBounds(d.path).forall {
        case (c, (lo, hi)) => f.bounds.get(c)
          .forall { case (mn, mx) => mn <= hi && mx >= lo }
      }
    val groups = plan.files
      .groupBy(f => plan.eqDeletes.filter(applies(_, f)).map(_.path))
      .filter(_._1.nonEmpty)
    eqMaskStatsByDir.put(plan.tableDir,
      (plan.files.size, groups.valuesIterator.map(_.size).sum))
    if (groups.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{broadcast, col}
    val byName = plan.schema.fields.map(f => f.name -> f).toMap
    def norm(p: String): String =
      if (p.startsWith("file:")) new java.net.URI(p).getPath else p
    val needIds = plan.schema.fields.exists(
      _.metadata.contains("parquet.field.id"))
    def maskOne(delPaths: Seq[String],
                fs: Seq[BatchFilePlan]): Seq[(String, Long)] = {
      val dels = plan.eqDeletes.filter(d => delPaths.contains(d.path))
      val keyCols = dels.flatMap(_.keyCols).distinct
      // hive-stripped identity partition columns never ride data
      // rows — each file's value comes from its MANIFEST partition
      // tuple, synthesized as a typed literal per partition-value
      // subgroup (one scan per distinct tuple among the group's
      // files; the common case is zero stripped keys = one scan)
      val strippedKeys =
        if (plan.filesCarryPartCols) Seq.empty[String]
        else keyCols.filter(plan.partCols.contains)
      val dataKeys = keyCols.filterNot(strippedKeys.contains)
      def scanWith(files: Seq[BatchFilePlan],
                   pv: Map[String, String]) = {
        val base = spark.read
          .schema(StructType(dataKeys.map(byName).toArray))
          .parquet(files.map(_.path).sorted: _*)
        strippedKeys.foldLeft(base) { (d, c) =>
          val dt = byName(c).dataType
          d.withColumn(c, Option(pv.getOrElse(c, null))
            .map(v => org.apache.spark.sql.functions.lit(v).cast(dt))
            .getOrElse(
              org.apache.spark.sql.functions.lit(null).cast(dt)))
        }.select(keyCols.map(col) ++ Seq(
          col("_metadata.file_path").as("_g_path"),
          col("_metadata.row_index").as("_g_pos")): _*)
      }
      val data =
        if (strippedKeys.isEmpty) scanWith(fs, Map.empty)
        else fs
          .groupBy(f => strippedKeys.map(c => f.pv.getOrElse(c, null)))
          .values.map(sub => scanWith(sub, sub.head.pv))
          .reduce(_ unionByName _)
      dels.map { d =>
        // the delete file read with the TABLE schema's key fields —
        // id-resolving when the metadata carries field ids, so
        // foreign delete files with renamed columns still match
        val keys = spark.read
          .schema(StructType(d.keyCols.map(byName).toArray))
          .parquet(d.path)
          .select(d.keyCols.map(c => col(c).as(s"_eq_$c")): _*)
          .dropDuplicates()
        data.join(broadcast(keys),
          d.keyCols.map(c => col(c) <=> col(s"_eq_$c"))
            .reduce(_ && _), "left_semi")
          .select(col("_g_path"), col("_g_pos"))
      }.reduce(_ unionByName _).distinct()
        .collect().toSeq
        .map(r => (norm(r.getString(0)), r.getLong(1)))
    }
    // one matching JOB per append generation's delete set — the jobs
    // are independent Spark actions over disjoint file groups, so
    // they run CONCURRENTLY (round 18: the gate is serial-bound,
    // 8c/32c ratio 1.06; a stacked-upsert history has one group per
    // generation and ran them back to back)
    def masks() = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      val groupSeq = groups.toSeq
      val res =
        if (groupSeq.size == 1)
          groupSeq.map { case (dp, fs) => maskOne(dp, fs) }
        else {
          val pool = java.util.concurrent.Executors
            .newFixedThreadPool(math.min(4, groupSeq.size))
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutorService(pool)
          try Await.result(Future.sequence(groupSeq.map {
            case (dp, fs) => Future(maskOne(dp, fs))
          }), 30.minutes)
          finally pool.shutdown()
        }
      res.flatten.groupBy(_._1).map { case (p, ps) => p -> ps.map(_._2) }
    }
    // the collect() above materializes inside the scope — restore-safe
    if (needIds)
      withSessionConf(spark,
        "spark.sql.parquet.fieldId.read.enabled", "true")(masks())
    else masks()
  }

  /** The pinned snapshot's FULL row-mask surface for the DSv2 batch
    * scan: position-delete files folded driver-side (O(delete rows))
    * UNIONED with equality deletes matched executor-side
    * ([[eqDeleteBatchMasks]]) — one inline descriptor per data file,
    * attached to its task like a Delta DV. */
  private[graft] def batchDeleteDescriptors(spark: SparkSession,
      plan: BatchPlanned): Map[String, DeletionVectors.Descriptor] = {
    val bms = posDeleteBitmaps(plan.posDeleteFiles)
    eqDeleteBatchMasks(spark, plan).foreach { case (p, poss) =>
      val bm = bms.getOrElseUpdate(p, new DeletionVectors.Bitmap64)
      poss.foreach(bm.add)
    }
    bms.toMap.map { case (p, bm) => p -> inlineDescriptor(bm) }
  }

  /** MAIN's head snapshot (current-snapshot-id; 0 = empty history) —
    * the DSv2 batch default. NOT [[latestSnapshotId]]: that is the
    * metadata LIST's tail, which a staged branch/WAP snapshot sits
    * at without being on main. */
  private[graft] def mainSnapshotId(tableDir: String): Long = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    if (!meta.has("current-snapshot-id") ||
        meta.get("current-snapshot-id").isNull) 0L
    else math.max(0L, meta.get("current-snapshot-id").asLong)
  }

  private[graft] def streamSchema(tableDir: String)
      : (StructType, Map[String, Int]) = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    // identity-partitioned tables strip their partition columns from
    // data files; the stream reader reconstructs them from each
    // file's manifest tuple (the tuple field name IS the column
    // name). Hidden-transform tables keep full columns in the files
    // and their derived tuple names match no schema field — nothing
    // to reconstruct.
    (schemaFromMetadata(meta),
      if (hasNameMapping(meta)) Map.empty else fieldIds(meta))
  }

  /** Latest snapshot id (0 = empty history) — the streaming offset. */
  private[graft] def latestSnapshotId(tableDir: String): Long =
    snapshotIds(tableDir).lastOption.getOrElse(0L)

  /** Checkpointed incremental CONSUMER over the snapshot history —
    * the [[DeltaLog.consumeChanges]] twin (snapshot ids are the
    * offsets): poll the appends past the persisted offset via
    * [[readIncremental]], land each snapshot's rows in its own
    * `snapshot=<id>` sink partition (OVERWRITE — a snapshot
    * re-delivered after a crash REPLACES its own output, never
    * appends a duplicate), then persist the new offset atomically.
    * The crash window is exactly between sink write and offset
    * persist — `afterSink` runs there so a spec can plant the crash;
    * on restart the consumer re-reads from the stale offset and the
    * idempotent sink makes the re-delivery invisible. Exactly-once
    * end to end, O(new snapshots) metadata + O(their files) data per
    * poll. Inherits [[readIncremental]]'s append-only contract: an
    * overwrite past the offset refuses loudly rather than silently
    * missing its removed rows. Returns the new offset (the latest
    * consumed snapshot id; 0 = nothing consumed yet). */
  def consumeIncremental(spark: SparkSession, tableDir: String,
                         workDir: String,
                         afterSink: Long => Unit = _ => ()): Long = {
    val offsetFile = Paths.get(workDir, "offset")
    val offset =
      if (Files.isRegularFile(offsetFile))
        new String(Files.readAllBytes(offsetFile), "UTF-8").trim.toLong
      else 0L
    // bound to the ids listed NOW: a snapshot committing between this
    // listing and the read belongs to the NEXT poll
    val snaps = snapshotIds(tableDir)
    val latest = snaps.lastOption.getOrElse(0L)
    if (latest > offset) {
      val changes = readIncremental(spark, tableDir, offset, latest)
      snaps.filter(id => id > offset && id <= latest).foreach { id =>
        changes.filter(col("_snapshot_id") === id)
          .write.mode("overwrite").parquet(s"$workDir/sink/snapshot=$id")
      }
      afterSink(latest)
      Files.createDirectories(Paths.get(workDir))
      // consumer-side advisory pointer — store-appropriate replace
      LogStore.current.putPointer(offsetFile,
        latest.toString.getBytes("UTF-8"))
      latest
    } else offset
  }

  /** ROW-LEVEL DELETE, merge-on-read (Iceberg v2 position deletes):
    * find the (file, position) of every still-live row matching
    * `predicate`, write them as a position-delete parquet (the spec's
    * `file_path`/`pos` columns, sorted), and commit a DELETE snapshot
    * whose manifest-list carries the previous manifests plus one
    * delete manifest (`content`=1). No data file is rewritten — the
    * point of merge-on-read: a delete of k rows costs O(k) + one
    * metadata commit, not a table rewrite; readers pay one broadcast
    * anti-join until a compaction folds the deletes in. The table's
    * format-version becomes 2 (the spec's requirement for row-level
    * deletes). Upgrading is one-way, as in Iceberg.
    *
    * `predicate` sees the DATA columns (partition columns are not in
    * the data files on the hive-migrated layout; express partition
    * predicates as [[readWhere]]-style pruning instead). Rows already
    * deleted by prior delete snapshots are skipped, so re-running the
    * same predicate is a no-op (returns the current snapshot id,
    * commits nothing). One sorted delete file per commit (the
    * single-writer shape); a delete large enough to strain one file
    * is the signal to [[rewriteDataFiles]] instead. Returns the new
    * snapshot id. */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{broadcast, regexp_replace}
    val v = currentVersion(tableDir)
    val meta = loadMetadata(tableDir, v)
    val curId = meta.get("current-snapshot-id").asLong
    val planned = planFilesAll(tableDir, meta, curId)
    require(planned.data.nonEmpty, "nothing to delete from an empty table")
    // id-annotated so the position scan resolves post-rename files
    val schema = readSchemaFor(meta)
    val needReadIds =
      schema.fields.exists(_.metadata.contains("parquet.field.id"))
    val partCols = partitionColsOf(meta)
    val dataSchema = StructType(
      schema.filterNot(f => partCols.contains(f.name)))
    def norm(c: Column): Column =
      regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
    // MANIFEST-BOUNDS pruning (the readPrunedRange decomposition):
    // files whose value bounds provably miss every prune-safe
    // conjunct of `predicate` neither scan nor enter the position
    // job — a one-range DELETE on a large table reads its files, not
    // the lake. Superset contract: boundless files always scan.
    val ex = PruningPredicates.extract(predicate)
    val ids = fieldIds(meta)
    val candidates = planned.data.filter { f =>
      ex.longRanges.forall { case (c, lo, hi) =>
        (for {
          fid <- ids.get(c)
          lb <- f.lower.get(fid).flatMap(longBound)
          ub <- f.upper.get(fid).flatMap(longBound)
        } yield lb <= hi && ub >= lo).getOrElse(true)
      }
    }
    lastDeleteFilesScanned = candidates.size
    if (candidates.isEmpty) return curId
    var hits = spark.read.schema(dataSchema)
      .parquet(candidates.map(f => stripFileUri(f.path)).sorted: _*)
      .withColumn("_ice_path", norm(col("_metadata.file_path")))
      .withColumn("_ice_pos", col("_metadata.row_index"))
    if (planned.deleteFiles.nonEmpty) {
      val delT = StructType(Seq(
        StructField("file_path", StringType),
        StructField("pos", LongType)))
      val prior = spark.read.schema(delT)
        .parquet(planned.deleteFiles.map(stripFileUri).sorted: _*)
        .select(norm(col("file_path")).as("_del_path"),
          col("pos").as("_del_pos"))
      hits = hits.join(broadcast(prior),
        col("_ice_path") === col("_del_path") &&
          col("_ice_pos") === col("_del_pos"), "left_anti")
    }
    val sub = s"data/delete-${java.util.UUID.randomUUID}"
    // the spec RESERVES field ids for position-delete columns:
    // file_path = 2147483546, pos = 2147483545 — real clients
    // resolve delete files through exactly these ids. Both fieldId
    // confs apply only for the duration of this job (restore-safe:
    // the write materializes the candidate scan too).
    def writeDeletes(): Unit = withSessionConf(spark,
        "spark.sql.parquet.fieldId.write.enabled", "true") {
      hits.filter(predicate)
        .select(
          col("_ice_path").as("file_path",
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", 2147483546L).build()),
          col("_ice_pos").as("pos",
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", 2147483545L).build()))
        .repartition(1)
        .sortWithinPartitions(col("file_path"), col("pos")) // spec's sort
        .write.parquet(s"$tableDir/$sub")
    }
    if (needReadIds) withSessionConf(spark,
      "spark.sql.parquet.fieldId.read.enabled", "true")(writeDeletes())
    else writeDeletes()
    val part = Option(new File(tableDir, sub).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val (nRows, _) = parquetFooter(part.getPath)
    if (nRows == 0) { // no live row matched: commit nothing
      graft.util.Fs.deleteRecursively(new File(tableDir, sub))
      return curId
    }
    val snapshotId: Long = newSnapshotIdAndSeq(meta)._1
    // one delete manifest per commit ATTEMPT (a conflict-proved
    // retry re-mints it under the new snapshot id)
    def writeManifest(sid: Long): String = {
      val dm = s"${metaDir(tableDir)}/snap-$sid-${
        java.util.UUID.randomUUID}-d0.avro"
      val dfr = new GenericData.Record(
        deleteEntrySchema.getField("data_file").schema())
      dfr.put("content", 1)
      dfr.put("file_path", part.getPath)
      dfr.put("file_format", "PARQUET")
      dfr.put("record_count", nRows)
      dfr.put("file_size_in_bytes", part.length())
      val de = new GenericData.Record(deleteEntrySchema)
      de.put("status", 1)
      de.put("snapshot_id", sid)
      de.put("data_file", dfr)
      writeAvro(dm, deleteEntrySchema, Seq(de))
      dm
    }
    commitDeleteSnapshot(tableDir, meta, v, curId, snapshotId,
      writeManifest,
      ex.longRanges.map { case (c, lo, hi) => c -> (lo, hi) }.toMap,
      "row-level delete")
  }

  /** Commit a POSITION-DELTA MERGE (the SupportsDelta write over
    * this format — [[graft.streaming.IcebergPositionMergeOperation]]
    * ): the merge's per-row verdicts arrive as (scan file path →
    * deleted/updated position bitmaps) plus the new data files
    * holding inserted/updated rows, and land as ONE v2 snapshot
    * (operation=overwrite) carrying ONE position-delete manifest
    * (content=1 — the spec's MoR delete currency, explicit
    * (file, pos) targets against the base files) AND the new data
    * manifest (content=0) — real Iceberg's merge-on-read MERGE wire.
    * No data file is rewritten; prior pos/eq delete files stay in
    * force via the carried manifests, and the new files' higher
    * sequence keeps them out of every older equality delete's scope.
    * Conflict proving on a lost CAS is [[commitDeleteSnapshot]]'s:
    * append-only winner chain + value-disjoint adds, else loud
    * abort. Cost: O(changed rows) delete bytes + the new rows —
    * never a table rewrite. */
  private[graft] def commitMergeDsv2(spark: SparkSession,
      tableDir: String, baseSnap: Long,
      deleted: Seq[(String, Array[Byte])],
      updated: Seq[(String, Array[Byte])],
      insFiles: Seq[DeltaLog.Dsv2File],
      updFiles: Seq[DeltaLog.Dsv2File],
      valueRanges: Map[String, (Long, Long)], opName: String): Long = {
    val v = currentVersion(tableDir)
    val meta = loadMetadata(tableDir, v)
    val curId = meta.get("current-snapshot-id").asLong
    def fold(ms: Seq[(String, Array[Byte])])
        : Map[String, DeletionVectors.Bitmap64] =
      ms.groupBy(m => stripFileUri(m._1)).map { case (p, parts) =>
        val bm = new DeletionVectors.Bitmap64
        parts.foreach(x =>
          bm.or(DeletionVectors.Bitmap64.fromPortable(x._2)))
        p -> bm
      }
    val delBms = fold(deleted)
    val updBms = fold(updated)
    delBms.foreach { case (p, bm) =>
      updBms.get(p).foreach(u => require(
        !bm.toPositions.exists(u.contains),
        s"$opName: a row of $p is both deleted and updated"))
    }
    val touched: Map[String, DeletionVectors.Bitmap64] =
      (delBms.keySet ++ updBms.keySet).map { p =>
        val bm = new DeletionVectors.Bitmap64
        delBms.get(p).foreach(bm.or)
        updBms.get(p).foreach(bm.or)
        p -> bm
      }.toMap
    val newFiles = (insFiles ++ updFiles).sortBy(_.relPath)
    if (touched.isEmpty && newFiles.isEmpty) return curId
    // a head that moved past the scanned base snapshot is proved
    // disjoint exactly as a lost-CAS retry would be (append-only
    // chain + value-disjoint adds); then every touched path must
    // still be live at the CURRENT head — positions stay valid
    // against untouched base files, and re-deleting a row an
    // intervening delete already retired is idempotent
    if (curId != baseSnap)
      requireIcebergWinnersDisjoint(tableDir, meta, meta, baseSnap,
        valueRanges, opName)
    val schema = schemaFromMetadata(meta)
    val spec = currentSpecFields(tableDir)
    val planned = planFilesAll(tableDir, meta, curId)
    val live = planned.data.map(f => stripFileUri(f.path)).toSet
    touched.keys.foreach(p => require(live(p),
      s"$opName: merge verdicts name $p, which the current " +
        s"snapshot $curId of $tableDir does not hold"))
    if (touched.isEmpty)
      // insert-only merge: an ordinary append commit
      return commitDsv2(tableDir, schema,
        spec.filter(_._2 == "identity").map(_._1), newFiles,
        overwrite = false,
        hiddenSpec = spec.filter(_._2 != "identity"))
    import graft.functions.IcebergTransforms
    val tupleFields: Seq[(String, String, String, DataType)] =
      spec.map {
        case (src, "identity") =>
          (src, "identity", src, schema(src).dataType)
        case (src, tr) =>
          (IcebergTransforms.tupleName(tr, src), tr, src,
            IcebergTransforms.tupleType(tr, schema(src).dataType))
      }
    val ids = fieldIds(meta)
    val integral: Set[String] = schema.fields.collect {
      case f if f.dataType == LongType ||
        f.dataType == IntegerType => f.name
    }.toSet
    val dataManifests: Seq[(String, Long)] =
      if (newFiles.isEmpty) Seq.empty
      else {
        val entrySchema = manifestEntrySchemaFor(
          tupleFields.map(t => (t._1, t._4)))
        val mp = s"${metaDir(tableDir)}/snap-${
          java.util.UUID.randomUUID}-m0.avro"
        writeAvro(mp, entrySchema, newFiles.map { f =>
          manifestEntry(s"$tableDir/${f.relPath}", 1, ids, entrySchema,
            tupleFields.map { case (name, _, _, t) =>
              name -> typedPartitionValue(
                f.partitionValues.getOrElse(name, null), t) },
            Some((f.numRecords,
              f.bounds.filter(b => integral(b._1)))))
        })
        Seq((mp, new File(mp).length()))
      }
    // the position-delete parquet: (file_path, pos) sorted, the
    // spec's RESERVED field ids — O(changed rows), the same driver
    // bound the verdict bitmaps already carry
    val delRows: Seq[(String, Long)] = touched.toSeq.sortBy(_._1)
      .flatMap { case (p, bm) => bm.toPositions.map(pos => (p, pos)) }
    val sub = s"data/delete-${java.util.UUID.randomUUID}"
    import spark.implicits._
    withSessionConf(spark,
        "spark.sql.parquet.fieldId.write.enabled", "true") {
      delRows.toDF("file_path", "pos")
        .select(
          col("file_path").as("file_path",
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", 2147483546L).build()),
          col("pos").as("pos",
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", 2147483545L).build()))
        .repartition(1)
        .sortWithinPartitions(col("file_path"), col("pos"))
        .write.parquet(s"$tableDir/$sub")
    }
    val part = Option(new File(tableDir, sub).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val snapshotId: Long = newSnapshotIdAndSeq(meta)._1
    def writeManifest(sid: Long): String = {
      val dm = s"${metaDir(tableDir)}/snap-$sid-${
        java.util.UUID.randomUUID}-d0.avro"
      val dfr = new GenericData.Record(
        deleteEntrySchema.getField("data_file").schema())
      dfr.put("content", 1)
      dfr.put("file_path", part.getPath)
      dfr.put("file_format", "PARQUET")
      dfr.put("record_count", delRows.length.toLong)
      dfr.put("file_size_in_bytes", part.length())
      val de = new GenericData.Record(deleteEntrySchema)
      de.put("status", 1)
      de.put("snapshot_id", sid)
      de.put("data_file", dfr)
      writeAvro(dm, deleteEntrySchema, Seq(de))
      dm
    }
    commitDeleteSnapshot(tableDir, meta, v, curId, snapshotId,
      writeManifest, valueRanges, opName, dataManifests,
      // a verdict set with NO new rows is a pure row delete — label
      // it as the spec does, so CDF consumers take the delete branch
      operation = if (newFiles.isEmpty) "delete" else "overwrite")
  }

  /** Internal retries taken by Iceberg row-level deletes after
    * proving a racing winner disjoint — the Delta
    * `rowOpConflictRetries` twin. */
  private[graft] val rowOpConflictRetries =
    new java.util.concurrent.atomic.AtomicLong

  /** Conflict proving for a row-level delete that lost its metadata
    * CAS (the Delta `requireWinnersDisjoint` twin, under Iceberg's
    * own semantics): the retry is sound iff
    *
    *  - the winner CHAIN from the new head back to our base snapshot
    *    is intact and APPEND-ONLY (an overwrite/delete/replace could
    *    have removed or re-deleted rows our delete file references —
    *    and racing deletes could double-emit through CDF);
    *  - schema and default partition spec are unchanged;
    *  - every winner-ADDED data file PROVABLY misses the op's value
    *    constraint (`valueRanges`, conjunct semantics: one provably
    *    missed range is a proof) — position deletes stay valid
    *    against untouched base files, and an equality delete
    *    re-sequenced past the winner cannot swallow the winner's
    *    rows when their key ranges provably miss. Unknown bounds =
    *    conflict (superset contract).
    *
    * Throws the loud abort otherwise. */
  private def requireIcebergWinnersDisjoint(tableDir: String,
      baseMeta: ObjectNode, headMeta: ObjectNode, baseCurId: Long,
      valueRanges: Map[String, (Long, Long)], op: String): Unit = {
    require(schemaFromMetadata(baseMeta) == schemaFromMetadata(headMeta)
        && partitionSpecOf(baseMeta) == partitionSpecOf(headMeta),
      s"concurrent writer changed schema or partition spec during " +
        s"$op — recompute against the new state and re-run")
    val snaps = headMeta.get("snapshots").elements().asScala
      .map(n => n.get("snapshot-id").asLong -> n).toMap
    var cur = headMeta.get("current-snapshot-id").asLong
    val winners = Seq.newBuilder[Long]
    while (cur != baseCurId) {
      val n = snaps.getOrElse(cur,
        throw new IllegalArgumentException(
          s"concurrent writer rewrote history during $op (snapshot " +
            s"$cur missing) — recompute against the new state and " +
            "re-run"))
      val opName = Option(n.get("summary"))
        .flatMap(su => Option(su.get("operation"))).map(_.asText)
      require(opName.contains("append"),
        s"concurrent ${opName.getOrElse("?")} snapshot $cur landed " +
          s"during $op — only append winners are provably disjoint; " +
          "recompute against the new state and re-run")
      winners += cur
      require(n.has("parent-snapshot-id"),
        s"concurrent writer rewrote history during $op — recompute " +
          "against the new state and re-run")
      cur = n.get("parent-snapshot-id").asLong
    }
    val ids = fieldIds(headMeta)
    val basePaths = planFilesAll(tableDir, baseMeta, baseCurId)
      .data.map(f => stripFileUri(f.path)).toSet
    val headCur = headMeta.get("current-snapshot-id").asLong
    planFilesAll(tableDir, headMeta, headCur).data
      .filterNot(f => basePaths.contains(stripFileUri(f.path)))
      .foreach { f =>
        val provedMiss = valueRanges.exists { case (c, (lo, hi)) =>
          ids.get(c).exists { fid =>
            (f.lower.get(fid).flatMap(longBound),
              f.upper.get(fid).flatMap(longBound)) match {
              case (Some(mn), Some(mx)) => mn > hi || mx < lo
              case _ => false
            }
          }
        }
        require(provedMiss,
          s"concurrent writer added ${f.path}, which may hold rows " +
            s"this $op matches — recompute against the new state " +
            "and re-run")
      }
  }

  /** Shared tail of the v2 delete writers: publish a new snapshot
    * whose manifest-list = the current snapshot's manifests (content
    * preserved) + one new DELETE manifest; metadata upgraded to
    * format-version 2, history untouched. A lost CAS retries
    * INTERNALLY when the winners are provably disjoint
    * ([[requireIcebergWinnersDisjoint]]) — the delete manifest is
    * regenerated per attempt (`writeManifest`) so its recorded
    * snapshot id and the list row's `added_snapshot_id` stay true,
    * which is what sequence-scopes an equality delete correctly past
    * the winner's appends. Returns the snapshot id. */
  private def commitDeleteSnapshot(tableDir: String, meta0: ObjectNode,
      v0: Int, curId0: Long, snapshotId0: Long,
      writeManifest: Long => String,
      valueRanges: Map[String, (Long, Long)], opName: String,
      // a MERGE commits its new DATA manifests in the SAME snapshot
      // as its delete manifest (path, length) — content=0 entries
      // added under this snapshot id; version-independent, written
      // once by the caller
      dataManifests: Seq[(String, Long)] = Seq.empty,
      operation: String = "delete"): Long = {
    var meta = meta0
    var v = v0
    var curId = curId0
    var snapshotId = snapshotId0
    // the TRUE sequence number — coincides with the id on this
    // engine's own tables, decouples on foreign random-id tables
    // (overflow-safe; see newSnapshotIdAndSeq)
    var seqNum = newSnapshotIdAndSeq(meta)._2
    var dm = writeManifest(snapshotId)
    while (true) {
      val curSnap = meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong == curId).get
      val prev = readAvro(curSnap.get("manifest-list").asText)
      val listPath =
        s"${metaDir(tableDir)}/snap-$snapshotId-${
          java.util.UUID.randomUUID}-manifest-list.avro"
      val listRecords = prev.map { r =>
        val n = new GenericData.Record(manifestFileSchemaV2)
        n.put("manifest_path", r.get("manifest_path").toString)
        n.put("manifest_length", r.get("manifest_length"))
        // carried manifests keep the spec they were written under
        // (multi-spec tables prune per-manifest)
        n.put("partition_spec_id",
          fieldOpt(r, "partition_spec_id")
            .map(_.asInstanceOf[Int]).getOrElse(0))
        n.put("content",
          fieldOpt(r, "content").map(_.asInstanceOf[Int]).getOrElse(0))
        // carried rows keep their recorded sequence (null = reader
        // falls back to added_snapshot_id, the legacy convention)
        fieldOpt(r, "sequence_number")
          .foreach(s => n.put("sequence_number", s))
        n.put("added_snapshot_id", r.get("added_snapshot_id"))
        n
      } ++ (dataManifests.map(m => (m._1, m._2, 0)) :+
        ((dm, new File(dm).length(), 1))).map { case (p, len, content) =>
        val n = new GenericData.Record(manifestFileSchemaV2)
        n.put("manifest_path", p)
        n.put("manifest_length", len)
        n.put("partition_spec_id",
          if (meta.has("default-spec-id"))
            meta.get("default-spec-id").asInt else 0)
        n.put("content", content)
        // explicit sequence: scoping never rides the snapshot id
        n.put("sequence_number", seqNum)
        n.put("added_snapshot_id", snapshotId)
        n
      }
      writeAvro(listPath, manifestFileSchemaV2, listRecords)
      // v2 metadata: schema/spec/history unchanged, format upgraded
      val next = meta.deepCopy[ObjectNode]()
      next.put("format-version", 2)
      next.put("last-sequence-number", seqNum)
      next.put("current-snapshot-id", snapshotId)
      val sn = next.withArray[ArrayNode]("snapshots").addObject()
      sn.put("snapshot-id", snapshotId)
      sn.put("parent-snapshot-id", meta.get("current-snapshot-id").asLong)
      sn.put("sequence-number", seqNum)
      sn.put("timestamp-ms", nextSnapshotTs(Some(meta)))
      sn.putObject("summary").put("operation", operation)
      sn.put("manifest-list", listPath)
      if (publishMetadataVersion(tableDir, v + 1, next))
        return snapshotId
      commitCasRetries.incrementAndGet()
      val headV = currentVersion(tableDir)
      val headMeta = loadMetadata(tableDir, headV)
      requireIcebergWinnersDisjoint(tableDir, meta, headMeta, curId,
        valueRanges, opName)
      rowOpConflictRetries.incrementAndGet()
      meta = headMeta
      v = headV
      curId = headMeta.get("current-snapshot-id").asLong
      val minted = newSnapshotIdAndSeq(headMeta)
      snapshotId = minted._1
      seqNum = minted._2
      dm = writeManifest(snapshotId)
    }
    -1L // unreachable
  }

  /** EQUALITY DELETE (v2, delete-file content=2): record the DISTINCT
    * rows of `keys` — a subset of table columns — as an
    * equality-delete file whose manifest entry carries their field
    * ids (`equality_ids`). Matching is value-based with null-safe
    * equality, and SEQUENCE-SCOPED: the delete applies only to data
    * files added by EARLIER snapshots, so rows appended after it
    * survive even when their keys match (the spec's rule, and the
    * CDC upsert pattern Flink writes through this feature — delete
    * old key, append new row, one snapshot each). Cost: O(distinct
    * keys) bytes, no data file touched. Returns the snapshot id. */
  def deleteWhereEquality(spark: SparkSession, tableDir: String,
                          keys: DataFrame): Long = {
    val v = currentVersion(tableDir)
    val meta = loadMetadata(tableDir, v)
    val curId = meta.get("current-snapshot-id").asLong
    val schema = schemaFromMetadata(meta)
    val ids = fieldIds(meta)
    require(keys.columns.nonEmpty, "equality delete needs key columns")
    keys.schema.fields.foreach { f =>
      require(ids.contains(f.name),
        s"equality column ${f.name} not in table schema")
      require(schema(f.name).dataType == f.dataType,
        s"equality column ${f.name}: ${f.dataType} != table's " +
          s"${schema(f.name).dataType}")
    }
    val sub = s"data/eqdelete-${java.util.UUID.randomUUID}"
    // the spec's delete files carry PARQUET FIELD IDS like any data
    // file — id-resolving readers (Spark's vectorized reader with
    // fieldId.read.enabled, this engine's columnar CDF stream) match
    // the key columns by id and null-fill the rest
    val annotated = keys.select(keys.columns.toSeq.map(c =>
      col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", ids(c).toLong).build())): _*)
    annotated.dropDuplicates().repartition(1)
      .write.parquet(s"$tableDir/$sub")
    val part = Option(new File(tableDir, sub).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val (nRows, _) = parquetFooter(part.getPath)
    if (nRows == 0) { // nothing to delete: commit nothing
      graft.util.Fs.deleteRecursively(new File(tableDir, sub))
      return curId
    }
    val snapshotId: Long = newSnapshotIdAndSeq(meta)._1
    def writeManifest(sid: Long): String = {
      val dm = s"${metaDir(tableDir)}/snap-$sid-${
        java.util.UUID.randomUUID}-d0.avro"
      val dfr = new GenericData.Record(
        eqDeleteEntrySchema.getField("data_file").schema())
      dfr.put("content", 2)
      dfr.put("file_path", part.getPath)
      dfr.put("file_format", "PARQUET")
      dfr.put("record_count", nRows)
      dfr.put("file_size_in_bytes", part.length())
      dfr.put("equality_ids",
        keys.columns.map(c => Int.box(ids(c))).toSeq.asJava)
      val de = new GenericData.Record(eqDeleteEntrySchema)
      de.put("status", 1)
      de.put("snapshot_id", sid)
      de.put("data_file", dfr)
      writeAvro(dm, eqDeleteEntrySchema, Seq(de))
      dm
    }
    // the doomed keys' [min,max] per long-typed key column is the
    // disjointness constraint a racing append is proved against
    commitDeleteSnapshot(tableDir, meta, v, curId, snapshotId,
      writeManifest, eqDeleteKeyBounds(part.getPath, keys.columns.toSeq),
      "equality delete")
  }

  /** SCHEMA EVOLUTION: publish a new metadata version whose schema
    * adds columns — Iceberg's ALTER TABLE ADD COLUMNS (pure metadata;
    * data files untouched, old files surface NULL for the new
    * columns on read). ADDITIVE AND APPEND-ONLY, `require`d: existing
    * columns keep their position+type so their field ids stay stable
    * (bounds maps and partition source-ids resolve by id), and new
    * columns are nullable tail columns. The old schema rides along in
    * the `schemas` list, as the spec keeps history. Returns the new
    * metadata version. */
  def evolveSchema(tableDir: String, newSchema: StructType): Int = {
    val v = currentVersion(tableDir)
    val meta = loadMetadata(tableDir, v)
    val old = schemaFromMetadata(meta)
    old.fields.zipWithIndex.foreach { case (f, i) =>
      require(i < newSchema.fields.length &&
          newSchema.fields(i).name == f.name &&
          newSchema.fields(i).dataType == f.dataType,
        s"evolution must keep column ${f.name}: ${f.dataType} at " +
          s"position $i — field ids are positional in this writer")
    }
    newSchema.fields.drop(old.fields.length).foreach(f =>
      require(f.nullable,
        s"new column ${f.name} must be nullable: files written before " +
          "the evolution have no values for it"))
    val newId =
      (if (meta.has("current-schema-id")) meta.get("current-schema-id").asInt
       else 0) + 1
    val sj = schemaToJson(newSchema)
    sj.put("schema-id", newId)
    val next = meta.deepCopy[ObjectNode]()
    next.set[ObjectNode]("schema", sj)
    val schemas = next.putArray("schemas")
    if (meta.has("schemas"))
      meta.get("schemas").elements().asScala.foreach(schemas.add)
    else schemas.add(meta.get("schema"))
    schemas.add(sj)
    next.put("current-schema-id", newId)
    next.put("last-column-id", newSchema.fields.length)
    publishPinned(tableDir, v + 1, next, "evolveSchema")
    v + 1
  }

  /** RENAME a column — the metadata-only evolution Iceberg's
    * field-id resolution exists for: the new schema keeps every
    * field's ID, TYPE and POSITION and changes only the name, so
    * pre-rename data files (which spell the OLD name) keep resolving
    * through their ids and no data is touched. Refused on
    * NAME-MAPPED tables (their registered files have no ids — a
    * rename would orphan every one of them) and on PARTITIONED
    * tables (partition tuples key by source column name in this
    * writer's manifests). Returns the new metadata version. */
  def renameColumn(tableDir: String, from: String, to: String): Int = {
    val v = currentVersion(tableDir)
    val meta = loadMetadata(tableDir, v)
    require(!hasNameMapping(meta),
      s"rename on name-mapped table $tableDir: its registered files " +
        "have no field ids and resolve by NAME — renaming would " +
        "orphan them")
    require(partitionSpecOf(meta).isEmpty,
      "rename on a partitioned table is out of scope (partition " +
        "tuples key by source column name in this writer)")
    val old = schemaFromMetadata(meta)
    require(old.fieldNames.contains(from), s"no column $from")
    require(!old.fieldNames.contains(to), s"column $to exists")
    val renamed = StructType(old.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val newId =
      (if (meta.has("current-schema-id")) meta.get("current-schema-id").asInt
       else 0) + 1
    // schemaToJson assigns ids positionally and the rename keeps
    // positions — the renamed field keeps its id, the spec's contract
    val sj = schemaToJson(renamed)
    sj.put("schema-id", newId)
    val next = meta.deepCopy[ObjectNode]()
    next.set[ObjectNode]("schema", sj)
    val schemas = next.putArray("schemas")
    if (meta.has("schemas"))
      meta.get("schemas").elements().asScala.foreach(schemas.add)
    else schemas.add(meta.get("schema"))
    schemas.add(sj)
    next.put("current-schema-id", newId)
    publishPinned(tableDir, v + 1, next, "renameColumn")
    v + 1
  }

  /** SET / UNSET table properties — the metadata-only commit
    * `ALTER TABLE ... SET TBLPROPERTIES` publishes, and the knob
    * real Iceberg's `write.<command>.mode` routing rides on. A None
    * value removes the key. Returns the new metadata version. */
  def setTableProperties(tableDir: String,
      props: Map[String, Option[String]]): Int = {
    val v = currentVersion(tableDir)
    val meta = loadMetadata(tableDir, v)
    val cur: Map[String, String] =
      if (!meta.has("properties")) Map.empty
      else meta.get("properties").properties().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap
    val next = meta.deepCopy[ObjectNode]()
    val p = next.putObject("properties")
    (cur -- props.collect { case (k, None) => k })
      .++(props.collect { case (k, Some(x)) => k -> x })
      .foreach { case (k, x) => p.put(k, x): Unit }
    publishPinned(tableDir, v + 1, next, "setTableProperties")
    v + 1
  }

  /** MAINTENANCE: fold the accumulated position deletes into
    * rewritten data files (Iceberg's `rewrite_data_files` — the
    * compaction that ends the merge-on-read debt). The merged current
    * snapshot is committed as a new overwrite snapshot whose
    * manifest-list carries NO delete manifests; every later read is a
    * plain scan again. Prior snapshots (and their delete files) stay
    * addressable until [[expireSnapshots]]. Returns the snapshot id.
    *
    * Scale: this trades one full rewrite for removing a per-read
    * anti-join — the classic MoR amortization; run it when deleted
    * fraction or delete-file count crosses a threshold, exactly as
    * Iceberg's maintenance procedure does. */
  def rewriteDataFiles(spark: SparkSession, tableDir: String): Long = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    val spec = partitionSpecOf(meta)
    val (identity, hidden) = spec.partition(_.transform == "identity")
    require(identity.isEmpty || hidden.isEmpty,
      "mixed identity+hidden partition specs are out of scope")
    if (hidden.nonEmpty)
      // hidden tables re-declare their transform spec, so the
      // compaction that reclaims their MoR debt keeps the clustering
      commit(read(spark, tableDir), tableDir, overwrite = true,
        hiddenSpec = hidden.map(f => f.sourceCol -> f.transform))
    else
      commit(read(spark, tableDir), tableDir, overwrite = true,
        identity.map(_.sourceCol))
  }

  /** REWRITE WITH Z-ORDER — [[DeltaLog.compactZorder]]'s Iceberg
    * twin (real Iceberg spells it `rewrite_data_files(strategy =>
    * 'sort', sort_order => 'zorder(...)')`): rewrite the current
    * snapshot's rows clustered on the Morton interleave of
    * `zorderCols` ([[graft.ops.Scale.zClustered]] — one
    * range-partitioned distributed sort), publishing one overwrite
    * snapshot whose manifest value bounds are computed fresh from
    * the clustered files, so a filter on ANY named dimension prunes.
    * Unpartitioned tables (a partitioned table's skipping dimension
    * is its partitioning). Returns the new snapshot id. */
  def rewriteZorder(spark: SparkSession, tableDir: String,
      zorderCols: Seq[String], targetFiles: Int): Long = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    require(partitionSpecOf(meta).isEmpty,
      s"rewriteZorder re-clusters unpartitioned tables — " +
        s"$tableDir's spec is ${partitionSpecOf(meta)}")
    commitOverwrite(graft.ops.Scale.zClustered(
      read(spark, tableDir), zorderCols, targetFiles), tableDir)
  }

  /** REWRITE INTO STANDARD SHAPE: rewrite the current snapshot so
    * every data file physically carries its identity partition
    * columns (standard Iceberg's layout — partition columns are
    * ordinary data columns, the manifest tuple is derived metadata)
    * instead of this engine's hive-stripped migrated-table shape.
    * This is the gate that unlocks IDENTITY partition-spec evolution
    * ([[evolvePartitionSpec]]): once files carry every column, a new
    * spec generation cannot disagree with the old one about which
    * columns exist physically, and all LATER identity commits keep
    * the standard shape automatically ([[commit]]'s detection).
    * One distributed pass, clustered by the current spec; returns
    * the new snapshot id. */
  def rewriteDataFilesFullSchema(spark: SparkSession,
                                 tableDir: String): Long = {
    val meta = loadMetadata(tableDir, currentVersion(tableDir))
    val spec = partitionSpecOf(meta)
    require(spec.nonEmpty && spec.forall(_.transform == "identity"),
      s"rewriteDataFilesFullSchema speaks identity specs — table " +
        s"$tableDir's spec is $spec")
    commit(read(spark, tableDir), tableDir, overwrite = true,
      partCols = spec.map(_.sourceCol), forceStandardShape = true)
  }

  /** Every path a snapshot's plan touches: its manifest-list, its
    * manifests, and every data file its manifest entries name —
    * INCLUDING status=DELETED entries (they reference the path even
    * though the snapshot does not read it; treating them as live is
    * the superset that can only under-delete, never break a read). */
  private def snapshotRefs(snap: com.fasterxml.jackson.databind.JsonNode)
      : Set[String] = {
    val ml = snap.get("manifest-list").asText
    val manifests = readAvro(ml).map(_.get("manifest_path").toString)
    (Set(ml) ++ manifests ++ manifests.flatMap { m =>
      readAvro(m).map(_.get("data_file").asInstanceOf[GenericRecord]
        .get("file_path").toString)
    }).map(stripFileUri)
  }

  /** EXPIRE SNAPSHOTS — Iceberg's retention maintenance (the
    * [[DeltaLog.vacuum]] twin): drop all but the newest `keepLast`
    * snapshots from the metadata and delete every manifest-list,
    * manifest, and data file referenced ONLY by expired snapshots.
    * Publishes a new metadata version (the normal commit path — the
    * metadata chain stays append-only and auditable); older
    * vN.metadata.json files survive, but time travel to an expired
    * snapshot fails on its missing manifests rather than reading
    * wrong data — Iceberg's own contract. The current snapshot is
    * always retained. Returns the deleted paths.
    *
    * Scale: pure driver-side metadata work — reference counting over
    * manifest rows, proportional to manifests+files, never data. */
  def expireSnapshots(tableDir: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val v = currentVersion(tableDir)
    val meta = loadMetadata(tableDir, v)
    val snaps = meta.get("snapshots").elements().asScala.toSeq
    if (snaps.size <= keepLast) return Seq.empty
    // a snapshot NAMED by a ref (tag/branch) is retained past the
    // count horizon — the spec's contract: refs hold their snapshots
    // until the ref is dropped
    val reffed: Set[Long] =
      if (!meta.has("refs")) Set.empty
      else meta.get("refs").properties().asScala
        .map(_.getValue.get("snapshot-id").asLong).toSet
    val (tail, recent) = snaps.splitAt(snaps.size - keepLast)
    val (pinned, expired) =
      tail.partition(s => reffed.contains(s.get("snapshot-id").asLong))
    val kept = pinned ++ recent
    val curId = meta.get("current-snapshot-id").asLong
    require(kept.exists(_.get("snapshot-id").asLong == curId),
      s"retention $keepLast would expire the CURRENT snapshot $curId")
    val keepRefs = kept.flatMap(snapshotRefs).toSet
    val dead = expired.flatMap(snapshotRefs).toSet -- keepRefs
    // publish the trimmed metadata BEFORE deleting files: a reader
    // racing the expire sees either the old metadata with files
    // intact or the new one that never names them
    val next = meta.deepCopy[ObjectNode]()
    val arr = next.putArray("snapshots")
    kept.foreach(arr.add)
    publishPinned(tableDir, v + 1, next, "expireSnapshots")
    dead.toSeq.sorted.filter(p => Files.deleteIfExists(Paths.get(p)))
  }

  // ---------------------------------------------------------------
  // Gated queries (q147/q148)
  // ---------------------------------------------------------------

  /** Session-cached two-snapshot Iceberg table over the orders
    * testdata: snapshot 1 = even order keys, snapshot 2 = OVERWRITE
    * with odd keys — the q128/q129 twin, so the two open formats are
    * gated by the same semantics. */
  private[graft] def ordersIcebergTable(spark: SparkSession,
                                        dir: String): String =
    DeltaLog.cachedTable(spark, dir, "iceberg") { (o, t) =>
      import org.apache.spark.sql.functions.{lit, pmod}
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), t)
    }

  /** q147 — ICEBERG READ (latest): plan through
    * metadata.json → manifest-list avro → manifest avro and scan the
    * live files. Equals the odd half of orders iff the second
    * overwrite snapshot's manifest list replaced the first. */
  def icebergRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersIcebergTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val icebergReadSql: String =
    """SELECT * FROM orders WHERE o_orderkey % 2 = 1 ORDER BY o_orderkey"""

  /** q148 — ICEBERG TIME TRAVEL: pins snapshot 1 (the even half),
    * proving every snapshot in the metadata stays addressable. */
  def icebergTimeTravel(spark: SparkSession, dir: String): DataFrame =
    readSnapshot(spark, ordersIcebergTable(spark, dir), 1L)
      .orderBy(col("o_orderkey"))

  val icebergTimeTravelSql: String =
    """SELECT * FROM orders WHERE o_orderkey % 2 = 0 ORDER BY o_orderkey"""

  /** Session-cached APPEND-lifecycle Iceberg table: three appends
    * (order keys mod 3) — the [[DeltaLog.commitAppend]] twin. Each
    * append's manifest-list carries the prior snapshot's manifests
    * plus one new manifest, so the read plans over all three. */
  private[graft] def ordersIcebergAppendTable(spark: SparkSession,
                                              dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergapp") { (o, t) =>
      import org.apache.spark.sql.functions.{lit, pmod}
      (0 to 2).foreach { m =>
        commitAppend(o.filter(pmod(col("o_orderkey"), lit(3)) === m), t)
      }
    }

  /** q153 — ICEBERG APPEND READBACK: reading the third append
    * snapshot must return the union of all three appends — an append
    * whose manifest-list dropped a prior manifest, or a planner that
    * read only the newest manifest, loses a third of the rows and
    * hash-mismatches. IcebergSpec separately asserts the latest plan
    * touches exactly 3 manifests and expiration keeps it readable. */
  def icebergAppendRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersIcebergAppendTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val icebergAppendReadSql: String =
    """SELECT * FROM orders ORDER BY o_orderkey"""

  /** q156 — ICEBERG INCREMENTAL READ: the snapshot-diff over the
    * append lifecycle's last two snapshots. Each consumed row is
    * tagged with the snapshot that appended it (keys ≡ id−1 mod 3 by
    * construction); snapshot 1's rows must NOT appear even though its
    * manifest rides in snapshot 3's manifest-list — the
    * added_snapshot_id filter is the gate. */
  def icebergIncrementalRead(spark: SparkSession, dir: String): DataFrame =
    readIncremental(spark, ordersIcebergAppendTable(spark, dir),
        fromSnapshotExclusive = 1L, toSnapshot = 3L)
      .orderBy(col("o_orderkey"))

  val icebergIncrementalReadSql: String =
    """SELECT o.*, o_orderkey % 3 + 1 AS _snapshot_id
      |FROM orders o WHERE o_orderkey % 3 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** Session-cached IDENTITY-PARTITIONED Iceberg table: orders
    * partitioned by `o_orderstatus` through the metadata chain — the
    * [[DeltaLog.ordersPartitionedTable]] twin. The status column's
    * values exist only in the manifest partition tuples. */
  private[graft] def ordersIcebergPartitionedTable(spark: SparkSession,
                                                   dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergpart") { (o, t) =>
      commitOverwritePartitioned(o, t, Seq("o_orderstatus"))
    }

  /** q157 — ICEBERG PARTITION-PRUNED READ: a predicate on the
    * identity-partition column is answered by [[readWhere]] over
    * manifest partition tuples, dropping non-matching files before
    * the scan exists — the q145 twin on the second open format. The
    * oracle is the plain full-table filter; IcebergSpec bounds
    * files-planned to the 'P' partition's files via the seam. */
  def icebergPartitionPrunedRead(spark: SparkSession,
                                 dir: String): DataFrame =
    readWhere(spark, ordersIcebergPartitionedTable(spark, dir))(
        pv => pv.get("o_orderstatus").contains("P"))
      .filter(col("o_orderstatus") === "P")
      .orderBy(col("o_orderkey"))

  val icebergPartitionPrunedReadSql: String =
    """SELECT * FROM orders WHERE o_orderstatus = 'P' ORDER BY o_orderkey"""

  /** Session-cached v2 MERGE-ON-READ table: one overwrite snapshot
    * of orders, then a [[deleteWhere]] of every tenth key — the data
    * files are untouched; the deleted rows exist only as (file, pos)
    * pairs in a position-delete file. */
  private[graft] def ordersIcebergDeleteTable(spark: SparkSession,
                                              dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergdel") { (o, t) =>
      import org.apache.spark.sql.functions.{lit, pmod}
      commitOverwrite(o, t)
      deleteWhere(spark, t, pmod(col("o_orderkey"), lit(10)) === 0)
    }

  /** q158 — ICEBERG V2 POSITION DELETES: reading the delete snapshot
    * must anti-join the untouched data files against the delete
    * file's (file, pos) pairs — a reader that ignored the delete
    * manifest returns the deleted tenth and hash-mismatches; one that
    * mis-applied positions deletes the wrong rows and also
    * mismatches. Time travel to snapshot 1 (pre-delete) stays whole,
    * IcebergSpec-held. */
  def icebergDeleteRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersIcebergDeleteTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val icebergDeleteReadSql: String =
    """SELECT * FROM orders WHERE o_orderkey % 10 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** Session-cached MoR table AFTER [[rewriteDataFiles]]: the q158
    * shape (overwrite + tenth-key delete), then the compaction that
    * folds the deletes in. */
  private[graft] def ordersIcebergRewriteTable(spark: SparkSession,
                                               dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergrw") { (o, t) =>
      import org.apache.spark.sql.functions.{lit, pmod}
      commitOverwrite(o, t)
      deleteWhere(spark, t, pmod(col("o_orderkey"), lit(10)) === 0)
      rewriteDataFiles(spark, t)
    }

  /** q159 — ICEBERG REWRITE (MoR compaction readback): after
    * `rewrite_data_files` the same rows must come back from a
    * delete-manifest-free snapshot — a rewrite that resurrected
    * deleted rows, dropped live ones, or kept serving the old delete
    * files hash-mismatches; IcebergSpec separately asserts the new
    * snapshot plans zero delete files. */
  def icebergRewriteRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersIcebergRewriteTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val icebergRewriteReadSql: String =
    """SELECT * FROM orders WHERE o_orderkey % 10 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** Session-cached SCHEMA-EVOLUTION Iceberg table — the
    * [[DeltaLog.ordersEvolvedTable]] twin: snapshot 1 = even keys
    * without `o_orderpriority`, a metadata-only evolution adding it,
    * snapshot 2 = append of the odd keys with all 6 columns. */
  private[graft] def ordersIcebergEvolvedTable(spark: SparkSession,
                                               dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergev") { (o, t) =>
      import org.apache.spark.sql.functions.{lit, pmod}
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .drop("o_orderpriority"), t)
      evolveSchema(t, StructType(o.schema.fields.map(f =>
        if (f.name == "o_orderpriority") f.copy(nullable = true) else f)))
      commitAppend(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), t)
    }

  /** q161 — ICEBERG SCHEMA EVOLUTION READBACK: one scan serves both
    * file generations — pre-evolution files surface NULL for the
    * added column, the post-evolution append carries real values. */
  def icebergEvolvedRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersIcebergEvolvedTable(spark, dir))
      .orderBy(col("o_orderkey"))

  // def, not val: aliases DeltaLog's text — see deltaStatsPrunedReadSql
  def icebergEvolvedReadSql: String = DeltaLog.deltaEvolvedReadSql

  /** q151's probe range: keys are dense from 0 at every SF, so the
    * range covers the low tail of a range-clustered layout — most
    * files' bounds exclude it entirely. */
  private[graft] val PruneKeyLo = 100L
  private[graft] val PruneKeyHi = 999L

  /** Session-cached RANGE-CLUSTERED Iceberg table: orders
    * `repartitionByRange(8)` on the key before the snapshot commit,
    * so each data file's manifest bounds span a disjoint key slice —
    * the layout that makes bounds pruning pay (the q100→q104
    * cluster-then-skip shape, here through the open format's own
    * stats). */
  private[graft] def ordersIcebergRangeTable(spark: SparkSession,
                                             dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergr") { (o, t) =>
      commitOverwrite(o.repartitionByRange(8, col("o_orderkey")), t)
    }

  /** q151 — ICEBERG BOUNDS-PRUNED READ: a key-range predicate is
    * answered by [[readPrunedRange]], which drops files whose
    * manifest lower/upper bounds exclude the range before the scan
    * exists — Iceberg data skipping end-to-end (footer stats →
    * manifest bounds → planner pruning). The oracle is the plain
    * full-table filter, so pruning that dropped a matching file
    * hash-mismatches; IcebergSpec bounds files-planned via the seam. */
  def icebergPrunedRead(spark: SparkSession, dir: String): DataFrame =
    readPrunedRange(spark, ordersIcebergRangeTable(spark, dir),
        Seq(("o_orderkey", PruneKeyLo, PruneKeyHi)))
      .filter(col("o_orderkey").between(PruneKeyLo, PruneKeyHi))
      .orderBy(col("o_orderkey"))

  val icebergPrunedReadSql: String =
    s"""SELECT * FROM orders
       |WHERE o_orderkey BETWEEN $PruneKeyLo AND $PruneKeyHi
       |ORDER BY o_orderkey""".stripMargin

  /** q165's probe customer — any key with orders at every SF works
    * (custkeys are dense from 0); the gate is that its bucket is
    * computed identically at write and prune time. */
  private[graft] val BucketProbeCustkey = 42L
  private[graft] val BucketCount = 8

  /** Session-cached HIDDEN-partitioned Iceberg table: orders clustered
    * by `bucket[8](o_custkey)` — the derived bucket exists only in
    * manifest tuples (`o_custkey_bucket`); the data files keep the
    * full 6-column schema. */
  private[graft] def ordersIcebergBucketTable(spark: SparkSession,
                                              dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergbkt") { (o, t) =>
      commitOverwriteHidden(o, t, Seq("o_custkey" -> s"bucket[$BucketCount]"))
    }

  /** q165 — ICEBERG HIDDEN BUCKET PRUNING: a point predicate on the
    * RAW customer key is answered by applying the spec's bucket
    * transform (murmur3 seed 0 over the 8-byte LE form — the
    * published Iceberg definition, vector-pinned in IcebergSpec) to
    * the predicate value and keeping only files whose manifest tuple
    * carries that bucket — hidden partitioning end to end. A bucket
    * function that disagreed between write and prune drops the
    * customer's rows and hash-mismatches against the full-table
    * oracle; IcebergSpec bounds files-planned to one bucket's files. */
  def icebergBucketPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    val b = graft.functions.IcebergTransforms
      .bucketLong(BucketProbeCustkey, BucketCount)
    readWhere(spark, ordersIcebergBucketTable(spark, dir))(
        pv => pv.get("o_custkey_bucket").contains(b.toString))
      .filter(col("o_custkey") === BucketProbeCustkey)
      .orderBy(col("o_orderkey"))
  }

  val icebergBucketPrunedReadSql: String =
    s"""SELECT * FROM orders WHERE o_custkey = $BucketProbeCustkey
       |ORDER BY o_orderkey""".stripMargin

  /** q177 — ICEBERG PREDICATE PUSHDOWN THROUGH A HIDDEN TRANSFORM:
    * the same point predicate as q165, but [[readFiltered]] derives
    * the bucket pruning from the predicate itself — the caller never
    * names the transform. A mapping that missed the spec field, or a
    * bucket function diverging from the write side, either returns
    * extra files (caught by the files-planned spec bound) or loses
    * the customer's rows (hash mismatch). */
  def icebergPushdownRead(spark: SparkSession, dir: String): DataFrame =
    readFiltered(spark, ordersIcebergBucketTable(spark, dir),
        col("o_custkey") === lit(BucketProbeCustkey))
      .orderBy(col("o_orderkey"))

  val icebergPushdownReadSql: String =
    s"""SELECT * FROM orders WHERE o_custkey = $BucketProbeCustkey
       |ORDER BY o_orderkey""".stripMargin

  /** Session-cached HIDDEN month-partitioned Iceberg table: orders
    * clustered by `month(o_orderdate)` — ~80 month partitions over
    * the 1992–1998 date range, tuple field `o_orderdate_month` =
    * months from 1970-01. */
  private[graft] def ordersIcebergMonthTable(spark: SparkSession,
                                             dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergmon") { (o, t) =>
      commitOverwriteHidden(o, t, Seq("o_orderdate" -> "month"))
    }

  /** q166 — ICEBERG HIDDEN MONTH PRUNING: a raw date-range predicate
    * (1995-03 through 1995-05) is answered by mapping the range to
    * month ordinals and pruning manifest tuples — the time-partition
    * pattern every 100 TB event lake rides (scan three months, not
    * seven years). The oracle is the plain full-table range filter;
    * IcebergSpec asserts files-planned counts only the three months. */
  def icebergMonthPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IcebergTransforms.monthOrdinal
    val lo = monthOrdinal(1995, 3)
    val hi = monthOrdinal(1995, 5)
    readWhere(spark, ordersIcebergMonthTable(spark, dir))(
        pv => pv.get("o_orderdate_month")
          .exists { m => val v = m.toInt; v >= lo && v <= hi })
      .filter(col("o_orderdate") >= lit("1995-03-01") &&
        col("o_orderdate") < lit("1995-06-01"))
      .orderBy(col("o_orderkey"))
  }

  val icebergMonthPrunedReadSql: String =
    """SELECT * FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1995-06-01 00:00:00'
      |ORDER BY o_orderkey""".stripMargin

  /** Session-cached PRE-IMAGE fixture (q218): orders range-clustered
    * into 8 files (snap 1), an EQUALITY delete of the lowest ~decile
    * of the key range (snap 2 — narrow by construction, so the
    * pre-image planner's key-bounds prune has something to prove),
    * and the re-appended new versions (snap 3) — the upsert wire. */
  private[graft] def ordersIcebergPreimageTable(spark: SparkSession,
                                                dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergpreimg") { (o, t) =>
      import org.apache.spark.sql.functions.{max, min}
      commitAppend(o.repartitionByRange(8, col("o_orderkey")), t)
      val mm = o.agg(min(col("o_orderkey")), max(col("o_orderkey")))
        .head()
      // k <= lo + (hi - lo)/10  ⇔  10k <= 9*lo + hi (integer-exact,
      // the same cut the oracle recomputes)
      val cut = 9 * mm.getLong(0) + mm.getLong(1)
      val doomed = o.filter(col("o_orderkey") * 10 <= cut)
      deleteWhereEquality(spark, t, doomed.select(col("o_orderkey")))
      commitAppend(doomed.withColumn("o_orderpriority", lit("UPSERT")),
        t)
    }

  /** Session-cached PARTITION-SPEC-EVOLUTION table (q214): even
    * orders committed under `year(o_orderdate)` (spec 0), the spec
    * evolved to `month(o_orderdate)` (spec 1), odd orders appended
    * under it — two generations, two layouts, one table (the
    * daily→hourly shape every real Iceberg user hits the first time
    * they change partitioning). */
  private[graft] def ordersIcebergSpecEvoTable(spark: SparkSession,
                                               dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergspecevo") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwriteHidden(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t,
        Seq("o_orderdate" -> "year"))
      evolvePartitionSpec(t, hiddenSpec = Seq("o_orderdate" -> "month"))
      commitAppendHidden(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1), t,
        Seq("o_orderdate" -> "month"))
    }

  /** q214 — PARTITION-SPEC EVOLUTION: one raw date-range read over a
    * table whose history spans TWO partition specs. Planning prunes
    * each manifest under ITS OWN spec — the year generation by year
    * ordinals, the month generation by month ordinals — and the
    * in-query seam requires BOTH generations to contribute files AND
    * both to have pruned (a reader that applied only the default
    * spec would silently full-scan the old generation). The oracle
    * is the plain full-table range filter. */
  def icebergSpecEvolutionRead(spark: SparkSession,
                               dir: String): DataFrame = {
    val t = ordersIcebergSpecEvoTable(spark, dir)
    val got = readFiltered(spark, t,
      col("o_orderdate") >=
        lit(java.sql.Timestamp.valueOf("1995-02-01 00:00:00")) &&
        col("o_orderdate") <
          lit(java.sql.Timestamp.valueOf("1995-09-01 00:00:00")))
    Seq(0, 1).foreach { sid =>
      val total = lastFilesTotalBySpec.getOrElse(sid, 0)
      val planned = lastFilesPlannedBySpec.getOrElse(sid, 0)
      require(planned > 0,
        s"spec $sid contributed no files — the multi-spec read " +
          "lost a generation")
      require(planned < total,
        s"spec $sid did not prune ($planned of $total files) — " +
          "per-spec tuple pruning is off")
    }
    got.orderBy(col("o_orderkey"))
  }

  val icebergSpecEvolutionReadSql: String =
    """SELECT * FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-02-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1995-09-01 00:00:00'
      |ORDER BY o_orderkey""".stripMargin

  /** q169 — ICEBERG TIMESTAMP TIME TRAVEL: `FOR TIMESTAMP AS OF` the
    * first snapshot's recorded timestamp-ms must resolve to snapshot
    * 1 (the even half) even though snapshot 2 overwrote it — the
    * writer's monotonic timestamps plus the resolver's
    * latest-≤-timestamp rule are the gate; a resolver off by one
    * snapshot returns the odd half and hash-mismatches. */
  def icebergAsOfRead(spark: SparkSession, dir: String): DataFrame = {
    val t = ordersIcebergTable(spark, dir)
    readAsOfTimestamp(spark, t, snapshotTimestamps(t).head._2)
      .orderBy(col("o_orderkey"))
  }

  val icebergAsOfReadSql: String = icebergTimeTravelSql

  /** Session-cached ROLLBACK lifecycle table: even-keys snapshot, odd
    * overwrite, then `rollback_to_snapshot(1)` — three metadata
    * versions, the last re-pointing current-snapshot-id at 1. */
  private[graft] def ordersIcebergRollbackTable(spark: SparkSession,
                                                dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergrb") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), t)
      rollbackTo(t, 1L)
    }

  /** q171 — ICEBERG ROLLBACK READBACK: after the metadata-only
    * rollback the current read must serve snapshot 1 again while
    * snapshot 2 stays addressable (IcebergSpec-held) — a rollback
    * that dropped snapshots from the list, or a reader that kept
    * serving the highest snapshot id instead of
    * current-snapshot-id, both fail. */
  def icebergRollbackRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersIcebergRollbackTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val icebergRollbackReadSql: String = icebergTimeTravelSql

  /** Session-cached TAGGED table: even snapshot, odd overwrite, then
    * `setRef("audit-even", 1, tag)` — the pre-overwrite state held by
    * name. IcebergSpec separately proves expireSnapshots retains the
    * tagged snapshot past the horizon and releases it on dropRef. */
  private[graft] def ordersIcebergTagTable(spark: SparkSession,
                                           dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergtag") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), t)
      setRef(t, "audit-even", 1L)
    }

  /** q180 — ICEBERG NAMED REF READBACK: `VERSION AS OF 'audit-even'`
    * resolves the tag through the metadata's `refs` map to snapshot 1
    * (the even half) while the current read serves the overwrite — a
    * resolver that read current, or a ref write that lost the
    * snapshot id, hash-mismatches. */
  def icebergTagRead(spark: SparkSession, dir: String): DataFrame =
    readRef(spark, ordersIcebergTagTable(spark, dir), "audit-even")
      .orderBy(col("o_orderkey"))

  val icebergTagReadSql: String = icebergTimeTravelSql

  /** Session-cached WRITE-AUDIT-PUBLISH table: evens on main, odds
    * staged onto the `audit` branch (main still serves evens — the
    * audit window, IcebergSpec-held), then `fastForward` publishes. */
  private[graft] def ordersIcebergWapTable(spark: SparkSession,
                                           dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergwap") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
      commitAppendToBranch(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1), t, "audit")
      fastForward(t, "audit")
    }

  /** q182 — WRITE-AUDIT-PUBLISH READBACK: after the publish, main
    * must serve the staged union (evens + odds) through ONE atomic
    * metadata step — a branch commit that moved main early breaks
    * the audit window (spec-held mid-state), one whose staged
    * snapshot lost main's manifests drops the evens and
    * hash-mismatches here. */
  def icebergWapRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersIcebergWapTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val icebergWapReadSql: String =
    """SELECT * FROM orders ORDER BY o_orderkey"""

  /** Session-cached WAP table held in its PRE-publish state: evens
    * committed on main, odds staged onto the `audit` branch, NO
    * fast-forward — the audit window stays open so the validation
    * query can interrogate the stage by name. */
  private[graft] def ordersIcebergWapStageTable(spark: SparkSession,
                                                dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergwapstage") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
      commitAppendToBranch(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1), t, "audit")
    }

  /** q184 — BRANCH READ PRE-PUBLISH (`VERSION AS OF 'audit'`): the
    * write-audit-publish VALIDATION query — real WAP auditors query
    * the staged branch BY NAME before deciding to publish, so the
    * branch must be readable through plain SQL
    * (`iceberg_scan(path, 'audit')`) while main still serves only
    * the evens (IcebergSpec holds the mid-state). The branch head
    * carries main's manifests plus the staged odds = the full
    * table; a ref resolver that read main instead, or a branch
    * commit that dropped the parent's manifests, hash-mismatches. */
  def icebergBranchRead(spark: SparkSession, dir: String): DataFrame = {
    graft.extensions.GraftExtensions.registerTableFunctions(spark)
    val t = ordersIcebergWapStageTable(spark, dir)
    spark.sql(
      s"SELECT * FROM iceberg_scan('$t', 'audit') ORDER BY o_orderkey")
  }

  val icebergBranchReadSql: String =
    """SELECT * FROM orders ORDER BY o_orderkey"""

  /** Session-cached STORAGE-LIFECYCLE table — the
    * [[DeltaLog.ordersRetentionTable]] twin with Iceberg's
    * machinery: two disjoint appends (snapshots 1/2), a TAG on the
    * pre-delete state, a v2 POSITION DELETE of every tenth key that
    * exists only as a delete file (snapshot 3), a rewrite that folds
    * the MoR debt into compacted files (snapshot 4), then
    * expireSnapshots(keepLast=1) — which must expire snapshots 1 and
    * 3 (reclaiming the position-delete parquet and the orphaned
    * manifest-lists) while RETAINING tag-pinned snapshot 2 past the
    * count horizon and every file it references. Builder-`require`d:
    * the expire reclaimed the delete file, and kept the tagged
    * snapshot readable. */
  private[graft] def ordersIcebergRetentionTable(spark: SparkSession,
                                                 dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergret") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitAppend(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
      commitAppend(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), t)
      setRef(t, "pre-delete", 2L)
      deleteWhere(spark, t, pmod(col("o_orderkey"), lit(10)) === 0)
      rewriteDataFiles(spark, t)
      val reclaimed = expireSnapshots(t, keepLast = 1)
      require(reclaimed.exists(_.contains("/data/delete-")),
        s"expire must reclaim snapshot 3's position-delete file, " +
          s"got ${reclaimed.mkString(", ")}")
      require(snapshotIds(t).toSet == Set(2L, 4L),
        "expire keeps the tag-pinned snapshot 2 and the current 4, " +
          s"got ${snapshotIds(t)}")
    }

  /** q186 — RETENTION × REFS READBACK: after append → tag → MoR
    * delete → rewrite → EXPIRE(keep current), one query interrogates
    * both survivors — `src='main'` rows come from the compacted
    * current snapshot (orders minus the deleted tenths, served with
    * ZERO delete files left on disk), `src='tag'` rows come from
    * tag-pinned snapshot 2 held past the count horizon (the full
    * pre-delete orders). An expire that reference-counted wrong
    * either breaks the tag read (reclaimed a pinned manifest) or
    * leaks deleted rows into main; a rewrite that dropped the MoR
    * debt resurrects the tenths — each hash-mismatches the two-arm
    * oracle. */
  def icebergRetentionRead(spark: SparkSession, dir: String): DataFrame = {
    val t = ordersIcebergRetentionTable(spark, dir)
    read(spark, t).withColumn("src", lit("main"))
      .unionByName(
        readRef(spark, t, "pre-delete").withColumn("src", lit("tag")))
      .orderBy(col("o_orderkey"), col("src"))
  }

  val icebergRetentionReadSql: String =
    """SELECT * FROM (
      |  SELECT o.*, 'main' AS src FROM orders o
      |  WHERE o_orderkey % 10 <> 0
      |  UNION ALL
      |  SELECT o.*, 'tag' AS src FROM orders o
      |) ORDER BY o_orderkey, src""".stripMargin

  /** Session-cached RENAMED table: even keys appended, the
    * o_orderpriority column renamed (metadata-only), then the odd
    * keys appended UNDER THE NEW NAME — the table's files spell the
    * same field id with two different parquet column names, which
    * only field-id resolution can reconcile. */
  private[graft] def ordersIcebergRenameTable(spark: SparkSession,
                                              dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergren") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitAppend(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
      renameColumn(t, "o_orderpriority", "priority")
      commitAppend(o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .withColumnRenamed("o_orderpriority", "priority"), t)
    }

  /** q189 — ICEBERG COLUMN RENAME READBACK (the q167/q187 twin on
    * this format): pre-rename files spell `o_orderpriority`,
    * post-rename files spell `priority`, and BOTH carry parquet
    * field id 6 — the read must resolve every file by ID (the
    * Iceberg spec's resolution rule) and surface one `priority`
    * column over the full union. A name-resolving reader NULLs the
    * column for half the table; one that missed the schema-history
    * carry reads the wrong schema-id — both hash-mismatch. */
  def icebergRenameRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersIcebergRenameTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val icebergRenameReadSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority AS priority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q191 — `table$snapshots` AS SQL: `iceberg_snapshots(path)` over
    * the equality-delete lifecycle table must list the snapshot
    * history with each summary operation — overwrite, delete, append
    * — straight from the metadata chain, no data scanned. A walker
    * that read only the current snapshot, or lost the delete
    * snapshot's summary, hash-mismatches the literal oracle. */
  def sqlIcebergSnapshots(spark: SparkSession, dir: String): DataFrame = {
    graft.extensions.GraftExtensions.registerTableFunctions(spark)
    val t = ordersIcebergEqDeleteTable(spark, dir)
    spark.sql(
      s"SELECT * FROM iceberg_snapshots('$t') ORDER BY snapshot_id")
  }

  val sqlIcebergSnapshotsSql: String =
    """SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'overwrite'),
      |  (2, 'delete'), (3, 'append')) AS t(snapshot_id, operation)
      |ORDER BY snapshot_id""".stripMargin

  /** Session-cached EQUALITY-DELETE lifecycle table: snapshot 1 = odd
    * order keys; snapshot 2 = equality delete of key
    * `o_orderstatus='P'`; snapshot 3 = APPEND of the even keys —
    * whose 'P' rows must SURVIVE, because the delete's sequence
    * precedes theirs. */
  private[graft] def ordersIcebergEqDeleteTable(spark: SparkSession,
                                                dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergeqd") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), t)
      deleteWhereEquality(spark, t,
        o.select(col("o_orderstatus"))
          .filter(col("o_orderstatus") === "P").distinct())
      commitAppend(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
    }

  /** q173 — ICEBERG V2 EQUALITY DELETES: the delete must remove the
    * odd 'P' rows by VALUE (no file/position named anywhere) while
    * the even 'P' rows appended AFTER it survive — the sequence
    * scoping that makes equality deletes the CDC-upsert primitive.
    * A reader that applied the delete globally kills the appended
    * 'P's; one that ignored content=2 returns the odd 'P's; both
    * hash-mismatch the two-arm oracle. */
  def icebergEqDeleteRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersIcebergEqDeleteTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val icebergEqDeleteReadSql: String =
    """SELECT * FROM orders
      |WHERE (o_orderkey % 2 = 1 AND o_orderstatus <> 'P')
      |   OR o_orderkey % 2 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** q179 — ICEBERG TIME TRAVEL AS A SQL TABLE FUNCTION:
    * `iceberg_scan(path, snapshot_id)` in plain SQL — the q178 twin
    * with the time-travel argument, pinning snapshot 1 (the even
    * half) through the SQL surface. */
  def sqlIcebergScan(spark: SparkSession, dir: String): DataFrame = {
    graft.extensions.GraftExtensions.registerTableFunctions(spark)
    val t = ordersIcebergTable(spark, dir)
    spark.sql(s"SELECT * FROM iceberg_scan('$t', 1) ORDER BY o_orderkey")
  }

  val sqlIcebergScanSql: String = icebergTimeTravelSql

  /** UPSERT through the v2 delete+append pattern — exactly what a
    * Flink CDC writer emits per checkpoint: ONE equality delete of
    * the updates' keys (retires any prior row version, costs
    * O(distinct keys) bytes), then ONE append of the updates. MERGE
    * semantics emerge at read time from sequence scoping — the
    * appended rows outlive the delete because they are newer. No
    * data file is ever rewritten; the MoR debt is reclaimed by
    * [[rewriteDataFiles]] on the maintenance cadence. Returns the
    * append's snapshot id. */
  def upsert(spark: SparkSession, tableDir: String,
             updates: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "upsert needs key columns")
    deleteWhereEquality(spark, tableDir,
      updates.select(keyCols.map(col): _*))
    commitAppend(updates, tableDir)
  }

  /** [[upsert]] against an IDENTITY-PARTITIONED table: the append
    * half declares the table's spec (each new file's manifest entry
    * carries its partition tuple); the equality-delete half is
    * partition-independent (value-matched, sequence-scoped — the
    * spec's global equality delete). When the partition columns are
    * part of `keyCols` — the usual CDC-table shape (partition key ⊆
    * primary key) — the delete file itself carries the partition
    * values, so CDF consumers see partitioned delete rows. */
  def upsertPartitioned(spark: SparkSession, tableDir: String,
                        updates: DataFrame, keyCols: Seq[String],
                        partCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "upsert needs key columns")
    deleteWhereEquality(spark, tableDir,
      updates.select(keyCols.map(col): _*))
    commitAppendPartitioned(updates, tableDir, partCols)
  }

  /** Session-cached UPSERT lifecycle table: full orders, then one
    * [[upsert]] batch rewriting every third key's priority to
    * 'MERGED' — two metadata snapshots, zero data files rewritten. */
  private[graft] def ordersIcebergUpsertTable(spark: SparkSession,
                                              dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergups") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o, t)
      upsert(spark, t,
        o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
          .withColumn("o_orderpriority", lit("MERGED")),
        Seq("o_orderkey"))
    }

  /** Session-cached STACKED-upsert lifecycle table (the q202
    * fixture): full orders, [[upsert]] every third key to 'MERGED',
    * then [[upsert]] every fifth key to 'MERGED2' — five snapshots
    * (creation append, then per upsert: equality-delete + append),
    * the exact per-checkpoint wire a Flink CDC writer emits. The
    * second upsert's delete retires BOTH generations of its keys
    * (the original rows and any 'MERGED' rewrite), which is what
    * sequence scoping guarantees at read time and what a streaming
    * consumer must replay as two delete+insert rounds. */
  private[graft] def ordersIcebergUpsert2Table(spark: SparkSession,
                                               dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergups2") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o, t)
      upsert(spark, t,
        o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
          .withColumn("o_orderpriority", lit("MERGED")),
        Seq("o_orderkey"))
      upsert(spark, t,
        o.filter(pmod(col("o_orderkey"), lit(5)) === 0)
          .withColumn("o_orderpriority", lit("MERGED2")),
        Seq("o_orderkey"))
    }

  /** Session-cached PARTITIONED upsert lifecycle table (the q208
    * fixture): full orders committed IDENTITY-PARTITIONED by
    * o_orderstatus (data files hive-stripped — the tuple substitutes
    * on read), then one [[upsertPartitioned]] keyed (o_orderkey,
    * o_orderstatus) rewriting status-'F' %3 keys' priority to
    * 'MERGED' — partition key ⊆ primary key, the usual CDC-table
    * shape, so the equality-delete file itself carries the partition
    * values. Three snapshots: creation, equality delete, partitioned
    * append. */
  private[graft] def ordersIcebergPartUpsertTable(spark: SparkSession,
                                                  dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergpups") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwritePartitioned(o, t, Seq("o_orderstatus"))
      upsertPartitioned(spark, t,
        o.filter(col("o_orderstatus") === "F" &&
            pmod(col("o_orderkey"), lit(3)) === 0)
          .withColumn("o_orderpriority", lit("MERGED")),
        Seq("o_orderkey", "o_orderstatus"), Seq("o_orderstatus"))
    }

  /** Session-cached OVERWRITE-lifecycle table (the q210 fixture):
    * evens at snapshot 1, position-delete of every tenth key at
    * snapshot 2, then a TRUE OVERWRITE with the odds at snapshot 3 —
    * the history shape a RESTORE or dataChange compaction leaves
    * behind, which the CDF stream must express as a masked file-set
    * diff. */
  private[graft] def ordersIcebergOverwriteCdfTable(
      spark: SparkSession, dir: String): String =
    DeltaLog.cachedTable(spark, dir, "icebergowcdf") { (o, t) =>
      import org.apache.spark.sql.functions.pmod
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), t)
      deleteWhere(spark, t, pmod(col("o_orderkey"), lit(10)) === 0)
      commitOverwrite(o.filter(pmod(col("o_orderkey"), lit(2)) === 1),
        t): Unit
    }

  /** q174 — ICEBERG CDC UPSERT READBACK: every third key must carry
    * the updated priority and appear EXACTLY ONCE — an upsert whose
    * delete missed (duplicated keys), whose append was scoped under
    * the delete (lost updates), or whose key matching leaked to
    * other keys, all hash-mismatch the MERGE-algebra oracle (the
    * q155 twin, here through the open v2 delete+append pattern). */
  def icebergUpsertRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, ordersIcebergUpsertTable(spark, dir))
      .orderBy(col("o_orderkey"))

  val icebergUpsertReadSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate,
      |  CASE WHEN o_orderkey % 3 = 0 THEN 'MERGED'
      |       ELSE o_orderpriority END AS o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin
}
