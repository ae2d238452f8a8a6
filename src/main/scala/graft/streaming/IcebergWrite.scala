package graft.streaming

import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write,
  WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{Metadata, MetadataBuilder,
  StructField, StructType}

import graft.sources.{DeltaLog, Iceberg}

/** The DSv2 WRITE half of `graft-iceberg` —
  * `df.write.format("graft-iceberg").mode("append"/"overwrite")
  * [.partitionBy(...)].save/option("path", dir)` and the SQL
  * catalog's native INSERT. Executors run the SAME stats-tracking
  * writers as the Delta connector ([[DeltaWriterFactory]]) with two
  * Iceberg-specific twists: files land under `data/` and every
  * column carries its `parquet.field.id` (position + 1 — the spec
  * REQUIRES ids in data files so any client resolves columns across
  * renames). This is the one Iceberg data-write path: the library
  * commits ([[Iceberg]]'s `commit*`, through [[StagedWrite]]) and
  * the SQL copy-on-write rewrite run the same writers. The file
  * layout comes from [[Iceberg.writerKeys]], decided once per table:
  * identity partition columns are projected out of the files
  * hive-style, unless the table's files already carry them (standard
  * shape), and either way the manifest records typed tuples. The
  * driver then publishes through [[Iceberg.commitDsv2]]:
  * writer-tracked numRecords and long/int bounds become the
  * manifest's record_count and value bounds (no post-write footer
  * pass), and the metadata claim rides the same CAS loop as every
  * library commit.
  *
  * HIDDEN transform specs (bucket/truncate/day/month/year/hour) are
  * native too: the executor writers key files on the DERIVED tuple
  * ([[graft.functions.IcebergTransforms]] scalars — the same
  * implementation the manifest pruner applies), data files keep the
  * full schema, and the manifest records typed transform tuples. */
private[streaming] class IcebergDsv2WriteBuilder(tableDir: String,
    info: LogicalWriteInfo, declaredPartCols: Seq[String],
    declaredHidden: Seq[(String, String)] = Seq.empty)
  extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = {
    overwrite = true
    this
  }

  /** Resolve the writers' file keys (identity partCols, hidden spec)
    * against the table's CURRENT default spec — the write inherits
    * it whole, laid out by [[Iceberg.writerKeys]]: identity specs
    * project their columns out hive-style unless the table's files
    * carry them, HIDDEN transform specs
    * (bucket/truncate/day/month/year/hour) key the executor writers
    * on the derived tuple with the data files keeping the full
    * schema. `partitionBy(...)` may only re-declare an identity spec
    * (Spark's writer API has no transform spelling). */
  private def resolvedSpec(
      schema: StructType): (Seq[String], Seq[(String, String)]) = {
    val (partCols, hidden) =
      if (Iceberg.versions(tableDir).nonEmpty) {
        val spec = Iceberg.currentSpecFields(tableDir)
        val hiddenFields = spec.filter(_._2 != "identity")
        if (hiddenFields.nonEmpty) {
          require(spec.forall(_._2 != "identity"),
            s"graft-iceberg DSv2 write: table $tableDir mixes " +
              "identity and derived transforms in one spec — write " +
              "through Iceberg.commitAppendHidden")
          require(declaredPartCols.isEmpty,
            s"graft-iceberg write: partitionBy(${declaredPartCols
              .mkString(", ")}) cannot re-declare table $tableDir's " +
              s"hidden spec ($hiddenFields) — omit partitionBy; the " +
              "write inherits the spec")
          (Seq.empty[String], spec)
        } else {
          val cols = spec.map(_._1)
          require(declaredPartCols.isEmpty ||
              declaredPartCols == cols,
            s"graft-iceberg write: partitionBy(${declaredPartCols
              .mkString(", ")}) does not match table $tableDir's " +
              s"spec (${cols.mkString(", ")})")
          (cols, Seq.empty[(String, String)])
        }
      } else (declaredPartCols, declaredHidden)
    val missing = (partCols ++ hidden.map(_._1))
      .filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"graft-iceberg write: partition source columns " +
        s"${missing.mkString(", ")} not in the written columns")
    Iceberg.writerKeys(tableDir, partCols, hidden)
  }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val schema = info.schema()
      val (partCols, hidden) = resolvedSpec(schema)
      new IcebergBatchWrite(tableDir, schema, partCols, hidden,
        overwrite)
    }

    /** `df.writeStream.format("graft-iceberg")` — exactly-once via
      * the snapshot-summary epoch watermark
      * ([[Iceberg.commitDsv2Idempotent]]); append-only. */
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming
          .StreamingWrite = {
      require(!overwrite,
        "graft-iceberg streaming sink is APPEND-only — complete " +
          "mode rewrites the table per trigger; use foreachBatch + " +
          "Iceberg.commitOverwrite for that shape")
      val schema = info.schema()
      val (partCols, hidden) = resolvedSpec(schema)
      new IcebergStreamingWrite(tableDir, schema, partCols, hidden,
        info.queryId())
    }
  }
}

/** The Iceberg exactly-once streaming sink — the
  * [[DeltaStreamingWrite]] twin: same executor writers, epoch
  * identity in the snapshot summary. */
private[streaming] class IcebergStreamingWrite(tableDir: String,
    logicalSchema: StructType, partCols: Seq[String],
    hiddenSpec: Seq[(String, String)], queryId: String)
  extends org.apache.spark.sql.connector.write.streaming
    .StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming
    .StreamingDataWriterFactory

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new DeltaWriterFactory(tableDir, logicalSchema.json,
      IcebergDsv2Write.fieldIdSchema(logicalSchema).json, partCols,
      relPrefix = "data/", hiddenSpec = hiddenSpec)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit =
    Iceberg.commitDsv2Idempotent(tableDir, logicalSchema, partCols,
      messages.toSeq.flatMap(_.asInstanceOf[Dsv2CommitMsg].files),
      appId = queryId, epochId = epochId,
      hiddenSpec = hiddenSpec): Unit

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.foreach {
      case Dsv2CommitMsg(files) => Iceberg.dropFiles(tableDir, files)
      case _ => ()
    }
}

private[graft] object IcebergDsv2Write {
  /** The PHYSICAL write schema: every top-level column stamped with
    * its spec field id (position + 1, the id assignment every
    * metadata writer in this engine uses), so the executor writers
    * emit id-resolvable files. */
  def fieldIdSchema(schema: StructType): StructType =
    StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      StructField(f.name, f.dataType, nullable = true,
        new MetadataBuilder().withMetadata(Metadata.empty)
          .putLong("parquet.field.id", i + 1L).build())
    })
}

private[streaming] class IcebergBatchWrite(tableDir: String,
    logicalSchema: StructType, partCols: Seq[String],
    hiddenSpec: Seq[(String, String)],
    overwrite: Boolean) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new DeltaWriterFactory(tableDir, logicalSchema.json,
      IcebergDsv2Write.fieldIdSchema(logicalSchema).json, partCols,
      relPrefix = "data/", hiddenSpec = hiddenSpec)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq
      .flatMap(_.asInstanceOf[Dsv2CommitMsg].files)
    Iceberg.commitDsv2(tableDir, logicalSchema, partCols, files,
      overwrite, hiddenSpec = hiddenSpec): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.foreach {
      case Dsv2CommitMsg(files) => Iceberg.dropFiles(tableDir, files)
      case _ => ()
    }
}

/** The Iceberg COW replace write — [[ReplaceFilesBatchWrite]]'s
  * twin: same executor writers (file keys from
  * [[Iceberg.writerKeys]]), commit swaps the rewrite group for the
  * new files through [[Iceberg.commitReplaceDsv2]]'s
  * conflict-proving overwrite snapshot. */
private[streaming] class IcebergReplaceBatchWrite(
    op: IcebergRowLevelOperation, tableDir: String,
    logicalSchema: StructType, partCols: Seq[String],
    hiddenSpec: Seq[(String, String)])
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new DeltaWriterFactory(tableDir, logicalSchema.json,
      IcebergDsv2Write.fieldIdSchema(logicalSchema).json, partCols,
      relPrefix = "data/", hiddenSpec = hiddenSpec)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    op.commitReplace(messages.toSeq
      .flatMap(_.asInstanceOf[Dsv2CommitMsg].files))

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.foreach {
      case Dsv2CommitMsg(files) => Iceberg.dropFiles(tableDir, files)
      case _ => ()
    }
}
