package graft.streaming

import org.apache.spark.sql.connector.catalog.{Column, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.DeltaLog

/** A table format's commit log as the micro-batch core reads it:
  * commit ids are monotonic longs (Delta log versions, Iceberg
  * snapshot ids), and a committed commit's file list is immutable. */
private[streaming] trait CommitLog {
  /** The newest commit a stream may read up to (Delta's last
    * version; Iceberg's PUBLISHED main head or a branch head). */
  def head(): Long

  /** Files added by the commits in (`fromExclusive`, `to`], grouped
    * by commit in commit order, LAZILY — a commit's metadata is read
    * only when the iterator reaches it, so an admission walk that
    * stops early stops paying for the commits past its cap. */
  def addedFiles(fromExclusive: Long,
                 to: Long): Iterator[(Long, Seq[DeltaLog.StreamFile])]
}

/** The format-specific spellings of one stream source: its short
  * name (error messages), the offset's JSON key, and its starting
  * option — Delta's `startingVersion` is INCLUSIVE (stream from that
  * version on), Iceberg's `startingSnapshotId` EXCLUSIVE (stream what
  * was committed after it). */
private[streaming] case class StreamSpelling(source: String,
    offsetKey: String, startOption: String, startNoun: String,
    startInclusive: Boolean)

private[streaming] object StreamSpelling {
  def delta(source: String): StreamSpelling = StreamSpelling(source,
    "version", "startingVersion", "version number",
    startInclusive = true)
  def iceberg(source: String): StreamSpelling = StreamSpelling(source,
    "snapshotId", "startingSnapshotId", "snapshot id",
    startInclusive = false)
}

/** The offset is (commit id, files consumed WITHIN it) — Delta's own
  * streaming-source offset design: `index` counts how many of the
  * commit's added files are already landed, so admission control can
  * SPLIT one huge backfill commit across micro-batches (exactly-once
  * holds because a committed file list is immutable). A fully
  * consumed commit is (c, MaxValue). The JSON key is the format's
  * (`version` / `snapshotId`), so existing checkpoints resume; legacy
  * checkpoints wrote the bare commit id (whole-commit batches),
  * parsed as fully consumed. */
private[streaming] case class CommitOffset(key: String, commitId: Long,
                                           index: Long = Long.MaxValue)
    extends Offset {
  override def json(): String =
    s"""{"$key":$commitId,"index":$index}"""
}

private[streaming] object CommitOffset {
  private val Json = """\{"(\w+)":(-?\d+),"index":(-?\d+)\}""".r
  def parse(key: String, json: String): CommitOffset = json.trim match {
    case Json(k, c, i) if k == key => CommitOffset(key, c.toLong, i.toLong)
    case bare => CommitOffset(key, bare.toLong) // legacy: whole commit
  }
}

/** The one [[MicroBatchStream]] core behind `graft-delta`,
  * `graft-iceberg` and their CDF twins. Spark's streaming engine
  * drives the lifecycle (offsets in the query checkpoint, batch
  * planning, recovery); this class answers what the latest offset
  * is, how far one trigger may advance, and — for the append
  * sources — which files a range reads.
  *
  * Admission control: a stream catching up on a deep backlog must
  * not plan its whole history as one batch (at 100 TB that is
  * thousands of commits of files in one task set, one sink
  * transaction, no progress checkpoints). `maxCommitsPerTrigger`
  * caps commits per batch; `maxFilesPerTrigger` /
  * `maxBytesPerTrigger` go FINER and split WITHIN a commit (the Kafka
  * maxOffsetsPerTrigger analog). At least one file is always
  * admitted so the stream makes progress. The CDF sources pass no
  * file/byte caps: one commit's change rows form one transactional
  * unit for a CDC-applying sink, so they admit whole commits only.
  *
  * `pruner` is the `filter` option's per-file pruning
  * ([[StreamFilter]]); it runs AFTER the offsets are fixed, so it
  * changes what is read, never the (commit, index) bookkeeping. */
private[streaming] abstract class CommitLogStream(log: CommitLog,
    spelling: StreamSpelling, tableDir: String,
    starting: Option[String], maxCommitsPerTrigger: Long,
    maxFilesPerTrigger: Long = Long.MaxValue,
    maxBytesPerTrigger: Long = Long.MaxValue,
    pruner: Option[StreamFilter.Pruner] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def offset(commitId: Long,
                       index: Long = Long.MaxValue): CommitOffset =
    CommitOffset(spelling.offsetKey, commitId, index)

  // Trigger.AvailableNow: the engine asks the source to PIN the end
  // of the stream up front, then drains to exactly that point — a
  // commit racing the drain belongs to the next run
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(log.head())

  // `latest` is the BIG-HISTORY path: backfill the existing table
  // with one batch read, then stream only commits after query start
  override def initialOffset(): Offset = {
    def from(id: Long) = offset(if (spelling.startInclusive) id - 1 else id)
    starting match {
      case Some("latest") => offset(log.head())
      case Some(s) =>
        // descriptive refusal for every malformed spelling: a sign,
        // a non-digit, or a digit string wider than Long
        val parsed = scala.util.Try(s.toLong).toOption
          .filter(_ => s.nonEmpty && s.forall(_.isDigit))
        require(parsed.isDefined,
          s"${spelling.source}: ${spelling.startOption} must be a " +
            s"${spelling.startNoun} or 'latest', got '$s'")
        from(parsed.get)
      case None => from(0L)
    }
  }

  override def latestOffset(): Offset =
    offset(availableNowCap.getOrElse(log.head()))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[CommitOffset]
    val cap = latestOffset().asInstanceOf[CommitOffset].commitId
    // cap == from.commitId is NOT terminal: a file-capped batch can
    // leave the cap commit partially consumed (index < nFiles) —
    // only a cap strictly behind the start commit has nothing left
    if (cap < from.commitId) return from
    // addition-overflow guard: the default limit is Long.MaxValue
    val bounded =
      if (maxCommitsPerTrigger >= cap - from.commitId) cap
      else from.commitId + maxCommitsPerTrigger
    if (maxFilesPerTrigger == Long.MaxValue &&
        maxBytesPerTrigger == Long.MaxValue)
      return offset(bounded)
    // file/byte admission: walk the range's per-commit file lists
    // LAZILY and stop at the first file that would cross either cap —
    // but never before admitting one. Stopping the iterator stops the
    // metadata reads too, so a deep backlog costs O(admitted commits)
    // per trigger, O(backlog) across the whole drain — not
    // O(backlog²).
    val byCommit = log.addedFiles(from.commitId - 1, bounded)
    var endC = from.commitId
    var endI = from.index
    var nFiles = 0L
    var nBytes = 0L
    var stop = false
    while (!stop && byCommit.hasNext) {
      val (c, fs) = byCommit.next()
      var i =
        if (c == from.commitId) math.min(from.index, fs.size.toLong).toInt
        else 0
      endC = c
      endI = i.toLong
      while (i < fs.size && !stop) {
        if (nFiles > 0 && (nFiles + 1 > maxFilesPerTrigger ||
            nBytes + fs(i).size > maxBytesPerTrigger)) stop = true
        else {
          nFiles += 1
          nBytes += fs(i).size
          i += 1
          endI = i.toLong
        }
      }
    }
    if (nFiles == 0) from else offset(endC, endI)
  }

  override def deserializeOffset(json: String): Offset =
    CommitOffset.parse(spelling.offsetKey, json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** One partition PER FILE: a commit that added 1000 files fans out
    * as 1000 tasks — the driver never touches row data. Each
    * partition carries the file's partition values so the reader
    * reconstructs partition columns as constants. The boundary
    * commits honor the offsets' in-commit file indexes (a split
    * backfill commit reads each file exactly once). */
  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CommitOffset]
    val e = end.asInstanceOf[CommitOffset]
    val planned = log.addedFiles(s.commitId - 1, e.commitId)
      .flatMap { case (c, fs) =>
        val lo =
          if (c == s.commitId) math.min(s.index, fs.size.toLong).toInt
          else 0
        val hi =
          if (c == e.commitId) math.min(e.index, fs.size.toLong).toInt
          else fs.size
        fs.slice(lo, hi)
      }.toVector
    val kept = pruner.fold(planned)(p =>
      planned.filter(f => p.keep(f.partitionValues, f.bounds)))
    StreamFilter.record(tableDir, s"${s.json}..${e.json}",
      planned.size, kept.size)
    kept.map(f =>
      DeltaFilePartition(f.path, f.partitionValues): InputPartition)
      .toArray
  }
}

/** The read-only streaming table the CDF sources expose: their
  * public schema, micro-batch reads only, and a scan that builds the
  * source's [[MicroBatchStream]] per query. */
private[streaming] class MicroBatchTable(tableName: String,
    schema: StructType, stream: () => MicroBatchStream)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def columns(): Array[Column] =
    schema.fields.map(f => Column.create(f.name, f.dataType, f.nullable))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream = stream()
    }
}
