package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Versioned-snapshot tables on a plain filesystem — the Delta-free
  * answer to the transaction-log behaviors the environment's missing
  * lake-format jars would otherwise provide (reference:
  * spark/batch_gold.py:156-157 relies on Delta's atomic overwrite;
  * SURVEY §8 S5 note). Pure Spark + POSIX primitives:
  *
  *  - **Commit claim**: a writer claims version n with an atomic
  *    create-if-absent slot claim through [[LogStore.current]]
  *    (mkdir on POSIX, a conditional PUT of a marker object on an
  *    object store — the same CAS a Delta writer does on
  *    `_delta_log/n.json`); losing a race just means retrying with
  *    n+1. No locks, no coordinator.
  *  - **Visibility = completeness**: a version exists for readers
  *    only once Spark's `_SUCCESS` marker lands (written last by the
  *    commit protocol of the parquet job). A crashed writer leaves a
  *    claimed-but-unfinished dir that every reader ignores forever —
  *    torn reads are structurally impossible.
  *  - **Snapshot isolation / time travel**: versions are immutable
  *    dirs; a reader that resolved version n keeps reading n's files
  *    regardless of later commits ([[readVersion]] pins explicitly).
  *
  * At 100 TB the same protocol holds on any store with an atomic
  * create-if-absent ([[LogStore]]: HDFS rename/mkdir via
  * [[PosixLogStore]], S3/MinIO conditional PUT via
  * [[ConditionalPutStore]]) — the data volume never touches the
  * protocol, which claims one slot and one zero-byte marker per
  * commit.
  */
object Snapshots {

  private def versionDir(tableDir: String, v: Int) = s"$tableDir/v=$v"

  private def isComplete(tableDir: String, v: Int): Boolean =
    new File(versionDir(tableDir, v), "_SUCCESS").isFile

  /** All committed (reader-visible) versions, ascending. listFiles is
    * null on a vanished dir or an IO error — treated as "no versions"
    * rather than an NPE (the dir can disappear between the isDirectory
    * check and the listing under concurrent cleanup). */
  def versions(tableDir: String): Seq[Int] = {
    Option(new File(tableDir).listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toInt)
      .filter(isComplete(tableDir, _))
      .sorted
  }

  /** Commit `df` as the next version; returns the committed version
    * number. Safe under concurrent committers: claims race on mkdir
    * and the loser retries the next number. */
  def commit(df: DataFrame, tableDir: String): Int = {
    new File(tableDir).mkdirs()
    var v = nextCandidate(tableDir)
    // the slot claim is the atomic CAS; exhaustion bound only guards
    // a pathological FS (the loop advances past every claimed number)
    while (!LogStore.current.claimSlot(
      java.nio.file.Paths.get(versionDir(tableDir, v)))) v += 1
    df.write.mode(SaveMode.Append).parquet(versionDir(tableDir, v))
    v
  }

  private def nextCandidate(tableDir: String): Int = {
    val base = new File(tableDir)
    val claimed = Option(base.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toInt)
    if (claimed.isEmpty) 0 else claimed.max + 1
  }

  /** Latest committed snapshot. */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no committed versions under $tableDir")
    readVersion(spark, tableDir, vs.last)
  }

  /** Time travel: pin an explicit committed version. */
  def readVersion(spark: SparkSession, tableDir: String, v: Int): DataFrame = {
    require(isComplete(tableDir, v), s"version $v is not committed")
    spark.read.parquet(versionDir(tableDir, v))
  }

  /** Idempotent commit at a CALLER-CHOSEN version — the
    * exactly-once `foreachBatch` sink: pass the micro-batch id as the
    * version and a replayed batch after restart becomes a no-op
    * (Delta's `txnAppId`/`txnVersion` pattern). Returns true iff this
    * call wrote the version.
    *
    * A claimed-but-incomplete dir (writer crashed mid-batch) is
    * rewritten: after a streaming restart the single owning query is
    * the only writer of that batch id, so the rewrite races nobody. */
  def commitIfAbsent(df: DataFrame, tableDir: String, v: Int): Boolean = {
    if (isComplete(tableDir, v)) false
    else {
      new File(tableDir).mkdirs()
      // may already be claimed — the single owning query rewrites
      LogStore.current.claimSlot(
        java.nio.file.Paths.get(versionDir(tableDir, v)))
      df.write.mode(SaveMode.Overwrite).parquet(versionDir(tableDir, v))
      true
    }
  }

  /** LOG-table read: the union of ALL committed versions — for tables
    * where each version is an appended micro-batch (the bronze log),
    * not a full snapshot. One multi-path parquet read, so pruning and
    * pushdown work across the whole log. */
  def readLog(spark: SparkSession, tableDir: String): DataFrame = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no committed versions under $tableDir")
    spark.read.parquet(vs.map(versionDir(tableDir, _)): _*)
  }

  /** MERGE-commit: upsert `source` into the latest snapshot (or seed
    * with it) and commit the RESULT as the next version — Delta's
    * `merge` + transaction in one step, over [[graft.silver.Merge]]
    * semantics. Readers on the old version stay isolated; the merge
    * becomes visible atomically with the new version's _SUCCESS.
    *
    * CONCURRENCY CONTRACT: one writer per table. A merge is a
    * read-modify-write, so two concurrent mergeCommits would each
    * derive from the same base and the later one would silently drop
    * the earlier one's keys — [[commit]]'s claim race protects the
    * VERSION NUMBERS, not the merge lineage (Delta raises
    * ConcurrentAppendException here; a full conflict detector is out
    * of scope). As a best-effort guard, a version COMMITTED between
    * our base read and our claim is rejected — and, unlike a plain
    * [[commit]]+rollback, the stale merge is NEVER PUBLISHED even
    * transiently: the merged data is staged without its `_SUCCESS`
    * marker, the interleaved-version check runs while the version is
    * still invisible to every reader primitive, and only a clean
    * check creates `_SUCCESS`. A dirty check deletes the
    * never-visible dir and throws ConcurrentModificationException to
    * retry on. A racer that CLAIMED earlier but completes later is
    * not detectable this way — hence the single-writer contract. */
  def mergeCommit(spark: SparkSession, source: DataFrame, tableDir: String,
                  keys: Seq[String], versionCol: String): Int = {
    val base = versions(tableDir)
    val merged = base match {
      case Seq() => source
      case vs =>
        graft.silver.Merge.upsert(
          readVersion(spark, tableDir, vs.last), source, keys, versionCol)
    }
    // STAGE: run the (expensive) merge job into a hidden dir no reader
    // primitive lists; the plan reads the base version's files, which
    // stay immutable even while later versions land
    new File(tableDir).mkdirs()
    val staging =
      new File(tableDir, s".merge-${java.util.UUID.randomUUID}")
    merged.write.mode(SaveMode.Overwrite).parquet(staging.getPath)
    new File(staging, "_SUCCESS").delete() // stays unpublished below
    onMergeBeforeClaim()
    // CLAIM: mkdir-race a version slot, then move the staged data
    // files in (same-FS renames; the dir stays claimed-but-incomplete
    // — invisible — because _SUCCESS is withheld). A rename failing
    // mid-move must not strand a permanently-occupied version slot
    // holding partial data plus the leftover staging dir: both are
    // reclaimed before the failure propagates (the slot was never
    // published, so no reader can have observed it).
    var v = nextCandidate(tableDir)
    while (!LogStore.current.claimSlot(
      java.nio.file.Paths.get(versionDir(tableDir, v)))) v += 1
    try {
      Option(staging.listFiles()).getOrElse(Array.empty).foreach { f =>
        require(f.renameTo(new File(versionDir(tableDir, v), f.getName)),
          s"could not move staged ${f.getName} into version $v")
      }
      staging.delete()
    } catch { case e: Throwable =>
      graft.util.Fs.deleteRecursively(new File(versionDir(tableDir, v)))
      graft.util.Fs.deleteRecursively(staging)
      throw e
    }
    val interleaved = versions(tableDir)
      .filter(x => x > base.lastOption.getOrElse(-1) && x < v)
    if (interleaved.nonEmpty) {
      // never published: no _SUCCESS was ever created for v, so no
      // reader can have observed it — delete and signal retry
      graft.util.Fs.deleteRecursively(new File(versionDir(tableDir, v)))
      throw new java.util.ConcurrentModificationException(
        s"version(s) $interleaved committed under mergeCommit's base " +
          s"(read $base); unpublished stale merge $v discarded — retry")
    }
    // PUBLISH: _SUCCESS lands only after the check passes
    LogStore.current.claimMarker(
      java.nio.file.Paths.get(versionDir(tableDir, v), "_SUCCESS"))
    v
  }

  /** VACUUM: retention cleanup, the Delta `VACUUM` analog. Deletes
    * (a) committed versions older than the newest `keepLast`, and
    * (b) torn claims (dirs without `_SUCCESS`) strictly BELOW the
    * newest committed version — under the one-writer-per-table
    * contract such a claim's writer is gone and the slot can never
    * complete (a streaming `commitIfAbsent` writer re-claims its
    * batch id before any later batch commits, so a torn dir below
    * the committed frontier is structurally abandoned). A torn claim
    * ABOVE the newest committed version is an in-flight writer and is
    * never touched. Returns the version numbers removed.
    *
    * Readers pinned to a vacuumed version fail on their next
    * re-execution — the same contract as Delta: retention bounds time
    * travel. At 100 TB this is the operation that bounds storage; the
    * protocol cost is one directory listing plus the deletes. */
  def vacuum(tableDir: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the latest version")
    val committed = versions(tableDir)
    if (committed.isEmpty) return Seq.empty
    val dropCommitted = committed.dropRight(keepLast)
    val frontier = committed.last
    val tornBelow = Option(new File(tableDir).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toInt)
      .filter(v => v < frontier && !isComplete(tableDir, v) &&
        !committed.contains(v))
    val gone = (dropCommitted ++ tornBelow).sorted
    gone.foreach(v => graft.util.Fs.deleteRecursively(new File(versionDir(tableDir, v))))
    gone
  }

  /** CHANGE DATA FEED between two committed versions — Delta CDF's
    * question ("what changed from v_a to v_b?") answered from the
    * immutable snapshots themselves: one full-outer join on the key.
    * Emits one row per changed key with `_change_type` ∈
    * {insert, update_postimage, delete}; insert/update carry the
    * post-image columns, delete the pre-image. Unchanged keys emit
    * nothing (compared as null-safe structs over every non-key
    * column).
    *
    * Scale: the join shuffles both snapshots on the key once —
    * identical cost to the MERGE that produced the newer version; a
    * log-structured implementation would read the delta files
    * instead, which is exactly what [[readLog]]-style tables give the
    * streaming path. */
  def changesBetween(spark: SparkSession, tableDir: String,
                     fromV: Int, toV: Int, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val pre = readVersion(spark, tableDir, fromV)
    val post = readVersion(spark, tableDir, toV)
    val nonKey = post.columns.toSeq.filterNot(keys.contains)
    // SCHEMA EVOLUTION: the change feed is served in the TO version's
    // schema (Delta CDF's contract); a column added between the two
    // versions reads as a typed null on the pre side, so "value
    // appeared" surfaces as update_postimage, and delete pre-images
    // carry null for columns the deleted row never had.
    def padded(df: DataFrame, c: String) =
      if (df.columns.contains(c)) col(c)
      else lit(null).cast(post.schema(c).dataType).as(c)
    val a = pre.select(
      keys.map(col) :+ struct(nonKey.map(padded(pre, _)): _*).as("_pre"): _*)
    val b = post.select(
      keys.map(col) :+ struct(nonKey.map(col): _*).as("_post"): _*)
    a.join(b, keys, "full_outer")
      .withColumn("_change_type",
        when(col("_pre").isNull, "insert")
          .when(col("_post").isNull, "delete")
          .when(not(col("_pre") <=> col("_post")), "update_postimage"))
      .filter(col("_change_type").isNotNull)
      .select(keys.map(col) ++ nonKey.map(c =>
        when(col("_change_type") === "delete", col(s"_pre.$c"))
          .otherwise(col(s"_post.$c")).as(c)) :+ col("_change_type"): _*)
  }

  /** Test seam: runs after the merge result is staged (still
    * invisible) and before the version claim — lets a spec inject a
    * racing commit deterministically into the detection window. */
  private[graft] var onMergeBeforeClaim: () => Unit = () => ()

}
