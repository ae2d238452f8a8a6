package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

/** The COMMIT-POINT seam.
  *
  * Every Delta / Iceberg commit in this engine ultimately rests on
  * ONE primitive: *publish a fully-written immutable object at a
  * versioned name iff that name is absent* (plus one advisory
  * helper: a replaceable pointer). All the protocol machinery above
  * — retry loops, version pinning, conflict checks, replay — only
  * ever consumes the boolean.
  *
  * Two implementations:
  *
  *  - [[PosixLogStore]] — the local/NFS path: `Files.createLink`
  *    from the written tmp is an atomic create-if-absent whose
  *    published name carries complete content in the same instant
  *    (what HDFS-style stores give via atomic rename-no-replace).
  *  - [[ConditionalPutStore]] — the object-store path: S3
  *    `If-None-Match: *`, GCS `ifGenerationMatch=0`, ABFS ETag — a
  *    server-side conditional PUT. Object stores have NO hard links
  *    and NO atomic rename, and listings may lag writes; the store
  *    therefore (a) never touches either primitive on the commit
  *    path and (b) never trusts a listing for mutual exclusion —
  *    a stale listing only ever produces a duplicate version
  *    candidate, which the conditional put rejects and the commit
  *    loops retry (the real-Delta S3 LogStore discipline). This is
  *    exactly the storage the reference's lake lives on
  *    (docker-compose.yml:146-149 — MinIO via S3A).
  *
  * Selection is process-global ([[LogStore.current]]): a commit
  * protocol cannot be mixed per-call — two writers of one table must
  * agree on the commit point. Specs flip it with
  * [[LogStore.withStore]]; the `claims*` counters prove which store
  * the engine actually routed through.
  *
  * SCOPE — control plane only, deliberately: the seam carries every
  * COMMIT POINT (version claims and advisory pointers). The DATA
  * plane — parquet part files, staging dirs — is written by Spark's
  * own output committers and by UUID-named paths no reader resolves
  * until a commit references them, so it needs no atomicity from the
  * store at all (on a real object store it rides the S3A/magic
  * committers, exactly as the reference's own jobs do). That split
  * is what makes the real-S3 swap one class: correctness
  * concentrates in the two methods below.
  */
trait LogStore {
  def name: String

  /** Publish the fully-written `tmp` as `target` iff `target` does
    * not exist — atomic create-if-absent WITH complete content.
    * Returns true when this writer now owns `target`; false when the
    * name was already taken (the attempt changed nothing — the
    * caller's CAS-loss arm decides between retry and loud failure).
    * `tmp` is consumed either way. */
  def claimVersion(target: Path, tmp: Path): Boolean

  /** Replace-or-create an ADVISORY pointer (Iceberg's
    * `version-hint.text`, Delta's `_last_checkpoint`): readers
    * tolerate a stale value — [[Iceberg.currentVersion]] takes
    * max(hint, disk) and a checkpoint only accelerates replay — but
    * must never observe a partial one. A whole-object PUT gives that
    * by definition; POSIX uses an atomic same-directory rename. */
  def putPointer(target: Path, bytes: Array[Byte]): Unit

  // test seams: how many claims this store served / won — specs
  // assert the engine routed its commit through the selected store
  val claimsAttempted = new AtomicLong
  val claimsWon = new AtomicLong
}

object LogStore {
  /** The active commit protocol. Process-global by design (see class
    * doc); default POSIX. */
  @volatile var current: LogStore = PosixLogStore

  /** Run `f` with `store` active, restoring the previous store after
    * — the spec/q213 harness. Suites run sequentially in the forked
    * test JVM, so the global flip races nothing. */
  def withStore[T](store: LogStore)(f: => T): T = {
    val prev = current
    current = store
    try f finally current = prev
  }
}

/** Hard-link CAS on a POSIX filesystem — see [[LogStore]] doc.
  *
  * REQUIRES hard-link support on the log's filesystem (every POSIX
  * local/NFS filesystem; not FAT/exFAT or some fuse mounts). There is
  * deliberately NO copy fallback: a copy could not be atomic, and a
  * non-atomic publish would break the CAS the whole commit protocol
  * rests on. An unsupported filesystem fails loudly with the
  * limitation named — and [[ConditionalPutStore]] is the supported
  * answer for storage without links. */
object PosixLogStore extends LogStore {
  val name = "posix"

  def claimVersion(target: Path, tmp: Path): Boolean = {
    claimsAttempted.incrementAndGet()
    try {
      Files.createLink(target, tmp)
      claimsWon.incrementAndGet()
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case e @ (_: UnsupportedOperationException |
                _: java.io.IOException) =>
        throw new java.io.IOException(
          s"cannot publish $target: the filesystem does not support " +
            "hard links, which the posix log store requires for its " +
            "atomic put-if-absent commit CAS (no copy fallback — a " +
            "copy could not be atomic). Storage without links " +
            "(S3/MinIO/GCS) takes LogStore.current = " +
            "ConditionalPutStore instead", e)
    } finally Files.deleteIfExists(tmp)
  }

  def putPointer(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = Files.createTempFile(target.getParent,
      "." + target.getFileName.toString + "-", ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

/** Conditional-PUT commit protocol — the object-store path.
  *
  * A real store serializes `PUT If-None-Match: *` server-side; this
  * local shim stands the server in with per-path striped locks, so
  * the check-then-put below has exactly the atomicity the real call
  * has. The shim's job is to let every CAS race spec and q213 drive
  * the engine through object-store SEMANTICS on local disk:
  *
  *  - **no hard links** — never calls `Files.createLink`;
  *  - **no atomic rename** — never passes `ATOMIC_MOVE`; the
  *    same-directory move inside the lock is only the local stand-in
  *    for a PUT's whole-object visibility (readers see absent or
  *    complete, never partial — an object PUT gives this by
  *    definition);
  *  - **list-after-write lag** — nothing here strengthens listings:
  *    mutual exclusion comes from the conditional put alone. A
  *    writer acting on a stale listing computes an already-taken
  *    version number, loses the claim, and retries — the race specs
  *    plant exactly that shape (two writers claiming the same
  *    version) and both-land is asserted.
  *
  * Swapping the shim for a real S3 client is one class: implement
  * the two methods with `PutObject If-None-Match` (and a plain
  * whole-object PUT for the pointer), keep everything above the
  * seam. */
object ConditionalPutStore extends LogStore {
  val name = "conditional-put"

  private val locks = Array.fill(64)(new Object)
  private def lockFor(p: Path): Object =
    locks(math.floorMod(p.toAbsolutePath.normalize.toString.hashCode, 64))

  def claimVersion(target: Path, tmp: Path): Boolean = {
    claimsAttempted.incrementAndGet()
    try lockFor(target).synchronized {
      if (Files.exists(target)) false
      else {
        val shadow = Files.createTempFile(target.getParent,
          "." + target.getFileName.toString + "-put-", ".tmp")
        try {
          Files.copy(tmp, shadow, StandardCopyOption.REPLACE_EXISTING)
          Files.move(shadow, target) // plain move — see class doc
        } catch { case e: Throwable =>
          Files.deleteIfExists(shadow) // no stranded shadow objects
          throw e
        }
        claimsWon.incrementAndGet()
        true
      }
    } finally Files.deleteIfExists(tmp)
  }

  def putPointer(target: Path, bytes: Array[Byte]): Unit =
    lockFor(target).synchronized {
      val shadow = Files.createTempFile(target.getParent,
        "." + target.getFileName.toString + "-put-", ".tmp")
      try {
        Files.write(shadow, bytes)
        Files.move(shadow, target,
          StandardCopyOption.REPLACE_EXISTING) // whole-object replace
      } catch { case e: Throwable =>
        Files.deleteIfExists(shadow)
        throw e
      }
    }
}
