package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.{EnumSet => JEnumSet}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local-filesystem backend without the fork/exec tax.
  *
  * Hadoop's `RawLocalFileSystem` has no native `libhadoop` in this
  * environment, so every `setPermission` — which runs on EVERY file
  * create (`LocalFSFileOutputStream` ctor) and every `mkdirs` level —
  * falls back to `Shell.execCommand("chmod …")`: one `fork`+`exec`
  * per created file or directory. Profiling round 17's fixture-gate
  * suite (driver+executor stack sampling) shows
  * `Shell.runCommand` frames on both the driver (commit-protocol
  * `setupJob` mkdirs) and the executors (per-part-file creates) for
  * every lakehouse write, streaming checkpoint and shuffle-adjacent
  * temp file — a fixed multi-ms cost per tiny file that the
  * fixture-building gates pay hundreds of times per run.
  *
  * [[NioRawLocalFileSystem]] overrides `setPermission` with
  * `java.nio.file.Files.setPosixFilePermissions` — the same chmod,
  * applied in-process. Semantics identical (Hadoop only ever passes
  * 9-bit POSIX classes on this path); sticky bits never reach the
  * local scratch dirs these tables live in.
  *
  * [[GraftLocalFileSystem]] additionally drops the `.crc` sidecar
  * layer (`setWriteChecksum(false)`): parquet pages, the open-format
  * logs and the snapshot manifests all carry their own integrity
  * (parquet CRCs / log checksums), so the sidecars only double the
  * file-create count — and with it the chmod count — of every write.
  * Production note: none of this class is on the 100 TB path — object
  * stores (S3A/ABFS) and HDFS ship their own FileSystem impls; this
  * is the posix-scratch backend the local bench and any
  * NVMe-scratch deployment use.
  *
  * Registered via `src/main/resources/core-site.xml` as `fs.file.impl`
  * (FileSystem API) and `fs.AbstractFileSystem.file.impl`
  * (FileContext API — the structured-streaming checkpoint manager's
  * path, which otherwise keeps forking through `RawLocalFs`).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** Link status without the fork: upstream (no native libhadoop)
    * answers EVERY getFileLinkStatus by shelling out `readlink` —
    * even for plain files, where the answer is just the file status.
    * The FileContext rename path (AbstractFileSystem.rename →
    * getFileLinkStatus) sits under every structured-streaming
    * checkpoint-log write, so each micro-batch paid 1-2 fork/execs
    * per offsets/commits record. NIO answers "is it a symlink?" with
    * one lstat; real symlinks (rare — nothing on the checkpoint or
    * table paths creates them) keep the exact upstream semantics. */
  override def getFileLinkStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    val p = pathToFile(f).toPath
    if (Files.isSymbolicLink(p)) super.getFileLinkStatus(f)
    else getFileStatus(f) // plain file/dir (or FileNotFoundException)
  }

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission != null) {
      // bits above the 9 POSIX classes (sticky/setuid/setgid) have no
      // NIO spelling — delegate instead of silently truncating them
      if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val f = pathToFile(p).toPath
        try { Files.setPosixFilePermissions(f, NioLocalFs.toNio(permission)); () }
        catch {
          case _: UnsupportedOperationException =>
            super.setPermission(p, permission) // non-POSIX store: old path
        }
      }
    }
}

object NioLocalFs {
  /** 9-bit POSIX class mapping; sticky/setuid bits (never produced by
    * the write paths that hit this backend) fall back upstream. */
  def toNio(p: FsPermission): JEnumSet[PosixFilePermission] = {
    import PosixFilePermission._
    val s = JEnumSet.noneOf(classOf[PosixFilePermission])
    val bits = p.toShort
    if ((bits & 0x100) != 0) s.add(OWNER_READ)
    if ((bits & 0x080) != 0) s.add(OWNER_WRITE)
    if ((bits & 0x040) != 0) s.add(OWNER_EXECUTE)
    if ((bits & 0x020) != 0) s.add(GROUP_READ)
    if ((bits & 0x010) != 0) s.add(GROUP_WRITE)
    if ((bits & 0x008) != 0) s.add(GROUP_EXECUTE)
    if ((bits & 0x004) != 0) s.add(OTHERS_READ)
    if ((bits & 0x002) != 0) s.add(OTHERS_WRITE)
    if ((bits & 0x001) != 0) s.add(OTHERS_EXECUTE)
    s
  }
}

/** The `file://` FileSystem: checksum-free local FS over the NIO raw
  * layer. `.crc` sidecars off — see class doc above. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }
}

/** The `file://` AbstractFileSystem (FileContext API) twin — the
  * structured-streaming checkpoint managers resolve through THIS
  * registry, not `fs.file.impl`. Checksum-free like Hadoop's own
  * `RawLocalFs`. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(
      uri, new NioRawLocalFileSystem, conf, "file", false)
