package graft.core

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Local-filesystem policy for every session the engine builds: raw (no
  * `.crc` sidecars) and fork-free.
  *
  * Checksums. Hadoop's default `file://` filesystem is
  * ChecksumFileSystem: every file write also writes a `.crc` sidecar and
  * every read re-verifies it — doubling the file-op count and adding a
  * CRC pass over all bytes. The warehouse/streaming operators are
  * many-small-file workloads (staged manifest tables, state-store
  * deltas, checkpoint WALs, tiny markers), so on local disk the CRC layer
  * is pure fixed cost: measured 8–22% of the streaming-gate wall at sf0.1
  * (c21 5.4→4.5 s, c25 7.7→6.6 s, c26 9.1→7.9 s in one window; commit
  * d375f24). Skipping it is the production-correct local setting:
  * application-level CRCs on a single local disk duplicate what ext4/ECC
  * already give, and at cluster scale data lives on HDFS/object stores
  * whose schemes these two keys never touch.
  *
  * Forks. Without native `libhadoop` (Spark's distribution ships none)
  * `RawLocalFileSystem` shells out twice per file: `chmod` after every
  * create and mkdir, and `readlink` in `getFileLinkStatus`, which
  * `FileContext.rename` — every state-store delta and checkpoint WAL
  * commit — calls twice. Each child costs the JVM a `jspawnhelper`
  * spawn that copies its whole environment into a pipe (3–5 KB here),
  * and the child's reads are charged to the JVM when it is reaped.
  * Counted with a syscall counter on a 4-core VM: one perfbench
  * `stream_gates` run started 2,118 children (654 `chmod`, 1,456
  * `readlink`) and one `manager_cycle` run 155 (149 `chmod`) — 10.0 of
  * that gate run's 10.5 MB written was process spawning, not data.
  * [[ForkFreeLocalFileSystem]] does both in-process through `java.nio`
  * with Hadoop's semantics kept; 9 children per run remain (Spark's
  * own shutdown `rm -rf` and session-start probes).
  *
  * `SPARK_GRAFT_LOCAL_CHECKSUMS=1` restores Hadoop's stock checksummed
  * classes on both APIs (the FileSystem one and the AbstractFileSystem
  * one that streaming checkpoint managers use).
  */
object LocalFs {
  def configs: Seq[(String, String)] =
    if (sys.env.get("SPARK_GRAFT_LOCAL_CHECKSUMS").contains("1")) Seq.empty
    else Seq(
      "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        classOf[ForkFreeLocalFs].getName)

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    configs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}

/** `RawLocalFileSystem` with its two shell-outs done in-process. */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through `java.nio`, with the bits Hadoop would pass to the
    * shell (the umask is applied before this call). A sticky bit has no
    * `PosixFilePermission`, so it keeps Hadoop's path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath,
        fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's `deprecatedGetFileLinkStatusInternal`, step for step —
    * including its `new File(f.toString)`, under which a qualified
    * `file:/…` path never names a link — with only the `readlink` child
    * replaced.
    */
  private def linkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission,
        fs.getOwner, fs.getGroup, new Path(target), f)
    } catch {
      // a dangling link: File.exists is false for it, so getFileStatus
      // throws although the link itself exists
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }

  /** `FileUtil.readLink`: the link's target, or "" for anything that is
    * not a readable symlink (where `readlink` exits non-zero).
    */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim
      else ""
    } catch { case _: IOException | _: InvalidPathException => "" }
}

/** The AbstractFileSystem (FileContext) side over
  * [[ForkFreeLocalFileSystem]]. It repeats `RawLocalFs`'s overrides,
  * whose constructors are package-private.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  override def isValidName(src: String): Boolean = true
}
