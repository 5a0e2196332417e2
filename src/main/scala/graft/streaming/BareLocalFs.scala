package graft.streaming

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local filesystem for streaming CHECKPOINT dirs only, registered
  * under the private `graftckpt://` scheme (`fs.graftckpt.impl`, set on
  * each streaming entry's child session by StreamingQueries.scoped).
  *
  * Why it exists (r19 fork profiling, see StreamingQueries.scoped):
  * with no native hadoop library, BOTH hot local-FS
  * paths fork a process per call — `FileContext.rename`'s
  * symlink-aware status check execs `readlink`, and every
  * `create()`/`mkdirs()` carrying an FsPermission execs `chmod`
  * (RawLocalFileSystem.setPermission → Shell). A micro-batch commits
  * one delta file per state-store instance plus offset/commit-log
  * entries plus their checksum sidecars, so a bench-scale streaming
  * entry forks 1 400–5 900 processes (/proc/stat, StreamCkptProbe) —
  * pure machinery, data-size-independent.
  *
  * Two deliberate properties:
  *   - `setPermission` is a no-op: checkpoint files keep the JVM's
  *     umask defaults instead of paying a fork per file. The dirs sit
  *     in each entry's scope temp dir, deleted when the entry returns.
  *   - It extends RAW RawLocalFileSystem, not ChecksumFileSystem: no
  *     Hadoop `.crc` shadow per file. Integrity of checkpoint files
  *     stays covered by Spark 4.1's OWN checkpoint checksum layer
  *     (ChecksumCheckpointFileManager sidecars, enabled by default),
  *     which rides the manager above this FS — one checksum layer
  *     instead of two redundant ones.
  *
  * Results/durability are unchanged: same rename-based atomic commit
  * (POSIX rename via File.renameTo), same files modulo `.crc`
  * shadows, oracle-gated across SFs.
  */
class BareLocalFs extends RawLocalFileSystem {
  override def getUri: URI = BareLocalFs.SchemeUri
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}

object BareLocalFs {
  val Scheme = "graftckpt"
  private val SchemeUri = URI.create(s"$Scheme:///")
}
