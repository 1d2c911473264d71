package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local-disk Hadoop FileSystem registered under a NON-`file:` scheme —
  * every call translates `graftfs:///p` to a local path, delegates to
  * RawLocalFileSystem, and re-qualifies returned paths as `graftfs://`.
  * Exercises the whole table lifecycle through foreign-scheme URIs so
  * scheme-dependent string munging (e.g. `toUri.getPath` stripping)
  * surfaces in tests instead of on a real object store (the reference
  * treats S3 IO as first-class: src/io/s3_io.c). */
class GraftFsFileSystem extends FileSystem {
  private val local = new RawLocalFileSystem

  private def toLocal(p: Path): Path = new Path(p.toUri.getPath)
  private def fromLocal(p: Path): Path =
    new Path(getScheme, null, p.toUri.getPath)
  private def swizzle(st: FileStatus): FileStatus = {
    val s2 = new FileStatus(st)
    s2.setPath(fromLocal(st.getPath))
    s2
  }

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setConf(conf)
    local.initialize(URI.create("file:///"), conf)
  }

  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create(s"$getScheme:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    local.open(toLocal(f), bufferSize)

  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    local.create(toLocal(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    local.append(toLocal(f), bufferSize, progress)

  override def rename(src: Path, dst: Path): Boolean =
    local.rename(toLocal(src), toLocal(dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    local.delete(toLocal(f), recursive)

  override def listStatus(f: Path): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(swizzle)

  override def setWorkingDirectory(dir: Path): Unit =
    local.setWorkingDirectory(toLocal(dir))
  override def getWorkingDirectory: Path = fromLocal(local.getWorkingDirectory)

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)

  override def getFileStatus(f: Path): FileStatus =
    swizzle(local.getFileStatus(toLocal(f)))

  override def setTimes(f: Path, mtime: Long, atime: Long): Unit =
    local.setTimes(toLocal(f), mtime, atime)
}

/** S3-semantics variant: `rename` SILENTLY REPLACES an existing
  * destination (S3 "rename" is copy+delete with no atomic
  * fail-if-exists), so rename can never arbitrate racing committers —
  * the posture that voids HadoopTableOperations-style commit protocols
  * on object stores and the reason catalog-arbitrated commits exist
  * ([[graft.lake.CommitArbiter]]). */
class S3LikeFileSystem extends GraftFsFileSystem {
  override def getScheme: String = "grafts3"
  override def rename(src: Path, dst: Path): Boolean = {
    if (exists(dst) && getFileStatus(dst).isFile) delete(dst, false)
    super.rename(src, dst)
  }
}

/** Fault-injecting variant: fails the k-th `create` or `rename` whose path
  * matches a predicate (for a rename, the DESTINATION path) with an
  * IOException, or tears the k-th matching `create` (its stream keeps a
  * prefix of the bytes, then throws), once; every other call passes
  * through. The armed fault
  * lives in the companion object because Hadoop instantiates (and
  * caches) the FileSystem itself. Tables under `faultfs:///<local path>`
  * take every IO through it. */
class FaultFs extends GraftFsFileSystem {
  override def getScheme: String = FaultFs.Scheme

  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultFs.check("create", f)
    val out = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    FaultFs.fire("tear", f) match {
      case Some(keepBytes) => new FSDataOutputStream(new FaultFs.TornStream(out, keepBytes, f), null)
      case None => out
    }
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.check("rename", dst)
    super.rename(src, dst)
  }
}

object FaultFs {
  val Scheme = "faultfs"

  private final class Fault(val op: String, val matches: Path => Boolean, var left: Int,
      val keepBytes: Long)
  private var armed: Option[Fault] = None

  /** Registers the scheme on `conf` (the session's Hadoop configuration). */
  def register(conf: Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)

  /** `faultfs:` URI of a local absolute path. */
  def uri(localPath: String): String = s"$Scheme://$localPath"

  /** Arms a failure of the `k`-th (1-based) `create` matching `p`. */
  def failCreate(k: Int)(p: Path => Boolean): Unit = arm("create", k, p)

  /** Arms a failure of the `k`-th (1-based) `rename` whose destination
    * matches `p`. */
  def failRename(k: Int)(p: Path => Boolean): Unit = arm("rename", k, p)

  /** Arms a torn write of the `k`-th (1-based) `create` matching `p`: its
    * stream writes the first `keepBytes` bytes, then throws — what a
    * crash in the middle of the write leaves on disk. */
  def tearCreate(k: Int, keepBytes: Long)(p: Path => Boolean): Unit =
    arm("tear", k, p, keepBytes)

  /** Disarms a fault that has not fired. */
  def clear(): Unit = synchronized { armed = None }

  private def arm(op: String, k: Int, p: Path => Boolean, keepBytes: Long = 0L): Unit =
    synchronized {
      require(k >= 1, s"k must be >= 1, got $k")
      armed = Some(new Fault(op, p, k, keepBytes))
    }

  private[graft] def check(op: String, path: Path): Unit =
    if (fire(op, path).isDefined)
      throw new java.io.IOException(s"injected $op failure at $path")

  /** Counts a matching `op` call; Some(the fault's keepBytes) when it is
    * the armed k-th (the fault then disarms). */
  private[graft] def fire(op: String, path: Path): Option[Long] = synchronized {
    armed.filter(f => f.op == op && f.matches(path)).flatMap { f =>
      f.left -= 1
      if (f.left > 0) None
      else { armed = None; Some(f.keepBytes) }
    }
  }

  /** Passes the first `keepBytes` bytes through to `out`, then throws on
    * the write that would exceed them (and on every later one). */
  private[graft] final class TornStream(out: java.io.OutputStream, keepBytes: Long, path: Path)
      extends java.io.OutputStream {
    private var written = 0L
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      val keep = math.max(0L, math.min(len.toLong, keepBytes - written)).toInt
      out.write(b, off, keep)
      written += keep
      if (keep < len) {
        out.flush()
        throw new java.io.IOException(s"injected torn write at $path after $written bytes")
      }
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()
  }
}
