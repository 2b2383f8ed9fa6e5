package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.net.URI

/** In-process Hadoop FileSystem emulating the OBJECT-STORE contract the
  * commit protocol must survive on S3/R2/GCS (the reference deploys on
  * exactly such stores — `/root/reference/bot_iceberg_loader.py:157`):
  *
  *  - `rename` is COPY + DELETE (CopyObject semantics): never atomic,
  *    succeeds even when the destination exists, silently overwriting —
  *    the reason rename-as-CAS is unsafe off the local FS.
  *  - `create(p, overwrite = false)` is CONDITIONAL PUT (`If-None-Match`),
  *    the one primitive the CAS commit relies on here. Like a real PUT the
  *    object appears whole at `close`, which is where the store arbitrates
  *    (an atomic hard link of the staged bytes; the create already fails
  *    when the key exists).
  *
  * Two test hooks on the companion: [[ObjectStoreFileSystem.renames]]
  * logs every rename's source and destination, and
  * [[ObjectStoreFileSystem.failCreate]] makes `create` of a path whose
  * name matches a regex throw an IOException (a PUT the store rejects).
  *
  * Implemented as a path-translating wrapper over a RawLocalFileSystem
  * (objstore:/x ↔ file:/x), so Spark executors read and write through it
  * transparently in local mode. Register with
  * `conf.set("fs.objstore.impl", classOf[...].getName)`. */
class ObjectStoreFileSystem extends FileSystem {

  private val local = new RawLocalFileSystem()
  private var wd: Path = new Path("objstore:/")

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setConf(conf)
    local.initialize(URI.create("file:///"), conf)
  }

  override def getScheme: String = "objstore"
  override def getUri: URI = URI.create("objstore:///")

  private def toLocal(p: Path): Path = new Path("file", null, p.toUri.getPath)
  private def toObj(p: Path): Path   = new Path("objstore", null, p.toUri.getPath)
  private def st(s: FileStatus): FileStatus = {
    val c = new FileStatus(s) // eager copy materializes permissions
    c.setPath(toObj(s.getPath))
    c
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    local.open(toLocal(f), bufferSize)

  override def create(
      f: Path,
      permission: FsPermission,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    ObjectStoreFileSystem.failCreate.get.foreach { r =>
      if (r.findFirstIn(f.getName).isDefined)
        throw new java.io.IOException(s"injected create fault: $f")
    }
    if (overwrite)
      local.create(toLocal(f), permission, true, bufferSize, replication, blockSize, progress)
    else {
      def lost() = new org.apache.hadoop.fs.FileAlreadyExistsException(s"conditional put lost: $f exists")
      if (local.exists(toLocal(f))) throw lost()
      val dst    = toLocal(f)
      val staged = new Path(dst.getParent, s".${f.getName}.${java.util.UUID.randomUUID()}.put")
      val out = local.create(staged, permission, false, bufferSize, replication, blockSize, progress)
      val put = new java.io.OutputStream {
        override def write(b: Int): Unit = out.write(b)
        override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
        override def flush(): Unit = out.flush()
        private var closed = false
        override def close(): Unit = if (!closed) {
          closed = true
          out.close()
          val (from, to) = (java.nio.file.Paths.get(staged.toUri.getPath),
            java.nio.file.Paths.get(dst.toUri.getPath))
          try java.nio.file.Files.createLink(to, from)
          catch { case _: java.nio.file.FileAlreadyExistsException => throw lost() }
          finally java.nio.file.Files.deleteIfExists(from)
        }
      }
      new FSDataOutputStream(put, null)
    }
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("object stores do not append")

  /** CopyObject + DeleteObject: non-atomic, clobbers an existing
    * destination, handles directories recursively (Spark's committers
    * rename task/job dirs). */
  override def rename(src: Path, dst: Path): Boolean = {
    ObjectStoreFileSystem.renames.add(src.toUri.getPath -> dst.toUri.getPath)
    val (s, d) = (toLocal(src), toLocal(dst))
    if (!local.exists(s)) return false
    FileUtil.copy(local, s, local, d, /*deleteSource=*/ true, /*overwrite=*/ true, getConf)
  }

  override def delete(f: Path, recursive: Boolean): Boolean =
    local.delete(toLocal(f), recursive)

  override def listStatus(f: Path): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(st)

  override def setWorkingDirectory(newDir: Path): Unit = wd = newDir
  override def getWorkingDirectory: Path = wd

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)

  override def getFileStatus(f: Path): FileStatus =
    st(local.getFileStatus(toLocal(f)))
}

object ObjectStoreFileSystem {
  /** Every rename's (source, destination) path, in call order. */
  val renames = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  /** When set, `create` of a path whose name the regex finds a match in
    * throws. */
  val failCreate =
    new java.util.concurrent.atomic.AtomicReference[Option[scala.util.matching.Regex]](None)
}
