package graft.icelite

import org.apache.hadoop.fs.{FileSystem, Path}
import java.io.OutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.util.control.NonFatal

/** How both table formats publish metadata on a store: the version-file
  * CAS, the version hint, the version resolver and the commit loop. IceLite
  * (`metadata/v<N>.json`) and the Iceberg-spec writer
  * (`metadata/v<NNNNN>.metadata.json`, snapshot-scoped Avro manifests and
  * manifest lists) go through the same calls.
  *
  * STORE CONTRACT. The commit protocols need exactly two guarantees from
  * the underlying store: (1) per-object atomic visibility — a written
  * file is either fully visible or absent, never partial (every object
  * store's PUT; the local FS via a temp file); (2) an atomic
  * PUBLISH-IF-ABSENT for the version file, [[publishIfAbsent]]. Its arm
  * is chosen by the file system's scheme:
  *  - object stores ([[conditionalPutSchemes]]) have NO atomic rename —
  *    rename is copy+delete and silently overwrites — but they have
  *    conditional create (`PUT If-None-Match`, Hadoop `create(p,
  *    overwrite = false)`): the final object is written conditionally and
  *    the store arbitrates the race;
  *  - `file:` gets a cross-process CAS: the content goes to a temp file,
  *    and creating a hard link at the final name is O_EXCL-atomic on
  *    POSIX (EEXIST when another process got there first), where rename(2)
  *    would silently replace the winner's file;
  *  - any other store (HDFS) falls back to exists+rename under a
  *    per-path JVM lock: exact within one driver; several drivers need a
  *    conditional-put store or an external lock.
  * Nothing renames at commit time on an object store, so an eventually
  * consistent LIST only delays the walk-forward below, never correctness.
  *
  * The version hint is advisory: it is rewritten after a won CAS by
  * [[writeHint]], which logs a failure and never throws (the version has
  * landed), and [[currentVersion]] walks forward from a stale hint and
  * lists the directory when the hint is missing, garbled or points past
  * every version. ObjectStoreCommitSpec runs both formats over an
  * in-process shim with the object-store semantics. */
object MetadataFiles {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val HintName = "version-hint.text"

  /** URI schemes whose stores offer CONDITIONAL CREATE (`PUT
    * If-None-Match`, surfaced by Hadoop as `create(p, overwrite=false)`)
    * but NOT atomic rename. `objstore` is the test shim
    * (ObjectStoreCommitSpec). */
  private val conditionalPutSchemes: Set[String] =
    Set("objstore", "s3", "s3a", "gs", "abfs", "r2")

  /** Per-destination JVM lock of the exists+rename fallback. Keyed by the
    * destination path; bounded by distinct commit destinations. */
  private val commitLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLock(key: String): Object = commitLocks.computeIfAbsent(key, _ => new Object)

  private def scheme(fs: FileSystem): String = Option(fs.getUri.getScheme).getOrElse("file")

  private def localPath(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  private def tmpOf(p: Path): Path =
    new Path(p.getParent, p.getName + "." + java.util.UUID.randomUUID().toString.take(8) + ".tmp")

  /** Whether `p` is a table's version hint (a file no snapshot references). */
  def isHint(p: Path): Boolean = p.getName == HintName

  def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Land what `write` produces at `p` iff nothing is there; false when
    * `p` was taken (the caller lost the race). No reader ever sees a
    * partial file at `p`. `write` may close the stream it is given. */
  def publishIfAbsent(fs: FileSystem, p: Path)(write: OutputStream => Unit): Boolean =
    scheme(fs) match {
      case s if conditionalPutSchemes(s) =>
        // the whole content first: a PUT publishes what the stream held at
        // close, so a failing `write` must fail before the create
        val bytes = new java.io.ByteArrayOutputStream()
        write(bytes)
        try {
          val out = fs.create(p, false)
          try out.write(bytes.toByteArray) finally out.close()
          true
        } catch {
          // the store may refuse at create or, arbitrating at completion, at close
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException        => false
        }
      case "file" =>
        val dst = localPath(p)
        val tmp = localPath(tmpOf(p))
        Files.createDirectories(dst.getParent)
        try {
          val out = Files.newOutputStream(tmp)
          try write(out) finally out.close()
          Files.createLink(dst, tmp)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        } finally Files.deleteIfExists(tmp)
      case _ =>
        val tmp = tmpOf(p)
        val out = fs.create(tmp, true)
        try write(out) finally out.close()
        val won = commitLock(p.toString).synchronized(!fs.exists(p) && fs.rename(tmp, p))
        if (!won) fs.delete(tmp, false)
        won
    }

  def publishIfAbsent(fs: FileSystem, p: Path, content: String): Boolean =
    publishIfAbsent(fs, p)(_.write(content.getBytes(StandardCharsets.UTF_8)))

  /** Replace `p` with `content` so a reader sees the old or the new file,
    * never a partial one or none (on `file:` an atomic move over the live
    * file; on an object store a PUT). Throws on failure. */
  def replace(fs: FileSystem, p: Path, content: String): Unit = {
    val bytes = content.getBytes(StandardCharsets.UTF_8)
    scheme(fs) match {
      case s if conditionalPutSchemes(s) =>
        val out = fs.create(p, true)
        try out.write(bytes) finally out.close()
      case "file" =>
        val dst = localPath(p)
        val tmp = localPath(tmpOf(p))
        Files.createDirectories(dst.getParent)
        try {
          Files.write(tmp, bytes)
          // a checksum sidecar the Hadoop local FS left next to an older
          // copy would be stale after the move (every read would fail)
          Files.deleteIfExists(dst.resolveSibling("." + dst.getFileName + ".crc"))
          Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        } finally Files.deleteIfExists(tmp)
      case _ =>
        val tmp = tmpOf(p)
        val out = fs.create(tmp, true)
        try out.write(bytes) finally out.close()
        // Hadoop's rename refuses an existing destination on most stores
        if (!fs.rename(tmp, p)) commitLock(p.toString).synchronized {
          fs.delete(p, false)
          if (!fs.rename(tmp, p)) {
            fs.delete(tmp, false)
            throw new java.io.IOException(s"could not replace $p")
          }
        }
    }
  }

  /** Attempts a rebasing [[commit]] makes on a contended table. */
  val MaxCommitAttempts = 10

  /** A table's metadata value as published at `version`. */
  final case class Versioned[+A](version: Int, value: A)

  /** The files one commit attempt wrote for its version to reference. */
  final class Staged private[MetadataFiles] () {
    private[MetadataFiles] var files = List.empty[Path]

    /** Record `p`, which this attempt wrote. */
    def +=(p: Path): Unit = files ::= p

    /** Publish `p` through `write` (false = the path was taken) and record
      * it. A taken path — a spec manifest or list, named by its snapshot —
      * is a lost race, as a taken version file is. */
    def claim(p: Path)(write: Path => Boolean): Unit =
      if (write(p)) files ::= p else throw new LostRace(p)
  }

  private final class LostRace(val path: Path) extends RuntimeException(null, null, false, false)

  /** The one optimistic commit of both table formats. Each attempt takes
    * a base — `base`, then `rebase()` after a lost race — and runs `build`
    * over it, which returns the next value (None: nothing to publish) and
    * records the files it wrote in its [[Staged]]. The value is rendered,
    * published if absent as version N+1 of `metadataDir` (files named
    * `nameOf`), and the hint follows. A lost race — the version file or a
    * claimed path was taken — deletes the attempt's files and rebases, up
    * to [[MaxCommitAttempts]] attempts (one without `rebase`). When the
    * build throws or the last race is lost, every staged file goes,
    * `staged` (written before the commit started) included; when the
    * version-file publish itself throws nothing does, because the version
    * may have landed. */
  def commit[A](fs: FileSystem, metadataDir: Path, nameOf: Int => String, what: String,
      render: A => String, staged: Seq[Path] = Nil)(
      base: => Versioned[A], rebase: Option[() => Versioned[A]])(
      build: (Versioned[A], Staged) => Option[A]): Versioned[A] = {
    def discard(files: Seq[Path]): Unit =
      files.foreach(p => try fs.delete(p, true) catch { case NonFatal(_) => () })
    val attempts = if (rebase.isDefined) MaxCommitAttempts else 1
    def attempt(n: Int): Versioned[A] = {
      val mine       = new Staged
      var publishing = false
      try {
        val b = if (n == 1) base else rebase.get()
        build(b, mine) match {
          case None => discard(mine.files ++ staged); b
          case Some(next) =>
            val (v, text) = (b.version + 1, render(next))
            val p         = new Path(metadataDir, nameOf(v))
            publishing = true
            if (!publishIfAbsent(fs, p, text)) throw new LostRace(p)
            writeHint(fs, metadataDir, v)
            Versioned(v, next)
        }
      } catch {
        case _: LostRace if n < attempts => discard(mine.files); attempt(n + 1)
        case e: LostRace =>
          discard(mine.files ++ staged)
          throw new java.util.ConcurrentModificationException(
            s"$what lost the commit race $n time(s) (${e.path.getName} was taken) — " +
              "re-read the table and retry the operation")
        case NonFatal(e) if !publishing => discard(mine.files ++ staged); throw e
      }
    }
    attempt(1)
  }

  /** Point the hint in `metadataDir` at `version`, best-effort: it runs
    * after the version file landed, so a failure is logged, never thrown. */
  def writeHint(fs: FileSystem, metadataDir: Path, version: Int): Unit = {
    val hint = new Path(metadataDir, HintName)
    try replace(fs, hint, version.toString)
    catch { case NonFatal(e) => log.warn(s"committed version $version but could not update $hint", e) }
  }

  /** Latest committed version in `metadataDir`, whose version files are
    * named `nameOf(version)`; 0 when there is none. The hint is a hint,
    * not truth: a garbled or missing one, or one that points past every
    * version file, falls back to a listing; from there the walk goes
    * forward until the next version is absent (a racing writer may have
    * published past the hint). A fresh hint costs three file-system
    * calls: the hint read and two existence checks. */
  def currentVersion(fs: FileSystem, metadataDir: Path, nameOf: Int => String): Int = {
    def exists(v: Int) = fs.exists(new Path(metadataDir, nameOf(v)))
    val hinted =
      try read(fs, new Path(metadataDir, HintName)).trim.toInt
      catch { case NonFatal(_) => 0 }
    var v = if (hinted > 0 && exists(hinted)) hinted else latestListed(fs, metadataDir, nameOf)
    if (v > 0) while (exists(v + 1)) v += 1
    v
  }

  /** Highest version file in a listing of `metadataDir` (0 when none). */
  private def latestListed(fs: FileSystem, metadataDir: Path, nameOf: Int => String): Int = {
    // a racing writer's temp file can vanish between the directory read
    // and the per-entry stat (RawLocalFileSystem shells out for
    // permissions and throws RuntimeException; object-store listings are
    // similarly non-atomic). Only that race retries, with backoff; the
    // version files are immutable once published, so a clean listing
    // always converges, and a persistent failure surfaces at once.
    def isVanishedEntry(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists {
        case _: java.io.FileNotFoundException => true
        case t =>
          val m = Option(t.getMessage).getOrElse("")
          m.contains("No such file") || m.contains("does not exist") ||
            m.contains("Error while running command to get file permissions")
      }
    def attempt(left: Int): Array[org.apache.hadoop.fs.FileStatus] =
      try fs.listStatus(metadataDir)
      catch {
        case _: java.io.FileNotFoundException if !fs.exists(metadataDir) => Array.empty
        case e @ (_: RuntimeException | _: java.io.IOException) if left > 0 && isVanishedEntry(e) =>
          Thread.sleep(5L << (6 - left)); attempt(left - 1)
      }
    val Digits = raw"(\d+)".r.unanchored
    attempt(6).iterator.map(_.getPath.getName).flatMap {
      case n @ Digits(d) if d.length <= 9 && nameOf(d.toInt) == n => Some(d.toInt)
      case _ => None
    }.maxOption.getOrElse(0)
  }
}
