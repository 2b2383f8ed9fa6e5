package perfbench

import graft.icelite.IceTable

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Disk {
  /** Regular files under `p` with their sizes. */
  def files(p: Path): Seq[(Path, Long)] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(f => f -> Files.size(f)).toVector
      finally s.close()
    }

  /** Bytes of every file under `p`. */
  def bytes(p: Path): Long = files(p).map(_._2).sum

  /** Bytes of the Parquet data files under `p`. */
  def parquetBytes(p: Path): Long =
    files(p).collect { case (f, n) if f.getFileName.toString.endsWith(".parquet") => n }.sum

  def local(location: String): Path =
    if (location.startsWith("file:")) Paths.get(java.net.URI.create(location)) else Paths.get(location)
}

/** Times the table layer's own calls on one table — `IceTable.load(..)
  * .metadata` and `filesOf` — and counts its snapshots, manifests, data
  * and delete files, and the metadata bytes written since the last probe.
  * A probe of a `fresh` table counts all of its metadata as new. */
final class IceProbe(fresh: Boolean = false) {
  private val seen        = mutable.Set.empty[Path]
  private var lastCommits = if (fresh) 0 else -1

  def probe(spark: SparkSession, location: String, commits: Int): Probe = {
    val n0    = System.nanoTime()
    val ice   = IceTable.load(spark, location)
    val md    = ice.metadata
    val n1    = System.nanoTime()
    val snap  = md.currentSnapshot
    val files = snap.fold(Seq.empty[String])(ice.filesOf)
    val n2    = System.nanoTime()
    val meta  = Disk.files(Disk.local(location)).filterNot { case (f, _) =>
      val n = f.getFileName.toString
      n.endsWith(".parquet") || n.endsWith(".parquet.crc")
    }
    val added = if (lastCommits < 0) 0L else meta.filterNot(m => seen(m._1)).map(_._2).sum
    val dc    = if (lastCommits < 0) 0 else commits - lastCommits
    seen ++= meta.map(_._1)
    lastCommits = commits
    Probe("icelite", Map(
      "metadata_s"   -> (n1 - n0) / 1e9,
      "plan_files_s" -> (n2 - n1) / 1e9,
      "snapshots"    -> md.snapshots.size.toDouble,
      "manifests"    -> snap.fold(0)(s => s.manifests.size + s.deleteManifests.size).toDouble,
      "data_files"   -> files.size.toDouble,
      "delete_files" -> snap.fold(0)(s => ice.deleteEntriesOf(s).size).toDouble,
      "new_metadata_bytes" -> added.toDouble,
      "commits"      -> dc.toDouble))
  }
}

/** Bytes of Parquet data files that appeared under a table since the last
  * look: what the ops in between wrote. */
final class DataWatch(location: String) {
  private val seen = mutable.Set.empty[Path]
  added()

  def added(): Long = {
    val now = Disk.files(Disk.local(location)).filter(_._1.getFileName.toString.endsWith(".parquet"))
    val b   = now.filterNot(f => seen(f._1)).map(_._2).sum
    seen ++= now.map(_._1)
    b
  }
}
