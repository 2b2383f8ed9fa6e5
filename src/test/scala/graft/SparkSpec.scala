package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (small core count — tests favor
  * startup latency over parallel throughput). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val sfDir = "/root/testdata/sf0.001"

  def scratch(name: String): String = {
    val p = java.nio.file.Paths.get(graft.Scratch.root, s"test_$name")
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
    p.toString
  }

  /** Manifest directories of `t` that no snapshot references — what an
    * aborted commit must not leave behind. */
  def unreferencedManifests(t: graft.icelite.IceTable): Set[String] = {
    val dir = new org.apache.hadoop.fs.Path(t.location, "metadata/manifests")
    val fs  = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed =
      if (!fs.exists(dir)) Set.empty[String]
      else fs.listStatus(dir).filter(_.isDirectory)
        .map(s => s"metadata/manifests/${s.getPath.getName}").toSet
    listed -- t.snapshots().flatMap(s => s.manifests ++ s.deleteManifests)
  }

  /** Names of the metadata-dir files of the Iceberg-spec table at `loc`
    * that its committed versions reach: the version JSONs, every
    * snapshot's manifest list, every manifest those lists carry, and the
    * version hint. */
  def reachableSpecMetadata(loc: String): Set[String] = {
    val mdDir = new org.apache.hadoop.fs.Path(loc, "metadata")
    val fs    = mdDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(mdDir).map(_.getPath)
      .filter(_.getName.endsWith(".metadata.json"))
    val lists = versions.flatMap { v =>
      graft.icelite.SpecMetadata.read(fs, v).snapshots.flatMap(_.manifestList)
    }.toSet
    val manifests = lists.flatMap { lp =>
      graft.icelite.SpecManifests.readList(fs, new org.apache.hadoop.fs.Path(lp)).map(_.path)
    }
    def name(p: String) = new org.apache.hadoop.fs.Path(p).getName
    versions.map(_.getName).toSet ++ lists.map(name) ++ manifests.map(name) + "version-hint.text"
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
