package graft

import graft.icelite.IcebergFormat
import graft.icelite.IcebergFormat.{DataFileInfo, PartitionStatsEntry, StatsBlobMeta, StatsEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** The Writer operations behind `spec_metadata/v00009.metadata.json`:
  * every field the spec-metadata model carries ends up populated — a
  * dropped column, a nested rename and an appended column with an
  * `initial-default` (four schemas), identity / bucket / day / truncate
  * specs plus the auxiliary unpartitioned one, a declared sort order, a
  * statistics entry with a blob, a partition-statistics entry, properties
  * (`graft.read-by-id` among them), row lineage, delete / replace
  * snapshots next to appends, and an expiry. Half of the sequence runs on
  * a resumed writer, so resume takes part too, and both run on a fixed
  * clock, so commit times repeat run to run. No data file is opened:
  * the files are manifest entries only. Returns the final metadata path. */
object GoldenSpecOps {

  val TableUuid = "0f1e2d3c-4b5a-6978-8796-a5b4c3d2e1f0"

  /** Location prefix the checked-in fixture names instead of the
    * directory it was written in. */
  val FixtureLocation = "/warehouse/golden/t"

  /** The fixed clock both writers stamp commit times with: every snapshot
    * lands one millisecond after the table's previous update, counting
    * from 2024-01-01. */
  private val Epoch: () => Long = () => 1704067200000L

  private val schema0 = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType),
    StructField("day", DateType),
    StructField("junk", DoubleType),
    StructField("info", StructType(Seq(
      StructField("a", IntegerType),
      StructField("tags", ArrayType(StringType)))))))

  def run(spark: SparkSession, loc: String): String = {
    def file(n: String, rows: Long, parts: Map[String, Any] = Map.empty) =
      DataFileInfo(s"$loc/data/$n.parquet", rows, 100L * rows, partitionValues = parts)
    val w = new IcebergFormat.Writer(spark, loc, schema0, Seq("id"), tableUuid = TableUuid,
      clock = Epoch)
    w.dropColumn("junk")
    w.renameNestedColumn(Seq("info", "a"), "alpha")
    w.commit(Seq(file("a", 3, Map("id" -> 1)), file("b", 2, Map("id" -> 2))))
    w.evolveSpec(Seq("bucket(4, id)"))
    w.commit(Seq(file("c", 4, Map("id_bucket" -> 3))))
    w.evolveSchema(StructType(w.schemaNow.fields :+ StructField("score", LongType)))
    w.setInitialDefault("score", 7L)
    w.evolveSpec(Seq("days(day)"))
    w.commit(Seq(file("d", 5, Map("day_day" -> 19000))))

    val r = IcebergFormat.resumeWriter(spark, loc, Epoch)
    r.evolveSpec(Seq("truncate(2, name)"))
    r.commitDelta(Seq(DataFileInfo(s"$loc/data/del.parquet", 1, 50, content = 1)))
    val order = r.declareSortOrder(Seq("id", "name"))
    r.setProperty("graft.owner", "golden")
    r.rewriteDataFiles(Seq(file("r", 9, Map("name_trunc" -> "ab")).copy(sortOrderId = Some(order))))
    r.rewriteManifests()
    r.expireSnapshots(5)
    val snap = IcebergFormat.currentSnapshotId(spark, r.currentMetadataPath).get
    r.recordStatistics(StatsEntry(snap, s"$loc/metadata/stats-$snap.puffin", 400, 120,
      Seq(StatsBlobMeta("apache-datasketches-theta-v1", snap, snap, Seq(1), Map("ndv" -> "9")))))
    r.recordPartitionStatistics(PartitionStatsEntry(snap, s"$loc/metadata/partition-stats-$snap.parquet", 300))
    r.currentMetadataPath
  }
}
