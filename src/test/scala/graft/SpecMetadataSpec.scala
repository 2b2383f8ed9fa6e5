package graft

import graft.icelite.{IcebergFormat, MetadataFiles, SpecMetadata}
import graft.icelite.IcebergFormat.DataFileInfo
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.json4s.jackson.JsonMethods

/** The codecs for spec-table metadata (`SpecMetadata` for the metadata
  * JSON, `SpecManifests` for the Avro manifests and manifest lists): the
  * golden fixture round-trips through the JSON codec unchanged, the
  * Writer replaying the fixture's operations writes the metadata fixture
  * and the Avro fixture again, every manifest-list entry counts its own
  * manifest's entries, strings that need JSON escaping survive a commit,
  * and a lost commit attempt leaves the writer's metadata exactly as it
  * was before the attempt. */
class SpecMetadataSpec extends SparkSpec {
  import spark.implicits._

  private val fixtureName = "v00009.metadata.json"

  private def resource(name: String): String = {
    val in = getClass.getResourceAsStream(s"/spec_metadata/$name")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def fixture: String = resource(fixtureName)

  private def readText(p: String): String = {
    val path = new Path(p)
    MetadataFiles.read(path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  test("golden fixture: every modeled field is populated and render(parse(x)) == x as JSON") {
    val md = SpecMetadata.parse(fixture)
    assert(md.schemas.size >= 2 && md.schemas.exists(_.nestedIds.nonEmpty) &&
      md.schemas.exists(_.defaults.nonEmpty))
    assert(Set("identity", "bucket[4]", "day", "truncate[2]")
      .subsetOf(md.specs.flatMap(_.fields.map(_.transform)).toSet))
    assert(md.specs.exists(_.fields.isEmpty), "no auxiliary unpartitioned spec")
    assert(md.sortOrders.nonEmpty && md.defaultSortOrderId != 0)
    assert(md.statistics.exists(_.blobs.nonEmpty) && md.partitionStatistics.nonEmpty)
    assert(md.readById && md.properties.size >= 2)
    assert(md.nextRowId > 0 && md.snapshots.exists(_.firstRowId.isDefined))
    assert(md.snapshots.size >= 3 && md.snapshots.map(_.operation).toSet.size >= 3)
    assert(md.snapshotLog.map(e => (e.snapshotId, e.timestampMs)) ==
      md.snapshots.map(s => (s.snapshotId, s.timestampMs)))
    assert(JsonMethods.parse(SpecMetadata.render(md)) == JsonMethods.parse(fixture))
  }

  test("commit times come from the wall clock, only grow, and the snapshot log follows them") {
    val loc = scratch("spec_clock") + "/t"
    def file(n: String) = DataFileInfo(s"$loc/data/$n.parquet", 1L, 10L)
    val t0 = System.currentTimeMillis()
    val w  = new IcebergFormat.Writer(spark, loc, StructType(Seq(StructField("x", LongType))))
    (1 to 4).foreach(i => w.commit(Seq(file(s"f$i"))))
    val t1 = System.currentTimeMillis()
    def read() = SpecMetadata.parse(readText(w.currentMetadataPath))
    val md = read()
    val times = md.snapshots.map(_.timestampMs)
    assert(times.head >= t0 && times.zip(times.tail).forall { case (a, b) => a < b },
      s"commit times not wall-clock and increasing: $times (start $t0)")
    assert(times.last <= t1 + times.size && md.lastUpdatedMs == times.last)
    assert(md.snapshotLog.map(e => (e.snapshotId, e.timestampMs)) ==
      md.snapshots.map(s => (s.snapshotId, s.timestampMs)))
    // expiry drops the expired snapshots' log entries; a resumed writer
    // keeps stamping past the last update
    w.expireSnapshots(2)
    IcebergFormat.resumeWriter(spark, loc).commit(Seq(file("f5")))
    val after = SpecMetadata.parse(readText(IcebergFormat.currentMetadataPath(spark, loc)))
    assert(after.snapshotLog.map(_.snapshotId) == after.snapshots.map(_.snapshotId))
    assert(after.snapshots.map(_.snapshotId) == md.snapshots.map(_.snapshotId).takeRight(2) :+ 5L)
    assert(after.snapshots.last.timestampMs > times.last)
  }

  test("the Writer replaying the fixture's operations writes the fixture") {
    val loc = scratch("spec_golden") + "/t"
    val mp  = GoldenSpecOps.run(spark, loc)
    assert(new Path(mp).getName == fixtureName)
    val written = readText(mp).replace(loc, GoldenSpecOps.FixtureLocation)
    assert(JsonMethods.parse(written) == JsonMethods.parse(fixture))
  }

  test("the Writer replaying the fixture's operations writes the Avro fixture's manifests and lists") {
    val loc = scratch("spec_golden_avro") + "/t"
    GoldenSpecOps.run(spark, loc)
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(JsonMethods.parse(SpecAvroDump(fs, loc)) ==
      JsonMethods.parse(resource("v00009.avro.json")))
  }

  test("each manifest-list entry counts its own manifest's files and rows, carried or merged") {
    val loc = scratch("spec_counts") + "/t"
    val fs  = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def file(n: String, rows: Long) = DataFileInfo(s"$loc/data/$n.parquet", rows, 10L * rows)
    // (added files, existing files, added rows, existing rows)
    def listed(metadataPath: String) = {
      val list = SpecMetadata.read(fs, new Path(metadataPath)).currentSnapshot.get.manifestList.get
      SpecAvroDump.records(fs, new Path(list)).map { m =>
        val stated = Seq("added_files_count", "existing_files_count", "added_rows_count",
          "existing_rows_count").map(k => m.get(k).asInstanceOf[Number].longValue)
        val entries = SpecAvroDump.records(fs, new Path(m.get("manifest_path").toString)).map { e =>
          (e.get("status").asInstanceOf[Int],
            e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
              .get("record_count").asInstanceOf[Long])
        }
        def files(status: Int) = entries.count(_._1 == status).toLong
        def rows(status: Int)  = entries.filter(_._1 == status).map(_._2).sum
        (stated, Seq(files(1), files(0), rows(1), rows(0)))
      }
    }
    val w = new IcebergFormat.Writer(spark, loc, StructType(Seq(StructField("id", LongType))))
    w.commit(Seq(file("a", 3)))
    w.commit(Seq(file("b", 2)))
    val two = listed(w.currentMetadataPath)
    assert(two.size == 2)
    two.foreach { case (stated, actual) => assert(stated == actual) }
    val r = IcebergFormat.resumeWriter(spark, loc)
    r.rewriteManifests()
    assert(listed(r.currentMetadataPath) == Seq((Seq(0L, 2L, 0L, 5L), Seq(0L, 2L, 0L, 5L))))
  }

  test("quotes and backslashes in property values, the location and column names survive a commit") {
    val loc   = scratch("spec_escape") + "/t \"q\" \\ b"
    val df    = Seq((1L, "x"), (2L, "y")).toDF("id", "we\"ird\\col")
    val value = "say \"hi\" \\ C:\\dir\\ \u0001 end"
    val w = new IcebergFormat.Writer(spark, loc, df.schema)
    w.setProperty("graft.note \"k\"", value)
    w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f1", df)))
    val mp = IcebergFormat.currentMetadataPath(spark, loc)
    assert(IcebergFormat.tableProperties(spark, mp) == Map("graft.note \"k\"" -> value))
    val md = SpecMetadata.parse(readText(mp))
    assert(md.location == loc)
    assert(md.currentSchema.struct.fieldNames.toSeq == Seq("id", "we\"ird\\col"))
    val back = IcebergFormat.scan(spark, mp)
    assert(back.columns.toSeq == Seq("id", "we\"ird\\col"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "x"), (2L, "y")))
    // a resumed writer re-publishes the same strings
    IcebergFormat.resumeWriter(spark, loc).commit(Nil)
    assert(IcebergFormat.tableProperties(spark, IcebergFormat.currentMetadataPath(spark, loc)) ==
      Map("graft.note \"k\"" -> value))
  }

  test("a lost commit attempt leaves the writer's metadata as it was") {
    val loc  = scratch("spec_rollback") + "/t"
    val part = Seq((1L, "x")).toDF("id", "k")
    def file(n: String, rows: Long, content: Int = 0) =
      DataFileInfo(s"$loc/data/$n.parquet", rows, 10L * rows, content = content,
        partitionValues = if (content == 0) Map("k" -> "x") else Map.empty)
    val w0 = new IcebergFormat.Writer(spark, loc, part.schema, Seq("k"))
    w0.commit(Seq(file("base", 3)))
    val winner = IcebergFormat.resumeWriter(spark, loc)
    val loser  = IcebergFormat.resumeWriter(spark, loc)
    winner.commit(Seq(file("w", 2)))
    // the loser's row delta would add the auxiliary spec, a "delete"
    // snapshot and advance the row-id allocator — all rolled back
    intercept[java.util.ConcurrentModificationException] {
      loser.commitDelta(Seq(file("del", 1, content = 1)))
    }
    // take the winner's snapshot away, so the loser's next attempt lands
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("v00002.metadata.json", "snap-2-manifest-list.avro", "m-00002.avro")
      .foreach(n => assert(fs.delete(new Path(s"$loc/metadata/$n"), false), n))
    MetadataFiles.writeHint(fs, new Path(loc, "metadata"), 1)
    loser.commit(Seq(file("l", 4)))
    val md = SpecMetadata.parse(readText(loser.currentMetadataPath))
    assert(new Path(loser.currentMetadataPath).getName == "v00002.metadata.json")
    assert(md.specs.size == 1, s"the lost attempt's auxiliary spec leaked: ${md.specs}")
    assert(md.snapshots.map(s => (s.snapshotId, s.operation, s.firstRowId)) ==
      Seq((1L, "append", Some(0L)), (2L, "append", Some(3L))))
    assert(md.nextRowId == 7L)
  }

  test("expiry deletes the data files only expired snapshots list and keeps the live one") {
    val loc = scratch("spec_expire_files") + "/t"
    val df  = Seq(1L, 2L, 3L).toDF("x")
    val w   = new IcebergFormat.Writer(spark, loc, df.schema)
    val old = Seq(IcebergFormat.writeSingleFile(spark, loc, "a", df.filter($"x" < 2)),
      IcebergFormat.writeSingleFile(spark, loc, "b", df.filter($"x" >= 2)))
    w.commit(old)
    val live = IcebergFormat.writeSingleFile(spark, loc, "c", df)
    w.rewriteDataFiles(Seq(live))
    w.expireSnapshots(1)
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(old.forall(f => !fs.exists(new Path(f.path))), old.map(_.path))
    assert(fs.exists(new Path(live.path)))
    assert(IcebergFormat.scan(spark, w.currentMetadataPath).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }
}
