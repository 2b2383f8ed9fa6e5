package graft

import graft.icelite.{IcebergFormat, SpecMetadata}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Connector writes into an Iceberg-spec directory
  * (`df.write.format("icelite").option("iceberg", "true")`, SQL `INSERT
  * INTO` / `INSERT OVERWRITE` through the catalog): each write is one
  * snapshot of the same table — an append, or an overwrite that leaves
  * earlier snapshots readable. Identity-partitioned tables get prunable
  * partition tuples; a transform spec's files go under the auxiliary
  * unpartitioned spec. */
class IcebergWriteSpec extends SparkSpec {
  import spark.implicits._

  private def save(df: DataFrame, loc: String, mode: String): Unit =
    df.write.format("icelite").option("iceberg", "true")
      .option("location", loc).mode(mode).save()

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.as[(Long, String)].collect().toSet

  private def metadata(mp: String): SpecMetadata = {
    val p = new Path(mp)
    SpecMetadata.read(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  test("an overwrite is a snapshot: a DataFrame pinned to v00001 and time travel read the old rows") {
    val loc = scratch("icew_overwrite") + "/t"
    save(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), loc, "overwrite")
    val v1 = IcebergFormat.currentMetadataPath(spark, loc)
    assert(new Path(v1).getName == "v00001.metadata.json")
    val snap1  = IcebergFormat.currentSnapshotId(spark, v1).get
    val pinned = IcebergFormat.scan(spark, v1)
    save(Seq((10L, "x")).toDF("k", "v"), loc, "overwrite")
    assert(rows(pinned) == Set((1L, "a"), (2L, "b")))
    assert(rows(IcebergFormat.scan(spark, v1)) == Set((1L, "a"), (2L, "b")))
    val cur = IcebergFormat.currentMetadataPath(spark, loc)
    assert(rows(IcebergFormat.scan(spark, cur)) == Set((10L, "x")))
    assert(rows(IcebergFormat.scanAt(spark, cur, snap1)) == Set((1L, "a"), (2L, "b")))
    assert(metadata(cur).snapshots.map(_.operation) == Seq("append", "overwrite"))
  }

  test("mode(\"append\") onto an existing spec table lands as the next snapshot") {
    val loc = scratch("icew_append") + "/t"
    save(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), loc, "overwrite")
    save(Seq((3L, "c")).toDF("k", "v"), loc, "append")
    val mp   = IcebergFormat.currentMetadataPath(spark, loc)
    val snaps = metadata(mp).snapshots
    assert(snaps.map(_.operation) == Seq("append", "append"))
    assert(snaps(1).parentId.contains(snaps.head.snapshotId))
    assert(rows(IcebergFormat.scan(spark, mp)) == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("SQL INSERT INTO and INSERT OVERWRITE on a catalog-loaded native spec table") {
    val wh = scratch("icew_sql_wh")
    spark.conf.set("spark.sql.catalog.icew", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.icew.warehouse", wh)
    try {
      save(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), s"$wh/ns/t", "overwrite")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS icew.ns")
      spark.sql("INSERT INTO icew.ns.t VALUES (3, 'c')")
      assert(rows(spark.table("icew.ns.t")) == Set((1L, "a"), (2L, "b"), (3L, "c")))
      spark.sql("INSERT OVERWRITE icew.ns.t VALUES (7, 'z'), (8, 'y')")
      assert(rows(spark.table("icew.ns.t")) == Set((7L, "z"), (8L, "y")))
      val mp = IcebergFormat.currentMetadataPath(spark, s"$wh/ns/t")
      assert(metadata(mp).snapshots.map(_.operation) == Seq("append", "append", "overwrite"))
    } finally {
      spark.conf.unset("spark.sql.catalog.icew")
      spark.conf.unset("spark.sql.catalog.icew.warehouse")
    }
  }

  test("an identity-partitioned spec table: inserted files carry their partition value and prune by it") {
    val loc    = scratch("icew_part") + "/t"
    val schema = StructType(Seq(StructField("k", LongType), StructField("p", StringType)))
    val seed   = Seq((1L, "x")).toDF("k", "p")
    new IcebergFormat.Writer(spark, loc, schema, Seq("p")).commit(Seq(
      IcebergFormat.writeSingleFile(spark, loc, "seed", seed).copy(partitionValues = Map("p" -> "x"))))
    save(Seq((2L, "x"), (3L, "y"), (4L, "y")).toDF("k", "p").repartition(2), loc, "append")
    val mp    = IcebergFormat.currentMetadataPath(spark, loc)
    val pId   = 2 // p's field id
    val added = IcebergFormat.plan(spark, mp).files.filter(_.path.toString.contains("/data/snap-w-"))
    assert(added.map(_.partition.get(pId)).toSet == Set(Some("x"), Some("y")), added)
    val ys = IcebergFormat.scan(spark, mp).filter(col("p") === "y")
    val kept = IcebergFormat.inputFiles(ys)
    assert(kept.toSet == added.filter(_.partition.get(pId).contains("y")).map(_.path.toString).toSet,
      kept)
    assert(rows(ys) == Set((3L, "y"), (4L, "y")))
    assert(IcebergFormat.scan(spark, mp).count() == 4L)
  }

  test("a transform-partitioned spec table: appended files go under the auxiliary unpartitioned spec") {
    val loc    = scratch("icew_bucket") + "/t"
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    new IcebergFormat.Writer(spark, loc, schema, Seq("bucket(4, k)")).commit(Nil)
    save(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), loc, "append")
    val mp = IcebergFormat.currentMetadataPath(spark, loc)
    val md = metadata(mp)
    assert(md.specs.map(_.fields.map(_.transform)) == Seq(Seq("bucket[4]"), Nil), md.specs)
    assert(md.defaultSpecId == 0 && md.snapshots.map(_.operation) == Seq("append", "append"))
    assert(rows(IcebergFormat.scan(spark, mp).filter(col("k") === 2L)) == Set((2L, "b")))
    assert(IcebergFormat.scan(spark, mp).count() == 3L)
  }
}
