package graft

import graft.icelite.{IcebergFormat, Puffin, PuffinBlob, TableStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Puffin statistics files + ANALYZE ([[graft.icelite.TableStats]]):
  * structural conformance of the container, theta-sketch NDV accuracy,
  * metadata registration lifecycle (replace / accumulate / expire), and
  * the `t.statistics` SQL surface. */
class PuffinSpec extends SparkSpec {

  import spark.implicits._

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("puffin container round-trips blobs and validates its magics") {
    val dir  = scratch("puffin_rt")
    val path = new Path(s"$dir/test.puffin")
    val b1   = PuffinBlob("apache-datasketches-theta-v1", Seq(1), 7L, 7L,
      Array[Byte](1, 2, 3, 4, 5), Map("ndv" -> "42"))
    val b2   = PuffinBlob("graft-test-blob", Seq(2, 3), 7L, 7L,
      "payload-two".getBytes("UTF-8"))
    val (size, footer) = Puffin.write(fs, path, Seq(b1, b2), Map("created-by" -> "spec"))
    assert(size == fs.getFileStatus(path).getLen)
    assert(footer > 0 && footer < size)
    val (props, metas) = Puffin.readFooter(fs, path)
    assert(props("created-by") == "spec")
    assert(metas.map(_.blobType) == Seq("apache-datasketches-theta-v1", "graft-test-blob"))
    assert(metas.head.fields == Seq(1) && metas(1).fields == Seq(2, 3))
    assert(metas.head.properties("ndv") == "42")
    assert(Puffin.readBlob(fs, path, metas.head).toSeq == b1.bytes.toSeq)
    assert(new String(Puffin.readBlob(fs, path, metas(1)), "UTF-8") == "payload-two")
    // offsets are absolute: first blob right after the leading magic
    assert(metas.head.offset == 4L && metas(1).offset == 4L + b1.bytes.length)
  }

  test("theta sketches are exact at small cardinality and <5% off at 50k") {
    val small = Seq("a", "b", "c", "a").toDF("s")
    val smallNdv = TableStats.estimate(TableStats.buildSketches(small).head)
    assert(math.round(smallNdv) == 3L)
    val big = spark.range(0, 50000).select(($"id" % 37211).as("k"), $"id")
    val Seq(kB, idB) = TableStats.buildSketches(big.select($"k", $"id"))
    assert(math.abs(TableStats.estimate(kB) - 37211.0) / 37211.0 < 0.05,
      s"k ndv ${TableStats.estimate(kB)}")
    assert(math.abs(TableStats.estimate(idB) - 50000.0) / 50000.0 < 0.05,
      s"id ndv ${TableStats.estimate(idB)}")
    // null values never enter the sketch
    val withNulls = Seq(Some(1L), None, Some(2L), None).toDF("v")
    assert(math.round(TableStats.estimate(TableStats.buildSketches(withNulls).head)) == 2L)
  }

  test("analyze registers a statistics entry; re-analyze replaces; append+analyze accumulates") {
    val root = scratch("puffin_an")
    val loc  = s"$root/t"
    val df1  = Seq(("x", 1L), ("y", 2L), ("x", 3L)).toDF("k", "v")
    val w    = new IcebergFormat.Writer(spark, loc, df1.schema)
    w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f1", df1)))
    TableStats.analyze(spark, loc)
    def entries = IcebergFormat.statisticsEntries(spark,
      IcebergFormat.currentMetadataPath(spark, loc))
    assert(entries.size == 1 && entries.head.blobs.size == 2)
    assert(entries.head.blobs.forall(_.blobType == TableStats.ThetaBlobType))
    val kNdv = entries.head.blobs.find(_.fields == Seq(1)).get.properties("ndv").toLong
    assert(kNdv == 2L, s"k has 2 distinct values, recorded $kNdv")
    // re-analyze the SAME snapshot: replaced, not duplicated
    TableStats.analyze(spark, loc)
    assert(entries.size == 1)
    // append + analyze: a second entry for the new snapshot
    IcebergFormat.resumeWriter(spark, loc).commit(Seq(
      IcebergFormat.writeSingleFile(spark, loc, "f2",
        Seq(("z", 4L)).toDF("k", "v"))))
    TableStats.analyze(spark, loc)
    assert(entries.size == 2, s"expected entries for both snapshots: $entries")
    assert(TableStats.ndv(spark, loc, "k").map(math.round) == Some(3L))
    // the persisted sketch round-trips through the puffin file itself
    val e  = entries.maxBy(_.snapshotId)
    val p  = new Path(e.path)
    val (_, metas) = Puffin.readFooter(fs, p)
    val vMeta = metas.find(_.fields == Seq(2)).get
    assert(math.round(TableStats.estimate(Puffin.readBlob(fs, p, vMeta))) == 4L)
  }

  test("statistics survive unrelated commits and drop with expired snapshots") {
    val root = scratch("puffin_exp")
    val loc  = s"$root/t"
    val df1  = Seq(1L, 2L, 3L).toDF("v")
    val w    = new IcebergFormat.Writer(spark, loc, df1.schema)
    w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f1", df1)))
    TableStats.analyze(spark, loc)
    // an unrelated commit must carry the registration forward
    val w2 = IcebergFormat.resumeWriter(spark, loc)
    w2.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f2",
      Seq(4L).toDF("v"))))
    def entries = IcebergFormat.statisticsEntries(spark,
      IcebergFormat.currentMetadataPath(spark, loc))
    assert(entries.size == 1, "stats entry must survive a later commit")
    // expire the analyzed snapshot: its statistics entry goes with it
    val w3 = IcebergFormat.resumeWriter(spark, loc)
    w3.expireSnapshots(1)
    assert(entries.isEmpty, s"expired snapshot's statistics must drop: $entries")
  }

  test("t.statistics SQL surface over a native dir") {
    val wh = scratch("puffin_sql_wh")
    spark.conf.set("spark.sql.catalog.pf_cat", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.pf_cat.warehouse", wh)
    try {
      val loc = s"$wh/ns/t"
      val df  = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
      val w   = new IcebergFormat.Writer(spark, loc, df.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f1", df)))
      TableStats.analyze(spark, loc)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS pf_cat.ns")
      val rows = spark.sql(
        "SELECT fields, ndv FROM pf_cat.ns.t.statistics ORDER BY fields").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("1", 2L), ("2", 2L)), rows.mkString(","))
    } finally {
      spark.conf.unset("spark.sql.catalog.pf_cat")
      spark.conf.unset("spark.sql.catalog.pf_cat.warehouse")
    }
  }

  test("partition statistics: typed file agrees with manifests; lifecycle replace/expire; refusals") {
    val root = scratch("pstats")
    val loc  = s"$root/t"
    val df   = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("v", "p")
    val w    = new IcebergFormat.Writer(spark, loc, df.schema, partitionBy = Seq("p"))
    def slice(tag: String, pv: String, rows: Seq[(Long, String)]) =
      IcebergFormat.writeSingleFile(spark, loc, tag, rows.toDF("v", "p"))
        .copy(partitionValues = Map("p" -> pv))
    w.commit(Seq(slice("x1", "x", Seq((1L, "x"), (2L, "x"))), slice("y1", "y", Seq((3L, "y")))))
    graft.icelite.TableStats.computePartitionStats(spark, loc)
    def entries = IcebergFormat.partitionStatisticsEntries(spark,
      IcebergFormat.currentMetadataPath(spark, loc))
    assert(entries.size == 1)
    val rows = spark.read.parquet(entries.head.path)
      .select("partition.p", "data_record_count", "data_file_count")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows == Set(("x", 2L, 1), ("y", 1L, 1)), rows)
    // recompute for the SAME snapshot replaces; a new snapshot accumulates
    graft.icelite.TableStats.computePartitionStats(spark, loc)
    assert(entries.size == 1)
    IcebergFormat.resumeWriter(spark, loc).commit(Seq(slice("x2", "x", Seq((4L, "x")))))
    graft.icelite.TableStats.computePartitionStats(spark, loc)
    assert(entries.size == 2)
    // native t.partitions agrees with the fresh file
    val live = IcebergFormat.partitionsTable(spark,
      IcebergFormat.currentMetadataPath(spark, loc))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(live == Set(("p=x", 2L, 3L), ("p=y", 1L, 1L)), live)
    // expiration drops the expired snapshot's registration
    IcebergFormat.resumeWriter(spark, loc).expireSnapshots(1)
    assert(entries.size == 1, s"expired snapshot's entry must drop: $entries")
    // unpartitioned table: loud refusal
    val loc2 = s"$root/u"
    val w2   = new IcebergFormat.Writer(spark, loc2, Seq(1L).toDF("v").schema)
    w2.commit(Seq(IcebergFormat.writeSingleFile(spark, loc2, "f", Seq(1L).toDF("v"))))
    intercept[IllegalArgumentException](
      graft.icelite.TableStats.computePartitionStats(spark, loc2))
  }

  test("sketches are mergeable: union of snapshot sketches ≈ sketch of union") {
    import org.apache.datasketches.theta.{SetOperation, Sketches}
    import org.apache.datasketches.memory.Memory
    val a = spark.range(0, 30000).select($"id".as("v"))
    val b = spark.range(20000, 60000).select($"id".as("v"))
    val sa = TableStats.buildSketches(a).head
    val sb = TableStats.buildSketches(b).head
    val u  = SetOperation.builder().buildUnion()
    u.union(Sketches.wrapSketch(Memory.wrap(sa)))
    u.union(Sketches.wrapSketch(Memory.wrap(sb)))
    val merged = u.getResult.getEstimate
    assert(math.abs(merged - 60000.0) / 60000.0 < 0.05, s"merged ndv $merged")
  }
}
