package graft

import graft.icelite.{DeletionVectors, IcebergFormat}
import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Iceberg v3 deletion vectors ([[graft.icelite.DeletionVectors]]):
  * blob codec conformance, delete-and-merge semantics, coexistence with
  * parquet position deletes and equality deletes, time travel, the SQL
  * read path, and the parquet→vector maintenance fold. */
class DeletionVectorSpec extends SparkSpec {

  import spark.implicits._

  private def stage(loc: String, name: String,
      df: org.apache.spark.sql.DataFrame, content: Int = 0,
      eqIds: Seq[Int] = Nil): IcebergFormat.DataFileInfo =
    IcebergFormat.writeSingleFile(spark, loc, name, df, content, eqIds)

  private def scanVals(loc: String): Set[Long] =
    IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      .select("v").collect().map(_.getLong(0)).toSet

  test("blob codec: length/magic/crc round trip, corruption rejected") {
    val bm = new Roaring64NavigableMap()
    Seq(0L, 1L, 7L, 1L << 33, 123456789L).foreach(bm.addLong)
    val blob = DeletionVectors.blobBytes(bm)
    // length prefix is big-endian length of magic+vector
    val len = java.nio.ByteBuffer.wrap(blob).getInt
    assert(len == blob.length - 8)
    // magic 1681511377 little-endian at offset 4
    val m = (blob(4) & 0xff) | ((blob(5) & 0xff) << 8) |
      ((blob(6) & 0xff) << 16) | ((blob(7) & 0xff) << 24)
    assert(m == 1681511377, f"magic 0x$m%08x")
    val back = DeletionVectors.parseBlob(blob)
    assert(back.getLongCardinality == 5L && back.contains(1L << 33))
    // flip one payload byte: CRC must catch it
    val bad = blob.clone(); bad(10) = (bad(10) ^ 0x1).toByte
    intercept[IllegalArgumentException](DeletionVectors.parseBlob(bad))
  }

  test("deleteWhere writes one vector per touched file and the scans agree") {
    val root = scratch("dv_basic")
    val loc  = s"$root/t"
    val df1  = (0L until 20L).toDF("v")
    val df2  = (20L until 40L).toDF("v")
    val w    = new IcebergFormat.Writer(spark, loc, df1.schema)
    w.commit(Seq(stage(loc, "f1", df1)))
    IcebergFormat.resumeWriter(spark, loc).commit(Seq(stage(loc, "f2", df2)))
    val n = DeletionVectors.deleteWhere(spark, loc, col("v") % 10 === 3)
    assert(n == 2, s"both files hold matching rows, got $n vectors")
    assert(scanVals(loc) == (0L until 40L).filter(_ % 10 != 3).toSet)
    // the delete manifests carry spec fields 143-145, surfaced as
    // deletion-vector rows with per-file cardinality
    val del = IcebergFormat.deletesTable(spark,
      IcebergFormat.currentMetadataPath(spark, loc)).collect()
    assert(del.length == 2 && del.forall(_.getString(1) == "deletion-vector"), del.toSeq)
    assert(del.map(_.getLong(2)).sum == 4L) // 3,13 | 23,33
  }

  test("second deleteWhere merges: newest vector is a superset, scans stay exact") {
    val root = scratch("dv_merge")
    val loc  = s"$root/t"
    val df   = (0L until 30L).toDF("v")
    val w    = new IcebergFormat.Writer(spark, loc, df.schema)
    w.commit(Seq(stage(loc, "f1", df)))
    DeletionVectors.deleteWhere(spark, loc, col("v") < 5)
    DeletionVectors.deleteWhere(spark, loc, col("v") >= 25)
    assert(scanVals(loc) == (5L until 25L).toSet)
    // newest vector carries ALL 10 deleted positions (merged superset)
    val p = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
    val newest = p.deletes.filter(_.dvRef.isDefined).maxBy(_.seq)
    assert(newest.rows == 10L, s"merged cardinality ${newest.rows}")
  }

  test("vectors and NEWER parquet position deletes compose") {
    val root = scratch("dv_mixed")
    val loc  = s"$root/t"
    val df   = (0L until 30L).toDF("v")
    val w    = new IcebergFormat.Writer(spark, loc, df.schema)
    w.commit(Seq(stage(loc, "f1", df)))
    DeletionVectors.deleteWhere(spark, loc, col("v") < 3)
    // a later parquet position delete (the v2 shape) on the same file
    val p  = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
    val fp = p.files.head.path.toString
    val delDf = Seq((fp, 10L), (fp, 11L)).toDF("file_path", "pos")
    IcebergFormat.resumeWriter(spark, loc)
      .commitDelta(Seq(stage(loc, "pd", delDf, content = 1)))
    assert(scanVals(loc) == (3L until 30L).toSet -- Set(10L, 11L))
    // and a THIRD vector delete folds everything for the file
    DeletionVectors.deleteWhere(spark, loc, col("v") === 29)
    assert(scanVals(loc) == (3L until 29L).toSet -- Set(10L, 11L))
    val p2 = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
    assert(p2.deletes.filter(_.dvRef.isDefined).maxBy(_.seq).rows == 6L,
      "newest vector must absorb the parquet pair (0,1,2,10,11,29)")
  }

  test("appended files are untouched by an earlier vector; time travel pre-dates it") {
    val root = scratch("dv_tt")
    val loc  = s"$root/t"
    val df1  = (0L until 10L).toDF("v")
    val w    = new IcebergFormat.Writer(spark, loc, df1.schema)
    w.commit(Seq(stage(loc, "f1", df1)))
    val mp0   = IcebergFormat.currentMetadataPath(spark, loc)
    val snap0 = IcebergFormat.currentSnapshotId(spark, mp0).get
    DeletionVectors.deleteWhere(spark, loc, col("v") < 9)
    IcebergFormat.resumeWriter(spark, loc).commit(Seq(
      stage(loc, "f2", (100L until 105L).toDF("v"))))
    assert(scanVals(loc) == Set(9L) ++ (100L until 105L))
    // pre-vector snapshot still reads the full file
    val mp = IcebergFormat.currentMetadataPath(spark, loc)
    assert(IcebergFormat.scanAt(spark, mp, snap0).count() == 10L)
  }

  test("scanRange and scanPoints keep the plan's deletes in the files they keep") {
    val root = scratch("dv_pruned")
    val loc  = s"$root/t"
    def bound(v: Long) = IcebergFormat.encodeBound(
      org.apache.spark.sql.types.LongType, v.toString).get
    def bounded(name: String, lo: Long, hi: Long) =
      stage(loc, name, (lo to hi).toDF("v")).copy(bounds = Map(1 -> (bound(lo), bound(hi))))
    val w = new IcebergFormat.Writer(spark, loc, (0L until 1L).toDF("v").schema)
    w.commit(Seq(bounded("f1", 0, 19), bounded("f2", 20, 39), bounded("f3", 40, 59)))
    // a vector on f1 (v = 3), then a parquet position delete on f2 (pos 1:
    // v = 21) that also names pos 0 of f4, a file committed after it
    DeletionVectors.deleteWhere(spark, loc, col("v") === 3)
    val f2 = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      .files.map(_.path.toString).find(_.endsWith("f2.parquet")).get
    val f4 = new org.apache.hadoop.fs.Path(s"$loc/data/f4.parquet").toString
    IcebergFormat.resumeWriter(spark, loc).commitDelta(Seq(
      stage(loc, "pd", Seq((f2, 1L), (f4, 0L)).toDF("file_path", "pos"), content = 1)))
    IcebergFormat.resumeWriter(spark, loc).commit(Seq(bounded("f4", 60, 79)))
    val mp   = IcebergFormat.currentMetadataPath(spark, loc)
    val live = (0L until 40L).toSet -- Set(3L, 21L)
    def vals(df: org.apache.spark.sql.DataFrame) = df.select("v").collect().map(_.getLong(0)).toSet
    assert(vals(IcebergFormat.scanRange(spark, mp, "v", Some("0"), Some("39"))) == live)
    // the older delete leaves the newer f4 whole (spec sequence numbers)
    val (pts, kept, total) = IcebergFormat.scanPoints(spark, mp, "v", Seq("5", "25", "60"))
    assert((kept, total) == ((3, 4)))
    assert(vals(pts) == live ++ (60L to 79L))
    assert(pts.count() == live.size + 20L)
  }

  test("deletes naming data/snap- files by full path apply to library scans and view refresh") {
    import graft.ops.{MatView, MvAgg}
    val root = scratch("dv_snapw")
    val loc  = s"$root/t"
    val mv   = s"$root/mv"
    val rows = (0L until 40L).map(v => (s"k${v % 4}", v))
    // the V2 write stages its files under data/snap-w-*
    rows.toDF("k", "v").repartition(2).write.format("icelite").option("iceberg", "true")
      .option("location", loc).mode("overwrite").save()
    val files = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      .files.map(_.path.toString)
    assert(files.nonEmpty && files.forall(_.contains("/data/snap-w-")), files)
    MatView.create(spark, loc, mv, Seq("k"), Seq(MvAgg("count", "*", "cnt"), MvAgg("sum", "v", "sv")))
    // a vector (v = 3), then a spec-style position delete (v = 21); both
    // name the data file by its full path
    DeletionVectors.deleteWhere(spark, loc, col("v") === 3)
    val pd = spark.read.parquet(files: _*)
      .where(col("v") === 21)
      .select(col("_metadata.file_path").as("file_path"), col("_metadata.row_index").as("pos"))
    IcebergFormat.resumeWriter(spark, loc)
      .commitDelta(Seq(stage(loc, "pd", pd, content = 1)))
    val mp   = IcebergFormat.currentMetadataPath(spark, loc)
    val live = rows.filterNot(r => r._2 == 3L || r._2 == 21L)
    assert(IcebergFormat.scan(spark, mp).count() == live.size.toLong)
    assert(scanVals(loc) == live.map(_._2).toSet)
    val st = MatView.refresh(spark, mv)
    assert(st.mode == "retract", st)
    val want = live.groupBy(_._1).map { case (k, rs) =>
      org.apache.spark.sql.Row(k, rs.size.toLong, rs.map(_._2).sum) }.toSet
    assert(MatView.read(spark, mv).collect().toSet == want)
  }

  test("SQL read path (DSv2) applies vectors; MoR DML works on a vectored table") {
    val wh = scratch("dv_sql_wh")
    spark.conf.set("spark.sql.catalog.dv_cat", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.dv_cat.warehouse", wh)
    try {
      val loc = s"$wh/ns/t"
      val df  = (0L until 50L).toDF("v")
      val w   = new IcebergFormat.Writer(spark, loc, df.schema)
      w.commit(Seq(stage(loc, "f1", df)))
      spark.sql("CREATE NAMESPACE IF NOT EXISTS dv_cat.ns")
      DeletionVectors.deleteWhere(spark, loc, col("v") % 5 === 0)
      val got = spark.sql("SELECT v FROM dv_cat.ns.t ORDER BY v")
        .collect().map(_.getLong(0)).toSet
      assert(got == (0L until 50L).filter(_ % 5 != 0).toSet)
      // SQL MoR DELETE over the vectored table: both delete shapes apply
      spark.sql("DELETE FROM dv_cat.ns.t WHERE v > 40")
      val got2 = spark.sql("SELECT v FROM dv_cat.ns.t").collect().map(_.getLong(0)).toSet
      assert(got2 == (0L until 41L).filter(_ % 5 != 0).toSet)
    } finally {
      spark.conf.unset("spark.sql.catalog.dv_cat")
      spark.conf.unset("spark.sql.catalog.dv_cat.warehouse")
    }
  }

  test("convertPositionDeletes folds parquet debt into vectors") {
    val root = scratch("dv_convert")
    val loc  = s"$root/t"
    val df   = (0L until 25L).toDF("v")
    val w    = new IcebergFormat.Writer(spark, loc, df.schema)
    w.commit(Seq(stage(loc, "f1", df)))
    val p  = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
    val fp = p.files.head.path.toString
    IcebergFormat.resumeWriter(spark, loc).commitDelta(Seq(
      stage(loc, "pd1", Seq((fp, 1L), (fp, 2L)).toDF("file_path", "pos"), content = 1)))
    IcebergFormat.resumeWriter(spark, loc).commitDelta(Seq(
      stage(loc, "pd2", Seq((fp, 3L)).toDF("file_path", "pos"), content = 1)))
    val n = DeletionVectors.convertPositionDeletes(spark, loc)
    assert(n == 1)
    assert(scanVals(loc) == (0L until 25L).toSet -- Set(1L, 2L, 3L))
    val newest = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      .deletes.filter(_.dvRef.isDefined).maxBy(_.seq)
    assert(newest.rows == 3L)
    // compaction clears ALL delete debt, vectors included
    val w2 = IcebergFormat.resumeWriter(spark, loc)
    val merged = IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
    w2.rewriteDataFiles(Seq(stage(loc, "compacted", merged)))
    val after = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
    assert(after.deletes.isEmpty && scanVals(loc) == (0L until 25L).toSet -- Set(1L, 2L, 3L))
  }

  test("MV refresh stays INCREMENTAL across deletion-vector windows (superset → delta)") {
    import graft.ops.{MatView, MvAgg}
    val root = scratch("dv_mv")
    val loc  = s"$root/t"
    val mv   = s"$root/mv"
    val df   = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("k", "v")
    val w    = new IcebergFormat.Writer(spark, loc, df.schema)
    w.commit(Seq(stage(loc, "f1", df)))
    MatView.create(spark, loc, mv, Seq("k"),
      Seq(MvAgg("count", "*", "cnt"), MvAgg("sum", "v", "sv")))
    DeletionVectors.deleteWhere(spark, loc, col("v") === 2)
    val st1 = MatView.refresh(spark, mv)
    assert(st1.mode == "retract", st1)
    assert(MatView.read(spark, mv).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      == Set(("a", 1L, 1L), ("b", 2L, 7L)))
    // second vector is a MERGED SUPERSET (contains v=2's position too) —
    // the at-`from` DV suppression must reduce it to the v=4 delta only
    DeletionVectors.deleteWhere(spark, loc, col("v") === 4)
    val st2 = MatView.refresh(spark, mv)
    assert(st2.mode == "retract", st2)
    assert(MatView.read(spark, mv).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      == Set(("a", 1L, 1L), ("b", 1L, 3L)),
      "superset vector must not double-subtract the already-retracted row")
    // mixed window: a parquet position delete AND a merging vector
    val p  = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
    val fp = p.files.head.path.toString
    IcebergFormat.resumeWriter(spark, loc).commitDelta(Seq(
      stage(loc, "pd", Seq((fp, 0L)).toDF("file_path", "pos"), content = 1)))
    DeletionVectors.deleteWhere(spark, loc, col("v") === 3)
    val st3 = MatView.refresh(spark, mv)
    assert(st3.mode == "retract", st3)
    assert(MatView.read(spark, mv).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == Set.empty,
      "all rows deleted -> every group vanishes")
  }
}
