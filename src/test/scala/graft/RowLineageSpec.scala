package graft

import graft.icelite.IcebergFormat
import org.apache.spark.sql.functions._

/** v3 row lineage: implicit `_row_id` (file `first_row_id` + position)
  * and `_last_updated_sequence_number`, stable across row-level deletes
  * and — via materialization into rewritten files — across compaction. */
class RowLineageSpec extends SparkSpec {

  import spark.implicits._

  private def stage(loc: String, name: String,
      df: org.apache.spark.sql.DataFrame): IcebergFormat.DataFileInfo =
    IcebergFormat.writeSingleFile(spark, loc, name, df)

  private def idsOf(sql: String): Map[Long, Long] =
    spark.sql(sql).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("contiguous assignment across commits; SQL and library scans agree") {
    val wh = scratch("rl_basic_wh")
    spark.conf.set("spark.sql.catalog.rl_cat", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.rl_cat.warehouse", wh)
    try {
      val loc = s"$wh/ns/t"
      val w   = new IcebergFormat.Writer(spark, loc, (0L until 5L).toDF("v").schema)
      w.commit(Seq(stage(loc, "f1", (0L until 5L).toDF("v"))))
      IcebergFormat.resumeWriter(spark, loc).commit(Seq(
        stage(loc, "f2", (5L until 8L).toDF("v"))))
      spark.sql("CREATE NAMESPACE IF NOT EXISTS rl_cat.ns")
      val m = idsOf("SELECT v, _row_id FROM rl_cat.ns.t")
      assert(m == (0L until 8L).map(v => v -> v).toMap,
        s"two appends assign 0..7 contiguously: $m")
      // library twin agrees
      val lib = IcebergFormat.scanWithLineage(spark,
        IcebergFormat.currentMetadataPath(spark, loc))
        .select("v", "_row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lib == m)
      // last-updated = the commit's sequence number
      val seqs = spark.sql(
        "SELECT v, _last_updated_sequence_number FROM rl_cat.ns.t")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(seqs == ((0L until 5L).map(_ -> 1L) ++ (5L until 8L).map(_ -> 2L)).toMap, seqs)
    } finally {
      spark.conf.unset("spark.sql.catalog.rl_cat")
      spark.conf.unset("spark.sql.catalog.rl_cat.warehouse")
    }
  }

  test("ids survive MoR DELETE and COMPACTION (materialized into rewritten files)") {
    val wh = scratch("rl_compact_wh")
    spark.conf.set("spark.sql.catalog.rc_cat", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.rc_cat.warehouse", wh)
    try {
      val loc = s"$wh/ns/t"
      val w   = new IcebergFormat.Writer(spark, loc, (0L until 10L).toDF("v").schema)
      w.commit(Seq(stage(loc, "f1", (0L until 10L).toDF("v"))))
      spark.sql("CREATE NAMESPACE IF NOT EXISTS rc_cat.ns")
      val before = idsOf("SELECT v, _row_id FROM rc_cat.ns.t")
      spark.sql("DELETE FROM rc_cat.ns.t WHERE v % 3 = 0")
      val afterDel = idsOf("SELECT v, _row_id FROM rc_cat.ns.t")
      assert(afterDel == before.filter { case (v, _) => v % 3 != 0 },
        "survivors keep their ids under merge-on-read delete")
      spark.sql("CALL rc_cat.system.rewrite_data_files('ns', 't', 1)")
      val afterCompact = idsOf("SELECT v, _row_id FROM rc_cat.ns.t")
      assert(afterCompact == afterDel,
        s"compaction must materialize ids, not renumber: $afterCompact vs $afterDel")
      // the compacted file physically carries the columns; seq preserved too
      val seqs = spark.sql(
        "SELECT DISTINCT _last_updated_sequence_number FROM rc_cat.ns.t").collect()
      assert(seqs.length == 1 && seqs.head.getLong(0) == 1L,
        s"rewrite does not 'update' rows — original sequence survives: ${seqs.toSeq}")
      // post-compaction append continues the allocator without collisions
      IcebergFormat.resumeWriter(spark, loc).commit(Seq(
        stage(loc, "f2", (100L until 103L).toDF("v"))))
      val all = idsOf("SELECT v, _row_id FROM rc_cat.ns.t")
      assert(all.values.toSeq.distinct.size == all.size, s"id collision: $all")
      assert((100L until 103L).forall(v => all(v) >= 10L),
        "new rows allocate past the consumed span")
      // library lineage scan sees the same post-compaction world
      val lib = IcebergFormat.scanWithLineage(spark,
        IcebergFormat.currentMetadataPath(spark, loc))
        .select("v", "_row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lib == all)
    } finally {
      spark.conf.unset("spark.sql.catalog.rc_cat")
      spark.conf.unset("spark.sql.catalog.rc_cat.warehouse")
    }
  }

  test("metadata records next-row-id and per-snapshot first-row-id; resume continues") {
    val root = scratch("rl_meta")
    val loc  = s"$root/t"
    val w    = new IcebergFormat.Writer(spark, loc, (0L until 4L).toDF("v").schema)
    w.commit(Seq(stage(loc, "f1", (0L until 4L).toDF("v"))))
    val mp1 = IcebergFormat.currentMetadataPath(spark, loc)
    val fs = new org.apache.hadoop.fs.Path(mp1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def json(p: String) = {
      val in = fs.open(new org.apache.hadoop.fs.Path(p))
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    assert(json(mp1).contains(""""next-row-id":4"""))
    assert(json(mp1).contains(""""first-row-id":0"""))
    IcebergFormat.resumeWriter(spark, loc).commit(Seq(
      stage(loc, "f2", (4L until 6L).toDF("v"))))
    val mp2 = IcebergFormat.currentMetadataPath(spark, loc)
    assert(json(mp2).contains(""""next-row-id":6"""))
    assert(json(mp2).contains(""""first-row-id":4"""))
    // manifest field 142 round-trips through the plan
    val p = IcebergFormat.plan(spark, mp2)
    assert(p.files.flatMap(_.firstRowId).sorted == Seq(0L, 4L))
  }
}
