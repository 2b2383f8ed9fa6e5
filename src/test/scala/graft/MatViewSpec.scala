package graft

import graft.icelite.IcebergFormat
import graft.ops.{MatView, MvAgg}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance ([[graft.ops.MatView]]):
  * refresh must be CORRECT under inserts, retractions, vanished groups,
  * null keys and null inputs — and delta-proportional where claimed (the
  * stats fields are the IO contract the 100 TB story rests on). */
class MatViewSpec extends SparkSpec {

  import spark.implicits._

  private def stage(loc: String, name: String, df: DataFrame,
      content: Int = 0, eqIds: Seq[Int] = Nil): IcebergFormat.DataFileInfo =
    IcebergFormat.writeSingleFile(spark, loc, name, df, content, eqIds)

  /** (file_path, pos) rows of the CURRENT base matching `pred` — how a
    * row-level DELETE engine would address them. */
  private def posDeleteDf(loc: String, pred: org.apache.spark.sql.Column): DataFrame = {
    val p = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
    spark.read.schema(p.schema).parquet(p.files.map(_.path.toString): _*)
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("pos", col("_metadata.row_index"))
      .filter(pred)
      .select("file_path", "pos")
  }

  /** Expected view contents: the full aggregate over the base's CURRENT
    * state (deletes applied), finalized the way MatView.read finalizes. */
  private def expected(loc: String, keys: Seq[String], aggSql: Seq[String]): Set[Row] = {
    val base = IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
    base.createOrReplaceTempView("mv_spec_base")
    spark.sql(
      s"SELECT ${(keys ++ aggSql).mkString(", ")} FROM mv_spec_base GROUP BY ${keys.mkString(", ")}")
      .collect().toSet
  }

  private def readSet(mvLoc: String): Set[Row] =
    MatView.read(spark, mvLoc).collect().toSet

  private val aggs = Seq(
    MvAgg("count", "*", "cnt"), MvAgg("sum", "v", "sv"), MvAgg("avg", "v", "av"))
  private val aggSql = Seq("COUNT(*) AS cnt", "SUM(v) AS sv",
    "CAST(SUM(v) AS DOUBLE) / COUNT(v) AS av")

  private def freshBase(name: String, rows: Seq[(String, java.lang.Long)]): (String, String, String) = {
    val root = scratch(name)
    val loc  = s"$root/base"
    val w    = new IcebergFormat.Writer(spark, loc,
      rows.toDF("k", "v").schema)
    w.commit(Seq(stage(loc, "f1", rows.toDF("k", "v"))))
    (root, loc, s"$root/mv")
  }

  private val seed: Seq[(String, java.lang.Long)] = Seq(
    ("a", 1L), ("a", 2L), ("b", 10L), (null, 5L), ("c", null))

  test("create + read matches the full aggregate, including null key and all-null sum") {
    val (_, loc, mv) = freshBase("mv_create", seed)
    MatView.create(spark, loc, mv, Seq("k"), aggs)
    assert(readSet(mv) == expected(loc, Seq("k"), aggSql))
    // group "c": all inputs null -> sv/av null, cnt 1
    val c = MatView.read(spark, mv).filter($"k" === "c").head()
    assert(c.getLong(1) == 1L && c.isNullAt(2) && c.isNullAt(3))
  }

  test("append window: mode=append, reads only the new files, result exact") {
    val (root, loc, mv) = freshBase("mv_append", seed)
    MatView.create(spark, loc, mv, Seq("k"), aggs)
    val w = IcebergFormat.resumeWriter(spark, loc)
    w.commit(Seq(stage(loc, "f2",
      Seq(("a", java.lang.Long.valueOf(3L)), ("d", java.lang.Long.valueOf(7L)),
        (null, null.asInstanceOf[java.lang.Long])).toDF("k", "v"))))
    val st = MatView.refresh(spark, mv)
    assert(st.mode == "append", st)
    assert(st.addedFilesRead == 1 && st.dataFilesReopened == 0 && st.deleteFilesRead == 0, st)
    assert(readSet(mv) == expected(loc, Seq("k"), aggSql))
    // and a second refresh with no base change is pure metadata
    assert(MatView.refresh(spark, mv).mode == "noop")
  }

  test("retract window: negative partials, only referenced files reopened") {
    val (root, loc, mv) = freshBase("mv_retract", seed)
    val w = IcebergFormat.resumeWriter(spark, loc)
    w.commit(Seq(stage(loc, "f2",
      Seq(("a", java.lang.Long.valueOf(3L)), ("d", java.lang.Long.valueOf(7L))).toDF("k", "v"))))
    MatView.create(spark, loc, mv, Seq("k"), aggs)
    // delete ("a",2) and (null,5) — both rows live in f1 only
    val del = posDeleteDf(loc, ($"k" === "a" && $"v" === 2L) || ($"v" === 5L && $"k".isNull))
    IcebergFormat.resumeWriter(spark, loc)
      .commitDelta(Seq(stage(loc, "d1", del, content = 1)))
    val st = MatView.refresh(spark, mv)
    assert(st.mode == "retract", st)
    assert(st.addedFilesRead == 0, st)
    assert(st.dataFilesReopened == 1, s"only f1 is referenced by the delete: $st")
    assert(readSet(mv) == expected(loc, Seq("k"), aggSql))
    // the null-key group was fully retracted -> no residual row
    assert(!MatView.read(spark, mv).collect().exists(_.isNullAt(0)))
  }

  test("sum reverts to NULL when every non-null input is retracted") {
    val (root, loc, mv) = freshBase("mv_nullrevert",
      Seq(("g", java.lang.Long.valueOf(4L)), ("g", null.asInstanceOf[java.lang.Long])))
    MatView.create(spark, loc, mv, Seq("k"), aggs)
    val del = posDeleteDf(loc, $"v" === 4L)
    IcebergFormat.resumeWriter(spark, loc)
      .commitDelta(Seq(stage(loc, "d1", del, content = 1)))
    assert(MatView.refresh(spark, mv).mode == "retract")
    val g = MatView.read(spark, mv).filter($"k" === "g").head()
    assert(g.getLong(1) == 1L && g.isNullAt(2) && g.isNullAt(3), g)
    assert(readSet(mv) == expected(loc, Seq("k"), aggSql))
  }

  test("vanished group: its row leaves the view entirely") {
    val (root, loc, mv) = freshBase("mv_vanish", seed)
    MatView.create(spark, loc, mv, Seq("k"), aggs)
    val del = posDeleteDf(loc, $"k" === "b")
    IcebergFormat.resumeWriter(spark, loc)
      .commitDelta(Seq(stage(loc, "d1", del, content = 1)))
    assert(MatView.refresh(spark, mv).mode == "retract")
    assert(!MatView.read(spark, mv).collect().exists(r => r.getString(0) == "b"))
    assert(readSet(mv) == expected(loc, Seq("k"), aggSql))
  }

  test("insert-then-delete inside one window nets out; new file never counts as reopened") {
    val (root, loc, mv) = freshBase("mv_netout", seed)
    MatView.create(spark, loc, mv, Seq("k"), aggs)
    val w = IcebergFormat.resumeWriter(spark, loc)
    w.commit(Seq(stage(loc, "f2",
      Seq(("e", java.lang.Long.valueOf(100L)), ("e", java.lang.Long.valueOf(200L))).toDF("k", "v"))))
    val del = posDeleteDf(loc, $"v" === 100L)
    IcebergFormat.resumeWriter(spark, loc)
      .commitDelta(Seq(stage(loc, "d1", del, content = 1)))
    val st = MatView.refresh(spark, mv)
    assert(st.mode == "retract" && st.addedFilesRead == 1 && st.dataFilesReopened == 0, st)
    val e = MatView.read(spark, mv).filter($"k" === "e").head()
    assert(e.getLong(1) == 1L && e.getLong(2) == 200L, e)
    assert(readSet(mv) == expected(loc, Seq("k"), aggSql))
  }

  test("already-deleted rows are not retracted twice across windows") {
    val (root, loc, mv) = freshBase("mv_nodouble", seed)
    // window 1: delete ("a",1); refresh
    val del1 = posDeleteDf(loc, $"k" === "a" && $"v" === 1L)
    IcebergFormat.resumeWriter(spark, loc)
      .commitDelta(Seq(stage(loc, "d1", del1, content = 1)))
    MatView.create(spark, loc, mv, Seq("k"), aggs) // created AFTER delete 1
    // window 2: a delete file listing BOTH the old pair and ("a",2) —
    // the old pair must be suppressed or group a would go negative
    val del2 = posDeleteDf(loc, $"k" === "a" && $"v" === 2L)
    val old  = posDeleteDf(loc, $"k" === "a" && $"v" === 1L) // reads raw: row still in file
    IcebergFormat.resumeWriter(spark, loc)
      .commitDelta(Seq(stage(loc, "d2", del2.unionAll(old), content = 1)))
    val st = MatView.refresh(spark, mv)
    assert(st.mode == "retract", st)
    assert(!MatView.read(spark, mv).collect().exists(r => r.getString(0) == "a"),
      "group a had rows (a,1),(a,2); both deleted -> must vanish, not double-subtract")
    assert(readSet(mv) == expected(loc, Seq("k"), aggSql))
  }

  test("min/max maintain under appends; a delete window falls back to full and stays correct") {
    val (root, loc, mv) = freshBase("mv_minmax", seed)
    val mmAggs  = Seq(MvAgg("min", "v", "vmin"), MvAgg("max", "v", "vmax"),
      MvAgg("count", "*", "cnt"))
    val mmSql = Seq("MIN(v) AS vmin", "MAX(v) AS vmax", "COUNT(*) AS cnt")
    MatView.create(spark, loc, mv, Seq("k"), mmAggs)
    val w = IcebergFormat.resumeWriter(spark, loc)
    w.commit(Seq(stage(loc, "f2",
      Seq(("a", java.lang.Long.valueOf(0L)), ("b", java.lang.Long.valueOf(99L))).toDF("k", "v"))))
    val st1 = MatView.refresh(spark, mv)
    assert(st1.mode == "append", st1)
    assert(readSet(mv) == expected(loc, Seq("k"), mmSql))
    // now a position delete: min/max are not subtractable -> loud full
    val del = posDeleteDf(loc, $"k" === "a" && $"v" === 0L)
    IcebergFormat.resumeWriter(spark, loc)
      .commitDelta(Seq(stage(loc, "d1", del, content = 1)))
    val st2 = MatView.refresh(spark, mv)
    assert(st2.mode == "full", st2)
    assert(readSet(mv) == expected(loc, Seq("k"), mmSql))
  }

  test("equality-delete window falls back to full and stays correct") {
    val (root, loc, mv) = freshBase("mv_eqfull", seed)
    MatView.create(spark, loc, mv, Seq("k"), aggs)
    val eqDel = Seq("a").toDF("k") // retire every 'a' row by key
    IcebergFormat.resumeWriter(spark, loc)
      .commitDelta(Seq(stage(loc, "eq1", eqDel, content = 2, eqIds = Seq(1))))
    val st = MatView.refresh(spark, mv)
    assert(st.mode == "full", st)
    assert(!MatView.read(spark, mv).collect().exists(r => r.getString(0) == "a"))
    assert(readSet(mv) == expected(loc, Seq("k"), aggSql))
  }

  test("rewrite (compaction) window falls back to full and stays correct") {
    val (root, loc, mv) = freshBase("mv_rewrite", seed)
    val w = IcebergFormat.resumeWriter(spark, loc)
    w.commit(Seq(stage(loc, "f2", Seq(("d", java.lang.Long.valueOf(7L))).toDF("k", "v"))))
    MatView.create(spark, loc, mv, Seq("k"), aggs)
    // compact: one replacement file carrying the merged content — the
    // window removes files, which the delta algebra refuses to attribute
    val merged = IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
    IcebergFormat.resumeWriter(spark, loc)
      .rewriteDataFiles(Seq(stage(loc, "compacted", merged)))
    val st = MatView.refresh(spark, mv)
    assert(st.mode == "full", st)
    assert(readSet(mv) == expected(loc, Seq("k"), aggSql))
  }

  test("create_mv/refresh_mv procedures: full SQL lifecycle with audit rows") {
    val wh = scratch("mv_proc_wh")
    spark.conf.set("spark.sql.catalog.mv_pr", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.mv_pr.warehouse", wh)
    try {
      val loc = s"$wh/ns/base"
      val w   = new IcebergFormat.Writer(spark, loc, seed.toDF("k", "v").schema)
      w.commit(Seq(stage(loc, "f1", seed.toDF("k", "v"))))
      spark.sql("CREATE NAMESPACE IF NOT EXISTS mv_pr.ns")
      val created = spark.sql(
        "CALL mv_pr.system.create_mv('ns', 'base', 'base_mv', 'k', " +
          "'count:*:cnt;sum:v:sv;avg:v:av')").head()
      assert(created.getString(0) == s"$wh/ns/base_mv" && created.getLong(1) > 0L, created)
      // noop refresh: base unchanged
      assert(spark.sql("CALL mv_pr.system.refresh_mv('ns', 'base_mv')")
        .head().getString(0) == "noop")
      // append + refresh through SQL, audit row checked
      IcebergFormat.resumeWriter(spark, loc).commit(Seq(stage(loc, "f2",
        Seq(("d", java.lang.Long.valueOf(7L))).toDF("k", "v"))))
      val r = spark.sql("CALL mv_pr.system.refresh_mv('ns', 'base_mv')").head()
      assert(r.getString(0) == "append" && r.getLong(3) == 1L && r.getLong(5) == 0L, r)
      assert(readSet(s"$wh/ns/base_mv") == expected(loc, Seq("k"), aggSql))
      // SHOW PROCEDURES surfaces the MV pair
      val listed = spark.sql("SHOW PROCEDURES IN mv_pr.system").collect()
        .flatMap(_.toSeq.collect { case s: String => s }).toSet
      assert(listed.contains("create_mv") && listed.contains("refresh_mv"), listed)
    } finally {
      spark.conf.unset("spark.sql.catalog.mv_pr")
      spark.conf.unset("spark.sql.catalog.mv_pr.warehouse")
    }
  }

  test("SQL DELETE on a connector-written table retracts the deleted row from the view") {
    val wh = scratch("mv_v2del_wh")
    spark.conf.set("spark.sql.catalog.mv_vd", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.mv_vd.warehouse", wh)
    try {
      val loc = s"$wh/ns/base"
      val mv  = s"$wh/ns/base_mv"
      // the V2 write lands its files under data/snap-w-*, where a
      // manifest-relative `_file` and the absolute path differ
      seed.toDF("k", "v").write.format("icelite").option("iceberg", "true")
        .option("location", loc).mode("overwrite").save()
      spark.sql("CREATE NAMESPACE IF NOT EXISTS mv_vd.ns")
      MatView.create(spark, loc, mv, Seq("k"), aggs)
      spark.sql("DELETE FROM mv_vd.ns.base WHERE v = 2")
      val st = MatView.refresh(spark, mv)
      assert(st.mode == "retract", st)
      val a = MatView.read(spark, mv).filter($"k" === "a").head()
      assert(a.getLong(1) == 1L && a.getLong(2) == 1L, a)
      assert(readSet(mv) == expected(loc, Seq("k"), aggSql))
    } finally {
      spark.conf.unset("spark.sql.catalog.mv_vd")
      spark.conf.unset("spark.sql.catalog.mv_vd.warehouse")
    }
  }

  test("SQL MoR DELETE on a native table drives a retract refresh end-to-end") {
    val wh = scratch("mv_sqldel_wh")
    spark.conf.set("spark.sql.catalog.mv_sd", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.mv_sd.warehouse", wh)
    try {
      val loc = s"$wh/ns/base"
      val mv  = s"$wh/ns/base_mv"
      val w   = new IcebergFormat.Writer(spark, loc, seed.toDF("k", "v").schema)
      w.commit(Seq(stage(loc, "f1", seed.toDF("k", "v"))))
      spark.sql("CREATE NAMESPACE IF NOT EXISTS mv_sd.ns")
      MatView.create(spark, loc, mv, Seq("k"), aggs)
      spark.sql("DELETE FROM mv_sd.ns.base WHERE v = 2")
      val st = MatView.refresh(spark, mv)
      assert(st.mode == "retract", s"SQL DELETE should surface as position deletes: $st")
      assert(readSet(mv) == expected(loc, Seq("k"), aggSql))
    } finally {
      spark.conf.unset("spark.sql.catalog.mv_sd")
      spark.conf.unset("spark.sql.catalog.mv_sd.warehouse")
    }
  }
}
