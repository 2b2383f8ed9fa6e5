package graft

import graft.icelite.{FsCatalog, IceTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField}

/** One read path for IceLite tables: SQL by name, the library scan and a
  * streaming read return the same rows, also after the table's
  * partitioning evolved. Each file's partition values come from the
  * `k=v` segments of its own path, so a file written before the evolution
  * keeps the column stored inside it and a hive-layout file takes it from
  * its directory. */
class IceLiteReadPathSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[(Int, Option[Int])] =
    df.select("id", "c").collect().toSeq
      .map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .sorted

  /** Rows of table `ns.t` in warehouse `wh` through every read path,
    * unfiltered and under `c = 5`, named by path. */
  private def readPaths(wh: String, tag: String): Seq[(String, Seq[(Int, Option[Int])])] = {
    val cat = s"rp_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val t = new FsCatalog(spark, wh).loadTable("ns", "t")
      val q = spark.readStream.format("icelite").option("location", t.location.toString).load()
        .writeStream.format("memory").queryName(s"rp_stream_$tag")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
      val streamed = spark.table(s"rp_stream_$tag")
      Seq(
        "sql"           -> rows(spark.sql(s"SELECT * FROM $cat.ns.t")),
        "scan"          -> rows(t.scan()),
        "stream"        -> rows(streamed),
        "sql c = 5"     -> rows(spark.sql(s"SELECT * FROM $cat.ns.t WHERE c = 5")),
        "scan c = 5"    -> rows(t.scan().filter(col("c") === 5)),
        "stream c = 5"  -> rows(streamed.filter(col("c") === 5)))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private val expected = Seq((1, Some(5)), (2, Some(6)), (3, Some(5)), (4, Some(7)))

  private def assertAllPaths(wh: String, tag: String): Unit =
    readPaths(wh, tag).foreach { case (path, got) =>
      val want = if (path.endsWith("c = 5")) expected.filter(_._2.contains(5)) else expected
      assert(got == want, s"$path read ${got.mkString(" ")}")
    }

  test("unpartitioned -> partitioned by c: SQL, library scan and stream read the same rows") {
    val wh = scratch("rp_addpart")
    new FsCatalog(spark, wh)
      .createOrReplaceTable("ns", "t", Seq((1, 5), (2, 6)).toDF("id", "c"))
      .evolvePartitioning(Seq("c"))
      .append(Seq((3, 5), (4, 7)).toDF("id", "c"))
    assertAllPaths(wh, "addpart")
  }

  test("partitioned by c -> unpartitioned: SQL, library scan and stream read the same rows") {
    val wh = scratch("rp_droppart")
    new FsCatalog(spark, wh)
      .createOrReplaceTable("ns", "t", Seq((1, 5), (2, 6)).toDF("id", "c"), Seq("c"))
      .evolvePartitioning(Nil)
      .append(Seq((3, 5), (4, 7)).toDF("id", "c"))
    assertAllPaths(wh, "droppart")
  }

  test("scanMetadataFile pinned before an addColumns reads that version's columns") {
    val t = new FsCatalog(spark, scratch("rp_mdfile"))
      .createOrReplaceTable("ns", "t", Seq((1, 5)).toDF("id", "c"))
    val before = t.metadataLocation
    t.addColumns(Seq(StructField("d", StringType)))
    t.append(Seq((2, 6, "x")).toDF("id", "c", "d"))
    val old = IceTable.scanMetadataFile(spark, before)
    assert(old.columns.toSeq == Seq("id", "c"))
    assert(rows(old) == Seq((1, Some(5))))
    val now = IceTable.scanMetadataFile(spark, t.metadataLocation)
    assert(now.columns.toSeq == Seq("id", "c", "d"))
    assert(rows(now) == Seq((1, Some(5)), (2, Some(6))))
  }

  test("a library scan pinned to pruned files counts only those files") {
    val t = new FsCatalog(spark, scratch("rp_pincount"))
      .createOrReplaceTable("ns", "t", (1 to 10).map(i => (i, i)).toDF("id", "c").coalesce(1))
    t.append((11 to 15).map(i => (i, i)).toDF("id", "c").coalesce(1))
    val pruned = t.scanRange("id", Some("11"), Some("15"))
    val count  = pruned.groupBy().count()
    assert(count.queryExecution.executedPlan.toString.contains("metadata-only count"),
      count.queryExecution.executedPlan.toString)
    assert(count.head().getLong(0) == 5L)
    assert(pruned.count() == 5L)
  }
}
