package graft

import graft.icelite.IcebergFormat
import org.apache.spark.sql.functions._

/** v3 default values (`initial-default`): pre-evolution files read the
  * default instead of null, files that physically carry the column keep
  * explicit nulls, the literal round-trips through the metadata JSON and
  * resumed writers, and both read paths (library scan + DSv2 SQL) agree. */
class DefaultValuesSpec extends SparkSpec {

  import spark.implicits._

  private def stage(loc: String, name: String,
      df: org.apache.spark.sql.DataFrame): IcebergFormat.DataFileInfo =
    IcebergFormat.writeSingleFile(spark, loc, name, df)

  test("library path: old files read the default, explicit nulls survive, no-default adds read null") {
    val root = scratch("dflt_lib")
    val loc  = s"$root/t"
    val df1  = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val w    = new IcebergFormat.Writer(spark, loc, df1.schema)
    w.commit(Seq(stage(loc, "f1", df1)))
    // evolve: channel STRING DEFAULT 'legacy', n INT (no default)
    val w2 = IcebergFormat.resumeWriter(spark, loc)
    w2.evolveSchema(org.apache.spark.sql.types.StructType(w2.schemaNow.fields ++ Seq(
      org.apache.spark.sql.types.StructField("channel", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType))))
    w2.setInitialDefault("channel", "legacy")
    w2.publishSchemaChange()
    // post-evolution file with an EXPLICIT null channel
    val df2 = Seq((3L, "c", "web", 7), (4L, "d", null.asInstanceOf[String], 8))
      .toDF("k", "s", "channel", "n")
    IcebergFormat.resumeWriter(spark, loc).commit(Seq(stage(loc, "f2", df2)))
    val got = IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      .select("k", "channel", "n").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSet
    assert(got == Set((1L, "legacy", -1), (2L, "legacy", -1),
      (3L, "web", 7), (4L, null, 8)), got)
  }

  test("metadata JSON carries initial-default/write-default and the resumed writer re-emits it") {
    val root = scratch("dflt_json")
    val loc  = s"$root/t"
    val df1  = Seq(1L, 2L).toDF("k")
    val w    = new IcebergFormat.Writer(spark, loc, df1.schema)
    w.commit(Seq(stage(loc, "f1", df1)))
    val w2 = IcebergFormat.resumeWriter(spark, loc)
    w2.evolveSchema(org.apache.spark.sql.types.StructType(w2.schemaNow.fields :+
      org.apache.spark.sql.types.StructField("flag", org.apache.spark.sql.types.IntegerType)))
    w2.setInitialDefault("flag", 42)
    w2.publishSchemaChange()
    // an unrelated resumed commit must not lose the default
    IcebergFormat.resumeWriter(spark, loc).commit(Seq(stage(loc, "f2",
      Seq((3L, 5)).toDF("k", "flag"))))
    val mp = IcebergFormat.currentMetadataPath(spark, loc)
    val fs = new org.apache.hadoop.fs.Path(mp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(mp))
    val json = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    assert(json.contains(""""initial-default":42""") &&
      json.contains(""""write-default":42"""), "defaults must persist in the metadata JSON")
    val got = IcebergFormat.scan(spark, mp).select("k", "flag").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((1L, 42), (2L, 42), (3L, 5)))
  }

  test("SQL: ALTER ADD COLUMN DEFAULT, reads and MoR DML through the defaulted column") {
    val wh = scratch("dflt_sql_wh")
    spark.conf.set("spark.sql.catalog.df_cat", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.df_cat.warehouse", wh)
    try {
      val loc = s"$wh/ns/t"
      val df  = (0L until 10L).toDF("v")
      val w   = new IcebergFormat.Writer(spark, loc, df.schema)
      w.commit(Seq(stage(loc, "f1", df)))
      spark.sql("CREATE NAMESPACE IF NOT EXISTS df_cat.ns")
      spark.sql("ALTER TABLE df_cat.ns.t ADD COLUMN channel STRING DEFAULT 'legacy'")
      assert(spark.sql("SELECT COUNT(*) FROM df_cat.ns.t WHERE channel = 'legacy'")
        .head().getLong(0) == 10L)
      // DML predicate on the defaulted column (reader-side substitution)
      spark.sql("DELETE FROM df_cat.ns.t WHERE channel = 'legacy' AND v >= 8")
      assert(spark.sql("SELECT COUNT(*) FROM df_cat.ns.t").head().getLong(0) == 8L)
      // the library scan agrees with SQL
      val lib = IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      assert(lib.filter(col("channel") === "legacy").count() == 8L)
      // int + date defaults round-trip too
      spark.sql("ALTER TABLE df_cat.ns.t ADD COLUMN prio INT DEFAULT 3")
      spark.sql("ALTER TABLE df_cat.ns.t ADD COLUMN since DATE DEFAULT DATE'2020-01-05'")
      val r = spark.sql("SELECT DISTINCT prio, since FROM df_cat.ns.t").collect()
      assert(r.length == 1 && r.head.getInt(0) == 3 &&
        r.head.getDate(1).toString == "2020-01-05", r.toSeq)
    } finally {
      spark.conf.unset("spark.sql.catalog.df_cat")
      spark.conf.unset("spark.sql.catalog.df_cat.warehouse")
    }
  }

  test("defaults survive a RENAME of the defaulted column (id-keyed, read-by-id)") {
    val wh = scratch("dflt_rename_wh")
    spark.conf.set("spark.sql.catalog.dr_cat", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.dr_cat.warehouse", wh)
    try {
      val loc = s"$wh/ns/t"
      val df  = (0L until 5L).toDF("v")
      val w   = new IcebergFormat.Writer(spark, loc, df.schema)
      w.commit(Seq(stage(loc, "f1", df)))
      spark.sql("CREATE NAMESPACE IF NOT EXISTS dr_cat.ns")
      spark.sql("ALTER TABLE dr_cat.ns.t ADD COLUMN tag STRING DEFAULT 'x'")
      spark.sql("ALTER TABLE dr_cat.ns.t RENAME COLUMN tag TO label")
      assert(spark.sql("SELECT COUNT(*) FROM dr_cat.ns.t WHERE label = 'x'")
        .head().getLong(0) == 5L)
    } finally {
      spark.conf.unset("spark.sql.catalog.dr_cat")
      spark.conf.unset("spark.sql.catalog.dr_cat.warehouse")
    }
  }

  test("CREATE TABLE with DEFAULT is refused loudly; icelite ALTER DEFAULT is refused") {
    val wh = scratch("dflt_neg_wh")
    spark.conf.set("spark.sql.catalog.dn_cat", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.dn_cat.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS dn_cat.ns")
      val e1 = intercept[Exception](spark.sql(
        "CREATE TABLE dn_cat.ns.bad (v BIGINT, c STRING DEFAULT 'x')"))
      assert(e1.getMessage.contains("DEFAULT"), e1.getMessage)
      // icelite-format table (catalog-created): ALTER DEFAULT refused
      spark.sql("CREATE TABLE dn_cat.ns.ice (v BIGINT)")
      val e2 = intercept[Exception](spark.sql(
        "ALTER TABLE dn_cat.ns.ice ADD COLUMN c STRING DEFAULT 'x'"))
      assert(e2.getMessage.contains("native"), e2.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.dn_cat")
      spark.conf.unset("spark.sql.catalog.dn_cat.warehouse")
    }
  }
}
