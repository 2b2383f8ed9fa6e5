package graft

import graft.icelite.FsCatalog
import org.apache.spark.sql.functions._

/** Edge-case coverage for the DataSource V2 connector beyond the
  * oracle-gated registry queries (ic49–ic56, st14–st16): partition-value
  * restoration, empty tables, null partition values, schema pruning to
  * nothing, and write-path schema enforcement. */
class DataSourceV2Spec extends SparkSpec {

  private def v2(location: String) =
    spark.read.format("icelite").option("location", location).load()

  test("partitioned read restores typed partition values identical to the library scan") {
    val cat = new FsCatalog(spark, scratch("v2part"))
    val t = cat.createOrReplaceTable("ns", "orders_p",
      Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority", "o_totalprice"),
      Seq("o_orderpriority"))
    val lib = t.scan().select("o_orderkey", "o_orderpriority").orderBy("o_orderkey")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val via = v2(t.location.toString).select("o_orderkey", "o_orderpriority")
      .orderBy("o_orderkey")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(via.length == lib.length && via.sameElements(lib),
      "V2 partition-value restoration diverged from the library scan")
  }

  test("empty (pre-commit) table reads as zero rows with the declared schema") {
    val cat = new FsCatalog(spark, scratch("v2empty"))
    val src = Tables.nation(spark, sfDir)
    val t = graft.icelite.IceTable.create(spark,
      scratch("v2empty_t") + "/t", "empty_t", "ns", src.schema)
    val df = v2(t.location.toString)
    assert(df.schema.fieldNames.sameElements(src.schema.fieldNames))
    assert(df.count() == 0L)
  }

  test("projection pruned to a single column decodes only that column") {
    val cat = new FsCatalog(spark, scratch("v2prune"))
    val t   = cat.createOrReplaceTable("ns", "nation_pr", Tables.nation(spark, sfDir))
    val names = v2(t.location.toString).select("n_name")
      .collect().map(_.getString(0)).sorted
    val expect = Tables.nation(spark, sfDir).select("n_name")
      .collect().map(_.getString(0)).sorted
    assert(names.sameElements(expect))
  }

  test("count(*) over a partitioned table uses footer row counts per file") {
    val cat = new FsCatalog(spark, scratch("v2cnt"))
    val t = cat.createOrReplaceTable("ns", "orders_c",
      Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority"),
      Seq("o_orderpriority"))
    // partitioned tables take the non-pushed path (count pushdown is
    // unpartitioned-only today): the readers still satisfy an empty
    // required schema from footers + partition constants
    assert(v2(t.location.toString).count() == Tables.orders(spark, sfDir).count())
  }

  test("schema evolution: V2 read nulls the evolved column for pre-evolution files") {
    val cat = new FsCatalog(spark, scratch("v2evo"))
    val t   = cat.createOrReplaceTable("ns", "nation_evo",
      Tables.nation(spark, sfDir).select("n_nationkey", "n_name"))
    t.evolveAppend(Tables.nation(spark, sfDir)
      .select(col("n_nationkey") + 100, col("n_name"), lit("extra").as("note"))
      .toDF("n_nationkey", "n_name", "note"))
    val df = v2(t.location.toString).select("n_nationkey", "note")
    val rows = df.collect().map(r =>
      (r.getAs[Number](0).longValue(), if (r.isNullAt(1)) null else r.getString(1)))
    assert(rows.length == 50)
    assert(rows.filter(_._1 < 100).forall(_._2 == null),
      "old files must surface NULL for the evolved column")
    assert(rows.filter(_._1 >= 100).forall(_._2 == "extra"),
      "new files must carry the evolved column's values")
  }

  test("SQL ALTER TABLE ADD COLUMN evolves metadata-only; old rows read NULL") {
    spark.conf.set("spark.sql.catalog.ice_t", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_t.warehouse", scratch("v2alter"))
    Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
      .createOrReplaceTempView("nation_alter_src")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_t.ns")
    spark.sql("DROP TABLE IF EXISTS ice_t.ns.nation_a")
    spark.sql("CREATE TABLE ice_t.ns.nation_a AS SELECT * FROM nation_alter_src")
    spark.sql("ALTER TABLE ice_t.ns.nation_a ADD COLUMN note STRING")
    spark.sql("INSERT INTO ice_t.ns.nation_a SELECT n_nationkey + 100, n_name, 'x' FROM nation_alter_src")
    val rows = spark.sql("SELECT n_nationkey, note FROM ice_t.ns.nation_a")
      .collect().map(r => (r.getAs[Number](0).longValue(), Option(r.getString(1))))
    assert(rows.length == 50)
    assert(rows.filter(_._1 < 100).forall(_._2.isEmpty), "pre-evolution rows must read NULL")
    assert(rows.filter(_._1 >= 100).forall(_._2.contains("x")))
  }

  test("SQL ALTER COLUMN TYPE promotes int->bigint/float->double; old files read widened") {
    val whW = scratch("v2widen")
    spark.conf.set("spark.sql.catalog.ice_w", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_w.warehouse", whW)
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation_widen_src")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_w.ns")
    spark.sql("DROP TABLE IF EXISTS ice_w.ns.nation_w")
    spark.sql("""CREATE TABLE ice_w.ns.nation_w AS
                 SELECT CAST(n_nationkey AS INT) AS k,
                        CAST(n_nationkey + 0.25 AS FLOAT) AS v
                 FROM nation_widen_src""")
    // narrowing must be refused; widening is metadata-only
    intercept[Exception] {
      spark.sql("ALTER TABLE ice_w.ns.nation_w ALTER COLUMN k TYPE SMALLINT") }
    spark.sql("ALTER TABLE ice_w.ns.nation_w ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE ice_w.ns.nation_w ALTER COLUMN v TYPE DOUBLE")
    spark.sql("""INSERT INTO ice_w.ns.nation_w
                 SELECT CAST(n_nationkey + 9000000000 AS BIGINT),
                        CAST(n_nationkey + 0.1 AS DOUBLE)
                 FROM nation_widen_src WHERE n_nationkey = 0""")
    val cat = new FsCatalog(spark, whW)
    val lib = cat.loadTable("ns", "nation_w").scan()
      .select(col("k").cast("bigint").as("k"), col("v").cast("double").as("v"))
    def sameAsLibrary(sql: String, want: org.apache.spark.sql.DataFrame, vec: String): Unit = {
      val got = spark.sql(sql)
      assert(got.schema.map(_.dataType) == want.schema.map(_.dataType) &&
        got.count() == want.count() && got.except(want).isEmpty && want.except(got).isEmpty,
        s"catalog read diverged from the library scan: $sql (vectorized=$vec)")
    }
    // the read coercion, on BOTH parquet readers: old int32/float chunks
    // surface as long/double, new wide rows intact and equal to the library
    // scan, also under a filter on the promoted column
    Seq("true", "false").foreach { vec =>
      spark.conf.set("spark.sql.parquet.enableVectorizedReader", vec)
      try {
        val out = spark.sql("SELECT k, v FROM ice_w.ns.nation_w ORDER BY k").collect()
        assert(out.length == 26, s"row count wrong (vectorized=$vec)")
        assert(out.head.getLong(0) == 0L && out.head.getDouble(1) == 0.25d,
          s"narrow row not widened (vectorized=$vec)")
        assert(out.last.getLong(0) == 9000000000L && out.last.getDouble(1) == 0.1d,
          s"wide row lost (vectorized=$vec)")
        sameAsLibrary("SELECT * FROM ice_w.ns.nation_w", lib, vec)
        sameAsLibrary("SELECT * FROM ice_w.ns.nation_w WHERE k > 2147483647",
          lib.filter(col("k") > 2147483647L), vec)
        sameAsLibrary("SELECT * FROM ice_w.ns.nation_w WHERE v < 3.0",
          lib.filter(col("v") < 3.0), vec)
      } finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    }
    // field ids preserved across the promotion
    val ids = cat.loadTable("ns", "nation_w").metadata.fields.map(f => f.name -> f.id)
    assert(ids == Seq("k" -> 1, "v" -> 2), s"field ids changed: $ids")
  }

  test("V2 write rejects a mismatched schema loudly") {
    val cat = new FsCatalog(spark, scratch("v2wbad"))
    val t   = cat.createOrReplaceTable("ns", "nation_w", Tables.nation(spark, sfDir))
    val ex = intercept[Exception] {
      Tables.region(spark, sfDir).write.format("icelite")
        .option("location", t.location.toString).mode("append").save()
    }
    // Spark's own V2 write analysis rejects the shape before our builder
    // even runs — either error is a loud, correct refusal
    assert(ex.getMessage != null &&
      (ex.getMessage.contains("schema") || ex.getMessage.contains("INCOMPATIBLE_DATA")),
      s"expected a schema-mismatch error, got: ${ex.getMessage}")
  }

  test("filters on a pruned-away column still prune files (pushdown before projection)") {
    val cat    = new FsCatalog(spark, scratch("v2fp"))
    val orders = Tables.orders(spark, sfDir)
    val t = cat.createOrReplaceTable("ns", "orders_fp",
      orders.filter(col("o_orderkey") < 1000).coalesce(1))
    t.append(orders.filter(col("o_orderkey") >= 1000).coalesce(1))
    // project a DIFFERENT column than the filter column
    val df = v2(t.location.toString)
      .filter(col("o_orderkey") <= 999)
      .select("o_totalprice")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("files=1/2"), "pushdown lost when filter column is pruned:\n" + p.take(600))
    assert(df.count() == orders.filter(col("o_orderkey") <= 999).count())
  }

  test("partitioned V2 SQL INSERT: null values, multi-column layout, overwrite") {
    import spark.implicits._
    val wh = scratch("v2pins")
    spark.conf.set("spark.sql.catalog.pi_spec", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.pi_spec.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS pi_spec.ns")
      spark.sql("""CREATE TABLE pi_spec.ns.p (k BIGINT, a STRING, b INT)
                   PARTITIONED BY (a, b)""")
      Seq((1L, "x", 1), (2L, "with space", 1), (3L, null.asInstanceOf[String], 2),
        (4L, "x", 2), (5L, "x", 1))
        .toDF("k", "a", "b").createOrReplaceTempView("pi_src")
      spark.sql("INSERT INTO pi_spec.ns.p SELECT * FROM pi_src")
      // round trip: typed restoration incl. the NULL and the escaped value
      val got = spark.sql("SELECT k, a, b FROM pi_spec.ns.p ORDER BY k")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getInt(2)))
      assert(got.toSeq == Seq((1L, "x", 1), (2L, "with space", 1), (3L, null, 2),
        (4L, "x", 2), (5L, "x", 1)))
      // one file per (a, b) value pair — 4 distinct pairs
      val parts = spark.sql("SELECT partition, n_files FROM pi_spec.ns.p.partitions").collect()
      assert(parts.length == 4 && parts.forall(_.getLong(1) == 1L),
        s"expected 4 partitions x 1 file, got ${parts.mkString(",")}")
      // partition predicate prunes to the single matching file
      val pruned = spark.sql("SELECT k FROM pi_spec.ns.p WHERE a = 'with space' AND b = 1")
      val plan = pruned.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("files=1/4"), "escaped-value partition did not prune:\n" + plan.take(600))
      assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(2L))
      // INSERT OVERWRITE replaces the partitioned table atomically
      spark.sql("INSERT OVERWRITE pi_spec.ns.p SELECT * FROM pi_src WHERE b = 1")
      assert(spark.sql("SELECT COUNT(*) FROM pi_spec.ns.p").collect()(0).getLong(0) == 3L)
    } finally {
      spark.conf.unset("spark.sql.catalog.pi_spec")
      spark.conf.unset("spark.sql.catalog.pi_spec.warehouse")
    }
  }

  test("metadata-only DELETE: null-partition soundness and SQL TRUNCATE") {
    import spark.implicits._
    val wh = scratch("v2mdd")
    spark.conf.set("spark.sql.catalog.md_spec", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.md_spec.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS md_spec.ns")
      spark.sql("CREATE TABLE md_spec.ns.p (k BIGINT, d STRING) PARTITIONED BY (d)")
      Seq((1L, "x"), (2L, "y"), (3L, null.asInstanceOf[String]), (4L, "x"))
        .toDF("k", "d").createOrReplaceTempView("mdd_src")
      spark.sql("INSERT INTO md_spec.ns.p SELECT * FROM mdd_src")
      // partition-aligned delete drops only the 'x' file; the NULL-partition
      // file is provably no-match (its value is uniformly NULL), so the
      // metadata path stays available and the null row SURVIVES
      spark.sql("DELETE FROM md_spec.ns.p WHERE d = 'x'")
      val left = spark.sql("SELECT k FROM md_spec.ns.p ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      assert(left == Seq(2L, 3L), s"expected the y row and the NULL row to survive, got $left")
      val cat = new graft.icelite.FsCatalog(spark, wh)
      val t = cat.loadTable("ns", "p")
      assert(t.metadata.currentSnapshot.get.operation == "delete")
      // IS NOT NULL never drops a NULL-partition file, whether its stats
      // record the partition column as valueless (library write) or not
      cat.createOrReplaceTable("ns", "lib", spark.table("mdd_src"), Seq("d"))
      spark.sql("DELETE FROM md_spec.ns.lib WHERE d IS NOT NULL")
      assert(spark.sql("SELECT k FROM md_spec.ns.lib").collect().map(_.getLong(0)).toSeq ==
        Seq(3L), "IS NOT NULL dropped the NULL partition")
      // TRUNCATE TABLE = the same metadata path with an always-true match
      spark.sql("TRUNCATE TABLE md_spec.ns.p")
      assert(spark.sql("SELECT COUNT(*) FROM md_spec.ns.p").collect()(0).getLong(0) == 0L)
      // history intact: the pre-truncate snapshot still reads
      val t2 = cat.loadTable("ns", "p")
      val preTruncate = t2.metadata.snapshots.map(_.snapshot_id).sorted.takeRight(2).head
      assert(spark.sql(
        s"SELECT COUNT(*) FROM md_spec.ns.p VERSION AS OF $preTruncate")
        .collect()(0).getLong(0) == 2L)
    } finally {
      spark.conf.unset("spark.sql.catalog.md_spec")
      spark.conf.unset("spark.sql.catalog.md_spec.warehouse")
    }
  }

  test("a failed version-hint update does not fail an INSERT whose version landed") {
    import spark.implicits._
    val wh = scratch("v2hint")
    spark.conf.set("spark.sql.catalog.hint_spec", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.hint_spec.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS hint_spec.ns")
      spark.sql("CREATE TABLE hint_spec.ns.h (k BIGINT, v STRING)")
      // a non-empty directory where the hint goes makes every hint write fail
      val t    = new FsCatalog(spark, wh).loadTable("ns", "h")
      val hint = new org.apache.hadoop.fs.Path(t.location, "metadata/version-hint.text")
      val fs   = hint.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(hint, false) && fs.mkdirs(new org.apache.hadoop.fs.Path(hint, "blocker")))
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").createOrReplaceTempView("hint_src")
      spark.sql("INSERT INTO hint_spec.ns.h SELECT * FROM hint_src")
      assert(spark.sql("SELECT count(*) FROM hint_spec.ns.h").collect()(0).getLong(0) == 2L)
    } finally {
      spark.conf.unset("spark.sql.catalog.hint_spec")
      spark.conf.unset("spark.sql.catalog.hint_spec.warehouse")
    }
  }

  test("an INSERT with more tasks than rows leaves no parquet file outside the snapshot") {
    val wh = scratch("v2sparse")
    spark.conf.set("spark.sql.catalog.sparse_spec", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.sparse_spec.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS sparse_spec.ns")
      spark.sql("CREATE TABLE sparse_spec.ns.s (k BIGINT, v STRING)")
      // 8 write tasks, 2 rows: six tasks get none
      spark.sql("INSERT INTO sparse_spec.ns.s SELECT id, CAST(id AS STRING) FROM range(0, 2, 1, 8)")
      val t  = new FsCatalog(spark, wh).loadTable("ns", "s")
      val fs = t.location.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val prefix = fs.makeQualified(t.location).toString + "/"
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(t.location, "data"), true)
      val onDisk = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString)
        .filter(_.endsWith(".parquet")).map(_.stripPrefix(prefix)).toSet
      assert(onDisk == t.filesOf(t.metadata.currentSnapshot.get).toSet)
      assert(spark.sql("SELECT count(*) FROM sparse_spec.ns.s").collect()(0).getLong(0) == 2L)
    } finally {
      spark.conf.unset("spark.sql.catalog.sparse_spec")
      spark.conf.unset("spark.sql.catalog.sparse_spec.warehouse")
    }
  }

  test("SQL time travel through the catalog: VERSION/TIMESTAMP AS OF pin and error paths") {
    val wh = scratch("v2sqltt")
    spark.conf.set("spark.sql.catalog.tt_spec", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.tt_spec.warehouse", wh)
    try {
      Tables.nation(spark, sfDir).createOrReplaceTempView("tt_spec_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS tt_spec.ns")
      spark.sql("CREATE TABLE tt_spec.ns.n AS SELECT * FROM tt_spec_src")
      spark.sql("INSERT INTO tt_spec.ns.n SELECT * FROM tt_spec_src WHERE n_regionkey = 0")
      val full = Tables.nation(spark, sfDir).count()
      assert(spark.sql("SELECT * FROM tt_spec.ns.n VERSION AS OF 1").count() == full)
      assert(spark.sql("SELECT * FROM tt_spec.ns.n").count() > full)
      // wall-clock pin at snapshot 1's commit time agrees with version pin
      val snap1Ts = new FsCatalog(spark, wh).loadTable("ns", "n")
        .snapshots().find(_.snapshot_id == 1L).get.timestamp_ms
      assert(spark.sql(
        s"SELECT * FROM tt_spec.ns.n TIMESTAMP AS OF timestamp_millis(${snap1Ts}L)")
        .count() == full)
      // error paths: unknown snapshot id, pin earlier than the first commit
      val e1 = intercept[Exception](
        spark.sql("SELECT * FROM tt_spec.ns.n VERSION AS OF 99").collect())
      assert(e1.getMessage.contains("snapshot 99"), e1.getMessage)
      val e2 = intercept[Exception](
        spark.sql("SELECT * FROM tt_spec.ns.n TIMESTAMP AS OF timestamp_millis(0L)").collect())
      assert(e2.getMessage.contains("no snapshot"), e2.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.tt_spec")
      spark.conf.unset("spark.sql.catalog.tt_spec.warehouse")
    }
  }

  test("iceberg V2 overwrite commits new metadata BEFORE reclaiming the old state") {
    import spark.implicits._
    val loc = scratch("v2icereplace")
    val fs  = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hintVersion: Int = {
      val in = fs.open(new org.apache.hadoop.fs.Path(loc, "metadata/version-hint.text"))
      try scala.io.Source.fromInputStream(in).mkString.trim.toInt finally in.close()
    }
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("icelite").option("iceberg", "true")
      .option("location", loc).mode("overwrite").save()
    val v1 = hintVersion
    // the old state: its snapshot, manifest list, manifests and data dir
    val oldMd   = f"$loc/metadata/v$v1%05d.metadata.json"
    val oldSnap = graft.icelite.IcebergFormat.currentSnapshotId(spark, oldMd).get
    val oldList = new org.apache.hadoop.fs.Path(graft.icelite.SpecMetadata.read(fs,
      new org.apache.hadoop.fs.Path(oldMd)).snapshots.last.manifestList.get)
    val oldManifests = graft.icelite.IcebergFormat.manifestListPaths(spark, oldMd).map(_._1)
    val dataDir  = new org.apache.hadoop.fs.Path(loc, "data")
    val oldDirs  = fs.listStatus(dataDir).map(_.getPath)
    assert(oldDirs.nonEmpty && oldDirs.forall(_.getName.startsWith("snap-w-")),
      oldDirs.mkString(","))
    Seq((10L, "x")).toDF("k", "v")
      .write.format("icelite").option("iceberg", "true")
      .option("location", loc).mode("overwrite").save()
    val v2ver = hintVersion
    // the overwrite is a new version of the same table
    assert(v2ver > v1, s"replace must bump the version past the old table ($v1 -> $v2ver)")
    val metaFiles = fs.listStatus(new org.apache.hadoop.fs.Path(loc, "metadata"))
      .map(_.getPath.getName).toSet
    assert(metaFiles.contains(f"v$v2ver%05d.metadata.json"))
    // the replaced table reads the NEW rows through the v2 reader
    val md = f"$loc/metadata/v$v2ver%05d.metadata.json"
    val eng = new graft.icelite.Engine(spark, new FsCatalog(spark, scratch("v2icereplace_wh")))
    val got = eng.scanIcebergMetadata(md).as[(Long, String)].collect().toSet
    assert(got == Set((10L, "x")), s"replaced table read $got")
    // the old snapshot still time-travels
    val old = graft.icelite.IcebergFormat.scanAt(spark, md, oldSnap)
      .as[(Long, String)].collect().toSet
    assert(old == Set((1L, "a"), (2L, "b")), s"pre-overwrite snapshot read $old")
    // expiry reclaims the old state: list, manifests and data dir
    graft.icelite.IcebergFormat.resumeWriter(spark, loc).expireSnapshots(1)
    assert(!fs.exists(oldList), s"old manifest list not reclaimed: $oldList")
    assert(oldManifests.nonEmpty && oldManifests.forall(m =>
      !fs.exists(new org.apache.hadoop.fs.Path(m))), s"old manifests not reclaimed: $oldManifests")
    assert(oldDirs.forall(!fs.exists(_)), s"old data dirs not reclaimed: ${oldDirs.mkString(",")}")
  }

  test("persistent SQL views: full lifecycle through the ViewCatalog") {
    import org.apache.spark.sql.connector.catalog.ViewCatalog
    val wh = scratch("views")
    spark.conf.set("spark.sql.catalog.ice_vw", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_vw.warehouse", wh)
    try {
      val fsc = new FsCatalog(spark, wh)
      fsc.createOrReplaceTable("graft", "nat_v", Tables.nation(spark, sfDir))
      spark.sql("""CREATE VIEW ice_vw.graft.big AS
                   SELECT n_regionkey, count(*) AS n
                   FROM ice_vw.graft.nat_v GROUP BY n_regionkey""")
      // the definition is a durable warehouse file, not session state
      assert(new java.io.File(s"$wh/graft/_views/big.json").isFile)
      val got = spark.sql("SELECT * FROM ice_vw.graft.big ORDER BY n_regionkey").collect()
      assert(got.length == 5 && got.map(_.getLong(1)).sum == 25, s"view read wrong: ${got.toSeq}")
      // Iceberg-view TEXT semantics: each read re-plans against CURRENT
      // table state — an append is visible through the existing view
      fsc.loadTable("graft", "nat_v").append(
        Tables.nation(spark, sfDir).limit(3))
      assert(spark.sql("SELECT sum(n) AS s FROM ice_vw.graft.big").head().getLong(0) == 28)
      // duplicate-create semantics
      intercept[Exception](
        spark.sql("CREATE VIEW ice_vw.graft.big AS SELECT 1 AS one"))
      spark.sql("CREATE VIEW IF NOT EXISTS ice_vw.graft.big AS SELECT 1 AS one") // no-op
      assert(spark.sql("SELECT * FROM ice_vw.graft.big").columns.length == 2)
      spark.sql("""CREATE OR REPLACE VIEW ice_vw.graft.big AS
                   SELECT n_name FROM ice_vw.graft.nat_v WHERE n_regionkey = 0""")
      assert(spark.sql("SELECT * FROM ice_vw.graft.big").columns.toSeq == Seq("n_name"))
      // a view referencing ANOTHER view resolves transitively
      spark.sql("""CREATE VIEW ice_vw.graft.big2 AS
                   SELECT count(*) AS c FROM ice_vw.graft.big""")
      assert(spark.sql("SELECT c FROM ice_vw.graft.big2").head().getLong(0) >= 5)
      // catalog API surface: list + rename
      val cat = spark.sessionState.catalogManager.catalog("ice_vw").asInstanceOf[ViewCatalog]
      assert(cat.listViews("graft").map(_.name()).toSet == Set("big", "big2"))
      spark.sql("DROP VIEW ice_vw.graft.big2")
      spark.sql("DROP VIEW ice_vw.graft.big")
      assert(!new java.io.File(s"$wh/graft/_views/big.json").exists)
      intercept[Exception](spark.sql("SELECT * FROM ice_vw.graft.big").collect())
      intercept[Exception](spark.sql("DROP VIEW ice_vw.graft.big"))
      spark.sql("DROP VIEW IF EXISTS ice_vw.graft.big") // no-op, no throw
    } finally {
      spark.conf.unset("spark.sql.catalog.ice_vw")
      spark.conf.unset("spark.sql.catalog.ice_vw.warehouse")
    }
  }

  test("rename on a hive-partitioned table: data column by id, partition column refused") {
    val cat = new FsCatalog(spark, scratch("v2ren_p"))
    val nation = Tables.nation(spark, sfDir)
    val t = cat.createOrReplaceTable("ns", "nat_rp",
      nation.select("n_nationkey", "n_name", "n_regionkey"), Seq("n_regionkey"))
    // partition column names live in directory paths — rename/drop refused
    intercept[Exception] {
      cat.loadTable("ns", "nat_rp").renameColumns(Seq("n_regionkey" -> "rk")) }
    intercept[Exception] {
      cat.loadTable("ns", "nat_rp").dropColumns(Seq("n_regionkey")) }
    cat.loadTable("ns", "nat_rp").renameColumns(Seq("n_name" -> "nation_name"))
    val t2 = cat.loadTable("ns", "nat_rp")
    // post-rename append under the NEW name, so both eras coexist
    t2.append(nation.filter(col("n_nationkey") < 3).select(
      (col("n_nationkey") + 100).as("n_nationkey"),
      col("n_name").as("nation_name"), col("n_regionkey")))
    val expect = nation.count() + 3
    // library scan (hive branch): pre-rename files keep their values
    val lib = cat.loadTable("ns", "nat_rp").scan()
    assert(lib.filter(col("nation_name").isNotNull).count() == expect,
      "library hive scan lost values across the rename")
    // V2 custom reader: same binding by parquet field id
    val viaV2 = v2(t2.location.toString)
    assert(viaV2.filter(col("nation_name").isNotNull).count() == expect,
      "V2 reader lost values across the rename")
    // partition pruning still fires on the (unrenamed) partition column
    assert(viaV2.filter(col("n_regionkey") === 1).count() ==
      nation.filter(col("n_regionkey") === 1).count() +
        nation.filter(col("n_nationkey") < 3 && col("n_regionkey") === 1).count())
  }

  test("SQL UPDATE after RENAME COLUMN rewrites id-stamped files that still read by id") {
    val wh = scratch("v2ren_dml")
    spark.conf.set("spark.sql.catalog.ice_rd", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_rd.warehouse", wh)
    try {
      Tables.nation(spark, sfDir).createOrReplaceTempView("nation_rd_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_rd.ns")
      spark.sql("""CREATE TABLE ice_rd.ns.nat_rd AS
                   SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS label
                   FROM nation_rd_src""")
      spark.sql("ALTER TABLE ice_rd.ns.nat_rd RENAME COLUMN label TO title")
      spark.sql("UPDATE ice_rd.ns.nat_rd SET title = 'X' WHERE k % 5 = 0")
      val out = spark.sql("SELECT k, title FROM ice_rd.ns.nat_rd ORDER BY k").collect()
      assert(out.length == 25)
      assert(out.forall(r => if (r.getLong(0) % 5 == 0) r.getString(1) == "X"
                             else r.getString(1) != null && r.getString(1) != "X"),
        "UPDATE after rename corrupted values")
      // the rewrite's fresh files must read by id too (table stays read-by-id)
      val md = new FsCatalog(spark, wh).loadTable("ns", "nat_rd").metadata
      assert(md.readById, "rewrite dropped the read-by-id flag")
    } finally {
      spark.conf.unset("spark.sql.catalog.ice_rd")
      spark.conf.unset("spark.sql.catalog.ice_rd.warehouse")
    }
  }

  test("native-format DML after RENAME COLUMN resumes with the evolved schema") {
    import graft.icelite.IcebergFormat
    val wh = scratch("v2ren_native")
    spark.conf.set("spark.sql.catalog.ice_rn", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_rn.warehouse", wh)
    try {
      val loc = s"$wh/ns/nat_rn"
      val df0 = Tables.nation(spark, sfDir)
        .select(col("n_nationkey").cast("bigint").as("k"), col("n_name").as("label"))
      val w = new IcebergFormat.Writer(spark, loc, df0.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f1", df0)))
      w.renameColumn("label", "title")
      w.publishSchemaChange()
      spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_rn.ns")
      // merge-on-read DELETE through the catalog: resumeWriter must carry
      // the renamed schema + read-by-id property into the delta commit
      spark.sql("DELETE FROM ice_rn.ns.nat_rn WHERE k % 2 = 0")
      val out = spark.sql("SELECT k, title FROM ice_rn.ns.nat_rn ORDER BY k").collect()
      assert(out.length == 12 && out.forall(r => r.getLong(0) % 2 == 1))
      assert(out.forall(_.getString(1) != null),
        "pre-rename values lost through the MoR read after DELETE")
      // library scan agrees
      val lib = IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      assert(lib.count() == 12)
      assert(lib.schema.fieldNames.toSeq == Seq("k", "title"))
    } finally {
      spark.conf.unset("spark.sql.catalog.ice_rn")
      spark.conf.unset("spark.sql.catalog.ice_rn.warehouse")
    }
  }

  test("native snapshot summaries record delete/overwrite operations, not blanket appends") {
    import graft.icelite.IcebergFormat
    val wh = scratch("v2ops")
    spark.conf.set("spark.sql.catalog.ice_ops", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ops.warehouse", wh)
    try {
      val loc = s"$wh/ns/nat_ops"
      val df0 = Tables.nation(spark, sfDir)
        .select(col("n_nationkey").cast("bigint").as("k"), col("n_name").as("v"))
      val w = new IcebergFormat.Writer(spark, loc, df0.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f1", df0)))
      spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_ops.ns")
      spark.sql("DELETE FROM ice_ops.ns.nat_ops WHERE k % 2 = 0") // MoR position deletes
      spark.sql("UPDATE ice_ops.ns.nat_ops SET v = 'X' WHERE k = 1") // deletes + inserts
      def opsOf(metaPath: String): Seq[String] = {
        val p  = new org.apache.hadoop.fs.Path(metaPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val in = fs.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        """"operation":"([a-z]+)"""".r.findAllMatchIn(txt).map(_.group(1)).toSeq
      }
      val ops = opsOf(IcebergFormat.currentMetadataPath(spark, loc))
      assert(ops == Seq("append", "delete", "overwrite"),
        s"snapshot operations wrong: $ops")
      // the operations survive a resume + further commit
      IcebergFormat.appendWithRetry(spark, loc,
        Seq(IcebergFormat.writeSingleFile(spark, loc, "f2",
          df0.filter(col("k") < 2))))
      val ops2 = opsOf(IcebergFormat.currentMetadataPath(spark, loc))
      assert(ops2 == Seq("append", "delete", "overwrite", "append"),
        s"operations lost through resume: $ops2")
    } finally {
      spark.conf.unset("spark.sql.catalog.ice_ops")
      spark.conf.unset("spark.sql.catalog.ice_ops.warehouse")
    }
  }

  test("SQL ALTER TABLE evolves a NATIVE Iceberg v2 table through the resumed Writer") {
    import graft.icelite.IcebergFormat
    val wh = scratch("v2natalter")
    spark.conf.set("spark.sql.catalog.ice_na", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_na.warehouse", wh)
    try {
      val loc = s"$wh/ns/nat_na"
      val df0 = Tables.nation(spark, sfDir).select(
        col("n_nationkey").cast("int").as("k"), col("n_name").as("label"))
      val w = new IcebergFormat.Writer(spark, loc, df0.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f1", df0)))
      spark.sql("CREATE NAMESPACE IF NOT EXISTS ice_na.ns")
      spark.sql("ALTER TABLE ice_na.ns.nat_na ALTER COLUMN k TYPE BIGINT")
      spark.sql("ALTER TABLE ice_na.ns.nat_na RENAME COLUMN label TO title")
      spark.sql("ALTER TABLE ice_na.ns.nat_na ADD COLUMN score DOUBLE")
      val out = spark.sql(
        "SELECT k, title, score FROM ice_na.ns.nat_na ORDER BY k").collect()
      assert(out.length == 25)
      assert(out.head.getLong(0) == 0L, "int->bigint promotion lost on the SQL read")
      assert(out.forall(_.getString(1) != null), "pre-rename values lost")
      assert(out.forall(_.isNullAt(2)), "added column must read NULL for old files")
      spark.sql("ALTER TABLE ice_na.ns.nat_na DROP COLUMN title")
      assert(spark.sql("SELECT * FROM ice_na.ns.nat_na").columns.toSeq == Seq("k", "score"))
      // the library scan agrees with the evolved state
      val lib = IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      assert(lib.schema.fieldNames.toSeq == Seq("k", "score") && lib.count() == 25)
    } finally {
      spark.conf.unset("spark.sql.catalog.ice_na")
      spark.conf.unset("spark.sql.catalog.ice_na.warehouse")
    }
  }

  test("cherry-pick onto a diverged main: exact union, branch fixed, non-append refused") {
    val cat = new FsCatalog(spark, scratch("v2pick"))
    val nation = Tables.nation(spark, sfDir)
    val t = cat.createOrReplaceTable("ns", "nat_cp",
      nation.filter(col("n_nationkey") < 10).coalesce(1))
    t.createBranch("stage")
    t.appendToBranch("stage",
      nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20).coalesce(1))
    val branchHead = t.refs()("stage").snapshot_id
    cat.loadTable("ns", "nat_cp").append(
      nation.filter(col("n_nationkey") >= 20).coalesce(1))
    val t2 = cat.loadTable("ns", "nat_cp")
    t2.cherryPick(branchHead)
    val t3 = cat.loadTable("ns", "nat_cp")
    assert(t3.scan().count() == nation.count(), "cherry-pick lost rows")
    assert(t3.refs()("stage").snapshot_id == branchHead)
    // a replace-style snapshot must be refused on the OPERATION check:
    // compact main, roll back past it (so the compact snapshot is off
    // main's ancestry), then try to pick it
    val preCompact = t3.metadata.current_snapshot_id
    cat.loadTable("ns", "nat_cp").compact(1)
    val compactId = cat.loadTable("ns", "nat_cp").metadata.current_snapshot_id
    cat.loadTable("ns", "nat_cp").rollback(preCompact)
    val ex = intercept[Exception] { cat.loadTable("ns", "nat_cp").cherryPick(compactId) }
    assert(ex.getMessage.contains("append snapshots only"), ex.getMessage)
    // double-apply guard must survive manifest rewrites: move main to the
    // COMPACTED snapshot (its manifests no longer contain the picked
    // delta's paths, so a path-only guard would happily duplicate every
    // row) — the recorded source-snapshot-id still refuses the re-pick
    cat.loadTable("ns", "nat_cp").rollback(compactId)
    val ex2 = intercept[Exception] { cat.loadTable("ns", "nat_cp").cherryPick(branchHead) }
    assert(ex2.getMessage.contains("already cherry-picked"), ex2.getMessage)
    assert(cat.loadTable("ns", "nat_cp").scan().count() == nation.count(),
      "row count drifted across the refused re-pick")
  }

  test("drop + re-add on the library path: retired id never reissued, values never resurrect") {
    val cat = new FsCatalog(spark, scratch("v2dropadd"))
    val nation = Tables.nation(spark, sfDir)
    val t = cat.createOrReplaceTable("ns", "nat_da",
      nation.select("n_nationkey", "n_regionkey", "n_name"))
    val droppedId = t.metadata.fields.find(_.name == "n_name").get.id
    cat.loadTable("ns", "nat_da").dropColumns(Seq("n_name"))
    cat.loadTable("ns", "nat_da").addColumns(Seq(
      org.apache.spark.sql.types.StructField("n_name",
        org.apache.spark.sql.types.StringType)))
    val md = cat.loadTable("ns", "nat_da").metadata
    val readdedId = md.fields.find(_.name == "n_name").get.id
    assert(readdedId > droppedId, s"re-added id $readdedId not past retired $droppedId")
    val scanned = cat.loadTable("ns", "nat_da").scan()
    assert(scanned.count() == nation.count())
    assert(scanned.filter(col("n_name").isNotNull).count() == 0L,
      "dropped column's values resurrected through the re-added name")
    // era-scoped stats trust: a file appended AFTER the re-add regains
    // min/max pruning under the reused name, while pre-drop files' stats
    // stay untrusted (kept conservatively) — the watermark rule
    cat.loadTable("ns", "nat_da").append(nation.limit(5).select(
      col("n_nationkey"), col("n_regionkey"), lit("zzz").as("n_name")).coalesce(1))
    val t5   = cat.loadTable("ns", "nat_da")
    val snap = t5.metadata.currentSnapshot.get
    val all  = t5.filesOf(snap)
    val kept = t5.planFilesBounds(snap, Map("n_name" -> (Some("aaa"), Some("bbb"))))
    assert(kept.size == all.size - 1,
      s"expected exactly the post-readd file pruned (trusted stats), " +
        s"old files kept (untrusted): ${all.size} -> ${kept.size}")
    // a second drop/add cycle must keep climbing past both retired ids
    cat.loadTable("ns", "nat_da").dropColumns(Seq("n_name"))
    cat.loadTable("ns", "nat_da").addColumns(Seq(
      org.apache.spark.sql.types.StructField("n_name",
        org.apache.spark.sql.types.StringType)))
    val third = cat.loadTable("ns", "nat_da").metadata.fields.find(_.name == "n_name").get.id
    assert(third > readdedId, s"second re-add id $third not past $readdedId")
  }

  test("read-by-id flip refused when live data files lack parquet field-id stamps") {
    import org.apache.spark.sql.types.{StructField, StructType}
    val cat    = new FsCatalog(spark, scratch("v2unstamped"))
    val nation = Tables.nation(spark, sfDir)
    val t = cat.createOrReplaceTable("ns", "nat_us",
      nation.select("n_nationkey", "n_name").coalesce(1))
    // strip the id stamps from the table's one data file: rewrite it at the
    // same path through a metadata-free schema (simulating foreign parquet
    // adopted as-is, or a pre-stamping build's output)
    val rel  = t.filesOf(t.metadata.currentSnapshot.get).head
    val abs  = new org.apache.hadoop.fs.Path(t.location, rel)
    val rows = spark.read.parquet(abs.toString).collect().toSeq
    val clean = StructType(t.metadata.schema.fields.map(f =>
      StructField(f.name, f.dataType, f.nullable)))
    val tmp = scratch("v2unstamped_tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), clean)
      .write.mode("overwrite").parquet(tmp)
    val fs = abs.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.delete(abs, false)
    assert(fs.rename(part, abs), "could not swap in the unstamped data file")
    val ex = intercept[Exception] {
      cat.loadTable("ns", "nat_us").renameColumns(Seq("n_name" -> "nm")) }
    assert(ex.getMessage.contains("field ids"), ex.getMessage)
    val ex2 = intercept[Exception] {
      cat.loadTable("ns", "nat_us").dropColumns(Seq("n_name")) }
    assert(ex2.getMessage.contains("field ids"), ex2.getMessage)
    // the table never flipped: plain by-name scans still work
    assert(cat.loadTable("ns", "nat_us").scan().count() == nation.count())
  }

  test("nested field ids: stable across evolution, tracked stamps on later writes") {
    import graft.icelite.IcebergFormat
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val root = scratch("v2nested_ev")
    val loc  = s"$root/t"
    val base = Tables.orders(spark, sfDir).filter(col("o_orderkey") < 100)
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("status"), col("o_totalprice").as("total")).as("info"))
    base.write.format("icelite").option("iceberg", "true")
      .option("location", loc).mode("overwrite").save()
    // a nested subfield Spark prunes to reads its own values
    def totals(df: org.apache.spark.sql.DataFrame) =
      df.select(col("info.total")).collect().map(_.getDouble(0)).sorted.toSeq
    assert(totals(IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))) ==
      totals(base))
    def metaJson(): String = {
      val p  = new org.apache.hadoop.fs.Path(
        IcebergFormat.currentMetadataPath(spark, loc))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    }
    // top-level evolution must NOT renumber nested ids: pre-tracking, the
    // appended column took id 3 (top max + 1) — COLLIDING with
    // info.status's nested id 3 — and every nested id shifted by one in
    // the new schema-history entry
    val w = IcebergFormat.resumeWriter(spark, loc)
    w.evolveSchema(StructType(w.schemaNow.fields :+ StructField("note", StringType)))
    w.publishSchemaChange()
    val json = metaJson()
    assert(json.contains("""{"id":3,"name":"status""""), json.take(600))
    assert(json.contains("""{"id":5,"name":"note""""),
      "appended top-level column must take an id past the nested ids")
    // drop a nested field, then APPEND data: the staged file must stamp
    // the TRACKED ids (info.total keeps 4), not a positional re-derive
    val w2 = IcebergFormat.resumeWriter(spark, loc)
    w2.dropNestedColumn(Seq("info", "status"))
    w2.publishSchemaChange()
    val w3 = IcebergFormat.resumeWriter(spark, loc)
    assert(w3.nestedIdsNow == Map("info.total" -> 4),
      s"resume lost the tracked nested ids: ${w3.nestedIdsNow}")
    val df2 = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") >= 100 && col("o_orderkey") < 150)
      .select(col("o_orderkey"),
        struct(col("o_totalprice").as("total")).as("info"),
        col("o_orderpriority").as("note"))
    val f = IcebergFormat.writeSingleFile(spark, loc, "f2", df2,
      fieldIds = w3.fieldIdsNow, nestedIds = w3.nestedIdsNow)
    w3.commit(Seq(f))
    val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$loc/data/f2.parquet"),
        spark.sparkContext.hadoopConfiguration))
    val msg = try fr.getFooter.getFileMetaData.getSchema finally fr.close()
    val info = msg.getFields.get(msg.getFieldIndex("info")).asGroupType
    assert(Option(info.getFields.get(info.getFieldIndex("total")).getId)
      .map(_.intValue).contains(4),
      s"post-drop write stamped positional nested ids, not tracked: $msg")
    // both eras read under the final schema; dropped values never surface
    val out = IcebergFormat.scan(spark, w3.currentMetadataPath)
    assert(out.count() == base.count() + df2.count())
    assert(out.schema.catalogString.contains("info:struct<total"))
  }

  test("read-by-id scans do not leak fieldId.read.enabled into the session conf") {
    val cat    = new FsCatalog(spark, scratch("v2noleak"))
    val nation = Tables.nation(spark, sfDir)
    cat.createOrReplaceTable("ns", "nat_nl",
      nation.select("n_nationkey", "n_name").coalesce(1))
    cat.loadTable("ns", "nat_nl").renameColumns(Seq("n_name" -> "nm"))
    val out = cat.loadTable("ns", "nat_nl").scan()
    assert(out.filter(col("nm").isNotNull).count() == nation.count(),
      "rename-evolved scan must bind pre-rename files by field id")
    assert(spark.conf.get("spark.sql.parquet.fieldId.read.enabled") == "false",
      "read-by-id scan leaked fieldId.read.enabled into the caller's session")
  }

  /** Footers of every parquet file under `dir`. */
  private def footers(dir: String): Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val it   = root.getFileSystem(conf).listFiles(root, true)
    val out  = Seq.newBuilder[org.apache.parquet.hadoop.metadata.ParquetMetadata]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) {
        val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try out += fr.getFooter finally fr.close()
      }
    }
    out.result()
  }

  /** Every node of a parquet schema by path (`c`, `c.f`, `c.element`,
    * `c.key`, `c.value` — a list's or map's repeated wrapper has no path
    * of its own) with its field id. */
  private def fileIds(g: org.apache.parquet.schema.GroupType, prefix: String = "")
      : Map[String, Option[Int]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{ListLogicalTypeAnnotation, MapLogicalTypeAnnotation}
    import scala.jdk.CollectionConverters._
    g.getFields.asScala.flatMap { f =>
      val path = prefix + f.getName
      val self = path -> Option(f.getId).map(_.intValue)
      if (f.isPrimitive) Seq(self)
      else {
        val inner = f.getLogicalTypeAnnotation match {
          case _: ListLogicalTypeAnnotation | _: MapLogicalTypeAnnotation =>
            f.asGroupType.getType(0).asGroupType
          case _ => f.asGroupType
        }
        self +: fileIds(inner, path + ".").toSeq
      }
    }.toMap
  }

  test("connector-written files: session codec, OPTIONAL columns, micros timestamps, every field id") {
    import graft.icelite.IcebergFormat
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Type}
    import scala.jdk.CollectionConverters._
    val wh = scratch("v2phys")
    spark.conf.set("spark.sql.catalog.pf", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.pf.warehouse", wh)
    def codecs(dir: String): Set[CompressionCodecName] =
      footers(dir).flatMap(_.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))).toSet
    def sessionCodec = CompressionCodecName.fromConf(
      spark.conf.get("spark.sql.parquet.compression.codec"))
    try {
      // icelite: a stamped table's files carry its ids, every column is
      // OPTIONAL, timestamps are INT64 micros, the codec is the session's
      spark.sql("CREATE NAMESPACE IF NOT EXISTS pf.ns")
      spark.sql("""CREATE TABLE pf.ns.t AS SELECT CAST(1 AS BIGINT) AS k, 'x' AS s,
                   TIMESTAMP'2024-01-02 03:04:05.123456' AS ts,
                   TIMESTAMP_NTZ'2024-01-02 03:04:05.123456' AS ntz""")
      val t = new FsCatalog(spark, wh).loadTable("ns", "t")
      val tableIds = t.metadata.fields.map(f => f.name -> Option(f.id)).toMap
      val data = t.location.toString + "/data"
      assert(sessionCodec == CompressionCodecName.SNAPPY)
      assert(codecs(data) == Set(sessionCodec), s"codec ${codecs(data)}")
      footers(data).map(_.getFileMetaData.getSchema).foreach { msg =>
        assert(msg.getFields.asScala.forall(_.getRepetition == Type.Repetition.OPTIONAL), msg)
        assert(fileIds(msg) == tableIds, msg)
        def ts(c: String) = msg.getFields.get(msg.getFieldIndex(c)).asPrimitiveType
        assert(ts("ts").getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.INT64 &&
          ts("ts").getLogicalTypeAnnotation ==
            LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS), msg)
        assert(ts("ntz").getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.INT64 &&
          ts("ntz").getLogicalTypeAnnotation ==
            LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS), msg)
      }
      assert(spark.sql("SELECT CAST(ts AS STRING), CAST(ntz AS STRING) FROM pf.ns.t")
        .collect().head.toSeq == Seq("2024-01-02 03:04:05.123456", "2024-01-02 03:04:05.123456"))
      // the codec follows the session conf
      spark.conf.set("spark.sql.parquet.compression.codec", "gzip")
      try {
        spark.sql("INSERT INTO pf.ns.t SELECT 2, 'y', ts, ntz FROM pf.ns.t")
        assert(codecs(data) == Set(CompressionCodecName.SNAPPY, CompressionCodecName.GZIP))
      } finally spark.conf.unset("spark.sql.parquet.compression.codec")
      // an unstamped schema's files carry no id (position-delete files)
      spark.conf.set("graft.delete.mode", "merge-on-read")
      try spark.sql("DELETE FROM pf.ns.t WHERE k = 1")
      finally spark.conf.unset("graft.delete.mode")
      val deleteFiles = footers(data).map(_.getFileMetaData.getSchema)
        .filter(_.getFieldCount == 2).filter(_.containsField("file_path"))
      assert(deleteFiles.nonEmpty && deleteFiles.forall(m => fileIds(m).values.forall(_.isEmpty)),
        deleteFiles.mkString("\n"))
      assert(spark.sql("SELECT k FROM pf.ns.t").collect().map(_.getLong(0)).toSeq == Seq(2L))

      // iceberg: a nested V2 write and a MoR MERGE's insert file carry
      // every id the schema JSON assigns, list element and map key/value
      // included
      val loc = s"$wh/ns/nested"
      val src = Tables.orders(spark, sfDir).filter(col("o_orderkey") < 40)
        .select(col("o_orderkey").as("k"),
          struct(col("o_orderstatus").as("status"), col("o_totalprice").as("total")).as("info"),
          array(col("o_orderpriority"), col("o_orderstatus")).as("tags"),
          map(col("o_orderstatus"), col("o_totalprice")).as("attrs"))
      src.write.format("icelite").option("iceberg", "true")
        .option("location", loc).mode("overwrite").save()
      val w = IcebergFormat.resumeWriter(spark, loc)
      val jsonIds = (w.schemaNow.fieldNames.zip(w.fieldIdsNow) ++ w.nestedIdsNow)
        .map { case (p, id) => p -> Option(id) }.toMap
      assert(Seq("tags.element", "attrs.key", "attrs.value").forall(jsonIds.contains), jsonIds)
      def idsOf(dir: String) = footers(dir).map(f => fileIds(f.getFileMetaData.getSchema))
      assert(idsOf(s"$loc/data").nonEmpty && idsOf(s"$loc/data").forall(_ == jsonIds),
        s"${idsOf(s"$loc/data")} != $jsonIds")
      // the library write of the same frame: same ids, list element and
      // map key/value included
      val libLoc = s"$wh/ns/nested_lib"
      new IcebergFormat.Writer(spark, libLoc, src.schema)
        .commit(Seq(IcebergFormat.writeSingleFile(spark, libLoc, "f1", src)))
      val lw = IcebergFormat.resumeWriter(spark, libLoc)
      val libJsonIds = (lw.schemaNow.fieldNames.zip(lw.fieldIdsNow) ++ lw.nestedIdsNow)
        .map { case (p, id) => p -> Option(id) }.toMap
      assert(libJsonIds == jsonIds, s"$libJsonIds != $jsonIds")
      assert(idsOf(s"$libLoc/data") == Seq(jsonIds), s"${idsOf(s"$libLoc/data")} != $jsonIds")
      val few = src.filter(col("k") < 10)
      few.union(few.withColumn("k", col("k") + 1000)).createOrReplaceTempView("pf_merge_src")
      spark.sql("""MERGE INTO pf.ns.nested t USING pf_merge_src s ON t.k = s.k
                   WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
      val deltaDirs = new java.io.File(s"$loc/data").listFiles().map(_.getName)
        .filter(_.startsWith("delta-"))
      assert(deltaDirs.length == 1, deltaDirs.mkString(","))
      assert(idsOf(s"$loc/data/${deltaDirs.head}").forall(_ == jsonIds))
      assert(spark.sql("SELECT count(*) FROM pf.ns.nested").head().getLong(0) ==
        src.count() + few.count())
    } finally {
      spark.conf.unset("spark.sql.catalog.pf")
      spark.conf.unset("spark.sql.catalog.pf.warehouse")
    }
  }

  test("string bounds compare in Spark's UTF-8 order: a supplementary character is never pruned") {
    import graft.icelite.IcebergFormat
    import spark.implicits._
    val wh = scratch("v2utf8")
    spark.conf.set("spark.sql.catalog.u8", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.u8.warehouse", wh)
    val emoji = "\uD83D\uDE00" // U+1F600, above U+FF21 in UTF-8, below it in UTF-16
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS u8.ns")
      // icelite, SQL INSERT: the connector's inline stats
      spark.sql("CREATE TABLE u8.ns.ins (s STRING)")
      spark.sql(s"INSERT INTO u8.ns.ins VALUES ('$emoji')")
      // icelite, library create + append: footer stats
      new FsCatalog(spark, wh).createOrReplaceTable("ns", "app", Seq(emoji).toDF("s"))
      // iceberg format
      val loc = s"$wh/ns/ice"
      val df  = Seq(emoji).toDF("s")
      new IcebergFormat.Writer(spark, loc, df.schema)
        .commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f1", df)))
      for (tbl <- Seq("ins", "app", "ice")) {
        def n(pred: String) =
          spark.sql(s"SELECT count(*) FROM u8.ns.$tbl WHERE $pred").head().getLong(0)
        assert(n("s > '\uFF21'") == 1L, s"$tbl: s > U+FF21 pruned the row")
        assert(n("s >= 'z'") == 1L && n("s < '\uFF21'") == 0L, tbl)
        assert(n(s"s LIKE '$emoji%'") == 1L, tbl)
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.u8")
      spark.conf.unset("spark.sql.catalog.u8.warehouse")
    }
  }

  test("a NaN never drops a live row nor fails a pruned query") {
    import graft.icelite.ColRange
    import spark.implicits._
    val wh = scratch("v2nan")
    spark.conf.set("spark.sql.catalog.nn", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.nn.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS nn.ns")
      for ((name, rows) <- Seq("nan_last" -> Seq(5.0, Double.NaN), "nan_first" -> Seq(Double.NaN, 5.0))) {
        spark.sql(s"CREATE TABLE nn.ns.$name (d DOUBLE)")
        rows.toDF("d").coalesce(1).createOrReplaceTempView("nan_src")
        spark.sql(s"INSERT INTO nn.ns.$name SELECT d FROM nan_src")
        def n(pred: String) =
          spark.sql(s"SELECT count(*) FROM nn.ns.$name WHERE $pred").head().getLong(0)
        // Spark orders NaN above every number
        assert(n("d > 100") == 1L && n("d < 100") == 1L && n("d = 5.0") == 1L, name)
        // the file holding the NaN records no bounds for d
        val t = new FsCatalog(spark, wh).loadTable("ns", name)
        val es = t.entriesOf(t.metadata.currentSnapshot.get)
        assert(es.length == 1 && es.head.stats.exists(!_.contains("d")), es.toString)
        // a "NaN" bound already on disk bounds nothing and fails nothing
        t.commitReplaceScanned(es.map(_.file).toSet,
          es.map(_.copy(stats = Some(Map("d" -> ColRange(Some("NaN"), Some("NaN")))))), "overwrite")
        assert(n("d > 100") == 1L && n("d < 100") == 1L, s"$name with a NaN bound on disk")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.nn")
      spark.conf.unset("spark.sql.catalog.nn.warehouse")
    }
  }
}
