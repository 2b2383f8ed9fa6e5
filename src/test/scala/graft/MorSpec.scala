package graft

import graft.icelite.{FsCatalog, IceTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merge-on-read row-level operations: `_file`/`_pos` metadata columns,
  * SupportsDelta SQL DELETE/UPDATE/MERGE writing position deletes, the
  * delete-aware read paths (V2 reader bitmap skip + library `_metadata`
  * anti-join), and the maintenance interplay (compaction clears delete
  * debt, expire/orphans treat delete files as live). */
class MorSpec extends SparkSpec {

  private def v2(location: String) =
    spark.read.format("icelite").option("location", location).load()

  /** Register a throwaway SQL catalog (unique name per test — Spark's
    * CatalogManager caches plugin instances BY NAME) in merge-on-read
    * mode, run `body`, restore the mode. */
  private def withMorCatalog[A](tag: String)(body: (String, String) => A): A = {
    val wh  = scratch(s"mor_$tag")
    val cat = s"ice_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set("graft.delete.mode", "merge-on-read")
    try body(cat, wh)
    finally {
      spark.conf.unset("graft.delete.mode")
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private def iceOf(wh: String, name: String): IceTable =
    new FsCatalog(spark, wh).loadTable("graft", name)

  private def dataFiles(t: IceTable): Set[String] =
    t.filesOf(t.metadata.currentSnapshot.get).toSet

  private def deleteFiles(t: IceTable): Seq[String] =
    t.deleteEntriesOf(t.metadata.currentSnapshot.get).map(_.file)

  test("_file/_pos metadata columns: per-file positions are dense from 0") {
    val cat = new FsCatalog(spark, scratch("morcols"))
    val t = cat.createOrReplaceTable("ns", "nation_m",
      Tables.nation(spark, sfDir).repartition(2))
    val rows = v2(t.location.toString)
      .select(col("_file"), col("_pos"), col("n_nationkey"))
      .collect()
    val byFile = rows.groupBy(_.getString(0))
    assert(byFile.size == dataFiles(t).size, "distinct _file != committed file count")
    byFile.foreach { case (f, rs) =>
      assert(f.startsWith("data/snap-"), s"_file not manifest-relative: $f")
      val ps = rs.map(_.getLong(1)).sorted
      assert(ps.sameElements(0L until ps.length), s"positions not dense in $f")
    }
  }

  test("SQL DELETE in merge-on-read mode writes position deletes, zero data rewrite") {
    withMorCatalog("del") { (cat, wh) =>
      Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("orders_mor_src")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      spark.sql(s"CREATE TABLE $cat.graft.orders_mor AS SELECT * FROM orders_mor_src")
      val before = dataFiles(iceOf(wh, "orders_mor"))

      // the rewrite must be the DELTA plan, not a group-based rewrite
      val plan = spark.sql(
        s"EXPLAIN EXTENDED DELETE FROM $cat.graft.orders_mor WHERE o_orderkey < 100")
        .head().getString(0)
      assert(plan.contains("WriteDelta"), s"expected a WriteDelta plan, got:\n$plan")

      spark.sql(s"DELETE FROM $cat.graft.orders_mor WHERE o_orderkey < 100")
      val t = iceOf(wh, "orders_mor")
      assert(dataFiles(t) == before, "merge-on-read DELETE rewrote data files")
      assert(deleteFiles(t).nonEmpty, "no position-delete files committed")
      assert(t.metadata.currentSnapshot.get.operation == "delete")

      val expect = Tables.orders(spark, sfDir)
        .filter(!(col("o_orderkey") < 100))
        .count()
      // V2 reader path (bitmap skip) and library path (_metadata anti-join)
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.graft.orders_mor").head().getLong(0)
        == expect, "V2 read did not apply position deletes")
      assert(t.scan().count() == expect, "library scan did not apply position deletes")
      assert(t.scan().filter(col("o_orderkey") < 100).count() == 0L)

      // metadata-only COUNT(*) must be OFF: physical counts over-count
      assert(t.statsRowCount(t.metadata.currentSnapshot.get).isEmpty,
        "stats row count claimed exactness despite live deletes")

      // time travel to the pre-delete snapshot still sees every row
      val preDelete = t.metadata.snapshots.init.last.snapshot_id
      assert(t.scanSnapshot(preDelete).count() ==
        Tables.orders(spark, sfDir).count())
    }
  }

  test("second DELETE accumulates deletes; appends stay visible under them") {
    withMorCatalog("del2") { (cat, wh) =>
      Tables.nation(spark, sfDir).select("n_nationkey", "n_name", "n_regionkey")
        .createOrReplaceTempView("nation_mor_src")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      spark.sql(s"CREATE TABLE $cat.graft.nation_mor AS SELECT * FROM nation_mor_src")
      spark.sql(s"DELETE FROM $cat.graft.nation_mor WHERE n_nationkey < 5")
      spark.sql(s"DELETE FROM $cat.graft.nation_mor WHERE n_nationkey >= 20")
      val t1 = iceOf(wh, "nation_mor")
      assert(deleteFiles(t1).size >= 2, "second delete did not accumulate")
      // append AFTER deletes: new rows with previously-deleted keys live
      spark.sql(s"INSERT INTO $cat.graft.nation_mor VALUES (2, 'REBORN', 99)")
      val out = spark.sql(
        s"SELECT n_nationkey, n_name FROM $cat.graft.nation_mor ORDER BY n_nationkey, n_name")
        .collect().map(r => (r.getInt(0), r.getString(1)))
      val expect = (Tables.nation(spark, sfDir)
        .filter(col("n_nationkey") >= 5 && col("n_nationkey") < 20)
        .select(col("n_nationkey"), col("n_name"))
        .collect().map(r => (r.getInt(0), r.getString(1)))
        :+ (2, "REBORN")).sortBy(identity)
      assert(out.sameElements(expect), "append under live deletes diverged")
    }
  }

  test("SQL UPDATE in merge-on-read mode = position deletes + insert files") {
    withMorCatalog("upd") { (cat, wh) =>
      Tables.customer(spark, sfDir).select("c_custkey", "c_acctbal")
        .createOrReplaceTempView("cust_mor_src")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      spark.sql(s"CREATE TABLE $cat.graft.cust_mor AS SELECT * FROM cust_mor_src")
      val before = dataFiles(iceOf(wh, "cust_mor"))
      spark.sql(s"UPDATE $cat.graft.cust_mor SET c_acctbal = 0.0 WHERE c_acctbal < 0")
      val t = iceOf(wh, "cust_mor")
      assert(before.subsetOf(dataFiles(t)), "UPDATE rewrote original data files")
      assert(deleteFiles(t).nonEmpty, "UPDATE committed no position deletes")
      assert((dataFiles(t) -- before).nonEmpty, "UPDATE staged no insert files")
      val got = t.scan().agg(
        sum(when(col("c_acctbal") === 0.0, 1).otherwise(0)).cast("long"),
        count(lit(1))).head()
      val src = Tables.customer(spark, sfDir)
      val expectZero = src.filter(col("c_acctbal") < 0).count() +
        src.filter(col("c_acctbal") === 0.0).count()
      assert(got.getLong(1) == src.count(), "UPDATE changed row count")
      assert(got.getLong(0) == expectZero, "UPDATE zeroed the wrong rows")
    }
  }

  test("SQL MERGE in merge-on-read mode: matched update + unmatched insert") {
    withMorCatalog("mrg") { (cat, wh) =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      spark.sql(s"CREATE TABLE $cat.graft.t_mor AS SELECT * FROM VALUES " +
        "(1L, 'a'), (2L, 'b'), (3L, 'c') AS v(k, s)")
      spark.sql("CREATE OR REPLACE TEMP VIEW mor_updates AS SELECT * FROM VALUES " +
        "(2L, 'B'), (4L, 'D') AS v(k, s)")
      spark.sql(
        s"""MERGE INTO $cat.graft.t_mor t USING mor_updates s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET t.s = s.s
            WHEN NOT MATCHED THEN INSERT *""")
      val t = iceOf(wh, "t_mor")
      assert(deleteFiles(t).nonEmpty, "MERGE matched-update wrote no position deletes")
      val out = t.scan().orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(out.sameElements(Array((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D"))),
        s"MERGE result diverged: ${out.mkString(",")}")
    }
  }

  test("merge-on-read DELETE works on partitioned tables") {
    withMorCatalog("pdel") { (cat, wh) =>
      val fsCat = new FsCatalog(spark, wh)
      val t0 = fsCat.createOrReplaceTable("graft", "orders_pmor",
        Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority", "o_totalprice"),
        Seq("o_orderpriority"))
      spark.sql(
        s"DELETE FROM $cat.graft.orders_pmor WHERE o_orderkey % 2 = 0")
      val t = iceOf(wh, "orders_pmor")
      assert(deleteFiles(t).nonEmpty, "partitioned MoR DELETE wrote no deletes")
      val expect = Tables.orders(spark, sfDir).filter(col("o_orderkey") % 2 =!= 0).count()
      assert(t.scan().count() == expect, "library read after partitioned MoR delete")
      assert(v2(t.location.toString).count() == expect, "V2 read after partitioned MoR delete")
    }
  }

  test("compaction applies and clears delete debt; library ops respect deletes") {
    withMorCatalog("cmp") { (cat, wh) =>
      Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
        .createOrReplaceTempView("nation_cmp_src")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      spark.sql(s"CREATE TABLE $cat.graft.nation_cmp AS SELECT * FROM nation_cmp_src")
      spark.sql(s"DELETE FROM $cat.graft.nation_cmp WHERE n_nationkey < 10")
      val t      = iceOf(wh, "nation_cmp")
      val expect = t.scan().orderBy("n_nationkey").collect().toSeq
      assert(deleteFiles(t).nonEmpty)
      t.compact(1)
      val t2 = iceOf(wh, "nation_cmp")
      assert(deleteFiles(t2).isEmpty, "compaction carried delete debt forward")
      assert(t2.statsRowCount(t2.metadata.currentSnapshot.get).isDefined,
        "metadata counts should return after compaction clears deletes")
      assert(t2.scan().orderBy("n_nationkey").collect().toSeq == expect,
        "compaction changed the visible rows")
    }
  }

  test("copy-on-write rewrite on a MoR table carries deletes for untouched files") {
    withMorCatalog("cow") { (cat, wh) =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      // two commits -> two file sets with disjoint key ranges
      spark.sql(s"CREATE TABLE $cat.graft.mix AS SELECT * FROM VALUES " +
        "(1L, 'lo'), (2L, 'lo') AS v(k, s)")
      spark.sql(s"INSERT INTO $cat.graft.mix VALUES (100L, 'hi'), (101L, 'hi')")
      // MoR delete one row of the LOW file
      spark.sql(s"DELETE FROM $cat.graft.mix WHERE k = 1")
      // switch to copy-on-write and rewrite only the HIGH file
      spark.conf.set("graft.delete.mode", "copy-on-write")
      spark.sql(s"DELETE FROM $cat.graft.mix WHERE k = 101")
      val t = iceOf(wh, "mix")
      assert(deleteFiles(t).nonEmpty,
        "CoW rewrite of an untouched-file commit dropped the live delete manifests")
      val out = t.scan().orderBy("k").collect().map(_.getLong(0))
      assert(out.sameElements(Array(2L, 100L)),
        s"mixed CoW-over-MoR state diverged: ${out.mkString(",")}")
    }
  }

  test("expireSnapshots keeps live delete files; removeOrphans never sweeps them") {
    withMorCatalog("exp") { (cat, wh) =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      spark.sql(s"CREATE TABLE $cat.graft.keep AS SELECT * FROM VALUES " +
        "(1L), (2L), (3L), (4L) AS v(k)")
      spark.sql(s"DELETE FROM $cat.graft.keep WHERE k <= 2")
      val t = iceOf(wh, "keep")
      val swept = t.removeOrphans(olderThanMillis = 0L)
      assert(!swept.exists(_.contains("deletes-")),
        s"removeOrphans swept live delete files: $swept")
      t.expireSnapshots(keepLast = 1)
      val t2 = iceOf(wh, "keep")
      assert(deleteFiles(t2).nonEmpty, "expire dropped the current snapshot's deletes")
      assert(t2.scan().collect().map(_.getLong(0)).sorted.sameElements(Array(3L, 4L)),
        "read after expire resurrected deleted rows")
    }
  }

  test("deletesTable reports live delete files with their ranges") {
    withMorCatalog("meta") { (cat, wh) =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      spark.sql(s"CREATE TABLE $cat.graft.dmeta AS SELECT * FROM VALUES " +
        "(1L), (2L), (3L) AS v(k)")
      spark.sql(s"DELETE FROM $cat.graft.dmeta WHERE k = 2")
      val t  = iceOf(wh, "dmeta")
      val dt = t.deletesTable().collect()
      assert(dt.length == deleteFiles(t).size &&
        dt.forall(r => r.getLong(r.fieldIndex("n_records")) > 0L))
      assert(dt.forall(r => r.getString(r.fieldIndex("content")) == "position"))
      assert(dt.forall(r =>
        r.getString(r.fieldIndex("min_data_file")).startsWith("data/snap-")))
      // position_deletes (the POSITIONS) agrees with delete_files (the
      // FILES): one row per recorded n_records, schema shared across the
      // twins (ic88's oracle pins the exact (file, pos) values end-to-end)
      val pd = t.positionDeletesTable()
      assert(pd.count() == dt.map(_.getLong(dt.head.fieldIndex("n_records"))).sum,
        "position_deletes row count != sum of delete_files n_records")
      assert(pd.columns.toSeq == Seq("file_path", "pos"))
    }
  }

  test("scanRange and scanMetadataFile apply position deletes (no resurrection)") {
    withMorCatalog("advscan") { (cat, wh) =>
      Tables.nation(spark, sfDir).createOrReplaceTempView("nat_advscan_src")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      spark.sql(s"CREATE TABLE $cat.graft.nat_adv AS SELECT * FROM nat_advscan_src")
      spark.sql(s"DELETE FROM $cat.graft.nat_adv WHERE n_nationkey < 5")
      val t = iceOf(wh, "nat_adv")
      assert(deleteFiles(t).nonEmpty, "precondition: MoR deletes committed")
      val live = t.scan().count()
      // library range scan: same live rows as the full scan, deleted keys gone
      val ranged = t.scanRange("n_nationkey", Some("0"), Some("99"))
      assert(ranged.count() == live, "scanRange resurrected deleted rows")
      val keys = ranged.select("n_nationkey").collect().map(_.getAs[Number](0).longValue)
      assert(!keys.exists(_ < 5L), s"deleted keys visible via scanRange: ${keys.filter(_ < 5L).toSeq}")
      // pinned metadata-file scan (iceberg_scan-style entry) applies them too
      val metaDir = new org.apache.hadoop.fs.Path(t.location, "metadata")
      val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ver = fs.listStatus(metaDir).map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".json") && n.stripPrefix("v").stripSuffix(".json").forall(_.isDigit))
        .map(_.stripPrefix("v").stripSuffix(".json").toInt).max
      val viaMeta = IceTable.scanMetadataFile(spark, new org.apache.hadoop.fs.Path(metaDir, s"v$ver.json").toString)
      assert(viaMeta.count() == live, "scanMetadataFile resurrected deleted rows")
    }
  }

  test("incrementalFiles initial window fails loudly on a MoR snapshot") {
    withMorCatalog("advinc") { (cat, wh) =>
      Tables.nation(spark, sfDir).createOrReplaceTempView("nat_advinc_src")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      spark.sql(s"CREATE TABLE $cat.graft.nat_inc AS SELECT * FROM nat_advinc_src")
      spark.sql(s"DELETE FROM $cat.graft.nat_inc WHERE n_nationkey < 5")
      val t = iceOf(wh, "nat_inc")
      val to = t.metadata.current_snapshot_id
      // the (0, to] window returns BARE files (the streaming source cannot
      // apply deletes in its first batch) — it must refuse, not resurrect
      val ex = intercept[IllegalArgumentException] { t.incrementalFiles(0L, to) }
      assert(ex.getMessage.contains("merge-on-read"), ex.getMessage)
    }
  }

  test("delta commit aborts when a concurrent rewrite replaced its target files") {
    import spark.implicits._
    val cat = new FsCatalog(spark, scratch("advrace"))
    val t = cat.createOrReplaceTable("ns", "nat_race",
      Tables.nation(spark, sfDir).repartition(2))
    val target = t.filesOf(t.metadata.currentSnapshot.get).head
    // stage a position-delete file targeting a CURRENT data file
    val stage = new org.apache.hadoop.fs.Path(t.location, "data/deletes-advrace")
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((target, 0L)).toDF("file_path", "pos").coalesce(1)
      .write.mode("overwrite").parquet(stage.toString)
    val part = fs.listStatus(stage).map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val entry = graft.icelite.ManifestEntry(
      s"data/deletes-advrace/${part.getName}", rows = Some(1L))
    // the race: a compaction lands between delta planning and commit
    t.compact(1)
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.commitRowDeltas(Seq(entry), Nil, "delete", Set(target))
    }
    assert(ex.getMessage.contains("no longer in the current snapshot"), ex.getMessage)
    assert(unreferencedManifests(t).isEmpty,
      s"the aborted delta left staged manifests behind: ${unreferencedManifests(t)}")
    // control: a delete planned against the POST-compact file commits fine
    val fresh = t.filesOf(t.metadata.currentSnapshot.get).head
    val stage2 = new org.apache.hadoop.fs.Path(t.location, "data/deletes-advrace2")
    Seq((fresh, 0L)).toDF("file_path", "pos").coalesce(1)
      .write.mode("overwrite").parquet(stage2.toString)
    val part2 = fs.listStatus(stage2).map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val before = t.scan().count()
    t.commitRowDeltas(Seq(graft.icelite.ManifestEntry(
      s"data/deletes-advrace2/${part2.getName}", rows = Some(1L))), Nil, "delete", Set(fresh))
    assert(t.scan().count() == before - 1, "valid delta did not apply")
  }

  test("metadata-delete classification treats NULL literals as never-matching") {
    import org.apache.spark.sql.sources._
    val cat = new FsCatalog(spark, scratch("advnull"))
    val t = cat.createOrReplaceTable("ns", "ord_null",
      Tables.orders(spark, sfDir).select("o_orderkey", "o_orderstatus"))
    // numeric column: a NULL literal used to become the STRING "null" and
    // blow up in the numeric comparator; it must classify NONE (no-op plan)
    val eqNull = t.metadataDeletePlan(Seq(EqualTo("o_orderkey", null)))
    assert(eqNull == Some(Set.empty[String]), s"EqualTo(col, null) should delete nothing, got $eqNull")
    val inNull = t.metadataDeletePlan(Seq(In("o_orderkey", Array(null))))
    assert(inNull == Some(Set.empty[String]), s"In(col, [null]) should delete nothing, got $inNull")
    // a null mixed into IN keeps the non-null matching semantics
    val gtNull = t.metadataDeletePlan(Seq(GreaterThan("o_orderkey", null)))
    assert(gtNull == Some(Set.empty[String]), s"GreaterThan(col, null) should delete nothing, got $gtNull")
  }

  test("merge-on-read UPDATE and MERGE work on partitioned tables") {
    withMorCatalog("pupd") { (cat, wh) =>
      val fsCat = new FsCatalog(spark, wh)
      val t0 = fsCat.createOrReplaceTable("graft", "orders_pud",
        Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority", "o_totalprice"),
        Seq("o_orderpriority"))
      val untouched = dataFiles(t0)

      // the rewrite must be a WriteDelta plan, not the CoW group rewrite
      val plan = spark.sql(
        s"EXPLAIN EXTENDED UPDATE $cat.graft.orders_pud " +
          "SET o_totalprice = o_totalprice + 1 WHERE o_orderkey < 100")
        .head().getString(0)
      assert(plan.contains("WriteDelta"), s"expected a WriteDelta plan, got:\n$plan")

      spark.sql(s"UPDATE $cat.graft.orders_pud " +
        "SET o_totalprice = o_totalprice + 1 WHERE o_orderkey < 100")
      val t = iceOf(wh, "orders_pud")
      assert(untouched.subsetOf(dataFiles(t)), "MoR UPDATE rewrote pre-existing data files")
      assert(deleteFiles(t).nonEmpty, "no position deletes from partitioned MoR UPDATE")
      // insert files landed in hive layout under the delta stage
      val inserted = dataFiles(t) -- untouched
      assert(inserted.nonEmpty && inserted.forall(_.contains("o_orderpriority=")),
        s"insert files not hive-partitioned: $inserted")
      val expect = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .withColumn("o_totalprice",
          org.apache.spark.sql.functions.when(col("o_orderkey") < 100, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")))
      val got = t.scan()
      // the scan must present columns in DECLARED order even though hive
      // restoration appends partition columns (the round-9 transposition:
      // positional except() cast '3-MEDIUM' to DOUBLE)
      assert(got.schema.fieldNames.toSeq == Seq("o_orderkey", "o_orderpriority", "o_totalprice"),
        s"scan column order ${got.schema.fieldNames.toSeq} != declared order")
      assert(got.count() == expect.count())
      assert(got.except(expect).isEmpty && expect.except(got).isEmpty,
        "partitioned MoR UPDATE produced wrong rows")
      // V2 read agrees (partition restoration over the delta files)
      assert(v2(t.location.toString).except(expect).isEmpty, "V2 read diverged")

      // MERGE: matched update + unmatched insert into a fresh partition value
      import spark.implicits._
      Seq((1L, "9-NEW", 1.0), (2L, "9-NEW", 2.0))
        .toDF("k", "prio", "price").createOrReplaceTempView("pud_merge_src")
      spark.sql(
        s"""MERGE INTO $cat.graft.orders_pud t USING pud_merge_src s
           ON t.o_orderkey = s.k
           WHEN MATCHED THEN UPDATE SET o_totalprice = s.price
           WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority, o_totalprice)
             VALUES (s.k, s.prio, s.price)""")
      val t2 = iceOf(wh, "orders_pud")
      val merged = t2.scan().filter(col("o_orderkey").isin(1L, 2L))
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      val src = Tables.orders(spark, sfDir).filter(col("o_orderkey").isin(1L, 2L))
        .select("o_orderkey", "o_orderpriority").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      val want = Seq(1L, 2L).map(k =>
        src.get(k).map(p => (k, p, k.toDouble)).getOrElse((k, "9-NEW", k.toDouble)))
      assert(merged == want, s"MERGE result $merged != $want")
    }
  }

  test("iceberg-format SQL DELETE: resumed delta commit, time travel intact") {
    import graft.icelite.IcebergFormat
    val wh  = scratch("i76spec")
    val loc = s"$wh/graft/nat_i76"
    spark.conf.set("spark.sql.catalog.ice_i76s", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_i76s.warehouse", wh)
    try {
      val nat = Tables.nation(spark, sfDir)
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
      val w = new IcebergFormat.Writer(spark, loc, nat.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "a",
        nat.filter(col("n_nationkey") < 12))))
      w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "b",
        nat.filter(col("n_nationkey") >= 12))))
      val full = nat.count()
      // metadata columns resolve on the standard-format table
      val withMeta = spark.sql(
        "SELECT _file, _pos, n_nationkey FROM ice_i76s.graft.nat_i76")
      assert(withMeta.select("_file").distinct().count() == 2)
      spark.sql("DELETE FROM ice_i76s.graft.nat_i76 WHERE n_nationkey % 5 = 0")
      val meta = IcebergFormat.currentMetadataPath(spark, loc)
      // post-delete reads agree on both surfaces
      val want = nat.filter(!(col("n_nationkey") % 5 === 0))
      val sqlRead = spark.sql(
        "SELECT n_nationkey, n_name, n_regionkey FROM ice_i76s.graft.nat_i76")
      assert(sqlRead.except(want).isEmpty && want.except(sqlRead).isEmpty,
        "SQL read wrong after iceberg-format DELETE")
      val lib = IcebergFormat.scan(spark, meta)
      assert(lib.count() == want.count(), "library scan diverged")
      // time travel to the pre-delete snapshot still sees every row,
      // through the resumed writer's metadata (snapshot log preserved)
      val log = IcebergFormat.snapshotLog(spark, meta)
      assert(log.size == 3, s"expected 3 snapshots after resume-commit, got $log")
      assert(IcebergFormat.scanAt(spark, meta, log(1)).count() == full,
        "pre-delete time travel lost rows after the resumed commit")
      // a second resumed commit composes (fresh resume each time)
      spark.sql("DELETE FROM ice_i76s.graft.nat_i76 WHERE n_regionkey = 0")
      val want2 = want.filter(col("n_regionkey") =!= 0)
      assert(spark.sql("SELECT * FROM ice_i76s.graft.nat_i76").count() == want2.count(),
        "second resumed DELETE wrong")
    } finally {
      spark.conf.unset("spark.sql.catalog.ice_i76s")
      spark.conf.unset("spark.sql.catalog.ice_i76s.warehouse")
    }
  }

  /** Build a two-file standard-Iceberg-format nation table with explicit
    * per-file n_nationkey bounds in the manifests (file "a" holds keys
    * < 12, file "b" the rest) and register `cat` over its warehouse. */
  private def icebergNationFixture(tag: String): (String, String, DataFrame) = {
    import graft.icelite.IcebergFormat
    val wh  = scratch(s"ifmt_$tag")
    val loc = s"$wh/graft/nat_$tag"
    val cat = s"ice_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val nat = Tables.nation(spark, sfDir)
      .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
    val kt = nat.schema("n_nationkey").dataType
    def b(v: Int) = IcebergFormat.encodeBound(kt, v.toString).get
    val w = new IcebergFormat.Writer(spark, loc, nat.schema)
    w.commit(Seq(
      IcebergFormat.writeSingleFile(spark, loc, "a",
        nat.filter(col("n_nationkey") < 12)).copy(bounds = Map(1 -> (b(0), b(11)))),
      IcebergFormat.writeSingleFile(spark, loc, "b",
        nat.filter(col("n_nationkey") >= 12)).copy(bounds = Map(1 -> (b(12), b(24))))))
    (cat, loc, nat)
  }

  private def dropIcebergFixture(cat: String): Unit = {
    spark.conf.unset(s"spark.sql.catalog.$cat")
    spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
  }

  test("iceberg-format scan: pushed filters skip files by manifest bounds") {
    import graft.sources.IceLiteSource
    val (cat, _, nat) = icebergNationFixture("prune")
    try {
      // predicate outside file "a"'s recorded [0, 11]: only "b" is read
      IceLiteSource.filesOpened.reset()
      val hi = spark.sql(
        s"SELECT n_nationkey FROM $cat.graft.nat_prune WHERE n_nationkey >= 12")
        .collect().map(_.getInt(0)).sorted
      assert(hi.sameElements(12 to 24), "pruned read returned wrong rows")
      assert(IceLiteSource.filesOpened.sum() == 1,
        s"expected 1 data file opened after manifest pruning, got ${IceLiteSource.filesOpened.sum()}")
      // point lookup prunes to one file and is re-checked row-level
      IceLiteSource.filesOpened.reset()
      val one = spark.sql(
        s"SELECT n_name FROM $cat.graft.nat_prune WHERE n_nationkey = 3").collect()
      assert(one.length == 1)
      assert(IceLiteSource.filesOpened.sum() == 1)
      // unpushable predicate keeps every file (residual-only, still correct)
      IceLiteSource.filesOpened.reset()
      val mod = spark.sql(
        s"SELECT count(*) AS n FROM $cat.graft.nat_prune WHERE n_nationkey % 5 = 0")
        .head().getLong(0)
      assert(mod == 5 && IceLiteSource.filesOpened.sum() == 2)
      ()
    } finally dropIcebergFixture(cat)
  }

  test("iceberg-format library scan reads through the connector: file pruning, metadata-only count") {
    import graft.icelite.IcebergFormat
    import graft.sources.IceLiteSource
    val (cat, loc, _) = icebergNationFixture("libscan")
    try {
      val md = IcebergFormat.currentMetadataPath(spark, loc)
      val one = IcebergFormat.scan(spark, md).where(col("n_nationkey") === 3)
      assert(one.select("n_nationkey").collect().map(_.getInt(0)).toSeq == Seq(3))
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("IcebergMorScan(files=1/2"), s"pushed filter did not prune files: $plan")
      val cnt = IcebergFormat.scan(spark, md).groupBy().count()
      assert(cnt.queryExecution.executedPlan.toString.contains("metadata-only count"),
        "library COUNT(*) did not push to the metadata scan")
      IceLiteSource.filesOpened.reset()
      assert(cnt.head().getLong(0) == 25L)
      assert(IceLiteSource.filesOpened.sum() == 0,
        s"metadata count opened ${IceLiteSource.filesOpened.sum()} data files")
    } finally dropIcebergFixture(cat)
  }

  test("iceberg-format scan: IN-list, prefix, and null-count pruning") {
    import graft.icelite.IcebergFormat
    import graft.sources.IceLiteSource
    val (cat, _, _) = icebergNationFixture("prune2")
    try {
      // IN-list inside file a's [0, 11] bounds: union of point ranges
      // prunes file b entirely
      IceLiteSource.filesOpened.reset()
      val in = spark.sql(
        s"SELECT n_nationkey FROM $cat.graft.nat_prune2 WHERE n_nationkey IN (1, 5, 9)")
        .collect().map(_.getInt(0)).sorted
      assert(in.sameElements(Seq(1, 5, 9)))
      assert(IceLiteSource.filesOpened.sum() == 1,
        s"IN-list probe opened ${IceLiteSource.filesOpened.sum()} files, expected 1")
      // an IN-list spanning both bounds keeps both
      IceLiteSource.filesOpened.reset()
      assert(spark.sql(
        s"SELECT count(*) AS n FROM $cat.graft.nat_prune2 WHERE n_nationkey IN (1, 20)")
        .head().getLong(0) == 2 && IceLiteSource.filesOpened.sum() == 2)
    } finally dropIcebergFixture(cat)

    // prefix + null-count pruning on a purpose-built two-file table:
    // disjoint string ranges; `maybe_null` is ALL-null in lo, no-null in hi
    val wh  = scratch("ifmt_prune3")
    val loc = s"$wh/graft/str_prune"
    val cat3 = "ice_prune3"
    spark.conf.set(s"spark.sql.catalog.$cat3", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat3.warehouse", wh)
    try {
      import spark.implicits._
      val lo = Seq((1, "apple", Option.empty[Int]), (2, "grape", Option.empty[Int]),
        (3, "melon", Option.empty[Int])).toDF("k", "s", "maybe_null")
      val hi = Seq((4, "nectarine", Some(40)), (5, "peach", Some(50)),
        (6, "zebra", Some(60))).toDF("k", "s", "maybe_null")
      def sb(v: String) = IcebergFormat.encodeBound(
        org.apache.spark.sql.types.StringType, v).get
      val w = new IcebergFormat.Writer(spark, loc, lo.schema)
      w.commit(Seq(
        IcebergFormat.writeSingleFile(spark, loc, "lo", lo)
          .copy(bounds = Map(2 -> (sb("apple"), sb("melon")))),
        IcebergFormat.writeSingleFile(spark, loc, "hi", hi)
          .copy(bounds = Map(2 -> (sb("nectarine"), sb("zebra"))))))
      // fixture really recorded null counts (spec field 110)
      val planned = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      assert(planned.files.forall(_.nullCounts.get(3).isDefined),
        s"null counts missing: ${planned.files.map(_.nullCounts)}")
      // LIKE 'z%' pushes as StringStartsWith: a prefix is a range on the
      // string bounds -> only hi read
      IceLiteSource.filesOpened.reset()
      assert(spark.sql(s"SELECT k FROM $cat3.graft.str_prune WHERE s LIKE 'z%'")
        .collect().map(_.getInt(0)).toSeq == Seq(6))
      assert(IceLiteSource.filesOpened.sum() == 1,
        s"prefix probe opened ${IceLiteSource.filesOpened.sum()} files, expected 1")
      // IS NOT NULL prunes the all-null file
      IceLiteSource.filesOpened.reset()
      assert(spark.sql(
        s"SELECT count(k) AS n FROM $cat3.graft.str_prune WHERE maybe_null IS NOT NULL")
        .head().getLong(0) == 3)
      assert(IceLiteSource.filesOpened.sum() == 1,
        s"IS NOT NULL opened ${IceLiteSource.filesOpened.sum()} files, expected 1")
      // IS NULL prunes the zero-null file
      IceLiteSource.filesOpened.reset()
      assert(spark.sql(
        s"SELECT count(*) AS n FROM $cat3.graft.str_prune WHERE maybe_null IS NULL")
        .head().getLong(0) == 3)
      assert(IceLiteSource.filesOpened.sum() == 1,
        s"IS NULL opened ${IceLiteSource.filesOpened.sum()} files, expected 1")
      ()
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat3")
      spark.conf.unset(s"spark.sql.catalog.$cat3.warehouse")
    }
  }

  test("iceberg-format DELETE blast radius: delete files are path-range pruned") {
    import graft.sources.IceLiteSource
    val (cat, _, nat) = icebergNationFixture("blast")
    try {
      // matches only rows in file "a" -> ONE delete file whose manifest
      // file_path bounds name only "a"
      spark.sql(s"DELETE FROM $cat.graft.nat_blast WHERE n_nationkey = 3")
      IceLiteSource.deleteFilesOpened.reset()
      IceLiteSource.filesOpened.reset()
      val keys = spark.sql(s"SELECT n_nationkey FROM $cat.graft.nat_blast")
        .collect().map(_.getInt(0)).sorted
      assert(keys.sameElements((0 to 24).filterNot(_ == 3)), "DELETE applied wrong rows")
      assert(IceLiteSource.filesOpened.sum() == 2)
      assert(IceLiteSource.deleteFilesOpened.sum() == 1,
        s"delete file opened ${IceLiteSource.deleteFilesOpened.sum()} times — " +
          "path-range pruning should confine it to data file a")
      ()
    } finally dropIcebergFixture(cat)
  }

  test("iceberg-format UPDATE and MERGE: delta commit, originals byte-untouched") {
    import graft.icelite.IcebergFormat
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val (cat, loc, nat) = icebergNationFixture("dml")
    try {
      val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def planNow() = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      val before = planNow().files.map { f =>
        val st = fs.getFileStatus(f.path); f.path.toString -> (st.getLen, st.getModificationTime)
      }.toMap
      spark.sql(s"""UPDATE $cat.graft.nat_dml
                    SET n_name = concat(n_name, '_U') WHERE n_nationkey % 4 = 0""")
      val mid = planNow()
      before.foreach { case (p, st0) =>
        val st = fs.getFileStatus(new Path(p))
        assert((st.getLen, st.getModificationTime) == st0, s"UPDATE mutated data file $p")
      }
      assert(mid.files.map(_.path.toString).toSet.size > before.size,
        "UPDATE staged no delta insert file")
      assert(mid.deletes.nonEmpty && mid.deletes.forall(_.content == 1),
        "UPDATE committed no position deletes")
      val wantU = nat.withColumn("n_name",
        when(col("n_nationkey") % 4 === 0, concat(col("n_name"), lit("_U")))
          .otherwise(col("n_name")))
      val gotU = spark.sql(s"SELECT * FROM $cat.graft.nat_dml")
      assert(gotU.count() == 25 && gotU.except(wantU).isEmpty && wantU.except(gotU).isEmpty,
        "UPDATE result wrong")
      // library reader (DuckDB-parity surface) agrees with the SQL read
      val lib = IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      assert(lib.except(wantU).isEmpty && wantU.except(lib).isEmpty,
        "library scan diverged after UPDATE")

      // MERGE: matched rows update, unmatched insert, one delta commit
      wantU.filter(col("n_nationkey") % 3 === 0)
        .select(col("n_nationkey"), lit("MERGED").as("n_name"),
          (col("n_regionkey") + 100).as("n_regionkey"))
        .unionAll(Seq((100, "NEW_A", 7), (101, "NEW_B", 8))
          .toDF("n_nationkey", "n_name", "n_regionkey")
          .select(col("n_nationkey").cast(nat.schema("n_nationkey").dataType),
            col("n_name"), col("n_regionkey").cast(nat.schema("n_regionkey").dataType)))
        .createOrReplaceTempView("nat_dml_src")
      spark.sql(s"""MERGE INTO $cat.graft.nat_dml t
                    USING nat_dml_src s ON t.n_nationkey = s.n_nationkey
                    WHEN MATCHED THEN UPDATE SET n_name = s.n_name, n_regionkey = s.n_regionkey
                    WHEN NOT MATCHED THEN INSERT *""")
      val src   = spark.table("nat_dml_src")
      val wantM = wantU.join(src, Seq("n_nationkey"), "left_anti").unionAll(src)
      val gotM  = spark.sql(s"SELECT * FROM $cat.graft.nat_dml")
      assert(gotM.count() == 27 && gotM.except(wantM).isEmpty && wantM.except(gotM).isEmpty,
        "MERGE result wrong")
      before.foreach { case (p, st0) =>
        val st = fs.getFileStatus(new Path(p))
        assert((st.getLen, st.getModificationTime) == st0, s"MERGE mutated data file $p")
      }
      val lib2 = IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      assert(lib2.except(wantM).isEmpty && wantM.except(lib2).isEmpty,
        "library scan diverged after MERGE")
    } finally dropIcebergFixture(cat)
  }

  test("iceberg-format partitioned table: column projection, pruning, resumed DML") {
    import graft.icelite.IcebergFormat
    import graft.sources.IceLiteSource
    import org.apache.hadoop.fs.Path
    val wh  = scratch("ifmt_part")
    val loc = s"$wh/graft/nat_part"
    val cat = "ice_part"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val nat = Tables.nation(spark, sfDir)
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
      // identity-partitioned by n_regionkey, one file per region, and the
      // data files OMIT the partition column (spec Column Projection —
      // readers must rebuild it from partition metadata)
      val w = new IcebergFormat.Writer(spark, loc, nat.schema, Seq("n_regionkey"))
      val regions = nat.select("n_regionkey").distinct()
        .collect().map(_.getInt(0)).sorted
      w.commit(regions.toSeq.map { r =>
        IcebergFormat.writeSingleFile(spark, loc, s"r$r",
          nat.filter(col("n_regionkey") === r).drop("n_regionkey"))
          .copy(partitionValues = Map("n_regionkey" -> r))
      })
      // full read reconstructs the omitted column from partition metadata
      val got = spark.sql(s"SELECT * FROM $cat.graft.nat_part")
      assert(got.count() == 25 && got.except(nat).isEmpty && nat.except(got).isEmpty,
        "partitioned read wrong (column projection)")
      // a partition-valued predicate prunes to one file
      IceLiteSource.filesOpened.reset()
      val r2 = spark.sql(
        s"SELECT n_nationkey FROM $cat.graft.nat_part WHERE n_regionkey = 2")
        .collect().map(_.getInt(0)).sorted
      assert(r2.sameElements(
        nat.filter(col("n_regionkey") === 2).select("n_nationkey")
          .collect().map(_.getInt(0)).sorted))
      assert(IceLiteSource.filesOpened.sum() == 1,
        s"partition pruning opened ${IceLiteSource.filesOpened.sum()} files, expected 1")
      // resumed delta DML on the PARTITIONED table (previously refused):
      // DELETE then UPDATE, one delta snapshot each, originals untouched
      val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def planNow() = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      val before = planNow().files.map { f =>
        val st = fs.getFileStatus(f.path)
        f.path.toString -> (st.getLen, st.getModificationTime)
      }.toMap
      spark.sql(s"DELETE FROM $cat.graft.nat_part WHERE n_nationkey % 5 = 0")
      spark.sql(s"""UPDATE $cat.graft.nat_part
                    SET n_name = concat(n_name, '_P') WHERE n_regionkey = 1""")
      before.foreach { case (p, st0) =>
        val st = fs.getFileStatus(new Path(p))
        assert((st.getLen, st.getModificationTime) == st0, s"DML mutated data file $p")
      }
      val want = nat.filter(!(col("n_nationkey") % 5 === 0))
        .withColumn("n_name",
          when(col("n_regionkey") === 1, concat(col("n_name"), lit("_P")))
            .otherwise(col("n_name")))
      val after = spark.sql(s"SELECT * FROM $cat.graft.nat_part")
      assert(after.except(want).isEmpty && want.except(after).isEmpty,
        "partitioned resumed DELETE+UPDATE read wrong")
      // library reader agrees (the DuckDB-parity surface)
      val lib = IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
        .select("n_nationkey", "n_name", "n_regionkey")
      assert(lib.except(want).isEmpty && want.except(lib).isEmpty,
        "library scan diverged on the partitioned MoR table")
      // spec conformance: delta files carry NO partition values, so they
      // must NOT land under the partitioned spec (external engines would
      // prune null tuples away) — commitDelta routes them under an
      // auxiliary unpartitioned spec while the default stays partitioned
      val mdText = {
        val p  = new Path(IcebergFormat.currentMetadataPath(spark, loc))
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      }
      assert(mdText.contains("\"default-spec-id\":0"),
        "delta DML must not change the table's default (partitioned) spec")
      assert(mdText.contains("{\"spec-id\":1,\"fields\":[]}"),
        "delta DML must register an auxiliary unpartitioned spec for its files")
      // the UPDATE's insert files carry REAL partition tuples under the
      // DEFAULT spec (identity spec → rolling writer stamps them): the
      // planner sees n_regionkey = 1 on every delta insert file
      val deltaFiles = planNow().files.filter(_.path.toString.contains("/delta-"))
      assert(deltaFiles.nonEmpty, "UPDATE left no delta insert files")
      val rkId = 3 // n_regionkey is the third top-level field (ids 1..n)
      assert(deltaFiles.forall(_.partition.get(rkId).contains(1)),
        s"delta insert files missing real partition tuples: ${deltaFiles.map(_.partition)}")
      // counter gate: a partition-filtered read of ANOTHER region prunes
      // the delta insert files by their partition value — without the
      // tuples they planned as global and every such read opened them
      IceLiteSource.filesOpened.reset()
      val r2after = spark.sql(
        s"SELECT n_nationkey FROM $cat.graft.nat_part WHERE n_regionkey = 2")
        .collect().map(_.getInt(0)).sorted
      assert(r2after.sameElements(
        want.filter(col("n_regionkey") === 2).select("n_nationkey")
          .collect().map(_.getInt(0)).sorted))
      assert(IceLiteSource.filesOpened.sum() == 1,
        s"post-UPDATE partition read opened ${IceLiteSource.filesOpened.sum()} files " +
          "(delta inserts not pruned by partition value)")
      // ...while the UPDATED region reads its original file AND the delta
      IceLiteSource.filesOpened.reset()
      val r1after = spark.sql(
        s"SELECT n_name FROM $cat.graft.nat_part WHERE n_regionkey = 1")
        .collect().map(_.getString(0))
      assert(r1after.nonEmpty && r1after.forall(_.endsWith("_P")))
      assert(IceLiteSource.filesOpened.sum() == 2,
        s"updated-region read opened ${IceLiteSource.filesOpened.sum()} files, expected 2")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("iceberg-format schema-evolved table: resumed delta DML preserves history") {
    import graft.icelite.IcebergFormat
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val wh  = scratch("ifmt_evo")
    val loc = s"$wh/graft/nat_evo"
    val cat = "ice_evo"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val nat = Tables.nation(spark, sfDir)
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
      val w = new IcebergFormat.Writer(spark, loc, nat.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "old",
        nat.filter(col("n_nationkey") < 12))))
      val evolved = StructType(nat.schema.fields :+
        StructField("n_extra", LongType, nullable = true))
      w.evolveSchema(evolved)
      w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "new",
        nat.filter(col("n_nationkey") >= 12)
          .withColumn("n_extra", col("n_nationkey").cast("long") * 10))))
      // resumed DELETE on the two-schema table (previously refused)
      spark.sql(s"DELETE FROM $cat.graft.nat_evo WHERE n_nationkey % 6 = 0")
      val meta = IcebergFormat.currentMetadataPath(spark, loc)
      // re-resume must still parse the re-emitted two-schema metadata
      spark.sql(s"DELETE FROM $cat.graft.nat_evo WHERE n_nationkey = 1")
      val want = nat.filter(!(col("n_nationkey") % 6 === 0) && col("n_nationkey") =!= 1)
        .withColumn("n_extra",
          when(col("n_nationkey") >= 12, col("n_nationkey").cast("long") * 10)
            .otherwise(lit(null).cast("long")))
      val got = spark.sql(s"SELECT * FROM $cat.graft.nat_evo")
      assert(got.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey", "n_extra"))
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        "evolved-table resumed DELETE read wrong (old files must null-fill)")
      val lib = IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      assert(lib.except(want).isEmpty && want.except(lib).isEmpty,
        "library scan diverged on the evolved MoR table")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("iceberg-format scan: oversized files split into row-group-aligned ranges") {
    import graft.icelite.IcebergFormat
    import graft.sources.IceLiteSource
    val wh  = scratch("ifmt_split")
    val loc = s"$wh/graft/ord_split"
    val cat = "ice_split"
    val hconf = spark.sparkContext.hadoopConfiguration
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    hconf.setInt("parquet.block.size", 4 * 1024) // many row groups in one file
    try {
      val ord = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice").orderBy("o_orderkey")
      val total = ord.count()
      val w = new IcebergFormat.Writer(spark, loc, ord.schema)
      val info = IcebergFormat.writeSingleFile(spark, loc, "big", ord)
      w.commit(Seq(info))
      // fixture guard: the file really has multiple row groups and is
      // oversized relative to the split target below
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$loc/data/big.parquet"), hconf))
      val nBlocks = try fr.getFooter.getBlocks.size finally fr.close()
      assert(nBlocks >= 2, s"fixture: expected multiple row groups, got $nBlocks")
      spark.conf.set("graft.split.size", "8192")
      assert(info.sizeBytes >= 2 * 8192, s"fixture: file too small to split (${info.sizeBytes}B)")

      // fixture really recorded split offsets at write time (spec field 132)
      val planned0 = IcebergFormat.plan(
        spark, IcebergFormat.currentMetadataPath(spark, loc)).files.head
      assert(planned0.splitOffsets.size >= 2,
        s"manifest carries ${planned0.splitOffsets.size} split offsets; expected >= 2")

      IceLiteSource.filesOpened.reset()
      // count(col), NOT count(*): the metadata-only count shortcut would
      // answer count(*) without planning any partition — this test is
      // about the ranged-split DATA path
      val n0 = spark.sql(s"SELECT count(o_orderkey) AS n FROM $cat.graft.ord_split")
        .head().getLong(0)
      assert(n0 == total, "split read lost rows")
      val splits = IceLiteSource.filesOpened.sum()
      assert(splits >= 2, s"oversized file planned $splits partition(s); expected ranged splits")

      // position deletes stay file-global across splits: delete every
      // 10th order, re-read
      spark.sql(s"DELETE FROM $cat.graft.ord_split WHERE o_orderkey % 10 = 0")
      val want = ord.filter(!(col("o_orderkey") % 10 === 0))
      val got  = spark.sql(s"SELECT * FROM $cat.graft.ord_split")
      assert(got.count() == want.count() && got.except(want).isEmpty && want.except(got).isEmpty,
        "split read wrong under position deletes")
      // ordered spot-check: _pos numbering is file-global, so the delete
      // hit exactly the intended keys
      assert(spark.sql(
        s"SELECT count(*) AS n FROM $cat.graft.ord_split WHERE o_orderkey % 10 = 0")
        .head().getLong(0) == 0L)

      // FALLBACK path: an externally-written table whose manifests lack
      // split_offsets still range-splits — into fixed byte strides that
      // need not start at row groups — and reads identically
      val loc2 = s"$wh/graft/ord_nooff"
      val w2   = new IcebergFormat.Writer(spark, loc2, ord.schema)
      w2.commit(Seq(
        IcebergFormat.writeSingleFile(spark, loc2, "big", ord)
          .copy(splitOffsets = Nil)))
      IceLiteSource.filesOpened.reset()
      // count(col) again: the metadata-only count(*) shortcut would skip
      // the data path this fallback test exists to exercise
      val n2 = spark.sql(s"SELECT count(o_orderkey) AS n FROM $cat.graft.ord_nooff")
        .head().getLong(0)
      assert(n2 == total, "fallback split read lost rows")
      assert(IceLiteSource.filesOpened.sum() >= 2, "fallback path did not split")
    } finally {
      hconf.unset("parquet.block.size")
      spark.conf.unset("graft.split.size")
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("icelite V2 scan: oversized V2-written files split via recorded offsets, zero planning IO") {
    import graft.sources.IceLiteSource
    val wh    = scratch("il_split")
    val cat   = "ice_ilsp"
    val hconf = spark.sparkContext.hadoopConfiguration
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set("graft.delete.mode", "merge-on-read")
    hconf.setInt("parquet.block.size", 4 * 1024) // many row groups per file
    try {
      val ord = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice").orderBy("o_orderkey")
      val fsc = new FsCatalog(spark, wh)
      val t0  = fsc.createOrReplaceTable("graft", "ord_il",
        ord.filter(col("o_orderkey") < 40).coalesce(1))
      // the V2 write path records size + split_offsets executor-side
      ord.filter(col("o_orderkey") >= 40).coalesce(1)
        .write.format("icelite").option("location", t0.location.toString)
        .mode("append").save()
      val t   = fsc.loadTable("graft", "ord_il")
      val big = t.entriesOf(t.metadata.currentSnapshot.get)
        .filter(_.rows.exists(_ > 0)).maxBy(_.rows.get)
      assert(big.splitOffsets.exists(_.size >= 2),
        s"V2 write recorded no split offsets: $big")
      assert(big.sizeBytes.exists(_ >= 2 * 8192), "fixture: file too small to split")
      spark.conf.set("graft.split.size", "8192")
      IceLiteSource.filesOpened.reset()
      val total = ord.count()
      // a DATA-reading query (count(*) answers from manifest metadata and
      // would open nothing)
      val n0 = spark.sql(
        s"SELECT count(DISTINCT o_orderkey) AS n FROM $cat.graft.ord_il").head().getLong(0)
      assert(n0 == total, "icelite split read lost rows")
      assert(IceLiteSource.filesOpened.sum() >= 3, // 1 small + >=2 ranged splits
        s"icelite oversized file did not split (${IceLiteSource.filesOpened.sum()} opens)")
      // MoR deletes stay split-invariant (_pos is file-global across ranges)
      spark.sql(s"DELETE FROM $cat.graft.ord_il WHERE o_orderkey % 10 = 0")
      val want = ord.filter(!(col("o_orderkey") % 10 === 0))
      val got  = spark.sql(s"SELECT * FROM $cat.graft.ord_il")
      assert(got.count() == want.count() &&
        got.except(want).isEmpty && want.except(got).isEmpty,
        "icelite split read wrong under position deletes")
    } finally {
      hconf.unset("parquet.block.size")
      spark.conf.unset("graft.split.size")
      spark.conf.unset("graft.delete.mode")
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("iceberg-format SQL read applies EQUALITY deletes; restated rows survive") {
    import graft.icelite.IcebergFormat
    val wh  = scratch("ifmt_eq")
    val loc = s"$wh/graft/nat_eq"
    val cat = "ice_eq"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val nat = Tables.nation(spark, sfDir)
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
      val w = new IcebergFormat.Writer(spark, loc, nat.schema)
      // snapshot 1: base data; snapshot 2: CDC equality delete on keys
      // 3/7/11; snapshot 3: key 7 RESTATED (newer than the delete)
      w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f1", nat)))
      w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "del1",
        nat.filter(col("n_nationkey").isin(3, 7, 11)).select("n_nationkey"),
        content = 2, equalityIds = Seq(1))))
      w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f2",
        nat.filter(col("n_nationkey") === 7).withColumn("n_name", lit("RESTATED")))))

      val want = nat.filter(!col("n_nationkey").isin(3, 11))
        .withColumn("n_name",
          when(col("n_nationkey") === 7, lit("RESTATED")).otherwise(col("n_name")))
      val got = spark.sql(s"SELECT * FROM $cat.graft.nat_eq")
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        "equality-delete SQL read wrong")
      // the spec's strictly-older rule: the ORIGINAL key-7 row died, the
      // restated one (seq 3 > delete seq 2) survived — exactly one row
      val k7 = got.filter(col("n_nationkey") === 7).collect()
      assert(k7.length == 1 && k7(0).getString(1) == "RESTATED",
        s"restated row handling wrong: ${k7.toSeq}")
      // projected read that EXCLUDES the equality key column still applies
      // the delete (the reader decodes key columns alongside the projection)
      val nNames = spark.sql(s"SELECT n_name FROM $cat.graft.nat_eq").count()
      assert(nNames == want.count(), "projection-only read ignored equality deletes")
      // count(*) (no data columns at all) is delete-aware too
      val n = spark.sql(s"SELECT count(*) AS n FROM $cat.graft.nat_eq").head().getLong(0)
      assert(n == want.count(), "count(*) ignored equality deletes")
      // the library scan (the same connector, pinned to the metadata file) agrees row-for-row
      val lib = IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      assert(lib.except(want).isEmpty && want.except(lib).isEmpty,
        "library scan diverged on the equality-delete table")
      // position-delete DML still composes ON TOP of equality deletes
      spark.sql(s"DELETE FROM $cat.graft.nat_eq WHERE n_nationkey = 2")
      val afterWant = want.filter(col("n_nationkey") =!= 2)
      val after = spark.sql(s"SELECT * FROM $cat.graft.nat_eq")
      assert(after.except(afterWant).isEmpty && afterWant.except(after).isEmpty,
        "position-delete DML on an equality-delete table read wrong")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("iceberg-format scan: manifest-list partition summaries skip whole manifests") {
    import graft.icelite.IcebergFormat
    val wh  = scratch("ifmt_msum")
    val loc = s"$wh/graft/nat_msum"
    val cat = "ice_msum"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val nat = Tables.nation(spark, sfDir)
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
      val w = new IcebergFormat.Writer(spark, loc, nat.schema, Seq("n_regionkey"))
      val regions = nat.select("n_regionkey").distinct().collect().map(_.getInt(0)).sorted
      // one COMMIT per region -> one data manifest per region, each
      // carrying a single-value partition summary (spec field 507)
      regions.foreach { r =>
        w.commit(Seq(
          IcebergFormat.writeSingleFile(spark, loc, s"r$r",
            nat.filter(col("n_regionkey") === r))
            .copy(partitionValues = Map("n_regionkey" -> r))))
      }
      // unfiltered read: every data manifest is read at planning
      IcebergFormat.manifestReadsAtPlanning.reset()
      assert(spark.sql(s"SELECT * FROM $cat.graft.nat_msum").count() == 25)
      assert(IcebergFormat.manifestReadsAtPlanning.sum() == regions.length,
        s"unfiltered plan read ${IcebergFormat.manifestReadsAtPlanning.sum()} manifests, " +
          s"expected ${regions.length}")
      // selective read: ONLY region 2's manifest is read — the other four
      // are skipped from their manifest-LIST summaries without any IO
      IcebergFormat.manifestReadsAtPlanning.reset()
      val got = spark.sql(
        s"SELECT n_nationkey FROM $cat.graft.nat_msum WHERE n_regionkey = 2")
        .collect().map(_.getInt(0)).sorted
      assert(got.sameElements(nat.filter(col("n_regionkey") === 2)
        .select("n_nationkey").collect().map(_.getInt(0)).sorted))
      assert(IcebergFormat.manifestReadsAtPlanning.sum() == 1,
        s"filtered plan read ${IcebergFormat.manifestReadsAtPlanning.sum()} manifests, expected 1")
      // IN-list prunes to its member manifests
      IcebergFormat.manifestReadsAtPlanning.reset()
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.graft.nat_msum WHERE n_regionkey IN (0, 4)")
        .head().getLong(0) == nat.filter(col("n_regionkey").isin(0, 4)).count())
      assert(IcebergFormat.manifestReadsAtPlanning.sum() == 2,
        s"IN-list plan read ${IcebergFormat.manifestReadsAtPlanning.sum()} manifests, expected 2")
      // summaries survive a resumed delta commit (restore re-publishes
      // field 507 for carried manifests): after a DELETE, a filtered plan
      // reads one surviving data manifest + the delta's delete manifest
      spark.sql(s"DELETE FROM $cat.graft.nat_msum WHERE n_nationkey = 8") // region 2
      IcebergFormat.manifestReadsAtPlanning.reset()
      val after = spark.sql(
        s"SELECT n_nationkey FROM $cat.graft.nat_msum WHERE n_regionkey = 2")
        .collect().map(_.getInt(0)).sorted
      assert(after.sameElements(nat.filter(col("n_regionkey") === 2 && col("n_nationkey") =!= 8)
        .select("n_nationkey").collect().map(_.getInt(0)).sorted))
      assert(IcebergFormat.manifestReadsAtPlanning.sum() == 2,
        s"post-DML filtered plan read ${IcebergFormat.manifestReadsAtPlanning.sum()} " +
          "manifests, expected 2 (one data + the delete manifest)")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("iceberg-format scan: transform-axis manifest pruning (day, truncate, bucket, DATE)") {
    import graft.icelite.IcebergFormat
    val wh  = scratch("ifmt_taxes")
    val cat = "ice_tax"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      // ---- day-transform axis over a DATE column: the canonical 100 TB
      // time-partitioned shape; dates push as literals now
      val days = spark.sql(
        """SELECT d, CAST(10 * m + v AS BIGINT) AS v FROM
             (SELECT explode(sequence(DATE'2024-01-01', DATE'2024-01-03')) AS d),
             (SELECT explode(sequence(0, 9)) AS v),
             (SELECT explode(array(0)) AS m)""").select("d", "v")
      val dLoc = s"$wh/graft/t_day"
      val wd = new IcebergFormat.Writer(spark, dLoc, days.schema, Seq("days(d)"))
      Seq("2024-01-01", "2024-01-02", "2024-01-03").foreach { day =>
        val ed = java.time.LocalDate.parse(day).toEpochDay.toInt
        wd.commit(Seq(IcebergFormat.writeSingleFile(spark, dLoc, s"d$ed",
          days.filter(col("d") === lit(java.sql.Date.valueOf(day))))
          .copy(partitionValues = Map("d_day" -> ed))))
      }
      IcebergFormat.manifestReadsAtPlanning.reset()
      assert(spark.sql(s"SELECT count(*) FROM $cat.graft.t_day WHERE d = DATE'2024-01-02'")
        .head().getLong(0) == 10)
      assert(IcebergFormat.manifestReadsAtPlanning.sum() == 1,
        s"day-axis pruning read ${IcebergFormat.manifestReadsAtPlanning.sum()} manifests, expected 1")
      // date RANGE prunes too (order-preserving transform)
      IcebergFormat.manifestReadsAtPlanning.reset()
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.graft.t_day WHERE d >= DATE'2024-01-03'")
        .head().getLong(0) == 10)
      assert(IcebergFormat.manifestReadsAtPlanning.sum() == 1,
        s"day-range pruning read ${IcebergFormat.manifestReadsAtPlanning.sum()} manifests, expected 1")

      // ---- truncate[10] axis over a long column
      val nums = spark.range(0, 30).select(col("id").as("k"), (col("id") * 7).as("w"))
      val tLoc = s"$wh/graft/t_trunc"
      val wt = new IcebergFormat.Writer(spark, tLoc, nums.schema, Seq("truncate(10, k)"))
      Seq(0L, 10L, 20L).foreach { g =>
        wt.commit(Seq(IcebergFormat.writeSingleFile(spark, tLoc, s"g$g",
          nums.filter(col("k") >= g && col("k") < g + 10))
          .copy(partitionValues = Map("k_trunc" -> g))))
      }
      IcebergFormat.manifestReadsAtPlanning.reset()
      assert(spark.sql(s"SELECT count(*) FROM $cat.graft.t_trunc WHERE k = 13")
        .head().getLong(0) == 1)
      assert(IcebergFormat.manifestReadsAtPlanning.sum() == 1,
        s"truncate-axis pruning read ${IcebergFormat.manifestReadsAtPlanning.sum()} manifests, expected 1")

      // ---- bucket[4] axis over a string column (point lookups)
      val nat = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
      val bLoc = s"$wh/graft/t_bkt"
      val wb = new IcebergFormat.Writer(spark, bLoc, nat.schema, Seq("bucket(4, n_name)"))
      val names = nat.select("n_name").collect().map(_.getString(0))
      val byBucket = names.groupBy(n =>
        IcebergFormat.bucketOf(org.apache.spark.sql.types.StringType, n, 4).get)
      byBucket.toSeq.sortBy(_._1).foreach { case (b, ns) =>
        wb.commit(Seq(IcebergFormat.writeSingleFile(spark, bLoc, s"b$b",
          nat.filter(col("n_name").isin(ns.toSeq: _*)))
          .copy(partitionValues = Map("n_name_bucket" -> b))))
      }
      val probe = names.sorted.head
      IcebergFormat.manifestReadsAtPlanning.reset()
      assert(spark.sql(s"SELECT n_nationkey FROM $cat.graft.t_bkt WHERE n_name = '$probe'")
        .count() == 1)
      assert(IcebergFormat.manifestReadsAtPlanning.sum() == 1,
        s"bucket-axis pruning read ${IcebergFormat.manifestReadsAtPlanning.sum()} " +
          s"manifests, expected 1 of ${byBucket.size}")

      // ---- day-transform axis over a TIMESTAMP column: literals push
      // through the instant (UTC-normalized), never session-TZ toString
      val evs = spark.sql(
        """SELECT to_timestamp(concat('2024-01-0', d, ' 0', h, ':30:00')) AS ts,
                  CAST(d * 100 + h AS BIGINT) AS v
           FROM (SELECT explode(sequence(1, 3)) AS d),
                (SELECT explode(sequence(0, 5)) AS h)""")
      val sLoc = s"$wh/graft/t_ts"
      val ws = new IcebergFormat.Writer(spark, sLoc, evs.schema, Seq("days(ts)"))
      (1 to 3).foreach { dd =>
        val ed = java.time.LocalDate.parse(f"2024-01-0$dd").toEpochDay.toInt
        ws.commit(Seq(IcebergFormat.writeSingleFile(spark, sLoc, s"ts$dd",
          evs.filter(dayofmonth(col("ts")) === dd))
          .copy(partitionValues = Map("ts_day" -> ed))))
      }
      // bounds inside one day -> exactly that day's manifest (a `< next
      // midnight` upper bound would conservatively keep the next day too:
      // range translation is inclusive, and day() is coarse)
      IcebergFormat.manifestReadsAtPlanning.reset()
      assert(spark.sql(
        s"""SELECT count(*) FROM $cat.graft.t_ts
            WHERE ts >= TIMESTAMP'2024-01-02 00:00:00'
              AND ts <= TIMESTAMP'2024-01-02 05:30:00'""")
        .head().getLong(0) == 6)
      assert(IcebergFormat.manifestReadsAtPlanning.sum() == 1,
        s"timestamp day-axis pruning read ${IcebergFormat.manifestReadsAtPlanning.sum()} " +
          "manifests, expected 1")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("iceberg-format scan reports statistics: small tables broadcast in joins") {
    import graft.icelite.IcebergFormat
    val wh  = scratch("ifmt_stats")
    val loc = s"$wh/graft/nat_stats"
    val cat = "ice_stats"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val nat = Tables.nation(spark, sfDir).select("n_nationkey", "n_name", "n_regionkey")
      val w = new IcebergFormat.Writer(spark, loc, nat.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f1", nat)))
      val big = spark.range(0, 100000)
        .selectExpr("id", "CAST(id % 25 AS INT) AS k")
      big.createOrReplaceTempView("big_stats")
      val joined = spark.sql(
        s"""SELECT b.id, n.n_name FROM big_stats b
            JOIN $cat.graft.nat_stats n ON b.k = n.n_nationkey""")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        "25-row standard-format table did not broadcast: " + plan.take(500))
      assert(joined.count() == 100000)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("iceberg-format scan: runtime (join) filtering prunes partitioned files") {
    import graft.icelite.IcebergFormat
    import graft.sources.IceLiteSource
    val wh  = scratch("ifmt_dpp")
    val loc = s"$wh/graft/nat_dpp"
    val cat = "ice_dpp"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val nat = Tables.nation(spark, sfDir).select("n_nationkey", "n_name", "n_regionkey")
      val w = new IcebergFormat.Writer(spark, loc, nat.schema, Seq("n_regionkey"))
      val regions = nat.select("n_regionkey").distinct().collect().map(_.getInt(0)).sorted
      w.commit(regions.toSeq.map { r =>
        IcebergFormat.writeSingleFile(spark, loc, s"r$r",
          nat.filter(col("n_regionkey") === r))
          .copy(partitionValues = Map("n_regionkey" -> r))
      })
      // dim restricted to ONE region; the fact side has no static filter,
      // so only runtime filtering can prune its files
      val dim = nat.select(col("n_regionkey").as("rk")).distinct()
        .filter(col("rk") === 2)
      val fact = spark.sql(s"SELECT * FROM $cat.graft.nat_dpp")
      val joined = fact.join(broadcast(dim), col("n_regionkey") === col("rk"))
        .select("n_nationkey", "n_name")
      IceLiteSource.filesOpened.reset()
      val n = joined.count()
      val opened = IceLiteSource.filesOpened.sum()
      assert(n == nat.filter(col("n_regionkey") === 2).count())
      assert(opened < regions.length,
        s"runtime filtering pruned nothing: opened $opened of ${regions.length} files")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("iceberg-format COUNT(*): metadata-only while clean, disabled under live deletes") {
    import graft.icelite.IcebergFormat
    import graft.sources.IceLiteSource
    val wh  = scratch("ifmt_cnt")
    val loc = s"$wh/graft/nat_cnt"
    val cat = "ice_cnt"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val nat = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
      val w = new IcebergFormat.Writer(spark, loc, nat.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f1", nat)))
      val q = spark.sql(s"SELECT count(*) FROM $cat.graft.nat_cnt")
      assert(q.queryExecution.executedPlan.toString.contains("metadata-only count"),
        "COUNT(*) did not push to the metadata scan")
      IceLiteSource.filesOpened.reset()
      assert(q.head().getLong(0) == 25)
      assert(IceLiteSource.filesOpened.sum() == 0,
        s"metadata count opened ${IceLiteSource.filesOpened.sum()} data files")
      // a live position delete disables the shortcut (physical counts
      // over-count) — and the fallback scan counts right
      spark.sql(s"DELETE FROM $cat.graft.nat_cnt WHERE n_nationkey = 3")
      val q2 = spark.sql(s"SELECT count(*) FROM $cat.graft.nat_cnt")
      assert(!q2.queryExecution.executedPlan.toString.contains("metadata-only count"),
        "COUNT(*) stayed metadata-only with live deletes")
      assert(q2.head().getLong(0) == 24)
      // pushed partial LIMIT under live deletes: the reader's early-stop
      // counts DELETE-APPLIED rows, so a limit spanning the whole live
      // set still sees every survivor
      assert(spark.sql(s"SELECT n_nationkey FROM $cat.graft.nat_cnt LIMIT 24").count() == 24,
        "pushed limit under-emitted on a table with live deletes")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("string bounds land truncated (Iceberg truncate 16); pruning stays sound") {
    import graft.icelite.IcebergFormat
    import graft.sources.IceLiteSource
    // the spec rules themselves
    assert(IcebergFormat.truncateLowerBound("a" * 40) == "a" * 16)
    assert(IcebergFormat.truncateLowerBound("short") == "short")
    assert(IcebergFormat.truncateUpperBound("a" * 40).contains("a" * 15 + "b"))
    assert(IcebergFormat.truncateUpperBound("short").contains("short"))
    // un-bumpable tail: bump an earlier position; all-unbumpable: no upper
    assert(IcebergFormat.truncateUpperBound("ab" + "￿" * 20).contains("ac"))
    assert(IcebergFormat.truncateUpperBound("￿" * 20).isEmpty)

    withMorCatalog("trunc") { (cat, wh) =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      import spark.implicits._
      // two single-file commits of 200+-char texts with disjoint prefixes —
      // the documents.text shape the truncation exists for
      val f1 = (0 until 50).map(i => (i.toLong, s"apple$i" + "x" * 200))
      val f2 = (50 until 100).map(i => (i.toLong, s"zebra$i" + "y" * 200))
      spark.createDataset(f1).toDF("id", "txt").coalesce(1)
        .createOrReplaceTempView("trunc_src1")
      spark.createDataset(f2).toDF("id", "txt").coalesce(1)
        .createOrReplaceTempView("trunc_src2")
      spark.sql(s"CREATE TABLE $cat.graft.txt_trunc AS SELECT * FROM trunc_src1")
      spark.sql(s"INSERT INTO $cat.graft.txt_trunc SELECT * FROM trunc_src2")

      val t = iceOf(wh, "txt_trunc")
      val entries = t.entriesOf(t.metadata.currentSnapshot.get)
      assert(entries.size == 2, s"fixture wrote ${entries.size} files, wanted 2")
      entries.foreach { e =>
        val r = e.stats.flatMap(_.get("txt")).getOrElse(fail(s"no txt stats on ${e.file}"))
        assert(r.min.exists(_.length <= 16), s"untruncated lower bound: ${r.min}")
        assert(r.max.forall(_.length <= 16), s"untruncated upper bound: ${r.max}")
        assert(e.toJson.length < 400,
          s"manifest entry carries ${e.toJson.length} bytes — long-text bloat is back")
      }

      // pruning still counter-correct on the truncated bounds
      IceLiteSource.filesOpened.reset()
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.graft.txt_trunc WHERE txt >= 'z'")
        .head().getLong(0) == 50)
      assert(IceLiteSource.filesOpened.sum() == 1,
        s"range pruning broke: ${IceLiteSource.filesOpened.sum()} files opened")
      IceLiteSource.filesOpened.reset()
      assert(spark.sql(
        s"SELECT count(*) AS n FROM $cat.graft.txt_trunc WHERE txt LIKE 'apple%'")
        .head().getLong(0) == 50)
      assert(IceLiteSource.filesOpened.sum() == 1,
        s"prefix pruning broke: ${IceLiteSource.filesOpened.sum()} files opened")
      // full-length equality: truncated bounds keep the right file, the
      // row-level filter finds the exact row
      IceLiteSource.filesOpened.reset()
      val full = s"apple7" + "x" * 200
      val hit = spark.sql(
        s"SELECT id FROM $cat.graft.txt_trunc WHERE txt = '$full'").collect()
      assert(hit.map(_.getLong(0)).toSeq == Seq(7L))
      assert(IceLiteSource.filesOpened.sum() == 1,
        s"equality pruning broke: ${IceLiteSource.filesOpened.sum()} files opened")
    }
  }

  test("renamed identity spec field: DML tuples key by SPEC FIELD name, not column") {
    import graft.icelite.IcebergFormat
    import org.apache.hadoop.fs.Path
    // an EXTERNALLY-authored table may legally name a spec field
    // differently from its source column; tuples stamped by column name
    // would publish null partition tuples and a conforming engine would
    // prune away the restated rows (silent data loss)
    withMorCatalog("renamed") { (cat, wh) =>
      val loc = s"$wh/graft/nat_renamed"
      val nat = Tables.nation(spark, sfDir)
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
      val w = new IcebergFormat.Writer(spark, loc, nat.schema, Seq("n_regionkey"))
      val regions = nat.select("n_regionkey").distinct().collect().map(_.getInt(0)).sorted
      // data files KEEP the column (no projection) so reads stay correct
      // even where pre-rename manifests decode conservatively
      w.commit(regions.toSeq.map { r =>
        IcebergFormat.writeSingleFile(spark, loc, s"r$r",
          nat.filter(col("n_regionkey") === r))
          .copy(partitionValues = Map("n_regionkey" -> r))
      })
      // rename the spec field in the CURRENT metadata (source-id intact)
      val mdPath = IcebergFormat.currentMetadataPath(spark, loc)
      val fs     = new Path(mdPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val mdText = {
        val in = fs.open(new Path(mdPath))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      }
      val renamed = mdText.replace(
        "\"name\":\"n_regionkey\",\"transform\":\"identity\"",
        "\"name\":\"rk_part\",\"transform\":\"identity\"")
      assert(renamed != mdText, "metadata rewrite found no spec field to rename")
      val out = fs.create(new Path(mdPath), true)
      try out.write(renamed.getBytes("UTF-8")) finally out.close()
      // the DML router must surface BOTH names
      assert(IcebergFormat.defaultSpecIdentityCols(spark, mdPath) ==
        Seq(("rk_part", "n_regionkey")), "field/column name pair wrong")
      spark.sql(s"""UPDATE $cat.graft.nat_renamed
                    SET n_name = concat(n_name, '_R') WHERE n_regionkey = 1""")
      // insert files carry a REAL tuple for the renamed field (keyed by
      // the source column's field id in the planner)
      val plan2 = IcebergFormat.plan(spark, IcebergFormat.currentMetadataPath(spark, loc))
      val deltaFiles = plan2.files.filter(_.path.toString.contains("/delta-"))
      assert(deltaFiles.nonEmpty, "UPDATE left no delta insert files")
      assert(deltaFiles.forall(_.partition.get(3).contains(1)),
        s"renamed-field tuples missing: ${deltaFiles.map(_.partition)}")
      // and the table still reads right
      val want = nat.withColumn("n_name",
        when(col("n_regionkey") === 1, concat(col("n_name"), lit("_R")))
          .otherwise(col("n_name")))
      val got = spark.sql(s"SELECT * FROM $cat.graft.nat_renamed")
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        "renamed-spec-field table read wrong after DML")
    }
  }
}
