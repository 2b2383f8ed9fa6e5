package graft

import graft.icelite._
import org.apache.spark.sql.functions._

/** Table-maintenance features: compaction, min/max file skipping, schema
  * evolution — the Iceberg-style operations beyond the reference's surface
  * that a 100 TB lakehouse needs. */
class MaintenanceSpec extends SparkSpec {

  private def orders = Tables.orders(spark, sfDir)

  test("SHOW PROCEDURES lists exactly IceLiteProcedures.names (rot guard)") {
    // Round-8 postmortem: ic68 asserted a COUNT of procedures and broke
    // when a fifth was added after the last sweep. This pins the SQL
    // surface to the canonical name set, so adding a procedure without
    // updating the set (and the registry query) fails here first.
    val wh = scratch("procguard")
    spark.conf.set("spark.sql.catalog.proc_guard", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.proc_guard.warehouse", wh)
    try {
      val rows = spark.sql("SHOW PROCEDURES IN proc_guard.system").collect()
      // endsWith, not contains: "namespace" also contains "name"
      val nameIdx = rows.head.schema.fields.indexWhere(f => f.dataType == org.apache.spark.sql.types.StringType && f.name.toLowerCase.endsWith("name"))
      assert(nameIdx >= 0, s"no name column in ${rows.head.schema.fieldNames.mkString(",")}")
      val listed = rows.map(_.getString(nameIdx)).toSet
      assert(listed == graft.sources.IceLiteProcedures.names,
        s"SHOW PROCEDURES drifted: listed=$listed canonical=${graft.sources.IceLiteProcedures.names}")
    } finally {
      spark.conf.unset("spark.sql.catalog.proc_guard")
      spark.conf.unset("spark.sql.catalog.proc_guard.warehouse")
    }
  }

  test("racing concurrent appends BOTH land via rename-as-CAS rebase") {
    val cat  = new FsCatalog(spark, scratch("race"))
    val t    = cat.createOrReplaceTable("ns", "nation_race", Tables.nation(spark, sfDir))
    val base = t.scan().count()
    // two appends racing from independent threads: the CAS loser must
    // rebase on the winner's snapshot and retry, so NEITHER commit is lost
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool    = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            val mine = Tables.nation(spark, sfDir).filter(col("n_nationkey") % 2 === i % 2)
            barrier.await()
            t.append(mine)
          }
        })
      }
      futures.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS)) // generous: a loaded box must not flake the race
    } finally pool.shutdown()
    // both snapshots visible in the log, all rows present, linear history
    val snaps = t.snapshots()
    assert(snaps.size == 3, s"expected 3 snapshots (create + 2 appends), got ${snaps.size}")
    assert(t.scan().count() == base + Tables.nation(spark, sfDir).count())
    val parents = snaps.sortBy(_.snapshot_id).map(_.parent_snapshot_id)
    assert(parents == snaps.sortBy(_.snapshot_id).map(s => Option(s.snapshot_id - 1).filter(_ > 0)),
      s"history is not a linear rebase chain: $parents")
  }

  test("racing metadata-delete and append BOTH land; the append's rows survive the delete") {
    import spark.implicits._
    val wh = scratch("mddrace")
    spark.conf.set("spark.sql.catalog.race_mdd", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.race_mdd.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS race_mdd.ns")
      spark.sql("CREATE TABLE race_mdd.ns.p (k BIGINT, d STRING) PARTITIONED BY (d)")
      Seq((1L, "x"), (2L, "y"), (3L, "x"), (4L, "z"))
        .toDF("k", "d").createOrReplaceTempView("mddrace_src")
      spark.sql("INSERT INTO race_mdd.ns.p SELECT * FROM mddrace_src")
      val cat = new FsCatalog(spark, wh)
      val t   = cat.loadTable("ns", "p")
      // thread A: metadata-delete the 'x' partition (file drop, zero IO);
      // thread B: append fresh 'x' rows via the library path. The CAS
      // rebase must land BOTH: the delete removes only PRE-EXISTING 'x'
      // files (it classified a fixed snapshot), the append's new file
      // cannot be referenced by the delete's removed set, so its rows
      // survive regardless of commit order.
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val pool    = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val del = pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            barrier.await()
            spark.sql("DELETE FROM race_mdd.ns.p WHERE d = 'x'")
          }
        })
        val app = pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            val fresh = Seq((10L, "x"), (11L, "x")).toDF("k", "d")
            barrier.await()
            t.append(fresh)
          }
        })
        del.get(120, java.util.concurrent.TimeUnit.SECONDS)
        app.get(120, java.util.concurrent.TimeUnit.SECONDS)
      } finally pool.shutdown()
      val left = spark.sql("SELECT k FROM race_mdd.ns.p ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      // BOTH serializations are legal outcomes of the race — what must
      // hold regardless: the pre-existing x-rows are gone, y/z survive,
      // NO commit was lost (3 snapshots), and the appended rows either
      // fully survive (append serialized after the delete's plan) or
      // were fully deleted (delete re-planned after the append landed) —
      // never a partial application.
      assert(left == Seq(2L, 4L, 10L, 11L) || left == Seq(2L, 4L),
        s"expected a clean serialization of delete vs append; got $left")
      val t2 = cat.loadTable("ns", "p")
      assert(t2.metadata.snapshots.size == 3,
        s"expected 3 snapshots (insert + both racers), got ${t2.metadata.snapshots.size}")
    } finally {
      spark.conf.unset("spark.sql.catalog.race_mdd")
      spark.conf.unset("spark.sql.catalog.race_mdd.warehouse")
    }
  }

  test("IceTable.create rejects nested/unsupported column types with a clear error") {
    import org.apache.spark.sql.types._
    val ex = intercept[IllegalArgumentException] {
      IceTable.create(spark, scratch("badtype") + "/t", "bad", "ns",
        StructType(Seq(
          StructField("ok", StringType),
          StructField("nested", ArrayType(StringType)))))
    }
    assert(ex.getMessage.contains("flat primitive surface"), ex.getMessage)
    assert(ex.getMessage.contains("nested"), "error must name the offending column")
  }

  test("compact bin-packs the current snapshot and preserves rows + history") {
    val cat = new FsCatalog(spark, scratch("cmp"))
    val t   = cat.createOrReplaceTable("ns", "orders", orders.repartition(8))
    assert(IcebergFormat.inputFiles(t.scan()).length == 8)
    t.append(orders.repartition(4))
    assert(IcebergFormat.inputFiles(t.scan()).length == 12)
    val before = t.scan().count()
    t.compact(2)
    assert(IcebergFormat.inputFiles(t.scan()).length == 2)
    assert(t.scan().count() == before)
    assert(t.snapshots().last.operation == "compact")
    // time travel to the pre-compaction snapshot still sees the old files
    assert(t.scanSnapshot(2).count() == before)
  }

  test("compactSorted clusters ranges so point lookups prune to one file") {
    val cat = new FsCatalog(spark, scratch("csort"))
    // 8 hash-partitioned files: every file spans the whole key range, so a
    // point lookup can prune nothing
    val t = cat.createOrReplaceTable("ns", "orders_cs", orders.repartition(8))
    assert(t.planFiles("o_orderkey", Some("42"), Some("42")).size == 8)
    t.compactSorted(8, Seq("o_orderkey"))
    assert(IcebergFormat.inputFiles(t.scan()).length == 8)
    assert(t.scan().count() == orders.count())
    // ranges are now disjoint: the same lookup reads exactly one file
    assert(t.planFiles("o_orderkey", Some("42"), Some("42")).size == 1)
    // and a window spanning two adjacent ranges reads at most two
    assert(t.planFiles("o_orderkey", Some("0"), Some("300")).size <= 2)
  }

  test("sorted compaction publishes an honest sort order: metadata, files, export, resume") {
    val cat = new FsCatalog(spark, scratch("sortord"))
    val t = cat.createOrReplaceTable("ns", "orders_so",
      orders.select("o_orderkey", "o_orderpriority", "o_totalprice").repartition(4))
    // pre-compaction: nothing claims an order
    assert(t.metadata.sortOrderList.isEmpty &&
      t.metadata.default_sort_order_id.isEmpty)
    assert(t.filesTable().filter(col("sort_order_id") =!= 0).count() == 0)

    t.compactSorted(4, Seq("o_orderkey"))
    val md  = cat.loadTable("ns", "orders_so").metadata
    val kid = md.fields.find(_.name == "o_orderkey").get.id
    assert(md.sortOrderList ==
      List(SortOrderInfo(1, List(SortFieldInfo(kid, "identity", "asc", "nulls-first")))))
    assert(md.default_sort_order_id.contains(1))
    // every rewritten file claims the order
    val ft = cat.loadTable("ns", "orders_so").filesTable()
    assert(ft.count() == 4 && ft.filter(col("sort_order_id") === 1).count() == 4)
    // re-compacting under the SAME order reuses id 1 (no duplicate entry)
    cat.loadTable("ns", "orders_so").compactSorted(2, Seq("o_orderkey"))
    assert(cat.loadTable("ns", "orders_so").metadata.sortOrderList.map(_.order_id) == List(1))
    // an UNSORTED append stays truthful: its files claim no order
    cat.loadTable("ns", "orders_so").append(
      orders.select("o_orderkey", "o_orderpriority", "o_totalprice").limit(10).coalesce(1))
    val ft2 = cat.loadTable("ns", "orders_so").filesTable()
    assert(ft2.filter(col("sort_order_id") === 0).count() == 1 &&
      ft2.filter(col("sort_order_id") === 1).count() == 2)

    // export: the spec JSON carries the REAL order (not the hardcoded
    // unsorted claim), and every adopted sorted file keeps its claim
    val dest   = scratch("sortord_dest") + "/t"
    val mdPath = cat.loadTable("ns", "orders_so").exportIceberg(dest)
    val json = {
      val src = scala.io.Source.fromFile(new java.net.URI(
        new org.apache.hadoop.fs.Path(mdPath).toUri.toString).getPath)
      try src.mkString finally src.close()
    }
    assert(json.contains(""""default-sort-order-id":1"""), json.take(400))
    assert(json.contains(
      s""""transform":"identity","source-id":$kid,"direction":"asc","null-order":"nulls-first""""))
    val nft = IcebergFormat.filesTable(spark, mdPath)
    assert(nft.filter(col("sort_order_id") === 1).count() == 2 &&
      nft.filter(col("sort_order_id") === 0).count() == 1)
    // resume + commit: the declared order survives the round-trip
    val w = IcebergFormat.resumeWriter(spark, dest)
    w.commit(Seq(IcebergFormat.writeSingleFile(spark, dest, "fx",
      orders.select("o_orderkey", "o_orderpriority", "o_totalprice").limit(5))))
    val json2 = {
      val src = scala.io.Source.fromFile(new java.net.URI(
        new org.apache.hadoop.fs.Path(w.currentMetadataPath).toUri.toString).getPath)
      try src.mkString finally src.close()
    }
    assert(json2.contains(""""default-sort-order-id":1""") &&
      json2.contains(""""order-id":1"""), "resume dropped the declared sort order")
  }

  test("z-order records its own transform; export maps it to a property, not a fake order") {
    val cat = new FsCatalog(spark, scratch("zsortord"))
    val t = cat.createOrReplaceTable("ns", "orders_zso",
      orders.select("o_orderkey", "o_custkey", "o_totalprice").repartition(4))
    t.compactZOrder(4, Seq("o_custkey", "o_orderkey"))
    val md = cat.loadTable("ns", "orders_zso").metadata
    assert(md.sortOrderList.head.fields.forall(_.transform == "zorder[8]"))
    assert(md.default_sort_order_id.contains(1))
    assert(cat.loadTable("ns", "orders_zso").filesTable()
      .filter(col("sort_order_id") === 1).count() == 4)
    val dest   = scratch("zsortord_dest") + "/t"
    val mdPath = cat.loadTable("ns", "orders_zso").exportIceberg(dest)
    val json = {
      val src = scala.io.Source.fromFile(new java.net.URI(
        new org.apache.hadoop.fs.Path(mdPath).toUri.toString).getPath)
      try src.mkString finally src.close()
    }
    // spec-honest: no identity order is claimed, the layout rides a property
    assert(json.contains(""""default-sort-order-id":0"""), json.take(400))
    assert(json.contains(""""graft.clustering":"zorder[8](o_custkey,o_orderkey)""""), json)
    // adopted files claim NO spec order (their layout is not expressible)
    assert(IcebergFormat.filesTable(spark, mdPath)
      .filter(col("sort_order_id") =!= 0).count() == 0)
  }

  test("append records per-file min/max stats; planFiles skips files") {
    val cat = new FsCatalog(spark, scratch("skip"))
    val lo  = orders.filter(col("o_orderkey") < 500).coalesce(1)
    val hi  = orders.filter(col("o_orderkey") >= 500).coalesce(1)
    val t   = cat.createOrReplaceTable("ns", "orders_parts", lo)
    t.append(hi)
    assert(IcebergFormat.inputFiles(t.scan()).length == 2)
    val stats = t.statsOf(t.snapshots().last)
    assert(stats.size == 2)
    assert(stats.values.forall(_.contains("o_orderkey")))

    // a point lookup below 500 must plan exactly the low file
    val planned = t.planFiles("o_orderkey", Some("100"), Some("100"))
    assert(planned.size == 1)
    val df = t.scanRange("o_orderkey", Some("100"), Some("100"))
    assert(IcebergFormat.inputFiles(df).length == 1)
    assert(df.filter(col("o_orderkey") === 100).count() ==
      orders.filter(col("o_orderkey") === 100).count())

    // an unbounded scan keeps both files
    assert(t.planFiles("o_orderkey", None, None).size == 2)
    // a range spanning the split point keeps both
    assert(t.planFiles("o_orderkey", Some("400"), Some("600")).size == 2)
    // a column without stats (timestamp) keeps everything
    assert(t.planFiles("o_orderdate", Some("x"), None).size == 2)
  }

  test("string-column pruning compares lexically") {
    val cat = new FsCatalog(spark, scratch("skips"))
    val a   = orders.filter(col("o_orderstatus") === "F").coalesce(1)
    val b   = orders.filter(col("o_orderstatus") === "O").coalesce(1)
    val t   = cat.createOrReplaceTable("ns", "by_status", a)
    t.append(b)
    assert(t.planFiles("o_orderstatus", Some("O"), Some("O")).size == 1)
  }

  test("partitioned table: hive layout, values restored on read, partition pruning") {
    val cat = new FsCatalog(spark, scratch("part"))
    val t = cat.createOrReplaceTable("ns", "orders_p", orders, Seq("o_orderpriority"))
    // layout: snapshot dir contains k=v partition subdirectories
    val files = t.filesOf(t.snapshots().last)
    assert(files.nonEmpty && files.forall(_.contains("o_orderpriority=")))
    // full scan restores the partition column in schema order
    val back = t.scan()
    assert(back.schema.fieldNames.toSeq == orders.schema.fieldNames.toSeq)
    assert(back.count() == orders.count())
    assert(back.filter(col("o_orderpriority") === "1-URGENT").count() ==
      orders.filter(col("o_orderpriority") === "1-URGENT").count())
    // partition pruning: the filter must reach the scan as a bound on the
    // partition column and drop the other partitions' files
    val pruned = back.filter(col("o_orderpriority") === "1-URGENT")
    val plan   = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("prunedBy=[o_orderpriority in [1-URGENT, 1-URGENT]]"), plan.take(600))
    assert(IcebergFormat.inputFiles(pruned).length < IcebergFormat.inputFiles(back).length)
    // and an unfiltered scan must NOT carry a bound
    val flat = back.queryExecution.executedPlan.toString
    assert(!flat.contains("prunedBy="), flat.take(600))
    // append goes into the partitioned layout too; stats still recorded
    t.append(orders.limit(100))
    assert(t.scan().count() == orders.count() + 100)
    assert(t.statsOf(t.snapshots().last).nonEmpty)

    // regression: a range-pruned scan on a partitioned table must restore
    // partition values (it once read leaf files without basePath -> nulls)
    val ranged = t.scanRange("o_orderkey", Some("0"), Some("100"))
    assert(ranged.filter(col("o_orderpriority").isNull).count() == 0)
    assert(ranged.select("o_orderpriority").distinct().count() > 1)
  }

  test("evolveAppend adds columns with fresh field ids; old rows read as null") {
    val cat = new FsCatalog(spark, scratch("evo"))
    val t   = cat.createOrReplaceTable("ns", "evolving", Tables.nation(spark, sfDir))
    val extended = Tables.nation(spark, sfDir)
      .withColumn("n_comment", concat(lit("c_"), col("n_name")))
    t.evolveAppend(extended)

    val md = t.metadata
    assert(md.schema.fieldNames.toSeq == Seq("n_nationkey", "n_name", "n_regionkey", "n_comment"))
    assert(md.fields.map(f => (f.id, f.name)).toSet.contains((4, "n_comment")))

    val out = t.scan()
    assert(out.count() == 50)
    assert(out.filter(col("n_comment").isNull).count() == 25)  // original rows
    assert(out.filter(col("n_comment").startsWith("c_")).count() == 25)
    // old snapshot still reads with the original three columns present
    assert(t.scanSnapshot(1).count() == 25)
  }

  test("deleteWhere and upsert are copy-on-write with intact history") {
    val cat = new FsCatalog(spark, scratch("cow"))
    val t   = cat.createOrReplaceTable("ns", "orders_cow", orders)
    val n0  = t.scan().count()
    t.deleteWhere(col("o_orderstatus") === "F")
    assert(t.scan().filter(col("o_orderstatus") === "F").count() == 0)
    assert(t.scan().count() == orders.filter(col("o_orderstatus") =!= "F").count())
    assert(t.scanSnapshot(1).count() == n0) // pre-delete state intact
    assert(t.snapshots().last.operation == "delete")

    val updates = orders.filter(col("o_orderkey") < 10)
      .withColumn("o_totalprice", lit(1.0))
    t.upsert(updates, Seq("o_orderkey"))
    val got = t.scan().filter(col("o_orderkey") < 10)
    assert(got.count() == 10) // all ten keys present (re-inserted if deleted)
    assert(got.filter(col("o_totalprice") === 1.0).count() == 10)
    assert(t.snapshots().last.operation == "upsert")

    // duplicate update keys are rejected (Iceberg MERGE semantics)
    intercept[IllegalArgumentException](
      t.upsert(updates.unionByName(updates), Seq("o_orderkey")))
    // updates with widened types are cast back onto the frozen schema
    val before = t.scan().count()
    t.upsert(updates.withColumn("o_orderkey", col("o_orderkey").cast("string")),
      Seq("o_orderkey"))
    assert(t.scan().schema("o_orderkey").dataType.typeName == "long")
    assert(t.scan().count() == before) // same keys replaced; still readable
  }

  test("deleteWhere keeps NULL-evaluating rows (SQL DELETE semantics)") {
    import spark.implicits._
    val cat = new FsCatalog(spark, scratch("nulls"))
    val df  = Seq((1L, Some(10L)), (2L, None), (3L, Some(30L)))
      .toDF("id", "v")
    val t = cat.createOrReplaceTable("ns", "withnulls", df)
    t.deleteWhere(col("v") === 10L)
    // only the TRUE match (id=1) goes; the NULL row (id=2) stays
    assert(t.scan().select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("deleteRange rewrites only affected files; others carry by reference") {
    val cat = new FsCatalog(spark, scratch("delrange"))
    val lo  = orders.filter(col("o_orderkey") < 1000).coalesce(1)
    val hi  = orders.filter(col("o_orderkey") >= 1000).coalesce(1)
    val t   = cat.createOrReplaceTable("ns", "orders_dr", lo)
    t.append(hi)
    val preSnap      = t.snapshots().last
    val hiFileBefore = t.filesOf(preSnap).find(f =>
      t.statsOf(preSnap)(f)("o_orderkey").min.get.toLong >= 1000).get
    val hiManifest = preSnap.manifests.last // commit 2's manifest (the hi file)
    t.deleteRange("o_orderkey", "0", "499")
    // rows gone...
    assert(t.scan().filter(col("o_orderkey") <= 499).count() == 0)
    assert(t.scan().count() == orders.filter(col("o_orderkey") > 499).count())
    // ...but the untouched high file is carried over verbatim
    assert(t.filesOf(t.snapshots().last).contains(hiFileBefore))
    // and at MANIFEST granularity: the untouched commit's manifest carries
    // by pointer, not by rewrite
    assert(t.snapshots().last.manifests.contains(hiManifest))
    assert(t.snapshots().last.operation == "delete")
  }

  test("expireSnapshots reclaims unreferenced files, keeps the recent window") {
    val cat = new FsCatalog(spark, scratch("exp"))
    val t   = cat.createOrReplaceTable("ns", "nations_x", Tables.nation(spark, sfDir))
    t.replace(Tables.nation(spark, sfDir).limit(10)) // snapshot 2: own files
    t.append(Tables.nation(spark, sfDir).limit(5))   // snapshot 3: adds files
    assert(t.snapshots().map(_.snapshot_id) == Seq(1L, 2L, 3L))
    val snap1Files = t.filesOf(t.snapshots().head)
    t.expireSnapshots(keepLast = 2)
    assert(t.snapshots().map(_.snapshot_id) == Seq(2L, 3L))
    // current data intact; time travel within the window intact
    assert(t.scan().count() == 15)
    assert(t.scanSnapshot(2).count() == 10)
    // snapshot 1's files (replaced, so referenced by nobody kept) are gone
    val fs = new org.apache.hadoop.fs.Path(t.location, snap1Files.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(snap1Files.forall(f =>
      !fs.exists(new org.apache.hadoop.fs.Path(t.location, f))))
    // expiring the current snapshot is rejected
    intercept[IllegalArgumentException](t.expireSnapshots(0))
    // keepLast >= count is a no-op
    t.expireSnapshots(10)
    assert(t.snapshots().size == 2)
  }

  test("evolveAppend without new columns behaves like append") {
    val cat = new FsCatalog(spark, scratch("evo2"))
    val t   = cat.createOrReplaceTable("ns", "same", Tables.region(spark, sfDir))
    t.evolveAppend(Tables.region(spark, sfDir))
    assert(t.scan().count() == 10)
    assert(t.metadata.fields.size == 2)
  }

  test("rollback moves the current pointer without losing history") {
    val cat    = new FsCatalog(spark, scratch("rb"))
    val nation = Tables.nation(spark, sfDir)
    val t      = cat.createOrReplaceTable("ns", "nations_rb", nation)
    t.append(nation) // snapshot 2
    assert(t.scan().count() == 50)
    t.rollback(1)
    assert(t.metadata.current_snapshot_id == 1L)
    assert(t.scan().count() == 25)
    // the rolled-back-from snapshot is still reachable, and re-rollable
    assert(t.scanSnapshot(2).count() == 50)
    t.rollback(2)
    assert(t.scan().count() == 50)
    intercept[IllegalArgumentException](t.rollback(99))
    // a write after rollback commits on top of the restored state
    t.rollback(1)
    t.append(nation)
    assert(t.scan().count() == 50)
  }

  test("scanIncremental reads only files appended in the snapshot window") {
    val cat    = new FsCatalog(spark, scratch("inc"))
    val nation = Tables.nation(spark, sfDir)
    val t      = cat.createOrReplaceTable("ns", "nations_inc", nation.coalesce(1))
    t.append(nation.filter(col("n_regionkey") === 0).coalesce(1)) // snapshot 2
    t.append(nation.filter(col("n_regionkey") === 1).coalesce(1)) // snapshot 3
    val delta = t.scanIncremental(1, 3)
    assert(IcebergFormat.inputFiles(delta).length == 2)
    assert(delta.count() == nation.filter(col("n_regionkey") <= 1).count())
    // sub-window
    assert(t.scanIncremental(2, 3).count() ==
      nation.filter(col("n_regionkey") === 1).count())
    // empty window
    assert(t.scanIncremental(3, 3).count() == 0)
    // windows crossing a rewrite snapshot are rejected
    t.compact(1) // snapshot 4 (replace-style)
    intercept[IllegalArgumentException](t.scanIncremental(1, 4))
  }

  test("compactZOrder prunes on every clustering column at once") {
    val cat = new FsCatalog(spark, scratch("zord"))
    val t   = cat.createOrReplaceTable("ns", "orders_z", orders.repartition(8))
    // hash layout: no slice on either column can prune
    assert(t.planFiles("o_custkey", Some("0"), Some("50")).size == 8)
    t.compactZOrder(16, Seq("o_custkey", "o_orderkey"))
    val total = IcebergFormat.inputFiles(t.scan()).length
    assert(t.scan().count() == orders.count())
    // a quarter-range slice on either dimension should hit ~half the files
    val ckMax = orders.agg(max(col("o_custkey"))).head.getLong(0)
    val okMax = orders.agg(max(col("o_orderkey"))).head.getLong(0)
    val byCust  = t.planFiles("o_custkey", Some("0"), Some((ckMax / 4).toString)).size
    val byOrder = t.planFiles("o_orderkey", Some("0"), Some((okMax / 4).toString)).size
    assert(byCust < total, s"custkey slice read all $total files")
    assert(byOrder < total, s"orderkey slice read all $total files")
    // 1-D sort clustering for contrast: perfect on the sort key only
    intercept[IllegalArgumentException](t.compactZOrder(4, Seq("o_custkey")))
    intercept[IllegalArgumentException](
      t.compactZOrder(4, Seq("o_orderpriority", "o_custkey")))
  }

  test("branch commits isolate from main; tags pin; fast-forward checks ancestry") {
    val cat    = new FsCatalog(spark, scratch("br"))
    val nation = Tables.nation(spark, sfDir)
    val t      = cat.createOrReplaceTable("ns", "nations_br", nation) // snapshot 1
    t.createBranch("dev").createTag("v1")
    t.appendToBranch("dev", nation) // snapshot 2, dev head
    assert(t.scan().count() == 25, "main must not move on a branch commit")
    assert(t.scanRef("dev").count() == 50)
    assert(t.scanRef("v1").count() == 25)
    // tags are immutable; unknown refs and duplicate names are rejected
    intercept[IllegalArgumentException](t.appendToBranch("v1", nation))
    intercept[NoSuchElementException](t.appendToBranch("nope", nation))
    intercept[IllegalArgumentException](t.createBranch("dev"))
    intercept[IllegalArgumentException](t.createBranch("main"))

    // diverge main (snapshot 3): dev's head no longer descends from main
    t.append(nation.filter(col("n_regionkey") === 0))
    assert(!t.isAncestor(t.metadata.current_snapshot_id, t.refs()("dev").snapshot_id))
    intercept[IllegalArgumentException](t.fastForward("dev"))

    // rolling main back to the branch point makes the merge a fast-forward
    t.rollback(1)
    t.fastForward("dev")
    assert(t.scan().count() == 50)
    // expiration keeps ref heads even outside the keep-last window
    t.appendToBranch("dev", nation) // snapshot 4
    t.createTag("v2", at = Some(2L))
    t.expireSnapshots(keepLast = 1)
    assert(t.scanRef("v2").count() == 50, "expire dropped a tagged snapshot")
    assert(t.scanRef("dev").count() == 75)
    t.dropRef("v2")
    assert(!t.refs().contains("v2"))
  }

  test("a commit to a missing branch reclaims the manifest it staged") {
    val cat    = new FsCatalog(spark, scratch("brmissing"))
    val nation = Tables.nation(spark, sfDir)
    val t      = cat.createOrReplaceTable("ns", "nations_brm", nation)
    intercept[NoSuchElementException](t.appendToBranch("missing", nation))
    assert(unreferencedManifests(t).isEmpty,
      s"the aborted commit left staged manifests behind: ${unreferencedManifests(t)}")
    assert(t.scan().count() == 25)
  }

  test("scanIncremental rejects windows crossing a rollback fork") {
    val cat    = new FsCatalog(spark, scratch("incfork"))
    val nation = Tables.nation(spark, sfDir)
    val t      = cat.createOrReplaceTable("ns", "nations_if", nation) // snapshot 1
    t.append(nation.filter(col("n_regionkey") === 0))                 // snapshot 2 (A+B)
    t.rollback(1)
    t.append(nation.filter(col("n_regionkey") === 1))                 // snapshot 3, parent=1
    // 2 -> 3 is not an ancestor path: rows of snapshot 2 were rolled away
    intercept[IllegalArgumentException](t.scanIncremental(2, 3))
    // the true line still works
    assert(t.scanIncremental(1, 3).count() ==
      nation.filter(col("n_regionkey") === 1).count())
  }

  test("expire splices the commit DAG so branch ancestry survives") {
    val cat    = new FsCatalog(spark, scratch("expbr"))
    val nation = Tables.nation(spark, sfDir)
    val t      = cat.createOrReplaceTable("ns", "nations_eb", nation) // snapshot 1 (main)
    t.createBranch("dev")
    t.appendToBranch("dev", nation) // snapshot 2
    t.appendToBranch("dev", nation) // snapshot 3 (dev head; chain 3->2->1)
    t.expireSnapshots(keepLast = 1) // drops snapshot 2 (1 is current, 3 is dev head)
    assert(t.snapshots().map(_.snapshot_id).toSet == Set(1L, 3L))
    // snapshot 3 re-parented to 1: the fast-forward is still recognized
    t.fastForward("dev")
    assert(t.scan().count() == 75)
  }

  test("manifest summaries skip whole manifests: pruned manifests are never opened") {
    val cat = new FsCatalog(spark, scratch("msum"))
    val lo  = orders.filter(col("o_orderkey") < 1000).coalesce(1)
    val hi  = orders.filter(col("o_orderkey") >= 1000).coalesce(1)
    val t   = cat.createOrReplaceTable("ns", "orders_ms", lo)
    t.append(hi)
    // summaries recorded per manifest, with the commit's true fold
    val snap = t.snapshots().last
    assert(snap.manifest_summaries.exists(_.size == 2))
    val s0 = snap.summaryAt(0).get("o_orderkey")
    val s1 = snap.summaryAt(1).get("o_orderkey")
    assert(s0.max.get.toLong < 1000 && s1.min.get.toLong >= 1000)
    // cold planner: a lookup inside the high range must parse ONLY the
    // high manifest — the low one is skipped on its summary, never opened
    IceTable.resetManifestCacheForTest()
    val planned = t.planFiles("o_orderkey", Some("1200"), Some("1200"))
    assert(planned.size == 1)
    assert(IceTable.manifestParses.get() == 1,
      s"summary skipping opened ${IceTable.manifestParses.get()} manifests, expected 1")
    // an unbounded plan opens both
    IceTable.resetManifestCacheForTest()
    assert(t.planFiles("o_orderkey", None, None).size == 2)
    assert(IceTable.manifestParses.get() == 2)
    // deleteRange keeps summaries consistent for the carried pointer
    t.deleteRange("o_orderkey", "0", "499")
    val post = t.snapshots().last
    assert(post.manifests.size == post.manifest_summaries.get.size)
    assert(post.summaryAt(post.manifests.size - 1).isDefined) // rewrite batch summarized
  }

  test("commit payload is O(delta): metadata JSON holds pointers, manifests hold files") {
    val cat    = new FsCatalog(spark, scratch("odelta"))
    val nation = Tables.nation(spark, sfDir)
    val t      = cat.createOrReplaceTable("ns", "nations_od", nation.coalesce(1))
    t.append(nation.coalesce(1))
    t.append(nation.coalesce(1))
    val fs = new org.apache.hadoop.fs.Path(t.metadataLocation)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readMeta(v: Int): String = {
      val p  = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(t.location, "metadata"), s"v$v.json")
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    // no data-file path ever lands in the metadata JSON — the file
    // inventory lives in manifests, the snapshot log only points at them
    (2 to t.currentVersion).foreach { v =>
      assert(!readMeta(v).contains(".parquet"), s"v$v.json inlines data file paths")
    }
    // each append adds exactly ONE manifest pointer on top of the parent's
    val snaps = t.snapshots()
    assert(snaps.map(_.manifests.size) == Seq(1, 2, 3))
    assert(snaps(1).manifests.startsWith(snaps(0).manifests))
    assert(snaps(2).manifests.startsWith(snaps(1).manifests))
    // and the new manifest lists only the delta's files
    val lastManifestFiles = t.filesOf(snaps(2)).toSet -- t.filesOf(snaps(1)).toSet
    assert(lastManifestFiles.nonEmpty && lastManifestFiles.forall(_.contains("snap-3-")))
    // metadata growth is bounded by the snapshot log, not the file count:
    // v4 (3 snapshots) stays within a small constant of v2 (1 snapshot)
    assert(readMeta(4).length < readMeta(2).length + 2048,
      s"metadata grew super-linearly: v2=${readMeta(2).length}B v4=${readMeta(4).length}B")
  }

  test("merge applies delete/update/insert clauses; untouched files carry") {
    val cat = new FsCatalog(spark, scratch("mrg"))
    val lo  = orders.filter(col("o_orderkey") < 1000).coalesce(1)
    val hi  = orders.filter(col("o_orderkey") >= 1000).coalesce(1)
    val t   = cat.createOrReplaceTable("ns", "orders_mg", lo)
    t.append(hi)
    val preSnap    = t.snapshots().last
    val hiManifest = preSnap.manifests.last // commit 2's manifest (hi file)
    // source confined to keys < 500: delete 'F' rows, bump others' price,
    // insert one brand-new key 250 (a gap inside the lo file's range)
    val srcBase = orders.filter(col("o_orderkey") < 500)
    val src = srcBase
      .unionByName(srcBase.limit(1).withColumn("o_orderkey", lit(250L))
        .withColumn("o_orderstatus", lit("N")))
      .filter(col("o_orderkey") =!= 250L || col("o_orderstatus") === "N")
    t.merge(src, "o_orderkey",
      deleteCondSql = Some("s.o_orderstatus = 'F'"),
      updateSetSql  = Map("o_totalprice" -> "t.o_totalprice + 1.0"))
    val expectDeleted  = orders.filter(col("o_orderkey") < 500 &&
      col("o_orderstatus") === "F" && col("o_orderkey") =!= 250L).count()
    val expectInserted = orders.filter(col("o_orderkey") === 250L).count() match {
      case 0 => 1L // key 250 absent from orders -> pure insert
      case _ => 0L
    }
    assert(t.scan().count() == orders.count() - expectDeleted + expectInserted)
    // clause order: a deleted row is NOT updated/kept
    assert(t.scan().filter(col("o_orderkey") < 500 && col("o_orderstatus") === "F" &&
      col("o_orderkey") =!= 250L).count() == 0)
    // blast radius: the untouched hi manifest carries by pointer
    assert(t.snapshots().last.manifests.contains(hiManifest))
    assert(t.snapshots().last.operation == "merge")
  }

  test("appendOnce tokens survive snapshot expiration") {
    val cat    = new FsCatalog(spark, scratch("tok"))
    val nation = Tables.nation(spark, sfDir)
    val t      = cat.createOrReplaceTable("ns", "nations_tok", nation) // snapshot 1
    t.appendOnce(nation, "batch-0")                                    // snapshot 2
    t.append(nation)                                                   // snapshot 3
    t.append(nation)                                                   // snapshot 4
    t.expireSnapshots(keepLast = 1) // snapshot 2 (token holder) expires
    val before = t.scan().count()
    t.appendOnce(nation, "batch-0") // replay must STILL be a no-op
    assert(t.scan().count() == before, "retired token was forgotten")
  }

  test("historyTable marks rollback orphans and survives expiration splice") {
    val cat    = new FsCatalog(spark, scratch("hist"))
    val nation = Tables.nation(spark, sfDir)
    val t      = cat.createOrReplaceTable("ns", "nations_h", nation) // snap 1
    t.append(nation)                                                 // snap 2
    t.append(nation)                                                 // snap 3
    t.rollback(2L)
    t.append(nation)                                                 // snap 4, parent 2
    val h = t.historyTable().collect().map(r =>
      r.getLong(0) -> r.getBoolean(2)).toMap
    assert(h == Map(1L -> true, 2L -> true, 3L -> false, 4L -> true))
    // expiration splices the DAG; the kept head must still be an ancestor
    t.expireSnapshots(keepLast = 2)
    val h2 = t.historyTable().collect().map(r =>
      r.getLong(0) -> r.getBoolean(2)).toMap
    assert(h2.getOrElse(4L, false), "current head lost ancestry after splice")
  }

  test("partitionsTable counts files per partition from manifests alone") {
    val cat    = new FsCatalog(spark, scratch("ptm"))
    val nation = Tables.nation(spark, sfDir)
    val t = cat.createOrReplaceTable("ns", "nations_p",
      nation.coalesce(1), Seq("n_regionkey"))                     // 1 file/region
    t.append(nation.filter(col("n_regionkey") === 0).coalesce(1)) // +1 in r0
    val parts = t.partitionsTable().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(parts("n_regionkey=0") == 2L)
    assert(parts("n_regionkey=1") == 1L)
    assert(parts.size == 5)
    // unpartitioned tables report a single synthetic bucket
    val u = cat.createOrReplaceTable("ns", "nations_u", nation.coalesce(1))
    val up = u.partitionsTable().collect().map(r => r.getString(0)).toSeq
    assert(up == Seq("<unpartitioned>"))
  }
}
