package graft.queries

import graft.{Q, Tables}
import graft.Scratch.freshDir
import graft.icelite._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end lifecycle operators for the IceLite table format + catalog
  * (SURVEY.md §2.1 S5-S11, S13-S14), expressed as oracle-checked queries:
  * each one runs a real create/append/ingest/export against a scratch
  * warehouse and returns data that must hash-match DuckDB reading the
  * original parquet. This gates the *format layer* — commit protocol,
  * snapshot planning, time travel, CSV inference+normalization — not just
  * the relational operators.
  */
object IceQueries {

  private val nationOracle = "SELECT * FROM nation ORDER BY n_nationkey"

  /** Differential gate: two reads of the same table hold equal row
    * MULTISETS. One aggregate pass per side — count + an
    * order-independent sum of per-row xxhash64 digests (summed in
    * decimal(38,0): exact, ANSI-safe at any row count) — instead of the
    * two wide `except()` set differences this used to run, which cost
    * two extra full shuffles of the delete-applied scan per gate and
    * dominated the MoR DML queries at 100×. A diverging multiset slips
    * through only on a 2^-64-scale hash-sum coincidence. xxhash64
    * SKIPS null inputs in its fold, so the per-row digest also feeds
    * one never-null isnull flag per column — without them (5, null)
    * and (null, 5) over two same-typed columns would hash alike. */
  private def requireSameRows(a: DataFrame, b: DataFrame, msg: String): Unit = {
    def digest(df: DataFrame) = {
      val ins = df.columns.map(col) ++
        df.columns.map(c => isnull(col(c)).cast("long"))
      df.agg(count(lit(1)).as("n"),
          sum(xxhash64(ins: _*).cast("decimal(38,0)")).as("h"))
        .head()
    }
    val (da, db) = (digest(a), digest(b))
    require(da == db, s"$msg (digests $da vs $db)")
  }

  /** S5/S6/S10: create-or-replace + append + snapshot scan round trip. */
  private def roundtrip(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "rt")
    val cat = new FsCatalog(s, wh)
    val t   = cat.createOrReplaceTable("graft", "nations_rt", Tables.nation(s, d))
    t.scan().orderBy("n_nationkey")
  }

  /** Snapshot time travel: two appends, read back snapshot 1. */
  private def timetravel(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "tt")
    val cat    = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    val t      = cat.createOrReplaceTable("graft", "nations_tt", nation) // snapshot 1
    t.append(nation)                                                     // snapshot 2
    t.scanSnapshot(1).orderBy("n_nationkey")
  }

  /** Current snapshot after append sees both commits. */
  private def appendCurrent(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "ac")
    val cat    = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    val t      = cat.createOrReplaceTable("graft", "nations_ac", nation)
    t.append(nation)
    t.scan().orderBy("n_nationkey", "n_name")
  }

  /** S1/S4 + type normalization: parquet -> CSV -> inferred ingest -> scan. */
  private def ingestCsv(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "ing")
    val csvDir = freshDir(s, "ing_csv")
    Tables.nation(s, d).coalesce(1).write.mode("overwrite").option("header", "true").csv(csvDir)
    val fs = new Path(csvDir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val csvFile = fs.listStatus(new Path(csvDir)).map(_.getPath)
      .find(_.getName.endsWith(".csv"))
      .getOrElse(throw new IllegalStateException("no csv written"))
    val cat = new FsCatalog(s, wh)
    val job = new IngestJob(s, cat, freshDir(s, "ing_tmp"))
    val res = job.run(IngestConfig(
      source = csvFile.toString, namespace = "graft", explicitTableName = Some("nation_csv")))
    require(res.nonEmpty, "ingest produced no tables")
    new Engine(s, cat).table("graft.nation_csv").orderBy("n_nationkey")
  }

  /** S2 end-to-end (ic86): REMOTE-URL ingest over loopback HTTP — the
    * reference's `download_remote_csv` path with a real network hop. The
    * CSV is served by an in-process JDK HttpServer on an ephemeral
    * 127.0.0.1 port, classified Remote by [[SourceResolver.detect]],
    * stream-downloaded (8 KiB chunks) into the ingest tmp dir, then
    * type-normalized and committed exactly like a local ingest. Requires
    * prove the bytes actually travelled HTTP: the server counted a
    * request and the downloaded tmp file is byte-for-byte the served
    * payload's length. Zero egress: loopback only. */
  private def remoteUrlIngest(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "rurl")
    val csvDir = freshDir(s, "rurl_csv")
    Tables.nation(s, d).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(csvDir)
    val fs = new Path(csvDir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val csvFile = fs.listStatus(new Path(csvDir)).map(_.getPath)
      .find(_.getName.endsWith(".csv"))
      .getOrElse(throw new IllegalStateException("no csv written"))
    val bytes = {
      val in  = fs.open(csvFile)
      val buf = new java.io.ByteArrayOutputStream()
      try org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
      finally in.close()
      buf.toByteArray
    }
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = graft.icelite.LoopbackHttp.server()
    server.createContext("/nation_remote.csv",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        served.incrementAndGet()
        ex.sendResponseHeaders(200, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/nation_remote.csv"
      require(SourceResolver.detect(url, None) == SourceResolver.Remote,
        s"URL not classified Remote: $url")
      val tmp = freshDir(s, "rurl_tmp")
      val cat = new FsCatalog(s, wh)
      val res = new IngestJob(s, cat, tmp).run(IngestConfig(
        source = url, namespace = "graft", explicitTableName = Some("nation_remote")))
      require(res.nonEmpty, "remote ingest produced no tables")
      require(served.get() >= 1, "ingest never hit the HTTP server")
      val downloaded = new java.io.File(tmp, "nation_remote.csv")
      require(downloaded.isFile && downloaded.length == bytes.length.toLong,
        s"downloaded tmp file missing or truncated: ${downloaded.length} of ${bytes.length}")
      new Engine(s, cat).table("graft.nation_remote").orderBy("n_nationkey")
    } finally server.stop(0)
  }

  /** S15 end-to-end (ic87): the warehouse-cleanup lifecycle with its
    * double-gate protocol (`clean_r2_warehouse.py:52-107` semantics) —
    * dry-run PREVIEW lists every file and deletes nothing; a destructive
    * call without the confirm token (or with a wrong one) throws and
    * deletes nothing; the confirmed call removes exactly the previewed
    * set; the listing is empty afterwards. Each checkpoint lands as one
    * row so the oracle pins the whole protocol. */
  private def warehouseCleanup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wh  = freshDir(s, "cleanwh")
    val cat = new FsCatalog(s, wh)
    cat.createOrReplaceTable("ns_a", "regions_c", Tables.region(s, d))
    cat.createOrReplaceTable("ns_b", "nations_c", Tables.nation(s, d))
    val eng    = new Engine(s, cat)
    val before = eng.listing().count()
    val preview = cat.cleanupWarehouse(dryRun = true)
    val afterPreview = eng.listing().count()
    val unconfirmedRejected =
      try { cat.cleanupWarehouse(); false }
      catch { case _: IllegalArgumentException => true }
    val wrongTokenRejected =
      try { cat.cleanupWarehouse(confirm = Some("not_this_warehouse")); false }
      catch { case _: IllegalArgumentException => true }
    val afterRejects = eng.listing().count()
    val deleted = cat.cleanupWarehouse(confirm = Some(new Path(wh).getName))
    val afterCleanup = eng.listing().count()
    Seq(
      ("t1_tables_before", before),
      ("t2_preview_lists_files", if (preview.nonEmpty) 1L else 0L),
      ("t3_tables_after_preview", afterPreview),
      ("t4_unconfirmed_rejected", if (unconfirmedRejected) 1L else 0L),
      ("t5_wrong_token_rejected", if (wrongTokenRejected) 1L else 0L),
      ("t6_tables_after_rejects", afterRejects),
      ("t7_delete_matches_preview", if (deleted == preview) 1L else 0L),
      ("t8_tables_after_cleanup", afterCleanup)
    ).toDF("step", "value").orderBy("step")
  }

  private val warehouseCleanupOracle =
    """SELECT * FROM (VALUES
         ('t1_tables_before', CAST(2 AS BIGINT)),
         ('t2_preview_lists_files', 1),
         ('t3_tables_after_preview', 2),
         ('t4_unconfirmed_rejected', 1),
         ('t5_wrong_token_rejected', 1),
         ('t6_tables_after_rejects', 2),
         ('t7_delete_matches_preview', 1),
         ('t8_tables_after_cleanup', 0)) t(step, value)
       ORDER BY step"""

  /** ic88: Iceberg's `position_deletes` metadata table — the deleted
    * POSITIONS (the surface the round-14 `delete_files` rename
    * distinguished it from). The fixture pins positions exactly: ONE
    * sorted data file, so `pos` = rank-in-key-order − 1, and the oracle
    * replays positions with a window function over the same predicate.
    * The bounded key slice keeps the single-file sort fixture
    * scale-constant; the served table itself is a DISTRIBUTED parquet
    * scan of the content-1 files (no LocalScan — rows are
    * data-proportional); the single-delete-file provenance is
    * require-gated through the planning API. */
  private def positionDeletesTableQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    val wh = freshDir(s, "i88")
    s.conf.set("spark.sql.catalog.ice_i88", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i88.warehouse", wh)
    try {
      val loc = s"$wh/graft/orders_i88"
      val ord = Tables.orders(s, d)
        .filter(col("o_orderkey") < 50000)
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey") // bounded slice: the sort pins positions
      val w = new IcebergFormat.Writer(s, loc, ord.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f1", ord)))
      require(s.sql("SELECT * FROM ice_i88.graft.orders_i88.position_deletes").count() == 0,
        "position_deletes not empty before any DELETE")
      s.sql("DELETE FROM ice_i88.graft.orders_i88 WHERE o_orderkey % 7 = 0")
      // provenance: exactly one live content-1 file backs the table
      val prov = IcebergFormat.positionDeleteFilePaths(s,
        IcebergFormat.currentMetadataPath(s, loc))
      require(prov.length == 1, s"expected one delete file, saw ${prov.length}")
      s.sql("""SELECT regexp_extract(file_path, '([^/]+)$', 1) AS data_file, pos
               FROM ice_i88.graft.orders_i88.position_deletes ORDER BY pos""")
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i88")
      s.conf.unset("spark.sql.catalog.ice_i88.warehouse")
    }
  }

  private val positionDeletesTableOracle =
    """WITH s AS (
         SELECT o_orderkey,
                CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS pos
         FROM orders WHERE o_orderkey < 50000)
       SELECT 'f1.parquet' AS data_file, pos FROM s
       WHERE o_orderkey % 7 = 0 ORDER BY pos"""

  /** ic91: MERGE … WHEN NOT MATCHED BY SOURCE (the Spark 4 DML clause the
    * MoR matrix lacked) — the shape a training-data pipeline uses to
    * retire rows that VANISHED upstream: the source is the current
    * upstream state, matched rows refresh, unmatched source rows insert,
    * and target rows absent from the source are deleted (low-balance) or
    * flagged STALE (the rest), with clause order deciding which fires.
    * Merge-on-read: the routing must land as position-delete debt —
    * original data files untouched, retirement visible in
    * `delete_files` — so the commit stays O(delta) at 100 TB. */
  private def sqlMergeNotMatchedBySourceQ(s: SparkSession, d: String): DataFrame =
    withMorCatalog(s, "morretire") { (cat, wh) =>
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
      cust.createOrReplaceTempView("cust_retire_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      s.sql(s"CREATE TABLE $cat.graft.cust_retire AS SELECT * FROM cust_retire_src")
      val fsCat  = new FsCatalog(s, wh)
      def t()    = fsCat.loadTable("graft", "cust_retire")
      val before = { val x = t(); x.filesOf(x.metadata.currentSnapshot.get).toSet }
      // upstream today: key % 7 = 0 rows vanished, survivors re-balanced,
      // a sprinkle of brand-new keys
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW retire_updates AS
                SELECT c_custkey, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
                       c_mktsegment
                FROM cust_retire_src WHERE c_custkey % 7 != 0
                UNION ALL
                SELECT c_custkey + 100000000000, c_nationkey, c_acctbal, 'UPNEW'
                FROM cust_retire_src WHERE c_custkey % 97 = 0""")
      s.sql(s"""MERGE INTO $cat.graft.cust_retire t
                USING retire_updates s
                ON t.c_custkey = s.c_custkey
                WHEN MATCHED THEN UPDATE SET
                  c_acctbal = s.c_acctbal, c_mktsegment = s.c_mktsegment
                WHEN NOT MATCHED THEN INSERT *
                WHEN NOT MATCHED BY SOURCE AND t.c_acctbal < 5000.0 THEN DELETE
                WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c_mktsegment = 'STALE'""")
      val t2   = t()
      val snap = t2.metadata.currentSnapshot.get
      require(before.subsetOf(t2.filesOf(snap).toSet),
        "NOT MATCHED BY SOURCE merge rewrote the original data files")
      // retirement is visible as MoR delete debt
      require(s.sql(s"SELECT count(*) AS n FROM $cat.graft.cust_retire.delete_files")
        .head().getLong(0) > 0L, "retire merge committed no delete files")
      s.sql(s"""SELECT c_custkey, c_nationkey,
                       CAST(ROUND(c_acctbal, 2) AS DOUBLE) AS bal, c_mktsegment
                FROM $cat.graft.cust_retire ORDER BY c_custkey""")
    }

  private val sqlMergeNotMatchedBySourceOracle =
    """WITH src AS (
         SELECT c_custkey, c_nationkey, c_acctbal + 100.0 AS c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 7 != 0
         UNION ALL
         SELECT c_custkey + 100000000000, c_nationkey, c_acctbal, 'UPNEW'
         FROM customer WHERE c_custkey % 97 = 0),
       merged AS (
         SELECT t.c_custkey, t.c_nationkey,
                CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                     ELSE t.c_acctbal END AS c_acctbal,
                CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
                     WHEN t.c_acctbal >= 5000.0 THEN 'STALE'
                     ELSE t.c_mktsegment END AS c_mktsegment,
                (s.c_custkey IS NULL AND t.c_acctbal < 5000.0) AS deleted
         FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey),
       inserted AS (
         SELECT s.c_custkey, s.c_nationkey, s.c_acctbal, s.c_mktsegment
         FROM src s LEFT JOIN customer t ON t.c_custkey = s.c_custkey
         WHERE t.c_custkey IS NULL)
       SELECT c_custkey, c_nationkey, CAST(ROUND(c_acctbal, 2) AS DOUBLE) AS bal, c_mktsegment
       FROM (SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment FROM merged WHERE NOT deleted
             UNION ALL
             SELECT * FROM inserted)
       ORDER BY c_custkey"""

  /** S8/M3: catalog listing after two creates (names only — locations are
    * UUID-suffixed by design). */
  private def listing(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "ls")
    val cat = new FsCatalog(s, wh)
    cat.createOrReplaceTable("ns_a", "regions_a", Tables.region(s, d))
    cat.createOrReplaceTable("ns_b", "nations_b", Tables.nation(s, d))
    new Engine(s, cat).listing()
      .select("table_namespace", "table_name")
      .orderBy("table_namespace", "table_name")
  }

  private val listingOracle =
    """SELECT * FROM (VALUES ('ns_a', 'regions_a'), ('ns_b', 'nations_b'))
       t(table_namespace, table_name) ORDER BY table_namespace, table_name"""

  /** S13: COPY-to-CSV export round trip (header CSV, re-read + re-typed). */
  private def exportCsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = freshDir(s, "exp_csv")
    val eng = new Engine(s, new FsCatalog(s, freshDir(s, "exp_wh")))
    eng.exportCsv(
      Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name", "c_nationkey"),
      out)
    s.read.option("header", "true").option("inferSchema", "true").csv(out)
      .select(
        col("c_custkey").cast("long"),
        col("c_name"),
        col("c_nationkey").cast("int"))
      .orderBy("c_custkey")
  }

  private val exportCsvOracle =
    """SELECT c_custkey, c_name, c_nationkey FROM customer
       WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey"""

  /** S14: COPY-to-parquet export round trip (exact types preserved). */
  private def exportParquetRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = freshDir(s, "exp_pq")
    val eng = new Engine(s, new FsCatalog(s, freshDir(s, "exp_pq_wh")))
    eng.exportParquet(
      Tables.orders(s, d).filter(col("o_totalprice") > 200000.0), out)
    s.read.parquet(out).orderBy("o_orderkey")
  }

  private val exportParquetOracle =
    "SELECT * FROM orders WHERE o_totalprice > 200000.0 ORDER BY o_orderkey"

  /** Min/max file skipping: two disjoint-keyrange files, a range-pruned
    * scan must read one file yet return exactly the filtered rows. */
  private def fileSkip(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "fs")
    val cat    = new FsCatalog(s, wh)
    val orders = Tables.orders(s, d)
    // split at 1000 so both files are non-empty at every testdata scale
    // (sf0.001 has orderkeys 0..1499)
    val t = cat.createOrReplaceTable("graft", "orders_fs",
      orders.filter(col("o_orderkey") < 1000).coalesce(1))
    t.append(orders.filter(col("o_orderkey") >= 1000).coalesce(1))
    val pruned = t.scanRange("o_orderkey", Some("0"), Some("999"))
    require(IcebergFormat.inputFiles(pruned).length == 1, "file skipping failed to prune")
    pruned
      .filter(col("o_orderkey") <= 999)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Compaction: rows and values must be identical after rewrite. */
  private def compactRoundtrip(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "cp")
    val cat = new FsCatalog(s, wh)
    val t   = cat.createOrReplaceTable("graft", "nations_cp",
      Tables.nation(s, d).repartition(6))
    t.compact(1)
    require(IcebergFormat.inputFiles(t.scan()).length == 1, "compaction did not bin-pack")
    t.scan().orderBy("n_nationkey")
  }

  /** Hive-partitioned table: write partitioned by o_orderpriority, scan
    * back with a partition-pruned filter; must equal the plain filter. */
  private def partitioned(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "pt")
    val cat = new FsCatalog(s, wh)
    val t = cat.createOrReplaceTable("graft", "orders_pt",
      Tables.orders(s, d), Seq("o_orderpriority"))
    val pruned = t.scan().filter(col("o_orderpriority") === "1-URGENT")
    val plan   = pruned.queryExecution.executedPlan.toString
    // the filter must reach the scan as a bound on the partition column
    // and drop the other partitions' files
    val prunedOk = plan.contains("prunedBy=[o_orderpriority in [1-URGENT, 1-URGENT]]") &&
      IcebergFormat.inputFiles(pruned).length < IcebergFormat.inputFiles(t.scan()).length
    require(prunedOk, "partition filter did not reach the scan: " + plan.take(400))
    pruned
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Snapshot expiration mid-lifecycle: replaced history reclaimed, the
    * surviving window still scans correctly. */
  private def expire(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "xp")
    val cat = new FsCatalog(s, wh)
    val t = cat.createOrReplaceTable("graft", "nations_xp", Tables.nation(s, d))
    t.replace(Tables.nation(s, d)) // snapshot 2: fresh files, v1's orphaned
    t.append(Tables.nation(s, d))  // snapshot 3: nation x2
    t.expireSnapshots(keepLast = 2)
    require(t.snapshots().size == 2, "expiration did not trim the log")
    t.scan().orderBy("n_nationkey", "n_name")
  }

  /** Schema evolution through the gate: original rows read null for the
    * added column, evolved rows carry it. */
  private def evolve(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "ev")
    val cat = new FsCatalog(s, wh)
    val t   = cat.createOrReplaceTable("graft", "nations_ev", Tables.nation(s, d))
    t.evolveAppend(Tables.nation(s, d)
      .withColumn("n_comment", concat(lit("c_"), col("n_name"))))
    // NULLS LAST explicitly: Spark defaults ASC NULLS FIRST, DuckDB LAST
    t.scan().orderBy(asc("n_nationkey"), asc_nulls_last("n_comment"))
  }

  private val evolveOracle =
    """SELECT * FROM (
         SELECT n_nationkey, n_name, n_regionkey, CAST(NULL AS VARCHAR) AS n_comment FROM nation
         UNION ALL
         SELECT n_nationkey, n_name, n_regionkey, 'c_' || n_name AS n_comment FROM nation)
       ORDER BY n_nationkey, n_comment NULLS LAST"""

  /** Copy-on-write delete through the gate. */
  private def deleteRows(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "del")
    val cat = new FsCatalog(s, wh)
    val n   = Tables.nation(s, d).count() // scale-independent guard
    val t   = cat.createOrReplaceTable("graft", "nations_del", Tables.nation(s, d))
    t.deleteWhere(col("n_regionkey") === 0)
    require(t.snapshots().last.operation == "delete", "delete snapshot missing")
    require(t.scanSnapshot(1).count() == n, "pre-delete time travel broken")
    t.scan().orderBy("n_nationkey")
  }

  /** Merge-by-key upsert through the gate: update 5 rows, insert 2 new. */
  private def upsertRows(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "ups")
    val cat = new FsCatalog(s, wh)
    val t   = cat.createOrReplaceTable("graft", "nations_ups", Tables.nation(s, d))
    val updates = Tables.nation(s, d)
      .filter(col("n_nationkey") < 5)
      .withColumn("n_name", concat(lit("UPDATED_"), col("n_name")))
      .unionByName(
        Tables.nation(s, d).filter(col("n_nationkey") < 2)
          .select((col("n_nationkey") + 100).cast("int").as("n_nationkey"),
            concat(lit("NEW_"), col("n_name")).as("n_name"), col("n_regionkey")))
    t.upsert(updates, Seq("n_nationkey"))
    t.scan().orderBy("n_nationkey")
  }

  private val upsertOracle =
    """SELECT * FROM (
         SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey >= 5
         UNION ALL
         SELECT n_nationkey, 'UPDATED_' || n_name AS n_name, n_regionkey FROM nation WHERE n_nationkey < 5
         UNION ALL
         SELECT CAST(n_nationkey + 100 AS INT) AS n_nationkey, 'NEW_' || n_name AS n_name, n_regionkey
         FROM nation WHERE n_nationkey < 2)
       ORDER BY n_nationkey"""

  /** Rollback: three snapshots, roll back to 1, current scan shows the
    * v1 state while the rolled-back-from snapshot stays time-travelable. */
  private def rollbackQ(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "rb")
    val cat = new FsCatalog(s, wh)
    val n   = Tables.nation(s, d).count() // scale-independent guard
    val t   = cat.createOrReplaceTable("graft", "nations_rb", Tables.nation(s, d))
    t.append(Tables.nation(s, d)) // snapshot 2: nation x2
    t.append(Tables.nation(s, d)) // snapshot 3: nation x3
    t.rollback(1)
    require(t.scanSnapshot(3).count() == 3 * n, "history lost on rollback")
    t.scan().orderBy("n_nationkey")
  }

  /** Incremental append scan: the delta between snapshot 1 and 3 is
    * exactly the two appended batches, read without touching snapshot 1's
    * files. */
  private def incrementalQ(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "inc")
    val cat = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    val t = cat.createOrReplaceTable("graft", "nations_inc", nation.coalesce(1))
    t.append(nation.filter(col("n_regionkey") === 0).coalesce(1)) // snapshot 2
    t.append(nation.filter(col("n_regionkey") === 1).coalesce(1)) // snapshot 3
    val delta = t.scanIncremental(1, 3)
    require(IcebergFormat.inputFiles(delta).length == 2, "incremental scan read base files")
    delta.orderBy("n_nationkey")
  }

  private val incrementalOracle =
    """SELECT * FROM nation WHERE n_regionkey IN (0, 1) ORDER BY n_nationkey"""

  /** Branch/tag refs (the Nessie workflow): ingest on an isolated branch
    * while main and a release tag stay pinned, then fast-forward main.
    * Returns the merged main scan; en route requires prove branch
    * isolation, tag immutability, and ancestry-checked fast-forward. */
  private def branchQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "br")
    val cat    = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    val t      = cat.createOrReplaceTable("graft", "nations_br", nation) // snapshot 1
    val n = nation.count() // scale-independent guard
    t.createBranch("dev").createTag("v1")
    t.appendToBranch("dev", nation.filter(col("n_regionkey") === 0)) // snapshot 2, dev only
    t.appendToBranch("dev", nation.filter(col("n_regionkey") === 1)) // snapshot 3, dev only
    require(t.scan().count() == n, "main moved on a branch commit")
    require(t.scanRef("v1").count() == n, "tag moved on a branch commit")
    t.fastForward("dev")
    require(t.scanRef("v1").count() == n, "tag moved on merge")
    require(t.refs()("dev").snapshot_id == 3, "branch head wrong after merge")
    t.scan().orderBy("n_nationkey", "n_name")
  }

  private val branchOracle =
    """SELECT * FROM (
         SELECT * FROM nation
         UNION ALL SELECT * FROM nation WHERE n_regionkey IN (0, 1))
       ORDER BY n_nationkey, n_name"""

  /** Z-order compaction: after clustering on (o_custkey, o_orderkey), a
    * range scan on EITHER column must prune files — the multi-column
    * file-skipping layout. Returns the custkey-sliced scan for the gate. */
  private def zorderQ(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "zo")
    val cat = new FsCatalog(s, wh)
    // 8 hash-partitioned files: every file spans both key ranges, nothing prunes
    val t = cat.createOrReplaceTable("graft", "orders_zo",
      Tables.orders(s, d).repartition(8))
    t.compactZOrder(16, Seq("o_custkey", "o_orderkey"))
    val total = IcebergFormat.inputFiles(t.scan()).length
    require(t.planFiles("o_custkey", Some("0"), Some("100")).size < total,
      "z-order: custkey slice did not prune")
    require(t.planFiles("o_orderkey", Some("0"), Some("100")).size < total,
      "z-order: orderkey slice did not prune")
    t.scanRange("o_custkey", Some("0"), Some("100"))
      .filter(col("o_custkey") <= 100)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  private val zorderOracle =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       WHERE o_custkey <= 100 ORDER BY o_orderkey"""

  /** Catalog-wide SQL join (reference Q10 shape, `users JOIN
    * netflix_titles`): two committed tables joined through bare-name views
    * by one SQL statement against the namespace. */
  private def sqlJoinQ(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "sqlj")
    val cat = new FsCatalog(s, wh)
    cat.createOrReplaceTable("jdb", "nations", Tables.nation(s, d))
    cat.createOrReplaceTable("jdb", "regions", Tables.region(s, d))
    new Engine(s, cat).sqlCatalog("jdb",
      """SELECT r.r_name, COUNT(*) AS n_nations
         FROM nations n JOIN regions r ON n.n_regionkey = r.r_regionkey
         GROUP BY r.r_name ORDER BY r.r_name""")
  }

  private val sqlJoinOracle =
    """SELECT r.r_name, COUNT(*) AS n_nations
       FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY r.r_name ORDER BY r.r_name"""

  /** JSONL (newline-delimited JSON) round trip — the standard
    * training-data interchange format next to CSV/parquet: export to
    * JSONL, re-read with the declared schema (the production path — no
    * inference ambiguity), commit as a table, scan back. */
  private def jsonlQ(s: SparkSession, d: String): DataFrame = {
    val outDir = freshDir(s, "jsonl")
    val wh     = freshDir(s, "jsonl_wh")
    val nation = Tables.nation(s, d)
    nation.write.mode("overwrite").json(outDir)
    val back = s.read.schema(nation.schema).json(outDir)
    val cat  = new FsCatalog(s, wh)
    cat.createOrReplaceTable("graft", "nations_jl", back)
      .scan().orderBy("n_nationkey")
  }

  /** Standard-Iceberg compatibility (reference `iceberg_scan`): build a
    * genuine Iceberg v2 table — real metadata JSON + manifest-list Avro +
    * manifest Avro with spec field-ids — over parquet data files, then
    * scan it back through the spec's resolution chain. The fixture plants
    * an ORPHAN parquet file in the data dir that no manifest references
    * (the debris a failed commit leaves behind): a reader that globbed the
    * directory instead of walking metadata→manifest-list→manifests would
    * include its rows and fail the oracle. Two commits also prove the
    * manifest-list carries prior manifests across snapshots. */
  private def icebergScanQ(s: SparkSession, d: String): DataFrame = {
    val root   = freshDir(s, "icefix")
    val loc    = s"$root/nations_iceberg"
    val nation = Tables.nation(s, d)
    val fs     = new Path(loc).getFileSystem(s.sparkContext.hadoopConfiguration)

    // three single-file parquet batches: two committed, one orphan
    def writeBatch(name: String, df: DataFrame): IcebergFormat.DataFileInfo = {
      val tmp = s"$root/stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      val dest = new Path(s"$loc/data/$name.parquet")
      fs.mkdirs(dest.getParent)
      require(fs.rename(part, dest), s"stage rename failed for $name")
      fs.delete(new Path(tmp), true)
      IcebergFormat.DataFileInfo(dest.toString, df.count(), fs.getFileStatus(dest).getLen)
    }
    val lo     = writeBatch("lo", nation.filter(col("n_nationkey") < 10))
    val mid    = writeBatch("mid",
      nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20))
    writeBatch("orphan", nation.filter(col("n_nationkey") >= 20)) // never committed

    val w = new IcebergFormat.Writer(s, loc, nation.schema)
    w.commit(Seq(lo))  // snapshot 1
    w.commit(Seq(mid)) // snapshot 2: manifest list carries snapshot 1's manifest
    new Engine(s, new FsCatalog(s, freshDir(s, "icefix_wh")))
      .scanIcebergMetadata(w.currentMetadataPath)
      .orderBy("n_nationkey")
  }

  private val icebergScanOracle =
    "SELECT * FROM nation WHERE n_nationkey < 20 ORDER BY n_nationkey"

  /** IceLite → standard-Iceberg export round trip: commit two IceLite
    * snapshots, export the current one as genuine Iceberg v2 metadata
    * (zero data copy — manifests adopt the IceLite parquet in place),
    * then read it back through the spec's resolution chain. A user can
    * hand the returned metadata.json to any Iceberg reader. */
  private def icebergExportQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "icexp_wh")
    val dest   = freshDir(s, "icexp_dest")
    val nation = Tables.nation(s, d)
    val cat    = new FsCatalog(s, wh)
    val t      = cat.createOrReplaceTable("graft", "nations_xp", nation)
    t.append(nation.filter(col("n_regionkey") <= 1))
    val metadataPath = t.exportIceberg(s"$dest/nations_iceberg")
    new Engine(s, cat).scanIcebergMetadata(metadataPath)
      .orderBy("n_nationkey", "n_name")
  }

  private val icebergExportOracle =
    """SELECT * FROM (
         SELECT * FROM nation
         UNION ALL SELECT * FROM nation WHERE n_regionkey <= 1)
       ORDER BY n_nationkey, n_name"""

  /** Merge-on-read POSITION deletes through the standard-Iceberg chain
    * (spec row-level deletes, content=1): snapshot 1 commits two sorted
    * data files, snapshot 2 commits a position-delete file removing rows
    * (file, pos) — with two entries deliberately aimed at a file that is
    * only added in snapshot 3. A correct reader anti-joins deletes onto
    * data files with data sequence number <= the delete's, so the late
    * file's rows survive; a reader that ignores sequence numbers deletes
    * them and fails the oracle. No data file is rewritten at any point —
    * that is the merge-on-read contract that makes deletes O(delta) at
    * 100 TB instead of O(files-touched) copy-on-write. */
  private def morPosDeleteQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root   = freshDir(s, "mor_pos")
    val loc    = s"$root/nations_mor"
    val nation = Tables.nation(s, d).orderBy("n_nationkey")
    val lo   = IcebergFormat.writeSingleFile(s, loc, "lo", nation.filter(col("n_nationkey") < 10))
    val mid  = IcebergFormat.writeSingleFile(s, loc, "mid",
      nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20))
    val latePath = s"$loc/data/late.parquet" // known before the file exists
    val delDf = Seq(
      (lo.path, 0L), (lo.path, 3L), (lo.path, 7L), // kill keys 0, 3, 7
      (latePath, 0L), (latePath, 1L)               // aimed at the NEWER file: must not apply
    ).toDF("file_path", "pos")
    val w = new IcebergFormat.Writer(s, loc, nation.schema)
    w.commit(Seq(lo, mid))                                                    // seq 1: data
    w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "del1", delDf, content = 1))) // seq 2: deletes
    // seq 3: the late data file TOGETHER with a position delete on its own
    // pos 4 (key 24). Position deletes apply to dataseq <= delseq — same
    // commit included — unlike equality deletes' strictly-older rule, so
    // key 24 must vanish while seq 2's probes at pos 0/1 still must not.
    val sameCommitDel = Seq((latePath, 4L)).toDF("file_path", "pos")
    w.commit(Seq(
      IcebergFormat.writeSingleFile(s, loc, "late", nation.filter(col("n_nationkey") >= 20)),
      IcebergFormat.writeSingleFile(s, loc, "del2", sameCommitDel, content = 1)))
    new Engine(s, new FsCatalog(s, freshDir(s, "mor_pos_wh")))
      .scanIcebergMetadata(w.currentMetadataPath)
      .orderBy("n_nationkey")
  }

  private val morPosDeleteOracle =
    "SELECT * FROM nation WHERE n_nationkey NOT IN (0, 3, 7, 24) ORDER BY n_nationkey"

  /** Merge-on-read EQUALITY deletes (spec content=2): snapshot 1 commits
    * the full table, snapshot 2 an equality-delete file on the key column
    * (field-id addressed, as the spec requires), snapshot 3 re-inserts
    * restated rows for the deleted keys. Equality deletes apply to rows in
    * files STRICTLY older than the delete, so the original rows vanish and
    * the restatements survive — the upsert pattern streaming CDC writers
    * use on Iceberg v2. */
  private def morEqDeleteQ(s: SparkSession, d: String): DataFrame = {
    val root   = freshDir(s, "mor_eq")
    val loc    = s"$root/nations_moreq"
    val nation = Tables.nation(s, d).orderBy("n_nationkey")
    val keyFieldId = nation.schema.fieldNames.indexOf("n_nationkey") + 1 // 1-based spec ids
    val base = IcebergFormat.writeSingleFile(s, loc, "base", nation)
    val eqDel = IcebergFormat.writeSingleFile(s, loc, "eqdel",
      nation.filter(col("n_nationkey").isin(10, 11)).select("n_nationkey"),
      content = 2, equalityIds = Seq(keyFieldId))
    val restated = IcebergFormat.writeSingleFile(s, loc, "restated",
      nation.filter(col("n_nationkey").isin(10, 11))
        .withColumn("n_name", concat(lit("RESTATED_"), col("n_name"))))
    val w = new IcebergFormat.Writer(s, loc, nation.schema)
    w.commit(Seq(base))     // seq 1: data
    w.commit(Seq(eqDel))    // seq 2: equality delete on n_nationkey in (10, 11)
    w.commit(Seq(restated)) // seq 3: restated rows — newer than the delete, survive
    new Engine(s, new FsCatalog(s, freshDir(s, "mor_eq_wh")))
      .scanIcebergMetadata(w.currentMetadataPath)
      .orderBy("n_nationkey", "n_name")
  }

  private val morEqDeleteOracle =
    """SELECT * FROM (
         SELECT * FROM nation WHERE n_nationkey NOT IN (10, 11)
         UNION ALL
         SELECT n_nationkey, 'RESTATED_' || n_name AS n_name, n_regionkey
         FROM nation WHERE n_nationkey IN (10, 11))
       ORDER BY n_nationkey, n_name"""

  /** Identity-PARTITIONED standard-Iceberg table: real partition spec in
    * the metadata JSON, typed partition records in the manifest entries,
    * and data files that OMIT the partition column entirely — the spec's
    * "Column Projection" rule says identity source columns may live only
    * in partition metadata, and PyIceberg/Spark readers reconstruct them
    * per file. The gate proves our reader does the same reconstruction
    * (the oracle compares the full nation rows INCLUDING n_regionkey) and
    * that planFiles prunes on partition values alone — no column bounds
    * are recorded, so only the partition record can prune. */
  private def icebergPartitionedQ(s: SparkSession, d: String): DataFrame = {
    val root   = freshDir(s, "icepart")
    val loc    = s"$root/nations_part"
    val nation = Tables.nation(s, d).orderBy("n_nationkey")
    val w = new IcebergFormat.Writer(s, loc, nation.schema, partitionBy = Seq("n_regionkey"))
    val infos = (0 to 4).map { rk =>
      // region 4's file KEEPS the column (both spec-legal layouts in one
      // table: present-in-file wins via coalesce, absent reconstructs)
      val slice = nation.filter(col("n_regionkey") === rk)
      IcebergFormat.writeSingleFile(s, loc, s"r$rk",
        if (rk == 4) slice else slice.drop("n_regionkey"))
        .copy(partitionValues = Map("n_regionkey" -> Int.box(rk)))
    }
    w.commit(infos)
    val planned = IcebergFormat.planFiles(
      s, w.currentMetadataPath, "n_regionkey", Some("2"), Some("2"))
    require(planned.size == 1, s"partition pruning failed: kept ${planned.size} of 5 files")
    new Engine(s, new FsCatalog(s, freshDir(s, "icepart_wh")))
      .scanIcebergMetadata(w.currentMetadataPath)
      .orderBy("n_nationkey")
  }

  /** Standard-Iceberg TIME TRAVEL (`FOR VERSION AS OF`): two commits, then
    * scan pinned to snapshot 1 through its own manifest list — must see
    * only the first commit's rows even though the current pointer is at
    * snapshot 2. */
  private def icebergTimetravelQ(s: SparkSession, d: String): DataFrame = {
    val root   = freshDir(s, "icett")
    val loc    = s"$root/nations_tt_ice"
    val nation = Tables.nation(s, d).orderBy("n_nationkey")
    val w = new IcebergFormat.Writer(s, loc, nation.schema)
    w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "lo",
      nation.filter(col("n_nationkey") < 10))))                      // snapshot 1
    w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "hi",
      nation.filter(col("n_nationkey") >= 10))))                     // snapshot 2
    require(IcebergFormat.scan(s, w.currentMetadataPath).count() == nation.count(),
      "current scan must see both commits")
    IcebergFormat.scanAt(s, w.currentMetadataPath, 1L).orderBy("n_nationkey")
  }

  private val icebergTimetravelOracle =
    "SELECT * FROM nation WHERE n_nationkey < 10 ORDER BY n_nationkey"

  /** Orphan-file vacuum (Iceberg `remove_orphan_files`): plant a stray
    * parquet inside the table's data tree (the debris of a write whose
    * snapshot never committed), vacuum, and require exactly that file
    * swept while every committed snapshot — current AND time-travel —
    * still reads complete. */
  private def vacuumQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "vac")
    val cat    = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    val n      = nation.count()
    val t      = cat.createOrReplaceTable("graft", "nations_vac", nation)
    t.append(nation.filter(col("n_regionkey") === 0))
    // the stray: a real parquet under data/ that no snapshot references
    val strayTmp = freshDir(s, "vac_stray")
    nation.limit(5).coalesce(1).write.mode("overwrite").parquet(strayTmp)
    val fs   = t.location.getFileSystem(s.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(strayTmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val strayDest = new Path(t.location, "data/stray/leftover.parquet")
    fs.mkdirs(strayDest.getParent)
    require(fs.rename(part, strayDest), "stray plant failed")
    // default (3-day) cutoff must treat the fresh stray as possibly
    // in-flight and leave it; age-0 sweep (no live writers) removes it
    require(t.removeOrphans().isEmpty, "age guard swept a recent file")
    val swept = t.removeOrphans(olderThanMillis = 0L)
    require(swept == Seq("data/stray/leftover.parquet"), s"unexpected sweep: $swept")
    require(!fs.exists(strayDest), "orphan survived the vacuum")
    require(t.removeOrphans(olderThanMillis = 0L).isEmpty, "vacuum not idempotent")
    require(t.scanSnapshot(1).count() == n, "time travel broken after vacuum")
    t.scan().orderBy("n_nationkey", "n_name")
  }

  private val vacuumOracle =
    """SELECT * FROM (
         SELECT * FROM nation
         UNION ALL SELECT * FROM nation WHERE n_regionkey = 0)
       ORDER BY n_nationkey, n_name"""

  /** BUCKET-partitioned standard-Iceberg table (spec `bucket[4]` over the
    * Murmur3_x86_32 hash pinned to the spec's Appendix B vectors): rows
    * land in the file of their key's bucket, the spec records
    * `bucket[4]` + int partition values, and a point lookup must prune to
    * exactly the one file whose bucket matches — the hash-distributed
    * layout real Iceberg warehouses use for high-cardinality keys. */
  private def icebergBucketedQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root   = freshDir(s, "icebkt")
    val loc    = s"$root/nations_bkt"
    val nation = Tables.nation(s, d).orderBy("n_nationkey")
    val nBuckets = 4
    val w = new IcebergFormat.Writer(s, loc, nation.schema,
      partitionBy = Seq(s"bucket($nBuckets, n_nationkey)"))
    // nation keys are 25 rows at every SF — bucket them with the same spec
    // hash the reader prunes with
    val keys = nation.select("n_nationkey").as[Int].collect().sorted
    val byBucket = keys.groupBy(k =>
      (IcebergFormat.specHashLong(k.toLong) & Int.MaxValue) % nBuckets)
    val infos = byBucket.toSeq.sortBy(_._1).map { case (b, ks) =>
      IcebergFormat.writeSingleFile(s, loc, s"b$b",
        nation.filter(col("n_nationkey").isin(ks.toIndexedSeq: _*)))
        .copy(partitionValues = Map("n_nationkey_bucket" -> Int.box(b)))
    }
    w.commit(infos)
    val total = infos.size
    val probeKey = keys.head
    val planned = IcebergFormat.planFiles(
      s, w.currentMetadataPath, "n_nationkey", Some(probeKey.toString), Some(probeKey.toString))
    require(planned.size == 1 && total == nBuckets,
      s"bucket pruning failed: kept ${planned.size} of $total files")
    // a RANGE query must not bucket-prune (hash order is not key order)
    val rangePlanned = IcebergFormat.planFiles(
      s, w.currentMetadataPath, "n_nationkey", Some("0"), Some("10"))
    require(rangePlanned.size == total, "range query wrongly bucket-pruned")
    new Engine(s, new FsCatalog(s, freshDir(s, "icebkt_wh")))
      .scanIcebergMetadata(w.currentMetadataPath)
      .orderBy("n_nationkey")
  }

  /** Metadata tables (`t.snapshots` / `t.refs` introspection): a
    * controlled create→append→delete lifecycle must expose exactly its
    * commit DAG — ids, parents, operations, manifest/file counts, current
    * pointer — as a queryable DataFrame, pinned row-for-row by a VALUES
    * oracle. (`t.files` carries UUID paths, so the gate asserts its
    * row count matches n_files instead.) */
  private def metaTablesQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "meta")
    val cat    = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    val t = cat.createOrReplaceTable("graft", "nations_meta", nation.coalesce(1)) // snap 1
    t.append(nation.filter(col("n_regionkey") === 0).coalesce(1))                 // snap 2
    t.deleteWhere(col("n_regionkey") === 1)                                       // snap 3
    t.createBranch("dev").createTag("v1")
    // the delete rewrite preserves input splits (2 source files -> 2
    // rewritten files, no shuffle inserted)
    require(t.filesTable().count() == 2, "post-delete rewrite should keep 2 splits")
    require(t.refsTable().count() == 3, "main + dev + v1 expected")
    t.snapshotsTable().orderBy("snapshot_id")
  }

  private val metaTablesOracle =
    """SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id,
              CAST(parent_id AS BIGINT) AS parent_id,
              operation,
              CAST(n_manifests AS INT) AS n_manifests,
              CAST(n_files AS BIGINT) AS n_files,
              is_current
       FROM (VALUES
         (1, 0, 'append',  1, 1, false),
         (2, 1, 'append',  2, 2, false),
         (3, 2, 'delete',  1, 2, true))
         t(snapshot_id, parent_id, operation, n_manifests, n_files, is_current)
       ORDER BY snapshot_id"""

  /** Standard-Iceberg SCHEMA EVOLUTION (spec schemas list +
    * current-schema-id): commit under schema A, evolve to A + n_comment,
    * commit evolved rows — the scan must project the old file through the
    * CURRENT schema, null-filling the column it predates, exactly how
    * PyIceberg/Spark read evolved tables. */
  private def icebergEvolveQ(s: SparkSession, d: String): DataFrame = {
    val root   = freshDir(s, "icevo")
    val loc    = s"$root/nations_evo_ice"
    val nation = Tables.nation(s, d).orderBy("n_nationkey")
    val evolved = nation.withColumn("n_comment", concat(lit("c_"), col("n_name")))
    val w = new IcebergFormat.Writer(s, loc, nation.schema)
    w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "v0rows",
      nation.filter(col("n_nationkey") < 10))))               // schema 0
    w.evolveSchema(evolved.schema)
    w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "v1rows",
      evolved.filter(col("n_nationkey") >= 10))))             // schema 1
    new Engine(s, new FsCatalog(s, freshDir(s, "icevo_wh")))
      .scanIcebergMetadata(w.currentMetadataPath)
      .orderBy(asc("n_nationkey"), asc_nulls_last("n_comment"))
  }

  private val icebergEvolveOracle =
    """SELECT * FROM (
         SELECT n_nationkey, n_name, n_regionkey, CAST(NULL AS VARCHAR) AS n_comment
         FROM nation WHERE n_nationkey < 10
         UNION ALL
         SELECT n_nationkey, n_name, n_regionkey, 'c_' || n_name AS n_comment
         FROM nation WHERE n_nationkey >= 10)
       ORDER BY n_nationkey, n_comment NULLS LAST"""

  /** Incremental VIEW MAINTENANCE — the lakehouse pattern that makes
    * 100 TB summaries affordable: a grouped summary table is seeded from
    * snapshot 1, then advanced by aggregating ONLY the snapshot-1→2 delta
    * (ic16's incremental scan, required to touch just the delta file) and
    * full-outer-merging it into the summary by key. The maintained result
    * must equal a from-scratch recompute over the whole table — the
    * correctness contract of every incremental materialized view. */
  private def incrementalViewQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "iv")
    val cat    = new FsCatalog(s, wh)
    val orders = Tables.orders(s, d)
    val t = cat.createOrReplaceTable("graft", "orders_iv",
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 0).coalesce(1))  // snapshot 1
    t.append(orders.filter(pmod(col("o_orderkey"), lit(2)) === 1).coalesce(1)) // snapshot 2
    def aggOf(df: DataFrame): DataFrame = df.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).as("revenue"))
    val sumT = cat.createOrReplaceTable("graft", "orders_iv_summary",
      aggOf(t.scanSnapshot(1)))
    val deltaScan = t.scanIncremental(1, 2)
    require(IcebergFormat.inputFiles(deltaScan).length == 1, "incremental scan touched base files")
    val merged = sumT.scan().as("a")
      .join(aggOf(deltaScan).as("b"), Seq("o_orderpriority"), "full_outer")
      .select(
        col("o_orderpriority"),
        (coalesce(col("a.n_orders"), lit(0L)) + coalesce(col("b.n_orders"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("a.revenue"), lit(0).cast("decimal(12,2)")) +
          coalesce(col("b.revenue"), lit(0).cast("decimal(12,2)")))
          .cast("decimal(22,2)").as("revenue")) // sum(dec(12,2)) type: keep the seeded schema on replace
    sumT.replace(merged)
    new Engine(s, cat).table("graft.orders_iv_summary")
      .select(col("o_orderpriority"), col("n_orders"),
        round(col("revenue"), 2).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  private val incrementalViewOracle =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
       FROM orders GROUP BY 1 ORDER BY 1"""

  /** TEMPORAL-partitioned standard-Iceberg table (spec `year` transform):
    * orders land one file per year with epoch-relative int partition
    * values; a timestamp-range scan must prune through the
    * ORDER-PRESERVING transform ALONE (the staged files record no column
    * bounds), including a cross-year range keeping exactly two files —
    * the partition-by-time layout that 100 TB lakehouse tables
    * universally use. Cf. bucket[N] (ic28), which correctly refuses
    * range pruning because hashing destroys order. */
  private def icebergTemporalQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root   = freshDir(s, "icetemp")
    val loc    = s"$root/orders_by_year"
    val orders = Tables.orders(s, d)
    val w = new IcebergFormat.Writer(s, loc, orders.schema,
      partitionBy = Seq("years(o_orderdate)"))
    val years = orders.select(year(col("o_orderdate"))).distinct().as[Int].collect().sorted
    val infos = years.map { y =>
      IcebergFormat.writeSingleFile(s, loc, s"y$y",
        orders.filter(year(col("o_orderdate")) === y))
        .copy(partitionValues = Map("o_orderdate_year" -> Int.box(y - 1970)))
    }
    w.commit(infos.toIndexedSeq)
    val lo = "1995-01-01 00:00:00"
    val hi = "1995-12-31 23:59:59"
    val planned = IcebergFormat.planFiles(s, w.currentMetadataPath, "o_orderdate",
      Some(lo), Some(hi))
    require(planned.size == 1,
      s"temporal pruning failed: kept ${planned.size} of ${infos.size} files")
    val crossYear = IcebergFormat.planFiles(s, w.currentMetadataPath, "o_orderdate",
      Some("1996-06-01 00:00:00"), Some("1997-06-01 00:00:00"))
    require(crossYear.size == 2, s"cross-year range kept ${crossYear.size} files, wanted 2")
    IcebergFormat.scanRange(s, w.currentMetadataPath, "o_orderdate", Some(lo), Some(hi))
      .filter(col("o_orderdate").between(lit(lo).cast("timestamp"), lit(hi).cast("timestamp")))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).as("revenue"))
      .withColumn("revenue", round(col("revenue"), 2).cast("double"))
      .orderBy("o_orderpriority")
  }

  private val icebergTemporalOracle =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
       FROM orders
       WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                             AND TIMESTAMP '1995-12-31 23:59:59'
       GROUP BY 1 ORDER BY 1"""

  /** Partition-spec EVOLUTION (spec "Partition Evolution"): snapshot 1
    * commits under spec 0 (unpartitioned), the spec is evolved to
    * identity(n_regionkey), and snapshot 2 commits one file per region
    * under spec 1. Old files are never rewritten — the manifest list
    * records each manifest's own spec id, and the planner prunes every
    * file by the spec that WROTE it: spec-1 files prune exactly on the
    * region predicate, the legacy spec-0 file (no partition record, no
    * bounds) is kept conservatively. That per-manifest resolution is what
    * makes re-partitioning a 100 TB table a metadata-only operation
    * instead of a rewrite. */
  private def icebergSpecEvolutionQ(s: SparkSession, d: String): DataFrame = {
    val root   = freshDir(s, "icevolve")
    val loc    = s"$root/nations_specev"
    val nation = Tables.nation(s, d).orderBy("n_nationkey")
    val w = new IcebergFormat.Writer(s, loc, nation.schema) // spec 0: unpartitioned
    w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "legacy",
      nation.filter(col("n_nationkey") < 12))))
    w.evolveSpec(Seq("n_regionkey")) // spec 1: identity(n_regionkey)
    val infos = (0 to 4).map { rk =>
      IcebergFormat.writeSingleFile(s, loc, s"r$rk",
        nation.filter(col("n_nationkey") >= 12 && col("n_regionkey") === rk))
        .copy(partitionValues = Map("n_regionkey" -> Int.box(rk)))
    }
    w.commit(infos)
    val planned = IcebergFormat.planFiles(
      s, w.currentMetadataPath, "n_regionkey", Some("2"), Some("2"))
    require(planned.size == 2,
      s"spec-evolved pruning kept ${planned.size} of 6 files, expected legacy + r2")
    IcebergFormat.scanRange(s, w.currentMetadataPath, "n_regionkey", Some("2"), Some("2"))
      .filter(col("n_regionkey") === 2)
      .orderBy("n_nationkey")
  }

  private val icebergSpecEvolutionOracle =
    "SELECT * FROM nation WHERE n_regionkey = 2 ORDER BY n_nationkey"

  /** Manifest compaction (Iceberg `rewrite_manifests`): five
    * commit-per-file appends leave five data manifests — the metadata
    * sprawl a streaming writer accumulates — plus one position-delete
    * manifest. The rewrite merges the data manifests into ONE of
    * status-EXISTING entries in a new `replace` snapshot, without moving
    * any data file; entries keep their original data sequence numbers, so
    * the carried delete (seq 6) still applies to the older data (seq ≤ 5)
    * and merge-on-read semantics are bit-identical before and after. The
    * gate asserts the manifest list shrinks 5→1 data manifests, the
    * pre-rewrite snapshot still time-travels complete, and the scanned
    * rows match the oracle. */
  private def icebergRewriteManifestsQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root   = freshDir(s, "icerw")
    val loc    = s"$root/nations_rw"
    val nation = Tables.nation(s, d).orderBy("n_nationkey")
    val w = new IcebergFormat.Writer(s, loc, nation.schema)
    // bucket by key mod 5 (NOT region): covers every row at any scale
    val staged = (0 to 4).map { b =>
      IcebergFormat.writeSingleFile(s, loc, s"b$b",
        nation.filter(pmod(col("n_nationkey"), lit(5)) === b).orderBy("n_nationkey"))
    }
    staged.foreach(f => w.commit(Seq(f))) // 5 commits -> 5 data manifests
    // seq 6: position delete killing bucket 0's first row (its min key)
    val delDf = Seq((staged(0).path, 0L)).toDF("file_path", "pos")
    w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "del", delDf, content = 1)))
    val before = IcebergFormat.manifestListPaths(s, w.currentMetadataPath)
    require(before.count(_._2 == 0) == 5 && before.count(_._2 == 1) == 1,
      s"expected 5 data + 1 delete manifests pre-rewrite, got $before")
    w.rewriteManifests()
    val after = IcebergFormat.manifestListPaths(s, w.currentMetadataPath)
    require(after.count(_._2 == 0) == 1 && after.count(_._2 == 1) == 1,
      s"rewrite_manifests should leave 1 data + 1 delete manifest, got $after")
    val engine = new Engine(s, new FsCatalog(s, freshDir(s, "icerw_wh")))
    require(engine.scanIcebergMetadata(w.currentMetadataPath).count() == nation.count() - 1,
      "post-rewrite scan row count changed")
    // pre-rewrite snapshots must still read identically: 5 = all data
    // before the delete, 6 = the delete applied
    require(IcebergFormat.scanAt(s, w.currentMetadataPath, 5L).count() == nation.count(),
      "pre-delete snapshot no longer time-travels complete")
    require(IcebergFormat.scanAt(s, w.currentMetadataPath, 6L).count() == nation.count() - 1,
      "pre-rewrite snapshot no longer applies its delete")
    engine.scanIcebergMetadata(w.currentMetadataPath).orderBy("n_nationkey")
  }

  private val icebergRewriteManifestsOracle =
    """SELECT * FROM nation
       WHERE n_nationkey <> (SELECT MIN(n_nationkey) FROM nation WHERE n_nationkey % 5 = 0)
       ORDER BY n_nationkey"""

  /** Snapshot expiration (Iceberg `expire_snapshots`) — the complement of
    * ic34: rewrite_manifests makes the five per-commit manifests
    * unreachable from the new snapshot, expiration reclaims them. After
    * keeping only the rewritten snapshot: one manifest list + one
    * manifest on disk (counted), expired snapshots are gone from the
    * metadata (time travel to them now throws), and the table's data —
    * every file carried into the kept snapshot — reads in full. This
    * bounds the metadata history a long-lived streaming table
    * accumulates; expiry deletes only data files no kept snapshot lists,
    * and here every one is carried. */
  private def icebergExpireQ(s: SparkSession, d: String): DataFrame = {
    val root   = freshDir(s, "icexp")
    val loc    = s"$root/nations_exp"
    val nation = Tables.nation(s, d).orderBy("n_nationkey")
    val w = new IcebergFormat.Writer(s, loc, nation.schema)
    (0 to 4).foreach { rk =>
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, s"r$rk",
        nation.filter(col("n_regionkey") === rk).orderBy("n_nationkey"))))
    }
    w.rewriteManifests() // snapshot 6: per-commit manifests now unreachable
    val mdDir = new org.apache.hadoop.fs.Path(s"$loc/metadata")
    val fs    = mdDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    def nFiles(prefix: String): Int =
      fs.listStatus(mdDir).count(_.getPath.getName.startsWith(prefix))
    require(nFiles("m-") == 6 && nFiles("snap-") == 6,
      s"expected 6 manifests + 6 lists pre-expire, got ${nFiles("m-")}/${nFiles("snap-")}")
    w.expireSnapshots(keepLast = 1)
    require(nFiles("snap-") == 1, s"expire left ${nFiles("snap-")} manifest lists")
    require(nFiles("m-") == 1, s"expire left ${nFiles("m-")} manifests")
    val expiredGone =
      try { IcebergFormat.scanAt(s, w.currentMetadataPath, 3L); false }
      catch { case _: NoSuchElementException => true }
    require(expiredGone, "expired snapshot 3 is still scannable")
    new Engine(s, new FsCatalog(s, freshDir(s, "icexp_wh")))
      .scanIcebergMetadata(w.currentMetadataPath)
      .orderBy("n_nationkey")
  }

  private val icebergExpireOracle =
    "SELECT * FROM nation ORDER BY n_nationkey"

  /** Multi-clause MERGE INTO: one commit applies deletes, conditional
    * updates, and inserts from a derived source — the lakehouse upsert
    * verb (Iceberg `MERGE INTO`, reference's managed-table write path).
    * The source is a deterministic function of `customer`: key%7==0 rows
    * update (segment + acctbal), key%7==1 rows delete, key%97==0 rows
    * re-insert under key+1,000,000. The oracle replays the same clauses in
    * plain SQL over the original parquet. */
  private def mergeQ(s: SparkSession, d: String): DataFrame = {
    val wh   = freshDir(s, "mg")
    val cat  = new FsCatalog(s, wh)
    val cust = Tables.customer(s, d)
    val t    = cat.createOrReplaceTable("graft", "cust_mg", cust)
    val upd = cust.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_mktsegment", lit("UPD"))
    val del = cust.filter(col("c_custkey") % 7 === 1)
      .withColumn("c_mktsegment", lit("DEL"))
    val ins = cust.filter(col("c_custkey") % 97 === 0)
      .withColumn("c_custkey", col("c_custkey") + 1000000)
      .withColumn("c_mktsegment", lit("NEW"))
    t.merge(
      upd.unionByName(del).unionByName(ins),
      keyCol = "c_custkey",
      deleteCondSql = Some("s.c_mktsegment = 'DEL'"),
      updateSetSql = Map(
        "c_acctbal"    -> "t.c_acctbal + 100.0",
        "c_mktsegment" -> "s.c_mktsegment"))
    t.scan().orderBy("c_custkey")
  }

  private val mergeOracle =
    """WITH merged AS (
        SELECT c_custkey, c_name, c_nationkey,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
               CASE WHEN c_custkey % 7 = 0 THEN 'UPD' ELSE c_mktsegment END AS c_mktsegment
        FROM customer WHERE c_custkey % 7 <> 1),
      ins AS (
        SELECT c_custkey + 1000000 AS c_custkey, c_name, c_nationkey, c_acctbal,
               'NEW' AS c_mktsegment
        FROM customer WHERE c_custkey % 97 = 0)
      SELECT * FROM merged UNION ALL SELECT * FROM ins ORDER BY c_custkey"""

  /** REST catalog lifecycle (the reference's Nessie role): create through
    * the HTTP client against an embedded loopback service, append, publish
    * the new snapshot via the CAS pointer swap, then load back through the
    * catalog and scan. Data never moves through the catalog — only
    * metadata pointers cross the wire, at any table size. */
  private def restCatalogQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "rest")
    val server = new RestCatalogServer(wh).start()
    try {
      val cat    = new RestCatalog(s, server.uri)
      val nation = Tables.nation(s, d)
      val t      = cat.createOrReplaceTable("graft", "nations_rest", nation)
      val before = cat.metadataLocation("graft", "nations_rest")
      t.append(nation)
      cat.commitSwap("graft", "nations_rest", before, t.metadataLocation)
      cat.loadTable("graft", "nations_rest").scan().orderBy("n_nationkey", "n_name")
    } finally server.stop()
  }

  /** Write-audit-publish (WAP) — the Iceberg branch workflow for guarded
    * ingest: stage the new batch on an `audit` branch (main is untouched
    * and still serves the old data), validate the staged state, then
    * publish atomically by fast-forwarding main. A failed audit would
    * simply drop the branch — nothing to roll back, because nothing was
    * published. All pointer moves: zero data IO beyond the staged write,
    * at any table size. */
  private def wapQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "wap")
    val cat    = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    val t      = cat.createOrReplaceTable("graft", "nations_wap", nation) // main: snapshot 1
    t.createBranch("audit")
    t.appendToBranch("audit", nation) // staged, invisible on main
    val mainBefore = t.scan().count()
    // audit gate: staged row count must be exactly double the published one
    require(t.scanRef("audit").count() == mainBefore * 2, "WAP audit failed")
    t.fastForward("audit") // publish
    t.dropRef("audit")
    t.scan().orderBy("n_nationkey", "n_name")
  }

  /** `FOR TIMESTAMP AS OF` time travel: capture a wall-clock instant
    * between two commits, then scan as of that instant — only the first
    * commit is visible. Snapshot resolution is a metadata-log lookup;
    * data IO starts only at the chosen snapshot's scan. */
  private def timestampTravelQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "tsasof")
    val cat    = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    val t      = cat.createOrReplaceTable("graft", "nations_ts", nation) // snapshot 1
    val instant = System.currentTimeMillis()
    Thread.sleep(5) // ensure the next commit lands strictly after `instant`
    t.append(nation)                                                     // snapshot 2
    t.scanAsOf(instant).orderBy("n_nationkey")
  }

  /** `t.history` metadata table under a rollback: snapshots orphaned by the
    * pointer move must show `is_current_ancestor = false` (Iceberg history
    * semantics) while the re-based append chains off the restored head. */
  private def historyQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "hist")
    val cat    = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    val t = cat.createOrReplaceTable("graft", "nations_hist", nation.coalesce(1)) // snap 1
    t.append(nation.filter(col("n_regionkey") === 0).coalesce(1))                 // snap 2
    t.append(nation.filter(col("n_regionkey") === 1).coalesce(1))                 // snap 3
    t.rollback(2L)                                                 // orphan snap 3
    t.append(nation.filter(col("n_regionkey") === 2).coalesce(1))  // snap 4, parent 2
    t.historyTable().orderBy("snapshot_id")
  }

  private val historyOracle =
    """SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id,
              CAST(parent_id AS BIGINT) AS parent_id,
              is_current_ancestor
       FROM (VALUES (1, 0, true), (2, 1, true), (3, 2, false), (4, 2, true))
         t(snapshot_id, parent_id, is_current_ancestor)
       ORDER BY snapshot_id"""

  /** `t.partitions` metadata table: per-partition file counts from manifest
    * paths alone (planning-sized), joined with scan-derived row counts —
    * the fragmentation inventory a compaction scheduler consumes. File
    * counts are deterministic because every commit is a single write task
    * (coalesce(1)): one file per partition value it touches. */
  private def partitionsMetaQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "ptm")
    val cat    = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    val t = cat.createOrReplaceTable("graft", "nations_ptm",
      nation.coalesce(1), Seq("n_regionkey"))                     // 1 file/region
    t.append(nation.filter(col("n_regionkey") < 2).coalesce(1))   // +1 in r0, r1
    t.append(nation.filter(col("n_regionkey") === 4).coalesce(1)) // +1 in r4
    val rows = t.scan()
      .groupBy(concat(lit("n_regionkey="), col("n_regionkey")).as("partition"))
      .agg(count(lit(1)).as("n_rows"))
    t.partitionsTable().join(rows, "partition").orderBy("partition")
  }

  private val partitionsMetaOracle =
    """SELECT 'n_regionkey=' || CAST(n_regionkey AS VARCHAR) AS partition,
              CAST(1 + CASE WHEN n_regionkey IN (0, 1, 4) THEN 1 ELSE 0 END AS BIGINT) AS n_files,
              CAST(COUNT(*) * CASE WHEN n_regionkey IN (0, 1, 4) THEN 2 ELSE 1 END AS BIGINT) AS n_rows
       FROM nation GROUP BY n_regionkey ORDER BY partition"""

  /** Standard-Iceberg `rewrite_data_files` (bin-pack compaction with
    * delete materialization): two data files + a position-delete file are
    * compacted into ONE clean data file in a replace commit. The gate
    * checks all three contract points: the current snapshot plans exactly
    * one file and scans with no delete joins; time travel to the
    * pre-rewrite snapshot still applies the merge-on-read delete; time
    * travel to the first snapshot still sees the undeleted rows. */
  private def icebergRewriteDataQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root   = freshDir(s, "icerw")
    val loc    = s"$root/nations_rw_ice"
    val nation = Tables.nation(s, d).orderBy("n_nationkey")
    val lo  = IcebergFormat.writeSingleFile(s, loc, "lo", nation.filter(col("n_nationkey") < 10))
    val hi  = IcebergFormat.writeSingleFile(s, loc, "hi", nation.filter(col("n_nationkey") >= 10))
    val del = Seq((lo.path, 0L), (lo.path, 3L), (lo.path, 7L)).toDF("file_path", "pos")
    val w = new IcebergFormat.Writer(s, loc, nation.schema)
    w.commit(Seq(lo, hi))                                                     // snap 1
    w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "del", del, content = 1)))    // snap 2
    val preRewrite = IcebergFormat.scan(s, w.currentMetadataPath)
      .orderBy("n_nationkey")
    val compacted = IcebergFormat.writeSingleFile(s, loc, "compacted", preRewrite)
    w.rewriteDataFiles(Seq(compacted))                                        // snap 3
    val planned = IcebergFormat.planFiles(s, w.currentMetadataPath, "n_nationkey", None, None)
    require(planned.size == 1, s"bin-pack left ${planned.size} files, expected 1")
    val atDelete = IcebergFormat.scanAt(s, w.currentMetadataPath, 2L).count()
    val atStart  = IcebergFormat.scanAt(s, w.currentMetadataPath, 1L).count()
    require(atStart == atDelete + 3,
      s"time travel broken by rewrite: snap1=$atStart snap2=$atDelete")
    new Engine(s, new FsCatalog(s, freshDir(s, "icerw_wh")))
      .scanIcebergMetadata(w.currentMetadataPath)
      .orderBy("n_nationkey")
  }

  private val icebergRewriteDataOracle =
    "SELECT * FROM nation WHERE n_nationkey NOT IN (0, 3, 7) ORDER BY n_nationkey"

  /** `t.refs` metadata table with per-ref visible row counts: a tag pinned
    * at the create, a branch with an isolated commit ahead of main, and
    * the implicit main pointer — the full named-ref inventory (Nessie's
    * catalog view) resolved to snapshot ids plus what each ref actually
    * sees. Ref resolution is a metadata map lookup; the three counts are
    * planning-cheap scans through each pinned snapshot. */
  private def refsQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wh     = freshDir(s, "refs")
    val cat    = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    var t = cat.createOrReplaceTable("graft", "nations_refs", nation)    // snap 1
    t = t.createTag("v1")                                                // pin at 1
    t = t.append(nation.filter(col("n_regionkey") === 0))                // snap 2
    t = t.createBranch("dev")                                            // at main=2
    t = t.appendToBranch("dev", nation.filter(col("n_regionkey") === 1)) // snap 3
    val refRows = t.refsTable().collect().map { r =>
      val name = r.getString(0)
      (name, r.getString(1), r.getLong(2), t.scanRef(name).count())
    }.toSeq
    refRows.toDF("ref", "ref_type", "snapshot_id", "n_rows").orderBy("ref")
  }

  private val refsOracle =
    """SELECT ref, ref_type, CAST(snapshot_id AS BIGINT) AS snapshot_id,
              CAST(n_rows AS BIGINT) AS n_rows
       FROM (VALUES ('main', 'branch', 2, 30), ('dev', 'branch', 3, 35),
                    ('v1', 'tag', 1, 25)) t(ref, ref_type, snapshot_id, n_rows)
       ORDER BY ref"""

  /** DataSource V2 packaging (SURVEY.md §4): the same two-file layout as
    * ic08, but read through `spark.read.format("icelite")` with a plain
    * `.filter(...)` — no scanRange call anywhere. SupportsPushDownFilters
    * hands the bound to planFilesBounds, and the require proves the
    * BatchScan planned 1 of 2 files (the scan description carries
    * `files=<survivors>/<total>`, visible in .explain too). This is what
    * makes min/max skipping fire from arbitrary Spark SQL WHERE clauses,
    * not just library callers. */
  private def dsv2Pushdown(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "dsv2")
    val cat    = new FsCatalog(s, wh)
    val orders = Tables.orders(s, d)
    val t = cat.createOrReplaceTable("graft", "orders_v2",
      orders.filter(col("o_orderkey") < 1000).coalesce(1))
    t.append(orders.filter(col("o_orderkey") >= 1000).coalesce(1))
    val df = s.read.format("icelite").option("location", t.location.toString).load()
      .filter(col("o_orderkey") <= 999)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val plan = df.queryExecution.executedPlan.toString
    require(plan.contains("files=1/2"),
      s"DSv2 min/max file skipping did not prune (expected files=1/2): $plan")
    df.orderBy("o_orderkey")
  }

  /** Metadata-only COUNT(*) through the DSv2 aggregate pushdown
    * (SupportsPushDownAggregates): a plain `SELECT COUNT(*)` on the V2
    * source must be answered from the manifests' record counts with ZERO
    * data-file reads — proven by the files-opened counter staying flat
    * across execution. ic48 gates the same capability as a library call;
    * this is the SQL-surface packaging of it. */
  private def dsv2CountQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "dsv2cnt")
    val cat    = new FsCatalog(s, wh)
    val orders = Tables.orders(s, d)
    val t = cat.createOrReplaceTable("graft", "orders_cnt",
      orders.filter(col("o_orderkey") < 1000).coalesce(1))
    t.append(orders.filter(col("o_orderkey") >= 1000).coalesce(1))
    val df = s.read.format("icelite").option("location", t.location.toString).load()
      .agg(count(lit(1)).as("n_rows"))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    require(plan.contains("metadata-only count"),
      s"COUNT(*) was not answered from metadata: $plan")
    graft.sources.IceLiteSource.filesOpened.reset()
    val n = df.collect()
    require(graft.sources.IceLiteSource.filesOpened.sum() == 0L,
      "metadata-only count opened data files")
    require(n.length == 1, "count produced more than one row")
    df
  }

  /** Runtime (join-driven) partition pruning through the DSv2 source
    * (SupportsRuntimeFiltering — Spark's dynamic partition pruning over
    * OUR table metadata): the fact table is partitioned by priority, the
    * dimension filter selects ONE priority, and at execution time the
    * scan receives the dim side's actual keys and drops the other four
    * partition directories before any reader opens. The files-opened
    * counter proves the IO never happened — the behavior that matters at
    * 100 TB, where a star-join's fact scan must read only the partitions
    * the dimension actually selects. */
  private def dsv2RuntimePruneQ(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "dsv2rt")
    val cat = new FsCatalog(s, wh)
    val t = cat.createOrReplaceTable("graft", "orders_rt",
      Tables.orders(s, d).select("o_orderkey", "o_orderpriority", "o_totalprice"),
      Seq("o_orderpriority"))
    val dim = Tables.orders(s, d)
      .select(col("o_orderpriority").as("p")).distinct()
      .filter(col("p") === "1-URGENT")
    val fact = s.read.format("icelite").option("location", t.location.toString).load()
    val joined = fact.join(broadcast(dim), col("o_orderpriority") === col("p"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("o_totalprice").cast("decimal(12,2)") * 100)).cast("bigint").as("cents"))
      .orderBy("o_orderpriority")
    graft.sources.IceLiteSource.filesOpened.reset()
    val rows = joined.collect()
    val opened = graft.sources.IceLiteSource.filesOpened.sum()
    val total  = IcebergFormat.inputFiles(t.scan()).length.toLong
    require(opened < total,
      s"runtime filtering pruned nothing: opened $opened of $total files")
    require(rows.length == 1, s"expected one priority group, got ${rows.length}")
    joined
  }

  /** DSv2 WRITE round trip: `df.write.format("icelite").save()` appends a
    * snapshot through the V2 BatchWrite (executors write parquet + stats
    * in one pass, the driver CAS-commits pure metadata), `overwrite` maps
    * to replace, and the written files participate in min/max file
    * skipping exactly like library-path appends (scanRange require). The
    * final read goes back through the V2 reader. */
  private def dsv2WriteQ(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "dsv2w")
    val cat = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    // create an empty-shaped table, then drive BOTH V2 write modes
    val t = cat.createOrReplaceTable("graft", "nation_w", nation.limit(0))
    val opts = Map("location" -> t.location.toString)
    nation.filter(col("n_nationkey") < 10).coalesce(1)
      .write.format("icelite").options(opts).mode("overwrite").save() // replace the empty snap
    nation.filter(col("n_nationkey") >= 10).coalesce(1)
      .write.format("icelite").options(opts).mode("append").save()
    // writer-collected stats must drive file skipping like any append
    val pruned = t.scanRange("n_nationkey", Some("0"), Some("9"))
    require(IcebergFormat.inputFiles(pruned).length == 1,
      s"V2-written file stats failed to prune: read ${IcebergFormat.inputFiles(pruned).length} files")
    require(t.snapshots().size == 3, s"expected 3 snapshots, got ${t.snapshots().size}")
    s.read.format("icelite").option("location", t.location.toString).load()
      .orderBy("n_nationkey")
  }

  /** V2 time travel: `option("snapshot", id)` and
    * `option("asOfTimestamp", ms)` pin the SQL-surface read to a
    * historical snapshot — the same semantics the library's
    * scanSnapshot/scanAsOf have, now reachable from
    * spark.read.format("icelite"). Both forms must agree with each
    * other (require) and with the oracle's view of snapshot 1. */
  private def dsv2TimeTravelQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "dsv2tt")
    val cat    = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    val t = cat.createOrReplaceTable("graft", "nation_tt", nation) // snapshot 1
    Thread.sleep(15) // strictly later wall clock so the timestamp pin is unambiguous
    t.append(nation.filter(col("n_regionkey") === 0))              // snapshot 2
    val snap1Ts = t.snapshots().find(_.snapshot_id == 1L).get.timestamp_ms
    val bySnap = s.read.format("icelite")
      .option("location", t.location.toString).option("snapshot", "1").load()
    val byTs = s.read.format("icelite")
      .option("location", t.location.toString)
      .option("asOfTimestamp", snap1Ts.toString).load()
    require(byTs.count() == bySnap.count(),
      "asOfTimestamp travel diverged from snapshot-id travel")
    require(t.scan().count() > bySnap.count(),
      "current snapshot should see the second append")
    bySnap.orderBy("n_nationkey")
  }

  /** The TableCatalog plugin end to end, entirely in SQL: register the
    * warehouse as catalog `ice_sql`, then CREATE TABLE AS SELECT,
    * INSERT INTO, SHOW TABLES and SELECT-by-name — zero library calls.
    * CTAS + INSERT both land real CAS snapshots through the V2 write
    * path, and the final by-name SELECT resolves through the same scan
    * (file skipping, stats, DPP all apply to SQL-by-name access). */
  private def sqlCatalogV2Q(s: SparkSession, d: String): DataFrame = {
    val wh = freshDir(s, "sqlcat")
    s.conf.set("spark.sql.catalog.ice_sql", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_sql.warehouse", wh)
    Tables.nation(s, d).createOrReplaceTempView("nation_src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS ice_sql.graft")
    s.sql("DROP TABLE IF EXISTS ice_sql.graft.nation_sql")
    s.sql("CREATE TABLE ice_sql.graft.nation_sql AS SELECT * FROM nation_src")
    s.sql("INSERT INTO ice_sql.graft.nation_sql SELECT * FROM nation_src WHERE n_regionkey = 0")
    val shown = s.sql("SHOW TABLES IN ice_sql.graft")
      .select("tableName").collect().map(_.getString(0))
    require(shown.contains("nation_sql"), s"SHOW TABLES missed the table: ${shown.mkString(",")}")
    val out = s.sql("""SELECT n_regionkey, COUNT(*) AS n
             FROM ice_sql.graft.nation_sql GROUP BY 1 ORDER BY 1""")
    // resolve now (analysis embeds the V2 Table into the plan), then drop
    // the catalog registration so it doesn't leak into later queries
    out.queryExecution.assertAnalyzed()
    s.conf.unset("spark.sql.catalog.ice_sql")
    s.conf.unset("spark.sql.catalog.ice_sql.warehouse")
    out
  }

  /** The TableCatalog plugin bound to the REST catalog service — the
    * reference's PRIMARY deployment shape (PyIceberg RestCatalog against
    * Nessie, `bot_iceberg_loader.py:245-262`, `query_iceberg.ipynb:110-125`)
    * driven entirely from plain SQL: CREATE NAMESPACE, CTAS, INSERT INTO,
    * ALTER TABLE ADD COLUMN, SHOW TABLES and SELECT-by-name, with every
    * write published to the service by a CAS pointer swap. The requires
    * prove the SERVICE (not the filesystem) tracked the lineage: after
    * CTAS + INSERT + ALTER the catalog pointer must name metadata v4
    * (v1 create, v2 CTAS rows, v3 INSERT, v4 ADD COLUMN) — a stale
    * pointer means a commit bypassed the catalog. Only pointers cross the
    * wire at any table size; the final SELECT plans from FS metadata and
    * reads parquet directly. */
  private def restSqlCatalogQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "restsql")
    val server = new RestCatalogServer(wh).start()
    try {
      s.conf.set("spark.sql.catalog.ice_rest", "graft.sources.IceLiteCatalog")
      s.conf.set("spark.sql.catalog.ice_rest.uri", server.uri)
      Tables.nation(s, d).createOrReplaceTempView("nation_rest_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_rest.graft")
      s.sql("CREATE TABLE ice_rest.graft.nation_rest AS SELECT * FROM nation_rest_src")
      s.sql("""INSERT INTO ice_rest.graft.nation_rest
               SELECT * FROM nation_rest_src WHERE n_regionkey = 0""")
      s.sql("ALTER TABLE ice_rest.graft.nation_rest ADD COLUMN extra DOUBLE")
      val shown = s.sql("SHOW TABLES IN ice_rest.graft")
        .select("tableName").collect().map(_.getString(0))
      require(shown.contains("nation_rest"),
        s"SHOW TABLES via REST missed the table: ${shown.mkString(",")}")
      val client  = new RestCatalog(s, server.uri)
      val pointer = client.metadataLocation("graft", "nation_rest")
      require(pointer.endsWith("v4.json"),
        s"REST pointer did not follow the SQL commits (expected v4.json): $pointer")
      val out = s.sql("""SELECT n_regionkey, COUNT(*) AS n, COUNT(extra) AS n_extra
               FROM ice_rest.graft.nation_rest GROUP BY 1 ORDER BY 1""")
      out.queryExecution.assertAnalyzed()
      s.conf.unset("spark.sql.catalog.ice_rest")
      s.conf.unset("spark.sql.catalog.ice_rest.uri")
      out
    } finally server.stop()
  }

  /** Register a throwaway per-tag SQL catalog (`ice_dml_<tag>`) over a
    * fresh warehouse, run `body`, then unset — shared plumbing for the
    * row-level SQL gates (ic58/ic59/ic60). The catalog NAME must be
    * tag-unique: Spark's CatalogManager caches plugin instances by name
    * for the session's lifetime, so a shared name would pin whichever
    * warehouse the FIRST of these queries registered — any later query
    * reusing the name would silently write into the wrong warehouse
    * (caught by a registry-subset run where map order put ic60 before
    * ic58 and ic58's file-level gates missed their table). */
  private def withDmlCatalog(s: SparkSession, tag: String)(body: (String, String) => DataFrame): DataFrame =
    withTagCatalog(s, tag)(body)

  /** The shared per-tag catalog plumbing behind [[withDmlCatalog]] and
    * [[withMorCatalog]]: register, run, assert analyzed, unset — with
    * optional extra session confs scoped the same way. The catalog NAME
    * is tag-unique because Spark's CatalogManager caches plugin
    * instances by name for the session's lifetime. */
  private def withTagCatalog(s: SparkSession, tag: String,
      extraConfs: Map[String, String] = Map.empty,
      catPrefix: String = "ice_dml_")(
      body: (String, String) => DataFrame): DataFrame = {
    val wh  = freshDir(s, tag)
    val cat = s"$catPrefix$tag"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    extraConfs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val out = body(cat, wh)
      out.queryExecution.assertAnalyzed()
      out
    } finally {
      extraConfs.keys.foreach(s.conf.unset)
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  /** NESTED types through the V2 WRITE path (ic51's reader twin): a
    * struct + list + map view of orders is written with
    * `df.write.format("icelite").option("iceberg", "true")` — executors
    * write nested parquet with Iceberg field ids, the driver commits real
    * v2 metadata — and read back through the METADATA by the v2 reader.
    * The requires prove (a) the nested schema round-tripped through the
    * committed schema JSON and (b) the parquet footers carry the SAME
    * field ids the schema assigns (id-based column identity, the spec's
    * rename-safety contract). Flattened for the DuckDB nested-parquet
    * oracle. */
  private def icebergV2WriteNestedQ(s: SparkSession, d: String): DataFrame = {
    val root = freshDir(s, "icev2w")
    val loc  = s"$root/orders_nested_w"
    val base = Tables.orders(s, d).filter(col("o_orderkey") < 500)
      .select(
        col("o_orderkey"),
        struct(col("o_orderstatus").as("status"), col("o_totalprice").as("total")).as("info"),
        split(col("o_orderpriority"), "-").as("prio_parts"),
        map(lit("cust"), col("o_custkey")).as("attrs"))
    base.write.format("icelite").option("iceberg", "true")
      .option("location", loc).mode("overwrite").save()
    val fs   = new Path(loc).getFileSystem(s.sparkContext.hadoopConfiguration)
    val meta = IcebergFormat.currentMetadataPath(s, loc)
    val scanned = new Engine(s, new FsCatalog(s, freshDir(s, "icev2w_wh")))
      .scanIcebergMetadata(meta)
    require(scanned.schema.catalogString == base.schema.catalogString,
      s"nested schema did not round-trip through the V2 write: " +
        s"${scanned.schema.catalogString} vs ${base.schema.catalogString}")
    // field-id audit: the parquet footer's ids must equal the schema's
    // assignment (top-level 1..n, nested continuing after n)
    val dataFile = {
      val it = fs.listFiles(new Path(loc, "data"), true)
      var p: Path = null
      while (it.hasNext && p == null) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) p = f
      }
      require(p != null, "V2 iceberg write staged no parquet")
      p
    }
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        dataFile, s.sparkContext.hadoopConfiguration))
    val msg = try rdr.getFooter.getFileMetaData.getSchema finally rdr.close()
    def idOf(t: org.apache.parquet.schema.Type): Int = Option(t.getId).map(_.intValue).getOrElse(-1)
    def top(n: String): org.apache.parquet.schema.Type = msg.getFields.get(msg.getFieldIndex(n))
    require(idOf(top("o_orderkey")) == 1 && idOf(top("info")) == 2 &&
      idOf(top("prio_parts")) == 3 && idOf(top("attrs")) == 4,
      s"top-level parquet field ids diverged from the Iceberg schema: $msg")
    locally {
      val info = top("info").asGroupType
      require(idOf(info.getFields.get(info.getFieldIndex("status"))) == 5,
        s"nested parquet field ids diverged from the Iceberg schema: $msg")
    }
    scanned.select(
      col("o_orderkey"),
      col("info.status").as("status"),
      col("info.total").as("total"),
      concat_ws("-", col("prio_parts")).as("prio"),
      element_at(col("attrs"), "cust").as("custkey"))
      .orderBy("o_orderkey")
  }

  /** Plain-SQL `DELETE FROM` through the connector
    * (`SupportsRowLevelOperations`, group-based copy-on-write — the SQL a
    * lakehouse user types first, reference surface
    * `query_iceberg_minio.ipynb:1119-1180`). The table is committed as
    * two snapshots so low/high key ranges land in separate files; the
    * DELETE's condition reaches the row-level scan via
    * GroupBasedRowLevelOperationScanPlanning, manifest min/max pruning
    * bounds the rewrite to the low file, and the requires prove BOTH
    * halves of the copy-on-write contract: the untouched file carried BY
    * THE SAME PHYSICAL PATH (zero IO), and the affected file was
    * rewritten (old path gone). At 100 TB a keyed delete rewrites its
    * blast radius, never the table. */
  private def sqlDeleteQ(s: SparkSession, d: String): DataFrame =
    withDmlCatalog(s, "sqldel") { (c, wh) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .createOrReplaceTempView("orders_dml_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $c.graft")
      s.sql(s"""CREATE TABLE $c.graft.orders_del AS
                SELECT * FROM orders_dml_src WHERE o_orderkey < 7500""")
      val cat  = new FsCatalog(s, wh)
      def files() = { val t = cat.loadTable("graft", "orders_del")
                      t.filesOf(t.metadata.currentSnapshot.get).toSet }
      val fLow = files() // CTAS commit: every file's o_orderkey range starts < 500
      s.sql(s"""INSERT INTO $c.graft.orders_del
                SELECT * FROM orders_dml_src WHERE o_orderkey >= 7500""")
      val fHigh = files() -- fLow // INSERT commit: min o_orderkey >= 15000 everywhere
      require(fLow.nonEmpty && fHigh.nonEmpty, "expected files from both commits")
      s.sql(s"DELETE FROM $c.graft.orders_del WHERE o_orderkey < 500")
      val t2    = cat.loadTable("graft", "orders_del")
      val after = t2.filesOf(t2.metadata.currentSnapshot.get).toSet
      require(t2.metadata.currentSnapshot.get.operation == "delete",
        "SQL DELETE did not land a delete snapshot")
      // the pruned high-range files carry by identical physical path (zero IO)...
      require(fHigh.subsetOf(after),
        s"pruned high-range files were rewritten: ${fHigh -- after}")
      // ...and every affected low-range file was rewritten out
      require((fLow & after).isEmpty,
        s"low-range files survived the copy-on-write rewrite: ${fLow & after}")
      s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                FROM $c.graft.orders_del ORDER BY o_orderkey""")
    }

  private val sqlDeleteOracle =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
       FROM orders WHERE NOT (o_orderkey < 500) ORDER BY o_orderkey"""

  /** Plain-SQL `UPDATE` through the connector: same group-based rewrite,
    * with Spark's RewriteUpdateTable planning the assignment. */
  private def sqlUpdateQ(s: SparkSession, d: String): DataFrame =
    withDmlCatalog(s, "sqlupd") { (c, _) =>
      Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
        .createOrReplaceTempView("cust_upd_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $c.graft")
      s.sql(s"CREATE TABLE $c.graft.cust_upd AS SELECT * FROM cust_upd_src")
      s.sql(s"""UPDATE $c.graft.cust_upd
                SET c_acctbal = c_acctbal + 100.0, c_mktsegment = 'BOOSTED'
                WHERE c_acctbal < 0""")
      s.sql(s"""SELECT c_custkey, c_nationkey,
                       CAST(ROUND(c_acctbal, 2) AS DOUBLE) AS bal, c_mktsegment
                FROM $c.graft.cust_upd ORDER BY c_custkey""")
    }

  private val sqlUpdateOracle =
    """SELECT c_custkey, c_nationkey,
              CAST(ROUND(CASE WHEN c_acctbal < 0 THEN c_acctbal + 100.0 ELSE c_acctbal END, 2) AS DOUBLE) AS bal,
              CASE WHEN c_acctbal < 0 THEN 'BOOSTED' ELSE c_mktsegment END AS c_mktsegment
       FROM customer ORDER BY c_custkey"""

  /** SQL time travel by snapshot id through the catalog plugin:
    * `SELECT ... FROM cat.ns.t VERSION AS OF 1` — the TableCatalog
    * `loadTable(ident, version)` overload pins the scan to snapshot 1
    * (pre-INSERT), so the query sees the table as of the CTAS commit
    * while the current-version count proves the INSERT landed. The
    * reference exposes the same via DuckDB's
    * `iceberg_scan(..., version=...)` / PyIceberg snapshot reads. */
  private def sqlVersionAsOfQ(s: SparkSession, d: String): DataFrame = {
    val wh = freshDir(s, "sqlvao")
    s.conf.set("spark.sql.catalog.ice_vao", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_vao.warehouse", wh)
    try {
      Tables.nation(s, d).createOrReplaceTempView("nation_tt_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_vao.graft")
      s.sql("CREATE TABLE ice_vao.graft.nation_vao AS SELECT * FROM nation_tt_src")
      s.sql("""INSERT INTO ice_vao.graft.nation_vao
               SELECT * FROM nation_tt_src WHERE n_regionkey = 0""")
      val v1  = s.sql("SELECT * FROM ice_vao.graft.nation_vao VERSION AS OF 1")
      val cur = s.sql("SELECT COUNT(*) AS n FROM ice_vao.graft.nation_vao")
        .collect()(0).getLong(0)
      require(cur > v1.count(),
        s"current version ($cur rows) should see the second append past v1 (${v1.count()})")
      val out = v1.orderBy("n_nationkey")
      out.queryExecution.assertAnalyzed()
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_vao")
      s.conf.unset("spark.sql.catalog.ice_vao.warehouse")
    }
  }

  /** SQL time travel by wall clock through the catalog plugin:
    * `TIMESTAMP AS OF` — Spark folds the pin expression to MICROseconds
    * and calls `loadTable(ident, timestamp)`; the catalog resolves the
    * latest snapshot at-or-before. Pinned via `timestamp_millis(<snap1
    * commit ms>)` so the query is timezone-independent, and the require
    * proves wall-clock travel agrees with snapshot-id travel. */
  private def sqlTimestampAsOfQ(s: SparkSession, d: String): DataFrame = {
    val wh = freshDir(s, "sqltao")
    s.conf.set("spark.sql.catalog.ice_tao", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_tao.warehouse", wh)
    try {
      Tables.nation(s, d).createOrReplaceTempView("nation_tt_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_tao.graft")
      s.sql("CREATE TABLE ice_tao.graft.nation_tao AS SELECT * FROM nation_tt_src")
      Thread.sleep(15) // strictly later wall clock so the ms pin is unambiguous
      s.sql("""INSERT INTO ice_tao.graft.nation_tao
               SELECT * FROM nation_tt_src WHERE n_regionkey = 0""")
      val snap1Ts = new FsCatalog(s, wh).loadTable("graft", "nation_tao")
        .snapshots().find(_.snapshot_id == 1L).get.timestamp_ms
      val byTs = s.sql(
        s"SELECT * FROM ice_tao.graft.nation_tao TIMESTAMP AS OF timestamp_millis(${snap1Ts}L)")
      val byV  = s.sql("SELECT * FROM ice_tao.graft.nation_tao VERSION AS OF 1")
      require(byTs.count() == byV.count(),
        "TIMESTAMP AS OF travel diverged from VERSION AS OF travel")
      val out = byTs.orderBy("n_nationkey")
      out.queryExecution.assertAnalyzed()
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_tao")
      s.conf.unset("spark.sql.catalog.ice_tao.warehouse")
    }
  }

  /** SQL metadata tables through the catalog plugin:
    * `SELECT ... FROM cat.ns.t.snapshots` joined with `.history` — the
    * Iceberg inspection surface by name ([[graft.sources.LocalDataFrameTable]],
    * a LocalScan over planning-sized metadata, zero data IO; the reference
    * reads the same via PyIceberg's `table.inspect`/DuckDB metadata
    * functions). Deterministic because each commit is a single write task
    * (1-file source view), so file counts are structural. */
  private def sqlMetaTablesQ(s: SparkSession, d: String): DataFrame = {
    val wh = freshDir(s, "sqlmeta")
    s.conf.set("spark.sql.catalog.ice_meta", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_meta.warehouse", wh)
    try {
      Tables.nation(s, d).coalesce(1).createOrReplaceTempView("nation_meta_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_meta.graft")
      s.sql("CREATE TABLE ice_meta.graft.nation_meta AS SELECT * FROM nation_meta_src")
      s.sql("""INSERT INTO ice_meta.graft.nation_meta
               SELECT * FROM nation_meta_src WHERE n_regionkey = 0""")
      val refs = s.sql("SELECT * FROM ice_meta.graft.nation_meta.refs").count()
      require(refs >= 1, "refs metadata table returned no rows")
      val parts = s.sql("SELECT * FROM ice_meta.graft.nation_meta.partitions").count()
      require(parts == 1, s"unpartitioned table should report 1 partition row, got $parts")
      val out = s.sql(
        """SELECT s.snapshot_id, s.parent_id, s.operation, s.n_files, s.is_current,
                  h.is_current_ancestor
           FROM ice_meta.graft.nation_meta.snapshots s
           JOIN ice_meta.graft.nation_meta.history h ON s.snapshot_id = h.snapshot_id
           ORDER BY s.snapshot_id""")
      out.queryExecution.assertAnalyzed()
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_meta")
      s.conf.unset("spark.sql.catalog.ice_meta.warehouse")
    }
  }

  private val sqlMetaTablesOracle =
    """SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id,
              CAST(parent_id AS BIGINT) AS parent_id,
              operation,
              CAST(n_files AS BIGINT) AS n_files,
              is_current, is_current_ancestor
       FROM (VALUES (1, 0, 'append', 1, false, true),
                    (2, 1, 'append', 2, true, true))
         t(snapshot_id, parent_id, operation, n_files, is_current, is_current_ancestor)
       ORDER BY snapshot_id"""

  /** SQL `INSERT OVERWRITE` through the catalog: Spark plans the static
    * full-table overwrite as truncate+append against the V2 write
    * (SupportsTruncate), which lands ONE atomic replace snapshot — the
    * previous snapshot stays time-travelable (require below), nothing is
    * deleted in place. */
  private def sqlInsertOverwriteQ(s: SparkSession, d: String): DataFrame = {
    val wh = freshDir(s, "sqlovw")
    s.conf.set("spark.sql.catalog.ice_ovw", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_ovw.warehouse", wh)
    try {
      Tables.nation(s, d).createOrReplaceTempView("nation_ovw_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_ovw.graft")
      s.sql("CREATE TABLE ice_ovw.graft.nation_ovw AS SELECT * FROM nation_ovw_src")
      s.sql("""INSERT OVERWRITE ice_ovw.graft.nation_ovw
               SELECT * FROM nation_ovw_src WHERE n_regionkey = 0""")
      val full = s.sql("SELECT COUNT(*) AS n FROM ice_ovw.graft.nation_ovw VERSION AS OF 1")
        .collect()(0).getLong(0)
      val cur = s.sql("SELECT COUNT(*) AS n FROM ice_ovw.graft.nation_ovw")
        .collect()(0).getLong(0)
      require(cur < full,
        s"overwrite did not replace ($full -> $cur rows); pre-overwrite snapshot must remain readable")
      val out = s.sql("SELECT * FROM ice_ovw.graft.nation_ovw ORDER BY n_nationkey")
      out.queryExecution.assertAnalyzed()
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_ovw")
      s.conf.unset("spark.sql.catalog.ice_ovw.warehouse")
    }
  }

  private val sqlInsertOverwriteOracle =
    "SELECT * FROM nation WHERE n_regionkey = 0 ORDER BY n_nationkey"

  /** SQL DDL + DML on a PARTITIONED table: `CREATE TABLE ... PARTITIONED
    * BY (identity)` through the catalog, then a plain `INSERT INTO` that
    * exercises the V2 partitioned write — rows are clustered+sorted on
    * the partition column by the write's required distribution, the
    * rolling writer lands ONE file per partition value (structural, not a
    * coalesce accident), partition values ride the escaped hive path
    * ('4-NOT SPECIFIED' has a space — the round-7 stats-loss regression
    * surface), and per-file min=max partition stats make a partition
    * predicate prune files from plain SQL (files=1/5 required in-plan).
    * At 100 TB: one shuffle keyed on the partition column, writers never
    * hold more than one open file, commit is O(files) metadata. */
  private def sqlPartitionedInsertQ(s: SparkSession, d: String): DataFrame = {
    val wh = freshDir(s, "sqlpdl")
    s.conf.set("spark.sql.catalog.ice_pdl", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_pdl.warehouse", wh)
    try {
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .createOrReplaceTempView("orders_pdl_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_pdl.graft")
      s.sql("""CREATE TABLE ice_pdl.graft.orders_pdl
               (o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)
               PARTITIONED BY (o_orderpriority)""")
      s.sql("INSERT INTO ice_pdl.graft.orders_pdl SELECT * FROM orders_pdl_src")
      val parts = s.sql(
        "SELECT partition, n_files FROM ice_pdl.graft.orders_pdl.partitions").collect()
      require(parts.length == 5 && parts.forall(_.getLong(1) == 1L),
        s"expected 5 partitions x 1 file, got ${parts.mkString(",")}")
      val pruned = s.sql("""SELECT COUNT(*) AS n FROM ice_pdl.graft.orders_pdl
                            WHERE o_orderpriority = '1-URGENT'""")
      val plan = pruned.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      require(plan.contains("files=1/5"),
        "partition predicate did not prune files from SQL:\n" + plan.take(800))
      val out = s.sql(
        """SELECT o_orderpriority, COUNT(*) AS n,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
           FROM ice_pdl.graft.orders_pdl GROUP BY 1 ORDER BY 1""")
      out.queryExecution.assertAnalyzed()
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_pdl")
      s.conf.unset("spark.sql.catalog.ice_pdl.warehouse")
    }
  }

  private val sqlPartitionedInsertOracle =
    """SELECT o_orderpriority, COUNT(*) AS n,
              CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
       FROM orders GROUP BY 1 ORDER BY 1"""

  /** DYNAMIC partition overwrite through SQL
    * (`spark.sql.sources.partitionOverwriteMode=dynamic` +
    * `INSERT OVERWRITE`): only the partitions the query writes are
    * replaced — every other partition's files carry BY IDENTICAL
    * PHYSICAL PATH (zero IO, proven below), the Iceberg
    * dynamic-overwrite contract. At 100 TB this is how a daily
    * restatement rewrites one day, not the table. */
  private def sqlDynamicOverwriteQ(s: SparkSession, d: String): DataFrame = {
    val wh = freshDir(s, "sqldyn")
    s.conf.set("spark.sql.catalog.ice_dyn", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_dyn.warehouse", wh)
    val prevMode = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .createOrReplaceTempView("orders_dyn_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_dyn.graft")
      s.sql("""CREATE TABLE ice_dyn.graft.orders_dyn
               (o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)
               PARTITIONED BY (o_orderpriority)""")
      s.sql("INSERT INTO ice_dyn.graft.orders_dyn SELECT * FROM orders_dyn_src")
      val cat = new FsCatalog(s, wh)
      def files() = { val t = cat.loadTable("graft", "orders_dyn")
                      t.filesOf(t.metadata.currentSnapshot.get).toSet }
      val before = files()
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      s.sql("""INSERT OVERWRITE ice_dyn.graft.orders_dyn
               SELECT o_orderkey, o_orderpriority, 0.0D
               FROM orders_dyn_src WHERE o_orderpriority = '1-URGENT'""")
      val after = files()
      val untouchedBefore = before.filterNot(_.contains("o_orderpriority=1-URGENT"))
      require(untouchedBefore.subsetOf(after),
        s"untouched partitions were rewritten: ${untouchedBefore -- after}")
      require((before -- untouchedBefore -- after) == (before -- untouchedBefore),
        "the overwritten partition's old file survived")
      val out = s.sql(
        """SELECT o_orderpriority, COUNT(*) AS n,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
           FROM ice_dyn.graft.orders_dyn GROUP BY 1 ORDER BY 1""")
      out.queryExecution.assertAnalyzed()
      out
    } finally {
      prevMode match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None    => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      s.conf.unset("spark.sql.catalog.ice_dyn")
      s.conf.unset("spark.sql.catalog.ice_dyn.warehouse")
    }
  }

  private val sqlDynamicOverwriteOracle =
    """SELECT o_orderpriority, COUNT(*) AS n,
              CAST(SUM(CAST(CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 0.0
                                      ELSE o_totalprice END AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
       FROM orders GROUP BY 1 ORDER BY 1"""

  /** SQL maintenance procedures through the catalog plugin
    * (`CALL cat.system.<proc>(...)` — Spark's V2 ProcedureCatalog, the
    * Iceberg `CALL` idiom): a 3-commit/3-file table is compacted to one
    * file (`rewrite_data_files`), its history GC'd to one snapshot
    * (`expire_snapshots` — which also reclaims the now-unreferenced
    * pre-compaction files, so the subsequent `remove_orphan_files` sweep
    * must find NOTHING), and each call's audit rows come back as the
    * statement's result set. Scale: maintenance is metadata + targeted
    * file IO; results are O(1) rows. */
  private def sqlCallProceduresQ(s: SparkSession, d: String): DataFrame = {
    val wh = freshDir(s, "sqlcall")
    s.conf.set("spark.sql.catalog.ice_call", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_call.warehouse", wh)
    try {
      Tables.nation(s, d).coalesce(1).createOrReplaceTempView("nation_call_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_call.graft")
      s.sql("CREATE TABLE ice_call.graft.nation_call AS SELECT * FROM nation_call_src")
      s.sql("""INSERT INTO ice_call.graft.nation_call
               SELECT * FROM nation_call_src WHERE n_regionkey = 0""")
      s.sql("""INSERT INTO ice_call.graft.nation_call
               SELECT * FROM nation_call_src WHERE n_regionkey = 1""")
      // Assert the NAME SET (not a count): adding a procedure to
      // IceLiteProcedures.names can then never silently re-break this
      // query the way round 8's fifth procedure did.
      val shown = s.sql("SHOW PROCEDURES IN ice_call.system").collect()
      val shownNames = shown.map { r =>
        // endsWith, not contains: "namespace" also contains "name"
        val i = r.schema.fields.indexWhere(f => f.dataType == org.apache.spark.sql.types.StringType && f.name.toLowerCase.endsWith("name"))
        require(i >= 0, s"SHOW PROCEDURES row has no name column: ${r.schema.fieldNames.mkString(",")}")
        r.getString(i)
      }.toSet
      require(shownNames == graft.sources.IceLiteProcedures.names,
        s"SHOW PROCEDURES mismatch: listed=$shownNames expected=${graft.sources.IceLiteProcedures.names}")
      val rw = s.sql("CALL ice_call.system.rewrite_data_files('graft', 'nation_call', 1)")
        .collect()(0)
      val ex = s.sql("CALL ice_call.system.expire_snapshots('graft', 'nation_call', 1)")
        .collect()(0)
      val orphans = s.sql("CALL ice_call.system.remove_orphan_files('graft', 'nation_call', 0L)")
        .count()
      require(orphans == 0,
        s"expire should have reclaimed the pre-compaction files, sweep found $orphans")
      val rows = s.sql("SELECT COUNT(*) FROM ice_call.graft.nation_call").collect()(0).getLong(0)
      import s.implicits._
      val out = Seq(
        ("expire_snapshots", ex.getLong(0), ex.getLong(1)),
        ("post_maintenance_rows", rows, rows),
        ("remove_orphan_files", orphans, orphans),
        ("rewrite_data_files", rw.getLong(0), rw.getLong(1)))
        .toDF("proc", "before", "after").orderBy("proc")
      out.queryExecution.assertAnalyzed()
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_call")
      s.conf.unset("spark.sql.catalog.ice_call.warehouse")
    }
  }

  private val sqlCallProceduresOracle =
    """WITH n AS (SELECT COUNT(*) AS full_n FROM nation),
         r0 AS (SELECT COUNT(*) AS r0_n FROM nation WHERE n_regionkey = 0),
         r1 AS (SELECT COUNT(*) AS r1_n FROM nation WHERE n_regionkey = 1)
       SELECT proc, before, after FROM (
         SELECT 'expire_snapshots' AS proc, CAST(4 AS BIGINT) AS before, CAST(1 AS BIGINT) AS after
         UNION ALL
         SELECT 'post_maintenance_rows', full_n + r0_n + r1_n, full_n + r0_n + r1_n FROM n, r0, r1
         UNION ALL
         SELECT 'remove_orphan_files', 0, 0
         UNION ALL
         SELECT 'rewrite_data_files', 3, 1)
       ORDER BY proc"""

  /** METADATA-ONLY SQL DELETE: on a partitioned table, `DELETE FROM t
    * WHERE <partition predicate>` is provable file-by-file from manifest
    * stats (each file carries min=max partition values and hive
    * partition values are uniform per file), so Spark's
    * OptimizeMetadataOnlyDeleteFromTable swaps the copy-on-write rewrite
    * for the table's `SupportsDelete.deleteWhere` — ONE snapshot commit
    * dropping the matching files, ZERO data files read or written
    * (proven below by path identity: survivors carry by the same
    * physical path and no new file appears). Iceberg's partition-aligned
    * DELETE; at 100 TB dropping a day is O(manifests) metadata. */
  private def sqlMetadataDeleteQ(s: SparkSession, d: String): DataFrame = {
    val wh = freshDir(s, "sqlmdd")
    s.conf.set("spark.sql.catalog.ice_mdd", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_mdd.warehouse", wh)
    try {
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .createOrReplaceTempView("orders_mdd_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_mdd.graft")
      s.sql("""CREATE TABLE ice_mdd.graft.orders_mdd
               (o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)
               PARTITIONED BY (o_orderpriority)""")
      s.sql("INSERT INTO ice_mdd.graft.orders_mdd SELECT * FROM orders_mdd_src")
      val cat = new FsCatalog(s, wh)
      def state() = { val t = cat.loadTable("graft", "orders_mdd")
                      (t.metadata.currentSnapshot.get,
                        t.filesOf(t.metadata.currentSnapshot.get).toSet) }
      val (_, before) = state()
      require(before.size == 5, s"expected 5 partition files, got ${before.size}")
      s.sql("""DELETE FROM ice_mdd.graft.orders_mdd
               WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""")
      val (snap, after) = state()
      require(snap.operation == "delete", s"expected a delete snapshot, got ${snap.operation}")
      // metadata-only: survivors carry by IDENTICAL path, nothing new written
      require(after.subsetOf(before) && (before -- after).size == 2,
        s"expected exactly the 2 matching partition files dropped by path;" +
          s" before=${before.size} after=${after.size} new=${after -- before}")
      val out = s.sql(
        """SELECT o_orderpriority, COUNT(*) AS n,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
           FROM ice_mdd.graft.orders_mdd GROUP BY 1 ORDER BY 1""")
      out.queryExecution.assertAnalyzed()
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_mdd")
      s.conf.unset("spark.sql.catalog.ice_mdd.warehouse")
    }
  }

  private val sqlMetadataDeleteOracle =
    """SELECT o_orderpriority, COUNT(*) AS n,
              CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
       FROM orders WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       GROUP BY 1 ORDER BY 1"""

  /** STATIC-partition overwrite (`INSERT OVERWRITE ... PARTITION (c = v)`
    * — SupportsOverwrite): Spark folds the static partition value into
    * both the written rows and the overwrite condition; the condition is
    * file-provable (metadata-DELETE classification), so the statement is
    * ONE atomic snapshot — the matching partition's old file dropped, the
    * staged rows appended, every other file carried by identical physical
    * path (proven below). The restated partition carries modified values
    * so the oracle distinguishes overwrite from append. */
  private def sqlStaticPartitionOverwriteQ(s: SparkSession, d: String): DataFrame = {
    val wh = freshDir(s, "sqlspo")
    s.conf.set("spark.sql.catalog.ice_spo", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_spo.warehouse", wh)
    try {
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .createOrReplaceTempView("orders_spo_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_spo.graft")
      s.sql("""CREATE TABLE ice_spo.graft.orders_spo
               (o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)
               PARTITIONED BY (o_orderpriority)""")
      s.sql("INSERT INTO ice_spo.graft.orders_spo SELECT * FROM orders_spo_src")
      val cat = new FsCatalog(s, wh)
      def files() = { val t = cat.loadTable("graft", "orders_spo")
                      t.filesOf(t.metadata.currentSnapshot.get).toSet }
      val before = files()
      s.sql("""INSERT OVERWRITE ice_spo.graft.orders_spo
               PARTITION (o_orderpriority = '1-URGENT')
               SELECT o_orderkey, 0.0D
               FROM orders_spo_src
               WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0""")
      val after = files()
      val untouched = before.filterNot(_.contains("o_orderpriority=1-URGENT"))
      require(untouched.subsetOf(after),
        s"untouched partitions were rewritten: ${untouched -- after}")
      require(!(before -- untouched).exists(after),
        "the overwritten partition's old file survived")
      val out = s.sql(
        """SELECT o_orderpriority, COUNT(*) AS n,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
           FROM ice_spo.graft.orders_spo GROUP BY 1 ORDER BY 1""")
      out.queryExecution.assertAnalyzed()
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_spo")
      s.conf.unset("spark.sql.catalog.ice_spo.warehouse")
    }
  }

  private val sqlStaticPartitionOverwriteOracle =
    """WITH t AS (
         SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
         WHERE o_orderpriority <> '1-URGENT'
         UNION ALL
         SELECT o_orderkey, o_orderpriority, 0.0 FROM orders
         WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0)
       SELECT o_orderpriority, COUNT(*) AS n,
              CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
       FROM t GROUP BY 1 ORDER BY 1"""

  /** Like [[withDmlCatalog]] but in MERGE-ON-READ mode and with a
    * per-query catalog name (`ice_<tag>`): Spark's CatalogManager caches
    * plugin instances BY NAME, so reusing a name across queries would
    * silently pin the first query's warehouse. */
  private def withMorCatalog(s: SparkSession, tag: String)(body: (String, String) => DataFrame)
      : DataFrame =
    withTagCatalog(s, tag,
      extraConfs = Map("graft.delete.mode" -> "merge-on-read"),
      catPrefix = "ice_")(body)

  /** MERGE-ON-READ SQL DELETE (`SupportsDelta` + position-delete files —
    * Iceberg v2's `write.delete.mode = merge-on-read`): the delete commits
    * in O(matched rows) with ZERO data files rewritten; readers apply the
    * deleted positions from range-pruned bitmaps. The requires prove the
    * physical contract the mode exists for: the data file set is
    * BYTE-IDENTICAL before and after, the commit added only position
    * deletes, the plan was a WriteDelta (not a group rewrite), and the
    * metadata-count shortcut turned itself off (physical counts would
    * over-count under live deletes). At 100 TB this is the low-latency
    * delete path: a 10-row GDPR erasure on a 10-TB table writes a few-KB
    * delete file and one metadata CAS. */
  private def sqlMorDeleteQ(s: SparkSession, d: String): DataFrame =
    withMorCatalog(s, "mordel") { (cat, wh) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .createOrReplaceTempView("orders_mor_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      s.sql(s"CREATE TABLE $cat.graft.orders_mordel AS SELECT * FROM orders_mor_src")
      val fsCat = new FsCatalog(s, wh)
      def t()   = fsCat.loadTable("graft", "orders_mordel")
      val before = { val x = t(); x.filesOf(x.metadata.currentSnapshot.get).toSet }
      val plan = s.sql(
        s"EXPLAIN EXTENDED DELETE FROM $cat.graft.orders_mordel WHERE o_orderkey < 500")
        .head().getString(0)
      require(plan.contains("WriteDelta"),
        s"merge-on-read DELETE did not plan a WriteDelta:\n$plan")
      s.sql(s"DELETE FROM $cat.graft.orders_mordel WHERE o_orderkey < 500")
      val t2    = t()
      val snap  = t2.metadata.currentSnapshot.get
      val after = t2.filesOf(snap).toSet
      require(after == before,
        s"merge-on-read DELETE rewrote data files: ${(before -- after) ++ (after -- before)}")
      require(t2.deleteEntriesOf(snap).nonEmpty, "no position-delete files committed")
      require(snap.operation == "delete", s"unexpected snapshot operation ${snap.operation}")
      require(t2.statsRowCount(snap).isEmpty,
        "metadata COUNT(*) stayed on despite live position deletes")
      s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                FROM $cat.graft.orders_mordel ORDER BY o_orderkey""")
    }

  private val sqlMorDeleteOracle =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
       FROM orders WHERE NOT (o_orderkey < 500) ORDER BY o_orderkey"""

  /** MERGE-ON-READ SQL UPDATE: `representUpdateAsDeleteAndInsert` splits
    * each matched row into a position delete + a fresh insert row, so the
    * original files stay untouched (they gain delete debt) and one new
    * data file lands with the updated rows — write cost O(updated rows),
    * not O(affected files). The read stitches both plus the deletes. */
  private def sqlMorUpdateQ(s: SparkSession, d: String): DataFrame =
    withMorCatalog(s, "morupd") { (cat, wh) =>
      Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
        .createOrReplaceTempView("cust_morupd_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      s.sql(s"CREATE TABLE $cat.graft.cust_morupd AS SELECT * FROM cust_morupd_src")
      val fsCat  = new FsCatalog(s, wh)
      def t()    = fsCat.loadTable("graft", "cust_morupd")
      val before = { val x = t(); x.filesOf(x.metadata.currentSnapshot.get).toSet }
      s.sql(s"""UPDATE $cat.graft.cust_morupd
                SET c_acctbal = c_acctbal + 100.0, c_mktsegment = 'BOOSTED'
                WHERE c_acctbal < 0""")
      val t2   = t()
      val snap = t2.metadata.currentSnapshot.get
      require(before.subsetOf(t2.filesOf(snap).toSet),
        "merge-on-read UPDATE rewrote the original data files")
      require(t2.deleteEntriesOf(snap).nonEmpty, "UPDATE committed no position deletes")
      require((t2.filesOf(snap).toSet -- before).nonEmpty, "UPDATE staged no insert file")
      s.sql(s"""SELECT c_custkey, c_nationkey,
                       CAST(ROUND(c_acctbal, 2) AS DOUBLE) AS bal, c_mktsegment
                FROM $cat.graft.cust_morupd ORDER BY c_custkey""")
    }

  private val sqlMorUpdateOracle =
    """SELECT c_custkey, c_nationkey,
              CAST(ROUND(CASE WHEN c_acctbal < 0 THEN c_acctbal + 100.0 ELSE c_acctbal END, 2) AS DOUBLE) AS bal,
              CASE WHEN c_acctbal < 0 THEN 'BOOSTED' ELSE c_mktsegment END AS c_mktsegment
       FROM customer ORDER BY c_custkey"""

  /** MERGE-ON-READ multi-clause `MERGE INTO`: matched deletes and matched
    * updates both become position deletes (updates also reinsert), NOT
    * MATCHED rows insert — one delta commit, zero data rewrite. Different
    * key moduli than the copy-on-write twin ic59 so the two results
    * diverge if either mode's clause routing is wrong. */
  private def sqlMorMergeQ(s: SparkSession, d: String): DataFrame =
    withMorCatalog(s, "mormrg") { (cat, wh) =>
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
      cust.createOrReplaceTempView("cust_mormrg_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      s.sql(s"CREATE TABLE $cat.graft.cust_mormrg AS SELECT * FROM cust_mormrg_src")
      val fsCat  = new FsCatalog(s, wh)
      def t()    = fsCat.loadTable("graft", "cust_mormrg")
      val before = { val x = t(); x.filesOf(x.metadata.currentSnapshot.get).toSet }
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW mormrg_updates AS
                SELECT c_custkey, c_nationkey, c_acctbal - 500.0 AS c_acctbal,
                       'MORMERGED' AS c_mktsegment
                FROM cust_mormrg_src WHERE c_custkey % 5 = 0
                UNION ALL
                SELECT c_custkey + 2000000, c_nationkey, c_acctbal, 'MORNEW'
                FROM cust_mormrg_src WHERE c_custkey % 89 = 0""")
      s.sql(s"""MERGE INTO $cat.graft.cust_mormrg t
                USING mormrg_updates s
                ON t.c_custkey = s.c_custkey
                WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE
                WHEN MATCHED THEN UPDATE SET
                  c_acctbal = s.c_acctbal, c_mktsegment = s.c_mktsegment
                WHEN NOT MATCHED THEN INSERT *""")
      val t2   = t()
      val snap = t2.metadata.currentSnapshot.get
      require(before.subsetOf(t2.filesOf(snap).toSet),
        "merge-on-read MERGE rewrote the original data files")
      require(t2.deleteEntriesOf(snap).nonEmpty, "MERGE committed no position deletes")
      s.sql(s"""SELECT c_custkey, c_nationkey,
                       CAST(ROUND(c_acctbal, 2) AS DOUBLE) AS bal, c_mktsegment
                FROM $cat.graft.cust_mormrg ORDER BY c_custkey""")
    }

  private val sqlMorMergeOracle =
    """WITH src AS (
         SELECT c_custkey, c_nationkey, c_acctbal - 500.0 AS c_acctbal,
                'MORMERGED' AS c_mktsegment
         FROM customer WHERE c_custkey % 5 = 0
         UNION ALL
         SELECT c_custkey + 2000000, c_nationkey, c_acctbal, 'MORNEW'
         FROM customer WHERE c_custkey % 89 = 0),
       merged AS (
         SELECT t.c_custkey, t.c_nationkey,
                CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
                CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment,
                (s.c_custkey IS NOT NULL AND s.c_acctbal < 0) AS deleted
         FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey),
       inserted AS (
         SELECT s.c_custkey, s.c_nationkey, s.c_acctbal, s.c_mktsegment
         FROM src s LEFT JOIN customer t ON t.c_custkey = s.c_custkey
         WHERE t.c_custkey IS NULL)
       SELECT c_custkey, c_nationkey, CAST(ROUND(c_acctbal, 2) AS DOUBLE) AS bal, c_mktsegment
       FROM (SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment FROM merged WHERE NOT deleted
             UNION ALL
             SELECT * FROM inserted)
       ORDER BY c_custkey"""

  /** ic89: PARTITION EVOLUTION on a LIVE table — the Iceberg behavior the
    * reference's blog sells as core lakehouse value and ic33 only touched
    * from the unpartitioned side. Era A commits under spec 0
    * (identity(n_regionkey), one manifest per region); the spec then
    * EVOLVES to spec 1 (identity(n_regionkey) + bucket(4, n_nationkey))
    * and era B commits one manifest per (region, bucket) cell. Reads span
    * both eras, and manifest-list pruning is counter-gated on each spec's
    * OWN axes: a region filter prunes BOTH eras' manifests through the
    * shared identity axis, while a key point-lookup bucket-prunes only
    * era-B manifests — era-A manifests (no bucket axis) are kept
    * conservatively, exactly the per-spec planning the Iceberg spec
    * requires (files are pruned by the spec that wrote them). The
    * standard-format twin evolves a hive layout the same way
    * (unpartitioned era → n_regionkey-partitioned era) and its
    * cross-layout scan must match the native result row-for-row. */
  private def icebergPartitionEvolutionQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    val wh = freshDir(s, "i89")
    s.conf.set("spark.sql.catalog.ice_i89", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i89.warehouse", wh)
    try {
      val loc = s"$wh/graft/nat_i89"
      // bounded key slice: the lifecycle is what's under test, so the
      // fixture stays scale-CONSTANT — the key-shifted scale datasets
      // inflate nation (and its region space) 100×, which would turn
      // one-commit-per-(region,bucket)-cell into hundreds of commits
      val nation = Tables.nation(s, d)
        .filter(col("n_nationkey") < 25).orderBy("n_nationkey")
      val nB   = 4
      val eraA = nation.filter(col("n_nationkey") < 12)
      val eraB = nation.filter(col("n_nationkey") >= 12)
      // era A: spec 0 = identity(n_regionkey), one commit (=> manifest) per
      // region. The files for ALL regions write in ONE job (r17 — a
      // writeSingleFile loop paid a full job round-trip per commit for
      // scale-constant 25-row fixtures); the commits stay one per region,
      // so the snapshot/manifest history is byte-equivalent.
      val w = new IcebergFormat.Writer(s, loc, nation.schema, Seq("n_regionkey"))
      val regsA = eraA.select("n_regionkey").distinct()
        .collect().map(_.getInt(0)).sorted
      val filesA = IcebergFormat.writeGroupedFiles(
        s, loc, eraA, col("n_regionkey"), g => s"a_r$g")
      regsA.foreach { r =>
        w.commit(Seq(filesA(r.toString)
          .copy(partitionValues = Map("n_regionkey" -> Int.box(r)))))
      }
      // EVOLVE: keep the identity axis, add a bucket axis
      w.evolveSpec(Seq("n_regionkey", s"bucket($nB, n_nationkey)"))
      // era B: spec 1, one commit per (region, bucket) cell — cell
      // membership is driver-computed (bounded key slice) and injected as
      // a literal lookup map so the per-cell files also stage in one job
      val cells = eraB.select("n_nationkey", "n_regionkey").collect()
        .map(row => (row.getInt(0), row.getInt(1)))
        .groupBy { case (k, r) =>
          (r, (IcebergFormat.specHashLong(k.toLong) & Int.MaxValue) % nB)
        }.toSeq.sortBy(_._1)
      val keyToCell = cells.flatMap { case ((r, b), ks) =>
        ks.map { case (k, _) => k -> s"r${r}_b$b" }
      }.toMap
      val filesB = IcebergFormat.writeGroupedFiles(
        s, loc, eraB,
        element_at(typedLit(keyToCell), col("n_nationkey")), g => s"b_$g")
      cells.foreach { case ((r, b), _) =>
        w.commit(Seq(filesB(s"r${r}_b$b")
          .copy(partitionValues = Map(
            "n_regionkey" -> Int.box(r), "n_nationkey_bucket" -> Int.box(b)))))
      }
      // the metadata carries BOTH specs, default = the evolved one
      locally {
        val p  = new Path(w.currentMetadataPath)
        val md = graft.icelite.SpecMetadata.read(p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
        require(md.defaultSpecId == 1 && md.specs.size == 2,
          "evolved metadata must keep both specs with default-spec-id 1")
      }
      // gate 1 — SHARED identity axis: a region filter prunes both eras'
      // manifests down to exactly the region-2 ones
      val expShared = regsA.count(_ == 2) + cells.count(_._1._1 == 2)
      IcebergFormat.manifestReadsAtPlanning.reset()
      val q1 = s.sql(
        """SELECT * FROM ice_i89.graft.nat_i89
           WHERE n_regionkey = 2 ORDER BY n_nationkey""")
      val rows1 = q1.collect()
      val reads1 = IcebergFormat.manifestReadsAtPlanning.sum()
      require(reads1 == expShared,
        s"region filter read $reads1 manifests across both specs, expected $expShared")
      // gate 2 — era-B's OWN bucket axis: a key point-lookup bucket-prunes
      // era-B manifests; era-A manifests (spec 0 has no n_nationkey axis)
      // are conservatively kept
      val kProbe = 24
      val bProbe = (IcebergFormat.specHashLong(kProbe.toLong) & Int.MaxValue) % nB
      val expPoint = regsA.length + cells.count(_._1._2 == bProbe)
      IcebergFormat.manifestReadsAtPlanning.reset()
      require(s.sql(
        s"SELECT * FROM ice_i89.graft.nat_i89 WHERE n_nationkey = $kProbe")
        .collect().length == 1, s"point lookup for key $kProbe lost the row")
      val reads2 = IcebergFormat.manifestReadsAtPlanning.sum()
      require(reads2 == expPoint,
        s"point lookup read $reads2 manifests, expected $expPoint " +
          s"(${regsA.length} spec-0 kept + era-B bucket $bProbe cells)")
      // standard-format twin: unpartitioned era -> evolve -> hive era;
      // the cross-layout scan must match the native result row-for-row
      val fsCat = new FsCatalog(s, freshDir(s, "i89_std"))
      val tStd = fsCat.createOrReplaceTable("graft", "nat_i89_std", eraA)
      tStd.evolvePartitioning(Seq("n_regionkey"))
      tStd.append(eraB)
      val t2 = fsCat.loadTable("graft", "nat_i89_std")
      val stdFiles = t2.filesOf(t2.metadata.currentSnapshot.get)
      require(stdFiles.exists(_.contains("n_regionkey=")) &&
        stdFiles.exists(!_.contains("n_regionkey=")),
        "standard twin should hold files from both partition layouts")
      val stdScan = t2.scan().filter(col("n_regionkey") === 2)
      val native  = s.createDataFrame(java.util.Arrays.asList(rows1: _*), q1.schema)
      requireSameRows(stdScan, native,
        "standard-twin cross-layout scan diverged from the native spec-evolved scan")
      native
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i89")
      s.conf.unset("spark.sql.catalog.ice_i89.warehouse")
    }
  }

  private val icebergPartitionEvolutionOracle =
    """SELECT * FROM nation WHERE n_nationkey < 25 AND n_regionkey = 2
       ORDER BY n_nationkey"""

  /** ic90: SCHEMA TYPE PROMOTION — the other half of "schema evolution
    * without rewriting data" (ic30 covers add-column): widen int→bigint
    * and float→double via ALTER TABLE through the V2 catalog, field ids
    * PRESERVED and zero data files rewritten; rows appended after the
    * promotion carry values only the wide types can hold, and the full
    * read coerces the old narrow files through the widened schema
    * (Spark's parquet readers widen int32/float chunks natively). The
    * native-format twin runs the same promotion through the Writer's
    * schema-evolution path — with explicit 4-byte bounds on the narrow
    * file so planning proves promoted-column pruning still works
    * (decodeBound widens the old serialization) — and its scan is
    * digest-gated against the V2 table. */
  private def sqlTypePromotionQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    import org.apache.spark.sql.types._
    val wh = freshDir(s, "i90")
    s.conf.set("spark.sql.catalog.ice_i90", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i90.warehouse", wh)
    try {
      val nation = Tables.nation(s, d)
      nation.createOrReplaceTempView("nation_i90_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_i90.graft")
      s.sql("""CREATE TABLE ice_i90.graft.nat_i90 AS
               SELECT CAST(n_nationkey AS INT) AS key_i, n_name,
                      CAST(n_nationkey + 0.25 AS FLOAT) AS score
               FROM nation_i90_src""")
      val fsCat = new FsCatalog(s, wh)
      def t()   = fsCat.loadTable("graft", "nat_i90")
      val (idsBefore, filesBefore) = {
        val x = t()
        (x.metadata.fields.map(f => f.name -> f.id).toMap,
          x.filesOf(x.metadata.currentSnapshot.get).toSet)
      }
      s.sql("ALTER TABLE ice_i90.graft.nat_i90 ALTER COLUMN key_i TYPE BIGINT")
      s.sql("ALTER TABLE ice_i90.graft.nat_i90 ALTER COLUMN score TYPE DOUBLE")
      locally {
        val x  = t()
        val md = x.metadata
        require(md.fields.map(f => f.name -> f.id).toMap == idsBefore,
          "type promotion must preserve field ids")
        require(md.fields.find(_.name == "key_i").get.`type` == "bigint" &&
          md.fields.find(_.name == "score").get.`type` == "double",
          "promoted types not recorded")
        require(filesBefore.subsetOf(x.filesOf(md.currentSnapshot.get).toSet),
          "type promotion rewrote data files")
      }
      // rows only the WIDE types can hold
      s.sql("""INSERT INTO ice_i90.graft.nat_i90
               SELECT CAST(n_nationkey + 9000000000 AS BIGINT), n_name,
                      CAST(n_nationkey + 0.1 AS DOUBLE)
               FROM nation_i90_src WHERE n_nationkey < 5""")
      val v2Out = s.sql(
        "SELECT key_i, n_name, score FROM ice_i90.graft.nat_i90 ORDER BY key_i")

      // native-format twin: same promotion through the Writer, plus a
      // pruning proof over the narrow file's ORIGINAL 4-byte bounds
      val loc = s"$wh/nat_i90_native"
      val narrowDf = nation.select(
        col("n_nationkey").cast("int").as("key_i"), col("n_name"),
        (col("n_nationkey") + lit(0.25)).cast("float").as("score"))
      val w = new IcebergFormat.Writer(s, loc, narrowDf.schema)
      def le4(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
      w.commit(Seq(
        IcebergFormat.writeSingleFile(s, loc, "narrow", narrowDf)
          .copy(bounds = Map(1 -> (le4(0), le4(24)))))) // key_i in [0, 24], int-serialized
      val widened = StructType(Seq(
        StructField("key_i", LongType), StructField("n_name", StringType),
        StructField("score", DoubleType)))
      w.evolveSchema(widened)
      val wideDf = nation.filter(col("n_nationkey") < 5).select(
        (col("n_nationkey") + lit(9000000000L)).cast("long").as("key_i"), col("n_name"),
        (col("n_nationkey") + lit(0.1)).cast("double").as("score"))
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "wide", wideDf)))
      // the narrow file's int-serialized bounds must still prune under
      // the widened long schema: a wide-range probe keeps only the wide file
      val planned = IcebergFormat.planFiles(
        s, w.currentMetadataPath, "key_i", Some("9000000000"), Some("9999999999"))
      require(planned.size == 1 && planned.head.endsWith("wide.parquet"),
        s"widened-bound pruning kept $planned, expected just the wide file")
      val nativeScan = IcebergFormat.scan(s, w.currentMetadataPath)
      requireSameRows(nativeScan, s.sql("SELECT key_i, n_name, score FROM ice_i90.graft.nat_i90"),
        "native-twin promoted scan diverged from the V2 table")
      v2Out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i90")
      s.conf.unset("spark.sql.catalog.ice_i90.warehouse")
    }
  }

  private val sqlTypePromotionOracle =
    """WITH narrow AS (
         SELECT CAST(n_nationkey AS BIGINT) AS key_i, n_name,
                CAST(CAST(n_nationkey + 0.25 AS REAL) AS DOUBLE) AS score
         FROM nation),
       wide AS (
         SELECT CAST(n_nationkey + 9000000000 AS BIGINT) AS key_i, n_name,
                CAST(n_nationkey + 0.1 AS DOUBLE) AS score
         FROM nation WHERE n_nationkey < 5)
       SELECT * FROM narrow UNION ALL SELECT * FROM wide ORDER BY key_i"""

  /** ic92: RENAME/DROP/re-ADD COLUMN without rewriting data — the last
    * piece of Iceberg schema evolution (ic30 adds, ic90 promotes): names
    * are display-only, identity is the FIELD ID (spec "Column
    * Projection"). The writers stamp `parquet.field.id` into every data
    * file, and a rename/drop flips the table to read-by-id, so
    *  - a renamed column's old files keep their values (a by-name read
    *    would null them out),
    *  - a dropped column's data stays in the files but leaves the schema
    *    with its id retired forever, and
    *  - re-adding the same NAME takes a fresh id, so the old values can
    *    NEVER resurrect — the gate a name-resolved engine fails.
    * Runs on the V2 catalog (ALTER TABLE RENAME/DROP COLUMN through
    * [[graft.icelite.IceTable.renameColumns]]/[[graft.icelite.IceTable.dropColumns]])
    * with a native-format twin through the Writer, including a
    * planFiles proof that min/max pruning on the renamed column still
    * fires (bounds are keyed by the unchanged field id). */
  private def renameDropColumnQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    val wh = freshDir(s, "i92")
    s.conf.set("spark.sql.catalog.ice_i92", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i92.warehouse", wh)
    try {
      val nation = Tables.nation(s, d)
      nation.createOrReplaceTempView("nation_i92_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_i92.graft")
      s.sql("""CREATE TABLE ice_i92.graft.nat_i92 AS
               SELECT CAST(n_nationkey AS BIGINT) AS key_i, n_name,
                      CAST(n_regionkey AS INT) AS region_code
               FROM nation_i92_src""")
      val fsCat = new FsCatalog(s, wh)
      def t()   = fsCat.loadTable("graft", "nat_i92")
      val (idsBefore, filesBefore) = {
        val x = t()
        (x.metadata.fields.map(f => f.name -> f.id).toMap,
          x.filesOf(x.metadata.currentSnapshot.get).toSet)
      }
      // RENAME: field id preserved, zero files rewritten, read-by-id on
      s.sql("ALTER TABLE ice_i92.graft.nat_i92 RENAME COLUMN region_code TO region_id")
      locally {
        val md = t().metadata
        require(md.fields.find(_.name == "region_id").map(_.id) ==
          idsBefore.get("region_code"), "rename must preserve the field id")
        require(!md.schema.fieldNames.contains("region_code"), "old name still in schema")
        require(md.readById, "rename must flip the table to read-by-id")
        require(t().filesOf(md.currentSnapshot.get).toSet == filesBefore,
          "rename rewrote data files")
      }
      // pre-rename files keep their values under the new name (id-bound
      // read; by-name resolution would surface NULLs here), and a filter
      // on the renamed column sees them
      val nNation = nation.count()
      require(s.sql(
        "SELECT count(*) AS c FROM ice_i92.graft.nat_i92 WHERE region_id IS NOT NULL")
        .head().getLong(0) == nNation, "renamed column lost pre-rename values")
      val expR2 = nation.filter(col("n_regionkey") === 2).count()
      require(s.sql(
        "SELECT count(*) AS c FROM ice_i92.graft.nat_i92 WHERE region_id = 2")
        .head().getLong(0) == expR2, "filter on the renamed column diverged")
      // DROP: metadata-only, then re-ADD the same name -> FRESH id, and
      // the old values must NOT resurrect
      s.sql("ALTER TABLE ice_i92.graft.nat_i92 DROP COLUMN n_name")
      locally {
        val md = t().metadata
        require(!md.schema.fieldNames.contains("n_name"), "dropped column still in schema")
        require(t().filesOf(md.currentSnapshot.get).toSet == filesBefore,
          "drop rewrote data files")
      }
      s.sql("ALTER TABLE ice_i92.graft.nat_i92 ADD COLUMN n_name STRING")
      locally {
        val md = t().metadata
        require(md.fields.find(_.name == "n_name").exists(fi =>
          fi.id != idsBefore("n_name") && fi.id > idsBefore.values.max),
          "re-added column must take a fresh field id past every retired one")
      }
      require(s.sql(
        "SELECT count(*) AS c FROM ice_i92.graft.nat_i92 WHERE n_name IS NOT NULL")
        .head().getLong(0) == 0L,
        "dropped column's old values resurrected through the re-added name")
      // era-2 rows under the evolved schema carry real n_name values
      s.sql("""INSERT INTO ice_i92.graft.nat_i92
               SELECT CAST(n_nationkey + 100 AS BIGINT), CAST(n_regionkey AS INT), n_name
               FROM nation_i92_src WHERE n_nationkey < 5""")
      val v2Out = s.sql(
        "SELECT key_i, region_id, n_name FROM ice_i92.graft.nat_i92 ORDER BY key_i")

      // native-format twin: the same evolution through the Writer, with a
      // pruning proof — era-1 splits into two region-ranged files whose
      // explicit int bounds must survive the rename (keyed by field id)
      val loc = s"$wh/nat_i92_native"
      val df0 = nation.select(col("n_nationkey").cast("bigint").as("key_i"), col("n_name"),
        col("n_regionkey").cast("int").as("region_code"))
      def le4(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
      val w = new IcebergFormat.Writer(s, loc, df0.schema)
      w.commit(Seq(
        IcebergFormat.writeSingleFile(s, loc, "era1lo",
          df0.filter(col("region_code") <= 1)).copy(bounds = Map(3 -> (le4(0), le4(1)))),
        IcebergFormat.writeSingleFile(s, loc, "era1hi",
          df0.filter(col("region_code") >= 2)).copy(bounds = Map(3 -> (le4(2), le4(4))))))
      w.renameColumn("region_code", "region_id")
      w.dropColumn("n_name")
      w.publishSchemaChange()
      // bounds pruning on the RENAMED column: a region_id = 0 probe must
      // plan only the low file (ids key the bounds, names never did)
      val planned = IcebergFormat.planFiles(
        s, w.currentMetadataPath, "region_id", Some("0"), Some("0"))
      require(planned.size == 1 && planned.head.endsWith("era1lo.parquet"),
        s"renamed-column pruning kept $planned, expected just era1lo")
      // re-add n_name (fresh id) + era-2 rows, mirroring the V2 twin
      import org.apache.spark.sql.types._
      w.evolveSchema(StructType(Seq(
        StructField("key_i", LongType), StructField("region_id", IntegerType),
        StructField("n_name", StringType))))
      val era2 = nation.filter(col("n_nationkey") < 5).select(
        (col("n_nationkey") + 100).cast("bigint").as("key_i"),
        col("n_regionkey").cast("int").as("region_id"), col("n_name"))
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "era2", era2,
        fieldIds = Seq(1, 3, 4))))
      val nativeScan = IcebergFormat.scan(s, w.currentMetadataPath)
      requireSameRows(nativeScan,
        s.sql("SELECT key_i, region_id, n_name FROM ice_i92.graft.nat_i92"),
        "native-twin evolved scan diverged from the V2 table")
      v2Out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i92")
      s.conf.unset("spark.sql.catalog.ice_i92.warehouse")
    }
  }

  private val renameDropColumnOracle =
    """SELECT key_i, region_id, n_name FROM (
         SELECT CAST(n_nationkey AS BIGINT) AS key_i,
                CAST(n_regionkey AS INT) AS region_id,
                CAST(NULL AS VARCHAR) AS n_name
         FROM nation
         UNION ALL
         SELECT CAST(n_nationkey + 100 AS BIGINT), CAST(n_regionkey AS INT), n_name
         FROM nation WHERE n_nationkey < 5
       ) ORDER BY key_i"""

  /** ic93: CHERRY-PICK a branch snapshot onto a DIVERGED main (Iceberg's
    * `cherrypick_snapshot`). ic38's WAP flow publishes with fast-forward,
    * which requires main to have stood still; the real multi-writer
    * warehouse shape is main advancing WHILE an audit branch holds a
    * staged append. Cherry-pick replays just that snapshot's delta
    * manifests onto main's head as a new append snapshot — metadata-only,
    * zero data IO at any table size. Gates: diverged fast-forward is
    * refused, the pick is the exact file-set union, double-apply is
    * refused, and the branch pointer never moves. */
  private def cherryPickQ(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "i93")
    val cat = new FsCatalog(s, wh)
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
    val t = cat.createOrReplaceTable("graft", "orders_i93",
      ord.filter(col("o_orderkey") < 1000).coalesce(1))
    t.createBranch("ingest")
    // staged ingest on the branch...
    t.appendToBranch("ingest",
      ord.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000).coalesce(1))
    val branchHead = t.refs()("ingest").snapshot_id
    // ...while main advances independently — the diverged shape
    cat.loadTable("graft", "orders_i93").append(
      ord.filter(col("o_orderkey") >= 2000 && col("o_orderkey") < 3000).coalesce(1))
    val t2 = cat.loadTable("graft", "orders_i93")
    require(scala.util.Try(t2.fastForward("ingest")).isFailure,
      "diverged fast-forward must be refused")
    val filesBefore = t2.filesOf(t2.metadata.currentSnapshot.get).toSet
    val branchSnap  = t2.metadata.snapshot(branchHead).get
    val deltaFiles  = t2.filesOf(branchSnap).toSet --
      branchSnap.parent_snapshot_id.flatMap(t2.metadata.snapshot)
        .map(p => t2.filesOf(p).toSet).getOrElse(Set.empty)
    t2.cherryPick(branchHead)
    val t3    = cat.loadTable("graft", "orders_i93")
    val after = t3.filesOf(t3.metadata.currentSnapshot.get).toSet
    require(after == filesBefore ++ deltaFiles,
      s"cherry-pick must be the exact file-set union (got ${after.size}, " +
        s"expected ${(filesBefore ++ deltaFiles).size})")
    require(t3.metadata.currentSnapshot.get.operation == "append",
      "a cherry-picked append must land as an append snapshot")
    require(t3.refs()("ingest").snapshot_id == branchHead,
      "cherry-pick moved the branch pointer")
    require(scala.util.Try(
      cat.loadTable("graft", "orders_i93").cherryPick(branchHead)).isFailure,
      "double cherry-pick must be refused")
    t3.scan().select(col("o_orderkey"), col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(14,2)") * 100).cast("long").as("cents"))
      .orderBy("o_orderkey")
  }

  private val cherryPickOracle =
    """SELECT o_orderkey, o_orderstatus,
              CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
       FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey"""

  /** ic94: SQL metadata tables over a NATIVE Iceberg v2 table —
    * `t.snapshots` / `t.history` (one metadata-JSON read), `t.files`
    * (manifest entries) and `t.manifests` (manifest-list entries), the
    * same surface icelite tables already serve (ic64). The lifecycle
    * leaves three snapshots with HONEST summary operations (append,
    * append, delete — this round's fidelity fix is the thing under
    * test), and every row is planning-sized: zero data files opened at
    * any table size. */
  private def nativeMetaTablesQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    val wh = freshDir(s, "i94")
    s.conf.set("spark.sql.catalog.ice_i94", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i94.warehouse", wh)
    try {
      val loc = s"$wh/graft/nat_i94"
      // scale-constant fixture: the key-shifted scale datasets multiply
      // nation's rows (and key range), so pin the unshifted 25-key slice —
      // the metadata-table shapes under test are row-count-invariant
      // anyway (same lesson as ic89's evolution fixture)
      val nat = Tables.nation(s, d)
        .filter(col("n_nationkey") < 25)
        .select(col("n_nationkey").cast("bigint").as("k"), col("n_name"))
      val w = new IcebergFormat.Writer(s, loc, nat.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f1",
        nat.filter(col("k") < 15))))
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f2",
        nat.filter(col("k") >= 15))))
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_i94.graft")
      s.sql("DELETE FROM ice_i94.graft.nat_i94 WHERE k % 5 = 0") // MoR -> op "delete"
      // files: exactly the two data files, record counts from manifests
      val files = s.sql(
        """SELECT file_path, record_count FROM ice_i94.graft.nat_i94.files
           ORDER BY file_path""").collect()
      require(files.length == 2 &&
        files.map(_.getLong(1)).sum == 25 &&
        files(0).getString(0).endsWith("f1.parquet"),
        s"files metadata table wrong: ${files.mkString(";")}")
      // manifests: two data manifests + at least one delete manifest
      val mans = s.sql(
        """SELECT content, count(*) AS n FROM ice_i94.graft.nat_i94.manifests
           GROUP BY content ORDER BY content""").collect()
      require(mans.map(r => r.getInt(0) -> r.getLong(1)).toSeq == Seq(0 -> 2L, 1 -> 1L),
        s"manifests metadata table wrong: ${mans.mkString(";")}")
      // history: the linear log, every snapshot a current ancestor
      require(s.sql(
        """SELECT count(*) FROM ice_i94.graft.nat_i94.history
           WHERE is_current_ancestor""").head().getLong(0) == 3,
        "history metadata table wrong")
      s.sql("""SELECT snapshot_id, operation, sequence_number,
                      CAST(is_current AS INT) AS is_current
               FROM ice_i94.graft.nat_i94.snapshots ORDER BY snapshot_id""")
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i94")
      s.conf.unset("spark.sql.catalog.ice_i94.warehouse")
    }
  }

  private val nativeMetaTablesOracle =
    """SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id, operation,
              CAST(sequence_number AS BIGINT) AS sequence_number, is_current
       FROM (VALUES (1, 'append', 1, 0), (2, 'append', 2, 0),
                    (3, 'delete', 3, 1))
       AS t(snapshot_id, operation, sequence_number, is_current)
       ORDER BY snapshot_id"""

  /** ic95: the WRITE-AUDIT-PUBLISH workflow entirely from SQL — the
    * production shape of the reference's Nessie-branch isolation
    * (`bot_iceberg_loader.py:245-281` loads on a branch, validates, then
    * publishes): `CALL system.create_branch`, a plain `INSERT INTO`
    * staged onto the branch via the `graft.wap.branch` session conf
    * (Iceberg's `spark.wap.branch` idiom), the audit gate as `VERSION AS
    * OF 'branch'`, `CALL system.fast_forward` to publish, a release tag
    * pin, and `CALL system.cherrypick_snapshot` replaying a diverged
    * branch's commit onto main. Every step is metadata-only except the
    * staged writes themselves — at 100 TB the publish costs one metadata
    * CAS regardless of staged volume. */
  private def sqlWapQ(s: SparkSession, d: String): DataFrame = {
    val wh = freshDir(s, "sqlwap")
    s.conf.set("spark.sql.catalog.ice_wap", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_wap.warehouse", wh)
    try {
      Tables.nation(s, d).coalesce(1).createOrReplaceTempView("nation_wap_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_wap.graft")
      s.sql("CREATE TABLE ice_wap.graft.nation_wap AS SELECT * FROM nation_wap_src")
      // ---- write (staged): the branch exists, the INSERT lands on it
      s.sql("CALL ice_wap.system.create_branch('graft','nation_wap','audit',0L)")
      s.conf.set("graft.wap.branch", "audit")
      s.sql("""INSERT INTO ice_wap.graft.nation_wap
               SELECT * FROM nation_wap_src WHERE n_regionkey < 2""")
      s.conf.unset("graft.wap.branch")
      // ---- audit: staged rows visible on the branch, invisible on main
      val mainN = s.sql("SELECT COUNT(*) FROM ice_wap.graft.nation_wap").head().getLong(0)
      val stagedN = s.sql(
        "SELECT COUNT(*) FROM ice_wap.graft.nation_wap VERSION AS OF 'audit'")
        .head().getLong(0)
      require(stagedN > mainN, s"WAP isolation broken: staged $stagedN <= main $mainN")
      // ---- publish, pin a release tag, retire the work branch
      s.sql("CALL ice_wap.system.fast_forward('graft','nation_wap','audit')")
      s.sql("CALL ice_wap.system.create_tag('graft','nation_wap','release-1',0L)")
      s.sql("CALL ice_wap.system.drop_ref('graft','nation_wap','audit')")
      // ---- cherry-pick: stage on a new branch, DIVERGE main, replay
      s.sql("CALL ice_wap.system.create_branch('graft','nation_wap','side',0L)")
      s.conf.set("graft.wap.branch", "side")
      s.sql("""INSERT INTO ice_wap.graft.nation_wap
               SELECT * FROM nation_wap_src WHERE n_regionkey = 3""")
      s.conf.unset("graft.wap.branch")
      s.sql("""INSERT INTO ice_wap.graft.nation_wap
               SELECT * FROM nation_wap_src WHERE n_regionkey = 4""") // main diverges
      val sideHead = s.sql(
        "SELECT snapshot_id FROM ice_wap.graft.nation_wap.refs WHERE ref = 'side'")
        .head().getLong(0)
      s.sql(s"CALL ice_wap.system.cherrypick_snapshot('graft','nation_wap',${sideHead}L)")
      // the tag still pins the published state across both later commits
      val taggedN = s.sql(
        "SELECT COUNT(*) FROM ice_wap.graft.nation_wap VERSION AS OF 'release-1'")
        .head().getLong(0)
      require(taggedN == stagedN, s"release tag drifted: $taggedN != $stagedN")
      s.sql("""SELECT n_regionkey, COUNT(*) AS n
               FROM ice_wap.graft.nation_wap GROUP BY 1 ORDER BY 1""")
    } finally {
      s.conf.unset("graft.wap.branch")
      s.conf.unset("spark.sql.catalog.ice_wap")
      s.conf.unset("spark.sql.catalog.ice_wap.warehouse")
    }
  }

  private val sqlWapOracle =
    """SELECT n_regionkey, COUNT(*) AS n FROM (
         SELECT * FROM nation
         UNION ALL SELECT * FROM nation WHERE n_regionkey < 2
         UNION ALL SELECT * FROM nation WHERE n_regionkey = 3
         UNION ALL SELECT * FROM nation WHERE n_regionkey = 4
       ) GROUP BY 1 ORDER BY 1"""

  /** ic96: NESTED-column schema evolution through SQL ALTER TABLE on a
    * native Iceberg v2 table — the spec evolves struct subfields BY ID
    * exactly like top-level ones (spec §Schemas), and this lifecycle
    * applies ic92's gates one level down: (1) RENAME info.status →
    * info.state is metadata-only and pre-rename files bind the field by
    * its parquet id (values survive under the new name); (2) ADD
    * info.tag reads NULL from pre-evolution files; (3) DROP + re-ADD
    * info.state allocates a FRESH id, so the dropped values do NOT
    * resurrect through the reused name (no-resurrection one level down).
    * Every ALTER is one metadata CAS, zero data IO at any table size;
    * the final scan reads via the library/spec path (the same reader
    * DuckDB-style external engines model, ic51/ic61). */
  private def nestedAlterQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    val wh = freshDir(s, "i96")
    s.conf.set("spark.sql.catalog.ice_i96", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i96.warehouse", wh)
    try {
      val loc = s"$wh/graft/ord_i96"
      val base = Tables.orders(s, d).filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("status"),
            col("o_totalprice").as("total")).as("info"))
      base.write.format("icelite").option("iceberg", "true")
        .option("location", loc).mode("overwrite").save()
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_i96.graft")
      val n = base.count()
      def lib() = IcebergFormat.scan(s, IcebergFormat.currentMetadataPath(s, loc))
      // (1) nested RENAME: id kept, read-by-id flip, values survive
      s.sql("ALTER TABLE ice_i96.graft.ord_i96 RENAME COLUMN info.status TO state")
      require(lib().filter(col("info.state").isNotNull).count() == n,
        "pre-rename files must bind the renamed nested field by id")
      // (2) nested ADD: fresh id, old files read NULL
      s.sql("ALTER TABLE ice_i96.graft.ord_i96 ADD COLUMN info.tag STRING")
      require(lib().filter(col("info.tag").isNull).count() == n,
        "pre-evolution files must read the added nested field as NULL")
      // (3) no-resurrection: DROP then re-ADD the same nested name
      s.sql("ALTER TABLE ice_i96.graft.ord_i96 DROP COLUMN info.state")
      s.sql("ALTER TABLE ice_i96.graft.ord_i96 ADD COLUMN info.state STRING")
      val out = lib()
      require(out.filter(col("info.state").isNotNull).count() == 0,
        "dropped nested field's values resurrected through the re-added name")
      out.select(col("o_orderkey"),
          col("info.total").as("total"),
          col("info.tag").as("tag"),
          col("info.state").as("state"))
        .orderBy("o_orderkey")
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i96")
      s.conf.unset("spark.sql.catalog.ice_i96.warehouse")
    }
  }

  private val nestedAlterOracle =
    """SELECT o_orderkey, o_totalprice AS total,
              CAST(NULL AS VARCHAR) AS tag, CAST(NULL AS VARCHAR) AS state
       FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey"""

  /** ic97: the native SQL ALTER dispatch path as a full lifecycle —
    * promote + rename + add through `ALTER TABLE` on a NATIVE Iceberg v2
    * dir (the resumed-Writer route, previously spec-gated only), then
    * row-level DML THROUGH the renamed column (MoR DELETE + UPDATE on
    * the evolved table), read back over both file eras via SQL. Every
    * ALTER is one metadata CAS; the DML writes delete/insert deltas
    * proportional to matched rows — the rename changed ZERO data bytes
    * and the post-rename scan binds pre-rename files' columns by
    * parquet field id. */
  private def nativeSqlAlterQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    val wh = freshDir(s, "i97")
    s.conf.set("spark.sql.catalog.ice_i97", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i97.warehouse", wh)
    try {
      val loc = s"$wh/graft/ord_i97"
      val base = Tables.orders(s, d).filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey").cast("int").as("k"),
          col("o_orderpriority").as("prio"),
          col("o_totalprice").as("total"))
      val w = new IcebergFormat.Writer(s, loc, base.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f1", base)))
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_i97.graft")
      s.sql("ALTER TABLE ice_i97.graft.ord_i97 ALTER COLUMN k TYPE BIGINT")
      s.sql("ALTER TABLE ice_i97.graft.ord_i97 RENAME COLUMN prio TO priority")
      s.sql("ALTER TABLE ice_i97.graft.ord_i97 ADD COLUMN flag STRING")
      s.sql("DELETE FROM ice_i97.graft.ord_i97 WHERE priority = '1-URGENT'")
      s.sql("UPDATE ice_i97.graft.ord_i97 SET flag = 'hi' WHERE total > 200000.0")
      s.sql("""SELECT priority, COUNT(*) AS n, COUNT(flag) AS n_flagged,
                      CAST(SUM(CAST(CAST(total AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
                      CAST(MIN(k) AS BIGINT) AS min_k
               FROM ice_i97.graft.ord_i97 GROUP BY 1 ORDER BY 1""")
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i97")
      s.conf.unset("spark.sql.catalog.ice_i97.warehouse")
    }
  }

  private val nativeSqlAlterOracle =
    """SELECT o_orderpriority AS priority, COUNT(*) AS n,
              COUNT(CASE WHEN o_totalprice > 200000.0 THEN 1 END) AS n_flagged,
              CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
              CAST(MIN(o_orderkey) AS BIGINT) AS min_k
       FROM orders
       WHERE o_orderkey < 2000 AND o_orderpriority <> '1-URGENT'
       GROUP BY 1 ORDER BY 1"""

  /** The MoR maintenance loop closed: accumulate delete debt with two MoR
    * DELETEs, observe it in the `delete_files`-style metadata table,
    * then COMPACT — the rewrite scans delete-applied, the new snapshot
    * starts with zero delete files, and the metadata-count shortcut
    * switches back on (asserted equal to the scan count). This is the
    * serve-side contract: MoR keeps writes cheap, compaction restores
    * read-optimal layout, and correctness holds at every point. */
  private def sqlMorCompactQ(s: SparkSession, d: String): DataFrame =
    withMorCatalog(s, "morcmp") { (cat, wh) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .createOrReplaceTempView("orders_morcmp_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      s.sql(s"CREATE TABLE $cat.graft.orders_morcmp AS SELECT * FROM orders_morcmp_src")
      s.sql(s"DELETE FROM $cat.graft.orders_morcmp WHERE o_orderkey % 3 = 0")
      s.sql(s"DELETE FROM $cat.graft.orders_morcmp WHERE o_orderpriority = '1-URGENT'")
      val fsCat = new FsCatalog(s, wh)
      val t1    = fsCat.loadTable("graft", "orders_morcmp")
      val debt  = t1.deletesTable().count()
      require(debt >= 2L, s"expected accumulated delete files, saw $debt")
      t1.compact(2)
      val t2   = fsCat.loadTable("graft", "orders_morcmp")
      val snap = t2.metadata.currentSnapshot.get
      require(t2.deleteEntriesOf(snap).isEmpty, "compaction carried delete debt forward")
      val metaCount = t2.statsRowCount(snap).getOrElse(
        sys.error("metadata COUNT(*) did not return after compaction cleared deletes"))
      require(metaCount == t2.scan().count(),
        "post-compaction metadata count diverged from the scan")
      s.sql(s"""SELECT o_orderpriority, COUNT(*) AS n,
                       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
                FROM $cat.graft.orders_morcmp GROUP BY 1 ORDER BY 1""")
    }

  private val sqlMorCompactOracle =
    """SELECT o_orderpriority, COUNT(*) AS n,
              CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
       FROM orders
       WHERE NOT (o_orderkey % 3 = 0) AND NOT (o_orderpriority = '1-URGENT')
       GROUP BY 1 ORDER BY 1"""

  /** MERGE-ON-READ multi-clause MERGE on a HIVE-PARTITIONED table — the
    * round-9 gap: the delta write's insert rows flow through the same
    * rolling partitioned writer SQL INSERT uses, so updated rows reinsert
    * into their `pc=v/` directory and NOT-MATCHED rows open a brand-new
    * partition value, while matched rows become position deletes against
    * files that stay BYTE-IDENTICAL (length + mtime asserted, not just
    * path-set). At 100 TB this is the partitioned-upsert shape: cost is
    * O(touched rows), clustered one-file-per-partition-per-task, with the
    * original partition layout (and its pruning stats) untouched. */
  private def sqlMorPartitionedMergeQ(s: SparkSession, d: String): DataFrame =
    withMorCatalog(s, "morpmg") { (cat, wh) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .createOrReplaceTempView("orders_morpmg_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.graft")
      s.sql(s"""CREATE TABLE $cat.graft.orders_morpmg
                (o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)
                PARTITIONED BY (o_orderpriority)""")
      s.sql(s"INSERT INTO $cat.graft.orders_morpmg SELECT * FROM orders_morpmg_src")
      val fsCat = new FsCatalog(s, wh)
      def t()   = fsCat.loadTable("graft", "orders_morpmg")
      val t0    = t()
      val fs = new org.apache.hadoop.fs.Path(t0.location.toString)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def stat(rel: String): (Long, Long) = {
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(t0.location.toString, rel))
        (st.getLen, st.getModificationTime)
      }
      val before      = t0.filesOf(t0.metadata.currentSnapshot.get).toSet
      val beforeStats = before.map(f => f -> stat(f)).toMap
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW morpmg_updates AS
                SELECT o_orderkey AS k, o_orderpriority AS p,
                       o_totalprice - 10.0 AS price
                FROM orders_morpmg_src WHERE o_orderkey % 4 = 0
                UNION ALL
                SELECT o_orderkey + 9000000, '9-SYNTH', 1.5
                FROM orders_morpmg_src WHERE o_orderkey % 101 = 0""")
      val merge =
        s"""MERGE INTO $cat.graft.orders_morpmg t
            USING morpmg_updates s
            ON t.o_orderkey = s.k
            WHEN MATCHED AND s.k % 16 = 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET o_totalprice = s.price
            WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority, o_totalprice)
              VALUES (s.k, s.p, s.price)"""
      val plan = s.sql(s"EXPLAIN EXTENDED $merge").head().getString(0)
      require(plan.contains("WriteDelta"),
        s"partitioned merge-on-read MERGE did not plan a WriteDelta:\n$plan")
      s.sql(merge)
      val t2   = t()
      val snap = t2.metadata.currentSnapshot.get
      val after = t2.filesOf(snap).toSet
      require(before.subsetOf(after), "partitioned MoR MERGE rewrote original data files")
      before.foreach { f =>
        require(stat(f) == beforeStats(f), s"original data file mutated in place: $f")
      }
      require(t2.deleteEntriesOf(snap).nonEmpty, "MERGE committed no position deletes")
      val inserted = after -- before
      require(inserted.nonEmpty && inserted.forall(_.contains("o_orderpriority=")),
        s"delta insert files not in hive layout: ${inserted.take(3)}")
      require(inserted.exists(_.contains("o_orderpriority=9-SYNTH")),
        "NOT MATCHED inserts did not open the new partition value")
      s.sql(s"""SELECT o_orderkey, o_orderpriority,
                       CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
                FROM $cat.graft.orders_morpmg ORDER BY o_orderkey""")
    }

  private val sqlMorPartitionedMergeOracle =
    """WITH src AS (
         SELECT o_orderkey AS k, o_orderpriority AS p, o_totalprice - 10.0 AS price
         FROM orders WHERE o_orderkey % 4 = 0
         UNION ALL
         SELECT o_orderkey + 9000000, '9-SYNTH', 1.5
         FROM orders WHERE o_orderkey % 101 = 0),
       merged AS (
         SELECT t.o_orderkey, t.o_orderpriority,
                CASE WHEN s.k IS NOT NULL THEN s.price ELSE t.o_totalprice END AS o_totalprice,
                (s.k IS NOT NULL AND s.k % 16 = 0) AS deleted
         FROM orders t JOIN src s ON t.o_orderkey = s.k
         UNION ALL
         SELECT t.o_orderkey, t.o_orderpriority, t.o_totalprice, FALSE
         FROM orders t WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.k = t.o_orderkey)),
       inserted AS (
         SELECT s.k AS o_orderkey, s.p AS o_orderpriority, s.price AS o_totalprice
         FROM src s WHERE NOT EXISTS (SELECT 1 FROM orders t WHERE t.o_orderkey = s.k))
       SELECT o_orderkey, o_orderpriority,
              CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
       FROM (SELECT o_orderkey, o_orderpriority, o_totalprice FROM merged WHERE NOT deleted
             UNION ALL SELECT * FROM inserted)
       ORDER BY o_orderkey"""

  /** MERGE-ON-READ SQL DELETE over a STANDARD Iceberg v2-format table
    * (Avro manifests + metadata JSON — the ic21-family layout external
    * readers consume): the catalog detects the format, the
    * [[graft.sources.IcebergMorV2Table]] delta operation writes spec
    * content-1 position-delete files, and
    * [[graft.icelite.IcebergFormat.resumeWriter]] commits them as ONE
    * delta snapshot carrying every data manifest by pointer. The requires
    * prove the physical contract: WriteDelta plan (not a group rewrite),
    * data files BYTE-IDENTICAL (length + mtime), a content-1 delete
    * planned after commit, deletes ACCUMULATE across two DELETEs, and
    * the library reader (`IcebergFormat.scan` — the DuckDB-parity
    * surface) agrees with the SQL read row-for-row. */
  private def sqlIcebergMorDeleteQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    import org.apache.hadoop.fs.Path
    val wh = freshDir(s, "i76")
    s.conf.set("spark.sql.catalog.ice_i76", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i76.warehouse", wh)
    try {
      val loc = s"$wh/graft/orders_i76"
      // parallel scan, one-task write only: a global orderBy here
      // collapsed the whole orders sort into the writer's single task at
      // 100x — fixture cost, not DML cost; the DML below is value-based
      // and every gate compares file sets/bytes, never row positions
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val w = new IcebergFormat.Writer(s, loc, ord.schema)
      // two data files over two snapshots: the delete must span both
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f1",
        ord.filter(col("o_orderkey") % 2 === 0).repartition(1))))
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f2",
        ord.filter(col("o_orderkey") % 2 === 1).repartition(1))))
      val fs = new Path(loc).getFileSystem(s.sparkContext.hadoopConfiguration)
      def planNow() = IcebergFormat.plan(s, IcebergFormat.currentMetadataPath(s, loc))
      def stat(p: String) = {
        val st = fs.getFileStatus(new Path(p)); (st.getLen, st.getModificationTime)
      }
      val before      = planNow()
      val beforeStats = before.files.map(f => f.path.toString -> stat(f.path.toString)).toMap
      require(before.files.size == 2 && before.deletes.isEmpty, "fixture shape drifted")
      val plan = s.sql(
        "EXPLAIN EXTENDED DELETE FROM ice_i76.graft.orders_i76 WHERE o_orderkey % 7 = 0")
        .head().getString(0)
      require(plan.contains("WriteDelta"),
        s"iceberg-format DELETE did not plan a WriteDelta:\n$plan")
      s.sql("DELETE FROM ice_i76.graft.orders_i76 WHERE o_orderkey % 7 = 0")
      val mid = planNow()
      require(mid.files.map(_.path.toString).toSet == beforeStats.keySet,
        "delta DELETE changed the data file set")
      beforeStats.foreach { case (p, st0) =>
        require(stat(p) == st0, s"data file mutated in place: $p")
      }
      require(mid.deletes.nonEmpty && mid.deletes.forall(_.content == 1),
        s"expected content-1 position deletes, got ${mid.deletes}")
      // deletes compose: a second DELETE adds another delta snapshot
      s.sql("DELETE FROM ice_i76.graft.orders_i76 " +
        "WHERE o_orderstatus = 'F' AND o_orderkey < 1000")
      require(planNow().deletes.size > mid.deletes.size, "second DELETE added no delete file")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus,
                  CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
           FROM ice_i76.graft.orders_i76 ORDER BY o_orderkey""")
      // DuckDB-parity surface: the library scan of the same metadata must
      // match the SQL (V2 bitmap) read row-for-row
      val lib = IcebergFormat.scan(s, IcebergFormat.currentMetadataPath(s, loc))
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice").cast("decimal(14,2)") * 100).cast("long").as("cents"))
      requireSameRows(out, lib,
        "library reader and SQL read diverged on the delete-applied table")
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i76")
      s.conf.unset("spark.sql.catalog.ice_i76.warehouse")
    }
  }

  private val sqlIcebergMorDeleteOracle =
    """SELECT o_orderkey, o_orderstatus,
              CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
       FROM orders
       WHERE NOT (o_orderkey % 7 = 0)
         AND NOT (o_orderstatus = 'F' AND o_orderkey < 1000)
       ORDER BY o_orderkey"""

  /** MERGE-ON-READ SQL UPDATE over a STANDARD Iceberg v2-format table:
    * `representUpdateAsDeleteAndInsert` splits each matched row into a
    * spec content-1 position delete plus a fresh insert row staged as a
    * v2-layout data parquet (field-id'd columns, inline min/max stats →
    * manifest bounds), and ONE resumed delta commit publishes both — the
    * original data files stay byte-identical. The read stitches deletes +
    * originals + delta files, and the library reader (the DuckDB-parity
    * `IcebergFormat.scan` surface) must agree row-for-row. Write cost is
    * O(updated rows), never O(affected files) — the shape that matters
    * when a 100 TB table takes a pointed correction. */
  private def sqlIcebergMorUpdateQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    import org.apache.hadoop.fs.Path
    val wh = freshDir(s, "i77")
    s.conf.set("spark.sql.catalog.ice_i77", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i77.warehouse", wh)
    try {
      val loc = s"$wh/graft/orders_i77"
      // parallel scan, one-task write only: a global orderBy here
      // collapsed the whole orders sort into the writer's single task at
      // 100x — fixture cost, not DML cost; the DML below is value-based
      // and every gate compares file sets/bytes, never row positions
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val w = new IcebergFormat.Writer(s, loc, ord.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f1",
        ord.filter(col("o_orderkey") % 2 === 0).repartition(1))))
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f2",
        ord.filter(col("o_orderkey") % 2 === 1).repartition(1))))
      val fs = new Path(loc).getFileSystem(s.sparkContext.hadoopConfiguration)
      def planNow() = IcebergFormat.plan(s, IcebergFormat.currentMetadataPath(s, loc))
      val before = planNow().files.map { f =>
        val st = fs.getFileStatus(f.path)
        f.path.toString -> (st.getLen, st.getModificationTime)
      }.toMap
      s.sql("""UPDATE ice_i77.graft.orders_i77
               SET o_orderstatus = 'U', o_totalprice = o_totalprice + 1000.0
               WHERE o_orderkey % 9 = 0""")
      val mid = planNow()
      before.foreach { case (p, st0) =>
        val st = fs.getFileStatus(new Path(p))
        require((st.getLen, st.getModificationTime) == st0, s"UPDATE mutated data file $p")
      }
      require(mid.files.size > before.size, "UPDATE staged no delta insert file")
      require(mid.deletes.nonEmpty && mid.deletes.forall(_.content == 1),
        "UPDATE committed no position deletes")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus,
                  CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
           FROM ice_i77.graft.orders_i77 ORDER BY o_orderkey""")
      val lib = IcebergFormat.scan(s, IcebergFormat.currentMetadataPath(s, loc))
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice").cast("decimal(14,2)") * 100).cast("long").as("cents"))
      requireSameRows(out, lib,
        "library reader and SQL read diverged after iceberg-format UPDATE")
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i77")
      s.conf.unset("spark.sql.catalog.ice_i77.warehouse")
    }
  }

  private val sqlIcebergMorUpdateOracle =
    """SELECT o_orderkey,
              CASE WHEN o_orderkey % 9 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
              CAST(CAST(CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice + 1000.0
                             ELSE o_totalprice END AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
       FROM orders ORDER BY o_orderkey"""

  /** Multi-clause `MERGE INTO` a STANDARD Iceberg v2-format table,
    * merge-on-read: matched-DELETE and matched-UPDATE rows become position
    * deletes (updates also reinsert through the v2-layout delta writer),
    * NOT MATCHED rows insert — all published by ONE resumed delta commit
    * with zero data-file rewrite. Key moduli differ from the IceLite-format
    * twin ic73 so clause-routing bugs in either surface diverge. */
  private def sqlIcebergMorMergeQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    import org.apache.hadoop.fs.Path
    val wh = freshDir(s, "i78")
    s.conf.set("spark.sql.catalog.ice_i78", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i78.warehouse", wh)
    try {
      val loc  = s"$wh/graft/cust_i78"
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal").orderBy("c_custkey")
      val w = new IcebergFormat.Writer(s, loc, cust.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f1", cust)))
      Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .filter(col("c_custkey") % 6 === 0)
        .withColumn("c_acctbal", col("c_acctbal") - 250.0)
        .unionAll(Tables.customer(s, d)
          .select((col("c_custkey") + 3000000).as("c_custkey"),
            col("c_nationkey"), col("c_acctbal"))
          .filter(col("c_custkey") % 83 === 0))
        .createOrReplaceTempView("i78_src")
      val fs = new Path(loc).getFileSystem(s.sparkContext.hadoopConfiguration)
      def planNow() = IcebergFormat.plan(s, IcebergFormat.currentMetadataPath(s, loc))
      val before = planNow().files.map { f =>
        val st = fs.getFileStatus(f.path)
        f.path.toString -> (st.getLen, st.getModificationTime)
      }.toMap
      s.sql("""MERGE INTO ice_i78.graft.cust_i78 t
               USING i78_src s ON t.c_custkey = s.c_custkey
               WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE
               WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal
               WHEN NOT MATCHED THEN INSERT *""")
      val mid = planNow()
      before.foreach { case (p, st0) =>
        val st = fs.getFileStatus(new Path(p))
        require((st.getLen, st.getModificationTime) == st0, s"MERGE mutated data file $p")
      }
      require(mid.deletes.nonEmpty && mid.deletes.forall(_.content == 1),
        "MERGE committed no position deletes")
      val out = s.sql(
        """SELECT c_custkey, c_nationkey,
                  CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
           FROM ice_i78.graft.cust_i78 ORDER BY c_custkey""")
      val lib = IcebergFormat.scan(s, IcebergFormat.currentMetadataPath(s, loc))
        .select(col("c_custkey"), col("c_nationkey"),
          (col("c_acctbal").cast("decimal(14,2)") * 100).cast("long").as("cents"))
      requireSameRows(out, lib,
        "library reader and SQL read diverged after iceberg-format MERGE")
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i78")
      s.conf.unset("spark.sql.catalog.ice_i78.warehouse")
    }
  }

  private val sqlIcebergMorMergeOracle =
    """WITH src AS (
         SELECT c_custkey, c_nationkey, c_acctbal - 250.0 AS c_acctbal
         FROM customer WHERE c_custkey % 6 = 0
         UNION ALL
         SELECT c_custkey + 3000000, c_nationkey, c_acctbal
         FROM customer WHERE (c_custkey + 3000000) % 83 = 0),
       merged AS (
         SELECT t.c_custkey, t.c_nationkey,
                CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
                (s.c_custkey IS NOT NULL AND s.c_acctbal < 0) AS deleted
         FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey),
       inserted AS (
         SELECT s.c_custkey, s.c_nationkey, s.c_acctbal
         FROM src s LEFT JOIN customer t ON t.c_custkey = s.c_custkey
         WHERE t.c_custkey IS NULL)
       SELECT c_custkey, c_nationkey,
              CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
       FROM (SELECT c_custkey, c_nationkey, c_acctbal FROM merged WHERE NOT deleted
             UNION ALL SELECT * FROM inserted)
       ORDER BY c_custkey"""

  /** SQL catalog reads over a standard-format v2 table with EQUALITY
    * deletes (content 2) — the CDC shape Flink-style writers (and our own
    * st07) emit: a plain `SELECT` through the catalog applies the deletes
    * reader-side under the spec's strictly-older sequence rule, so a key
    * re-inserted AFTER its delete survives while older matches vanish.
    * Gated row-for-row against the library scan's sequence-numbered
    * anti-join ([[IcebergFormat.scan]], ic24's machinery). Reference
    * surface: SQL over any catalog table,
    * `query_iceberg_minio.ipynb:274-277,1119-1180`. */
  private def sqlIcebergEqDeleteReadQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    val wh = freshDir(s, "i79")
    s.conf.set("spark.sql.catalog.ice_i79", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i79.warehouse", wh)
    try {
      val loc  = s"$wh/graft/cust_i79"
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal").orderBy("c_custkey")
      val w = new IcebergFormat.Writer(s, loc, cust.schema)
      // snapshot 1: the full base data
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f1", cust)))
      // snapshot 2: CDC-style equality delete keyed on c_custkey (field 1)
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "del1",
        cust.filter(col("c_custkey") % 7 === 0).select("c_custkey"),
        content = 2, equalityIds = Seq(1))))
      // snapshot 3: a subset of the deleted keys RESTATED — strictly newer
      // than the delete, so the spec's ordering keeps these rows
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f2",
        cust.filter(col("c_custkey") % 14 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 500.0))))

      val out = s.sql(
        """SELECT c_custkey, c_nationkey,
                  CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
           FROM ice_i79.graft.cust_i79 ORDER BY c_custkey""")
      require(out.filter(col("c_custkey") % 14 === 0).count() ==
        cust.filter(col("c_custkey") % 14 === 0).count(),
        "restated rows did not survive the equality delete")
      require(
        out.filter(col("c_custkey") % 7 === 0 && col("c_custkey") % 14 =!= 0).count() == 0,
        "equality-deleted rows leaked through the SQL read")
      val lib = IcebergFormat.scan(s, IcebergFormat.currentMetadataPath(s, loc))
        .select(col("c_custkey"), col("c_nationkey"),
          (col("c_acctbal").cast("decimal(14,2)") * 100).cast("long").as("cents"))
      requireSameRows(out, lib,
        "library reader and SQL read diverged on an equality-delete table")
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i79")
      s.conf.unset("spark.sql.catalog.ice_i79.warehouse")
    }
  }

  /** The equality-delete MAINTENANCE loop closed (ic85) — ic79 reads the
    * debt, this clears it: an st07-shape CDC table (base append → content-2
    * equality delete keyed on c_custkey → restated newer rows) surfaces
    * its delete debt in the `delete_files` metadata table (equality
    * files included, with record counts and key ids), then
    * `CALL rewrite_data_files` stages the delete-applied state and
    * replaces every manifest — debt drops to zero, visible row counts are
    * byte-stable, and pre-compaction time travel still applies the
    * original deletes from its own manifest list. */
  private def sqlEqDeleteMaintenanceQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    val wh = freshDir(s, "i85")
    s.conf.set("spark.sql.catalog.ice_i85", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i85.warehouse", wh)
    try {
      val loc  = s"$wh/graft/cust_i85"
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal").orderBy("c_custkey")
      val w = new IcebergFormat.Writer(s, loc, cust.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f1", cust)))
      val del1 = IcebergFormat.writeSingleFile(s, loc, "del1",
        cust.filter(col("c_custkey") % 7 === 0).select("c_custkey"),
        content = 2, equalityIds = Seq(1))
      w.commit(Seq(del1))
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f2",
        cust.filter(col("c_custkey") % 14 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 500.0))))
      // the staged delete file's footer already carries its row count —
      // no extra count job over the source (round 18)
      val nDeleted = del1.recordCount

      // 1. debt VISIBLE: the metadata table lists the live equality delete
      val debt = s.sql(
        "SELECT content, n_records FROM ice_i85.graft.cust_i85.delete_files").collect()
      require(debt.length == 1 && debt(0).getString(0) == "equality" &&
        debt(0).getLong(1) == nDeleted,
        s"delete debt not visible: ${debt.mkString("; ")}")

      val beforeRows = s.sql(
        """SELECT c_custkey, c_nationkey,
                  CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
           FROM ice_i85.graft.cust_i85 ORDER BY c_custkey""").collect().toSeq
      val snapPre = IcebergFormat.currentMetadataPath(s, loc)

      // 2. CALL clears the debt (content-2 applied in the rewrite scan)
      val audit = s.sql(
        "CALL ice_i85.system.rewrite_data_files('graft', 'cust_i85', 1)").collect()(0)
      require(audit.getLong(2) == 1L && audit.getLong(3) == 0L,
        s"delete debt not cleared: $audit")
      require(s.sql(
        "SELECT count(*) AS n FROM ice_i85.graft.cust_i85.delete_files")
        .head().getLong(0) == 0L, "delete_files still lists debt after rewrite")
      val planAfter = IcebergFormat.plan(s, IcebergFormat.currentMetadataPath(s, loc))
      require(planAfter.deletes.isEmpty && planAfter.files.size == 1,
        s"rewrite left ${planAfter.files.size} files / ${planAfter.deletes.size} deletes")

      // 3. counts STABLE: the compacted read equals the pre-compaction one
      val out = s.sql(
        """SELECT c_custkey, c_nationkey,
                  CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
           FROM ice_i85.graft.cust_i85 ORDER BY c_custkey""")
      require(out.collect().toSeq == beforeRows, "rewrite changed visible rows")

      // 4. pre-compaction travel INTACT: the old metadata still applies
      // the equality delete (restated rows survive, deleted ones do not)
      val pre = IcebergFormat.scan(s, snapPre)
      require(pre.count() == beforeRows.length.toLong,
        "pre-compaction snapshot no longer applies its deletes")
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i85")
      s.conf.unset("spark.sql.catalog.ice_i85.warehouse")
    }
  }

  private val sqlEqDeleteMaintenanceOracle =
    """SELECT c_custkey, c_nationkey,
              CAST(CAST(CASE WHEN c_custkey % 14 = 0 THEN c_acctbal + 500.0 ELSE c_acctbal END
                   AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
       FROM customer
       WHERE c_custkey % 7 <> 0 OR c_custkey % 14 = 0
       ORDER BY c_custkey"""

  private val sqlIcebergEqDeleteReadOracle =
    """SELECT c_custkey, c_nationkey,
              CAST(CAST(CASE WHEN c_custkey % 14 = 0 THEN c_acctbal + 500.0 ELSE c_acctbal END
                   AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
       FROM customer
       WHERE c_custkey % 7 <> 0 OR c_custkey % 14 = 0
       ORDER BY c_custkey"""

  /** Manifest-LIST pruning (ic82): each commit's manifest-list entry
    * records per-partition-field summaries (spec field 507 — contains_null
    * + value bounds), and a selective SQL query's planner skips whole
    * manifests from the LIST alone — the step before file-level skipping,
    * and the one that matters most at 100 TB where a streaming-ingested
    * table holds thousands of manifests: planning IO is O(surviving
    * manifests), not O(all manifests). Counter-gated inline. */
  private def sqlManifestPruneQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    val wh = freshDir(s, "i82")
    s.conf.set("spark.sql.catalog.ice_i82", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i82.warehouse", wh)
    try {
      val loc = s"$wh/graft/ord_i82"
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
      val w = new IcebergFormat.Writer(s, loc, ord.schema, Seq("o_orderpriority"))
      val prios = ord.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted
      // one commit per priority -> one data manifest per priority, each
      // with a single-value partition summary in the manifest list. The
      // per-priority files write in ONE job/scan (r17 — the old loop
      // re-scanned the full orders slice once per priority); commit
      // granularity and manifest history are unchanged.
      val files = IcebergFormat.writeGroupedFiles(
        s, loc, ord, col("o_orderpriority"), g => s"p${g.take(1)}")
      prios.foreach { p =>
        w.commit(Seq(files(p).copy(partitionValues = Map("o_orderpriority" -> p))))
      }
      IcebergFormat.manifestReadsAtPlanning.reset()
      val out = s.sql(
        """SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
           FROM ice_i82.graft.ord_i82
           WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
           ORDER BY o_orderkey""")
      val rows = out.collect() // force planning + execution, then audit
      require(IcebergFormat.manifestReadsAtPlanning.sum() == 2,
        s"manifest-list pruning read ${IcebergFormat.manifestReadsAtPlanning.sum()} " +
          s"of ${prios.length} manifests, expected 2")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i82")
      s.conf.unset("spark.sql.catalog.ice_i82.warehouse")
    }
  }

  private val sqlManifestPruneOracle =
    """SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
       FROM orders
       WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
       ORDER BY o_orderkey"""

  /** Temporal manifest pruning (ic83): the canonical 100 TB shape — a
    * time-partitioned table queried by a date range. The table is
    * year-partitioned (`years(o_odate)`, one commit per year), DATE
    * literals push through the V2 scan (epoch-day space, timezone-free),
    * and the planner drops whole manifests whose transformed-space
    * summaries sit outside the range — counter-gated inline: a `>= 1998`
    * predicate reads exactly the 1998+ manifests. */
  private def sqlTemporalPruneQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    val wh = freshDir(s, "i83")
    s.conf.set("spark.sql.catalog.ice_i83", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i83.warehouse", wh)
    try {
      val loc = s"$wh/graft/ord_i83"
      val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("o_odate"), col("o_totalprice"))
      val w = new IcebergFormat.Writer(s, loc, ord.schema, Seq("years(o_odate)"))
      val years = ord.select(year(col("o_odate")).as("y")).distinct()
        .collect().map(_.getInt(0)).sorted
      // per-year files write in ONE job/scan (r17, as ic82); one commit
      // per year keeps the manifest-per-year layout under test
      val files = IcebergFormat.writeGroupedFiles(
        s, loc, ord, year(col("o_odate")), g => s"y$g")
      years.foreach { y =>
        w.commit(Seq(files(y.toString)
          .copy(partitionValues = Map("o_odate_year" -> (y - 1970)))))
      }
      IcebergFormat.manifestReadsAtPlanning.reset()
      val out = s.sql(
        """SELECT o_orderkey, o_odate, o_totalprice
           FROM ice_i83.graft.ord_i83
           WHERE o_odate >= DATE'1998-01-01'
           ORDER BY o_orderkey""")
      val rows = out.collect() // force planning + execution, then audit
      val expect = years.count(_ >= 1998)
      require(IcebergFormat.manifestReadsAtPlanning.sum() == expect,
        s"temporal pruning read ${IcebergFormat.manifestReadsAtPlanning.sum()} " +
          s"of ${years.length} manifests, expected $expect")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i83")
      s.conf.unset("spark.sql.catalog.ice_i83.warehouse")
    }
  }

  private val sqlTemporalPruneOracle =
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_odate, o_totalprice
       FROM orders
       WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
       ORDER BY o_orderkey"""

  /** Metadata-only COUNT(*) on a STANDARD-format table (ic84): the count
    * comes from the manifests' required `record_count` sums — zero data IO
    * at any table size (a 100 TB count costs O(manifests) metadata).
    * Plan-audited and counter-required inline; the shortcut disables
    * itself while row-level deletes are live (MorSpec gates that arm). */
  private def sqlIcebergCountQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    val wh = freshDir(s, "i84")
    s.conf.set("spark.sql.catalog.ice_i84", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i84.warehouse", wh)
    try {
      val loc  = s"$wh/graft/cust_i84"
      val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey", "c_acctbal")
      val w = new IcebergFormat.Writer(s, loc, cust.schema)
      // two commits -> the count sums across manifests
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f1",
        cust.filter(col("c_custkey") % 2 === 0))))
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f2",
        cust.filter(col("c_custkey") % 2 =!= 0))))
      val q = s.sql("SELECT count(*) AS n_rows FROM ice_i84.graft.cust_i84")
      require(q.queryExecution.executedPlan.toString.contains("metadata-only count"),
        "COUNT(*) did not push to the metadata scan")
      graft.sources.IceLiteSource.filesOpened.reset()
      val out = q.collect()
      require(graft.sources.IceLiteSource.filesOpened.sum() == 0,
        s"metadata count opened ${graft.sources.IceLiteSource.filesOpened.sum()} data files")
      s.createDataFrame(java.util.Arrays.asList(out: _*), q.schema)
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i84")
      s.conf.unset("spark.sql.catalog.ice_i84.warehouse")
    }
  }

  private val sqlIcebergCountOracle =
    "SELECT count(*) AS n_rows FROM customer"

  /** SQL UPDATE over a standard-format table with SPARSE field ids (ic81)
    * — the metadata layout a dropped+re-added column history leaves
    * behind (ids 1,3,4: id 2 retired). resumeWriter re-emits the id table
    * VERBATIM, the delta insert files stamp the REAL ids, and bounds
    * remap through them — so externally-evolved tables take row-level DML
    * exactly like writer-born ones (ic77's flow replayed over a sparse
    * table, per the spec's name-independent column identity). */
  private def sqlIcebergSparseIdUpdateQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    val wh = freshDir(s, "i81")
    s.conf.set("spark.sql.catalog.ice_i81", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i81.warehouse", wh)
    try {
      val loc = s"$wh/graft/orders_i81"
      // parallel scan, one-task write only: a global orderBy here
      // collapsed the whole orders sort into the writer's single task at
      // 100x — fixture cost, not DML cost; the DML below is value-based
      // and every gate compares file sets/bytes, never row positions
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      // sparse top-level ids — the shape a conforming engine leaves after
      // ALTER TABLE DROP COLUMN (id 2) + ADD COLUMN (fresh ids 3, 4)
      val w = new IcebergFormat.Writer(s, loc, ord.schema,
        topLevelFieldIds = Seq(1, 3, 4))
      // fieldIds MUST match the sparse layout: stats (null counts, bounds)
      // are keyed by field id, and positional 1..n keys would publish
      // counts under the retired id 2 — Writer.commit now rejects that.
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f1",
        ord.filter(col("o_orderkey") % 2 === 0).repartition(1),
        fieldIds = Seq(1, 3, 4))))
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "f2",
        ord.filter(col("o_orderkey") % 2 === 1).repartition(1),
        fieldIds = Seq(1, 3, 4))))
      // the published metadata really is sparse
      val ids = IcebergFormat.plan(s,
        IcebergFormat.currentMetadataPath(s, loc)).fieldIds
      require(ids == Seq(1, 3, 4), s"fixture ids $ids not sparse")
      s.sql("""UPDATE ice_i81.graft.orders_i81
               SET o_orderstatus = 'S', o_totalprice = o_totalprice + 77.0
               WHERE o_orderkey % 11 = 0""")
      // the resumed commit re-emitted the sparse ids verbatim
      val ids2 = IcebergFormat.plan(s,
        IcebergFormat.currentMetadataPath(s, loc)).fieldIds
      require(ids2 == Seq(1, 3, 4), s"resumed commit rewrote field ids: $ids2")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus,
                  CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
           FROM ice_i81.graft.orders_i81 ORDER BY o_orderkey""")
      val lib = IcebergFormat.scan(s, IcebergFormat.currentMetadataPath(s, loc))
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice").cast("decimal(14,2)") * 100).cast("long").as("cents"))
      requireSameRows(out, lib,
        "library reader and SQL read diverged after sparse-id UPDATE")
      out
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i81")
      s.conf.unset("spark.sql.catalog.ice_i81.warehouse")
    }
  }

  private val sqlIcebergSparseIdUpdateOracle =
    """SELECT o_orderkey,
              CASE WHEN o_orderkey % 11 = 0 THEN 'S' ELSE o_orderstatus END AS o_orderstatus,
              CAST(CAST(CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 77.0
                             ELSE o_totalprice END AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
       FROM orders ORDER BY o_orderkey"""

  /** PERSISTENT named SQL views through Spark's V2 ViewCatalog (ic80):
    * the reference registers named views over its tables
    * (`query_iceberg_minio.ipynb:274-277` `CREATE OR REPLACE VIEW ... AS
    * SELECT * FROM iceberg_scan(...)`); ours persist the view TEXT as
    * warehouse metadata (`<ns>/_views/<name>.json`), so any session over
    * the warehouse resolves them by name — gated here by resolving the
    * view through a SECOND catalog instance bound to the same warehouse
    * (fresh plugin, nothing session-cached). */
  private def sqlPersistentViewQ(s: SparkSession, d: String): DataFrame = {
    val wh = freshDir(s, "i80")
    s.conf.set("spark.sql.catalog.ice_i80", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i80.warehouse", wh)
    s.conf.set("spark.sql.catalog.ice_i80b", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i80b.warehouse", wh)
    try {
      new graft.icelite.FsCatalog(s, wh).createOrReplaceTable("graft", "orders_i80",
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"))
      s.sql("""CREATE VIEW ice_i80.graft.big_orders AS
               SELECT o_custkey, count(*) AS n,
                      CAST(CAST(max(o_totalprice) AS DECIMAL(14,2)) * 100 AS BIGINT) AS maxcents
               FROM ice_i80.graft.orders_i80
               WHERE o_totalprice > 100000
               GROUP BY o_custkey""")
      // the definition is durable warehouse METADATA, not session state
      require(new java.io.File(s"$wh/graft/_views/big_orders.json").isFile,
        "CREATE VIEW persisted no view file")
      // resolve by name through a DIFFERENT catalog instance over the
      // same warehouse — what a fresh session would do
      val out = s.sql(
        "SELECT * FROM ice_i80b.graft.big_orders ORDER BY o_custkey")
      require(out.count() > 0, "persistent view resolved to zero rows")
      out
    } finally {
      Seq("spark.sql.catalog.ice_i80", "spark.sql.catalog.ice_i80.warehouse",
        "spark.sql.catalog.ice_i80b", "spark.sql.catalog.ice_i80b.warehouse")
        .foreach(s.conf.unset)
    }
  }

  private val sqlPersistentViewOracle =
    """SELECT o_custkey, count(*) AS n,
              CAST(CAST(max(o_totalprice) AS DECIMAL(14,2)) * 100 AS BIGINT) AS maxcents
       FROM orders WHERE o_totalprice > 100000
       GROUP BY o_custkey ORDER BY o_custkey"""

  /** Plain-SQL multi-clause `MERGE INTO` through the connector: Spark's
    * RewriteMergeIntoTable plans the full-outer matching against the
    * row-level scan; the write replaces only files the source key range
    * could touch. Clauses: conditional DELETE, catch-all UPDATE,
    * NOT MATCHED INSERT — the upsert SQL every lakehouse pipeline runs. */
  private def sqlMergeQ(s: SparkSession, d: String): DataFrame =
    withDmlCatalog(s, "sqlmrg") { (c, _) =>
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
      cust.createOrReplaceTempView("cust_mrg_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $c.graft")
      s.sql(s"CREATE TABLE $c.graft.cust_mrg AS SELECT * FROM cust_mrg_src")
      // source: every 7th key updated (negatives deleted), new keys inserted
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW mrg_updates AS
               SELECT c_custkey, c_nationkey, c_acctbal - 1000.0 AS c_acctbal,
                      'MERGED' AS c_mktsegment
               FROM cust_mrg_src WHERE c_custkey % 7 = 0
               UNION ALL
               SELECT c_custkey + 1000000, c_nationkey, c_acctbal, 'NEWROW'
               FROM cust_mrg_src WHERE c_custkey % 97 = 0""")
      s.sql(s"""MERGE INTO $c.graft.cust_mrg t
                USING mrg_updates s
                ON t.c_custkey = s.c_custkey
                WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE
                WHEN MATCHED THEN UPDATE SET
                  c_acctbal = s.c_acctbal, c_mktsegment = s.c_mktsegment
                WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"""SELECT c_custkey, c_nationkey,
                       CAST(ROUND(c_acctbal, 2) AS DOUBLE) AS bal, c_mktsegment
                FROM $c.graft.cust_mrg ORDER BY c_custkey""")
    }

  private val sqlMergeOracle =
    """WITH src AS (
         SELECT c_custkey, c_nationkey, c_acctbal - 1000.0 AS c_acctbal,
                'MERGED' AS c_mktsegment
         FROM customer WHERE c_custkey % 7 = 0
         UNION ALL
         SELECT c_custkey + 1000000, c_nationkey, c_acctbal, 'NEWROW'
         FROM customer WHERE c_custkey % 97 = 0),
       merged AS (
         SELECT t.c_custkey, t.c_nationkey,
                CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
                CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment,
                (s.c_custkey IS NOT NULL AND s.c_acctbal < 0) AS deleted
         FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey),
       inserted AS (
         SELECT s.c_custkey, s.c_nationkey, s.c_acctbal, s.c_mktsegment
         FROM src s LEFT JOIN customer t ON t.c_custkey = s.c_custkey
         WHERE t.c_custkey IS NULL)
       SELECT c_custkey, c_nationkey, CAST(ROUND(c_acctbal, 2) AS DOUBLE) AS bal, c_mktsegment
       FROM (SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment FROM merged WHERE NOT deleted
             UNION ALL SELECT * FROM inserted)
       ORDER BY c_custkey"""

  /** Nested types through the REAL Iceberg v2 metadata path (struct +
    * list + map — the spec's composite JSON type objects): build a nested
    * view of orders, commit it as an Iceberg table whose schema JSON
    * carries `{"type":"struct"...}` / `"list"` / `"map"` objects, scan it
    * back through the METADATA (not the parquet footers — the require
    * proves the schema round-tripped through our codec), then flatten for
    * the oracle compare. Any real-world Iceberg warehouse has nested
    * columns; this was the v2 reader's first-real-user wall. */
  private def icebergNestedQ(s: SparkSession, d: String): DataFrame = {
    val root = freshDir(s, "icenest")
    val loc  = s"$root/orders_nested"
    val base = Tables.orders(s, d).filter(col("o_orderkey") < 500)
      .select(
        col("o_orderkey"),
        struct(col("o_orderstatus").as("status"), col("o_totalprice").as("total")).as("info"),
        split(col("o_orderpriority"), "-").as("prio_parts"),
        map(lit("cust"), col("o_custkey")).as("attrs"))
      .orderBy("o_orderkey")
    val f = IcebergFormat.writeSingleFile(s, loc, "b1", base)
    val w = new IcebergFormat.Writer(s, loc, base.schema)
    w.commit(Seq(f))
    val scanned = new Engine(s, new FsCatalog(s, freshDir(s, "icenest_wh")))
      .scanIcebergMetadata(w.currentMetadataPath)
    // catalogString equality = full structural type round-trip (field
    // names + nesting + element/key/value types); nullability may tighten
    // legitimately (Iceberg `required` is tri-state on the write path)
    require(scanned.schema.catalogString == base.schema.catalogString,
      s"nested schema did not round-trip through Iceberg metadata: " +
        s"${scanned.schema.catalogString} vs ${base.schema.catalogString}")
    scanned.select(
      col("o_orderkey"),
      col("info.status").as("status"),
      col("info.total").as("total"),
      concat_ws("-", col("prio_parts")).as("prio"),
      element_at(col("attrs"), "cust").as("custkey"))
      .orderBy("o_orderkey")
  }

  /** Storage-partitioned join FROM OUR TABLE METADATA (the an58 strategy
    * without Spark's catalog): both sides are IceLite hive-partitioned on
    * the join key, the V2 scans report KeyGroupedPartitioning(identity),
    * and under spark.sql.sources.v2.bucketing.enabled the join AND the
    * downstream aggregate need zero shuffle Exchange — co-location is
    * proven by the require with broadcast disabled. At 100 TB this is the
    * pay-once-at-ingest layout: every keyed join/agg on the partition key
    * is exchange-free forever after, driven by table metadata alone. */
  private def spjJoin(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "spj")
    val cat = new FsCatalog(s, wh)
    val t1 = cat.createOrReplaceTable("graft", "cust_spj",
      Tables.customer(s, d).select("c_custkey", "c_nationkey", "c_acctbal"),
      Seq("c_nationkey"))
    val t2 = cat.createOrReplaceTable("graft", "supp_spj",
      Tables.supplier(s, d).select("s_suppkey", "s_nationkey", "s_acctbal"),
      Seq("s_nationkey"))
    val cents = (c: org.apache.spark.sql.Column) =>
      (c.cast("decimal(12,2)") * 100).cast("bigint")
    val prevBroadcast = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBucketing = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val c = s.read.format("icelite").option("location", t1.location.toString).load()
      val p = s.read.format("icelite").option("location", t2.location.toString).load()
      val joined = c.join(p, col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(cents(col("c_acctbal")) + cents(col("s_acctbal"))).as("bal_cents"))
        .orderBy("nationkey")
      // AQE's pre-execution toString hides the subtree; the simple explain
      // prints the full initial plan. The join and the aggregate must run
      // with NO hash-partition shuffle (the only Exchange allowed is the
      // rangepartitioning of the 25-row output sort).
      val plan = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      require(!plan.contains("Exchange hashpartitioning"),
        s"storage-partitioned join/agg still shuffled: $plan")
      require(plan.contains("SortMergeJoin"),
        s"expected a shuffle-family join satisfied by storage partitioning: $plan")
      joined
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      // restore (or clear) the bucketing flag too — leaking it changes
      // every subsequent registry query's plans vs a standalone run
      prevBucketing match {
        case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None    => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }

  def all: Seq[Q] = Seq(
    Q("ic01_roundtrip", roundtrip, Some(nationOracle)),
    Q("ic02_timetravel", timetravel, Some(nationOracle)),
    Q("ic03_append_current", appendCurrent,
      Some("""SELECT * FROM (SELECT * FROM nation UNION ALL SELECT * FROM nation)
              ORDER BY n_nationkey, n_name""")),
    Q("ic04_ingest_csv", ingestCsv, Some(nationOracle)),
    Q("ic05_listing", listing, Some(listingOracle)),
    Q("ic06_export_csv", exportCsvRoundtrip, Some(exportCsvOracle)),
    Q("ic07_export_parquet", exportParquetRoundtrip, Some(exportParquetOracle)),
    Q("ic08_file_skip", fileSkip,
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
              WHERE o_orderkey <= 999 ORDER BY o_orderkey""")),
    Q("ic09_compact", compactRoundtrip, Some(nationOracle)),
    Q("ic10_partitioned", partitioned,
      Some("""SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice FROM orders
              WHERE o_orderpriority = '1-URGENT' ORDER BY o_orderkey""")),
    Q("ic11_expire", expire,
      Some("""SELECT * FROM (SELECT * FROM nation UNION ALL SELECT * FROM nation)
              ORDER BY n_nationkey, n_name""")),
    Q("ic12_evolve", evolve, Some(evolveOracle)),
    Q("ic13_delete", deleteRows,
      Some("SELECT * FROM nation WHERE n_regionkey <> 0 ORDER BY n_nationkey")),
    Q("ic14_upsert", upsertRows, Some(upsertOracle)),
    Q("ic15_rollback", rollbackQ, Some(nationOracle)),
    Q("ic16_incremental", incrementalQ, Some(incrementalOracle)),
    Q("ic17_branch", branchQ, Some(branchOracle)),
    Q("ic18_zorder", zorderQ, Some(zorderOracle)),
    Q("ic19_sql_join", sqlJoinQ, Some(sqlJoinOracle)),
    Q("ic20_jsonl", jsonlQ, Some(nationOracle)),
    Q("ic21_iceberg_scan", icebergScanQ, Some(icebergScanOracle)),
    Q("ic22_iceberg_export", icebergExportQ, Some(icebergExportOracle)),
    Q("ic23_mor_posdelete", morPosDeleteQ, Some(morPosDeleteOracle)),
    Q("ic24_mor_eqdelete", morEqDeleteQ, Some(morEqDeleteOracle)),
    Q("ic25_iceberg_partitioned", icebergPartitionedQ, Some(nationOracle)),
    Q("ic26_iceberg_timetravel", icebergTimetravelQ, Some(icebergTimetravelOracle)),
    Q("ic27_vacuum", vacuumQ, Some(vacuumOracle)),
    Q("ic28_iceberg_bucketed", icebergBucketedQ, Some(nationOracle)),
    Q("ic29_meta_tables", metaTablesQ, Some(metaTablesOracle)),
    Q("ic30_iceberg_evolve", icebergEvolveQ, Some(icebergEvolveOracle)),
    Q("ic31_incremental_view", incrementalViewQ, Some(incrementalViewOracle)),
    Q("ic32_iceberg_temporal", icebergTemporalQ, Some(icebergTemporalOracle)),
    Q("ic33_iceberg_spec_evolution", icebergSpecEvolutionQ, Some(icebergSpecEvolutionOracle)),
    Q("ic34_rewrite_manifests", icebergRewriteManifestsQ, Some(icebergRewriteManifestsOracle)),
    Q("ic35_iceberg_expire", icebergExpireQ, Some(icebergExpireOracle)),
    Q("ic36_merge", mergeQ, Some(mergeOracle)),
    Q("ic37_rest_catalog", restCatalogQ,
      Some("""SELECT * FROM (SELECT * FROM nation UNION ALL SELECT * FROM nation)
              ORDER BY n_nationkey, n_name""")),
    Q("ic38_wap", wapQ,
      Some("""SELECT * FROM (SELECT * FROM nation UNION ALL SELECT * FROM nation)
              ORDER BY n_nationkey, n_name""")),
    Q("ic39_timestamp_travel", timestampTravelQ, Some(nationOracle)),
    Q("ic40_history", historyQ, Some(historyOracle)),
    Q("ic41_partitions", partitionsMetaQ, Some(partitionsMetaOracle)),
    Q("ic42_iceberg_rewrite_data", icebergRewriteDataQ, Some(icebergRewriteDataOracle)),
    Q("ic43_refs", refsQ, Some(refsOracle)),
    Q("ic44_manifests", manifestsQ, Some(manifestsOracle)),
    Q("ic45_files", filesQ, Some(filesOracle)),
    Q("ic46_skip_audit", skipAuditQ, Some(skipAuditOracle)),
    Q("ic47_zorder_write", zorderWriteQ, Some(zorderWriteOracle)),
    Q("ic48_stats_count", statsCountQ, Some(statsCountOracle)),
    Q("ic49_dsv2_pushdown", dsv2Pushdown,
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
              WHERE o_orderkey <= 999 ORDER BY o_orderkey""")),
    Q("ic50_spj_join", spjJoin,
      Some("""SELECT c_nationkey AS nationkey, COUNT(*) AS n_pairs,
                     CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                       + CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS bal_cents
              FROM customer JOIN supplier ON c_nationkey = s_nationkey
              GROUP BY 1 ORDER BY 1""")),
    Q("ic51_iceberg_nested", icebergNestedQ,
      Some("""SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS total,
                     o_orderpriority AS prio, o_custkey AS custkey
              FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""")),
    Q("ic52_dsv2_count", dsv2CountQ,
      Some("SELECT COUNT(*) AS n_rows FROM orders")),
    Q("ic53_dsv2_runtime_prune", dsv2RuntimePruneQ,
      Some("""SELECT o_orderpriority, COUNT(*) AS n_orders,
                     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
              FROM orders WHERE o_orderpriority = '1-URGENT'
              GROUP BY 1 ORDER BY 1""")),
    Q("ic54_dsv2_write", dsv2WriteQ, Some(nationOracle)),
    Q("ic55_dsv2_timetravel", dsv2TimeTravelQ, Some(nationOracle)),
    Q("ic56_sql_catalog_v2", sqlCatalogV2Q,
      Some("""WITH t AS (SELECT * FROM nation
                         UNION ALL SELECT * FROM nation WHERE n_regionkey = 0)
              SELECT n_regionkey, COUNT(*) AS n FROM t GROUP BY 1 ORDER BY 1""")),
    Q("ic57_rest_sql_catalog", restSqlCatalogQ,
      Some("""WITH t AS (SELECT * FROM nation
                         UNION ALL SELECT * FROM nation WHERE n_regionkey = 0)
              SELECT n_regionkey, COUNT(*) AS n, CAST(0 AS BIGINT) AS n_extra
              FROM t GROUP BY 1 ORDER BY 1""")),
    Q("ic58_sql_delete", sqlDeleteQ, Some(sqlDeleteOracle)),
    Q("ic59_sql_merge", sqlMergeQ, Some(sqlMergeOracle)),
    Q("ic60_sql_update", sqlUpdateQ, Some(sqlUpdateOracle)),
    Q("ic61_iceberg_v2_write_nested", icebergV2WriteNestedQ,
      Some("""SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS total,
                     o_orderpriority AS prio, o_custkey AS custkey
              FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""")),
    Q("ic62_sql_version_asof", sqlVersionAsOfQ, Some(nationOracle)),
    Q("ic63_sql_timestamp_asof", sqlTimestampAsOfQ, Some(nationOracle)),
    Q("ic64_sql_meta_tables", sqlMetaTablesQ, Some(sqlMetaTablesOracle)),
    Q("ic65_sql_insert_overwrite", sqlInsertOverwriteQ, Some(sqlInsertOverwriteOracle)),
    Q("ic66_sql_partitioned_insert", sqlPartitionedInsertQ, Some(sqlPartitionedInsertOracle)),
    Q("ic67_sql_dynamic_overwrite", sqlDynamicOverwriteQ, Some(sqlDynamicOverwriteOracle)),
    Q("ic68_sql_call_procedures", sqlCallProceduresQ, Some(sqlCallProceduresOracle)),
    Q("ic69_sql_metadata_delete", sqlMetadataDeleteQ, Some(sqlMetadataDeleteOracle)),
    Q("ic70_sql_static_partition_overwrite", sqlStaticPartitionOverwriteQ,
      Some(sqlStaticPartitionOverwriteOracle)),
    Q("ic71_sql_mor_delete", sqlMorDeleteQ, Some(sqlMorDeleteOracle)),
    Q("ic72_sql_mor_update", sqlMorUpdateQ, Some(sqlMorUpdateOracle)),
    Q("ic73_sql_mor_merge", sqlMorMergeQ, Some(sqlMorMergeOracle)),
    Q("ic74_sql_mor_compact", sqlMorCompactQ, Some(sqlMorCompactOracle)),
    Q("ic75_sql_mor_partitioned_merge", sqlMorPartitionedMergeQ,
      Some(sqlMorPartitionedMergeOracle)),
    Q("ic76_sql_iceberg_mor_delete", sqlIcebergMorDeleteQ,
      Some(sqlIcebergMorDeleteOracle)),
    Q("ic77_sql_iceberg_mor_update", sqlIcebergMorUpdateQ,
      Some(sqlIcebergMorUpdateOracle)),
    Q("ic78_sql_iceberg_mor_merge", sqlIcebergMorMergeQ,
      Some(sqlIcebergMorMergeOracle)),
    Q("ic79_sql_iceberg_eq_delete_read", sqlIcebergEqDeleteReadQ,
      Some(sqlIcebergEqDeleteReadOracle)),
    Q("ic80_sql_persistent_view", sqlPersistentViewQ,
      Some(sqlPersistentViewOracle)),
    Q("ic81_sql_iceberg_sparse_id_update", sqlIcebergSparseIdUpdateQ,
      Some(sqlIcebergSparseIdUpdateOracle)),
    Q("ic82_sql_manifest_prune", sqlManifestPruneQ, Some(sqlManifestPruneOracle)),
    Q("ic83_sql_temporal_prune", sqlTemporalPruneQ, Some(sqlTemporalPruneOracle)),
    Q("ic84_sql_iceberg_count", sqlIcebergCountQ, Some(sqlIcebergCountOracle)),
    Q("ic85_sql_eq_delete_maintenance", sqlEqDeleteMaintenanceQ,
      Some(sqlEqDeleteMaintenanceOracle)),
    Q("ic86_remote_url_ingest", remoteUrlIngest, Some(nationOracle)),
    Q("ic87_warehouse_cleanup", warehouseCleanup, Some(warehouseCleanupOracle)),
    Q("ic88_position_deletes_table", positionDeletesTableQ,
      Some(positionDeletesTableOracle)),
    Q("ic89_partition_evolution", icebergPartitionEvolutionQ,
      Some(icebergPartitionEvolutionOracle)),
    Q("ic90_type_promotion", sqlTypePromotionQ, Some(sqlTypePromotionOracle)),
    Q("ic91_sql_merge_not_matched_by_source", sqlMergeNotMatchedBySourceQ,
      Some(sqlMergeNotMatchedBySourceOracle)),
    Q("ic92_rename_drop_column", renameDropColumnQ, Some(renameDropColumnOracle)),
    Q("ic93_cherrypick_snapshot", cherryPickQ, Some(cherryPickOracle)),
    Q("ic94_native_meta_tables", nativeMetaTablesQ, Some(nativeMetaTablesOracle)),
    Q("ic95_sql_wap", sqlWapQ, Some(sqlWapOracle)),
    Q("ic96_nested_alter", nestedAlterQ, Some(nestedAlterOracle)),
    Q("ic97_native_sql_alter", nativeSqlAlterQ, Some(nativeSqlAlterOracle)),
    Q("ic98_table_statistics", tableStatisticsQ, Some(tableStatisticsOracle)),
    Q("ic99_deletion_vectors", deletionVectorsQ, Some(deletionVectorsOracle)),
    Q("ic100_default_values", defaultValuesQ, Some(defaultValuesOracle)),
    Q("ic101_partition_stats", partitionStatsQ, Some(partitionStatsOracle)),
    Q("ic102_row_lineage", rowLineageQ, Some(rowLineageOracle))
  )

  /** ic102: v3 ROW LINEAGE — every row carries a stable `_row_id`
    * (file `first_row_id` from manifest field 142 + position; the
    * `next-row-id` allocator in the metadata) and a
    * `_last_updated_sequence_number`, SURVIVING merge-on-read DELETE
    * (files untouched) and COMPACTION (the rewrite MATERIALIZES both
    * columns into the new files, physical presence winning on every
    * reader — the spec's mechanism for identity across rewrites).
    * Require-gates pin the id stability with order-independent hash
    * digests at each lifecycle step; ids themselves are engine-assigned,
    * so the oracle-facing output proves id UNIQUENESS (count distinct ==
    * count) per group over DuckDB-replayable content. Metadata-only
    * bookkeeping at any scale: assignment is one allocator bump per
    * commit, reads derive ids arithmetically. */
  private def rowLineageQ(s: SparkSession, d: String): DataFrame = {
    val root   = freshDir(s, "i102")
    val loc    = s"$root/graft/ord_i102"
    val orders = Tables.orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val w = new IcebergFormat.Writer(s, loc, orders.schema)
    w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "seed",
      orders.filter(col("o_orderkey") % 3 =!= 0))))
    IcebergFormat.resumeWriter(s, loc).commit(Seq(IcebergFormat.writeSingleFile(s, loc, "delta",
      orders.filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 2 === 0))))
    s.conf.set("spark.sql.catalog.ice_i102", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i102.warehouse", root)
    try {
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_i102.graft")
      def digest(where: String): java.math.BigDecimal = s.sql(
        s"""SELECT COALESCE(SUM(CAST(XXHASH64(o_orderkey, _row_id) AS DECIMAL(38,0))), 0)
            FROM ice_i102.graft.ord_i102 $where""").head().getDecimal(0)
      // one statement for both counts (round 18): same gates, half the
      // per-statement analysis + job round-trips
      val n0 = s.sql(
        "SELECT COUNT(*), COUNT(DISTINCT _row_id) FROM ice_i102.graft.ord_i102").head()
      val (nAll, nIds) = (n0.getLong(0), n0.getLong(1))
      require(nAll == nIds, s"row ids must be unique: $nAll rows, $nIds ids")
      val survivorsBefore = digest("WHERE o_orderkey % 10 <> 7")
      s.sql("DELETE FROM ice_i102.graft.ord_i102 WHERE o_orderkey % 10 = 7")
      require(digest("") == survivorsBefore,
        "MoR DELETE must not move the survivors' row ids")
      s.sql("CALL ice_i102.system.rewrite_data_files('graft', 'ord_i102', 1)")
      require(digest("") == survivorsBefore,
        "compaction must MATERIALIZE row ids, not renumber them")
      // post-compaction append: fresh span, no collisions with kept ids
      IcebergFormat.resumeWriter(s, loc).commit(Seq(IcebergFormat.writeSingleFile(s, loc, "late",
        orders.filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 2 === 1))))
      val n1 = s.sql(
        "SELECT COUNT(*), COUNT(DISTINCT _row_id) FROM ice_i102.graft.ord_i102").head()
      val (nAll2, nIds2) = (n1.getLong(0), n1.getLong(1))
      require(nAll2 == nIds2, s"post-append ids must stay unique: $nAll2 vs $nIds2")
      s.sql("""SELECT o_orderpriority, COUNT(*) AS n, COUNT(DISTINCT _row_id) AS n_ids
               FROM ice_i102.graft.ord_i102 GROUP BY 1 ORDER BY 1""")
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i102")
      s.conf.unset("spark.sql.catalog.ice_i102.warehouse")
    }
  }

  private val rowLineageOracle =
    """SELECT o_orderpriority, COUNT(*) AS n, COUNT(*) AS n_ids FROM (
         SELECT o_orderpriority FROM orders
         WHERE (o_orderkey % 3 <> 0 OR o_orderkey % 2 = 0) AND o_orderkey % 10 <> 7
         UNION ALL
         SELECT o_orderpriority FROM orders
         WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 1)
       GROUP BY 1 ORDER BY 1"""

  /** ic101: PARTITION STATISTICS — the spec's per-partition stats file
    * (`CALL system.compute_partition_stats` writes a typed-tuple parquet
    * under `metadata/`, registered in the table metadata's
    * `partition-statistics` list) plus the native `t.partitions` SQL
    * metadata table, over an identity-partitioned v2 dir across two
    * commits. Gates: the procedure reports all 5 partitions, the
    * PERSISTED file's counts equal the live manifest-derived table
    * row-for-row, and multi-file partitions report their real file
    * counts. Compute is planning-sized (manifest entries only);
    * consumption is O(partitions) — what a capacity dashboard reads
    * instead of walking manifests at 100 TB. */
  private def partitionStatsQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.TableStats
    val root   = freshDir(s, "i101")
    val loc    = s"$root/graft/ord_i101"
    val orders = Tables.orders(s, d)
    val prios  = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val w = new IcebergFormat.Writer(s, loc, orders.schema,
      partitionBy = Seq("o_orderpriority"))
    // both commits write their per-priority files in ONE grouped job each
    // (round 18, the r17 ic82/ic83/ic89 batching — was 7 single-file write
    // jobs); commit granularity and partition values are unchanged
    val seedFiles = IcebergFormat.writeGroupedFiles(
      s, loc, orders.filter(col("o_orderkey") % 2 === 1),
      col("o_orderpriority"), g => s"seed-${g.take(1)}")
    w.commit(prios.map { pr =>
      seedFiles(pr).copy(partitionValues = Map("o_orderpriority" -> pr))
    })
    // second commit: two partitions grow a second file each
    val deltaFiles = IcebergFormat.writeGroupedFiles(
      s, loc,
      orders.filter(col("o_orderpriority").isin(prios.take(2): _*) &&
        col("o_orderkey") % 2 === 0),
      col("o_orderpriority"), g => s"delta-${g.take(1)}")
    IcebergFormat.resumeWriter(s, loc).commit(prios.take(2).map { pr =>
      deltaFiles(pr).copy(partitionValues = Map("o_orderpriority" -> pr))
    })
    s.conf.set("spark.sql.catalog.ice_i101", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i101.warehouse", root)
    try {
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_i101.graft")
      val r = s.sql("CALL ice_i101.system.compute_partition_stats('graft', 'ord_i101')").head()
      require(r.getLong(1) == 5, s"expected 5 partitions in the stats file, got $r")
      // the persisted spec file must agree with the live metadata table
      val persisted = s.read.parquet(r.getString(0))
        .select(col("partition.o_orderpriority").as("p"),
          col("data_record_count"), col("data_file_count"))
        .collect().map(x => (x.getString(0), x.getLong(1), x.getInt(2).toLong)).toSet
      val live = s.sql(
        """SELECT substring_index(partition, '=', -1) AS p, record_count, n_files
           FROM ice_i101.graft.ord_i101.partitions""")
        .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
      require(persisted == live,
        s"persisted partition stats drifted from the manifests: $persisted vs $live")
      require(IcebergFormat.partitionStatisticsEntries(
        s, IcebergFormat.currentMetadataPath(s, loc)).size == 1,
        "exactly one partition-statistics registration for the computed snapshot")
      s.sql("""SELECT substring_index(partition, '=', -1) AS priority,
                      n_files, record_count
               FROM ice_i101.graft.ord_i101.partitions ORDER BY priority""")
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i101")
      s.conf.unset("spark.sql.catalog.ice_i101.warehouse")
    }
  }

  private val partitionStatsOracle =
    """SELECT o_orderpriority AS priority,
              CAST(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 2 ELSE 1 END AS BIGINT) AS n_files,
              COUNT(*) AS record_count
       FROM orders
       WHERE o_orderkey % 2 = 1 OR o_orderpriority IN ('1-URGENT','2-HIGH')
       GROUP BY o_orderpriority ORDER BY priority"""

  /** ic100: v3 DEFAULT VALUES — `ALTER TABLE ... ADD COLUMN ... DEFAULT`
    * records the spec's `initial-default`/`write-default` on the field,
    * and every PRE-evolution file reads the default instead of null while
    * post-evolution files keep their explicit values INCLUDING nulls
    * (physical presence decides, never a coalesce). The lifecycle also
    * drives MoR DELETE through a predicate on the defaulted column (the
    * DSv2 reader substitutes per file) and gates that the library scan
    * and the SQL path agree. Metadata-only at any scale: the ALTER is one
    * CAS, the backfill costs zero data IO — exactly why the spec added
    * it. */
  private def defaultValuesQ(s: SparkSession, d: String): DataFrame = {
    val root   = freshDir(s, "i100")
    val loc    = s"$root/graft/ord_i100"
    val orders = Tables.orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val w = new IcebergFormat.Writer(s, loc, orders.schema)
    w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "seed",
      orders.filter(col("o_orderkey") % 3 =!= 0))))
    s.conf.set("spark.sql.catalog.ice_i100", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i100.warehouse", root)
    try {
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_i100.graft")
      s.sql("ALTER TABLE ice_i100.graft.ord_i100 ADD COLUMN channel STRING DEFAULT 'legacy'")
      // post-evolution rows carry explicit channels, some NULL — those
      // nulls must NOT read back as 'legacy'
      IcebergFormat.resumeWriter(s, loc).commit(Seq(IcebergFormat.writeSingleFile(s, loc, "delta",
        orders.filter(col("o_orderkey") % 3 === 0).withColumn("channel",
          when(col("o_orderkey") % 5 === 0, lit(null).cast("string")).otherwise(lit("web"))))))
      // MoR DELETE keyed on the defaulted column: only pre-evolution rows
      // match 'legacy' (NULL-channel rows never match, SQL semantics)
      s.sql("DELETE FROM ice_i100.graft.ord_i100 WHERE channel = 'legacy' AND o_orderkey % 7 = 0")
      // both read paths agree on the default-vs-null split
      val sqlN = s.sql(
        "SELECT COUNT(*) FROM ice_i100.graft.ord_i100 WHERE channel IS NULL").head().getLong(0)
      val libN = IcebergFormat.scan(s, IcebergFormat.currentMetadataPath(s, loc))
        .filter(col("channel").isNull).count()
      require(sqlN == libN && sqlN > 0,
        s"SQL ($sqlN) and library ($libN) must agree on explicit nulls")
      s.sql("""SELECT COALESCE(channel, '(null)') AS channel, COUNT(*) AS n,
                      CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
               FROM ice_i100.graft.ord_i100 GROUP BY 1 ORDER BY 1""")
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i100")
      s.conf.unset("spark.sql.catalog.ice_i100.warehouse")
    }
  }

  private val defaultValuesOracle =
    """SELECT COALESCE(channel, '(null)') AS channel, COUNT(*) AS n,
              CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
       FROM (
         SELECT o_orderkey, o_totalprice, 'legacy' AS channel
         FROM orders WHERE o_orderkey % 3 <> 0
         UNION ALL
         SELECT o_orderkey, o_totalprice,
                CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE 'web' END
         FROM orders WHERE o_orderkey % 3 = 0)
       WHERE (channel = 'legacy' AND o_orderkey % 7 = 0) IS DISTINCT FROM TRUE
       GROUP BY 1 ORDER BY 1"""

  /** ic99: Iceberg v3 DELETION VECTORS end-to-end
    * ([[graft.icelite.DeletionVectors]]): per-file roaring bitmaps in
    * Puffin blobs referenced by spec fields 143-145, interleaved with the
    * v2 shapes they must compose with — (1) a vector DELETE, (2) a SQL
    * MoR DELETE writing parquet position deletes, (3) a second vector
    * DELETE that MERGES each touched file's prior vector and absorbed
    * parquet pairs (the v3 superset contract), then (4) the
    * parquet→vector maintenance fold. The read path applies the newest
    * vector per file (ranged blob read, executor-side bitmap expansion)
    * — at 100 TB a delete of N rows costs KB-scale bitmaps instead of
    * N-row parquet files, and re-applied superseded debt is an
    * idempotent no-op. */
  private def deletionVectorsQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.DeletionVectors
    val root   = freshDir(s, "i99")
    val loc    = s"$root/graft/ord_i99"
    val orders = Tables.orders(s, d)
    val w      = new IcebergFormat.Writer(s, loc, orders.schema)
    w.commit(Seq(
      IcebergFormat.writeSingleFile(s, loc, "even", orders.filter(col("o_orderkey") % 2 === 0)),
      IcebergFormat.writeSingleFile(s, loc, "odd", orders.filter(col("o_orderkey") % 2 === 1))))
    // (1) vector delete: %10==3 rows are all odd -> exactly one vector
    val n1 = DeletionVectors.deleteWhere(s, loc, col("o_orderkey") % 10 === 3)
    require(n1 == 1, s"one touched file must mean one vector, got $n1")
    // (2) the v2 shape, via SQL: parquet position deletes on the even file
    s.conf.set("spark.sql.catalog.ice_i99", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i99.warehouse", root)
    try {
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_i99.graft")
      s.sql("DELETE FROM ice_i99.graft.ord_i99 WHERE o_orderkey % 10 = 6")
      // (3) vector delete across BOTH files: merges the odd file's prior
      // vector and the even file's parquet pairs into new supersets
      DeletionVectors.deleteWhere(s, loc, col("o_orderpriority") === lit("1-URGENT"))
      // (4) maintenance: fold remaining parquet debt into vectors
      DeletionVectors.convertPositionDeletes(s, loc)
      val dvRows = s.sql(
        """SELECT COUNT(*) FROM ice_i99.graft.ord_i99.delete_files
           WHERE content = 'deletion-vector'""").head().getLong(0)
      require(dvRows >= 3, s"expected vector entries across the lifecycle, got $dvRows")
      // the SQL read path must agree with the library scan below
      s.sql("""SELECT o_orderpriority, COUNT(*) AS n,
                      CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
               FROM ice_i99.graft.ord_i99 GROUP BY 1 ORDER BY 1""")
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i99")
      s.conf.unset("spark.sql.catalog.ice_i99.warehouse")
    }
  }

  private val deletionVectorsOracle =
    """SELECT o_orderpriority, COUNT(*) AS n,
              CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
       FROM orders
       WHERE o_orderkey % 10 <> 3 AND o_orderkey % 10 <> 6
         AND o_orderpriority <> '1-URGENT'
       GROUP BY 1 ORDER BY 1"""

  /** ic98: ANALYZE → Puffin statistics files (spec `statistics` +
    * `apache-datasketches-theta-v1` blobs, [[graft.icelite.TableStats]]).
    * Lifecycle: analyze the seed snapshot, append, analyze again — the
    * metadata must then register BOTH snapshots' statistics files, the
    * `t.statistics` SQL surface must list every blob, and each NDV
    * estimated from the PERSISTED sketch bytes (full Puffin round trip)
    * must land within 5% of exact — theta at default nominal entries is
    * ~1.6% RSE, so the gate has slack without being vacuous. The emitted
    * rows are the EXACT per-column NDVs (an39's gating pattern), so the
    * DuckDB hash-compare stays bit-exact while the sketch machinery is
    * what the in-query requires prove. At 100 TB: ANALYZE is one scan
    * with fixed per-partition sketch state; consumers read a footer and
    * one blob, never the table. */
  private def tableStatisticsQ(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.TableStats
    val root = freshDir(s, "i98")
    val loc  = s"$root/graft/cust_i98"
    val cust = Tables.customer(s, d)
    val cols = Seq("c_custkey", "c_nationkey", "c_mktsegment")
    val w    = new IcebergFormat.Writer(s, loc, cust.schema)
    w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, "seed",
      cust.filter(col("c_custkey") % 4 =!= 0))))
    TableStats.analyze(s, loc, cols)
    IcebergFormat.resumeWriter(s, loc).commit(Seq(IcebergFormat.writeSingleFile(s, loc, "delta",
      cust.filter(col("c_custkey") % 4 === 0))))
    // second ANALYZE through the SQL procedure surface, and the
    // t.statistics listing must then cover both snapshots' blobs
    s.conf.set("spark.sql.catalog.ice_i98", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.ice_i98.warehouse", root)
    try {
      s.sql("CREATE NAMESPACE IF NOT EXISTS ice_i98.graft")
      val blobs = s.sql(
        s"CALL ice_i98.system.analyze_table('graft', 'cust_i98', '${cols.mkString(",")}')")
        .head().getLong(1)
      require(blobs == 3, s"analyze_table must register one blob per column, got $blobs")
      val n = s.sql("SELECT COUNT(*) FROM ice_i98.graft.cust_i98.statistics")
        .head().getLong(0)
      require(n == 6, s"t.statistics must list 3 blobs x 2 snapshots, got $n")
    } finally {
      s.conf.unset("spark.sql.catalog.ice_i98")
      s.conf.unset("spark.sql.catalog.ice_i98.warehouse")
    }
    val mp = IcebergFormat.currentMetadataPath(s, loc)
    require(IcebergFormat.statisticsEntries(s, mp).size == 2,
      "both analyzed snapshots must keep their statistics registration")
    // accuracy gate: sketch round-tripped through the Puffin file
    val scan  = IcebergFormat.scan(s, mp)
    val exact = scan.select(cols.map(c => countDistinct(col(c)).as(c)): _*).head()
    cols.zipWithIndex.foreach { case (c, i) =>
      val est = TableStats.ndv(s, loc, c).getOrElse(
        sys.error(s"no persisted sketch for $c"))
      val ex = exact.getLong(i).toDouble
      require(math.abs(est - ex) / ex <= 0.05,
        s"$c: sketch ndv $est vs exact $ex exceeds 5%")
    }
    // exact output (the oracle-facing rows)
    val frames = cols.map(c => scan.agg(
      count(lit(1)).as("n_rows"), countDistinct(col(c)).as("ndv_exact"))
      .select(lit(c).as("column_name"), col("n_rows"), col("ndv_exact")))
    frames.reduce(_ unionAll _).orderBy("column_name")
  }

  private val tableStatisticsOracle =
    """SELECT * FROM (
         SELECT 'c_custkey' AS column_name, COUNT(*) AS n_rows,
                CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS ndv_exact FROM customer
         UNION ALL
         SELECT 'c_nationkey', COUNT(*),
                CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) FROM customer
         UNION ALL
         SELECT 'c_mktsegment', COUNT(*),
                CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) FROM customer)
       ORDER BY column_name"""

  /** Metadata-only COUNT(*): every commit's manifest now carries per-file
    * row counts (Iceberg's required `record_count`), so the row count of
    * ANY snapshot — current or historical — is answered by summing
    * O(#manifests) cached JSON entries, with zero data files opened. This
    * is the optimization real engines apply to `SELECT COUNT(*)` on
    * Iceberg tables, and it's what makes snapshot-size reporting free on
    * a 10⁶-file table. Three commits build a growth history; each
    * snapshot's metadata count is REQUIRED to equal its time-travel scan
    * count (the scan is the audit, not the answer), and the emitted
    * numbers are oracle-checked against the raw source. */
  private def statsCountQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wh     = freshDir(s, "sc")
    val cat    = new FsCatalog(s, wh)
    val orders = Tables.orders(s, d)
    val t = cat.createOrReplaceTable("graft", "orders_sc",
      orders.filter(col("o_orderkey") < 1000).coalesce(1))
    t.append(orders.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000).coalesce(1))
    t.append(orders.filter(col("o_orderkey") >= 2000).coalesce(1))
    val rows = t.snapshots().sortBy(_.snapshot_id).zipWithIndex.map { case (snap, i) =>
      val meta = t.statsRowCount(snap)
        .getOrElse(sys.error(s"snapshot ${snap.snapshot_id} lacks metadata row counts"))
      val scanned = t.scanSnapshot(snap.snapshot_id).count()
      require(meta == scanned,
        s"metadata count $meta != scan count $scanned at snapshot ${snap.snapshot_id}")
      (i + 1L, meta)
    }
    rows.toDF("commit_seq", "n_rows").orderBy("commit_seq")
  }

  private val statsCountOracle =
    """SELECT CAST(1 AS BIGINT) AS commit_seq,
              COUNT(*) FILTER (WHERE o_orderkey < 1000) AS n_rows FROM orders
       UNION ALL
       SELECT CAST(2 AS BIGINT), COUNT(*) FILTER (WHERE o_orderkey < 2000) FROM orders
       UNION ALL
       SELECT CAST(3 AS BIGINT), COUNT(*) FROM orders
       ORDER BY commit_seq"""

  /** Z-ORDER at WRITE time (the ingest-side twin of `compactZOrder`,
    * which re-clusters existing files): an75 measures that bit-interleaved
    * bucketing bounds both key ranges; this query PROVES the file-skipping
    * payoff on the real table format, and unlike the compaction spec it
    * quantifies the win AGAINST the linear layout a naive writer produces.
    * The same projection is written twice into
    * IceLite — once range-partitioned on the interleaved z-value, once on
    * xk alone (classic linear clustering) — and the same second-dimension
    * range probe (`yk <= 127`) is planned against both tables' per-file
    * min/max stats. The z-layout MUST open strictly fewer files (require,
    * spec-grade gate inline); the returned aggregate comes from the pruned
    * z-scan, so the oracle also proves pruning lost no rows. At 100 TB
    * `repartitionByRange(zval)` before write is exactly the OPTIMIZE
    * ZORDER recipe — a shuffle at write time buying bounded min/max tiles
    * for every later scan on EITHER predicate column. */
  private def zorderWriteQ(s: SparkSession, d: String): DataFrame = {
    val wh  = freshDir(s, "zo")
    val cat = new FsCatalog(s, wh)
    // the interleave is a CODEGEN'D shift/or chain (compactZOrder's
    // recipe), not an `aggregate(sequence(...))` fold — the higher-order
    // function evaluates its lambda interpreted per row, and since
    // repartitionByRange computes the key in BOTH its sample pass and the
    // shuffle, the interpreted fold tripled the write cost (measured
    // 2.8 s → 0.9 s for the raw z write at sf0.1)
    val zval = (0 until 10).map { i =>
      shiftleft(shiftright(col("xk"), i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(col("yk"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    // each repartitionByRange computes its input TWICE (bounds-sampling
    // pass + the shuffle itself), and two tables are written — without a
    // materialization point the lineitem scan + zval projection ran 4×.
    // localCheckpoint (round 18; the dd23/sm32 within-run-reuse pattern,
    // guide §5) computes the 4-column frame once; the narrow checkpoint
    // (4 longs/row) is far smaller than 3 extra scans at any scale.
    val base = Tables.lineitem(s, d)
      .select((col("l_partkey") % 1024).cast("long").as("xk"),
        (col("l_orderkey") % 1024).cast("long").as("yk"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint").as("cents"))
      .withColumn("zval", zval)
      .localCheckpoint()
    val tz = cat.createOrReplaceTable("graft", "li_zorder",
      base.repartitionByRange(8, col("zval")))
    val tl = cat.createOrReplaceTable("graft", "li_linear",
      base.repartitionByRange(8, col("xk")))
    val zScan = tz.scanRange("yk", Some("0"), Some("127"))
    val lScan = tl.scanRange("yk", Some("0"), Some("127"))
    val (zFiles, lFiles) = (IcebergFormat.inputFiles(zScan).length, IcebergFormat.inputFiles(lScan).length)
    require(zFiles < lFiles,
      s"z-order pruning opened $zFiles files; linear opened $lFiles — interleave buys nothing")
    zScan.filter(col("yk") <= 127)
      .groupBy("yk")
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("cents_sum"))
      .orderBy("yk")
  }

  private val zorderWriteOracle =
    """SELECT l_orderkey % 1024 AS yk, COUNT(*) AS n_rows,
              CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents_sum
       FROM lineitem WHERE l_orderkey % 1024 <= 127
       GROUP BY 1 ORDER BY 1"""

  /** Skipping-effectiveness audit: the report a table-maintenance
    * scheduler reads to decide whether clustering is paying off — for a
    * table laid out as 5 disjoint orderkey-range files, how many files
    * does planning open for a range probe vs a point probe? ic08 gates
    * that pruning HAPPENS; this gates the planner's selectivity numbers
    * themselves (files kept, selectivity in bp), pinned by a VALUES
    * oracle. Pure metadata arithmetic — planning cost O(manifests), zero
    * data IO. */
  private def skipAuditQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wh     = freshDir(s, "skipaudit")
    val cat    = new FsCatalog(s, wh)
    val orders = Tables.orders(s, d)
    // 5 disjoint 300-key range files (sf0.001 has orderkeys 0..1499, so
    // every slice is non-empty at every testdata scale)
    val t = cat.createOrReplaceTable("graft", "orders_ska",
      orders.filter(col("o_orderkey") < 300).coalesce(1))
    (1 to 4).foreach { k =>
      t.append(orders
        .filter(col("o_orderkey") >= k * 300 && col("o_orderkey") < (k + 1) * 300)
        .coalesce(1))
    }
    val total = t.filesTable().count()
    val probes = Seq(
      ("range_600_1199", Some("600"), Some("1199")), // spans exactly files 3+4
      ("point_450", Some("450"), Some("450")))       // lands in file 2
    probes.map { case (name, lo, hi) =>
      val kept = t.planFiles("o_orderkey", lo, hi).length.toLong
      (name, total, kept, kept * 10000 / total)
    }.toDF("probe", "n_files", "n_kept", "kept_bp")
      .orderBy("probe")
  }

  private val skipAuditOracle =
    """SELECT probe, CAST(n_files AS BIGINT) AS n_files,
              CAST(n_kept AS BIGINT) AS n_kept,
              CAST(kept_bp AS BIGINT) AS kept_bp
       FROM (VALUES ('point_450', 5, 1, 2000),
                    ('range_600_1199', 5, 2, 4000)) t(probe, n_files, n_kept, kept_bp)
       ORDER BY probe"""

  /** `t.files` metadata table: one row per data file of the current
    * snapshot with its per-column min/max stats — the planner's own
    * skipping inputs made user-queryable (what `SELECT * FROM t.files`
    * shows in real Iceberg). The oracle recomputes each file's stats
    * string from the source rows it was written from, so this gates that
    * commit-time stats collection (IceTable.manifestEntries) actually
    * aggregates the right values per file, not just that files exist.
    * Pure metadata read: O(manifest entries), zero data IO. */
  private def filesQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "filesmeta")
    val cat    = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    val t = cat.createOrReplaceTable("graft", "nations_files", nation.coalesce(1))
    t.append(nation.filter(col("n_regionkey") === 0).coalesce(1))
    t.append(nation.filter(col("n_regionkey") === 1).coalesce(1))
    t.filesTable()
      .select(col("n_stat_cols").cast("long").as("n_stat_cols"), col("stats"))
      .orderBy("stats")
  }

  private val filesOracle = {
    def statsOf(where: String) =
      s"""SELECT CAST(3 AS BIGINT) AS n_stat_cols,
            'n_name:[' || CAST(MIN(n_name) AS VARCHAR) || ',' || CAST(MAX(n_name) AS VARCHAR) ||
            '];n_nationkey:[' || CAST(MIN(n_nationkey) AS VARCHAR) || ',' || CAST(MAX(n_nationkey) AS VARCHAR) ||
            '];n_regionkey:[' || CAST(MIN(n_regionkey) AS VARCHAR) || ',' || CAST(MAX(n_regionkey) AS VARCHAR) || ']'
            AS stats
          FROM nation $where"""
    s"""SELECT n_stat_cols, stats FROM (
          ${statsOf("")}
          UNION ALL ${statsOf("WHERE n_regionkey = 0")}
          UNION ALL ${statsOf("WHERE n_regionkey = 1")})
        ORDER BY stats"""
  }

  /** `t.manifests` metadata table over a pinned lifecycle: create + two
    * single-file appends. Manifests carry by pointer, so snapshot N lists
    * N one-file manifests — the growth curve `rewrite_manifests` (ic34)
    * exists to flatten, now directly queryable. */
  private def manifestsQ(s: SparkSession, d: String): DataFrame = {
    val wh     = freshDir(s, "mfs")
    val cat    = new FsCatalog(s, wh)
    val nation = Tables.nation(s, d)
    val t = cat.createOrReplaceTable("graft", "nations_mfs", nation.coalesce(1)) // snap 1
    t.append(nation.filter(col("n_regionkey") === 0).coalesce(1))                // snap 2
    t.append(nation.filter(col("n_regionkey") === 1).coalesce(1))                // snap 3
    t.manifestsTable().orderBy("snapshot_id", "manifest_pos")
  }

  private val manifestsOracle =
    """SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id,
              CAST(manifest_pos AS BIGINT) AS manifest_pos,
              CAST(n_files AS BIGINT) AS n_files,
              is_current
       FROM (VALUES (1, 0, 1, false),
                    (2, 0, 1, false), (2, 1, 1, false),
                    (3, 0, 1, true), (3, 1, 1, true), (3, 2, 1, true))
         t(snapshot_id, manifest_pos, n_files, is_current)
       ORDER BY snapshot_id, manifest_pos"""
}
