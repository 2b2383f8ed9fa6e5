package graft

import graft.icelite._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lifecycle tests for the IceLite table format + catalog + ingest + engine
  * (SURVEY.md §5 test strategy item 4): create → append → re-scan → counts;
  * drop/replace; time travel; catalog listing; metadata addressing; CSV
  * ingest with inference + normalization; exports.
  */
class IceLiteSpec extends SparkSpec {

  private def nation = Tables.nation(spark, sfDir)

  test("standard Iceberg format: avro manifests with spec field-ids, orphan exclusion, v1 fallback") {
    import org.apache.hadoop.fs.Path
    val root = scratch("icespec")
    val loc  = s"$root/t_ice"
    val fs   = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stage(name: String, df: org.apache.spark.sql.DataFrame): IcebergFormat.DataFileInfo = {
      val tmp = s"$root/st_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp)).map(_.getPath).find(_.getName.endsWith(".parquet")).get
      val dest = new Path(s"$loc/data/$name.parquet")
      fs.mkdirs(dest.getParent)
      fs.rename(part, dest)
      IcebergFormat.DataFileInfo(dest.toString, df.count(), fs.getFileStatus(dest).getLen)
    }
    val a = stage("a", nation.filter(col("n_nationkey") < 10))
    val b = stage("b", nation.filter(col("n_nationkey") >= 10))
    stage("orphan", nation.limit(5)) // present on disk, never committed
    val w = new IcebergFormat.Writer(spark, loc, nation.schema)
    w.commit(Seq(a))
    w.commit(Seq(b))

    // scan through the metadata chain: orphan rows must NOT appear
    val scanned = IcebergFormat.scan(spark, w.currentMetadataPath)
    assert(scanned.count() == 25)
    assert(scanned.schema.fieldNames.toSeq == nation.schema.fieldNames.toSeq)
    // pinned to an older metadata version = time travel
    val v1 = w.currentMetadataPath.replace("v00002", "v00001")
    assert(IcebergFormat.scan(spark, v1).count() == 10)

    // the avro files are genuine avro object container files (magic "Obj\1")
    val mfDir = new Path(loc, "metadata")
    val avros = fs.listStatus(mfDir).map(_.getPath).filter(_.getName.endsWith(".avro"))
    assert(avros.length == 4) // 2 manifests + 2 manifest lists
    avros.foreach { p =>
      val in  = fs.open(p)
      val hdr = new Array[Byte](4)
      in.readFully(hdr); in.close()
      assert(hdr.toSeq == Seq[Byte]('O', 'b', 'j', 1), s"${p.getName} is not avro")
    }
    // spec field-ids ride in the manifest avro schema (readers project by id)
    val manifestBytes = {
      val p  = avros.find(_.getName.startsWith("m-")).get
      val in = fs.open(p)
      val buf = new java.io.ByteArrayOutputStream()
      val arr = new Array[Byte](8192)
      var n = in.read(arr); while (n > 0) { buf.write(arr, 0, n); n = in.read(arr) }
      in.close(); new String(buf.toByteArray, "ISO-8859-1")
    }
    assert(manifestBytes.contains("\"field-id\":100"), "data_file.file_path field-id missing")
    assert(manifestBytes.contains("manifest_entry"))

    // a v1-style snapshot with inline "manifests" (no manifest-list) also reads
    val mdV1 =
      s"""{"format-version":1,"table-uuid":"u","location":"$loc",
         "schema":{"type":"struct","fields":[
           {"id":1,"name":"n_nationkey","required":false,"type":"long"},
           {"id":2,"name":"n_name","required":false,"type":"string"},
           {"id":3,"name":"n_regionkey","required":false,"type":"int"}]},
         "current-snapshot-id":7,
         "snapshots":[{"snapshot-id":7,"timestamp-ms":1,
           "manifests":["$loc/metadata/m-00001.avro"]}]}""".replaceAll("\n\\s*", "")
    val v1Path = new Path(mfDir, "v1style.metadata.json")
    val out = fs.create(v1Path, true); out.write(mdV1.getBytes("UTF-8")); out.close()
    assert(IcebergFormat.scan(spark, v1Path.toString).count() == 10)

    // nested types are rejected loudly, not silently mangled
    intercept[UnsupportedOperationException](
      SpecMetadata.toSparkType("struct<1: a: int>"))
  }

  test("exportIceberg is metadata-only: manifests adopt IceLite parquet in place") {
    import org.apache.hadoop.fs.Path
    val cat = new FsCatalog(spark, scratch("icexp"))
    val t   = cat.createOrReplaceTable("ns", "nations_x", nation)
    t.append(nation)
    val dest = scratch("icexp_dest") + "/t_ice"
    val mdPath = t.exportIceberg(dest)
    val back = IcebergFormat.scan(spark, mdPath)
    assert(back.count() == 50)
    // zero copy: every planned file lives under the ICELITE table location
    val tablePrefix = t.location.toString
    val backFiles = IcebergFormat.inputFiles(back)
    assert(backFiles.nonEmpty &&
      backFiles.forall(f => new Path(f).toUri.getPath.startsWith(
        new Path(tablePrefix).toUri.getPath)))
    // and the export dir holds metadata only — no parquet was copied
    val fs = new Path(dest).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val copied = {
      val it = fs.listFiles(new Path(dest), true)
      var any = false
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) any = true
      any
    }
    assert(!copied, "export copied data files")
    // partitioned tables are rejected loudly
    val tp = cat.createOrReplaceTable("ns", "nations_p", nation, Seq("n_regionkey"))
    intercept[IllegalArgumentException](tp.exportIceberg(scratch("icexp_p")))
  }

  test("scanPoints plans one scan keeping only files matching ANY in-list value") {
    val cat = new FsCatalog(spark, scratch("icpts"))
    val lo  = nation.filter(col("n_nationkey") < 10).coalesce(1)
    val hi  = nation.filter(col("n_nationkey") >= 10).coalesce(1)
    val t   = cat.createOrReplaceTable("ns", "nations_pt", lo)
    t.append(hi)
    val mdPath = t.exportIceberg(scratch("icpts_dest") + "/t")
    // values on both sides of the split keep both files
    val (both, kBoth, total) =
      IcebergFormat.scanPoints(spark, mdPath, "n_nationkey", Seq("3", "12"))
    assert(total == 2 && kBoth == 2)
    assert(both.filter(col("n_nationkey").isin(3, 12)).count() == 2)
    // values on one side keep exactly one file, rows intact
    val (one, kOne, _) =
      IcebergFormat.scanPoints(spark, mdPath, "n_nationkey", Seq("3", "4"))
    assert(kOne == 1, s"in-list pruning kept $kOne of $total files")
    assert(IcebergFormat.inputFiles(one).length == 1)
    assert(one.filter(col("n_nationkey").isin(3, 4)).count() == 2)
    // an empty in-list keeps nothing
    val (none, kNone, _) =
      IcebergFormat.scanPoints(spark, mdPath, "n_nationkey", Nil)
    assert(kNone == 0 && none.count() == 0)
  }

  test("exported Iceberg manifests carry bounds; planFiles prunes on them") {
    val cat = new FsCatalog(spark, scratch("icbnd"))
    val lo  = nation.filter(col("n_nationkey") < 10).coalesce(1)
    val hi  = nation.filter(col("n_nationkey") >= 10).coalesce(1)
    val t   = cat.createOrReplaceTable("ns", "nations_b", lo)
    t.append(hi)
    val mdPath = t.exportIceberg(scratch("icbnd_dest") + "/t")
    // a point lookup below the split plans exactly the low file
    val planned = IcebergFormat.planFiles(spark, mdPath, "n_nationkey", Some("3"), Some("3"))
    assert(planned.size == 1, s"bounds pruning failed: $planned")
    val pruned = IcebergFormat.scanRange(spark, mdPath, "n_nationkey", Some("3"), Some("3"))
    assert(IcebergFormat.inputFiles(pruned).length == 1)
    assert(pruned.filter(col("n_nationkey") === 3).count() == 1)
    // unbounded keeps both; a string column prunes lexically
    assert(IcebergFormat.planFiles(spark, mdPath, "n_nationkey", None, None).size == 2)
    val loName = nation.filter(col("n_nationkey") < 10)
      .agg(min("n_name")).head.getString(0)
    assert(IcebergFormat.planFiles(spark, mdPath, "n_name", Some(loName), Some(loName)).size <= 2)
    // bound encode/decode round-trips the supported primitives
    import org.apache.spark.sql.types._
    for ((dt, v) <- Seq[(DataType, String)](
        (IntegerType, "-7"), (LongType, "123456789012"), (FloatType, "1.5"),
        (DoubleType, "-2.25"), (StringType, "oslo"), (BooleanType, "true"))) {
      val enc = IcebergFormat.encodeBound(dt, v).get
      assert(IcebergFormat.decodeBound(dt, enc).get.toString == v, s"roundtrip $dt")
    }
  }

  test("scan of a freshly created table (no commits) is empty, not an error") {
    val t = IceTable.create(spark, scratch("empty") + "/t", "t", "ns", nation.schema)
    assert(t.scan().count() == 0)
    assert(t.scan().schema == nation.schema)
  }

  test("create/append/scan roundtrip preserves rows and schema") {
    val cat = new FsCatalog(spark, scratch("rt"))
    val t   = cat.createOrReplaceTable("ns", "nations", nation)
    assert(t.scan().count() == 25)
    assert(t.scan().schema == nation.schema)
    assert(t.snapshots().map(_.operation) == Seq("append"))
  }

  test("append creates snapshots; time travel reads older versions") {
    val cat = new FsCatalog(spark, scratch("tt"))
    val t   = cat.createOrReplaceTable("ns", "nations", nation)
    t.append(nation)
    t.append(nation)
    assert(t.snapshots().map(_.snapshot_id) == Seq(1L, 2L, 3L))
    assert(t.scanSnapshot(1).count() == 25)
    assert(t.scanSnapshot(2).count() == 50)
    assert(t.scan().count() == 75)
  }

  test("replace resets contents; create-or-replace drops the old location") {
    val cat = new FsCatalog(spark, scratch("rp"))
    val t1  = cat.createOrReplaceTable("ns", "nations", nation)
    t1.append(nation)
    val loc1 = t1.location.toString
    val t2 = cat.createOrReplaceTable("ns", "nations", nation.limit(5))
    assert(t2.scan().count() == 5)
    assert(t2.location.toString != loc1)
    assert(cat.listTables("ns") == Seq("nations"))
    // in-place replace keeps history but plans only the new files
    t2.replace(nation.limit(3))
    assert(t2.scan().count() == 3)
    assert(t2.snapshots().map(_.operation) == Seq("append", "replace"))
  }

  test("catalog: idempotent namespaces, listing, metadata location, drop") {
    val cat = new FsCatalog(spark, scratch("cat"))
    cat.createNamespace("a")
    cat.createNamespace("a")
    cat.createOrReplaceTable("a", "regions", Tables.region(spark, sfDir))
    cat.createOrReplaceTable("b", "nations", nation)
    assert(cat.listNamespaces() == Seq("a", "b"))
    assert(cat.listTables("a") == Seq("regions"))
    val ml = cat.metadataLocation("a", "regions")
    assert(ml.contains("metadata/v2.json")) // v1 create + v2 first append
    assert(cat.dropTable("a", "regions"))
    assert(!cat.tableExists("a", "regions"))
    assert(!cat.dropTable("a", "regions"))
  }

  test("scanMetadata addresses a table straight from its metadata file, pinned to that version") {
    val cat = new FsCatalog(spark, scratch("meta"))
    val t   = cat.createOrReplaceTable("ns", "nations", nation)
    val eng = new Engine(spark, cat)
    val v2  = cat.metadataLocation("ns", "nations") // v2 = first append
    assert(eng.scanMetadata(v2).count() == 25)
    // a later commit must NOT change what the v2 metadata file reads
    t.append(nation)
    assert(eng.scanMetadata(v2).count() == 25)
    assert(eng.scanMetadata(cat.metadataLocation("ns", "nations")).count() == 50)
  }

  test("engine sql substitutes {table} and runs Spark SQL") {
    val cat = new FsCatalog(spark, scratch("sql"))
    cat.createOrReplaceTable("ns", "nations", nation)
    val eng = new Engine(spark, cat)
    val out = eng.sql("ns.nations",
      "SELECT n_regionkey, COUNT(*) AS c FROM {table} GROUP BY n_regionkey ORDER BY n_regionkey")
    assert(out.count() == 5)
    assert(out.columns.toSeq == Seq("n_regionkey", "c"))
  }

  test("engine describe reports normalized type names") {
    val cat = new FsCatalog(spark, scratch("desc"))
    cat.createOrReplaceTable("ns", "nations", nation)
    val eng  = new Engine(spark, cat)
    val desc = eng.describe("ns.nations").collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc("n_nationkey") == "INTEGER")
    assert(desc("n_name") == "VARCHAR")
  }

  test("warehouse cleanup lists then deletes everything (confirm-gated)") {
    val cat = new FsCatalog(spark, scratch("clean"))
    cat.createOrReplaceTable("ns", "nations", nation)
    val preview = cat.cleanupWarehouse(dryRun = true)
    assert(preview.exists(_.contains("v2.json")))
    assert(cat.listNamespaces().nonEmpty)
    // reference confirm-twice protocol: wrong/missing token destroys nothing
    intercept[IllegalArgumentException](cat.cleanupWarehouse())
    intercept[IllegalArgumentException](cat.cleanupWarehouse(confirm = Some("wrong_wh")))
    assert(cat.listNamespaces().nonEmpty)
    cat.cleanupWarehouse(confirm = Some("test_clean"))
    assert(cat.listNamespaces().isEmpty)
  }

  test("ingest: explicit name honored for single file; glob makes one table per file") {
    val csvDir = java.nio.file.Paths.get(scratch("ing_csv"))
    java.nio.file.Files.createDirectories(csvDir)
    java.nio.file.Files.writeString(csvDir.resolve("user record.csv"), "id,name\n1,ann\n2,bo\n")
    java.nio.file.Files.writeString(csvDir.resolve("city.csv"), "id,city\n1,oslo\n")
    val cat = new FsCatalog(spark, scratch("ing_wh"))
    val job = new IngestJob(spark, cat, scratch("ing_tmp"))

    val single = job.run(IngestConfig(
      source = csvDir.resolve("city.csv").toString, namespace = "db",
      explicitTableName = Some("mycities")))
    assert(single.map(r => (r.table, r.rows)) == Seq(("mycities", 1L)))

    val multi = job.run(IngestConfig(
      source = csvDir.toString, globPattern = Some("*.csv"), namespace = "db",
      pluralizeNames = true))
    assert(multi.map(_.table).sorted == Seq("cities", "user_records"))
    assert(cat.listTables("db").sorted == Seq("cities", "mycities", "user_records"))
  }

  test("ingest glob-merge loads all files into one table (reference S16, implemented)") {
    val csvDir = java.nio.file.Paths.get(scratch("mrg_csv"))
    java.nio.file.Files.createDirectories(csvDir)
    java.nio.file.Files.writeString(csvDir.resolve("a.csv"), "id,v\n1,x\n2,y\n")
    java.nio.file.Files.writeString(csvDir.resolve("b.csv"), "id,v\n3,z\n")
    val cat = new FsCatalog(spark, scratch("mrg_wh"))
    val job = new IngestJob(spark, cat, scratch("mrg_tmp"))
    val res = job.run(IngestConfig(
      source = csvDir.toString, globPattern = Some("*.csv"), namespace = "db",
      explicitTableName = Some("merged"), mergeGlob = true))
    assert(res.map(r => (r.table, r.rows)) == Seq(("merged", 3L)))
  }

  test("glob-merge with drifted headers unions by name with null-fill") {
    val csvDir = java.nio.file.Paths.get(scratch("drift_csv"))
    java.nio.file.Files.createDirectories(csvDir)
    // b.csv drifts between two same-header files: drops `name` and `code`,
    // adds `city` — a positional union would silently land city values in
    // the name column. `code` infers as int in a.csv and string in c.csv.
    java.nio.file.Files.writeString(csvDir.resolve("a.csv"), "id,name,code\n1,ann,7\n2,bo,8\n")
    java.nio.file.Files.writeString(csvDir.resolve("b.csv"), "id,city\n3,oslo\n")
    java.nio.file.Files.writeString(csvDir.resolve("c.csv"), "id,name,code\n4,cy,x9\n")
    val cat = new FsCatalog(spark, scratch("drift_wh"))
    val job = new IngestJob(spark, cat, scratch("drift_tmp"))
    var res = Seq.empty[IngestResult]
    val jobs = jobNames {
      res = job.run(IngestConfig(
        source = csvDir.toString, globPattern = Some("*.csv"), namespace = "db",
        explicitTableName = Some("drifted"), mergeGlob = true))
    }
    // one read per distinct header: at most a header job and an inference job each
    assert(jobs.count(_.startsWith("csv at IngestJob")) <= 2 * 2, jobs)
    val out = new Engine(spark, cat).table("db.drifted")
    assert(res.map(r => (r.table, r.rows)) == Seq(("drifted", 4L)))
    assert(res.head.rows == out.count())
    // the first header's columns, then the ones the drifted file adds
    assert(out.schema.map(f => f.name -> f.dataType) == Seq(
      "id" -> IntegerType, "name" -> StringType, "code" -> StringType, "city" -> StringType))
    val rows = out.orderBy("id").collect().map(r =>
      (r.getAs[Int]("id"), r.getAs[String]("name"), r.getAs[String]("code"), r.getAs[String]("city")))
    assert(rows.toSeq == Seq((1, "ann", "7", null), (2, "bo", "8", null), (3, null, null, "oslo"),
      (4, "cy", "x9", null)))

    // `code` infers as int in one header group and as string in the
    // other: both read it as string (the union would widen it to BIGINT
    // and fail the load on 'x9')
    val mixedDir = java.nio.file.Paths.get(scratch("drift_mixed_csv"))
    java.nio.file.Files.createDirectories(mixedDir)
    java.nio.file.Files.writeString(mixedDir.resolve("a.csv"), "id,code\n1,7\n")
    java.nio.file.Files.writeString(mixedDir.resolve("b.csv"), "id,code,city\n2,x9,oslo\n")
    val mixed = job.run(IngestConfig(
      source = mixedDir.toString, globPattern = Some("*.csv"), namespace = "db",
      explicitTableName = Some("mixed"), mergeGlob = true))
    assert(mixed.map(r => (r.table, r.rows)) == Seq(("mixed", 2L)))
    val m = new Engine(spark, cat).table("db.mixed")
    assert(m.schema.map(f => f.name -> f.dataType) == Seq(
      "id" -> IntegerType, "code" -> StringType, "city" -> StringType))
    assert(m.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1, "7", null), (2, "x9", "oslo")))
  }

  /** Names of the Spark jobs `body` runs (each its result stage's name,
    * `<action> at <File>:<line>`), as a listener local to the call sees
    * them. */
  private def jobNames(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        names.add(e.stageInfos.maxBy(_.stageId).name)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // the bus delivers events in order: once a marker job is seen, every
      // job `body` ran has been seen too
      val marker = "jobNames marker"
      sc.setCallSite(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!names.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(names.contains(marker), "listener never saw the marker job")
      names.toArray(Array.empty[String]).toSeq.filterNot(_ == marker)
    } finally sc.removeSparkListener(listener)
  }

  test("ingest from a file:// url goes through the download path") {
    val src = java.nio.file.Files.createTempFile("graft_remote", ".csv")
    java.nio.file.Files.writeString(src, "id,val\n1,10\n2,20\n")
    val cat = new FsCatalog(spark, scratch("dl_wh"))
    val job = new IngestJob(spark, cat, scratch("dl_tmp"))
    val res = job.run(IngestConfig(source = src.toUri.toString, namespace = "db"))
    assert(res.map(_.rows) == Seq(2L))
  }

  test("type normalizer maps inferred types onto the 8-type system") {
    assert(TypeNormalizer.normalizeType(ByteType) == IntegerType)
    assert(TypeNormalizer.normalizeType(ShortType) == IntegerType)
    assert(TypeNormalizer.normalizeType(LongType) == LongType)
    assert(TypeNormalizer.normalizeType(DecimalType(10, 2)) == StringType) // fallback
    assert(TypeNormalizer.normalizeType(ArrayType(LongType)) == StringType) // fallback
    val df = spark.range(3).select(
      col("id").cast("byte").as("b"), col("id").cast("decimal(10,2)").as("d"))
    val norm = TypeNormalizer.normalize(df)
    assert(norm.schema("b").dataType == IntegerType)
    assert(norm.schema("d").dataType == StringType)
  }

  test("metadata json roundtrips with field ids and snapshots") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true)))
    val md = TableMetadata.create("t", "ns", "/tmp/x", schema)
    val back = TableMetadata.fromJson(md.toJson)
    assert(back.schema == schema)
    assert(back.fields == List(
      FieldInfo(1, "id", "bigint", required = true),
      FieldInfo(2, "name", "string", required = false)))
    assert(back.current_snapshot_id == 0 && back.snapshots.isEmpty)
  }

  test("spec bucket hash matches the Iceberg spec's Appendix B test vectors") {
    // published vectors: hash(int 34) = hash(long 34) = 2017239379 (ints
    // hash as 8-byte little-endian longs), hash("iceberg") = 1210000089
    assert(IcebergFormat.specHashLong(34L) == 2017239379)
    assert(IcebergFormat.specHashString("iceberg") == 1210000089)
    // bucket id = (hash & Int.MaxValue) % N, deterministic across engines
    assert(IcebergFormat.bucketOf(
      org.apache.spark.sql.types.LongType, "34", 16).contains(2017239379 % 16))
    assert(IcebergFormat.bucketOf(
      org.apache.spark.sql.types.IntegerType, "34", 16) ==
      IcebergFormat.bucketOf(org.apache.spark.sql.types.LongType, "34", 16))
  }

  test("spec temporal + truncate transforms: epoch math and floor semantics") {
    import IcebergFormat.applyTransform
    // temporal transforms are epoch-relative ints (spec Partition Transforms)
    assert(applyTransform("year", TimestampType, "1995-07-04 12:30:00").contains(25))
    assert(applyTransform("month", TimestampType, "1970-02-15 00:00:00").contains(1))
    assert(applyTransform("day", DateType, "1970-01-02").contains(1))
    assert(applyTransform("day", TimestampType, "1969-12-31 23:00:00").contains(-1)) // pre-epoch
    assert(applyTransform("hour", TimestampType, "1970-01-02 03:00:00").contains(27))
    assert(applyTransform("year", TimestampType, "1969-06-01 00:00:00").contains(-1))
    // truncate[W] floors toward -inf (spec: v - (((v % W) + W) % W))
    assert(applyTransform("truncate[10]", IntegerType, "17").contains(10))
    assert(applyTransform("truncate[10]", IntegerType, "-1").contains(-10))
    assert(applyTransform("truncate[10]", LongType, "-10").contains(-10L))
    assert(applyTransform("truncate[3]", StringType, "iceberg").contains("ice"))
    assert(applyTransform("truncate[3]", StringType, "ab").contains("ab"))
    // untransformable type -> None -> caller keeps the file conservatively
    assert(applyTransform("day", IntegerType, "5").isEmpty)
    assert(applyTransform("truncate[4]", DoubleType, "1.5").isEmpty)
  }

  test("truncate-partitioned Iceberg table prunes ranges through the transform") {
    val root = scratch("icetrunc")
    val loc  = s"$root/nations_trunc"
    val df   = nation.select("n_nationkey", "n_name")
    val w = new IcebergFormat.Writer(spark, loc, df.schema,
      partitionBy = Seq("truncate(10, n_nationkey)"))
    val infos = (0 to 2).map { b =>
      IcebergFormat.writeSingleFile(spark, loc, s"t$b",
        df.filter(col("n_nationkey") >= b * 10 && col("n_nationkey") < (b + 1) * 10))
        .copy(partitionValues = Map("n_nationkey_trunc" -> Int.box(b * 10)))
    }
    w.commit(infos)
    // point and range lookups prune through the width-floor (files carry
    // no column bounds, so the transform is the only pruning evidence)
    val point = IcebergFormat.planFiles(spark, w.currentMetadataPath,
      "n_nationkey", Some("7"), Some("7"))
    assert(point.size == 1 && point.head.contains("t0"))
    val range = IcebergFormat.planFiles(spark, w.currentMetadataPath,
      "n_nationkey", Some("8"), Some("12"))
    assert(range.size == 2)
    val all = IcebergFormat.scan(spark, w.currentMetadataPath)
    assert(all.count() == df.count())
  }

  test("rewrite_data_files composes with later appends and keeps history") {
    val root   = scratch("icerwspec")
    val loc    = s"$root/t_rw"
    val nation = Tables.nation(spark, sfDir)
    def stage(name: String, df: org.apache.spark.sql.DataFrame) =
      IcebergFormat.writeSingleFile(spark, loc, name, df)
    val w = new IcebergFormat.Writer(spark, loc, nation.schema)
    w.commit(Seq(stage("a", nation.filter(col("n_nationkey") < 10))))   // snap 1
    w.commit(Seq(stage("b", nation.filter(col("n_nationkey") >= 10))))  // snap 2
    val all = IcebergFormat.scan(spark, w.currentMetadataPath)
    w.rewriteDataFiles(Seq(stage("packed", all)))                       // snap 3
    assert(IcebergFormat.planFiles(
      spark, w.currentMetadataPath, "n_nationkey", None, None).size == 1)
    // appends after a rewrite land NEXT TO the compacted file
    w.commit(Seq(stage("c", nation.filter(col("n_nationkey") < 5))))    // snap 4
    assert(IcebergFormat.planFiles(
      spark, w.currentMetadataPath, "n_nationkey", None, None).size == 2)
    assert(IcebergFormat.scan(spark, w.currentMetadataPath).count() == 30)
    // pre-rewrite snapshots still plan their own (uncompacted) manifests
    assert(IcebergFormat.scanAt(spark, w.currentMetadataPath, 1L).count() == 10)
    assert(IcebergFormat.scanAt(spark, w.currentMetadataPath, 2L).count() == 25)
  }

  test("spec evolution + rewrite_manifests + expire: mixed-spec lifecycle") {
    import org.apache.hadoop.fs.Path
    val root = scratch("icelife")
    val loc  = s"$root/t_life"
    val fs   = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stage(name: String, df: org.apache.spark.sql.DataFrame): IcebergFormat.DataFileInfo = {
      IcebergFormat.writeSingleFile(spark, loc, name, df)
    }
    val w = new IcebergFormat.Writer(spark, loc, nation.schema) // spec 0: unpartitioned
    w.commit(Seq(stage("legacy", nation.filter(col("n_nationkey") < 10))))
    w.evolveSpec(Seq("n_regionkey")) // spec 1: identity
    w.commit(Seq(
      stage("r2", nation.filter(col("n_nationkey") >= 10 && col("n_regionkey") === 2))
        .copy(partitionValues = Map("n_regionkey" -> Int.box(2)))))
    w.evolveSpec(Seq("bucket(4, n_name)")) // spec 2: bucket transform
    val hot = nation.filter(col("n_nationkey") >= 10 && col("n_regionkey") =!= 2)
    w.commit(Seq(stage("rest", hot)))

    // rewrite merges per spec: 3 specs -> 3 merged data manifests
    w.rewriteManifests()
    val listed = IcebergFormat.manifestListPaths(spark, w.currentMetadataPath)
    assert(listed.count(_._2 == 0) == 3,
      s"one merged manifest per spec expected, got $listed")
    assert(IcebergFormat.scan(spark, w.currentMetadataPath).count() == nation.count())
    // per-manifest spec resolution: region predicate prunes ONLY the
    // spec-1 file exactly; spec-0/spec-2 files stay conservatively
    val planned = IcebergFormat.planFiles(spark, w.currentMetadataPath,
      "n_regionkey", Some("3"), Some("3"))
    assert(planned.size == 2 && !planned.exists(_.contains("r2")),
      s"spec-aware pruning failed: $planned")

    // expire: keepLast > count is a no-op; keepLast = 1 reclaims all
    // per-commit manifests + old lists, table still reads in full
    w.expireSnapshots(keepLast = 99)
    assert(fs.listStatus(new Path(loc, "metadata"))
      .count(_.getPath.getName.startsWith("snap-")) == 4)
    w.expireSnapshots(keepLast = 1)
    val names = fs.listStatus(new Path(loc, "metadata")).map(_.getPath.getName)
    assert(names.count(_.startsWith("snap-")) == 1, names.mkString(","))
    assert(names.count(_.startsWith("m-")) == 3, names.mkString(","))
    assert(IcebergFormat.scan(spark, w.currentMetadataPath).count() == nation.count())
    intercept[NoSuchElementException] {
      IcebergFormat.scanAt(spark, w.currentMetadataPath, 2L)
    }
  }

  test("exports: single-header csv and parquet") {
    val eng = new Engine(spark, new FsCatalog(spark, scratch("exp_wh")))
    val out = scratch("exp_out")
    eng.exportCsv(nation.select("n_nationkey", "n_name"), s"$out/csv")
    val files = new java.io.File(s"$out/csv").listFiles.filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val lines = java.nio.file.Files.readAllLines(files.head.toPath)
    assert(lines.get(0) == "n_nationkey,n_name")
    assert(lines.size == 26)
    eng.exportParquet(nation, s"$out/pq")
    assert(spark.read.parquet(s"$out/pq").count() == 25)
  }

  test("partition evolution: metadata DELETE stays sound across layout eras") {
    import spark.implicits._
    val cat = new FsCatalog(spark, scratch("evolvedel"))
    // era A (unpartitioned): c has nulls, and its non-null bounds are
    // uniform (5) — the exact shape that would fake partition-uniformity
    // evidence if the era weren't checked
    val eraA = Seq((1, Option(5)), (2, Option.empty[Int]), (3, Option(5)))
      .toDF("id", "c")
    cat.createOrReplaceTable("ns", "t_ed", eraA)
      .evolvePartitioning(Seq("c"))
      .append(Seq((4, Option(5)), (5, Option(7))).toDF("id", "c"))
    val t = cat.loadTable("ns", "t_ed")
    t.deleteWhere(col("c") === 5)
    // the era-A null row must survive: its file predates the c-layout, so
    // lo == hi == 5 stats are null-skipping bounds, not a partition value
    val rows = cat.loadTable("ns", "t_ed").scan().orderBy("id").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
    assert(rows.toSeq == Seq((2, None), (5, Some(7))), rows.mkString(","))
  }

  test("writeGroupedFiles keys its result by the unescaped group value") {
    import spark.implicits._
    val root = scratch("grouped_esc")
    val df   = Seq((1, "a:b"), (2, "a:b"), (3, "c")).toDF("id", "g")
    val out  = IcebergFormat.writeGroupedFiles(spark, s"$root/t", df,
      col("g"), g => "grp_" + g.replaceAll("[^A-Za-z0-9]", "_"))
    assert(out.keySet == Set("a:b", "c"), s"group keys: ${out.keySet}")
    assert(out("a:b").recordCount == 2L && out("c").recordCount == 1L)
  }

  test("writeGroupedFiles writes one file per group under a session maxRecordsPerFile") {
    import spark.implicits._
    val root = scratch("grouped_maxrec")
    val df   = Seq((1, 0), (2, 0), (3, 0), (4, 1), (5, 1)).toDF("id", "g")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try {
      val out = IcebergFormat.writeGroupedFiles(spark, s"$root/t", df,
        col("g"), g => s"grp_$g")
      assert(out.map { case (g, f) => g -> f.recordCount } == Map("0" -> 3L, "1" -> 2L))
      assert(spark.read.parquet(out("0").path).count() == 3L)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("writeGroupedFiles whose task fails midway leaves no parquet under data/") {
    import spark.implicits._
    val root = scratch("grouped_abort")
    // two group values the write's hash repartition puts in ONE task:
    // the task writes group `a` in full, then fails opening group `b`
    val tasks = spark.sparkContext.defaultParallelism
    val byTask = (0 until 64).map(_.toString).toDF("g")
      .select(col("g"), pmod(hash(col("g")), lit(tasks)).as("t"))
      .collect().groupBy(_.getInt(1)).values.map(_.map(_.getString(0)).sorted).find(_.length >= 2)
      .get
    val (a, b) = (byTask(0), byTask(1))
    val df = Seq((1, a), (2, a), (3, b)).toDF("id", "g")
    val err = intercept[org.apache.spark.SparkException] {
      IcebergFormat.writeGroupedFiles(spark, s"$root/t", df, col("g"),
        g => if (g == b) throw new IllegalStateException(s"no file for group $g") else s"grp_$g")
    }
    assert(err.getMessage.contains(s"no file for group $b"), err.getMessage)
    val data = new java.io.File(s"$root/t/data")
    val left = Option(data.listFiles()).toSeq.flatten.map(_.getName).filter(_.endsWith(".parquet"))
    assert(left.isEmpty, s"aborted write left ${left.mkString(", ")}")
  }

  test("a two-sided range prunes on both bounds: BETWEEN plans one file, UPDATE rewrites one") {
    val wh = scratch("range_both")
    spark.conf.set("spark.sql.catalog.rng", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.rng.warehouse", wh)
    try {
      spark.range(1, 4001).selectExpr("id AS k", "id * 2 AS v").createOrReplaceTempView("rng_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS rng.ns")
      spark.sql("CREATE TABLE rng.ns.t AS SELECT /*+ REPARTITION_BY_RANGE(4, k) */ * FROM rng_src")
      val ice    = new FsCatalog(spark, wh).loadTable("ns", "t")
      val before = ice.filesOf(ice.metadata.currentSnapshot.get).toSet
      assert(before.size == 4, s"expected 4 range files, got $before")
      // a key range strictly inside the second file's keys
      val ranges = spark.sql("SELECT min(k), max(k) FROM rng.ns.t GROUP BY _file ORDER BY 1")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val (a, b) = (ranges(1)._1 + 10, ranges(1)._2 - 10)
      val where  = s"k BETWEEN $a AND $b"
      val q    = spark.sql(s"SELECT count(*) FROM rng.ns.t WHERE $where")
      val plan = q.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("files=1/4"), s"both bounds did not prune:\n${plan.take(800)}")
      assert(q.head().getLong(0) == b - a + 1)
      spark.sql(s"UPDATE rng.ns.t SET v = -v WHERE $where")
      val after = ice.filesOf(ice.metadata.currentSnapshot.get).toSet
      assert((before -- after).size == 1, s"UPDATE replaced ${before -- after}")
      assert(spark.sql("SELECT count(*) FROM rng.ns.t WHERE v < 0").head().getLong(0) == b - a + 1)
      assert(spark.sql("SELECT count(*) FROM rng.ns.t").head().getLong(0) == 4000L)
    } finally {
      spark.conf.unset("spark.sql.catalog.rng")
      spark.conf.unset("spark.sql.catalog.rng.warehouse")
    }
  }

  test("an IceLite scan builds its reader factory once") {
    val loc = scratch("one_factory")
    IceTable.create(spark, loc, "f", "ns", nation.schema, Nil).append(nation)
    val df = spark.read.format("icelite").option("location", loc).load()
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.get.toBatch
    assert(scan.createReaderFactory() eq scan.createReaderFactory())
    assert(df.count() == nation.count())
  }
}
