package graft

import graft.icelite.{ColRange, FsCatalog, IceTable, ManifestEntry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round 18: commit-time manifest stats now come from the just-written
  * parquet FOOTERS (driver-side, zero data IO) instead of a distributed
  * re-scan of every committed byte. The two paths must produce IDENTICAL
  * manifest entries — bounds, row counts, truncation, partition values,
  * null handling — because pruning gates and the `t.files` meta table
  * (ic45, oracle-hashed) consume them verbatim. This spec builds the same
  * table under `graft.manifest.stats=footer` (default) and `=scan` (the
  * pre-round-18 path, kept as the in-code fallback) and diffs the parsed
  * entries shape by shape. Each shape is also written through the DSv2
  * connector (`df.write.format("icelite")` into an empty table), whose
  * executor-side writer records the same stats and row counts inline.
  */
class ManifestStatsSpec extends SparkSpec {

  private def normalize(file: String): String = file
    .replaceAll("snap-(\\d+)-[0-9a-f]{8}", "snap-$1")
    .replaceAll("part-(\\d+)-[^/]*\\.parquet", "part-$1.parquet")

  private def build(name: String, mode: String, df: DataFrame,
      parts: Seq[String]): Seq[(String, Option[Map[String, ColRange]], Option[Long], Option[Long])] = {
    spark.conf.set("graft.manifest.stats", mode)
    try {
      val cat = new FsCatalog(spark, scratch(s"mstats_${name}_$mode"))
      val t   = cat.createOrReplaceTable("graft", s"t_$name", df, parts)
      val snap = t.metadata.currentSnapshot.get
      t.entriesOf(snap).sortBy(_.file)
        .map(e => (normalize(e.file), e.stats, e.rows, e.sizeBytes))
    } finally spark.conf.unset("graft.manifest.stats")
  }

  /** The shape appended through the connector into an empty table. */
  private def viaConnector(name: String, df: DataFrame, parts: Seq[String])
      : Seq[(String, Option[Map[String, ColRange]], Option[Long], Option[Long])] = {
    val t = IceTable.create(spark, scratch(s"mstats_${name}_v2") + "/t", s"t_$name", "graft",
      df.schema, parts)
    df.write.format("icelite").option("location", t.location.toString).mode("append").save()
    val t2 = IceTable.load(spark, t.location.toString)
    t2.entriesOf(t2.metadata.currentSnapshot.get).map(e => (e.file, e.stats, e.rows, e.sizeBytes))
  }

  /** File-name-free view of entries for comparing two writers' layouts:
    * (hive partition segments, stats, rows), numeric bounds as values (so
    * -0.0 equals 0.0), strings exact, file sizes dropped; sorted. Zero-row
    * files are left out: the library records an empty task's file, the
    * connector adds none. */
  private def comparable(df: DataFrame,
      es: Seq[(String, Option[Map[String, ColRange]], Option[Long], Option[Long])]) = {
    import org.apache.spark.sql.types._
    def value(c: String, b: Option[String]): Option[Any] = df.schema(c).dataType match {
      case IntegerType | LongType | FloatType | DoubleType => b.map(BigDecimal(_))
      case _                                               => b
    }
    es.filterNot(_._3.contains(0L)).map { case (file, stats, rows, _) =>
      (file.split('/').filter(_.contains('=')).toSeq,
        stats.map(_.map { case (c, r) => c -> (value(c, r.min), value(c, r.max)) }),
        rows)
    }.sortBy(_.toString)
  }

  /** Assert the two stats paths produce identical parsed manifests, and
    * (when `expectFooter`) that the fast path actually ran rather than
    * silently falling back; then that the connector's inline stats and
    * row counts equal the scan path's. */
  private def check(name: String, df: DataFrame, parts: Seq[String] = Nil,
      expectFooter: Boolean = true): Unit = {
    IceTable.footerStatsCommits.set(0L)
    val viaFooter = build(name, "footer", df, parts)
    val footerRan = IceTable.footerStatsCommits.get() > 0L
    val viaScan   = build(name, "scan", df, parts)
    assert(viaFooter == viaScan,
      s"$name: footer-path manifest differs from scan-path\nfooter: $viaFooter\nscan:   $viaScan")
    if (expectFooter)
      assert(footerRan, s"$name: expected the footer stats path to run, but it fell back")
    val connector = comparable(df, viaConnector(name, df, parts))
    val scan      = comparable(df, viaScan)
    assert(connector == scan,
      s"$name: connector manifest differs from scan-path\nconnector: $connector\nscan:      $scan")
  }

  test("strings + ints, single file (the ic45 t.files shape)") {
    check("nation", spark.read.parquet(s"$sfDir/nation.parquet").coalesce(1))
  }

  test("long text columns truncate identically (Iceberg truncate-16)") {
    check("docs", spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text").orderBy("doc_id").coalesce(1))
  }

  test("multi-file commit: doubles + strings across hash partitions") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority")
    check("orders3", orders.repartition(3, col("o_orderkey")))
  }

  test("hive-partitioned: escaped values ('4-NOT SPECIFIED') parse to the same bounds") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
    check("ordpart", orders, parts = Seq("o_orderpriority"))
  }

  test("null partition value and all-null data column") {
    import spark.implicits._
    // one input partition: the library writes one file per task and
    // partition value, the connector (clustered by pcol) one per value
    val df = Seq(
      (1L, Option.empty[String], Option.empty[String], 2.5d),
      (2L, Option.empty[String], Option.empty[String], -7.25d),
      (3L, Option.empty[String], Option.empty[String], 0.125d))
      .toDF("id", "all_null_str", "pcol", "v").coalesce(1)
    check("nullpart", df, parts = Seq("pcol"))
  }

  test("NaN / zero double bounds fall back to the scan path, identically") {
    import spark.implicits._
    // NaN, -0.0 and exact-zero bounds are all ambiguous in footers
    // (PARQUET-1225 normalization); each must take the scan fallback. The
    // strings order differently in UTF-16 ('Ａ' U+FF21 last) and in
    // Spark's UTF-8 byte order ('😀' last), which every path must use
    val df = Seq((1L, Double.NaN, "a"), (2L, -0.0d, "\uD83D\uDE00"), (3L, 0.0d, "\uFF21"),
      (4L, 1.5d, "z"))
      .toDF("id", "v", "s").coalesce(1)
    // equality is the contract; the footer path must refuse these values
    check("nanzero", df, expectFooter = false)
    assert(IceTable.scanStatsCommits.get() > 0L)
  }

  test("empty partitions in a keyless round-robin write") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(4)
    check("sparse", df)
  }

  test("appended delta manifests match too (multi-snapshot lifecycle)") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    def lifecycle(mode: String) = {
      spark.conf.set("graft.manifest.stats", mode)
      try {
        val cat = new FsCatalog(spark, scratch(s"mstats_lc_$mode"))
        val t = cat.createOrReplaceTable("graft", "t_lc", nation.coalesce(1))
        t.append(nation.filter(col("n_regionkey") === 0).coalesce(1))
        t.append(nation.filter(col("n_regionkey") > 2).coalesce(1))
        val snap = t.metadata.currentSnapshot.get
        t.entriesOf(snap).sortBy(_.file)
          .map(e => (normalize(e.file), e.stats, e.rows, e.sizeBytes))
      } finally spark.conf.unset("graft.manifest.stats")
    }
    assert(lifecycle("footer") == lifecycle("scan"))
  }
}
