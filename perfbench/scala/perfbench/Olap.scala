package perfbench

import graft.icelite.{Engine, FsCatalog}

import org.apache.spark.sql.{Row, SparkSession}

import java.nio.file.Path

import scala.collection.mutable

/** Read-only SQL over sf0.1 TPC-H tables in `lake.bench`: the paper's
  * query shapes, TPC-H Q1/Q3/Q5/Q6 and selective lookups. `lineitem` is
  * laid out as files with disjoint `l_shipdate` ranges and `orders` as
  * files with disjoint key ranges, so range and point predicates can skip
  * files. Every result must equal the same SQL over the raw Parquet files
  * read with plain `spark.read.parquet`, which bypasses the connector and
  * the table layer.
  *
  * Each block also runs the paper's ingestion once: a merged load of the
  * `users` CSV files through `IngestJob.run` into a fresh namespace of
  * its own warehouse, and a content-hash read of the table it made. */
final class Olap(spark: SparkSession, seed: Long, work: Path) extends Workload {
  private val gen = new TpchGen(spark, seed)
  private val rng = new Rng(seed)

  /** `sql` names tables as `{t}`; `export` writes the result through
    * `Engine.exportCsv` instead of collecting it. */
  final case class Query(kind: String, sql: String, export: Boolean = false) {
    def on(prefix: String): String =
      TpchGen.Names.foldLeft(sql)((s, t) => s.replace(s"{$t}", prefix + t))
  }

  private val pool = queries()
  /** Pool indices by kind: the kinds make up a block. */
  private val byKind = pool.indices.groupBy(i => pool(i).kind).toSeq.sortBy(_._1)
  private val oracle = mutable.Map.empty[Int, Seq[Row]]
  private var block  = Iterator.empty[Op]
  private lazy val engine = new Engine(spark, new FsCatalog(spark, work.resolve("lake").toString))
  private val users  = new UsersLoads(spark, seed, work)
  private val lakeProbe = new IceProbe

  /** The users load and its read-back, as one unit of a block. */
  private def load(): Seq[Op] = users.loadAndRead()

  def blockSize: Int = byKind.size + 2 // the load and its read-back
  def blockSeconds: Double = 9.0
  /** `read_mean_s` already reports the reads; `op_mean_s` gates the load. */
  def gatedClass: String = "ingest"

  private def day(epochDay: Long): String = java.time.LocalDate.ofEpochDay(epochDay).toString
  private val D1992 = java.time.LocalDate.parse("1992-01-01").toEpochDay

  private def queries(): IndexedSeq[Query] = {
    val st   = rng.pick(Seq("F", "O", "P"))
    val pr   = rng.pick(gen.Priorities)
    val seg  = rng.pick(gen.Segments)
    val rf   = rng.pick(Seq("A", "N", "R"))
    val x    = rng.cents(100000, 300000)
    val y5   = 1993 + rng.int(5)
    val y6   = 1993 + rng.int(5)
    val disc = 2 + rng.int(8)
    val j0   = D1992 + rng.int(2000)
    val q3   = java.time.LocalDate.parse("1995-03-01").toEpochDay + rng.int(28)
    val q1   = java.time.LocalDate.parse("1998-12-01").toEpochDay - 60 - rng.int(61)
    val ek   = rng.long(1, gen.Orders - 3000)
    val paper = IndexedSeq(
      Query("count", "SELECT count(*) AS n FROM {lineitem}"),
      Query("describe", "DESCRIBE TABLE {orders}"),
      Query("projection", "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM {orders} " +
        s"WHERE o_orderpriority = '$pr' ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"),
      Query("filter", "SELECT count(*) AS n, sum(o_totalprice) AS total FROM {orders} " +
        s"WHERE o_orderstatus = '$st' AND o_orderpriority = '$pr' AND o_totalprice > $x"),
      Query("topk", "SELECT l_suppkey, sum(l_quantity) AS qty FROM {lineitem} " +
        s"WHERE l_returnflag = '$rf' GROUP BY l_suppkey ORDER BY qty DESC, l_suppkey LIMIT 10"),
      Query("union", Seq("F", "O", "P").map(s =>
        s"SELECT '$s' AS status, count(*) AS n FROM {orders} WHERE o_orderstatus = '$s' AND o_totalprice > $x")
        .mkString(" UNION ALL ")),
      Query("join", "SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS total " +
        "FROM {orders} JOIN {customer} ON o_custkey = c_custkey " +
        s"WHERE o_orderdate >= TIMESTAMP '${day(j0)}' AND o_orderdate < TIMESTAMP '${day(j0 + 90)}' " +
        "GROUP BY c_mktsegment"),
      Query("export", "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM {orders} " +
        s"WHERE o_orderkey BETWEEN $ek AND ${ek + 3000} AND o_orderstatus = 'O'", export = true))
    val tpch = IndexedSeq(
      Query("q1", "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "sum(l_extendedprice) AS sum_base_price, sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, " +
        "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, avg(l_quantity) AS avg_qty, " +
        "avg(l_extendedprice) AS avg_price, avg(l_discount) AS avg_disc, count(*) AS count_order " +
        s"FROM {lineitem} WHERE l_shipdate <= TIMESTAMP '${day(q1)}' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
      Query("q3", "SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate " +
        "FROM {customer}, {orders}, {lineitem} " +
        s"WHERE c_mktsegment = '$seg' AND c_custkey = o_custkey AND l_orderkey = o_orderkey " +
        s"AND o_orderdate < TIMESTAMP '${day(q3)}' AND l_shipdate > TIMESTAMP '${day(q3)}' " +
        "GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"),
      Query("q5", "SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue " +
        "FROM {customer}, {orders}, {lineitem}, {supplier}, {nation}, {region} " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey " +
        "AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
        s"AND r_name = '${rng.pick(gen.Regions)}' AND o_orderdate >= TIMESTAMP '$y5-01-01' " +
        s"AND o_orderdate < TIMESTAMP '${y5 + 1}-01-01' GROUP BY n_name ORDER BY revenue DESC, n_name"),
      Query("q6", "SELECT sum(l_extendedprice * l_discount) AS revenue FROM {lineitem} " +
        s"WHERE l_shipdate >= TIMESTAMP '$y6-01-01' AND l_shipdate < TIMESTAMP '${y6 + 1}-01-01' " +
        s"AND l_discount BETWEEN 0.0${disc - 1} AND 0.0${disc + 1} AND l_quantity < ${24 + rng.int(2)}"))
    val lookups = (1 to 2).flatMap { _ =>
      val d = D1992 + 30 + rng.int(2300)
      Seq(
        Query("point", s"SELECT * FROM {orders} WHERE o_orderkey = ${rng.long(1, gen.Orders + 1)}"),
        Query("range", "SELECT count(*) AS n, sum(l_extendedprice) AS total, min(l_orderkey) AS lo, " +
          s"max(l_orderkey) AS hi FROM {lineitem} WHERE l_shipdate >= TIMESTAMP '${day(d)}' " +
          s"AND l_shipdate < TIMESTAMP '${day(d + 14)}'"))
    }
    paper ++ tpch ++ lookups
  }

  def setup(): Unit = {
    val raw = work.resolve("raw")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.bench")
    Log.step("generate and load")(gen.tables.foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(raw.resolve(t).toString)
      spark.read.parquet(raw.resolve(t).toString).createOrReplaceTempView(s"raw_$t")
      // range-partitioned files have disjoint key ranges, so their stats
      // let range and point predicates skip files
      val layout = t match {
        case "lineitem" => "/*+ REPARTITION_BY_RANGE(8, l_shipdate) */ "
        case "orders"   => "/*+ REPARTITION_BY_RANGE(4, o_orderkey) */ "
        case _          => "/*+ REPARTITION(1) */ "
      }
      spark.sql(s"CREATE TABLE lake.bench.$t AS SELECT $layout* FROM raw_$t")
    })
    // the expected results double as the warm-up: every query runs once,
    // over the raw files, before timing starts
    Log.step("expected results")(pool.indices.foreach { i =>
      oracle(i) = describeRows(pool(i), spark.sql(pool(i).on("raw_")).collect().toSeq)
    })
    users.setup()
    // and a few reads through the catalog, and one load, run the
    // connector's and the ingest job's code paths once
    Log.step("warm-up")((Seq("count", "q6", "point").map(k => op(pool.indexWhere(_.kind == k))) ++ load())
      .foreach(Workload.warmUp))
    users.forget()
  }

  private def exportDir(i: Int) = work.resolve("export").resolve(s"q$i").toString

  /** DESCRIBE lists columns and, for some tables, extra sections after a
    * `#` line; compare the column list only. */
  private def describeRows(q: Query, rows: Seq[Row]): Seq[Row] =
    if (q.kind != "describe") rows
    else rows.takeWhile(r => !Option(r.getString(0)).forall(n => n.isEmpty || n.startsWith("#")))
      .map(r => Row(r.getString(0), r.getString(1)))

  private def newBlock(): Seq[Op] =
    rng.shuffle(byKind.map { case (_, is) => () => Seq(op(rng.pick(is))) } :+ (() => load()))
      .flatMap(_.apply())

  def next(): Op = {
    if (!block.hasNext) block = newBlock().iterator
    block.next()
  }

  private def op(i: Int): Op = {
    val q = pool(i)
    Op("read", q.kind, q.sql, _ => {
      val df = spark.sql(q.on("lake.bench."))
      val rows =
        if (q.export) { engine.exportCsv(df, exportDir(i)); Seq.empty[Row] }
        else describeRows(q, df.collect().toSeq)
      Outcome(rows = if (q.export) 0L else rows.size.toLong, check = () => {
        val got = if (q.export)
          spark.read.option("header", "true").schema(df.schema).csv(exportDir(i)).collect().toSeq
        else rows
        Check.sameRows(got, oracle(i)).map(e => s"differs from the raw Parquet result: $e")
      })
    })
  }

  /** Every query result was already compared with the raw Parquet one. */
  def finalChecks(): Seq[(String, Option[String])] = Seq(users.reread())

  override def probe(i: Int, op: Op): Seq[Probe] = users.probe() ++ (
    if (i % 4 != 3) Nil
    else Seq(lakeProbe.probe(spark,
      new FsCatalog(spark, work.resolve("lake").toString).loadTable("bench", "lineitem").location.toString, 0)))

  /** The live rows of `lake.bench` never change, so the raw input files
    * stand in for their one-file copy (a few KB of footers apart). */
  def storedBytesPerLiveByte(): Double = {
    val live = Disk.parquetBytes(work.resolve("raw"))
    val (ingested, ingestedLive) = users.bytes()
    (Disk.bytes(work.resolve("lake").resolve("bench")) + ingested) / (live + ingestedLive)
  }
}
