package graft.queries

import graft.{Q, Tables}
import graft.Scratch.freshDir
import graft.icelite.IcebergFormat
import graft.ops.{MatView, MvAgg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance ([[graft.ops.MatView]]) as
  * oracle-gated lifecycle queries: the view is created over a native
  * Iceberg base, the base then takes appends and row-level deletes, each
  * refresh is asserted to run in its DELTA-PROPORTIONAL mode (the stats
  * contract), and the final view contents must hash-match DuckDB running
  * the full aggregate over the equivalent raw-parquet state. The
  * reference re-runs its dashboard GROUP BYs from scratch every session
  * (`query_iceberg.ipynb:160-210`); this family is that workload shaped
  * for 100 TB — refresh cost follows the change, not the base. */
object MvQueries {

  /** mv01: count/sum/avg view over orders grouped by customer — create on
    * a seed, APPEND a delta (refresh must run in `append` mode reading
    * only the new files), then a SQL MoR `DELETE FROM` on the native base
    * (refresh must run in `retract` mode: the deleted rows become
    * negative partials resolved from only the files the position-delete
    * files reference). Sum/avg run over an exact DECIMAL image of the
    * price so the retraction algebra is exact, finalized to double. */
  private def mv01(s: SparkSession, d: String): DataFrame = {
    val root    = freshDir(s, "mv01")
    val baseLoc = s"$root/graft/orders_mv_base"
    val mvLoc   = s"$root/graft/orders_mv"
    val orders  = Tables.orders(s, d)
    val w = new IcebergFormat.Writer(s, baseLoc, orders.schema)
    w.commit(Seq(IcebergFormat.writeSingleFile(s, baseLoc, "seed",
      orders.filter(col("o_orderkey") % 7 =!= 0))))
    MatView.create(s, baseLoc, mvLoc, Seq("o_custkey"), Seq(
      MvAgg("count", "*", "cnt"),
      MvAgg("sum", "CAST(o_totalprice AS DECIMAL(12,2))", "total"),
      MvAgg("avg", "CAST(o_totalprice AS DECIMAL(12,2))", "avg_total")))
    // ---- append window
    IcebergFormat.resumeWriter(s, baseLoc).commit(Seq(
      IcebergFormat.writeSingleFile(s, baseLoc, "delta1",
        orders.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 2 === 0))))
    val st1 = MatView.refresh(s, mvLoc)
    require(st1.mode == "append" && st1.dataFilesReopened == 0,
      s"append window must refresh incrementally without reopening the base: $st1")
    // ---- retract window: row-level SQL DELETE against the native base
    s.conf.set("spark.sql.catalog.mv01cat", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.mv01cat.warehouse", root)
    try {
      s.sql("CREATE NAMESPACE IF NOT EXISTS mv01cat.graft")
      s.sql("""DELETE FROM mv01cat.graft.orders_mv_base
               WHERE o_orderstatus = 'F' AND o_custkey % 5 = 2""")
    } finally {
      s.conf.unset("spark.sql.catalog.mv01cat")
      s.conf.unset("spark.sql.catalog.mv01cat.warehouse")
    }
    val st2 = MatView.refresh(s, mvLoc)
    require(st2.mode == "retract",
      s"position-delete window must refresh via negative partials: $st2")
    MatView.read(s, mvLoc)
      .select(col("o_custkey"), col("cnt"),
        col("total").cast("double").as("total"), col("avg_total"))
      .orderBy("o_custkey")
  }

  private val mv01Oracle =
    """SELECT o_custkey, COUNT(*) AS cnt,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                / COUNT(o_totalprice) AS avg_total
       FROM orders
       WHERE (o_orderkey % 7 <> 0 OR o_orderkey % 2 = 0)
         AND NOT (o_orderstatus = 'F' AND o_custkey % 5 = 2)
       GROUP BY o_custkey ORDER BY o_custkey"""

  /** mv02: min/max view (not subtractable) — maintained incrementally
    * under APPENDS, and falling back to a LOUD full recompute when the
    * window carries deletes (here an equality delete on the customer
    * key): the honest half of the retraction algebra, still oracle-exact
    * after the fallback. */
  private def mv02(s: SparkSession, d: String): DataFrame = {
    val root    = freshDir(s, "mv02")
    val baseLoc = s"$root/graft/orders_mm_base"
    val mvLoc   = s"$root/graft/orders_mm_mv"
    val orders  = Tables.orders(s, d)
    val w = new IcebergFormat.Writer(s, baseLoc, orders.schema)
    w.commit(Seq(IcebergFormat.writeSingleFile(s, baseLoc, "seed",
      orders.filter(col("o_orderkey") % 3 =!= 0))))
    MatView.create(s, baseLoc, mvLoc, Seq("o_orderpriority"), Seq(
      MvAgg("count", "*", "cnt"),
      MvAgg("min", "o_totalprice", "min_p"),
      MvAgg("max", "o_totalprice", "max_p")))
    // ---- append window: min/max maintain fine forward
    IcebergFormat.resumeWriter(s, baseLoc).commit(Seq(
      IcebergFormat.writeSingleFile(s, baseLoc, "delta1",
        orders.filter(col("o_orderkey") % 3 === 0))))
    val st1 = MatView.refresh(s, mvLoc)
    require(st1.mode == "append" && st1.dataFilesReopened == 0,
      s"append window must refresh incrementally: $st1")
    // ---- equality-delete window: min/max cannot retract -> full, loudly
    val custFieldId = orders.schema.fieldNames.indexOf("o_custkey") + 1
    val delKeys = orders.filter(col("o_custkey") % 11 === 7)
      .select("o_custkey").distinct()
    IcebergFormat.resumeWriter(s, baseLoc).commitDelta(Seq(
      IcebergFormat.writeSingleFile(s, baseLoc, "eqdel", delKeys,
        content = 2, equalityIds = Seq(custFieldId))))
    val st2 = MatView.refresh(s, mvLoc)
    require(st2.mode == "full",
      s"equality-delete window must fall back to a full recompute: $st2")
    MatView.read(s, mvLoc).orderBy("o_orderpriority")
  }

  private val mv02Oracle =
    """SELECT o_orderpriority, COUNT(*) AS cnt,
              MIN(o_totalprice) AS min_p, MAX(o_totalprice) AS max_p
       FROM orders
       WHERE o_custkey % 11 <> 7
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** mv03: the MV lifecycle from SQL — `CALL cat.system.create_mv`
    * defines+materializes the view, `CALL cat.system.refresh_mv` returns
    * the refresh-mode + file-IO audit row a scheduler acts on, and the
    * retract window is driven by a plain `DELETE FROM` on the native
    * base. The gates pin the audit row itself: the append window must
    * report `append`, the delete window `retract` — the delta-
    * proportionality contract observed through the SQL surface. */
  private def mv03(s: SparkSession, d: String): DataFrame = {
    val root    = freshDir(s, "mv03")
    val baseLoc = s"$root/graft/ev_base"
    val mvLoc   = s"$root/graft/ev_mv"
    val events  = Tables.events(s, d).select("user_id", "event_type", "value")
    val w = new IcebergFormat.Writer(s, baseLoc, events.schema)
    w.commit(Seq(IcebergFormat.writeSingleFile(s, baseLoc, "seed",
      events.filter(col("user_id") % 2 === 0))))
    s.conf.set("spark.sql.catalog.mv03cat", "graft.sources.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.mv03cat.warehouse", root)
    try {
      s.sql("CREATE NAMESPACE IF NOT EXISTS mv03cat.graft")
      s.sql("""CALL mv03cat.system.create_mv('graft', 'ev_base', 'ev_mv', 'event_type',
               'count:*:cnt;sum:CAST(value AS DECIMAL(12,2)):total;avg:CAST(value AS DECIMAL(12,2)):avg_v')""")
      IcebergFormat.resumeWriter(s, baseLoc).commit(Seq(
        IcebergFormat.writeSingleFile(s, baseLoc, "delta1",
          events.filter(col("user_id") % 2 === 1))))
      val r1 = s.sql("CALL mv03cat.system.refresh_mv('graft', 'ev_mv')").head()
      require(r1.getString(0) == "append" && r1.getLong(5) == 0L,
        s"SQL refresh audit row must report a delta-proportional append: $r1")
      s.sql("""DELETE FROM mv03cat.graft.ev_base
               WHERE event_type = 'view' AND user_id % 3 = 1""")
      val r2 = s.sql("CALL mv03cat.system.refresh_mv('graft', 'ev_mv')").head()
      require(r2.getString(0) == "retract",
        s"SQL refresh audit row must report the retract window: $r2")
    } finally {
      s.conf.unset("spark.sql.catalog.mv03cat")
      s.conf.unset("spark.sql.catalog.mv03cat.warehouse")
    }
    MatView.read(s, mvLoc)
      .select(col("event_type"), col("cnt"),
        col("total").cast("double").as("total"), col("avg_v"))
      .orderBy("event_type")
  }

  private val mv03Oracle =
    """SELECT event_type, COUNT(*) AS cnt,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                / COUNT(value) AS avg_v
       FROM events
       WHERE NOT (event_type = 'view' AND user_id % 3 = 1)
       GROUP BY event_type ORDER BY event_type"""

  val all: Seq[Q] = Seq(
    Q("mv01_incremental_mv", mv01, Some(mv01Oracle)),
    Q("mv02_minmax_mv", mv02, Some(mv02Oracle)),
    Q("mv03_sql_mv", mv03, Some(mv03Oracle)))
}
