package perfbench

import graft.icelite.{FsCatalog, RestCatalog, RestCatalogServer}

import org.apache.spark.sql.{Row, SparkSession}

import java.nio.file.Path

import scala.collection.mutable

/** A seeded stream of small SQL writes, each touching hundreds of rows, on
  * two copies of sf0.1 `orders`: `lake.bench.orders` (filesystem catalog,
  * copy-on-write) and `rest.bench.orders` (REST catalog server on
  * loopback, merge-on-read). Each write is followed by an aggregate read;
  * point lookups, metadata tables and `VERSION AS OF` reads are
  * interleaved, and every block ends with compaction and snapshot expiry
  * of both tables. A driver-side model applies the same stream; reads
  * after writes, time travel and the final tables must match it. */
final class SmallCommits(spark: SparkSession, seed: Long, work: Path, tracer: Tracer) extends Workload {
  private val gen = new TpchGen(spark, seed)
  private val rng = new Rng(seed)

  private val server = new RestCatalogServer(work.resolve("rest-warehouse").toString).start()
  private var forwarder: Option[RestForwarder] = None

  import SmallCommits._

  /** The model of one table, and the snapshot ids its reads recorded. Rows
    * change only through `put` and `remove`, which keep `agg` current, so
    * reading it costs a timed op nothing. */
  final class Model(val name: String, val rest: Boolean) {
    val rows    = mutable.HashMap.empty[Long, Order]
    var nextKey = gen.Orders + 1
    var snapshot: Option[(Long, Agg)] = None
    var commits = 0
    private var current = Agg(0L, 0L, 0.0, 0L, 0L)
    def agg: Agg = current
    def put(k: Long, o: Order): Unit = {
      rows.put(k, o).foreach(old => current = current.adjust(k, old, -1))
      current = current.adjust(k, o, 1)
    }
    def remove(k: Long): Unit = rows.remove(k).foreach(old => current = current.adjust(k, old, -1))
    def table(ctx: Ctx): String = if (rest) s"${ctx.restCatalog}.bench.orders" else "lake.bench.orders"
  }

  private val lake = new Model("lake", rest = false)
  private val rest = new Model("rest", rest = true)
  private var queue  = Iterator.empty[Op]
  private val probeOf = mutable.Map.empty[String, IceProbe]
  private var liveRowBytes = 0.0

  // one block: per table (in a seeded order) four writes, each followed by
  // an aggregate read, then a point lookup, the snapshots table, a time
  // travel read of the snapshot it named and the files table; last,
  // compaction and snapshot expiry of both tables
  def blockSize: Int = 2 * 12 + 4
  def blockSeconds: Double = 13.0
  def gatedClass: String = "write"

  def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.rest", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.rest.uri", server.uri)
    val raw = work.resolve("raw").resolve("orders").toString
    Log.step("generate")(gen.orders.write.mode("overwrite").parquet(raw))
    spark.read.parquet(raw).createOrReplaceTempView("raw_orders")
    spark.table("raw_orders").select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .collect().foreach { r =>
        val o = Order(r.getLong(1), r.getString(2), r.getDouble(3))
        lake.put(r.getLong(0), o)
        rest.put(r.getLong(0), o)
      }
    Log.step("load")(Seq("lake", "rest").foreach { c =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $c.bench")
      onTable(c == "rest")(spark.sql(s"CREATE TABLE $c.bench.orders AS SELECT " +
        "/*+ REPARTITION_BY_RANGE(4, o_orderkey) */ * FROM raw_orders"))
    })
    // warm-up: a write and its read-back on each table, checked
    Log.step("warm-up")(Seq(write(lake, "update"), aggAfter(lake), write(rest, "merge"), aggAfter(rest))
      .foreach(Workload.warmUp))
  }

  /** Route traced ops through a forwarder that records REST requests. */
  override def enableTrace(): Unit = {
    watches // the data files present before the first traced op
    val f = new RestForwarder(server.uri, tracer).start()
    forwarder = Some(f)
    spark.conf.set("spark.sql.catalog.restt", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.restt.uri", f.uri)
  }

  /** Merge-on-read is the REST table's delete mode, set around its ops. */
  private def onTable[A](restTable: Boolean)(f: => A): A =
    if (!restTable) f
    else {
      spark.conf.set("graft.delete.mode", "merge-on-read")
      try f finally spark.conf.unset("graft.delete.mode")
    }

  def next(): Op = {
    if (!queue.hasNext) queue = block().iterator
    queue.next()
  }

  private def block(): Seq[Op] = {
    val perTable = rng.shuffle(Seq(lake, rest)).flatMap { m =>
      rng.shuffle(Seq("insert", "update", "delete", "merge")).flatMap(k => Seq(write(m, k), aggAfter(m))) ++
        Seq(point(m), snapshots(m), asOf(m), files(m))
    }
    perTable ++ Seq(lake, rest).flatMap(m => Seq(maintenance(m, "compact"), maintenance(m, "expire")))
  }

  private val Day = "TIMESTAMP '1998-08-02'"

  /** A write of hundreds of rows. Its parameters are drawn when the block
    * is made; key positions resolve against the model when it runs, after
    * the writes before it. The model changes only once the write commits. */
  private def write(m: Model, kind: String): Op = {
    val span = 200 + rng.int(200) // rows inserted or keys covered
    val salt = rng.int(15000)
    val cents = rng.cents(1, 900)
    val at   = rng.int(1000000)   // where in the key space a range starts
    Op("write", s"${m.name}.$kind", s"$kind span=$span salt=$salt cents=$cents at=$at", ctx => {
      val (sql, apply) = writeSql(m, m.table(ctx), kind, span, salt, cents, at)
      onTable(m.rest)(spark.sql(sql))
      m.commits += 1
      Outcome(changed = apply())
    }, restTable = m.rest)
  }

  private def writeSql(m: Model, t: String, kind: String, span: Int, salt: Int, cents: Double,
      at: Int): (String, () => Long) = {
    val fresh = m.nextKey
    val a     = 1 + (m.nextKey - 2 * span - 2) * at / 1000000
    val b     = a + span
    kind match {
      case "insert" =>
        (s"INSERT INTO $t SELECT id + $fresh, (id * 7 + $salt) % 15000 + 1, 'N', " +
          s"CAST(id % 1000 AS DOUBLE) + ${cents}D, $Day, '3-MEDIUM' FROM range($span)", () => {
          (0L until span).foreach(id =>
            m.put(id + fresh, Order((id * 7 + salt) % 15000 + 1, "N", (id % 1000).toDouble + cents)))
          m.nextKey += span
          span.toLong
        })
      case "update" =>
        (s"UPDATE $t SET o_totalprice = o_totalprice + ${cents}D, o_orderstatus = 'U' " +
          s"WHERE o_orderkey BETWEEN $a AND $b", () => {
          val hit = (a to b).filter(m.rows.contains)
          hit.foreach(k => m.put(k, m.rows(k).copy(status = "U", price = m.rows(k).price + cents)))
          hit.size.toLong
        })
      case "delete" =>
        (s"DELETE FROM $t WHERE o_orderkey BETWEEN $a AND $b", () => {
          val hit = (a to b).filter(m.rows.contains)
          hit.foreach(m.remove)
          hit.size.toLong
        })
      case "merge" =>
        // half the source keys land on existing rows (every other key from
        // `a`), half are new keys past the end
        val half = span / 2
        def key(id: Long) = if (id < half) a + 2 * id else fresh + id - half
        (s"MERGE INTO $t t USING (SELECT CASE WHEN id < $half THEN $a + 2 * id " +
          s"ELSE $fresh + id - $half END AS k, CAST(id AS DOUBLE) + ${cents}D AS p FROM range($span)) s " +
          "ON t.o_orderkey = s.k WHEN MATCHED THEN UPDATE SET o_totalprice = s.p, o_orderstatus = 'M' " +
          "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
          s"o_orderdate, o_orderpriority) VALUES (s.k, 1, 'M', s.p, $Day, '5-LOW')", () => {
          (0L until span).foreach { id =>
            val k = key(id); val price = id.toDouble + cents
            m.put(k, m.rows.get(k).fold(Order(1L, "M", price))(_.copy(status = "M", price = price)))
          }
          m.nextKey += span - half
          span.toLong
        })
    }
  }

  private val AggSql = "SELECT count(*), sum(o_orderkey), sum(o_totalprice), " +
    "count_if(o_orderstatus = 'U'), count_if(o_orderstatus = 'M') FROM "

  private def aggAfter(m: Model): Op = Op("read", s"${m.name}.agg_after_write", AggSql, ctx => {
    val r    = spark.sql(AggSql + m.table(ctx)).collect().head
    val want = m.agg
    Outcome(rows = 1, check = () => want.matches(r))
  }, restTable = m.rest)

  private def point(m: Model): Op = {
    val k = rng.long(1, m.nextKey)
    Op("read", s"${m.name}.point", s"key=$k", ctx => {
      val rows = spark.sql("SELECT o_custkey, o_orderstatus, o_totalprice FROM " +
        s"${m.table(ctx)} WHERE o_orderkey = $k").collect().toSeq
      val want = m.rows.get(k).map(o => Row(o.cust, o.status, o.price)).toSeq
      Outcome(rows = rows.size, check = () => Check.sameRows(rows, want).map(e => s"key $k: $e"))
    }, restTable = m.rest)
  }

  private def snapshots(m: Model): Op = Op("read", s"${m.name}.snapshots", "", ctx => {
    val rows = spark.sql(s"SELECT snapshot_id FROM ${m.table(ctx)}.snapshots WHERE is_current").collect()
    if (rows.length == 1) m.snapshot = Some(rows.head.getLong(0) -> m.agg)
    Outcome(rows = rows.length, check = () =>
      if (rows.length == 1) None else Some(s"${rows.length} current snapshots"))
  }, restTable = m.rest)

  private def asOf(m: Model): Op = Op("read", s"${m.name}.version_as_of", "", ctx => {
    val (id, want) = m.snapshot.getOrElse(sys.error("no snapshot recorded"))
    val r = spark.sql(AggSql + s"${m.table(ctx)} VERSION AS OF $id").collect().head
    Outcome(rows = 1, check = () => want.matches(r).map(e => s"snapshot $id: $e"))
  }, restTable = m.rest)

  private def files(m: Model): Op = Op("read", s"${m.name}.files", "", ctx => {
    val n = spark.sql(s"SELECT count(*) FROM ${m.table(ctx)}.files").collect().head.getLong(0)
    Outcome(rows = 1, check = () => if (n >= 1) None else Some(s"$n data files"))
  }, restTable = m.rest)

  /** Compaction into 4 files, or expiry down to the last 8 snapshots. */
  private def maintenance(m: Model, kind: String): Op = Op("maintenance", s"${m.name}.$kind", m.name, ctx => {
    val cat  = if (m.rest) ctx.restCatalog else "lake"
    val call = if (kind == "compact") "rewrite_data_files('bench', 'orders', 4)"
               else "expire_snapshots('bench', 'orders', 8)"
    onTable(m.rest)(spark.sql(s"CALL $cat.system.$call").collect())
    m.commits += 1
    val want = m.agg
    // maintenance must not change the rows
    Outcome(check = () => want.matches(spark.sql(AggSql + s"$cat.bench.orders").collect().head)
      .map(e => s"after $kind of ${m.name}: $e"))
  }, restTable = m.rest)

  private lazy val locations: Map[String, String] = Map(
    "lake" -> new FsCatalog(spark, work.resolve("lake").toString).loadTable("bench", "orders"),
    "rest" -> new RestCatalog(spark, server.uri).loadTable("bench", "orders")
  ).map { case (k, t) => k -> t.location.toString }
  private lazy val watches = locations.map { case (k, loc) => k -> new DataWatch(loc) }

  /** After each op: the data bytes it wrote to its table (write_amp); after
    * every fourth, the table layer probed on both tables. */
  override def probe(i: Int, op: Op): Seq[Probe] = {
    val written = watches(if (op.restTable) "rest" else "lake").added()
    (if (op.cls == "write") Seq(Probe("write", Map("new_data_bytes" -> written.toDouble))) else Nil) ++
      (if (i % 4 != 3) Nil
       else Seq(lake, rest).map(m =>
         probeOf.getOrElseUpdate(m.name, new IceProbe).probe(spark, locations(m.name), m.commits)))
  }

  /** Each table's rows, key by key, equal the model's. */
  def finalChecks(): Seq[(String, Option[String])] = Seq(lake, rest).map { m =>
    val got = spark.sql("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM " +
      s"${if (m.rest) "rest" else "lake"}.bench.orders").collect()
    val keys = got.map(_.getLong(0)).toSet
    val wrong =
      if (got.length != m.rows.size || keys.size != got.length)
        Some(s"${got.length} rows (${keys.size} keys), model has ${m.rows.size}")
      else got.collectFirst {
        case r if !m.rows.get(r.getLong(0)).contains(Order(r.getLong(1), r.getString(2), r.getDouble(3))) =>
          s"key ${r.getLong(0)} is $r, model has ${m.rows.get(r.getLong(0))}"
      }
    s"small_commits ${m.name} table vs model" -> wrong
  }

  def storedBytesPerLiveByte(): Double = {
    val live = Seq("lake", "rest").map { c =>
      val dir = work.resolve("live").resolve(c)
      spark.table(s"$c.bench.orders").coalesce(1).write.mode("overwrite").parquet(dir.toString)
      Disk.parquetBytes(dir)
    }.sum.toDouble
    liveRowBytes = live / (lake.rows.size + rest.rows.size)
    (Disk.bytes(work.resolve("lake").resolve("bench")) + Disk.bytes(work.resolve("rest-warehouse"))) / live
  }

  override def liveBytesPerRow: Double = liveRowBytes

  override def close(): Unit = {
    forwarder.foreach(_.stop())
    server.stop()
  }
}

object SmallCommits {
  final case class Order(cust: Long, status: String, price: Double)

  /** What the read after a write checks: row count, key sum, price sum and
    * the rows each write kind stamped. */
  final case class Agg(n: Long, keys: Long, total: Double, updated: Long, merged: Long) {
    /** This aggregate with row `k` added (`sign` 1) or taken away (-1). */
    def adjust(k: Long, o: Order, sign: Int): Agg =
      Agg(n + sign, keys + sign * k, total + sign * o.price,
        updated + (if (o.status == "U") sign else 0), merged + (if (o.status == "M") sign else 0))

    def matches(r: Row): Option[String] = {
      val got = Agg(r.getLong(0), Option(r.get(1)).fold(0L)(_ => r.getLong(1)),
        Option(r.get(2)).fold(0.0)(_ => r.getDouble(2)), r.getLong(3), r.getLong(4))
      if (got.n == n && got.keys == keys && got.updated == updated && got.merged == merged &&
          Check.close(got.total, total)) None
      else Some(s"aggregate $got, model says $this")
    }
  }
}
