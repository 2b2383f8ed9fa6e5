package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-shaped tables at scale factor 0.1, built by Spark from
  * hashes of the row id salted with the seed, so the same seed gives the
  * same rows. Keys follow TPC-H: 4 lines per order, every foreign key hits. */
final class TpchGen(spark: SparkSession, seed: Long) {
  val Orders    = 150000L
  val Lineitem  = Orders * 4
  val Customers = 15000L
  val Suppliers = 1000L
  val Parts     = 20000L

  /** 1992-01-01 in epoch seconds; order dates span 2405 days from it. */
  val Epoch = 694224000L

  private def h(c: Column, salt: Int): Column = xxhash64(c, lit(seed * 1000003L + salt))
  private def pick(c: Column, salt: Int, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*), (pmod(h(c, salt), lit(vals.size.toLong)) + 1).cast("int"))
  private def money(c: Column, salt: Int, cents: Long): Column =
    (pmod(h(c, salt), lit(cents)) / 100.0).cast("double")
  private def orderDay(orderIdx: Column): Column =
    lit(Epoch) + pmod(h(orderIdx, 11), lit(2405L)) * 86400L

  val Segments   = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Regions    = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations = Seq("ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1, "EGYPT" -> 4,
    "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4,
    "IRAQ" -> 4, "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0, "MOZAMBIQUE" -> 0,
    "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3, "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3,
    "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)

  def region: DataFrame = {
    import spark.implicits._
    Regions.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
  }

  def nation: DataFrame = {
    import spark.implicits._
    Nations.zipWithIndex.map { case ((n, r), i) => (i, n, r) }.toDF("n_nationkey", "n_name", "n_regionkey")
  }

  def supplier: DataFrame = spark.range(0, Suppliers, 1, 1).select(
    (col("id") + 1).as("s_suppkey"),
    format_string("Supplier#%09d", col("id") + 1).as("s_name"),
    pmod(h(col("id"), 21), lit(25L)).cast("int").as("s_nationkey"),
    money(col("id"), 22, 1000000L).as("s_acctbal"))

  def customer: DataFrame = spark.range(0, Customers, 1, 1).select(
    (col("id") + 1).as("c_custkey"),
    format_string("Customer#%09d", col("id") + 1).as("c_name"),
    pmod(h(col("id"), 31), lit(25L)).cast("int").as("c_nationkey"),
    money(col("id"), 32, 1000000L).as("c_acctbal"),
    pick(col("id"), 33, Segments).as("c_mktsegment"))

  def orders: DataFrame = spark.range(0, Orders, 1, 4).select(
    (col("id") + 1).as("o_orderkey"),
    (pmod(h(col("id"), 12), lit(Customers)) + 1).as("o_custkey"),
    pick(col("id"), 13, Seq("F", "O", "P")).as("o_orderstatus"),
    money(col("id"), 14, 50000000L).as("o_totalprice"),
    timestamp_seconds(orderDay(col("id"))).as("o_orderdate"),
    pick(col("id"), 15, Priorities).as("o_orderpriority"))

  def lineitem: DataFrame = {
    val order = (col("id") / 4).cast("long")
    spark.range(0, Lineitem, 1, 4).select(
      (order + 1).as("l_orderkey"),
      (pmod(h(col("id"), 41), lit(Parts)) + 1).as("l_partkey"),
      (pmod(h(col("id"), 42), lit(Suppliers)) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(col("id"), 43), lit(50L)) + 1).cast("double").as("l_quantity"),
      money(col("id"), 44, 10000000L).as("l_extendedprice"),
      (pmod(h(col("id"), 45), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(col("id"), 46), lit(9L)) / 100.0).as("l_tax"),
      pick(col("id"), 47, Seq("A", "N", "R")).as("l_returnflag"),
      pick(col("id"), 48, Seq("F", "O")).as("l_linestatus"),
      timestamp_seconds(orderDay(order) + (pmod(h(col("id"), 49), lit(121L)) + 1) * 86400L)
        .as("l_shipdate"))
  }

  def tables: Seq[(String, DataFrame)] =
    TpchGen.Names.zip(Seq(region, nation, supplier, customer, orders, lineitem))
}

object TpchGen {
  val Names = Seq("region", "nation", "supplier", "customer", "orders", "lineitem")
}

/** Seeded CSV files in the reference `users` shape: an int64 key, 7
  * strings and 10 booleans. One file's header has drifted: its columns
  * come in another order and it carries one extra boolean column. */
object UsersCsv {
  val Likes = Seq("sports", "theatre", "concerts", "jazz", "classical", "opera", "rock",
    "vegas", "broadway", "musicals").map("like" + _)
  val Strings = Seq("username", "firstname", "lastname", "city", "state", "email", "phone")
  val Base    = ("userid" +: Strings) ++ Likes
  val Extra   = "likecomedy"
  /** Column order of the drifted file. */
  val Drifted = Seq("userid", "email", "state", "city") ++ Likes.reverse ++
    Seq("username", "firstname", "lastname", "phone", Extra)
  /** Every column any file has: the base order, then the drift column. */
  val Canonical = Base :+ Extra

  val States = Seq("AB", "BC", "MB", "NB", "NL", "NS", "NT", "PE", "QC", "YT", "WA", "CA", "NY",
    "TX", "FL", "OR", "NV", "AZ", "IL", "MA")
  val Cities = Seq("Kent", "Starkville", "Bend", "Lowell", "Halifax", "Regina", "Yuma",
    "Moab, UT", "Provo", "Tacoma", "Eugene, OR", "Reno")
  val Names = Seq("Rafael", "Shafira", "Ana", "Kofi", "Mei", "Ivan", "Lena", "Omar", "Ruth",
    "Tariq", "Nia", "Bo")

  /** One generated row: column name -> rendered CSV value (unquoted). */
  type Row = Map[String, String]

  def rows(seed: Long, file: Int, n: Int, drifted: Boolean): IndexedSeq[Row] = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + file)
    (0 until n).map { r =>
      val id   = 10000000000L + file.toLong * 1000000L + r
      val base = Map(
        "userid"    -> id.toString,
        "username"  -> (1 to 8).map(_ => "ABCDEFGHJKLMNPQRSTUVWXYZ0123456789".charAt(rnd.nextInt(34))).mkString,
        "firstname" -> Names(rnd.nextInt(Names.size)),
        "lastname"  -> (Names(rnd.nextInt(Names.size)) + "son"),
        "city"      -> Cities(rnd.nextInt(Cities.size)),
        "state"     -> States(rnd.nextInt(States.size)),
        "email"     -> s"user$id@example.com",
        "phone"     -> f"555-${rnd.nextInt(10000)}%04d") ++
        Likes.map(l => l -> (rnd.nextInt(5) == 0).toString)
      if (drifted) base + (Extra -> rnd.nextBoolean().toString) else base
    }
  }

  private def field(v: String): String = if (v.contains(",")) "\"" + v + "\"" else v

  def csv(rows: Seq[Row], cols: Seq[String]): String =
    (cols.mkString(",") +: rows.map(r => cols.map(c => field(r(c))).mkString(","))).mkString("", "\n", "\n")
}

/** Seeded parameter draws. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def long(lo: Long, hi: Long): Long = lo + r.nextLong(hi - lo)
  def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
  def shuffle[A](xs: Seq[A]): Seq[A] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toSeq
  }
  def cents(lo: Int, hi: Int): Double = (lo * 100 + r.nextInt((hi - lo) * 100)) / 100.0
}
