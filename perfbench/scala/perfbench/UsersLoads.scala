package perfbench

import graft.icelite.{FsCatalog, IngestConfig, IngestJob, IngestResult, SourceResolver}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** The paper's ingestion pipeline as ops: seeded `users`-shaped CSV files,
  * one with a drifted header, merged by `IngestJob.run` into one table in
  * a fresh namespace of their own warehouse (catalog `ing`); the drift
  * forces the per-file union path. Each load's row count, normalized
  * schema and content hash must equal what the generator wrote. */
final class UsersLoads(spark: SparkSession, seed: Long, work: Path) {
  import UsersLoads._

  private val csvDir = work.resolve("csv")
  private val wh     = work.resolve("ingest")
  private val tmp    = work.resolve("ingest-tmp").toString
  private lazy val job = new IngestJob(spark, new FsCatalog(spark, wh.toString), tmp)

  /** What the generator wrote, over every file: the merged table's columns,
    * row count and content hash. */
  final case class Truth(cols: Seq[String], rows: Long, sum: Long, xor: Long)

  private var truth: Truth = _
  private var nsSeq  = 0
  /** The table the last load made. */
  private var latest: Option[IngestResult] = None
  private var lastConfig: Option[IngestConfig] = None
  private val made   = mutable.ArrayBuffer.empty[IngestResult]

  /** Writes the CSV files and works out what they hold. */
  def setup(): Unit = {
    Files.createDirectories(csvDir)
    Log.step("generate csv")(FileNames.zipWithIndex.foreach { case (name, i) =>
      Files.write(csvDir.resolve(name), csvBytes(seed, i))
    })
    truth = Log.step("expected csv results")(expected())
    spark.conf.set("spark.sql.catalog.ing", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ing.warehouse", wh.toString)
  }

  /** Hashes the generated rows in one Spark job over an in-memory table, so
    * the expected values never touch the CSV path. */
  private def expected(): Truth = {
    val cols   = UsersCsv.Canonical
    val schema = StructType(cols.map(c => StructField(c, typeOf(c))))
    val all = FileNames.zipWithIndex.flatMap { case (name, i) =>
      UsersCsv.rows(seed, i, RowsPerFile, name == DriftFile)
        .map(r => Row.fromSeq(cols.map(c => r.get(c).map(typed(c, _)).orNull)))
    }
    spark.createDataFrame(java.util.Arrays.asList(all: _*), schema).createOrReplaceTempView("ingest_truth")
    val h = spark.sql(hashSql("ingest_truth", cols)).collect().head
    // the merged table's columns: the first file's, then any a later file adds
    val merged = FileNames.map(f => if (f == DriftFile) UsersCsv.Drifted else UsersCsv.Base)
      .reduce((a, b) => a ++ b.filterNot(a.contains))
    Truth(merged, h.getLong(0), h.getLong(1), h.getLong(2))
  }

  /** One merged load and the content-hash read of the table it made. */
  def loadAndRead(): Seq[Op] = Seq(ingest(), contentHash())

  private def ingest(): Op = Op("ingest", "merged_all", Pattern, _ => {
    nsSeq += 1
    val conf = IngestConfig(csvDir.toString, Some(Pattern), s"n$nsSeq", Some("users"), mergeGlob = true)
    val res  = job.run(conf)
    lastConfig = Some(conf)
    latest = res.headOption
    made ++= res
    Outcome(ingested = res.map(_.rows).sum, check = () =>
      if (res.size != 1) Some(s"${res.size} tables, expected 1")
      else if (res.head.rows != truth.rows) Some(s"${res.head.table} holds ${res.head.rows} rows, " +
        s"expected ${truth.rows}")
      else None)
  })

  private def ident(r: IngestResult) = s"ing.${r.namespace}.${r.table}"

  private def contentHash(): Op = Op("read", "content_hash", "", _ => {
    val r = latest.getOrElse(sys.error("no table loaded"))
    val schema = spark.table(ident(r)).schema
    val h = spark.sql(hashSql(ident(r), schema.fieldNames.toSeq)).collect().head
    Outcome(rows = 1, check = () => {
      val got  = schema.fields.map(f => f.name -> f.dataType).toSeq
      val want = truth.cols.map(c => c -> typeOf(c))
      if (got != want) Some(s"${r.table} schema $got, expected $want")
      else if (h.getLong(0) != truth.rows || h.getLong(1) != truth.sum || h.getLong(2) != truth.xor)
        Some(s"${r.table} content hash (${h.getLong(0)}, ${h.getLong(1)}, ${h.getLong(2)}) differs " +
          "from the generator's")
      else None
    })
  })

  /** After a load: `SourceResolver.filesToProcess` timed on its source, and
    * the table layer probed on the table it made. */
  def probe(): Seq[Probe] = lastConfig.toSeq.flatMap { conf =>
    lastConfig = None
    val n0 = System.nanoTime()
    SourceResolver.filesToProcess(conf.source, conf.globPattern, tmp)
    Probe("ingest", Map("resolve_s" -> (System.nanoTime() - n0) / 1e9)) +:
      latest.toSeq.map(r => new IceProbe(fresh = true).probe(spark, r.location, 1))
  }

  /** Forgets the last load, so no probe follows it. */
  def forget(): Unit = lastConfig = None

  /** Every table the run made still reads back in full. */
  def reread(): (String, Option[String]) = {
    val wrong = made.toSeq.collectFirst {
      case r if spark.table(ident(r)).count() != truth.rows => s"${ident(r)} row count changed after the run"
    }
    s"${made.size} ingested tables re-read" -> wrong
  }

  /** Warehouse bytes, and the bytes of every table's rows written once as
    * one default Parquet file. Every load made the same rows, so one copy
    * stands for all. */
  def bytes(): (Double, Double) = made.headOption.fold((0.0, 0.0)) { r =>
    val dir = work.resolve("live").resolve("users")
    spark.table(ident(r)).coalesce(1).write.mode("overwrite").parquet(dir.toString)
    (Disk.bytes(wh).toDouble, Disk.parquetBytes(dir).toDouble * made.size)
  }
}

object UsersLoads {
  val RowsPerFile = 8000
  val DriftFile   = "users_05_drift.csv"
  val FileNames   = (0 until 5).map(i => f"users_0$i.csv") :+ DriftFile
  val Pattern     = "users_*.csv"

  def typeOf(col: String): DataType =
    if (col == "userid") LongType else if (UsersCsv.Strings.contains(col)) StringType else BooleanType

  def typed(col: String, v: String): Any = typeOf(col) match {
    case LongType    => v.toLong
    case BooleanType => v.toBoolean
    case _           => v
  }

  def csvBytes(seed: Long, file: Int): Array[Byte] = {
    val drifted = FileNames(file) == DriftFile
    UsersCsv.csv(UsersCsv.rows(seed, file, RowsPerFile, drifted),
      if (drifted) UsersCsv.Drifted else UsersCsv.Base).getBytes(StandardCharsets.UTF_8)
  }

  /** Row count and two order-insensitive digests of a table's rows, each
    * row rendered over every column any file has, missing or null ones as
    * `\N`. */
  def hashSql(table: String, present: Seq[String]): String = {
    val canon = UsersCsv.Canonical.map(c =>
      if (present.contains(c)) s"coalesce(cast($c AS STRING), '\\\\N')" else "'\\\\N'").mkString(", ")
    val h = s"xxhash64(concat_ws('|', $canon))"
    s"SELECT count(*), coalesce(sum(shiftrightunsigned($h, 20)), 0), coalesce(bit_xor($h), 0) FROM $table"
  }
}
