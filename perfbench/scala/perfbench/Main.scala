package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** What a timed op returns: rows read or changed, and an untimed check
  * that names the first way its result is wrong. */
final case class Outcome(
    rows: Long = 0L,
    changed: Long = 0L,
    ingested: Long = 0L,
    check: () => Option[String] = () => None)

/** One op of a workload's stream. `cls` is read | write | ingest |
  * maintenance; `kind` names its shape; `text` renders its seeded
  * parameters. `restTable` marks ops on the table behind the REST catalog. */
final case class Op(cls: String, kind: String, text: String, body: Ctx => Outcome,
    restTable: Boolean = false)

/** Per-op context: the catalog name that reaches the REST table (through
  * the recording forwarder in a traced run). */
final case class Ctx(restCatalog: String)

/** Logs how long each setup step took, on stderr. */
object Log {
  def step[A](what: String)(f: => A): A = {
    val n0 = System.nanoTime()
    val r  = f
    System.err.println(f"[perfbench] $what%-34s ${(System.nanoTime() - n0) / 1e9}%7.2f s")
    r
  }
}

/** A layer probe made between traced ops, outside the timed window. */
final case class Probe(kind: String, values: Map[String, Double])

trait Workload {
  /** The op class `op_mean_s` reports. */
  def gatedClass: String
  /** Ops per block. Every block holds each kind once, in a seeded order,
    * so any whole number of blocks has the same mix. */
  def blockSize: Int
  /** Seconds a warm block takes on 4 cores: the timed window runs
    * `seconds / blockSeconds` whole blocks, rounded, at least one. */
  def blockSeconds: Double
  def setup(): Unit
  /** Called before a traced run's loop starts. */
  def enableTrace(): Unit = ()
  def next(): Op
  /** Layer probes (trace only) made after op number `i`, which was `op`. */
  def probe(i: Int, op: Op): Seq[Probe] = Nil
  /** Checks of the final state, after the timed window. */
  def finalChecks(): Seq[(String, Option[String])]
  /** Warehouse bytes ÷ bytes of the live rows written once as one file. */
  def storedBytesPerLiveByte(): Double
  /** Bytes per live row in a single default Parquet file (for write_amp). */
  def liveBytesPerRow: Double = 0.0
  def close(): Unit = ()
}

object Workload {
  /** Runs one op untimed during setup; a wrong result stops the run. */
  def warmUp(op: Op): Unit =
    op.body(Ctx("rest")).check().foreach(e => sys.error(s"warm-up ${op.kind}: $e"))
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
    spans: Option[Path])

object Main {
  val Workloads = Seq("olap", "small_commits")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val wl = need("workload")
    require(Workloads.contains(wl), s"unknown workload '$wl' (expected ${Workloads.mkString(" | ")})")
    Opts(wl, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, m.get("spans").map(Paths.get(_).toAbsolutePath))
  }

  def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.lake", "graft.sources.IceLiteCatalog")
      .config("spark.sql.catalog.lake.warehouse", work.resolve("lake").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = Log.step("session")(session(o.work, cores))
    val tracer = new Tracer(spark)
    val wl: Workload = o.workload match {
      case "olap"          => new Olap(spark, o.seed, o.work)
      case "small_commits" => new SmallCommits(spark, o.seed, o.work, tracer)
    }
    val code =
      try {
        wl.setup()
        val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
        val setupS   = (System.currentTimeMillis() - jvmStart) / 1000.0
        val result   = new Harness(spark, wl, o, cores, tracer).run(setupS)
        println(result)
        System.out.flush()
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          3
      } finally {
        wl.close()
        Log.step("stop")(spark.stop())
      }
    System.exit(code)
  }
}

/** The closed loop: one client thread runs the workload's ops back to back
  * for a fixed number of blocks, then checks the final state and reports. */
final class Harness(spark: SparkSession, wl: Workload, o: Opts, cores: Int, tracer: Tracer) {
  private val byKind  = mutable.LinkedHashMap.empty[(String, String), Samples]
  private val ops     = mutable.ArrayBuffer.empty[OpRecord]
  private val probes  = mutable.ArrayBuffer.empty[Probe]
  private val errors  = mutable.ArrayBuffer.empty[String]
  private var attempted = 0

  private def fail(what: String, why: String): Unit = {
    errors += s"$what: $why"
    System.err.println(s"[perfbench] WRONG RESULT $what: $why")
  }

  /** Catalyst phases are matched to ops by wall time, with 1 ms of slack
    * either side; in a traced run a gap of `GapMs` keeps the queries of
    * checks and probes out of the ops next to them. */
  private val GapMs = 3L

  private def runOne(i: Int): Unit = {
    val op  = wl.next()
    val ctx = Ctx(if (o.trace) "restt" else "rest")
    val id  = tracer.newId()
    if (o.trace) { Thread.sleep(GapMs); tracer.beginOp(id) }
    val t0ms = System.currentTimeMillis().toDouble
    val n0   = System.nanoTime()
    val res  = try Right(op.body(ctx)) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - n0) / 1e9
    if (o.trace) { tracer.endOp(); Thread.sleep(GapMs) }
    attempted += 1
    val what = s"op $i ${op.cls}:${op.kind}"
    res match {
      case Left(e) => fail(what, s"failed: $e")
      case Right(out) =>
        byKind.getOrElseUpdate((op.cls, op.kind), new Samples).add(secs)
        ops += OpRecord(id, op.cls, op.kind, t0ms, t0ms + secs * 1000.0,
          out.rows, out.changed, out.ingested, op.restTable)
        out.check().foreach(fail(what, _))
    }
    if (o.trace) probes ++= wl.probe(i, op)
  }

  def run(setupS: Double): String = {
    if (o.trace) { wl.enableTrace(); tracer.install() }
    // a fixed number of whole blocks: every kind gets the same share, and a
    // seed fixes the whole op sequence, so two builds run the same work
    val blocks = math.max(1, math.round(o.seconds / wl.blockSeconds).toInt)
    (0 until blocks * wl.blockSize).foreach(runOne)
    if (o.trace) tracer.uninstall()
    Log.step("final checks")(wl.finalChecks()).foreach { case (what, err) =>
      attempted += 1
      err.foreach(fail(s"final $what", _))
    }
    val stored = Log.step("stored bytes")(wl.storedBytesPerLiveByte())
    val metrics = Log.step("metrics")(
      if (o.trace) layerMetrics()
      else endToEnd(setupS, stored))
    summary()
    val failed = errors.size
    Json.obj(Seq(
      "correct"   -> (if (failed == 0) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed"    -> failed.toString,
      "metrics"   -> Json.obj(metrics.map { case (k, (v, unit)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      })))
  }

  private def kinds(cls: String => Boolean): Iterable[Samples] =
    byKind.collect { case ((c, _), s) if cls(c) => s }

  /** Heap in use after full GCs, repeated until it stops shrinking: Spark's
    * cleaner releases shuffle and broadcast state only after a GC has
    * enqueued their references. */
  private def heapLiveMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used()
    var next = { Thread.sleep(200); used() }
    var tries = 0
    while (next < last && tries < 8) { last = next; Thread.sleep(200); next = used(); tries += 1 }
    math.min(last, next) / (1024.0 * 1024.0)
  }

  private def opsPerSecond(rs: Seq[OpRecord]): Double = rs.size / rs.map(_.seconds).sum

  private def endToEnd(setupS: Double, stored: Double): Seq[(String, (Double, String))] = Seq(
    "setup_s"     -> (setupS, "s"),
    "ops_per_s"   -> (opsPerSecond(ops.toSeq), "1/s"),
    "op_mean_s"   -> (Stats.stratifiedMean(kinds(_ == wl.gatedClass)), "s"),
    "read_mean_s" -> (Stats.stratifiedMean(kinds(_ == "read")), "s"),
    "stored_bytes_per_live_byte" -> (stored, "ratio"),
    "heap_live_mb" -> (heapLiveMb(), "MB"))

  private def layerMetrics(): Seq[(String, (Double, String))] = {
    o.spans.foreach(tracer.writeOut(_, ops.toSeq))
    Layers.compute(ops.toSeq, tracer.all, probes.toSeq, byKind.toMap, cores, wl.liveBytesPerRow) :+
      ("trace.ops_per_s" -> (opsPerSecond(ops.toSeq), "1/s"))
  }

  /** Human-readable per-kind table on stderr, with sample counts. */
  private def summary(): Unit = {
    System.err.println(f"[perfbench] ${"class:kind"}%-34s ${"n"}%5s ${"mean_s"}%9s ${"p50_s"}%9s ${"p90_s"}%9s")
    def row(name: String, xs: Seq[Double]): Unit = {
      def p(q: Double) = Stats.percentile(xs, q).fold("   (n<100)")(v => f"$v%9.4f")
      System.err.println(f"[perfbench] $name%-34s ${xs.size}%5d ${xs.sum / xs.size}%9.4f ${p(50)} ${p(90)}")
    }
    byKind.foreach { case ((c, k), s) => row(s"$c:$k", s.values) }
    Seq("read", "write", "ingest", "maintenance").foreach { c =>
      val xs = kinds(_ == c).flatMap(_.values).toSeq
      if (xs.nonEmpty) row(s"$c (all kinds)", xs)
    }
  }
}
