package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One traced interval on the wall clock (epoch milliseconds). `parent` is
  * the id of the op span that caused it (0 when it is attributed by time). */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** An op as the harness saw it: class (read | write | ingest |
  * maintenance), kind, wall interval and the rows it returned or changed. */
final case class OpRecord(id: Long, cls: String, kind: String, startMs: Double,
    endMs: Double, resultRows: Long, changedRows: Long, ingestedRows: Long,
    restTable: Boolean) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Spans kept in memory for the run and written out when it ends.
  *
  * A traced op carries its span id as the Spark local property
  * [[Tracer.OpProperty]], so every job, stage and task it starts attaches
  * to it exactly. Catalyst phases arrive through a QueryExecutionListener
  * without that property and attach by time: ops run one at a time on a
  * single client thread. REST requests attach through [[currentOp]]. */
final class Tracer(spark: SparkSession) {
  @volatile var currentOp: Long = 0L

  private val ids   = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  // jobId -> (op, job span id, start ms, call site); stageId -> (op, job span)
  private val jobs   = new ConcurrentHashMap[Int, (Long, Long, Double, String)]()
  private val stages = new ConcurrentHashMap[Int, (Long, Long)]()
  private val failedTasks = new ConcurrentHashMap[Int, Integer]()

  def newId(): Long = ids.getAndIncrement()
  def record(s: Span): Unit = spans.synchronized { spans += s }
  def all: Seq[Span] = spans.synchronized(spans.toVector)

  def beginOp(id: Long): Unit = {
    currentOp = id
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, id.toString)
  }

  def endOp(): Unit = {
    currentOp = 0L
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProperty))).foreach { op =>
        // the result stage is named after the job's call site
        val site = Option(e.properties.getProperty("callSite.short"))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("?")
        val id   = newId()
        jobs.put(e.jobId, (op.toLong, id, e.time.toDouble, site))
        e.stageIds.foreach(s => stages.put(s, (op.toLong, id)))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (op, id, t0, site) =>
        record(Span(id, op, "exec", site, t0, e.time.toDouble))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != org.apache.spark.Success && stages.containsKey(e.stageId))
        failedTasks.merge(e.stageId, 1, (a: Integer, b: Integer) => a + b)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stages.get(si.stageId)).foreach { case (op, job) =>
        val m = si.taskMetrics
        val attrs =
          if (m == null) Map("tasks" -> si.numTasks.toDouble)
          else Map(
            "tasks"         -> si.numTasks.toDouble,
            "failed_tasks"  -> Option(failedTasks.remove(si.stageId)).fold(0.0)(_.toDouble),
            "run_s"         -> m.executorRunTime / 1e3,
            "cpu_s"         -> m.executorCpuTime / 1e9,
            "gc_s"          -> m.jvmGCTime / 1e3,
            "input_bytes"   -> m.inputMetrics.bytesRead.toDouble,
            "input_records" -> m.inputMetrics.recordsRead.toDouble,
            "shuffle_read_bytes"  -> m.shuffleReadMetrics.totalBytesRead.toDouble,
            "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
            "spill_bytes"   -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        val t0 = si.submissionTime.getOrElse(0L).toDouble
        val t1 = si.completionTime.getOrElse(t0.toLong).toDouble
        record(Span(newId(), job, "exec", s"stage ${si.stageId}", t0, t1, attrs + ("op" -> op.toDouble)))
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { name =>
        ph.get(name).foreach(s =>
          record(Span(newId(), 0L, "sql", name, s.startTimeMs.toDouble, s.endTimeMs.toDouble)))
      }
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      record(Span(newId(), 0L, "sql", "execution", start.toDouble, start.toDouble))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
  }

  /** Stop listening once the listener bus has caught up with the run. */
  def uninstall(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (!jobs.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(300) // stage-completed and SQL events trail job-end
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(sqlListener)
  }

  /** Write every span as one JSON line, ops first. */
  def writeOut(path: java.nio.file.Path, ops: Seq[OpRecord]): Unit = {
    val lines = ops.map { o =>
      Json.obj(Seq("id" -> Json.num(o.id.toDouble), "layer" -> Json.str("op"),
        "name" -> Json.str(s"${o.cls}:${o.kind}"), "start_ms" -> Json.num(o.startMs),
        "end_ms" -> Json.num(o.endMs)))
    } ++ all.map { s =>
      Json.obj(Seq("id" -> Json.num(s.id.toDouble), "parent" -> Json.num(s.parent.toDouble),
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)) ++
        s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  /** Length of the part of [lo, hi] that the intervals cover. */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA  = Double.NaN
    var curB  = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
