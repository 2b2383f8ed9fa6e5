package perfbench

/** Per-layer metrics of a traced run, from the spans of its ops and the
  * probes made between them. Times and counts are per op of the named
  * class (all ops when none is named) unless the name says otherwise; a
  * layer the workload does not exercise reports 0. */
object Layers {

  def compute(
      ops: Seq[OpRecord],
      spans: Seq[Span],
      probes: Seq[Probe],
      byKind: Map[(String, String), Samples],
      cores: Int,
      liveBytesPerRow: Double): Seq[(String, (Double, String))] = {

    val n        = ops.size.max(1).toDouble
    val opIds    = ops.map(_.id).toSet
    val jobSpans = spans.filter(s => s.layer == "exec" && !s.name.startsWith("stage ") && opIds(s.parent))
    val stageSpans = spans.filter(s => s.layer == "exec" && s.name.startsWith("stage "))
      .filter(s => opIds(s.attrs.getOrElse("op", 0.0).toLong))
    val restSpans = spans.filter(s => s.layer == "rest" && opIds(s.parent))

    // Catalyst phases carry no op id: attach each to the op whose wall
    // interval holds its start (ops never overlap)
    val sorted = ops.sortBy(_.startMs).toArray
    def opAt(ms: Double): Option[OpRecord] = {
      var lo = 0; var hi = sorted.length - 1; var found: Option[OpRecord] = None
      while (lo <= hi && found.isEmpty) {
        val mid = (lo + hi) / 2
        val o   = sorted(mid)
        if (ms < o.startMs - 1) hi = mid - 1
        else if (ms > o.endMs + 1) lo = mid + 1
        else found = Some(o)
      }
      found
    }
    val sqlSpans = spans.filter(_.layer == "sql").flatMap(s => opAt(s.startMs).map(o => (o, s)))

    def sqlPhase(name: String) = sqlSpans.collect { case (_, s) if s.name == name => s.seconds }.sum / n
    def stageSum(k: String, ops: Set[Long] = opIds) =
      stageSpans.filter(s => ops(s.attrs("op").toLong)).map(_.attrs.getOrElse(k, 0.0)).sum

    // driver self time: op span minus what its Catalyst phases and Spark
    // jobs cover
    val phasesByOp = sqlSpans.filter(_._2.name != "execution").groupBy(_._1.id)
    val jobsByOp   = jobSpans.groupBy(_.parent)
    def self(o: OpRecord): Double = {
      val iv = phasesByOp.getOrElse(o.id, Nil).map { case (_, s) => (s.startMs, s.endMs) } ++
        jobsByOp.getOrElse(o.id, Nil).map(s => (s.startMs, s.endMs))
      o.seconds - Tracer.covered(o.startMs, o.endMs, iv) / 1000.0
    }
    def selfOf(cls: String) = {
      val os = ops.filter(_.cls == cls)
      if (os.isEmpty) 0.0 else os.map(self).sum / os.size
    }

    val jobWall = jobSpans.map(_.seconds).sum
    val runS    = stageSum("run_s")

    val reads     = ops.filter(_.cls == "read")
    val readIds   = reads.map(_.id).toSet
    val readRows  = reads.map(_.resultRows).sum

    val writes    = ops.filter(_.cls == "write")
    val changed   = writes.map(_.changedRows).sum
    val restWrites = writes.filter(_.restTable)
    val restWriteIds = restWrites.map(_.id).toSet

    val ingests   = ops.filter(_.cls == "ingest")
    val ingestIds = ingests.map(_.id).toSet
    def ingestJobs(kind: String) = jobSpans.filter(s => ingestIds(s.parent) && ingestJobKind(s.name) == kind)
      .map(_.seconds).sum / ingests.size.max(1)

    def probeMean(kind: String, k: String) = {
      val xs = probes.filter(_.kind == kind).flatMap(_.values.get(k))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    def probeSum(kind: String, k: String) = probes.filter(_.kind == kind).flatMap(_.values.get(k)).sum
    def maintMean(kind: String) = {
      val xs = byKind.collect { case (("maintenance", k), s) if k.endsWith(kind) => s.values }.flatten
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }

    Seq(
      "sql.analysis_s"      -> (sqlPhase("analysis"), "s"),
      "sql.optimization_s"  -> (sqlPhase("optimization"), "s"),
      "sql.planning_s"      -> (sqlPhase("planning"), "s"),
      "sql.executions"      -> (sqlSpans.count(_._2.name == "execution") / n, "count"),
      "driver.self_s"       -> (ops.map(self).sum / n, "s"),
      "driver.read.self_s"  -> (selfOf("read"), "s"),
      "driver.write.self_s" -> (selfOf("write"), "s"),
      "driver.ingest.self_s" -> (selfOf("ingest"), "s"),
      "icelite.metadata_s"  -> (probeMean("icelite", "metadata_s"), "s"),
      "icelite.plan_files_s" -> (probeMean("icelite", "plan_files_s"), "s"),
      "icelite.snapshots"   -> (probeMean("icelite", "snapshots"), "count"),
      "icelite.manifests"   -> (probeMean("icelite", "manifests"), "count"),
      "icelite.data_files"  -> (probeMean("icelite", "data_files"), "count"),
      "icelite.delete_files" -> (probeMean("icelite", "delete_files"), "count"),
      "icelite.metadata_bytes_per_commit" ->
        (ratio(probeSum("icelite", "new_metadata_bytes"), probeSum("icelite", "commits")), "B"),
      "icelite.write_amp"   ->
        (ratio(probeSum("write", "new_data_bytes"), changed * liveBytesPerRow), "ratio"),
      "icelite.compact_s"   -> (maintMean("compact"), "s"),
      "icelite.expire_s"    -> (maintMean("expire"), "s"),
      "rest.requests_per_commit" -> (ratio(restSpans.count(s => restWriteIds(s.parent)), restWrites.size), "count"),
      "rest.request_s"      -> (ratio(restSpans.map(_.seconds).sum, restSpans.size), "s"),
      "rest.conflicts"      -> (restSpans.count(_.attrs.get("status").contains(409.0)).toDouble, "count"),
      "sources.input_bytes" -> (ratio(stageSum("input_bytes", readIds), reads.size), "B"),
      "sources.input_records" -> (ratio(stageSum("input_records", readIds), reads.size), "count"),
      "sources.records_per_result_row" -> (ratio(stageSum("input_records", readIds), readRows.toDouble), "ratio"),
      "exec.jobs"           -> (jobSpans.size / n, "count"),
      "exec.tasks"          -> (stageSum("tasks") / n, "count"),
      "exec.job_wall_s"     -> (jobWall / n, "s"),
      "exec.run_s"          -> (runS / n, "s"),
      "exec.cpu_s"          -> (stageSum("cpu_s") / n, "s"),
      "exec.gc_s"           -> (stageSum("gc_s") / n, "s"),
      "exec.core_busy_ratio" -> (ratio(runS, jobWall * cores), "ratio"),
      "exec.shuffle_read_bytes"  -> (stageSum("shuffle_read_bytes") / n, "B"),
      "exec.shuffle_write_bytes" -> (stageSum("shuffle_write_bytes") / n, "B"),
      "exec.spill_bytes"    -> (stageSum("spill_bytes") / n, "B"),
      "exec.failed_tasks"   -> (stageSum("failed_tasks"), "count"),
      "ingest.resolve_s"    -> (probeMean("ingest", "resolve_s"), "s"),
      "ingest.infer_s"      -> (ingestJobs("infer"), "s"),
      "ingest.parse_write_s" -> (ingestJobs("parse_write"), "s"),
      "ingest.count_s"      -> (ingestJobs("count"), "s"),
      "ingest.rows_per_s"   -> (ratio(ingests.map(_.ingestedRows).sum.toDouble, ingests.map(_.seconds).sum), "rows/s"))
  }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Which step of `IngestJob.run` a Spark job belongs to, by its call
    * site: schema inference reads the CSV, the row count closes the run,
    * and everything else parses and writes the table. */
  def ingestJobKind(callSite: String): String =
    if (callSite.startsWith("csv at")) "infer"
    else if (callSite.startsWith("count at")) "count"
    else "parse_write"
}
