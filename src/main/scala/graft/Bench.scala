package graft

import org.apache.spark.sql.streaming.Trigger

/** Benchmark main: times every registered query at the configured scale
  * factor (driver runs sf0.1) and prints one JSON line.
  *
  * Each query is forced end-to-end with a `noop`-format write so sorts and
  * limits are actually executed (a bare `count()` lets Catalyst drop them).
  * One warmup query amortizes session/codegen startup out of q1's number.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = MainSession.local(defaultCpus = 32)

    def force(name: String): Double = {
      val t0 = System.nanoTime()
      val elapsed =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            // full trace, not just toString: a campaign-only failure (r16's
            // ic94 at 100x) is undiagnosable from the exception class alone
            System.err.println(s"[bench] $name failed: $e")
            e.getStackTrace.take(12).foreach(f => System.err.println(s"[bench]   at $f"))
            var c = e.getCause
            while (c != null) { System.err.println(s"[bench]   caused by: $c"); c = c.getCause }
            -1.0
        }
      // outside the timed window: release per-query persist()s so caches
      // don't accumulate, without billing teardown to the measured query
      spark.catalog.clearCache()
      elapsed
    }

    force("ref01_count") // warmup: session + codegen + FS init

    // fixed per-run cost of a Structured Streaming lifecycle (checkpoint +
    // state-store setup + AvailableNow drain over a one-row source): the
    // floor under every st* number. Reported separately so a regression in
    // actual state logic isn't masked by — or mistaken for — harness cost.
    def streamingOverhead(): Double = {
      import spark.implicits._
      val dir = "target/scratch/bench_so"
      Seq((1L, "a")).toDF("id", "k").write.mode("overwrite").parquet(dir)
      val t0 = System.nanoTime()
      spark.catalog.dropTempView("so_sink")
      // same checkpoint manager the st* lifecycles run under (round 17):
      // the overhead is the floor under THEIR numbers, so it must pay the
      // same checkpoint IO path they do
      graft.streaming.StreamQueries.withLocalCkptManager(spark) {
        spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
          .groupBy("k").count()
          .writeStream.format("memory").queryName("so_sink").outputMode("complete")
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      (System.nanoTime() - t0) / 1e9
    }
    val soA = streamingOverhead()
    val soB = streamingOverhead()
    val streamOverheadSec = math.min(soA, soB)

    // min of two runs: the first pays Janino/JIT compilation per query and
    // local machine noise was observed at ±40%; the minimum is the stable
    // measure of the plan itself.
    // optional comma-separated name filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val selected = SparkEntry.registry.filter(q => only.forall(_.contains(q.name)))
    // min-of-two per query, escalating to a THIRD run when the two
    // disagree >1.5× — a bursty-noise hit on both runs is what produced
    // r13's 34 phantom >2× movers (empty intersection with the same-day
    // controlled map); the extra run costs only the unstable tail.
    val unstable = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = selected.map { q =>
      val a = force(q.name)
      val b = force(q.name)
      val best2 = if (a < 0 || b < 0) math.max(a, b) else math.min(a, b)
      val noisy = a > 0 && b > 0 && math.max(a, b) > 1.5 * math.min(a, b) && best2 > 0.5
      val best = if (noisy) {
        unstable += q.name
        val c = force(q.name)
        if (c < 0) best2 else math.min(best2, c)
      } else best2
      // stderr progress so a long run (or a hung query) is diagnosable
      // mid-flight; the JSON contract line on stdout is unchanged
      System.err.println(f"[bench] ${q.name} $best%.2fs (runs $a%.2f/$b%.2f" +
        (if (noisy) " +retry" else "") + ")")
      q.name -> best
    }
    // failed queries surface as null entries + a failed count, so a
    // regression can't masquerade as a faster total
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + (if (v < 0) "null" else f"$v%.3f") }
      .mkString("{", ",", "}")
    val total  = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    // st* queries net of the measured fixed lifecycle cost: the gross
    // number tracks wall-clock honestly, the net one makes a regression in
    // the actual stateful logic visible instead of drowning in the ~2 s
    // checkpoint/state-store floor every streaming query pays.
    val streamingNet = results
      .filter { case (k, _) => k.startsWith("st") }
      .map { case (k, v) =>
        "\"" + k + "\":" +
          (if (v < 0) "null" else f"${math.max(0.0, v - streamOverheadSec)}%.3f")
      }
      .mkString("{", ",", "}")
    // full list in the tracked file; the compact stdout line caps at 8
    // names so a noisy run can't blow the driver's tail window
    val unstableJson    = unstable.map("\"" + _ + "\"").mkString("[", ",", "]")
    val unstableCompact = unstable.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","failed":$failed,"streaming_overhead":$streamOverheadSec%.3f,"unstable":$unstableJson,"streaming_net":$streamingNet,"queries":$qs,"sf":"$sfDir"}"""
    // The driver's stdout capture keeps only the LAST ~2000 chars of
    // stdout, and the full 319-query map is ~12 KB — r13/r14's BENCH
    // artifacts carried `parsed: null` because the capture window started
    // mid-line. Split the record: the FULL per-query map goes to the
    // repo-tracked bench_out.json, and stdout ends with a single COMPACT
    // line (guaranteed < 2000 chars: per-family second totals + the
    // slowest individual queries) so the driver's tail parse succeeds.
    // env-settable so an ad-hoc single-query run can't stomp the round's
    // tracked artifact (this bit the r16 judge reproducing ic94)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] $outPath write failed: $e") }
    System.err.println(line) // full map still visible in the stderr log
    val famTotals = results.filter(_._2 >= 0)
      .groupBy { case (k, _) => k.takeWhile(!_.isDigit) }
      .toSeq.sortBy(_._1)
      .map { case (f, vs) => "\"" + f + "\":" + f"${vs.map(_._2).sum}%.2f" }
      .mkString("{", ",", "}")
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(12)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    // n_unstable carries the FULL count so a consumer of the capped
    // compact list can detect truncation on a noisy run
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","failed":$failed,"n_queries":${results.size},"streaming_overhead":$streamOverheadSec%.3f,"unstable":$unstableCompact,"n_unstable":${unstable.size},"families":$famTotals,"queries":$slowest,"queries_truncated":true,"full_map":"$outPath","sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }
}
