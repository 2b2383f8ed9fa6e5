package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Measurement-only harness (guide §1): run one registered query with a
  * job listener attached and print every Spark job's wall time + call
  * site, so a lifecycle query's cost decomposes into its constituent
  * actions. Not part of the driver contract; used to attribute time
  * inside multi-action queries (ic/dd/mv/st lifecycles) where a single
  * end-to-end number says nothing about which stage to optimize.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ProfileQ <name> [n]"
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val name  = args(0)
    val reps  = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = MainSession.local(defaultCpus = 32)

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Double)]
    val stages = scala.collection.mutable.ArrayBuffer.empty[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties.getProperty("callSite.short")).getOrElse("?")
        jobs.put(js.jobId, (site, System.nanoTime()))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (site, t0) =>
          done.synchronized {
            done += ((je.jobId, site, (System.nanoTime() - t0) / 1e9))
          }
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m  = si.taskMetrics
        val line = f"stage ${si.stageId}%3d n=${si.numTasks}%3d " +
          f"run=${m.executorRunTime / 1e3}%6.1fs cpu=${m.executorCpuTime / 1e9}%6.1fs " +
          f"sRead=${m.shuffleReadMetrics.totalBytesRead / 1e6}%7.1fMB " +
          f"sWrite=${m.shuffleWriteMetrics.bytesWritten / 1e6}%7.1fMB " +
          f"in=${m.inputMetrics.bytesRead / 1e6}%7.1fMB " +
          f"out=${m.outputMetrics.bytesWritten / 1e6}%7.1fMB  ${si.name.take(60)}"
        stages.synchronized(stages += line)
      }
    })

    // warmup: session + codegen + FS init outside the measured reps
    SparkEntry.queries("ref01_count")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    (1 to reps).foreach { rep =>
      done.synchronized(done.clear())
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(300) // let listener events drain
      val snap = done.synchronized(done.toVector)
      println(f"== $name rep $rep: total $total%.2fs, ${snap.size} jobs, " +
        f"job-sum ${snap.map(_._3).sum}%.2fs ==")
      snap.sortBy(_._1).foreach { case (id, site, sec) =>
        println(f"  job $id%3d $sec%6.2fs  $site")
      }
      if (rep == reps) stages.synchronized(stages.foreach(l => println("  " + l)))
    }
    spark.stop()
  }
}
