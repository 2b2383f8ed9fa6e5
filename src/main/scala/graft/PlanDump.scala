package graft


/** Deliverable helper: write `.explain("formatted")` of named registered
  * queries to <outDir>/<name>_<tag>.txt. Lifecycle queries execute
  * their side effects while the DataFrame is constructed; the captured
  * plan is the returned (final) frame's.
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> <tag> <q1,q2,...>"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, tag, names) = args.take(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = MainSession.local(defaultCpus = 32)
    new java.io.File(outDir).mkdirs()
    names.split(',').foreach { name =>
      val df   = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      spark.catalog.clearCache()
      System.err.println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
