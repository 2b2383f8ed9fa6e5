package graft

import org.apache.spark.sql.SparkSession

/** The local session the measurement mains (Bench, Verify, PlanDump,
  * ProfileQ) run on: `SPARK_GRAFT_CPUS` cores (else `defaultCpus`) with
  * one shuffle partition per core, UTC, nanosecond timestamps read as
  * longs (events.parquet), graft's SQL extensions, no UI, WARN logging. */
object MainSession {
  def local(defaultCpus: Int): SparkSession = {
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
