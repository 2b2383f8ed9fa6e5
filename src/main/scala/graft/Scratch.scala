package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Where registry queries keep the tables, indexes and checkpoints they
  * build: `target/scratch` under the working directory, so each checkout
  * of the repo writes into its own. */
object Scratch {

  val root: String = java.nio.file.Paths.get("target", "scratch").toAbsolutePath.toString

  /** `root/name`, emptied: deleted if it exists, then created. */
  def freshDir(s: SparkSession, name: String): String = {
    val p  = new Path(root, name)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    p.toString
  }
}
