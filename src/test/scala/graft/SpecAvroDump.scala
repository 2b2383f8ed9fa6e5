package graft

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.jdk.CollectionConverters._

/** Every Avro file under a spec table's `metadata/` directory — each
  * manifest and manifest list — as one JSON document: per file, its user
  * header keys, its writer schema and its records, with the table
  * location rewritten to `GoldenSpecOps.FixtureLocation`. The random sync
  * marker is left out. A list entry's `manifest_length` depends on how
  * long the table location is (the manifest spells out data-file paths),
  * so it is checked against the manifest's real length and dumped as
  * that check's outcome. Bytes dump as lowercase hex.
  *
  * Regenerate the checked-in fixture with
  * `sbt "Test/runMain graft.SpecAvroDump src/test/resources/spec_metadata/v00009.avro.json"`. */
object SpecAvroDump {

  def apply(fs: FileSystem, loc: String): String = {
    val dir = new Path(loc, "metadata")
    val files = fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.endsWith(".avro") && !p.getName.startsWith("."))
      .sortBy(_.getName)
    JsonMethods.pretty(JObject(files.map(p => p.getName -> file(fs, p, loc)).toList)) + "\n"
  }

  /** The records of the Avro file at `p`, read with Avro's own generic
    * reader — independent of the codec under test. */
  def records(fs: FileSystem, p: Path): Seq[GenericRecord] = {
    val rdr = reader(fs, p)
    try rdr.iterator.asScala.toList finally rdr.close()
  }

  private def reader(fs: FileSystem, p: Path) =
    new DataFileReader(new FsInput(p, fs.getConf), new GenericDatumReader[GenericRecord]())

  private def file(fs: FileSystem, p: Path, loc: String): JValue = {
    val rdr = reader(fs, p)
    try {
      val meta = rdr.getMetaKeys.asScala.toSeq.filterNot(_.startsWith("avro.")).sorted
        .map(k => k -> JString(rdr.getMetaString(k).replace(loc, GoldenSpecOps.FixtureLocation)))
      JObject(
        "meta"    -> JObject(meta.toList),
        "schema"  -> JsonMethods.parse(rdr.getSchema.toString),
        "records" -> JArray(rdr.iterator.asScala.map(value(fs, loc, _)).toList))
    } finally rdr.close()
  }

  private def value(fs: FileSystem, loc: String, v: Any): JValue = v match {
    case null => JNull
    case r: GenericRecord =>
      JObject(r.getSchema.getFields.asScala.toList.map { f =>
        f.name -> (f.name match {
          case "manifest_length" =>
            val real = fs.getFileStatus(new Path(r.get("manifest_path").toString)).getLen
            JString(if (r.get(f.name) == real) "matches the manifest" else s"${r.get(f.name)} != $real")
          case n => value(fs, loc, r.get(n))
        })
      })
    case s: CharSequence => JString(s.toString.replace(loc, GoldenSpecOps.FixtureLocation))
    case b: java.nio.ByteBuffer =>
      val d = b.duplicate(); JString(Iterator.continually(d).takeWhile(_.hasRemaining)
        .map(x => f"${x.get() & 0xff}%02x").mkString)
    case l: java.util.Collection[_] => JArray(l.asScala.toList.map(value(fs, loc, _)))
    case i: java.lang.Integer => JInt(BigInt(i.intValue))
    case n: java.lang.Long    => JInt(BigInt(n.longValue))
    case d: java.lang.Double  => JDouble(d)
    case f: java.lang.Float   => JDouble(f.toDouble)
    case b: java.lang.Boolean => JBool(b)
    case other => JString(other.toString)
  }

  /** Replay `GoldenSpecOps` in a fresh directory and write its dump to `args(0)`. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSpec.session
    val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target", "scratch"))
    val loc = java.nio.file.Files.createTempDirectory(dir, "spec_golden").toAbsolutePath + "/t"
    GoldenSpecOps.run(spark, loc)
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), apply(fs, loc))
    spark.stop()
  }
}
