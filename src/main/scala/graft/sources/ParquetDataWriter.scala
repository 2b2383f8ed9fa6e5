package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetOutputFormat}
import org.apache.parquet.schema.{GroupType, MessageType, Type}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** One parquet file a connector task wrote, as the writer saw it. Each
  * format's driver commit converts it: IceLite into a manifest entry
  * ([[IceLiteWrite.entries]]), Iceberg into a data file
  * ([[IcebergWrite.dataFileInfo]]).
  *
  * `bounds` holds, per rangeable top-level column, its `CAST(c AS STRING)`
  * min and max, untruncated, or None when the column held no non-null
  * value. A float/double column that held a NaN has no entry: no finite
  * range bounds it. `nullCounts` covers every top-level column. */
final case class WrittenFile(
    relPath: String,
    rows: Long,
    sizeBytes: Long,
    splitOffsets: Seq[Long],
    bounds: Map[String, Option[(String, String)]],
    nullCounts: Map[String, Long])
    extends WriterCommitMessage

/** Everything an executor needs to write the files of one connector write,
  * built once on the driver: Spark's parquet `OutputWriterFactory` and the
  * job conf `prepareWrite` filled (codec from
  * `spark.sql.parquet.compression.codec`, standard lists and maps, row
  * group size from `parquet.block.size`). Rows are encoded by Spark's
  * `ParquetWriteSupport`; [[FieldIdWriteSupport]] stamps `fieldIds`
  * (path -> id) on the file schema. */
final class ParquetFiles private (
    factory: OutputWriterFactory,
    private[sources] val conf: SerializableHadoopConf,
    val schema: StructType)
    extends Serializable {

  def writer(location: String, relPath: String): ParquetDataWriter =
    new ParquetDataWriter(factory, conf.value, schema, location, relPath)
}

object ParquetFiles {

  /** Driver side, once per write. `schema` must already be a schema the
    * calling format accepts; every column is written OPTIONAL. */
  def apply(schema: StructType, fieldIds: Map[String, Int]): ParquetFiles = {
    val spark = SparkSession.active
    val job   = Job.getInstance(spark.sessionState.newHadoopConf())
    val write = nullable(schema).asInstanceOf[StructType]
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, write)
    val conf = job.getConfiguration
    // INT64 micros timestamps (Spark's default is INT96) and the standard
    // 3-level list / key_value map layout, whatever the session says
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.setBoolean(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, false)
    ParquetOutputFormat.setWriteSupportClass(job, classOf[FieldIdWriteSupport])
    FieldIdWriteSupport.set(conf, fieldIds)
    new ParquetFiles(factory, new SerializableHadoopConf(conf), write)
  }

  /** `dir/part-<partition>-<task>.parquet`, the connector's file name. */
  def partFile(dir: String, partitionId: Int, taskId: Long): String =
    f"$dir/part-$partitionId%05d-$taskId.parquet"

  private def nullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f => StructField(f.name, nullable(f.dataType))))
    case at: ArrayType  => ArrayType(nullable(at.elementType), containsNull = true)
    case mt: MapType    => MapType(nullable(mt.keyType), nullable(mt.valueType), valueContainsNull = true)
    case other          => other
  }
}

/** One file per task under `dir`. */
final class ParquetDataWriterFactory(files: ParquetFiles, location: String, dir: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    files.writer(location, ParquetFiles.partFile(dir, partitionId, taskId))
}

/** The executor-side writer of every connector data file and
  * position-delete file: rows go to Spark's parquet writer, and one pass
  * over the same rows keeps the null counts and the min/max of each
  * rangeable column, compared in Spark's order (strings by UTF-8 bytes).
  * The file is opened by the first row (or [[open]]), so a writer that
  * gets no rows leaves no file: its `commit` returns a 0-row
  * [[WrittenFile]] with nothing behind it, which every driver commit
  * drops. `commit` closes the file and reads its footer back for the file
  * size and the row-group starts (split offsets); `abort` deletes the
  * file. */
final class ParquetDataWriter private[sources] (
    factory: OutputWriterFactory,
    conf: Configuration,
    schema: StructType,
    location: String,
    relPath: String)
    extends DataWriter[InternalRow] {

  private val path = new Path(location, relPath)
  private var out: OutputWriter = _

  /** Opens the file now: a writer that then gets no rows commits a real
    * 0-row file. */
  def open(): Unit = if (out == null)
    out = factory.newInstance(path.toString, schema,
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))

  private var rows = 0L
  private val nulls = new Array[Long](schema.length)
  private val statCols: Array[Int] =
    schema.fields.indices.filter(i => graft.icelite.BoundOrder.rangeable(schema(i).dataType)).toArray
  // running bounds: Long for int/long, Double for float/double, a copied
  // UTF8String for strings; null until the first non-null value
  private val mins = new Array[Any](statCols.length)
  private val maxs = new Array[Any](statCols.length)
  private val nan  = new Array[Boolean](statCols.length)

  override def write(row: InternalRow): Unit = {
    open()
    out.write(row)
    rows += 1L
    var i = 0
    while (i < nulls.length) {
      if (row.isNullAt(i)) nulls(i) += 1L
      i += 1
    }
    var s = 0
    while (s < statCols.length) {
      val c = statCols(s)
      if (!row.isNullAt(c)) schema(c).dataType match {
        case StringType =>
          val v = row.getUTF8String(c)
          if (mins(s) == null || v.binaryCompare(mins(s).asInstanceOf[UTF8String]) < 0)
            mins(s) = v.clone()
          if (maxs(s) == null || v.binaryCompare(maxs(s).asInstanceOf[UTF8String]) > 0)
            maxs(s) = v.clone()
        case IntegerType | LongType =>
          val v = if (schema(c).dataType == IntegerType) row.getInt(c).toLong else row.getLong(c)
          if (mins(s) == null || v < mins(s).asInstanceOf[Long]) mins(s) = v
          if (maxs(s) == null || v > maxs(s).asInstanceOf[Long]) maxs(s) = v
        case _ =>
          val v = if (schema(c).dataType == FloatType) row.getFloat(c).toDouble else row.getDouble(c)
          if (v.isNaN) nan(s) = true
          else {
            if (mins(s) == null || v < mins(s).asInstanceOf[Double]) mins(s) = v
            if (maxs(s) == null || v > maxs(s).asInstanceOf[Double]) maxs(s) = v
          }
      }
      s += 1
    }
  }

  /** A bound as `CAST(c AS STRING)` prints it (floats via Float.toString). */
  private def statStr(dt: DataType, v: Any): String = (dt, v) match {
    case (FloatType, x: Double) => x.toFloat.toString
    case (_, x)                 => x.toString
  }

  override def commit(): WrittenFile = {
    val bounds = statCols.indices.collect {
      case s if !nan(s) =>
        val c  = statCols(s)
        val dt = schema(c).dataType
        schema(c).name -> Option(mins(s)).map(lo => (statStr(dt, lo), statStr(dt, maxs(s))))
    }.toMap
    val (size, offsets) = if (out == null) (0L, Nil) else {
      out.close()
      val in = HadoopInputFile.fromPath(path, conf)
      val fr = ParquetFileReader.open(in)
      try (in.getLength, fr.getFooter.getBlocks.asScala.map(_.getStartingPos).toSeq)
      finally fr.close()
    }
    WrittenFile(relPath, rows, size, offsets, bounds,
      schema.fieldNames.zip(nulls).toMap)
  }

  override def abort(): Unit = if (out != null)
    try out.close()
    finally path.getFileSystem(conf).delete(path, false)

  override def close(): Unit = ()
}

/** Spark's `ParquetWriteSupport` with the write's field ids applied to the
  * file schema by path: top-level `c`, struct child `c.f`, list element
  * `c.element`, map key and value `c.key` / `c.value`. Spark's own schema
  * converter stamps ids on struct fields only, never on a list's element
  * or a map's key and value, which Iceberg readers resolve by id too. */
final class FieldIdWriteSupport extends ParquetWriteSupport {
  override def init(conf: Configuration): WriteSupport.WriteContext = {
    val ctx = super.init(conf)
    new WriteSupport.WriteContext(
      new MessageType(ctx.getSchema.getName,
        stamped(ctx.getSchema, "", FieldIdWriteSupport.get(conf))),
      ctx.getExtraMetaData)
  }

  /** `g`'s fields with their ids; `prefix` is g's path and a dot. A list's
    * or map's repeated group has no path segment of its own. */
  private def stamped(g: GroupType, prefix: String, ids: Map[String, Int]): java.util.List[Type] =
    g.getFields.asScala.map { f =>
      if (f.isRepetition(Type.Repetition.REPEATED))
        f.asGroupType.withNewFields(stamped(f.asGroupType, prefix, ids)): Type
      else {
        val path = prefix + f.getName
        val t    = ids.get(path).fold(f)(f.withId)
        if (t.isPrimitive) t else t.asGroupType.withNewFields(stamped(t.asGroupType, path + ".", ids))
      }
    }.asJava
}

object FieldIdWriteSupport {
  // the write's path -> id map (JSON), carried from the driver in the job conf
  private val Ids = "graft.parquet.write.field-ids"
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  private[sources] def set(conf: Configuration, ids: Map[String, Int]): Unit =
    conf.set(Ids, org.json4s.jackson.Serialization.write(ids))

  private def get(conf: Configuration): Map[String, Int] =
    org.json4s.jackson.JsonMethods.parse(conf.get(Ids)).extract[Map[String, Int]]
}
