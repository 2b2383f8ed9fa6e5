package graft.sources

import graft.icelite.IcebergFormat

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.types._

/** Snapshot-log tailing micro-batch stream over REAL Iceberg v2 metadata
  * (st14's IceLite source re-expressed on the spec's metadata/manifest
  * layer): offsets are POSITIONS in the snapshot log (Iceberg snapshot
  * ids are random longs, so ordering comes from the log, never id
  * magnitude); each batch's input is the manifest file-DIFF of its
  * (from, to] window — planning cost O(window's manifests), reading cost
  * O(new files), never O(table). Commits are tracked by Spark's
  * checkpoint; `commit` is a no-op because snapshots are immutable. A
  * window crossing row-level deletes fails loudly (incrementalFiles). */
final class IcebergMicroBatchStream(
    location: String,
    schema: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.Offset

  private def spark = SparkSession.active
  private def meta  = IcebergFormat.currentMetadataPath(spark, location)

  override def initialOffset(): Offset = IceLiteOffset(0L)

  override def latestOffset(): Offset =
    IceLiteOffset(IcebergFormat.snapshotLog(spark, meta).size.toLong)

  override def deserializeOffset(json: String): Offset =
    IceLiteOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val from = start.asInstanceOf[IceLiteOffset].snapshotId.toInt
    val to   = end.asInstanceOf[IceLiteOffset].snapshotId.toInt
    if (to <= from) return Array.empty
    val m   = meta
    val log = IcebergFormat.snapshotLog(spark, m)
    require(to <= log.size, s"offset $to beyond the snapshot log (${log.size})")
    val fromId = if (from == 0) None else Some(log(from - 1))
    IcebergFormat.incrementalFiles(spark, m, fromId, log(to - 1))
      .map(p => IceLitePartition(Array(p), null)
        : org.apache.spark.sql.connector.read.InputPartition)
      .toArray
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    IceLiteReaderFactory(schema, Array.empty, schema, None, Nil, Nil, partitionDeletes = false,
      absoluteFile = true)

  override def commit(end: Offset): Unit = () // snapshots are immutable
  override def stop(): Unit = ()
}

object IcebergWrite {

  /** The files of an Iceberg write of `schema` (nested struct / list / map
    * over the primitive surface plus binary and decimal, checked here on
    * the driver).
    * Every node carries its field id: `topIds` for the columns, and for
    * nested positions the table's TRACKED `nestedIds` when given (an
    * evolved table's nested ids are sparse and must re-emit verbatim),
    * else the ids [[IcebergFormat.deriveNestedIds]] assigns — struct
    * children pre-order, a list's element before its element's nested
    * ids, a map's key then value before either side's — so parquet
    * metadata and table schema agree on column identity. */
  def files(schema: StructType, topIds: Seq[Int], nestedIds: Map[String, Int]): ParquetFiles = {
    require(topIds.length == schema.length, "field id count != column count")
    def check(name: String, dt: DataType): Unit = dt match {
      case st: StructType => st.fields.foreach(f => check(f.name, f.dataType))
      case at: ArrayType  => check("element", at.elementType)
      case mt: MapType    => check("key", mt.keyType); check("value", mt.valueType)
      case StringType | BinaryType | IntegerType | LongType | FloatType | DoubleType |
          BooleanType | DateType | TimestampType | TimestampNTZType | _: DecimalType =>
      case other => throw new UnsupportedOperationException(
        s"iceberg V2 write: unsupported type $other for column $name")
    }
    schema.fields.foreach(f => check(f.name, f.dataType))
    val nested =
      if (nestedIds.nonEmpty) nestedIds else IcebergFormat.deriveNestedIds(schema, topIds)
    ParquetFiles(schema, schema.fieldNames.zip(topIds).toMap ++ nested)
  }

  /** The library write of `df` into spec files under `location`: ONE
    * Spark job whose tasks stream their rows through [[ParquetDataWriter]]
    * straight to their final paths (no staging directory, no rename, no
    * footer re-read). Ungrouped, a task writes its rows to
    * `fileOf(partition, null)`. With `group`, rows must arrive clustered
    * and sorted on it, and a task starts a new file `fileOf(partition, g)`
    * each time the value `g` (cast to string, null for SQL NULL) changes.
    * A task without rows writes no file. A failed task deletes the files
    * it wrote, and a failed job those of its finished tasks. Returns each
    * file's group value (null ungrouped) and manifest entry, in partition
    * order. */
  def writeFiles(spark: SparkSession, df: DataFrame, location: String, ids: Seq[Int],
      nestedIds: Map[String, Int] = Map.empty, content: Int = 0, equalityIds: Seq[Int] = Nil,
      group: Option[Column] = None)(
      fileOf: (Int, String) => String): Seq[(String, IcebergFormat.DataFileInfo)] = {
    val pf   = files(df.schema, ids, nestedIds)
    val rows = group.fold(df)(g => df.withColumn(GroupCol, g.cast(StringType)))
      .queryExecution.toRdd
    val grouped = group.isDefined
    val out = new Array[Seq[(String, WrittenFile)]](rows.getNumPartitions)
    try spark.sparkContext.runJob(rows,
      (ctx: TaskContext, it: Iterator[InternalRow]) =>
        writeTask(pf, location, grouped, fileOf, ctx.partitionId(), it),
      (i: Int, written: Seq[(String, WrittenFile)]) => out(i) = written)
    catch { case t: Throwable =>
      val fs = new Path(location).getFileSystem(spark.sparkContext.hadoopConfiguration)
      out.filter(_ != null).flatten.foreach(f => fs.delete(new Path(location, f._2.relPath), false))
      throw t
    }
    out.toSeq.flatten.map { case (g, w) =>
      g -> dataFileInfo(location, df.schema, ids, w, content = content, equalityIds = equalityIds)
    }
  }

  private val GroupCol = "__graft_group"

  private def writeTask(pf: ParquetFiles, location: String, grouped: Boolean,
      fileOf: (Int, String) => String, partition: Int,
      rows: Iterator[InternalRow]): Seq[(String, WrittenFile)] = {
    val n    = pf.schema.length
    val data = ProjectingInternalRow(pf.schema, 0 until n) // drops the group column
    val done = scala.collection.mutable.ListBuffer.empty[(String, WrittenFile)]
    var cur: ParquetDataWriter = null
    var key: String = null
    try {
      rows.foreach { row =>
        if (grouped) {
          val g = if (row.isNullAt(n)) null else row.getUTF8String(n).toString
          if (cur != null && g != key) { done += key -> cur.commit(); cur = null }
          if (cur == null) { key = g; cur = pf.writer(location, fileOf(partition, g)) }
          data.project(row)
          cur.write(data)
        } else {
          if (cur == null) cur = pf.writer(location, fileOf(partition, null))
          cur.write(row)
        }
      }
      if (cur != null) done += key -> cur.commit()
      done.toSeq
    } catch { case t: Throwable =>
      try if (cur != null) cur.abort()
      finally {
        val fs = new Path(location).getFileSystem(pf.conf.value)
        done.foreach(f => fs.delete(new Path(location, f._2.relPath), false))
      }
      throw t
    }
  }

  /** A written file as the Iceberg manifest records it: bounds and null
    * counts keyed by field id (`ids` in schema order). String bounds land
    * TRUNCATED (Iceberg truncate(16): prefix lower, incremented-prefix
    * upper); a string whose upper cannot increment drops the pair — the
    * format stores lower/upper together, and absent bounds are
    * conservative for every pruner. A position delete (content 1) records
    * only its exact `file_path` [min, max], which ranges the data files it
    * covers for every reader. */
  def dataFileInfo(location: String, schema: StructType, ids: Seq[Int], w: WrittenFile,
      partitionValues: Map[String, Any] = Map.empty, content: Int = 0,
      equalityIds: Seq[Int] = Nil): IcebergFormat.DataFileInfo = {
    val idOf  = schema.fieldNames.zip(ids).toMap
    val stats = if (content == 1) w.bounds.filter(_._1 == "file_path") else w.bounds
    val bounds = stats.flatMap {
      case (c, Some((lo, hi))) =>
        val dt = schema(c).dataType
        val pair =
          if (dt != StringType || content == 1) Some((lo, hi))
          else IcebergFormat.truncateUpperBound(hi)
            .map(h => (IcebergFormat.truncateLowerBound(lo), h))
        for {
          (l, h) <- pair
          lb <- IcebergFormat.encodeBound(dt, l)
          hb <- IcebergFormat.encodeBound(dt, h)
        } yield idOf(c) -> (lb, hb)
      case _ => None
    }
    IcebergFormat.DataFileInfo(new Path(location, w.relPath).toString, w.rows, w.sizeBytes,
      bounds = bounds, content = content, equalityIds = equalityIds,
      splitOffsets = w.splitOffsets,
      nullCounts =
        if (content == 1) Map.empty else w.nullCounts.map { case (c, n) => idOf(c) -> n },
      partitionValues = partitionValues)
  }
}
