package graft.sources

import graft.icelite.IcebergFormat

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.Type.Repetition
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type => PType, Types}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** NESTED-TYPE write path into a REAL Iceberg v2 table through the V2
  * connector: `df.write.format("icelite").option("iceberg", "true")
  * .option("location", dir).mode("overwrite").save()` — executors write
  * nested parquet (struct / list / map over the primitive surface)
  * row-at-a-time via the parquet-mr Group API, with every parquet field
  * carrying the SAME field id the committed Iceberg schema JSON assigns
  * (the spec's name-independent column identity — id-based projection is
  * what makes rename/evolution safe), and the driver commit is pure
  * metadata through [[IcebergFormat.Writer]] (Avro manifests, snapshot
  * log, version-hint). Top-level primitive columns collect inline min/max
  * stats so the committed manifests file-skip exactly like the flat path.
  *
  * Round-trips against the v2 READER (`Engine.scanIcebergMetadata`, ic51)
  * and DuckDB's nested-parquet reader (the ic61 oracle). Scope: table
  * CREATE (empty or absent location) or full REPLACE (`overwrite`);
  * appending to a pre-existing Iceberg table needs the library
  * [[IcebergFormat.Writer]] session, which owns the snapshot lineage. */
final class IcebergV2Table(location: String, providedSchema: StructType) extends Table
    with SupportsWrite with org.apache.spark.sql.connector.catalog.SupportsRead {

  override def name(): String = s"iceberg.$location"
  override def schema(): StructType = providedSchema
  override def partitioning(): Array[Transform] = Array.empty
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ)

  /** `spark.readStream.format("icelite").option("iceberg", "true")`: tail
    * the Iceberg v2 snapshot log as a Structured Streaming source (st17).
    * BATCH reads stay on `Engine.scanIcebergMetadata` (ic21/ic51) — it
    * applies MoR deletes, nested projection and time travel that this
    * streaming surface deliberately rejects. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType = providedSchema
          override def toBatch: org.apache.spark.sql.connector.read.Batch =
            throw new UnsupportedOperationException(
              "iceberg batch reads go through Engine.scanIcebergMetadata; " +
                "this V2 surface serves readStream")
          override def toMicroBatchStream(checkpointLocation: String)
              : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
            providedSchema.fields.foreach(f => require(
              IceLiteWriteSchema.rangeable(f.dataType) || f.dataType == BooleanType ||
                f.dataType == DateType || f.dataType == TimestampType ||
                f.dataType == TimestampNTZType,
              s"iceberg streaming read supports flat primitive schemas; got ${f.dataType} for ${f.name}"))
            new IcebergMicroBatchStream(location, providedSchema)
          }
        }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write =
        new IcebergV2Write(location, info.schema(), replace)
    }
}

final class IcebergV2Write(location: String, schema: StructType, replace: Boolean)
    extends Write {

  override def toBatch: BatchWrite = new BatchWrite {
    private val conf =
      new SerializableHadoopConf(SparkSession.active.sparkContext.hadoopConfiguration)
    private val dataRel = s"data/snap-w-${java.util.UUID.randomUUID().toString.take(8)}"

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new IcebergWriterFactory(conf, location, dataRel, schema)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val s    = SparkSession.active
      val loc  = new Path(location)
      val fs   = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      val metaDir = new Path(location, "metadata")
      val hint = new Path(metaDir, "version-hint.text")
      val existed = fs.exists(hint)
      if (existed) require(replace,
        s"$location already holds an Iceberg table; the V2 writer supports " +
          "mode(\"overwrite\") (full replace) — use IcebergFormat.Writer to append")
      // replace is commit-THEN-delete: the new metadata is written under
      // names the old snapshot can't collide with (version numbered past
      // the old hint, tag-suffixed manifests), the hint flip publishes it,
      // and only then is the superseded state reclaimed — a failure at any
      // point leaves a readable table (old before the flip, new after),
      // never a destroyed one.
      val (oldVersion, oldMetaFiles, oldDataDirs) = if (existed) {
        val v = {
          val in = fs.open(hint)
          try scala.io.Source.fromInputStream(in).mkString.trim.toInt finally in.close()
        }
        val metas = fs.listStatus(metaDir).map(_.getPath)
          .filterNot(_.getName == "version-hint.text").toSeq
        val dataDir = new Path(location, "data")
        val datas = if (fs.exists(dataDir))
          fs.listStatus(dataDir).map(_.getPath)
            .filterNot(p => s"data/${p.getName}" == dataRel).toSeq
        else Nil
        (v, metas, datas)
      } else (0, Nil, Nil)
      val infos = messages.toSeq.collect {
        case m: IcebergWriteMessage if m.rows > 0 =>
          IcebergFormat.DataFileInfo(m.absPath, m.rows, m.sizeBytes, bounds = m.bounds,
            splitOffsets = m.splitOffsets, nullCounts = m.nullCounts)
      }
      val w = new IcebergFormat.Writer(s, location, schema,
        startVersion = oldVersion, fileTag = dataRel.stripPrefix("data/snap-w-"))
      w.commit(infos)
      // new hint is live — reclaim the old snapshot's files
      oldMetaFiles.foreach(p => fs.delete(p, true))
      oldDataDirs.foreach(p => fs.delete(p, true))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fs = new Path(location).getFileSystem(conf.value)
      fs.delete(new Path(location, dataRel), true)
    }
  }
}

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
    IceLiteReaderFactory(schema, Array.empty, schema, None, Nil, Nil, partitionDeletes = false)

  override def commit(end: Offset): Unit = () // snapshots are immutable
  override def stop(): Unit = ()
}

final case class IcebergWriteMessage(
    absPath: String,
    rows: Long,
    sizeBytes: Long,
    bounds: Map[Int, (Array[Byte], Array[Byte])],
    splitOffsets: Seq[Long] = Nil, // row-group starts, read executor-side at close
    nullCounts: Map[Int, Long] = Map.empty, // keyed by POSITION+1, remapped at commit
    // REAL partition tuple (identity values by spec field name), stamped by
    // the rolling delta writer so DML insert files commit under the
    // partitioned spec and external engines prune them
    partitionValues: Map[String, Any] = Map.empty)
    extends WriterCommitMessage

final class IcebergWriterFactory(
    conf: SerializableHadoopConf,
    location: String,
    dataRel: String,
    schema: StructType)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new IcebergNestedDataWriter(conf, location, dataRel, schema, partitionId, taskId)
}

/** Row-at-a-time nested parquet writer (parquet-mr Group API) with inline
  * top-level primitive stats. The physical layout matches what Spark's
  * own writer emits (3-level LIST, key_value MAP), so Spark's vectorized
  * reader, our v2 reader and DuckDB all read these files identically. */
final class IcebergNestedDataWriter(
    conf: SerializableHadoopConf,
    location: String,
    dataRel: String,
    schema: StructType,
    partitionId: Int,
    taskId: Long,
    fieldIds: Seq[Int] = Nil, // real top-level ids (sparse tables); Nil = 1..n
    nameSuffix: String = "", // rolling partitioned writes: one file per value
    nestedIds: Map[String, Int] = Map.empty) // tracked nested ids (evolved tables)
    extends DataWriter[InternalRow] {

  private val relPath = f"$dataRel/part-$partitionId%05d-$taskId$nameSuffix.parquet"
  private val path    = new Path(location, relPath)
  private val msgType = IcebergWriteSchema.messageTypeFor(schema, fieldIds, nestedIds)
  private val factory = new SimpleGroupFactory(msgType)
  private val writer  = ExampleParquetWriter
    .builder(HadoopOutputFile.fromPath(path, conf.value))
    .withType(msgType)
    .withConf(conf.value)
    // honor the standard row-group size knob (the builder ignores the
    // hadoop conf, unlike ParquetOutputFormat) — row-group granularity is
    // what ranged splits parallelize over
    .withRowGroupSize(conf.value.getLong("parquet.block.size", 128L * 1024 * 1024))
    .build()

  private var rows = 0L
  // inline min/max for top-level rangeable primitives, keyed by POSITION;
  // converted to field-id-keyed Iceberg bounds at commit (top-level field
  // ids are 1..n by construction — IcebergFormat.icebergSchemaJson)
  private val statCols: Array[(Int, DataType)] = schema.fields.zipWithIndex.collect {
    case (f, i) if IceLiteWriteSchema.rangeable(f.dataType) => (i, f.dataType)
  }
  private val mins = new Array[Any](statCols.length)
  private val maxs = new Array[Any](statCols.length)

  private val nullCounters = new Array[Long](schema.fields.length)

  override def write(row: InternalRow): Unit = {
    val g = factory.newGroup()
    var i = 0
    while (i < schema.fields.length) {
      if (!row.isNullAt(i)) {
        val f = schema.fields(i)
        IcebergWriteSchema.appendValue(g, f.name, f.dataType, row.get(i, f.dataType))
      } else nullCounters(i) += 1L
      i += 1
    }
    var s = 0
    while (s < statCols.length) {
      val (idx, dt) = statCols(s)
      if (!row.isNullAt(idx)) {
        val v: Any = dt match {
          case StringType  => row.getUTF8String(idx).toString
          case IntegerType => row.getInt(idx).toLong
          case LongType    => row.getLong(idx)
          case FloatType   => row.getFloat(idx).toDouble
          case DoubleType  => row.getDouble(idx)
          case _           => null
        }
        if (v != null) {
          if (mins(s) == null || lt(v, mins(s))) mins(s) = v
          if (maxs(s) == null || lt(maxs(s), v)) maxs(s) = v
        }
      }
      s += 1
    }
    writer.write(g)
    rows += 1L
  }

  private def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long)     => x < y
    case (x: Double, y: Double) => x < y
    case (x: String, y: String) => x.compareTo(y) < 0
    case _                      => false
  }

  private def statStr(dt: DataType, v: Any): String = (dt, v) match {
    case (IntegerType, x: Long) => x.toInt.toString
    case (FloatType, x: Double) => x.toFloat.toString
    case (_, x)                 => x.toString
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    val bounds = statCols.indices.flatMap { s =>
      val (idx, dt) = statCols(s)
      if (mins(s) == null) None
      else {
        // string bounds land TRUNCATED (Iceberg truncate(16) semantics):
        // prefix lower bound, incremented-prefix upper. A string whose
        // upper can't increment drops the whole pair — the format stores
        // lower/upper together and an unpaired bound would be
        // spec-ambiguous; absent bounds are conservative for every pruner.
        val loS = statStr(dt, mins(s))
        val hiS = statStr(dt, maxs(s))
        val pair = dt match {
          case StringType =>
            IcebergFormat.truncateUpperBound(hiS)
              .map(hi => (IcebergFormat.truncateLowerBound(loS), hi))
          case _ => Some((loS, hiS))
        }
        for {
          (loT, hiT) <- pair
          lo <- IcebergFormat.encodeBound(dt, loT)
          hi <- IcebergFormat.encodeBound(dt, hiT)
        } yield (idx + 1) -> (lo, hi) // field id = position + 1 at top level
      }
    }.toMap
    // split_offsets from the just-written footer (executor-side, file
    // still hot) — manifests carry them so planners range-split with no IO
    val offsets = if (rows == 0) Nil else {
      import scala.jdk.CollectionConverters._
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf.value))
      try fr.getFooter.getBlocks.asScala.map(_.getStartingPos).toSeq
      finally fr.close()
    }
    val fs = path.getFileSystem(conf.value)
    IcebergWriteMessage(path.toString, rows,
      if (rows > 0) fs.getFileStatus(path).getLen else 0L, bounds, offsets,
      nullCounters.indices.map(i => (i + 1) -> nullCounters(i)).toMap)
  }

  override def abort(): Unit = {
    writer.close()
    val fs = path.getFileSystem(conf.value)
    fs.delete(path, false)
  }

  override def close(): Unit = ()
}

object IcebergWriteSchema {

  /** Nested-capable parquet MessageType whose every field carries the
    * Iceberg field id — assigned by the SAME traversal
    * [[IcebergFormat.icebergSchemaJson]] uses (top-level fields 1..n by
    * default, or the caller's REAL ids for sparse externally-evolved
    * tables; nested ids continuing after the max in declaration order;
    * struct children pre-order; list element-id before its element's
    * nested ids; map key-id then value-id before either side's nested
    * ids), so parquet metadata and table schema agree on column
    * identity. */
  def messageTypeFor(schema: StructType, topIds: Seq[Int] = Nil,
      nestedIds: Map[String, Int] = Map.empty): MessageType = {
    val ids = if (topIds.nonEmpty) topIds else 1 to schema.fields.length
    require(ids.length == schema.fields.length, "field id count != column count")
    // nested ids come from the table's TRACKED map when given (an evolved
    // table's nested ids are sparse and must re-emit verbatim); the
    // positional derivation below is byte-identical for fresh tables
    val nested =
      if (nestedIds.nonEmpty) nestedIds
      else graft.icelite.IcebergFormat.deriveNestedIds(schema, ids)
    val idOf = (p: String) => nested.getOrElse(p,
      throw new IllegalStateException(s"no tracked field id for nested path $p"))
    val b = Types.buildMessage()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      b.addField(typeFor(f.name, f.dataType, ids(i), Repetition.OPTIONAL, s"${f.name}.", idOf))
    }
    b.named("spark_schema")
  }

  private def typeFor(
      name: String,
      dt: DataType,
      id: Int,
      rep: Repetition,
      prefix: String,
      idOf: String => Int): PType = dt match {
    case st: StructType =>
      // mirror typeJson: each child resolves its id by path
      val children = st.fields.map { f =>
        typeFor(f.name, f.dataType, idOf(prefix + f.name), Repetition.OPTIONAL,
          s"$prefix${f.name}.", idOf)
      }
      children.foldLeft(Types.buildGroup(rep))(_.addField(_))
        .id(id).named(name)
    case at: ArrayType =>
      val elem = typeFor("element", at.elementType, idOf(prefix + "element"),
        Repetition.OPTIONAL, prefix + "element.", idOf)
      Types.buildGroup(rep).as(LogicalTypeAnnotation.listType())
        .addField(Types.repeatedGroup().addField(elem).named("list"))
        .id(id).named(name)
    case mt: MapType =>
      val k = typeFor("key", mt.keyType, idOf(prefix + "key"),
        Repetition.REQUIRED, prefix + "key.", idOf)
      val v = typeFor("value", mt.valueType, idOf(prefix + "value"),
        Repetition.OPTIONAL, prefix + "value.", idOf)
      Types.buildGroup(rep).as(LogicalTypeAnnotation.mapType())
        .addField(Types.repeatedGroup().addField(k).addField(v).named("key_value"))
        .id(id).named(name)
    case p => primitiveFor(name, p, id, rep)
  }

  private def primitiveFor(name: String, dt: DataType, id: Int, rep: Repetition): PType = {
    val b = dt match {
      case StringType =>
        Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType())
      case BinaryType       => Types.primitive(BINARY, rep)
      case IntegerType      => Types.primitive(INT32, rep)
      case LongType         => Types.primitive(INT64, rep)
      case FloatType        => Types.primitive(FLOAT, rep)
      case DoubleType       => Types.primitive(DOUBLE, rep)
      case BooleanType      => Types.primitive(BOOLEAN, rep)
      case DateType         => Types.primitive(INT32, rep).as(LogicalTypeAnnotation.dateType())
      case TimestampType    => Types.primitive(INT64, rep).as(
        LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
      case TimestampNTZType => Types.primitive(INT64, rep).as(
        LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS))
      case other => throw new UnsupportedOperationException(
        s"iceberg V2 write: unsupported type $other for column $name")
    }
    b.id(id).named(name)
  }

  /** Append one non-null Catalyst value into `g` under `name`, recursing
    * through struct/list/map. Null HANDLING is by omission, parquet-mr
    * style: a null field is simply never appended (optional repetition). */
  def appendValue(g: Group, name: String, dt: DataType, v: Any): Unit = dt match {
    case st: StructType =>
      val row = v.asInstanceOf[InternalRow]
      val sub = g.addGroup(name)
      var i = 0
      while (i < st.fields.length) {
        if (!row.isNullAt(i)) {
          val f = st.fields(i)
          appendValue(sub, f.name, f.dataType, row.get(i, f.dataType))
        }
        i += 1
      }
    case at: ArrayType =>
      val arr = v.asInstanceOf[ArrayData]
      val lg  = g.addGroup(name)
      var i = 0
      while (i < arr.numElements()) {
        val item = lg.addGroup("list") // one repeated "list" group per element
        if (!arr.isNullAt(i))
          appendValue(item, "element", at.elementType, arr.get(i, at.elementType))
        i += 1
      }
    case mt: MapType =>
      val map  = v.asInstanceOf[MapData]
      val keys = map.keyArray()
      val vals = map.valueArray()
      val mg   = g.addGroup(name)
      var i = 0
      while (i < map.numElements()) {
        val kv = mg.addGroup("key_value")
        appendValue(kv, "key", mt.keyType, keys.get(i, mt.keyType))
        if (!vals.isNullAt(i))
          appendValue(kv, "value", mt.valueType, vals.get(i, mt.valueType))
        i += 1
      }
    case StringType  => g.append(name, Binary.fromString(v.asInstanceOf[UTF8String].toString))
    case BinaryType  => g.append(name, Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]]))
    case IntegerType | DateType => g.append(name, v.asInstanceOf[Int])
    case LongType | TimestampType | TimestampNTZType => g.append(name, v.asInstanceOf[Long])
    case FloatType   => g.append(name, v.asInstanceOf[Float])
    case DoubleType  => g.append(name, v.asInstanceOf[Double])
    case BooleanType => g.append(name, v.asInstanceOf[Boolean])
    case other => throw new UnsupportedOperationException(
      s"iceberg V2 write: unsupported type $other for column $name")
  }
}
