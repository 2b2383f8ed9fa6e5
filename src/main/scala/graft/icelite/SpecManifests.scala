package graft.icelite

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import IcebergFormat.DataFileInfo

/** The Avro half of an Iceberg-spec table's metadata as values: a
  * manifest list is a sequence of [[ManifestFile]]s and a manifest a
  * sequence of [[ManifestEntry]]s. Both files are the contract with other
  * engines (an `iceberg_scan` walks metadata → manifest list → manifests),
  * so they have one codec: [[readList]]/[[writeList]] and
  * [[readManifest]]/[[writeManifest]] are the only readers and writers of
  * their records, with the spec's field ids in the writer schemas.
  *
  * Reading is tolerant where other writers differ: fields this model
  * holds may be absent (older formats and pre-v3 manifests) and read as
  * their spec defaults, and bounds and null counts read in either map
  * encoding. Writing is what [[IcebergFormat.Writer]] publishes: a list
  * entry's counts describe its manifest's entries, so a carried entry is
  * written again unchanged. */
private[graft] object SpecManifests {

  /** One partition field's summary in a manifest-list entry (spec field
    * 507 `partitions`, ordered like the manifest's spec fields): whether
    * any file in the manifest has a null partition value, and the
    * single-value-serialized [lower, upper] of the non-null values. The
    * evidence that lets a planner skip a whole manifest — thousands of
    * file entries — without reading it. */
  final case class FieldSummary(
      containsNull: Boolean, lower: Option[Array[Byte]], upper: Option[Array[Byte]])

  /** A manifest as a manifest list records it — everything known BEFORE
    * the manifest is read, so manifest-pruning predicates decide from this
    * alone. The counts are those of the manifest's own entries by status. */
  final case class ManifestFile(
      path: String, length: Long, specId: Int,
      content: Int, // 0 data, 1 deletes
      sequenceNumber: Long, minSequenceNumber: Long, addedSnapshotId: Long,
      addedFilesCount: Int, existingFilesCount: Int, deletedFilesCount: Int,
      addedRowsCount: Long, existingRowsCount: Long, deletedRowsCount: Long,
      summaries: Option[Seq[FieldSummary]])

  /** Columns of the `manifests` metadata table: list-entry fields (path,
    * length, spec id, content, sequence number, adding snapshot, added and
    * existing file counts) under their spec names. */
  val TableColumns: Seq[String] = Seq("path", "length", "partition_spec_id", "content",
    "sequence_number", "added_snapshot_id", "added_files_count", "existing_files_count")

  object ManifestFile {
    /** A manifest a v1 snapshot lists inline, without a manifest list. */
    def inline(path: String, specId: Int): ManifestFile =
      ManifestFile(path, 0L, specId, 0, 0L, 0L, 0L, 0, 0, 0, 0L, 0L, 0L, None)

    /** The list entry of a manifest just written with `entries` under
      * spec `specId` (its fields typed as in [[writeManifest]]): its counts
      * are those entries' by status and its summaries fold their partition
      * values, set here once and carried unchanged by every later list. */
    def of(path: String, length: Long, specId: Int,
        partition: Seq[(SpecMetadata.SpecField, DataType)], content: Int, sequenceNumber: Long,
        minSequenceNumber: Long, addedSnapshotId: Long, entries: Seq[ManifestEntry]): ManifestFile = {
      import ManifestEntry._
      def files(status: Int) = entries.count(_.status == status)
      def rows(status: Int)  = entries.filter(_.status == status).map(_.file.recordCount).sum
      ManifestFile(path, length, specId, content, sequenceNumber, minSequenceNumber,
        addedSnapshotId, files(Added), files(Existing), files(Deleted),
        rows(Added), rows(Existing), rows(Deleted),
        summarize(partition, entries.map(_.file.partitionValues)))
    }
  }

  /** One manifest entry: its status, the snapshot that added the file,
    * the data and file sequence numbers (None on an ADDED entry = inherit
    * the manifest's) and the file, whose partition values are keyed by
    * spec field name. */
  final case class ManifestEntry(status: Int, snapshotId: Option[Long],
      sequenceNumber: Option[Long], fileSequenceNumber: Option[Long], file: DataFileInfo)

  object ManifestEntry {
    val Existing = 0
    val Added    = 1
    val Deleted  = 2
  }

  // ------------------------------------------------------------ reading

  /** The entries of the manifest list at `p`. */
  def readList(fs: FileSystem, p: Path): Seq[ManifestFile] = readAvro(fs, p)(decodeFile)

  /** The entries of the manifest at `p`. A live entry whose file is
    * neither PARQUET nor PUFFIN (a v3 deletion vector) is refused. */
  def readManifest(fs: FileSystem, p: Path): Seq[ManifestEntry] = readAvro(fs, p)(decodeEntry)

  private def readAvro[T](fs: FileSystem, p: Path)(decode: GenericRecord => T): Seq[T] = {
    val rdr = DataFileReader.openReader(new FsInput(p, fs.getConf),
      new GenericDatumReader[GenericRecord]())
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[T]
      while (rdr.hasNext) buf += decode(rdr.next())
      buf.toIndexedSeq
    } finally rdr.close()
  }

  /** Field `n` of `r`, None when the record's schema lacks it or it is null. */
  private def opt(r: GenericRecord, n: String): Option[AnyRef] =
    if (r.getSchema.getField(n) == null) None else Option(r.get(n))

  private def long(r: GenericRecord, n: String): Option[Long] =
    opt(r, n).map(_.asInstanceOf[java.lang.Long].longValue)

  private def int(r: GenericRecord, n: String): Option[Int] =
    opt(r, n).map(_.asInstanceOf[java.lang.Integer].intValue)

  private def list(r: GenericRecord, n: String): Seq[Any] = opt(r, n) match {
    case Some(l: java.util.List[_]) => l.asScala.toSeq
    case _                          => Nil
  }

  private def bytes(v: Any): Array[Byte] = v match {
    case bb: java.nio.ByteBuffer =>
      val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
    case a: Array[Byte] => a
    case other          => other.toString.getBytes("UTF-8")
  }

  private def plain(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case other                        => other
  }

  /** A field-id-keyed map in either spec encoding: the array of key/value
    * records (Avro maps cannot key by int) or a string-keyed Avro map. */
  private def idMap[V](r: GenericRecord, n: String)(value: Any => V): Map[Int, V] =
    opt(r, n) match {
      case Some(l: java.util.List[_]) =>
        l.asScala.collect { case kv: GenericRecord =>
          kv.get("key").asInstanceOf[Int] -> value(kv.get("value"))
        }.toMap
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.map { case (k, v) => k.toString.toInt -> value(v) }.toMap
      case _ => Map.empty
    }

  private def decodeFile(r: GenericRecord): ManifestFile = {
    val seq = long(r, "sequence_number").getOrElse(0L)
    ManifestFile(
      path = r.get("manifest_path").toString,
      length = long(r, "manifest_length").getOrElse(0L),
      specId = int(r, "partition_spec_id").getOrElse(0),
      content = int(r, "content").getOrElse(0),
      sequenceNumber = seq,
      minSequenceNumber = long(r, "min_sequence_number").getOrElse(seq),
      addedSnapshotId = long(r, "added_snapshot_id").getOrElse(0L),
      addedFilesCount = int(r, "added_files_count").getOrElse(0),
      existingFilesCount = int(r, "existing_files_count").getOrElse(0),
      deletedFilesCount = int(r, "deleted_files_count").getOrElse(0),
      addedRowsCount = long(r, "added_rows_count").getOrElse(0L),
      existingRowsCount = long(r, "existing_rows_count").getOrElse(0L),
      deletedRowsCount = long(r, "deleted_rows_count").getOrElse(0L),
      summaries = list(r, "partitions") match {
        case Nil => None
        case ss => Some(ss.map { case s: GenericRecord =>
          FieldSummary(opt(s, "contains_null").exists(_.asInstanceOf[Boolean]),
            opt(s, "lower_bound").map(bytes), opt(s, "upper_bound").map(bytes))
        })
      })
  }

  private def decodeEntry(e: GenericRecord): ManifestEntry = {
    val status = e.get("status").asInstanceOf[Int]
    val df     = e.get("data_file").asInstanceOf[GenericRecord]
    val format = df.get("file_format").toString
    require(status == ManifestEntry.Deleted ||
      format.equalsIgnoreCase("PARQUET") || format.equalsIgnoreCase("PUFFIN"),
      s"unsupported file format $format")
    val lo = idMap(df, "lower_bounds")(bytes)
    val hi = idMap(df, "upper_bounds")(bytes)
    val partition = opt(df, "partition") match {
      case Some(pr: GenericRecord) =>
        pr.getSchema.getFields.asScala.flatMap(f => Option(pr.get(f.pos)).map(f.name -> plain(_))).toMap
      case _ => Map.empty[String, Any]
    }
    val file = DataFileInfo(
      path = df.get("file_path").toString,
      recordCount = long(df, "record_count").getOrElse(0L),
      sizeBytes = long(df, "file_size_in_bytes").getOrElse(0L),
      // a bound is usable only as a [lower, upper] pair
      bounds = lo.flatMap { case (k, l) => hi.get(k).map(h => k -> ((l, h))) },
      content = int(df, "content").getOrElse(0),
      equalityIds = list(df, "equality_ids").map(_.asInstanceOf[Int]),
      partitionValues = partition,
      splitOffsets = list(df, "split_offsets").map(_.asInstanceOf[Long]),
      nullCounts = idMap(df, "null_value_counts")(_.asInstanceOf[Long]),
      sortOrderId = int(df, "sort_order_id"),
      dvRef = opt(df, "referenced_data_file").map(ref => (ref.toString,
        long(df, "content_offset").getOrElse(0L), long(df, "content_size_in_bytes").getOrElse(0L))),
      firstRowId = long(df, "first_row_id"))
    ManifestEntry(status, long(e, "snapshot_id"), long(e, "sequence_number"),
      long(e, "file_sequence_number"), file)
  }

  // ------------------------------------------------------------ writing

  /** Publish the manifest list `files` at `p` (if absent, through
    * [[MetadataFiles.publishIfAbsent]]) with the header `meta`; false when
    * the path was already taken. */
  def writeList(fs: FileSystem, p: Path, files: Seq[ManifestFile],
      meta: Map[String, String]): Boolean =
    writeAvro(fs, p, manifestFileSchema, files.map(encodeFile), meta)

  /** Publish the manifest `entries` at `p` (if absent) with the header
    * `meta`, its partition record typed by `partition` — the spec's fields
    * with the Spark type of their values. False when the path was taken. */
  def writeManifest(fs: FileSystem, p: Path,
      partition: Seq[(SpecMetadata.SpecField, DataType)], entries: Seq[ManifestEntry],
      meta: Map[String, String]): Boolean = {
    val schema = manifestEntrySchema(partition)
    writeAvro(fs, p, schema, entries.map(encodeEntry(schema, partition, _)), meta)
  }

  private def writeAvro(fs: FileSystem, p: Path, schema: Schema, records: Seq[GenericRecord],
      meta: Map[String, String]): Boolean =
    MetadataFiles.publishIfAbsent(fs, p) { out =>
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      try {
        meta.foreach { case (k, v) => w.setMeta(k, v) }
        w.create(schema, out)
        records.foreach(w.append)
      } finally w.close()
    }

  /** The Avro array of field `n` of `parent`'s schema (a nullable array). */
  private def array[T](parent: Schema, n: String, items: Seq[T]): GenericData.Array[T] =
    new GenericData.Array[T](parent.getField(n).schema().getTypes.get(1), items.asJava)

  private def idArray[V](parent: Schema, n: String, m: Map[Int, V]): GenericData.Array[GenericRecord] = {
    val kv = parent.getField(n).schema().getTypes.get(1).getElementType
    array(parent, n, m.toSeq.sortBy(_._1).map { case (id, v) =>
      val r = new GenericData.Record(kv); r.put("key", id); r.put("value", v); r: GenericRecord
    })
  }

  private def encodeFile(m: ManifestFile): GenericRecord = {
    val r = new GenericData.Record(manifestFileSchema)
    r.put("manifest_path", m.path)
    r.put("manifest_length", m.length)
    r.put("partition_spec_id", m.specId)
    r.put("content", m.content)
    r.put("sequence_number", m.sequenceNumber)
    r.put("min_sequence_number", m.minSequenceNumber)
    r.put("added_snapshot_id", m.addedSnapshotId)
    r.put("added_files_count", m.addedFilesCount)
    r.put("existing_files_count", m.existingFilesCount)
    r.put("deleted_files_count", m.deletedFilesCount)
    r.put("added_rows_count", m.addedRowsCount)
    r.put("existing_rows_count", m.existingRowsCount)
    r.put("deleted_rows_count", m.deletedRowsCount)
    m.summaries.foreach { ss =>
      // spec field 507: what manifest-LIST pruning reads
      val item = manifestFileSchema.getField("partitions").schema().getTypes.get(1).getElementType
      r.put("partitions", array(manifestFileSchema, "partitions", ss.map { s =>
        val fr = new GenericData.Record(item)
        fr.put("contains_null", s.containsNull)
        s.lower.foreach(b => fr.put("lower_bound", java.nio.ByteBuffer.wrap(b)))
        s.upper.foreach(b => fr.put("upper_bound", java.nio.ByteBuffer.wrap(b)))
        fr: GenericRecord
      }))
    }
    r
  }

  private def encodeEntry(schema: Schema, partition: Seq[(SpecMetadata.SpecField, DataType)],
      e: ManifestEntry): GenericRecord = {
    val f  = e.file
    val dt = schema.getField("data_file").schema()
    val df = new GenericData.Record(dt)
    df.put("content", f.content)
    df.put("file_path", f.path)
    df.put("file_format", if (f.dvRef.isDefined) "PUFFIN" else "PARQUET")
    // v3 deletion vector provenance (spec fields 143-145)
    f.dvRef.foreach { case (ref, off, sz) =>
      df.put("referenced_data_file", ref)
      df.put("content_offset", Long.box(off))
      df.put("content_size_in_bytes", Long.box(sz))
    }
    val pr = new GenericData.Record(dt.getField("partition").schema())
    partition.foreach { case (sf, _) => f.partitionValues.get(sf.name).foreach(pr.put(sf.name, _)) }
    df.put("partition", pr)
    df.put("record_count", f.recordCount)
    df.put("file_size_in_bytes", f.sizeBytes)
    if (f.bounds.nonEmpty) {
      df.put("lower_bounds", idArray(dt, "lower_bounds", f.bounds.map { case (k, b) =>
        k -> java.nio.ByteBuffer.wrap(b._1) }))
      df.put("upper_bounds", idArray(dt, "upper_bounds", f.bounds.map { case (k, b) =>
        k -> java.nio.ByteBuffer.wrap(b._2) }))
    }
    // spec field 110: what IS NULL / IS NOT NULL predicates prune on
    if (f.nullCounts.nonEmpty)
      df.put("null_value_counts", idArray(dt, "null_value_counts", f.nullCounts.map {
        case (k, n) => k -> Long.box(n) }))
    // spec field 132: row-group starts, so planners range-split oversized
    // files with ZERO footer IO
    if (f.splitOffsets.nonEmpty)
      df.put("split_offsets", array(dt, "split_offsets", f.splitOffsets.map(Long.box)))
    if (f.equalityIds.nonEmpty)
      df.put("equality_ids", array(dt, "equality_ids", f.equalityIds.map(Int.box)))
    // spec field 140: the registered sort order the file was written
    // under; absent = unsorted (the honest default)
    f.sortOrderId.foreach(id => df.put("sort_order_id", Int.box(id)))
    // spec field 142 (v3 row lineage): the file's implicit-id base
    f.firstRowId.foreach(v => df.put("first_row_id", Long.box(v)))
    val r = new GenericData.Record(schema)
    r.put("status", e.status)
    r.put("snapshot_id", e.snapshotId.map(Long.box).orNull)
    r.put("sequence_number", e.sequenceNumber.map(Long.box).orNull)
    r.put("file_sequence_number", e.fileSequenceNumber.map(Long.box).orNull)
    r.put("data_file", df)
    r
  }

  // ---------------------------------------------- partition summaries

  /** Fold the partition values of a manifest's files into one summary per
    * spec field (spec field 507): whether any file's value is null, and
    * the least and greatest value in the single-value serialization and
    * the order column bounds use ([[IcebergFormat.encodeBound]],
    * [[BoundOrder]]). None when the spec is unpartitioned — the field is
    * then omitted. */
  private def summarize(partition: Seq[(SpecMetadata.SpecField, DataType)],
      values: Seq[Map[String, Any]]): Option[Seq[FieldSummary]] =
    if (partition.isEmpty) None
    else Some(partition.map { case (sf, dt) =>
      val vs      = values.map(_.get(sf.name).filter(_ != null))
      val present = vs.flatten.map(_.toString)
      val cmp     = BoundOrder.of(dt)
      val order   = Ordering.fromLessThan((a: String, b: String) => cmp(a, b) < 0)
      if (present.isEmpty) FieldSummary(present.size < vs.size, None, None)
      else FieldSummary(present.size < vs.size, IcebergFormat.encodeBound(dt, present.min(order)),
        IcebergFormat.encodeBound(dt, present.max(order)))
    })

  // ------------------------------------------------------------ schemas

  /** Avro type of a partition value of Spark type `dt`. */
  private def avroType(dt: DataType): String = dt match {
    case IntegerType => "int"
    case LongType    => "long"
    case FloatType   => "float"
    case DoubleType  => "double"
    case BooleanType => "boolean"
    case StringType  => "string"
    case other =>
      throw new UnsupportedOperationException(s"partition value of type $other not supported")
  }

  /** Avro schema of a v2 manifest entry, with the spec's field-ids
    * attached so spec-compliant readers can project by id (manifest_entry
    * / data_file fields per the spec's "Manifests" table) and the
    * partition record typed by `partition`. lower/upper bounds use the
    * spec's map encoding — an array of key/value records holding
    * field-id → single-value-serialized binary. */
  private def manifestEntrySchema(partition: Seq[(SpecMetadata.SpecField, DataType)]): Schema = {
    val pf = partition.map { case (f, dt) =>
      s"""{"name":"${f.name}","type":["null","${avroType(dt)}"],"default":null,"field-id":${f.fieldId}}"""
    }.mkString(",")
    new Schema.Parser().parse(manifestEntryTemplate.replace("__PARTITION_FIELDS__", pf))
  }

  private val manifestEntryTemplate: String =
    """{"type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int","field-id":0},
      {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
        {"name":"content","type":"int","field-id":134},
        {"name":"file_path","type":"string","field-id":100},
        {"name":"file_format","type":"string","field-id":101},
        {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[__PARTITION_FIELDS__]}},
        {"name":"record_count","type":"long","field-id":103},
        {"name":"file_size_in_bytes","type":"long","field-id":104},
        {"name":"lower_bounds","field-id":125,"default":null,"type":["null",
          {"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[
            {"name":"key","type":"int","field-id":126},
            {"name":"value","type":"bytes","field-id":127}]}}]},
        {"name":"upper_bounds","field-id":128,"default":null,"type":["null",
          {"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[
            {"name":"key","type":"int","field-id":129},
            {"name":"value","type":"bytes","field-id":130}]}}]},
        {"name":"null_value_counts","field-id":110,"default":null,"type":["null",
          {"type":"array","logicalType":"map","items":{"type":"record","name":"k121_v122","fields":[
            {"name":"key","type":"int","field-id":121},
            {"name":"value","type":"long","field-id":122}]}}]},
        {"name":"split_offsets","field-id":132,"default":null,"type":["null",
          {"type":"array","items":"long","element-id":133}]},
        {"name":"equality_ids","field-id":135,"default":null,"type":["null",
          {"type":"array","items":"int","element-id":136}]},
        {"name":"sort_order_id","field-id":140,"default":null,"type":["null","int"]},
        {"name":"referenced_data_file","field-id":143,"default":null,"type":["null","string"]},
        {"name":"content_offset","field-id":144,"default":null,"type":["null","long"]},
        {"name":"content_size_in_bytes","field-id":145,"default":null,"type":["null","long"]},
        {"name":"first_row_id","field-id":142,"default":null,"type":["null","long"]}
      ]}}]}""".replaceAll("\n\\s*", "")

  /** Avro schema of a manifest-list entry (spec "Manifest Lists" table). */
  private val manifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string","field-id":500},
      {"name":"manifest_length","type":"long","field-id":501},
      {"name":"partition_spec_id","type":"int","field-id":502},
      {"name":"content","type":"int","field-id":517},
      {"name":"sequence_number","type":"long","field-id":515},
      {"name":"min_sequence_number","type":"long","field-id":516},
      {"name":"added_snapshot_id","type":"long","field-id":503},
      {"name":"added_files_count","type":"int","field-id":504},
      {"name":"existing_files_count","type":"int","field-id":505},
      {"name":"deleted_files_count","type":"int","field-id":506},
      {"name":"added_rows_count","type":"long","field-id":512},
      {"name":"existing_rows_count","type":"long","field-id":513},
      {"name":"deleted_rows_count","type":"long","field-id":514},
      {"name":"partitions","field-id":507,"default":null,"type":["null",
        {"type":"array","element-id":508,"items":{"type":"record","name":"field_summary","fields":[
          {"name":"contains_null","type":"boolean","field-id":509},
          {"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
          {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
          {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
        ]}}]}
    ]}""".replaceAll("\n\\s*", ""))
}
