package graft.icelite

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import SpecMetadata._

/** An Iceberg-spec table's `v<NNNNN>.metadata.json` as a value: exactly
  * the fields graft reads or writes. That file is the contract with other
  * engines (an `iceberg_scan` is handed it), so it has one codec:
  * [[SpecMetadata.parse]] is the only reader of its text and
  * [[SpecMetadata.render]] the only writer, built on the json4s AST, which
  * escapes every string. Every reader in [[IcebergFormat]] and the
  * [[IcebergFormat.Writer]]'s whole JSON-level state are this value.
  *
  * `parse` keeps the v1 fallbacks: a singular `schema`, a missing
  * `current-schema-id` (= 0), top-level field ids by position, and
  * snapshots that list their `manifests` inline instead of naming a
  * manifest list. `render` derives `last-partition-id` from the specs and
  * writes the implicit unsorted order 0 first; the metadata log is
  * written empty. */
private[graft] final case class SpecMetadata(
    formatVersion: Int,
    tableUuid: String,
    location: String,
    lastSequenceNumber: Long,
    lastUpdatedMs: Long,
    lastColumnId: Int,
    nextRowId: Long, // v3 row lineage: the next unassigned implicit row id
    schemas: Seq[Schema],
    currentSchemaId: Int,
    specs: Seq[PartitionSpec],
    defaultSpecId: Int,
    snapshots: Seq[Snapshot], // in log (append) order
    currentSnapshotId: Option[Long],
    snapshotLog: Seq[SnapshotLogEntry], // when each snapshot became current, oldest first
    sortOrders: Seq[SortOrder], // declared orders; the unsorted order 0 is implicit
    defaultSortOrderId: Int,
    properties: Map[String, String],
    statistics: Seq[IcebergFormat.StatsEntry],
    partitionStatistics: Seq[IcebergFormat.PartitionStatsEntry]) {

  /** The schema `current-schema-id` names, else the first one. */
  def currentSchema: Schema = schemas.find(_.schemaId == currentSchemaId)
    .orElse(schemas.headOption)
    .getOrElse(throw new IllegalArgumentException("no schema in metadata"))

  def spec(specId: Int): Option[PartitionSpec] = specs.find(_.specId == specId)

  /** (partition field name, source id, `kind(transform)`) for each field
    * of spec `specId` whose transform `kind` is defined at. Manifests
    * written under different specs coexist, so callers look specs up by
    * the id a manifest records, never by the current default. */
  def specFields[T](specId: Int)(kind: PartialFunction[String, T]): Seq[(String, Int, T)] =
    spec(specId).toSeq.flatMap(_.fields.flatMap(f =>
      kind.lift(f.transform).map(k => (f.name, f.sourceId, k))))

  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)

  def currentSnapshot: Option[Snapshot] = currentSnapshotId.flatMap(snapshot)

  /** Table property `graft.read-by-id`: set by a rename/drop column
    * evolution, after which file columns resolve by parquet field id. */
  def readById: Boolean = properties.get(ReadByIdKey).contains("true")
}

private[graft] object SpecMetadata {

  val ReadByIdKey = "graft.read-by-id"

  /** One schema of the history: its Spark type, its top-level field ids
    * in field order (sparse after drops), every nested position's id by
    * path (see [[IcebergFormat.deriveNestedIds]] for the path form) and
    * the top-level fields' `initial-default` literals by field id. */
  final case class Schema(schemaId: Int, struct: StructType, fieldIds: Seq[Int],
      nestedIds: Map[String, Int], defaults: Map[Int, JValue] = Map.empty) {
    /** The defaults as compact JSON text, by field id. */
    def defaultsJson: Map[Int, String] = defaults.map { case (id, v) => id -> compact(v) }
  }

  final case class SpecField(name: String, sourceId: Int, fieldId: Int, transform: String)
  final case class PartitionSpec(specId: Int, fields: Seq[SpecField])

  final case class Snapshot(snapshotId: Long, parentId: Option[Long], sequenceNumber: Long,
      timestampMs: Long, operation: String, schemaId: Int, manifestList: Option[String],
      firstRowId: Option[Long] = None,
      manifests: Seq[String] = Nil) // v1: manifest paths inline, no manifest list

  /** One `snapshot-log` entry: `snapshotId` became current at `timestampMs`. */
  final case class SnapshotLogEntry(timestampMs: Long, snapshotId: Long)

  final case class SortField(sourceId: Int, direction: String, nullOrder: String)
  final case class SortOrder(orderId: Int, fields: Seq[SortField])

  def read(fs: FileSystem, p: Path): SpecMetadata = parse(MetadataFiles.read(fs, p))

  // ------------------------------------------------------------------ parse

  private def long(j: JValue): Option[Long] = j match {
    case JInt(n)  => Some(n.toLong)
    case JLong(n) => Some(n)
    case _        => None
  }
  private def int(j: JValue): Option[Int] = long(j).map(_.toInt)
  private def str(j: JValue): Option[String] = j match {
    case JString(s) => Some(s)
    case _          => None
  }
  private def flag(j: JValue): Boolean = j match {
    case JBool(b) => b
    case _        => false
  }
  private def list(j: JValue): List[JValue] = j match {
    case JArray(xs) => xs
    case _          => Nil
  }
  private def need[T](v: Option[T], what: String): T =
    v.getOrElse(throw new IllegalArgumentException(s"metadata JSON lacks a valid $what"))
  private def stringMap(j: JValue): Map[String, String] = j match {
    case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
    case _           => Map.empty
  }

  /** A metadata file's text as the model; absent optional fields take
    * the spec's defaults (see the class doc for the v1 fallbacks). */
  def parse(text: String): SpecMetadata = {
    val md = JsonMethods.parse(text)
    val schemas = (md \ "schemas") match {
      case JArray(ss) => ss.map(parseSchema)
      case _ => (md \ "schema") match {
        case JNothing => Nil
        case s        => List(parseSchema(s))
      }
    }
    SpecMetadata(
      formatVersion = need(int(md \ "format-version"), "format-version"),
      tableUuid = str(md \ "table-uuid").getOrElse(""),
      location = str(md \ "location").getOrElse(""),
      lastSequenceNumber = long(md \ "last-sequence-number").getOrElse(0L),
      lastUpdatedMs = long(md \ "last-updated-ms").getOrElse(0L),
      lastColumnId = int(md \ "last-column-id").getOrElse(
        (schemas.flatMap(s => s.fieldIds ++ s.nestedIds.values) :+ 0).max),
      nextRowId = long(md \ "next-row-id").getOrElse(0L),
      schemas = schemas,
      currentSchemaId = int(md \ "current-schema-id").getOrElse(0),
      specs = list(md \ "partition-specs").map { sp =>
        PartitionSpec(int(sp \ "spec-id").getOrElse(0), list(sp \ "fields").map { f =>
          SpecField(need(str(f \ "name"), "partition field name"),
            need(int(f \ "source-id"), "partition source-id"),
            need(int(f \ "field-id"), "partition field-id"),
            str(f \ "transform").getOrElse(""))
        })
      },
      defaultSpecId = int(md \ "default-spec-id").getOrElse(0),
      snapshots = list(md \ "snapshots").map { s =>
        Snapshot(
          snapshotId = need(long(s \ "snapshot-id"), "snapshot-id"),
          parentId = long(s \ "parent-snapshot-id"),
          sequenceNumber = long(s \ "sequence-number").getOrElse(0L),
          timestampMs = long(s \ "timestamp-ms").getOrElse(0L),
          operation = str(s \ "summary" \ "operation").getOrElse("append"),
          schemaId = int(s \ "schema-id").getOrElse(0),
          manifestList = str(s \ "manifest-list"),
          firstRowId = long(s \ "first-row-id"),
          manifests = list(s \ "manifests").flatMap(str))
      },
      currentSnapshotId = long(md \ "current-snapshot-id").filter(_ >= 0),
      snapshotLog = list(md \ "snapshot-log").map { e =>
        SnapshotLogEntry(need(long(e \ "timestamp-ms"), "snapshot-log timestamp-ms"),
          need(long(e \ "snapshot-id"), "snapshot-log snapshot-id"))
      },
      sortOrders = list(md \ "sort-orders").flatMap { o =>
        val id = need(int(o \ "order-id"), "sort order-id")
        if (id == 0) None // the implicit unsorted order
        else Some(SortOrder(id, list(o \ "fields").map { f =>
          SortField(need(int(f \ "source-id"), "sort source-id"),
            str(f \ "direction").getOrElse("asc"), str(f \ "null-order").getOrElse("nulls-first"))
        }))
      },
      defaultSortOrderId = int(md \ "default-sort-order-id").getOrElse(0),
      properties = stringMap(md \ "properties"),
      statistics = list(md \ "statistics").map { e =>
        IcebergFormat.StatsEntry(
          need(long(e \ "snapshot-id"), "statistics snapshot-id"),
          need(str(e \ "statistics-path"), "statistics-path"),
          need(long(e \ "file-size-in-bytes"), "statistics file-size-in-bytes"),
          need(long(e \ "file-footer-size-in-bytes"), "file-footer-size-in-bytes"),
          list(e \ "blob-metadata").map { b =>
            IcebergFormat.StatsBlobMeta(
              need(str(b \ "type"), "blob type"),
              need(long(b \ "snapshot-id"), "blob snapshot-id"),
              need(long(b \ "sequence-number"), "blob sequence-number"),
              list(b \ "fields").flatMap(int),
              stringMap(b \ "properties"))
          })
      },
      partitionStatistics = list(md \ "partition-statistics").map { e =>
        IcebergFormat.PartitionStatsEntry(
          need(long(e \ "snapshot-id"), "partition-statistics snapshot-id"),
          need(str(e \ "statistics-path"), "partition-statistics path"),
          need(long(e \ "file-size-in-bytes"), "partition-statistics file-size-in-bytes"))
      })
  }

  /** One schema JSON: top-level ids are the spec's `id` attribute (the
    * position when absent — v1), never position alone, because an evolved
    * table's ids are sparse and bounds maps key by id. */
  private def parseSchema(j: JValue): Schema = {
    val nested = scala.collection.mutable.Map.empty[String, Int]
    val fields = list(j \ "fields").zipWithIndex.map { case (f, i) =>
      val name = need(str(f \ "name"), "field name")
      val id   = int(f \ "id").getOrElse(i + 1)
      (StructField(name, typeOf(f \ "type", s"$name.", nested), !flag(f \ "required")), id,
        f \ "initial-default")
    }
    Schema(int(j \ "schema-id").getOrElse(0), StructType(fields.map(_._1)), fields.map(_._2),
      nested.toMap, fields.collect { case (_, id, d) if d != JNothing => id -> d }.toMap)
  }

  /** Iceberg type JSON → Spark type: primitives are JSON strings,
    * struct/list/map are objects (spec "Schemas and Data Types"), so any
    * nesting round-trips. Records each nested position's explicit id
    * under its path in `ids` as it goes. */
  private def typeOf(j: JValue, prefix: String,
      ids: scala.collection.mutable.Map[String, Int]): DataType = j match {
    case JString(s) => toSparkType(s)
    case o: JObject => str(o \ "type") match {
      case Some("struct") =>
        StructType(list(o \ "fields").map { f =>
          val name = need(str(f \ "name"), "field name")
          int(f \ "id").foreach(ids(prefix + name) = _)
          StructField(name, typeOf(f \ "type", s"$prefix$name.", ids), !flag(f \ "required"))
        })
      case Some("list") =>
        int(o \ "element-id").foreach(ids(prefix + "element") = _)
        ArrayType(typeOf(o \ "element", prefix + "element.", ids), !flag(o \ "element-required"))
      case Some("map") =>
        int(o \ "key-id").foreach(ids(prefix + "key") = _)
        int(o \ "value-id").foreach(ids(prefix + "value") = _)
        MapType(typeOf(o \ "key", prefix + "key.", ids), typeOf(o \ "value", prefix + "value.", ids),
          !flag(o \ "value-required"))
      case other =>
        throw new UnsupportedOperationException(s"unknown Iceberg composite type: $other")
    }
    case other => throw new UnsupportedOperationException(s"unparseable Iceberg type JSON: $other")
  }

  /** Iceberg primitive type name → Spark type. */
  private[graft] def toSparkType(icebergType: String): DataType = icebergType match {
    case "boolean"     => BooleanType
    case "int"         => IntegerType
    case "long"        => LongType
    case "float"       => FloatType
    case "double"      => DoubleType
    case "string"      => StringType
    case "date"        => DateType
    case "timestamp"   => TimestampNTZType
    case "timestamptz" => TimestampType
    case "binary"      => BinaryType
    case "uuid"        => StringType
    case t if t.startsWith("decimal(") =>
      val Array(p, sc) = t.stripPrefix("decimal(").stripSuffix(")").split(',').map(_.trim.toInt)
      DecimalType(p, sc)
    case t if t.startsWith("fixed[") => BinaryType
    case other =>
      throw new UnsupportedOperationException(s"unknown Iceberg primitive type: $other")
  }

  // ----------------------------------------------------------------- render

  private def compact(j: JValue): String = JsonMethods.compact(JsonMethods.render(j))

  /** One schema's JSON — what a manifest's `schema` header holds. */
  def renderSchema(s: Schema): String = compact(schemaJson(s))

  /** A spec's `fields` array — what a manifest's `partition-spec` header holds. */
  def renderSpecFields(fields: Seq[SpecField]): String = compact(specFieldsJson(fields))

  /** The metadata file's text for `md`, keys in the order graft has
    * always written them. */
  def render(md: SpecMetadata): String = {
    val (readById, otherProps) = md.properties.partition(_._1 == ReadByIdKey)
    val lastPartitionId: Int = md.specs.flatMap(_.fields.map(_.fieldId)).maxOption.getOrElse(999)
    compact(JObject(
      "format-version"       -> JInt(md.formatVersion),
      "table-uuid"           -> JString(md.tableUuid),
      "location"             -> JString(md.location),
      "last-sequence-number" -> JLong(md.lastSequenceNumber),
      "last-updated-ms"      -> JLong(md.lastUpdatedMs),
      "last-column-id"       -> JInt(md.lastColumnId),
      "next-row-id"          -> JLong(md.nextRowId),
      "current-schema-id"    -> JInt(md.currentSchemaId),
      "schemas"              -> JArray(md.schemas.map(schemaJson).toList),
      "default-spec-id"      -> JInt(md.defaultSpecId),
      "partition-specs"      -> JArray(md.specs.map(s =>
        JObject("spec-id" -> JInt(s.specId), "fields" -> specFieldsJson(s.fields))).toList),
      "last-partition-id"    -> JInt(lastPartitionId),
      "statistics"           -> JArray(md.statistics.map { e =>
        JObject(
          "snapshot-id"               -> JLong(e.snapshotId),
          "statistics-path"           -> JString(e.path),
          "file-size-in-bytes"        -> JLong(e.fileSizeInBytes),
          "file-footer-size-in-bytes" -> JLong(e.footerSizeInBytes),
          "blob-metadata"             -> JArray(e.blobs.map { b =>
            JObject(
              "type"            -> JString(b.blobType),
              "snapshot-id"     -> JLong(b.snapshotId),
              "sequence-number" -> JLong(b.sequenceNumber),
              "fields"          -> JArray(b.fields.map(JInt(_)).toList),
              "properties"      -> stringsJson(b.properties.toSeq.sortBy(_._1)))
          }.toList))
      }.toList),
      "partition-statistics" -> JArray(md.partitionStatistics.map { e =>
        JObject(
          "snapshot-id"        -> JLong(e.snapshotId),
          "statistics-path"    -> JString(e.path),
          "file-size-in-bytes" -> JLong(e.fileSizeInBytes))
      }.toList),
      "default-sort-order-id" -> JInt(md.defaultSortOrderId),
      "sort-orders"           -> JArray((SortOrder(0, Nil) +: md.sortOrders).map { o =>
        JObject("order-id" -> JInt(o.orderId), "fields" -> JArray(o.fields.map { f =>
          JObject(
            "transform"  -> JString("identity"),
            "source-id"  -> JInt(f.sourceId),
            "direction"  -> JString(f.direction),
            "null-order" -> JString(f.nullOrder))
        }.toList))
      }.toList),
      "properties"         -> stringsJson(readById.toSeq ++ otherProps.toSeq.sortBy(_._1)),
      "current-snapshot-id" -> md.currentSnapshotId.map(JLong(_)).getOrElse(JNothing),
      "snapshots"          -> JArray(md.snapshots.map { s =>
        JObject(
          "snapshot-id"        -> JLong(s.snapshotId),
          "parent-snapshot-id" -> s.parentId.map(JLong(_)).getOrElse(JNothing),
          "timestamp-ms"       -> JLong(s.timestampMs),
          "sequence-number"    -> JLong(s.sequenceNumber),
          "first-row-id"       -> s.firstRowId.map(JLong(_)).getOrElse(JNothing),
          "summary"            -> JObject("operation" -> JString(s.operation)),
          "manifest-list"      -> s.manifestList.map(JString(_)).getOrElse(JNothing),
          "manifests"          ->
            (if (s.manifests.isEmpty) JNothing else JArray(s.manifests.map(JString(_)).toList)),
          "schema-id"          -> JInt(s.schemaId))
      }.toList),
      "snapshot-log" -> JArray(md.snapshotLog.map { e =>
        JObject("timestamp-ms" -> JLong(e.timestampMs), "snapshot-id" -> JLong(e.snapshotId))
      }.toList),
      "metadata-log" -> JArray(Nil)))
  }

  private def stringsJson(kvs: Seq[(String, String)]): JObject =
    JObject(kvs.map { case (k, v) => k -> (JString(v): JValue) }.toList)

  private def specFieldsJson(fields: Seq[SpecField]): JArray = JArray(fields.map { f =>
    JObject(
      "name"      -> JString(f.name),
      "transform" -> JString(f.transform),
      "source-id" -> JInt(f.sourceId),
      "field-id"  -> JInt(f.fieldId))
  }.toList)

  /** One schema's JSON. Nested ids come from the schema's tracked path map; a missing path is
    * a bug in the caller's id bookkeeping and fails loudly rather than
    * inventing an id. */
  private def schemaJson(s: Schema): JObject = {
    require(s.fieldIds.length == s.struct.fields.length,
      s"field id count ${s.fieldIds.length} != column count ${s.struct.fields.length}")
    val idOf = (p: String) => s.nestedIds.getOrElse(p,
      throw new IllegalStateException(s"no tracked field id for nested path $p"))
    JObject(
      "type"      -> JString("struct"),
      "schema-id" -> JInt(s.schemaId),
      "fields"    -> JArray(s.struct.fields.zip(s.fieldIds).map { case (f, id) =>
        // v3 default values: pre-evolution files read `initial-default`
        // instead of null; `write-default` documents the insert-side value
        val dflt = s.defaults.get(id).toList.flatMap(v =>
          List("initial-default" -> v, "write-default" -> v))
        JObject(fieldJson(id, f, typeJson(f.dataType, s"${f.name}.", idOf)).obj ++ dflt)
      }.toList))
  }

  private def fieldJson(id: Int, f: StructField, tpe: JValue): JObject = JObject(
    "id"       -> JInt(id),
    "name"     -> JString(f.name),
    "required" -> JBool(!f.nullable),
    "type"     -> tpe)

  /** Spark type → Iceberg type JSON (the inverse of [[typeOf]]). */
  private def typeJson(dt: DataType, prefix: String, idOf: String => Int): JValue = dt match {
    case st: StructType =>
      JObject("type" -> JString("struct"), "fields" -> JArray(st.fields.map { f =>
        fieldJson(idOf(prefix + f.name), f, typeJson(f.dataType, s"$prefix${f.name}.", idOf))
      }.toList))
    case at: ArrayType => JObject(
      "type"             -> JString("list"),
      "element-id"       -> JInt(idOf(prefix + "element")),
      "element"          -> typeJson(at.elementType, prefix + "element.", idOf),
      "element-required" -> JBool(!at.containsNull))
    case mt: MapType => JObject(
      "type"           -> JString("map"),
      "key-id"         -> JInt(idOf(prefix + "key")),
      "key"            -> typeJson(mt.keyType, prefix + "key.", idOf),
      "value-id"       -> JInt(idOf(prefix + "value")),
      "value"          -> typeJson(mt.valueType, prefix + "value.", idOf),
      "value-required" -> JBool(!mt.valueContainsNull))
    case BooleanType      => JString("boolean")
    case IntegerType      => JString("int")
    case LongType         => JString("long")
    case FloatType        => JString("float")
    case DoubleType       => JString("double")
    case StringType       => JString("string")
    case DateType         => JString("date")
    case TimestampNTZType => JString("timestamp")
    case TimestampType    => JString("timestamptz")
    case BinaryType       => JString("binary")
    case d: DecimalType   => JString(s"decimal(${d.precision}, ${d.scale})")
    case other =>
      throw new UnsupportedOperationException(s"cannot write Iceberg primitive for: $other")
  }
}
