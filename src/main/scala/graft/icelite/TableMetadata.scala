package graft.icelite

import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** IceLite table metadata: the snapshot-versioned table descriptor our
  * engine commits as `metadata/vN.json` (the role PyIceberg's metadata JSON
  * plays in the reference — see SURVEY.md §1.1/§7.2 step 2; we implement the
  * format natively because no Iceberg runtime jar ships in this image).
  *
  * - `fields` carry 1-based field ids + required flags
  *   (`bot_iceberg_loader.py:206,232-239` semantics) for schema evolution.
  * - `schemaJson` is the Spark StructType serialization — the engine-native
  *   schema used to re-plan scans with exact types.
  * - each snapshot points at the manifest files describing the parquet
  *   files valid at that version; appends add one manifest, replaces reset
  *   the manifest list. Time travel = re-plan from an older snapshot's
  *   manifests.
  */
final case class FieldInfo(id: Int, name: String, `type`: String, required: Boolean)

/** A named ref into the snapshot log (the Nessie/Iceberg refs concept the
  * reference's catalog exposes — `bot_iceberg_loader.py:245-281` configures a
  * Nessie REST catalog precisely for its Git-like branching). `branch` refs
  * move on commit; `tag` refs are immutable pins. "main" is implicit: it is
  * the table's `current_snapshot_id`. */
final case class RefInfo(snapshot_id: Long, ref_type: String) // "branch" | "tag"

/** Per-file, per-column value range (stringified; parsed per schema type).
  * The planner skips files whose range can't satisfy a predicate. */
final case class ColRange(min: Option[String], max: Option[String])

/** The one order stats bounds are recorded and compared in, which is
  * Spark's own: strings by their UTF-8 bytes (unsigned), numbers by value.
  * Every bound-compare site and the connector's inline min/max use it, so
  * a bound never disagrees with the comparison Spark runs on the rows. */
object BoundOrder {
  private def numeric(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | FloatType | DoubleType => true
    case _                                               => false
  }

  /** Columns whose min/max every writer records and pruners compare. */
  def rangeable(dt: DataType): Boolean = numeric(dt) || dt == StringType

  /** Compare for stringified values and bounds of a column of type `dt`
    * (numbers by value — "9" > "10" lexically would corrupt pruning). */
  def of(dt: DataType): (String, String) => Int =
    if (numeric(dt)) compareNumbers else compareStrings

  /** A recorded range a pruner may use: both ends present and, on a
    * numeric column, finite numbers. Anything else bounds nothing. */
  def usable(dt: DataType, r: ColRange): Option[(String, String)] =
    for {
      lo <- r.min
      hi <- r.max
      if !numeric(dt) || Seq(lo, hi).forall(finite(_).isDefined)
    } yield (lo, hi)

  def compareStrings(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Numbers by value; when a side is not finite (a NaN or infinite
    * literal) Spark's double order decides, NaN above every number. */
  def compareNumbers(a: String, b: String): Int = (finite(a), finite(b)) match {
    case (Some(x), Some(y)) => x.compare(y)
    case _                  => java.lang.Double.compare(a.toDouble, b.toDouble)
  }

  /** `s` as a finite number, or None. A recorded numeric bound that is not
    * finite (the `"NaN"` older writers put in manifests) bounds nothing,
    * so pruners treat it as absent. */
  def finite(s: String): Option[BigDecimal] =
    try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
}

/** One field of a sort order (Iceberg spec §Sort Orders): the source
  * column's field id, a transform (`identity` for plain lexicographic
  * clustering; `zorder[bits]` for the engine's Morton-curve layout, which
  * the spec cannot express — exports map it to a table property instead),
  * and direction/null placement. */
final case class SortFieldInfo(
    source_id: Int, transform: String, direction: String, null_order: String)

/** A registered sort order. Order 0 (unsorted) is implicit and never
  * stored; ids are allocated sequentially from 1 and never reused, so a
  * file's recorded `sortOrderId` stays meaningful across later orders. */
final case class SortOrderInfo(order_id: Int, fields: List[SortFieldInfo])

/** One data file of a manifest: its path (relative to the table location)
  * plus optional per-column min/max stats and its row count (Iceberg's
  * required `record_count` — lets COUNT(*) answer from metadata alone).
  * Serialized as one JSON line; `rows` is Optional so manifests written
  * before the field existed still parse. */
final case class ManifestEntry(
    file: String,
    stats: Option[Map[String, ColRange]] = None,
    rows: Option[Long] = None,
    sizeBytes: Option[Long] = None, // file length (split gating; absent pre-r13)
    splitOffsets: Option[List[Long]] = None, // row-group starts (zero-IO ranged splits)
    // id of the registered sort order the file was WRITTEN under (Iceberg
    // data_file field 140); absent/None = unsorted. Honest clustering
    // metadata: a reader can trust per-file ranges are disjoint only when
    // the file actually claims the order.
    sortOrderId: Option[Int] = None) {
  def toJson: String = {
    implicit val fmts: Formats = TableMetadata.formats
    Serialization.write(this)
  }
}

object ManifestEntry {
  def fromJson(s: String): ManifestEntry = {
    implicit val fmts: Formats = TableMetadata.formats
    JsonMethods.parse(s).extract[ManifestEntry]
  }
}

/** A snapshot references its data through immutable manifest files (the
  * Iceberg manifest-list design): each commit writes ONE manifest holding
  * its delta's file paths + stats, and the snapshot carries the parent's
  * manifest *pointers* plus that one new path — so the metadata JSON stays
  * O(commits), not O(total files), and a 10⁶-file table appends without
  * rewriting its file inventory.
  *
  * `manifest_summaries` (parallel to `manifests`) carry each manifest's
  * aggregated per-column value range — the role of Iceberg's manifest-list
  * partition summaries: the planner skips reading a whole manifest when
  * its summary can't intersect the predicate, so planning cost is
  * O(manifests touched), not O(manifests). */
final case class Snapshot(
    snapshot_id: Long,
    timestamp_ms: Long,
    operation: String, // "append" | "replace" | "compact"
    manifests: List[String], // manifest dirs (relative), one per contributing commit
    manifest_summaries: Option[List[Map[String, ColRange]]] = None, // per-manifest col ranges
    parent_snapshot_id: Option[Long] = None, // commit DAG edge; None/0 = table root
    commit_token: Option[String] = None, // idempotency key (streaming batch id)
    delete_manifests: Option[List[String]] = None, // merge-on-read position-delete manifests
    // set on a snapshot produced by cherryPick: the id of the snapshot whose
    // delta was replayed (Iceberg's `source-snapshot-id` summary field). The
    // double-apply guard walks ancestry over THIS, not manifest paths — after
    // a compaction rewrites main's manifests, path comparison can no longer
    // see that a pick was already applied and would silently duplicate rows.
    source_snapshot_id: Option[Long] = None
) {
  /** Summary for manifest index `i`, or None when unrecorded (conservative). */
  def summaryAt(i: Int): Option[Map[String, ColRange]] =
    manifest_summaries.flatMap(_.lift(i)).filter(_.nonEmpty)

  /** Position-delete manifests of this snapshot (Iceberg v2 merge-on-read:
    * each manifest lists parquet files of `(file_path, pos)` rows marking
    * data-file positions as deleted). Absent on pre-MoR metadata — json4s
    * extracts the missing field as None, so old tables parse unchanged. */
  def deleteManifests: List[String] = delete_manifests.getOrElse(Nil)
}

final case class TableMetadata(
    format_version: Int,
    table_uuid: String,
    name: String,
    namespace: String,
    location: String,
    schemaJson: String,
    fields: List[FieldInfo],
    current_snapshot_id: Long,
    snapshots: List[Snapshot],
    partition_columns: Option[List[String]] = None, // hive-style layout when set
    refs: Option[Map[String, RefInfo]] = None, // named branches/tags beyond main
    retired_tokens: Option[List[String]] = None, // idempotency keys of expired snapshots
    // set by a rename/drop column evolution: readers must resolve file
    // columns by the parquet field ids this library stamps on write
    // (by-name would miss renamed columns in pre-rename files and could
    // resurrect a dropped-then-readded column's old values)
    read_by_id: Option[Boolean] = None,
    // highest field id EVER allocated (Iceberg's last-column-id): a drop
    // retires its id forever — allocating from max(live ids) alone would
    // re-issue a dropped max-id and resurrect its old file values
    last_column_id: Option[Int] = None,
    // names RETIRED by a drop or rename, with the snapshot id current at
    // retirement (the era watermark). Per-file stats are keyed by NAME in
    // this format, so a later column reusing a retired name would
    // otherwise consult the retired column's recorded bounds/null-counts
    // and misprune. Stats recorded in files of snapshots AFTER the
    // watermark describe the successor column and stay trustworthy —
    // without the watermark, a re-added column would lose min/max pruning
    // forever, on every file ever written afterwards.
    retired_columns: Option[Map[String, Long]] = None,
    // registered sort orders (order 0 = unsorted is implicit) and the
    // table's default — set by sorted compactions so the clustering a
    // maintenance job paid for is DISCOVERABLE, not tribal knowledge.
    // exportIceberg publishes spec-expressible (identity) orders into the
    // Iceberg metadata JSON verbatim.
    sort_orders: Option[List[SortOrderInfo]] = None,
    default_sort_order_id: Option[Int] = None
) {
  def sortOrderList: List[SortOrderInfo] = sort_orders.getOrElse(Nil)
  def retiredWatermarks: Map[String, Long] = retired_columns.getOrElse(Map.empty)
  def readById: Boolean = read_by_id.contains(true)

  def lastColumnId: Int =
    math.max(last_column_id.getOrElse(0), fields.map(_.id).foldLeft(0)(math.max))

  /** The table schema a READER should bind file columns with: id-stamped
    * on a rename/drop-evolved table (the reader resolves by field id),
    * plain otherwise (by-name, the fast default). */
  def scanSchema: StructType = if (readById) stampedSchema else schema

  /** The schema with `parquet.field.id` metadata per field — what writer
    * paths hand to parquet so data files stay resolvable by id after a
    * rename/drop evolution (additive: name-based readers are unaffected). */
  def stampedSchema: StructType = {
    val idOf = fields.map(fi => fi.name -> fi.id).toMap
    StructType(schema.fields.map { f =>
      idOf.get(f.name) match {
        case Some(id) =>
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong("parquet.field.id", id.toLong).build())
        case None => f
      }
    })
  }
  def partitionCols: List[String] = partition_columns.getOrElse(Nil)

  def refMap: Map[String, RefInfo] = refs.getOrElse(Map.empty)

  /** Every idempotency token the table has ever absorbed — live snapshots'
    * plus those preserved across snapshot expiration. */
  def knownTokens: Set[String] =
    snapshots.flatMap(_.commit_token).toSet ++ retired_tokens.getOrElse(Nil)

  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]

  def currentSnapshot: Option[Snapshot] = snapshots.find(_.snapshot_id == current_snapshot_id)

  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.snapshot_id == id)

  def toJson: String = {
    implicit val fmts: Formats = TableMetadata.formats
    Serialization.writePretty(this)
  }
}

object TableMetadata {
  private[icelite] implicit val formats: Formats = DefaultFormats

  def fromJson(s: String): TableMetadata = {
    val md = JsonMethods.parse(s).extract[TableMetadata]
    // v1 snapshots inlined `files` lists; json4s would extract their
    // missing `manifests` as Nil and the table would silently scan EMPTY —
    // fail loudly instead of losing data
    require(md.format_version == 2,
      s"unsupported IceLite metadata format_version ${md.format_version} " +
        "(v1 inlined file lists; this reader requires manifest-based v2)")
    md
  }

  def fieldsOf(schema: StructType): List[FieldInfo] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      FieldInfo(i + 1, f.name, f.dataType.catalogString, required = !f.nullable)
    }.toList

  def create(
      name: String,
      namespace: String,
      location: String,
      schema: StructType,
      partitionColumns: Seq[String] = Nil): TableMetadata =
    TableMetadata(
      format_version = 2, // v2: manifest-based snapshots (v1 inlined file lists)
      table_uuid = java.util.UUID.randomUUID().toString,
      name = name,
      namespace = namespace,
      location = location,
      schemaJson = schema.json,
      fields = fieldsOf(schema),
      current_snapshot_id = 0L,
      snapshots = Nil,
      partition_columns = if (partitionColumns.isEmpty) None else Some(partitionColumns.toList)
    )
}
