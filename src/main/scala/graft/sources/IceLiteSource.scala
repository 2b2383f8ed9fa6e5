package graft.sources

import graft.icelite.{BoundOrder, FsCatalog, IceTable, IcebergFormat, Snapshot, TableMetadata}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Coalesce, Expression, GenericInternalRow, JoinedRow, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.sources.DataSourceRegister

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.util.{Map => JMap}
import scala.collection.mutable

/** DataSource V2 packaging of the IceLite table format (SURVEY.md §4's
  * "idiomatic packaging" — `/root/reference` exposes its tables to DuckDB
  * through `iceberg_scan(...)`; this is the Spark-native equivalent:
  * `spark.read.format("icelite").option("location", dir)` or
  * `.option("warehouse", wh).option("table", "ns.name")`).
  *
  * It is also the library's read path: `IceTable.scan` and its variants
  * (`Engine.table`) are DataFrames over [[IceLiteV2Table]], so a library
  * call and SQL read a table the same way. What the V2 integration buys
  * over a plain parquet read of the snapshot's files:
  *
  *  - `SupportsPushDownFilters`: range/equality predicates from a plain SQL
  *    `WHERE` clause reach [[IceTable.planFilesBounds]], so manifest min/max
  *    FILE SKIPPING fires for arbitrary Spark SQL — previously only
  *    `scanRange` callers got it. The scan node's `description()` reports
  *    `files=<survivors>/<total>` so pruning is visible in
  *    `.explain("formatted")` and assertable by PlanAuditSpec.
  *  - `SupportsPushDownRequiredColumns`: the pruned schema is what Spark's
  *    parquet reader is asked for, so unprojected columns are never
  *    decoded — `ReadSchema` semantics at the file level.
  *  - `SupportsReportPartitioning` + `HasPartitionKey`: hive-layout
  *    partitioned tables report `KeyGroupedPartitioning(identity(p), n)`,
  *    one input partition per partition value, when every file read sits
  *    under the current layout (not across a partition evolution). Under
  *    `spark.sql.sources.v2.bucketing.enabled` two IceLite tables
  *    partitioned on the join key plan a STORAGE-PARTITIONED JOIN — zero
  *    Exchange on either side, co-location coming from OUR table metadata
  *    rather than Spark's catalog (the an58 strategy without `bucketBy`).
  *
  * At 100 TB: planning cost is O(manifests touched) metadata reads (the
  * manifest-summary skip applies before any manifest is opened), and the
  * per-file readers run fully executor-side. Snapshot selection
  * (`option("snapshot", id)` / `option("asOfTimestamp", ms)`) gives SQL
  * users the same time travel the library's `scanSnapshot`/`scanAsOf` have.
  */
final class IceLiteSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "icelite"

  private def resolveLocation(options: CaseInsensitiveStringMap): String = {
    val loc = Option(options.get("location")).orElse(Option(options.get("path")))
    loc.getOrElse {
      val wh = Option(options.get("warehouse")).getOrElse(
        throw new IllegalArgumentException(
          "icelite: pass option(\"location\", <table dir>) or " +
            "option(\"warehouse\", <dir>) + option(\"table\", \"ns.name\")"))
      val fq = Option(options.get("table")).getOrElse(
        throw new IllegalArgumentException("icelite: option(\"table\", \"ns.name\") required with warehouse"))
      val (ns, name) = fq.split('.') match {
        case Array(a, b) => (a, b)
        case _ => throw new IllegalArgumentException(s"icelite: table must be ns.name, got '$fq'")
      }
      new FsCatalog(SparkSession.active, wh).loadTable(ns, name).location.toString
    }
  }

  private def loadIce(options: CaseInsensitiveStringMap): IceTable =
    IceTable.load(SparkSession.active, resolveLocation(options))

  private def isIceberg(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("iceberg", false)

  /** The df schema rides into getTable for writes — required for the
    * iceberg nested-write path, where the table may not exist yet. */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (isIceberg(options)) {
      // an EXISTING table infers from its committed metadata (the read
      // paths); an absent one has no schema to infer — the write path
      // hands the DataFrame schema to getTable directly
      val loc = resolveLocation(options)
      if (IcebergFormat.currentVersion(SparkSession.active, loc) == 0)
        throw new UnsupportedOperationException(
          s"no Iceberg table at $loc to infer a schema from; writes pass the DataFrame schema")
      // the library scan's schema from ONE metadata-JSON read (the
      // table's plan header); no manifest is planned
      IcebergMorV2Table(SparkSession.active, loc).schema()
    } else loadIce(options).metadata.schema

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    if (isIceberg(options)) Array.empty
    else loadIce(options).metadata.partitionCols.map(Expressions.identity(_)).toArray

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    if (isIceberg(opts))
      return IcebergMorV2Table.at(SparkSession.active, resolveLocation(opts), schema)
    val ice = loadIce(opts)
    val md  = ice.metadata
    new IceLiteV2Table(ice, md, resolveSnapshot(md, opts), None, Option(opts.get("delete-mode")))
  }

  private def resolveSnapshot(md: TableMetadata, opts: CaseInsensitiveStringMap): Option[Snapshot] = {
    Option(opts.get("snapshot")).map(_.toLong).map { id =>
      md.snapshot(id).getOrElse(throw new NoSuchElementException(s"snapshot $id of ${md.name}"))
    }.orElse {
      Option(opts.get("asoftimestamp")).map(_.toLong).map { ts =>
        md.snapshots.filter(_.timestamp_ms <= ts)
          .sortBy(s => (s.timestamp_ms, s.snapshot_id)).lastOption
          .getOrElse(throw new NoSuchElementException(s"no snapshot of ${md.name} at or before $ts"))
      }
    }.orElse(md.currentSnapshot)
  }
}

object IceLiteSource {
  /** Count of data files actually opened by V2 readers — observability for
    * specs asserting that runtime/static pruning really avoided IO
    * (meaningful in local mode, where executors share the JVM). */
  private[graft] val filesOpened = new java.util.concurrent.atomic.LongAdder()
  /** Position-delete files actually OPENED by readers (post range-pruning)
    * — the counter specs use to prove a delete file is never read for a
    * data file outside its manifest `file_path` range. Test-only observability. */
  private[graft] val deleteFilesOpened = new java.util.concurrent.atomic.LongAdder()
}

/** V2 Table over one resolved IceLite snapshot (None = empty, pre-commit)
  * of the metadata `md` its load resolved: schema, layout and every scan
  * of the table read that one value. `files` pins scans to a subset of
  * the snapshot's data files (the library's pruned reads); the
  * snapshot's position deletes still apply to them. `onCommit` is the
  * catalog-publication hook: a REST-catalog-bound table
  * must advance the catalog's metadata pointer after each write's FS
  * commit (pointer publication is what makes the commit visible to other
  * catalog users); path-addressed tables need no hook. */
final class IceLiteV2Table(
    ice: IceTable,
    md: TableMetadata,
    snap: Option[Snapshot],
    onCommit: Option[IceTable => Unit] = None,
    deleteMode: Option[String] = None,
    files: Option[Seq[String]] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Row-lineage metadata columns (Iceberg's `_file`/`_pos`): the
    * manifest-relative data file path and the 0-based row position within
    * it — queryable like any column (`SELECT _file, _pos FROM t`) and the
    * ROW ID the merge-on-read delta operation below keys its position
    * deletes by. Non-nullable by construction (every physical row has
    * both), which `RewriteRowLevelCommand.resolveRowIdAttrs` requires of
    * row-id attributes. Hidden when the user schema declares a column of
    * the same name (Spark's standard conflict rule). */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(IceLiteMetaColumn("_file", StringType), IceLiteMetaColumn("_pos", LongType))

  /** METADATA-ONLY DELETE (Spark's OptimizeMetadataOnlyDeleteFromTable
    * rewrites the copy-on-write plan back to this when the condition is
    * fully file-provable): accepted only when EVERY current file is
    * all-match or no-match under [[IceTable.metadataDeletePlan]]'s sound
    * tri-state rules — then the delete is one snapshot commit dropping
    * the all-match files, zero data IO (Iceberg's partition-aligned
    * DELETE). Any mixed file → refuse → Spark runs the row-level
    * rewrite instead. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    ice.metadataDeletePlan(filters.toIndexedSeq).isDefined

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val removed = ice.metadataDeletePlan(filters.toIndexedSeq).getOrElse(
      throw new IllegalStateException(
        "deleteWhere invoked on a condition canDeleteWhere rejected"))
    if (removed.nonEmpty) {
      val t = ice.commitReplaceScanned(removed, Nil, "delete")
      onCommit.foreach(_(t))
    }
  }

  override def name(): String = s"icelite.${md.namespace}.${md.name}"
  // file-source read semantics: every column is nullable at read time —
  // an evolved column is physically ABSENT from pre-evolution files, so
  // nulls can always surface regardless of the declared required flag
  // (Spark's own parquet relation applies the same asNullable coercion;
  // without it, codegen NPEs on the first evolved read)
  override def schema(): StructType =
    StructType(md.schema.fields.map(_.copy(nullable = true)))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
  override def partitioning(): Array[Transform] =
    md.partitionCols.map(Expressions.identity(_)).toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IceLiteScanBuilder(ice, md, snap, files,
      maxSnaps = Option(options.get("maxsnapshotspertrigger")).map(_.toInt))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new IceLiteWriteBuilder(ice, info, onCommit)

  /** SQL `DELETE FROM` / `UPDATE` / `MERGE INTO`. Two execution modes,
    * chosen per-operation (Iceberg's `write.delete.mode` concept):
    *  - `copy-on-write` (default): group-based rewrite of affected FILES
    *    (see [[IceLiteRowLevelOperation]]) — read-optimized, write cost
    *    proportional to affected data.
    *  - `merge-on-read`: a [[SupportsDelta]] operation that writes only
    *    POSITION DELETE files keyed by the `_file`/`_pos` metadata
    *    columns (see [[IceLiteDeltaOperation]]) — write cost proportional
    *    to affected ROWS, readers apply the deletes until compaction.
    * Mode resolves from the table load option `delete-mode`, else the
    * session conf `graft.delete.mode`, else copy-on-write. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val mode = deleteMode
      .orElse(Option(SparkSession.active.conf.get("graft.delete.mode", null)))
      .getOrElse("copy-on-write")
    mode match {
      case "merge-on-read" => new IceLiteDeltaBuilder(ice, md, snap, info, onCommit)
      case "copy-on-write" => new IceLiteRowLevelBuilder(ice, md, snap, info, onCommit)
      case other => throw new IllegalArgumentException(
        s"unknown delete mode '$other' (expected copy-on-write | merge-on-read)")
    }
  }
}

object IceLiteV2Table {
  /** The table at `ice`'s current snapshot, from one metadata read. */
  def current(ice: IceTable, onCommit: Option[IceTable => Unit] = None): IceLiteV2Table = {
    val md = ice.metadata
    new IceLiteV2Table(ice, md, md.currentSnapshot, onCommit)
  }
}

/** One `_file`-style metadata column (named param avoids the anonymous-
  * impl name-shadowing trap with interface accessors). */
final case class IceLiteMetaColumn(colName: String, dt: DataType)
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def name(): String = colName
  override def dataType(): DataType = dt
  override def isNullable: Boolean = false
}

final class IceLiteScanBuilder(
    ice: IceTable,
    md: TableMetadata,
    snap: Option[Snapshot],
    files: Option[Seq[String]] = None,
    onBuild: Scan => Unit = _ => (),
    maxSnaps: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var required: StructType = md.schema
  private var pushed: Array[Filter] = Array.empty
  private var countPushed = false
  private var limit: Option[Int] = None

  /** Partial limit pushdown: readers stop emitting after `n` rows per
    * partition (returning false keeps Spark's final Limit in the plan,
    * which is required — file-parallel partitions each honor n). */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

  /** Metadata-only COUNT(*): answered from the manifests' record counts
    * with ZERO data-file IO (Iceberg answers the same query from its
    * manifest record_count field; ic48 gates the library-call twin).
    * Accepted only for ungrouped CountStar with no residual filters and a
    * complete row-count record — anything else falls back to a real scan. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    canPushCount(aggregation)

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    countPushed = canPushCount(aggregation)
    countPushed
  }

  private def canPushCount(aggregation: Aggregation): Boolean =
    pushed.isEmpty &&
      aggregation.groupByExpressions.isEmpty &&
      aggregation.aggregateExpressions.length == 1 &&
      aggregation.aggregateExpressions.head.isInstanceOf[CountStar] &&
      rowCount.isDefined

  // the manifests' record count of the snapshot, or of its pinned files
  private lazy val rowCount: Option[Long] = snap.flatMap(sn =>
    files.fold(ice.statsRowCount(sn))(fs => ice.statsRowCountForFiles(sn, fs.toSet)))

  /** Accept single-column comparison filters for FILE-granular pruning;
    * everything is returned as residual because manifest ranges can never
    * prove a row-level predicate (same contract as parquet row-group
    * stats: skip what can't match, re-check what might). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(usableForPruning)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  private def usableForPruning(f: Filter): Boolean = f match {
    case EqualTo(_, v)            => isLit(v)
    case GreaterThan(_, v)        => isLit(v)
    case GreaterThanOrEqual(_, v) => isLit(v)
    case LessThan(_, v)           => isLit(v)
    case LessThanOrEqual(_, v)    => isLit(v)
    // a prefix is a range on string bounds: [prefix, successor(prefix)] —
    // sound on TRUNCATED manifest bounds too (truncation only widens the
    // recorded range, so the overlap test stays conservative)
    case StringStartsWith(_, p)   => p != null && p.nonEmpty
    case _                        => false
  }

  private def isLit(v: Any): Boolean = v match {
    case null => false
    case _: String | _: java.lang.Integer | _: java.lang.Long | _: java.lang.Double |
        _: java.lang.Float | _: java.lang.Short | _: java.lang.Byte | _: java.lang.Boolean => true
    case _ => false
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    if (countPushed) {
      val cs = new IceLiteCountScan(rowCount.get)
      onBuild(cs)
      return cs
    }
    // fold pushed filters into per-column [lower, upper] bounds: the
    // first lower and the first upper bound of a column win, so
    // `BETWEEN a AND b` prunes on both ends; later ones stay row-level
    // residuals — sound because every pushed filter is a conjunct, and
    // pruning on fewer of them only widens what survives
    val bounds = mutable.LinkedHashMap.empty[String, (Option[String], Option[String])]
    def add(c: String, lo: Option[String], hi: Option[String]): Unit = {
      val (lo0, hi0) = bounds.getOrElse(c, (None, None))
      bounds(c) = (lo0.orElse(lo), hi0.orElse(hi))
    }
    pushed.foreach {
      case EqualTo(c, v)            => add(c, Some(v.toString), Some(v.toString))
      case GreaterThan(c, v)        => add(c, Some(v.toString), None)
      case GreaterThanOrEqual(c, v) => add(c, Some(v.toString), None)
      case LessThan(c, v)           => add(c, None, Some(v.toString))
      case LessThanOrEqual(c, v)    => add(c, None, Some(v.toString))
      // successor(p) is an EXCLUSIVE upper bound; the scan treats hi
      // inclusively, which keeps at most one extra boundary file — sound
      case StringStartsWith(c, p)   => add(c, Some(p), IcebergMorScan.prefixSuccessor(p))
      case _                        =>
    }
    val s = new IceLiteScan(ice, md, snap, files, required, bounds.toMap, pushed, limit, maxSnaps)
    onBuild(s)
    s
  }
}

/** Pushed-down ungrouped COUNT(*): one partition, one row, straight from
  * the manifests' record counts — the scan never touches a data file. */
final class IceLiteCountScan(rows: Long) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def description(): String =
    s"icelite metadata-only count rows=$rows (no data files read)"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(IceLiteCountPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean = if (done) false else { done = true; true }
          override def get(): InternalRow =
            new GenericInternalRow(Array[Any](p.asInstanceOf[IceLiteCountPartition].rows))
          override def close(): Unit = ()
        }
    }
}

final case class IceLiteCountPartition(rows: Long) extends InputPartition

/** One scan = one snapshot's pruned file list. Also the Batch (stateless). */
final class IceLiteScan(
    ice: IceTable,
    md: TableMetadata,
    snap: Option[Snapshot],
    files: Option[Seq[String]],
    required: StructType,
    bounds: Map[String, (Option[String], Option[String])],
    pushed: Array[Filter],
    limit: Option[Int] = None,
    maxSnaps: Option[Int] = None)
    extends Scan with Batch with SupportsReportPartitioning with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  private val partCols = md.partitionCols

  /** A bound on a column the file's path carries is applied to the path
    * value (exact, directory-granular); a file whose path lacks the
    * segment is left to stats pruning. */
  private def pathHit(rel: String): Boolean = {
    val kv = IceLiteScan.pathValues(rel)
    bounds.forall { case (col, (lo, hi)) =>
      kv.get(col).forall { raw =>
        val dt = md.schema.fields.find(_.name == col).map(_.dataType).getOrElse(StringType)
        val v  = IceLiteScan.unescapePath(raw)
        if (v == IceLiteScan.HiveNullPart) false // bounded col: null can't match a comparison
        else {
          val cmp = BoundOrder.of(dt)
          lo.forall(l => cmp(v, l) >= 0) && hi.forall(h => cmp(v, h) <= 0)
        }
      }
    }
  }

  // planned once: stats-pruned (every bound; a hive file's stats record
  // its path value) then path-pruned, within the pinned files if any
  private lazy val totalFiles: Int =
    files.map(_.size).getOrElse(snap.map(ice.filesOf(_).size).getOrElse(0))
  private lazy val staticSurvivors: Seq[String] = snap match {
    case None => Nil
    case Some(sn) =>
      val planned = files match {
        case Some(pin) if bounds.isEmpty => pin
        case Some(pin) =>
          val keep = pin.toSet
          ice.planFilesBounds(md, sn, bounds).filter(keep)
        case None => ice.planFilesBounds(md, sn, bounds)
      }
      planned.filter(pathHit)
  }

  /** The columns the survivors' paths lay out (see [[IceLiteScan.layoutOf]]):
    * the reader's per-file constants, and the partition key. */
  private lazy val layout: Seq[String] =
    IceLiteScan.layoutOf(staticSurvivors, partCols, md.schema)

  // key-grouped only when every survivor sits under the current layout
  // and no other: then every file's key is its partition's value
  private lazy val keyGrouped: Boolean =
    partCols.nonEmpty && layout == partCols && staticSurvivors.forall { rel =>
      val kv = IceLiteScan.pathValues(rel)
      partCols.forall(kv.contains)
    }

  // ------------------------------------------------ runtime (join) pruning

  /** Join-driven dynamic partition pruning (SupportsRuntimeFiltering): at
    * execution time Spark hands back In/EqualTo filters on the partition
    * columns derived from the OTHER join side's actual keys, and the scan
    * drops whole partition directories before any reader opens — Spark's
    * DPP re-expressed over OUR table metadata. Unrecognized runtime
    * filters prune nothing (conservative). */
  @volatile private var runtimeKept: Map[String, Set[String]] = Map.empty

  override def filterAttributes(): Array[NamedReference] =
    partCols.map(c => Expressions.column(c)).toArray

  override def filter(filters: Array[Filter]): Unit = {
    val kept = filters.flatMap {
      case In(c, vs) if partCols.contains(c) =>
        Some(c -> vs.filter(_ != null).map(_.toString).toSet)
      case EqualTo(c, v) if partCols.contains(c) && v != null =>
        Some(c -> Set(v.toString))
      case _ => None
    }.toMap
    if (kept.nonEmpty) runtimeKept = kept
  }

  // a file whose path lacks a filtered column's segment is kept
  private def runtimeHit(rel: String): Boolean = {
    val kv = IceLiteScan.pathValues(rel)
    runtimeKept.forall { case (c, vs) =>
      kv.get(c).forall(raw => vs.contains(IceLiteScan.unescapePath(raw)))
    }
  }

  // planning-state memoization: description()/estimateStatistics()/
  // outputPartitioning()/planInputPartitions() each consult the survivor
  // set, and Spark calls them several times per query — without caching
  // that's O(files) path work repeated per call. The static portion never
  // changes; re-filter only when a NEW runtime filter map arrives
  // (runtimeKept is written at most once, before planInputPartitions).
  @volatile private var survivorsCache: (AnyRef, Seq[String]) = null
  private def survivors: Seq[String] = {
    val rk = runtimeKept
    val c  = survivorsCache
    if (c != null && (c._1 eq rk)) c._2
    else {
      val s = if (rk.isEmpty) staticSurvivors else staticSurvivors.filter(runtimeHit)
      survivorsCache = (rk, s)
      s
    }
  }

  @volatile private var partitionsCache: (AnyRef, Array[InputPartition]) = null
  private def partitions: Array[InputPartition] = {
    val rk = runtimeKept
    val c  = partitionsCache
    if (c != null && (c._1 eq rk)) c._2
    else {
      val p = buildPartitions(survivors)
      partitionsCache = (rk, p)
      p
    }
  }

  // manifest entry lookup for ranged-split gating (sizes + split offsets
  // recorded at write time — zero planning IO)
  private lazy val entryByFile =
    snap.toSeq.flatMap(ice.entriesOf).map(e => e.file -> e).toMap

  /** Oversized files whose manifests recorded size + split offsets fan
    * out into row-group-aligned ranged partitions (`_pos` is Spark's
    * file-global row index, so position deletes apply the same in every
    * split). Only files outside any partition are split: HasPartitionKey
    * requires distinct keys across partitions, which splitting a keyed
    * partition would violate. */
  private def buildPartitions(surv: Seq[String]): Array[InputPartition] = {
    val loc = ice.location.toString
    val target = SparkSession.active.conf.get("graft.split.size",
      IcebergMorScan.DefaultSplitBytes.toString).toLong
    IceLiteScan.inputPartitions(loc, surv, layout, md.schema, split = rel =>
      for {
        e    <- entryByFile.get(rel)
        sz   <- e.sizeBytes if target > 0 && sz >= 2 * target
        offs <- e.splitOffsets
        ps   <- IcebergMorScan.rangedFromOffsets(s"$loc/$rel", sz, offs, target, null, 0L)
      } yield ps)
  }

  /** The table-relative paths this scan reads — for a row-level (ReplaceData)
    * operation these ARE the replaced groups: the write's commit swaps
    * exactly this set for the staged rewrite. Evaluated at COMMIT time so
    * any runtime group filtering that narrowed the scan narrows the
    * replacement identically. */
  private[sources] def replacedFiles: Set[String] = survivors.toSet

  /** The data files this scan reads after manifest and pushed-filter
    * pruning, as absolute paths ([[IcebergFormat.inputFiles]]). */
  private[graft] def inputFiles: Seq[String] = survivors.map(rel => s"${ice.location}/$rel")

  override def readSchema(): StructType = required

  override def description(): String = {
    val b = bounds.map { case (c, (lo, hi)) =>
      s"$c in [${lo.getOrElse("-inf")}, ${hi.getOrElse("+inf")}]"
    }.mkString(", ")
    s"icelite ${md.namespace}.${md.name} files=${survivors.size}/$totalFiles" +
      (if (b.nonEmpty) s" prunedBy=[$b]" else "")
  }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = partitions

  /** Report key-grouped layout only when every partition column survives
    * column pruning (the keys must resolve against the scan output). */
  override def outputPartitioning(): Partitioning =
    if (keyGrouped && partCols.forall(required.fieldNames.contains))
      new KeyGroupedPartitioning(
        partCols.map(c => Expressions.identity(c)).toArray, partitions.length)
    else new UnknownPartitioning(partitions.length)

  /** Manifest row counts → planner statistics: with real numRows and a
    * schema-width sizeInBytes estimate, Spark's own join planning can pick
    * a broadcast join for a small IceLite table WITHOUT a broadcast()
    * hint — the CBO input a 100 TB star join needs. (A V2 relation with
    * no statistics defaults to conf.defaultSizeInBytes = huge = SMJ.) */
  override def estimateStatistics(): Statistics = {
    val rowsOpt = snap.flatMap(sn => ice.statsRowCountForFiles(sn, survivors.toSet))
    val width = required.fields.map(_.dataType match {
      case StringType => 24L
      case LongType | DoubleType | TimestampType | TimestampNTZType => 8L
      case IntegerType | DateType | FloatType => 4L
      case BooleanType => 1L
      case _ => 16L
    }).sum.max(8L)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        rowsOpt.map(r => java.util.OptionalLong.of(math.max(r, 1L) * width))
          .getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        rowsOpt.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
    }
  }

  // built once per scan: the driver-side parquet reader setup and the
  // position-delete read are not free, and Spark's physical planning asks
  // for the factory more than once
  private lazy val readerFactory =
    IceLiteReaderFactory(required, layout.toArray, md.scanSchema, limit,
      snap.toSeq.flatMap(IceLiteScan.positionDeletes(ice, _)), Nil, partitionDeletes = false)
  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** `spark.readStream.format("icelite")`: tail the snapshot log as a
    * Structured Streaming source — each micro-batch is exactly the files
    * appended in an (offset, offset] snapshot window (Iceberg's streaming
    * read). Offsets are snapshot ids, so recovery replays a committed
    * window bit-identically. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new IceLiteMicroBatchStream(ice, md.scanSchema, required, maxSnaps)
}

final case class IceLiteOffset(snapshotId: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = snapshotId.toString
}

/** Snapshot-log tailing micro-batch stream: latestOffset re-reads the
  * table metadata (O(1) version walk), planInputPartitions is the
  * manifest DELTA of the window — planning cost O(new commits), never
  * O(table). Commits are tracked by Spark's checkpoint; `commit` is a
  * no-op because snapshots are immutable.
  *
  * Admission control: `option("maxSnapshotsPerTrigger", k)` caps each
  * micro-batch at k snapshot windows — the backfill knob that keeps a
  * catch-up read from planning one giant batch over months of commits.
  * `Trigger.AvailableNow` is supported natively: the target snapshot is
  * pinned at query start, batches advance (rate-limited) to exactly
  * that pin and the query stops — later concurrent commits are left for
  * the next run, as the contract requires.
  *
  * Windows differ in layout (a table's partitioning may evolve between
  * commits) while one reader factory serves them all, so every projected
  * column is read as its path value where a file's path carries one. */
final class IceLiteMicroBatchStream(
    ice: IceTable,
    tableSchema: StructType,
    required: StructType,
    maxSnaps: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private val layout = required.fieldNames.toSeq.filter(tableSchema.fieldNames.contains)
  @volatile private var availableNowTarget: Option[Long] = None

  override def initialOffset(): Offset = IceLiteOffset(0L)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(ice.metadata.current_snapshot_id)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[IceLiteOffset].snapshotId
    val head = availableNowTarget.getOrElse(ice.metadata.current_snapshot_id)
    val end  = maxSnaps.map(k => math.min(head, from + k)).getOrElse(head)
    IceLiteOffset(math.max(end, from))
  }

  override def latestOffset(): Offset =
    IceLiteOffset(ice.metadata.current_snapshot_id)

  override def deserializeOffset(json: String): Offset =
    IceLiteOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[IceLiteOffset].snapshotId
    val to   = end.asInstanceOf[IceLiteOffset].snapshotId
    // The INITIAL batch of a merge-on-read table applies the pinned
    // snapshot's position deletes reader-side (per-file range-pruned
    // bitmaps — same machinery as the batch scan) instead of failing:
    // batch 0 is a snapshot read, so delete application is well-defined.
    // Mid-stream windows crossing a delta snapshot still fail the
    // non-append guard — row-level changes mid-stream are CDC, served by
    // the changelog reader, not a files-appended source.
    val (delta, deletes) =
      ice.metadata.snapshot(to).filter(_ => from == 0L && to > 0L) match {
        case Some(toSnap) if ice.hasDeletes(toSnap) =>
          (ice.filesOf(toSnap), IceLiteScan.positionDeletes(ice, toSnap))
        case _ => (ice.incrementalFiles(from, to), Nil)
      }
    IceLiteScan.inputPartitions(ice.location.toString, delta, layout, tableSchema, deletes)
  }

  // the initial batch's partitions carry the pinned snapshot's deletes
  override def createReaderFactory(): PartitionReaderFactory =
    IceLiteReaderFactory(required, layout.toArray, tableSchema, None, Nil, Nil,
      partitionDeletes = true)

  override def commit(end: Offset): Unit = () // snapshots are immutable
  override def stop(): Unit = ()
}

object IceLiteScan {
  val HiveNullPart = "__HIVE_DEFAULT_PARTITION__"

  /** The `k=v` segments of a table-relative file path: each column the
    * file's hive layout fixes, with its raw (path-escaped) value. */
  private[sources] def pathValues(rel: String): Map[String, String] =
    rel.split('/').iterator.filter(_.contains('=')).map { seg =>
      val i = seg.indexOf('=')
      seg.substring(0, i) -> seg.substring(i + 1)
    }.toMap

  /** The columns `files` are laid out by: the table's current partition
    * columns, then every other column of `schema` some file's path
    * carries — the layout an older file was written under before the
    * table's partitioning evolved. */
  private[sources] def layoutOf(
      files: Seq[String], partCols: Seq[String], schema: StructType): Seq[String] = {
    val carried = files.iterator.flatMap(pathValues(_).keys).toSet
    partCols ++ schema.fieldNames.filter(c => carried(c) && !partCols.contains(c))
  }

  /** Input partitions over table-relative `files` of the table at `loc`,
    * each carrying its files' values of the `layout` columns, taken from
    * the `k=v` segments of each file's own path: null where a path lacks
    * the segment, so the reader falls back to the column stored in the
    * file. Files sharing their values share a partition (sorted by
    * value); a file whose path carries none of them reads as in an
    * unpartitioned table, split by `split` where it can be. `deletes`
    * ride every partition. */
  private[sources] def inputPartitions(
      loc: String,
      files: Seq[String],
      layout: Seq[String],
      schema: StructType,
      deletes: Seq[PositionDeleteFile] = Nil,
      split: String => Option[Seq[InputPartition]] = _ => None): Array[InputPartition] = {
    val types = layout.map(c => schema(c).dataType)
    val (bare, keyed) = files.map { rel =>
      val kv = pathValues(rel)
      rel -> layout.map(kv.get)
    }.partition(_._2.forall(_.isEmpty))
    val whole = bare.flatMap { case (rel, _) =>
      split(rel).getOrElse(Seq(IceLitePartition(Array(s"$loc/$rel"), null, deletes)))
    }
    val grouped = keyed.groupBy(_._2).toSeq.sortBy(_._1.map(_.getOrElse("")).mkString("/"))
      .map { case (vals, fs) =>
        val key = new GenericInternalRow(vals.zip(types).map {
          case (v, dt) => v.map(partToCatalyst(_, dt)).orNull
        }.toArray)
        IceLitePartition(fs.map { case (rel, _) => s"$loc/$rel" }.toArray, key, deletes)
      }
    (whole ++ grouped).toArray
  }

  /** Live position-delete files of `snap`, each with the data-file path
    * range it can touch (from its manifest stats): readers open a delete
    * file only for data files inside that range. */
  private[sources] def positionDeletes(ice: IceTable, snap: Snapshot): Seq[PositionDeleteFile] =
    ice.deleteEntriesOf(snap).map { e =>
      val fp = e.stats.flatMap(_.get("file_path"))
      PositionDeleteFile(new org.apache.hadoop.fs.Path(ice.location, e.file).toString,
        fp.flatMap(_.min), fp.flatMap(_.max))
    }

  /** Minimal hive path unescape (%XX sequences; malformed %-runs pass
    * through literally, matching Spark's lenient behavior). */
  def unescapePath(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i  = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length && isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')

  /** Hive path partition value -> Catalyst value for the 8-primitive surface. */
  def partToCatalyst(raw: String, dt: DataType): Any = {
    val v = unescapePath(raw)
    if (v == HiveNullPart) null
    else dt match {
      case StringType    => UTF8String.fromString(v)
      case IntegerType   => v.toInt
      case LongType      => v.toLong
      case DoubleType    => v.toDouble
      case FloatType     => v.toFloat
      case BooleanType   => v.toBoolean
      case DateType      => java.time.LocalDate.parse(v).toEpochDay.toInt
      case TimestampType =>
        // session-timezone, microsecond-precision semantics (Spark's own
        // partition-value parsing) — java.sql.Timestamp.valueOf would use
        // the JVM default zone at millis, shifting keys on non-UTC JVMs
        org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToTimestamp(
          UTF8String.fromString(v),
          org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
            org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
          .getOrElse(throw new IllegalArgumentException(
            s"unparseable timestamp partition value '$v'"))
      case TimestampNTZType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .stringToTimestampWithoutTimeZone(UTF8String.fromString(v))
          .getOrElse(throw new IllegalArgumentException(
            s"unparseable timestamp_ntz partition value '$v'"))
      case other => throw new UnsupportedOperationException(s"partition type $other")
    }
  }
}

/** All files of one partition value (or one file, unpartitioned). The key
  * makes storage-partitioned joins possible (HasPartitionKey contract:
  * distinct keys across partitions, rows grouped by key). `deletes`
  * carries partition-scoped position-delete files for plans whose reader
  * factory can't know them up front (the streaming initial batch of a
  * merge-on-read table); batch scans pass them factory-wide instead. */
final case class IceLitePartition(
    files: Array[String],
    key: InternalRow,
    deletes: Seq[PositionDeleteFile] = Nil,
    ranges: Seq[IceLiteFileRange] = Nil, // aligned with `files` when non-empty
    seqs: Seq[Long] = Nil, // per-file data sequence numbers (equality-delete ordering)
    firstRowIds: Seq[Option[Long]] = Nil) // v3 row lineage: per-file implicit-id base
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** A byte slice [start, end) of one parquet file. Spark's parquet reader
  * reads the row groups whose midpoint falls in it and reports each row's
  * file-global index, so `_pos` (and therefore position-delete
  * application) is the same whichever split reads a row. Lets one
  * oversized file fan out to many tasks instead of serializing on a
  * single reader. */
final case class IceLiteFileRange(start: Long, end: Long)

/** Hadoop Configuration isn't Serializable; standard writable-based wrapper. */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = { out.defaultWriteObject(); value.write(out) }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject(); value = new Configuration(false); value.readFields(in)
  }
}

/** One live merge-on-read position-delete file with the data-file path
  * range it can touch (from its manifest stats): a reader opens it only
  * for data files inside the range, so delete-application IO tracks the
  * deletes' blast radius, never the table. */
final case class PositionDeleteFile(
    path: String,
    minFp: Option[String],
    maxFp: Option[String],
    // v3 deletion vector: (blob offset, blob size, referenced data file).
    // Set => `path` is a Puffin file and the vector applies to exactly
    // the referenced file (no range semantics).
    dv: Option[(Long, Long, String)] = None,
    // data sequence number (Iceberg spec): the delete applies only to
    // data files at most this new, so a path a delete names before the
    // file exists keeps its rows; None applies to every covered file
    seq: Option[Long] = None)

/** One live merge-on-read EQUALITY-delete file (spec content 2): its rows
  * are delete KEYS over `keyCols`, applied to data files whose data
  * sequence number is STRICTLY older than `seq` (the spec's ordering —
  * a row re-inserted after the delete survives). Column names are
  * resolved from `equality_ids` at planning, so the executor never needs
  * the field-id table. */
final case class EqualityDeleteFile(
    path: String,
    seq: Long,
    keyCols: Seq[String])

/** Per-scan reader factory. Spark's own parquet reader
  * (`ParquetFileFormat`, vectorized where the schema allows) decodes every
  * data and delete file; its reader functions are built once per scan on
  * the driver and run on the executors. The partition reader keeps only
  * the table-format work that reader does not know: position deletes and
  * deletion vectors, equality deletes, the `_file` / `_pos` / `_row_id` /
  * `_last_updated_sequence_number` metadata columns, partition constants
  * and the pushed limit.
  *
  * `read` returns rows of the scan's read schema: the projected table
  * columns, any equality-delete key columns beyond them, the physical
  * lineage columns when those are requested, and Spark's row index when
  * positions matter. `output` and `eqKeys` are bound over that row joined
  * with a per-file constant row: `_file`, the file's first row id, its
  * data sequence number, then one value per partition column. A null
  * `output` means the read rows already are the scan's rows. `_file` is
  * the file's full path on a spec-format scan (`absoluteFile`), which is
  * what the spec's position deletes name, and its manifest-relative path
  * on an IceLite scan. */
final class IceLiteReaderFactory private (
    private[sources] val read: PartitionedFile => Iterator[InternalRow],
    private[sources] val readDeletes: Option[PartitionedFile => Iterator[InternalRow]],
    private[sources] val readEqDeletes: Map[Seq[String], PartitionedFile => Iterator[InternalRow]],
    private[sources] val output: Seq[Expression],
    private[sources] val eqKeys: Map[Seq[String], Seq[Expression]],
    private[sources] val posOrdinal: Int,
    private[sources] val partTypes: Array[DataType],
    private[sources] val limit: Option[Int],
    private[sources] val deletes: Seq[PositionDeleteFile],
    private[sources] val eqDeletes: Seq[EqualityDeleteFile],
    private[sources] val absoluteFile: Boolean)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new IceLitePartitionReader(this, partition.asInstanceOf[IceLitePartition])
}

object IceLiteReaderFactory {
  /** `_file`, first row id, data sequence number; partition values follow. */
  private[sources] val FileConstants = 3

  private val MetaColumns = Set("_file", "_pos", "_row_id", "_last_updated_sequence_number")
  private val LineageColumns = Seq("_row_id", "_last_updated_sequence_number")
  private val RowIndex = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Manifest-relative path of an absolute data-file path (anchored at the
    * `data/snap-` segment every committed file lives under) — the `_file`
    * value an IceLite scan emits for that file. */
  private[sources] def relOf(full: String): String = {
    val i = full.indexOf("/data/snap-")
    if (i >= 0) full.substring(i + 1) else full
  }

  /** Build the scan's reader functions and row layout. `tableSchema`
    * carries `parquet.field.id` metadata on a rename/drop-evolved table:
    * its columns then bind by id under [[IcebergFormat.idReadSession]],
    * and a data file without ids fails loudly (Spark's
    * `fieldId.read.ignoreMissing` is false). `partitionDeletes` is true
    * when partitions may carry their own position-delete files. */
  def apply(
      required: StructType,
      partCols: Array[String],
      tableSchema: StructType,
      limit: Option[Int],
      deletes: Seq[PositionDeleteFile],
      eqDeletes: Seq[EqualityDeleteFile],
      partitionDeletes: Boolean,
      absoluteFile: Boolean = false): IceLiteReaderFactory = {
    val spark   = SparkSession.active
    val byId    = tableSchema.fields.exists(_.metadata.contains("parquet.field.id"))
    val session = if (byId) IcebergFormat.idReadSession(spark) else spark
    // `_file`/`_pos`/... are metadata only when the table declares no
    // column of that name (Spark hides the metadata column on conflict)
    def isMeta(n: String) = MetaColumns(n) && !tableSchema.fieldNames.contains(n)
    def tableField(n: String): StructField = tableSchema.fields.find(_.name == n)
      .getOrElse(throw new NoSuchElementException(s"column $n not in table schema"))
      .copy(nullable = true)
    val meta    = required.fieldNames.filter(isMeta)
    val needPos = meta.exists(n => n == "_pos" || n == "_row_id") ||
      deletes.nonEmpty || partitionDeletes
    val dataCols = (required.fieldNames.filterNot(isMeta) ++ eqDeletes.flatMap(_.keyCols)).distinct
    // a nested column Spark pruned reads as its pruned type: the scan's
    // output binds subfields by position in `required`
    def readField(n: String): StructField = required.find(_.name == n)
      .fold(tableField(n))(r => tableField(n).copy(dataType = r.dataType))
    // lineage columns decode physically where a rewrite materialized
    // them; Spark reads them as null from files that lack them
    val readSchema = StructType(dataCols.map(n => withExistenceDefault(readField(n))) ++
      LineageColumns.filter(meta.contains).map(StructField(_, LongType)) ++
      (if (needPos) Seq(StructField(RowIndex, LongType)) else Nil))

    val nRead = readSchema.length
    def readRef(n: String): Expression = {
      val i = readSchema.fieldIndex(n)
      BoundReference(i, readSchema(i).dataType, nullable = true)
    }
    def constRef(i: Int, dt: DataType): Expression = BoundReference(nRead + i, dt, nullable = true)
    // a partition column's non-null value IS the column's value in every
    // file of that partition (identity partitioning), so it fills files
    // that omit the column; under a null partition value the file's own
    // column wins, or its `initial-default` when the file lacks it
    def value(n: String): Expression = partCols.indexOf(n) match {
      case -1 => readRef(n)
      case i  => Coalesce(Seq(constRef(FileConstants + i, readSchema(n).dataType), readRef(n)))
    }
    val output = required.fieldNames.toSeq.map {
      case n @ "_file" if isMeta(n) => constRef(0, StringType)
      case n @ "_pos" if isMeta(n)  => readRef(RowIndex)
      case n @ "_row_id" if isMeta(n) =>
        Coalesce(Seq(readRef(n), Add(constRef(1, LongType), readRef(RowIndex))))
      case n @ "_last_updated_sequence_number" if isMeta(n) =>
        Coalesce(Seq(readRef(n), constRef(2, LongType)))
      case n => value(n)
    }
    val passThrough = output.length == nRead && output.zipWithIndex.forall {
      case (b: BoundReference, i) => b.ordinal == i
      case _                      => false
    }
    val keySets = eqDeletes.map(_.keyCols).distinct
    new IceLiteReaderFactory(
      parquetReader(session, readSchema),
      if (deletes.nonEmpty || partitionDeletes)
        Some(parquetReader(spark, IceTable.PositionDeleteSchema))
      else None,
      // non-null key columns: a delete file that lacks one fails loudly
      keySets.map(k => k -> parquetReader(session,
        StructType(k.map(tableField(_).copy(nullable = false))))).toMap,
      if (passThrough) null else output,
      keySets.map(k => k -> k.map(value)).toMap,
      if (needPos) readSchema.fieldIndex(RowIndex) else -1,
      partCols.map(tableField(_).dataType),
      limit, deletes, eqDeletes, absoluteFile)
  }

  private def parquetReader(session: SparkSession, schema: StructType)
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(session, schema, new StructType(),
      schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      session.sessionState.newHadoopConf())

  /** v3 `initial-default` (carried as `graft.initial-default` JSON by
    * IcebergMorV2Table.schema()) as Spark's existence default: both of
    * Spark's parquet readers fill it for files that lack the column, and
    * files that carry it keep their explicit nulls. */
  private def withExistenceDefault(f: StructField): StructField =
    if (!f.metadata.contains("graft.initial-default")) f
    else {
      val v = IcebergFormat.decodeDefault(f.dataType,
        org.json4s.jackson.JsonMethods.parse(f.metadata.getString("graft.initial-default")))
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putString(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY,
          Literal.create(v, f.dataType).sql).build())
    }
}

final class IceLitePartitionReader(f: IceLiteReaderFactory, partition: IceLitePartition)
    extends PartitionReader[InternalRow] {

  private val deletes = f.deletes ++ partition.deletes // factory-wide + partition-scoped
  private val consts  = new GenericInternalRow(IceLiteReaderFactory.FileConstants + f.partTypes.length)
  private val joined  = new JoinedRow()
  private val project: InternalRow => InternalRow =
    if (f.output == null) identity
    else {
      val p = UnsafeProjection.create(f.output)
      r => p(joined(r, consts))
    }
  private val keyProjections = f.eqKeys.map { case (k, es) => k -> UnsafeProjection.create(es) }

  private var fileIdx = 0
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var delSet: java.util.BitSet = _ // null = no deletes touch this file
  // the equality deletes applicable to the current file, each as (key
  // projection of a data row, key set of the delete file)
  private var eqChecks: Seq[(UnsafeProjection, java.util.Set[UnsafeRow])] = Nil
  private var emitted = 0L
  private var current: InternalRow = _

  // equality-delete key sets, loaded at most once per task and shared
  // across the partition's data files (the per-task "delete index")
  private val eqKeyCache = mutable.Map.empty[String, java.util.Set[UnsafeRow]]

  private def wholeFile(path: String): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), 0L, Long.MaxValue)

  private def closeRows(it: Iterator[InternalRow]): Unit = it match {
    case c: java.io.Closeable => c.close()
    case _                    =>
  }

  /** Key rows of equality-delete file `d`, typed like the table columns
    * the data rows' keys come from (null keys match null values, the
    * spec's null-safe equality). */
  private def loadEqKeys(d: EqualityDeleteFile): java.util.Set[UnsafeRow] =
    eqKeyCache.getOrElseUpdate(d.path, {
      IceLiteSource.deleteFilesOpened.increment()
      val key = UnsafeProjection.create(f.eqKeys(d.keyCols).zipWithIndex.map { case (e, i) =>
        BoundReference(i, e.dataType, nullable = true): Expression
      })
      val out = new java.util.HashSet[UnsafeRow]()
      val it  = f.readEqDeletes(d.keyCols)(wholeFile(d.path))
      try it.foreach(r => out.add(key(r).copy())) finally closeRows(it)
      out
    })

  /** Deleted positions of data file `path` (`_file` value `rel`, data
    * sequence number `seq`) as a bitmap, or null when no delete file's
    * path range covers it. Bounded work: only covering delete files are
    * opened (range-pruned), and the bitmap holds only this file's deleted
    * positions — the per-task "delete index" shape Iceberg MoR readers
    * use. A delete names the file either by `rel` (IceLite deltas write
    * `_file`) or by its full path (spec writers and deletion
    * vectors), and scheme-insensitively: writers record one local file as
    * `file:/x`, `file:///x` or `/x`. */
  private def loadDeletes(path: String, rel: String, seq: Option[Long]): java.util.BitSet = {
    def strip(s: String) =
      if (s.indexOf(":/") < 0) s else s.replaceFirst("^[a-z][a-z0-9+.-]*:/+", "/")
    val names = Seq(strip(rel), strip(path)).distinct
    // v3 deletion vectors match their referenced file EXACTLY (fields
    // 143-145); parquet delete files match by their recorded path range.
    // When multiple vectors name the file, older ones are subsets of the
    // newest (the v3 superset contract), so OR-ing all of them equals
    // applying the newest.
    val covering = deletes.filter { d =>
      d.seq.forall(ds => seq.forall(_ <= ds)) && (d.dv match {
        case Some((_, _, ref)) => names.contains(strip(ref))
        case None => names.exists { n =>
          d.minFp.forall(lo => BoundOrder.compareStrings(strip(lo), n) <= 0) &&
            d.maxFp.forall(hi => BoundOrder.compareStrings(n, strip(hi)) <= 0)
        }
      })
    }
    if (covering.isEmpty) return null
    val bs = new java.util.BitSet()
    def mark(p: Long): Unit = {
      require(p >= 0 && p <= Int.MaxValue.toLong, s"delete position $p out of bitmap range")
      bs.set(p.toInt)
    }
    val forms = (Seq(rel, path) ++ names.flatMap(n =>
      n +: (if (n.startsWith("/")) Seq(s"file:$n", s"file://$n") else Nil)))
      .distinct.map(UTF8String.fromString).toArray
    covering.foreach { d =>
      IceLiteSource.deleteFilesOpened.increment()
      d.dv match {
        case Some((off, sz, _)) =>
          val it = graft.icelite.DeletionVectors.readBitmap(d.path, off, sz).getLongIterator
          while (it.hasNext) mark(it.next())
        case None =>
          val it = f.readDeletes.get(wholeFile(d.path))
          try it.foreach { r =>
            val fp = r.getUTF8String(0)
            if (forms.exists(_ == fp)) mark(r.getLong(1))
          }
          finally closeRows(it)
      }
    }
    if (bs.isEmpty) null else bs
  }

  private def openNextFile(): Boolean = {
    if (fileIdx >= partition.files.length) return false
    val i    = fileIdx
    val path = partition.files(i)
    fileIdx += 1
    IceLiteSource.filesOpened.increment()
    val rel = IceLiteReaderFactory.relOf(path)
    // data sequence number: only equality deletes STRICTLY newer than the
    // file apply (a restated row survives), position deletes at least as
    // new; files planned without one (non-MoR paths) never see equality
    // deletes
    val seq = partition.seqs.lift(i)
    consts.update(0, UTF8String.fromString(if (f.absoluteFile) path else rel))
    consts.update(1, partition.firstRowIds.lift(i).flatten.map(Long.box).orNull)
    consts.update(2, seq.map(Long.box).orNull)
    f.partTypes.indices.foreach { j =>
      consts.update(IceLiteReaderFactory.FileConstants + j,
        if (partition.key == null) null else partition.key.get(j, f.partTypes(j)))
    }
    delSet = loadDeletes(path, rel, seq)
    eqChecks = f.eqDeletes.filter(d => seq.exists(d.seq > _))
      .map(d => (keyProjections(d.keyCols), loadEqKeys(d)))
    val range = partition.ranges.lift(i)
    rows = f.read(range.fold(wholeFile(path))(r =>
      PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), r.start, r.end - r.start)))
    true
  }

  private def live(r: InternalRow): Boolean =
    (delSet == null || {
      val p = r.getLong(f.posOrdinal)
      p > Int.MaxValue.toLong || !delSet.get(p.toInt)
    }) && (eqChecks.isEmpty || {
      joined(r, consts)
      !eqChecks.exists { case (key, keys) => keys.contains(key(joined)) }
    })

  override def next(): Boolean = {
    if (f.limit.exists(emitted >= _)) return false // pushed partial limit
    while (true) {
      while (rows.hasNext) {
        val r = rows.next()
        if (live(r)) { current = project(r); emitted += 1; return true }
      }
      closeRows(rows)
      rows = Iterator.empty
      if (!openNextFile()) return false
    }
    false
  }

  override def get(): InternalRow = current

  override def close(): Unit = { closeRows(rows); rows = Iterator.empty }
}
