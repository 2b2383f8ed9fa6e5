package graft.sources

import graft.icelite.{IceTable, IcebergFormat}
import graft.icelite.SpecManifests.{FieldSummary, ManifestFile}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Or, StringStartsWith}
import org.apache.spark.sql.types.{BooleanType, DateType, IntegerType, LongType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.Locale

/** The one DSv2 table over a directory in the STANDARD Iceberg v2 format
  * (Avro manifests + metadata JSON — the layout the reference's external
  * tools read: `/root/reference/query_iceberg_minio.ipynb:1119-1180` runs
  * SQL DML against exactly such tables): it reads, streams
  * ([[IcebergMicroBatchStream]]), writes ([[IcebergMorWrite]]) and runs
  * DML. DML is merge-on-read: the `SupportsDelta` operation writes
  * spec-shaped POSITION DELETE files (content 1, `file_path`/`pos` rows)
  * plus ordinary v2-layout data files for UPDATE/MERGE inserts, and
  * [[IcebergFormat.resumeWriter]] commits them as one delta snapshot —
  * every existing data file is carried by pointer, byte-untouched. The
  * batch scan applies the deletes from per-file bitmaps, and it is also
  * the library reader: `IcebergFormat.scan` and its siblings (the DuckDB
  * `iceberg_scan` path, ic21/ic51) are DataFrames over
  * [[IcebergMorV2Table.pinned]].
  *
  * Scope mirrors the resumed-commit surface: flat primitive schemas,
  * including identity/bucket/temporal-partitioned and additively
  * schema-evolved tables (the resumed session restores the full schema +
  * spec histories; delta files carry no partition values, so on a
  * partitioned table they commit under an auxiliary UNPARTITIONED spec
  * entry — [[IcebergFormat.Writer.commitDelta]] — which conforming
  * external engines treat as global/unpruned rather than mispruning a
  * null tuple against the partitioned spec).
  * 100 TB shape: the delta writes O(matched rows), the commit is
  * O(manifests) metadata, the scan prunes files by manifest bounds and
  * partition values before reading, and delete application stays a
  * range-pruned per-file bitmap — never a table rewrite. */
object IcebergMorV2Table {
  /** True when `location` holds standard Iceberg v2 metadata (the
    * `vNNNNN.metadata.json` layout) rather than IceLite's `vN.json`. */
  def isIcebergDir(spark: SparkSession, location: String): Boolean = {
    val meta = new Path(location, "metadata")
    val fs   = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(meta) && {
      val g = fs.globStatus(new Path(meta, "v*.metadata.json"))
      g != null && g.nonEmpty
    }
  }

  /** The table pinned to `metaPath` (the `iceberg_scan(metadata.json)`
    * contract) and, for time travel, to `snapshotId`. `planned` is a plan
    * the caller already pruned to a file subset: scans read exactly its
    * files and deletes instead of planning the manifests again. */
  def pinned(spark: SparkSession, metaPath: String, snapshotId: Option[Long] = None,
      planned: Option[IcebergFormat.TablePlan] = None): IcebergMorV2Table =
    new IcebergMorV2Table(spark, new Path(metaPath).getParent.getParent.toString, Some(metaPath),
      IcebergFormat.planHeader(spark, metaPath), snapshotId, planned)

  def apply(spark: SparkSession, location: String): IcebergMorV2Table =
    pinned(spark, IcebergFormat.currentMetadataPath(spark, location))

  /** The connector's table at `location`: the current one, or, where no
    * table exists yet, an empty one of `schema` (the DataFrame's, field
    * ids 1..n) that its first write creates. */
  def at(spark: SparkSession, location: String, schema: StructType): IcebergMorV2Table =
    if (IcebergFormat.currentVersion(spark, location) > 0) apply(spark, location)
    else {
      val ids = 1 to schema.length
      new IcebergMorV2Table(spark, location, None, IcebergFormat.PlanHeader(schema, ids, Map.empty),
        None, Some(IcebergFormat.TablePlan(schema, ids, Nil, Nil)))
    }
}

final class IcebergMorV2Table private (
    spark: SparkSession,
    location: String,
    metaPath: Option[String], // None before the table's first commit
    // stage-1: ONE metadata-JSON read — schema + identity axes; the full
    // manifest walk is deferred until a scan (which prunes whole manifests
    // by the pushed filters) or a DML op (which needs every file) forces it
    header: IcebergFormat.PlanHeader,
    snapshotId: Option[Long],
    planned: Option[IcebergFormat.TablePlan])
    extends Table with SupportsRead with SupportsWrite with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  private def planWith(keep: ManifestFile => Boolean) =
    planned.getOrElse(IcebergFormat.plan(spark, metaPath.get, snapshotId, keep))
  private[sources] lazy val tablePlan = planWith(_ => true)

  override def name(): String = s"iceberg.$location"
  // read-time nullable coercion, same reasoning as IceLiteV2Table; a
  // rename/drop-evolved table (graft.read-by-id) carries its field ids so
  // the reader binds file columns by id rather than name
  override def schema(): StructType = {
    val base =
      if (header.readById)
        IcebergFormat.withParquetFieldIds(header.schema, header.fieldIds, header.nestedIds)
      else header.schema
    // v3 default values ride StructField metadata so the partition reader
    // can substitute `initial-default` when a file physically lacks the
    // column (presence decides null-vs-default)
    val withDefaults =
      if (header.defaults.isEmpty) base.fields
      else base.fields.zipWithIndex.map { case (f, i) =>
        header.defaults.get(header.fieldIds(i)) match {
          case Some(json) => f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
              .putString("graft.initial-default", json).build())
          case None => f
        }
      }
    StructType(withDefaults.map(_.copy(nullable = true)))
  }
  override def partitioning(): Array[Transform] = Array.empty
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(IceLiteMetaColumn("_file", StringType), IceLiteMetaColumn("_pos", LongType),
      // v3 row lineage: implicit (first_row_id + pos / file seq) unless a
      // rewrite materialized the columns physically — physical wins
      IceLiteMetaColumn("_row_id", LongType),
      IceLiteMetaColumn("_last_updated_sequence_number", LongType))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IcebergMorScanBuilder(location, schema(), header, planWith)

  // rows arrive in this table's column order, so files take its field ids
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new IcebergMorWrite(location, info.schema(),
        header.fieldIds, header.nestedIds,
        metaPath.fold(Seq.empty[(String, String)])(IcebergFormat.defaultSpecIdentityCols(spark, _)),
        created = metaPath.isEmpty, overwrite)
    }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new IcebergMorDeltaOperation(location, schema(), tablePlan, info)
    }
}

/** Batch V2 scan over the planned data files with MANIFEST-LEVEL file
  * skipping: pushed comparison filters prune `p.files` through
  * [[IcebergFormat.fileCanMatch]] (column bounds + partition values)
  * before any partition is planned, so a selective predicate over a
  * 100 TB table reads only the files whose recorded [min, max] can
  * match — the same per-file predicate [[IcebergFormat.planFiles]] uses,
  * and the planning step the reference's pushed reads assume
  * (`blog-zero-cost-data-lakehouse-part-2.md:277-281`). All filters are
  * returned as residuals (bounds can never prove a row-level predicate;
  * Spark re-checks survivors, same contract as parquet row-group stats).
  * Surviving oversized files split into byte-ranged partitions (manifest
  * `sizeBytes` and `split_offsets` decide, no footer is read), and
  * position deletes ride with their manifest `file_path` bounds so the
  * reader opens a delete file only for data files inside its range. */
final class IcebergMorScanBuilder(
    location: String,
    tableSchema: StructType,
    header: IcebergFormat.PlanHeader,
    loadPlan: (ManifestFile => Boolean) => IcebergFormat.TablePlan)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  /** Pre-planned compatibility entry (the row-level-operation scan, which
    * needs every file anyway): no manifest-list pruning, same behavior as
    * handing the full plan directly. */
  def this(location: String, tableSchema: StructType, p: IcebergFormat.TablePlan) =
    this(location, tableSchema, IcebergFormat.PlanHeader(p.schema, p.fieldIds, Map.empty), _ => p)

  // filter translation needs only schema + field ids — no files
  private val predPlan =
    IcebergFormat.TablePlan(header.schema, header.fieldIds, Nil, Nil)

  // the unpruned plan, materialized at most once (count pushdown checks
  // and unfiltered scans share it)
  private lazy val fullPlan = loadPlan(_ => true)

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var countPushed = false
  private var limit: Option[Int] = None

  /** Partial limit pushdown: readers stop emitting after `n`
    * delete-applied rows per partition; returning false keeps Spark's own
    * global LIMIT above (same contract as the IceLite scan). */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Accept filters translatable to FILE-granular pruning predicates
    * (comparisons, IN-lists, string prefixes, AND/OR compositions);
    * everything is returned as residual (manifest ranges skip what can't
    * match, Spark re-checks what might). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => IcebergMorScan.filePredicate(predPlan, f).isDefined)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Metadata-only COUNT(*): the sum of the manifests' required
    * `record_count`s — zero data IO at ANY table size. Sound only when no
    * row-level delete is live (physical counts would over-count) and
    * every file records a positive count; filtered counts never push
    * (bounds can't prove row predicates). Same interlocks as the IceLite
    * scan's ic52 path. */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    countPushed = pushed.isEmpty &&
      aggregation.groupByExpressions.isEmpty &&
      aggregation.aggregateExpressions.length == 1 &&
      aggregation.aggregateExpressions.head
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar] && {
        val p = fullPlan
        p.deletes.isEmpty && p.files.forall(_.rowCount > 0)
      }
    countPushed
  }

  /** Materialize the plan NOW, with manifest-LIST pruning: a data manifest
    * is read only if every pushed filter's summary predicate says its
    * partition summaries (field 507) can match — planning IO on a
    * selective query is O(surviving manifests). */
  override def build(): Scan = {
    if (countPushed) return new IcebergMorCountScan(fullPlan.files.map(_.rowCount).sum)
    val keeps = pushed.flatMap(IcebergMorScan.manifestPredicate(header, _))
    new IcebergMorScan(location, required, tableSchema,
      if (keeps.isEmpty) fullPlan else loadPlan(mh => keeps.forall(_(mh))), pushed, limit)
  }
}

/** Metadata-only COUNT(*) over a standard-format table: one row from the
  * manifests' record_count sums, no data file opened (mirrors
  * [[IceLiteCountScan]]; the builder's interlocks guarantee no live
  * deletes and full counts). */
final class IcebergMorCountScan(rows: Long) extends Scan with Batch {
  override def readSchema(): StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("count(*)", LongType, nullable = false)))
  override def description(): String =
    s"iceberg metadata-only count rows=$rows (no data files read)"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(IceLiteCountPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
        new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean = if (done) false else { done = true; true }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](p.asInstanceOf[IceLiteCountPartition].rows))
          override def close(): Unit = ()
        }
    }
}

object IcebergMorScan {
  /** Stringify a pushed literal for the format layer's pruning compares.
    * Instants (java.sql.Timestamp / java.time.Instant) normalize to UTC
    * ISO — NEVER toString, which renders in session time and could skew a
    * partition boundary; everything else's toString is already canonical
    * (java.sql.Date is ISO, numerics are plain). */
  private[graft] def litStr(v: Any): String = v match {
    case ts: java.sql.Timestamp =>
      java.time.LocalDateTime.ofInstant(ts.toInstant, java.time.ZoneOffset.UTC).toString
    case i: java.time.Instant =>
      java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC).toString
    case other => other.toString
  }

  /** The [column, lower, upper] range a pushable comparison implies, or
    * None when the filter isn't a single-column comparison. */
  private[graft] def pruningRange(f: Filter): Option[(String, Option[String], Option[String])] =
    f match {
      case EqualTo(c, v) if isLit(v)            => Some((c, Some(litStr(v)), Some(litStr(v))))
      case GreaterThan(c, v) if isLit(v)        => Some((c, Some(litStr(v)), None))
      case GreaterThanOrEqual(c, v) if isLit(v) => Some((c, Some(litStr(v)), None))
      case LessThan(c, v) if isLit(v)           => Some((c, None, Some(litStr(v))))
      case LessThanOrEqual(c, v) if isLit(v)    => Some((c, None, Some(litStr(v))))
      case _                                    => None
    }

  /** Translate a pushed filter to a per-file pruning predicate over the
    * plan's manifest evidence, or None when the filter can't prune at
    * file granularity (it then stays residual-only). Beyond single
    * comparisons: IN-lists (union of point ranges — a file survives if
    * ANY value can match), string prefixes (a prefix is a range on string
    * bounds: [prefix, successor(prefix)]), and AND/OR composition. All
    * translations are conservative — a file is only dropped when the
    * evidence PROVES no row can match. */
  private[graft] def filePredicate(
      p: IcebergFormat.TablePlan, f: Filter): Option[IcebergFormat.PlannedFile => Boolean] = {
    def known(c: String) = p.schema.fieldNames.contains(c)
    f match {
      case In(c, vs) if known(c) =>
        // ALL elements must be pushable literals: a non-pushable member
        // (NaN/Infinity — excluded from parquet/Iceberg bounds) could match
        // rows in a file whose bounds reject every pushable member, so
        // pruning on the literal subset would drop live rows.
        if (!vs.forall(isLit)) None
        else {
          val lits = vs.map(litStr)
          if (lits.isEmpty) None
          else Some(pf => lits.exists(v => IcebergFormat.fileCanMatch(p, pf, c, Some(v), Some(v))))
        }
      case StringStartsWith(c, prefix) if known(c) && prefix != null && prefix.nonEmpty =>
        val hi = prefixSuccessor(prefix)
        Some(pf => IcebergFormat.fileCanMatch(p, pf, c, Some(prefix), hi))
      case IsNull(c) if known(c) =>
        // droppable only when the manifest RECORDS zero nulls for the file
        val fid = p.fieldIds(p.schema.fieldNames.indexOf(c))
        Some(pf => pf.nullCounts.get(fid).forall(_ > 0))
      case IsNotNull(c) if known(c) =>
        // droppable only when every recorded row is null
        val fid = p.fieldIds(p.schema.fieldNames.indexOf(c))
        Some(pf => !pf.nullCounts.get(fid).exists(n => pf.rowCount > 0 && n >= pf.rowCount))
      case And(l, r) =>
        (filePredicate(p, l), filePredicate(p, r)) match {
          case (Some(a), Some(b)) => Some(pf => a(pf) && b(pf))
          case (Some(a), None)    => Some(a)
          case (None, Some(b))    => Some(b)
          case _                  => None
        }
      case Or(l, r) => // both sides must prune, else the disjunction can't
        for { a <- filePredicate(p, l); b <- filePredicate(p, r) }
          yield (pf: IcebergFormat.PlannedFile) => a(pf) || b(pf)
      case other =>
        pruningRange(other).filter { case (c, _, _) => known(c) }.map {
          case (c, lo, hi) => (pf: IcebergFormat.PlannedFile) =>
            IcebergFormat.fileCanMatch(p, pf, c, lo, hi)
        }
    }
  }

  private val TruncateTr = raw"truncate\[(\d+)\]".r
  private val BucketTr   = raw"bucket\[(\d+)\]".r

  /** Translate a pushed filter to a MANIFEST-granular keep predicate over
    * the manifest list's partition summaries (spec field 507), or None
    * when it can't prune at that granularity. A manifest is dropped only
    * when a summary for a partition axis of the filter column PROVES no
    * file inside can match: identity axes test value-bound overlap,
    * order-preserving transforms (year/month/day/hour, truncate[W]) test
    * overlap in transformed space, bucket axes test point lookups against
    * the bucket-id bounds, IS NULL tests `contains_null`. Manifests
    * without summaries, unresolvable axes, and undecodable bounds always
    * survive — the file-level predicates re-check everything read. */
  private[graft] def manifestPredicate(
      h: IcebergFormat.PlanHeader, f: Filter): Option[ManifestFile => Boolean] = {
    def known(c: String) = h.schema.fieldNames.contains(c)
    def dtOf(c: String) = h.schema.fields(h.schema.fieldNames.indexOf(c)).dataType
    // the (transform, summary) axes covering column c under mh's spec
    def axesOf(mh: ManifestFile, c: String): Seq[(String, FieldSummary)] =
      (for {
        ss <- mh.summaries.toSeq
        ax <- h.axes.get(mh.specId).toSeq
        (`c`, pos, tr) <- ax
        s <- ss.lift(pos).toSeq
      } yield (tr, s))
    def cmpIdentity(c: String)(a: Any, b: String): Int = dtOf(c) match {
      case org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType =>
        java.lang.Double.compare(
          java.lang.Double.parseDouble(a.toString), java.lang.Double.parseDouble(b))
      case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
        BigDecimal(a.toString).compare(BigDecimal(b))
      case org.apache.spark.sql.types.DateType =>
        // decoded bounds are epoch-day ints, literals ISO strings;
        // unparseable reads as EQUAL (manifest kept)
        (IcebergFormat.epochDay(a.toString), IcebergFormat.epochDay(b)) match {
          case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
          case _                  => 0
        }
      case org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType =>
        // decoded bounds are epoch-micros longs, literals UTC ISO strings
        (IcebergFormat.epochMicros(a.toString), IcebergFormat.epochMicros(b)) match {
          case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
          case _                  => 0
        }
      case _ => graft.icelite.BoundOrder.compareStrings(a.toString, b)
    }
    // transformed-space compare (ints from temporal/bucket, source-typed
    // truncate); incomparable pairs read as overlap (keep)
    def cmpT(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: String, y: String) => Some(graft.icelite.BoundOrder.compareStrings(x, y))
      case (x: Number, y: Number) => Some(java.lang.Long.compare(x.longValue, y.longValue))
      case _                      => None
    }
    /** Can the axis's summary overlap the SOURCE-value range [lo, hi]? */
    def axisOverlap(c: String, tr: String, s: FieldSummary,
        lo: Option[String], hi: Option[String]): Boolean = {
      val dt = dtOf(c)
      tr match {
        case "identity" =>
          (s.lower.flatMap(IcebergFormat.decodeBound(dt, _)),
            s.upper.flatMap(IcebergFormat.decodeBound(dt, _))) match {
            case (Some(mn), Some(mx)) =>
              lo.forall(l => cmpIdentity(c)(mx, l) >= 0) &&
                hi.forall(u => cmpIdentity(c)(mn, u) <= 0)
            case _ => true
          }
        case "year" | "month" | "day" | "hour" | TruncateTr(_) =>
          // order-preserving: overlap holds in transformed space
          val boundDt = tr match {
            case TruncateTr(_) => dt
            case _             => org.apache.spark.sql.types.IntegerType
          }
          (s.lower.flatMap(IcebergFormat.decodeBound(boundDt, _)),
            s.upper.flatMap(IcebergFormat.decodeBound(boundDt, _))) match {
            case (Some(mn), Some(mx)) =>
              lo.flatMap(IcebergFormat.applyTransform(tr, dt, _))
                .flatMap(t => cmpT(mx, t)).forall(_ >= 0) &&
              hi.flatMap(IcebergFormat.applyTransform(tr, dt, _))
                .flatMap(t => cmpT(mn, t)).forall(_ <= 0)
            case _ => true
          }
        case BucketTr(nS) if lo.nonEmpty && lo == hi =>
          // bucket prunes POINT lookups: the literal's bucket id must sit
          // inside the summary's bucket-id bounds
          (IcebergFormat.bucketOf(dt, lo.get, nS.toInt),
            s.lower.flatMap(IcebergFormat.decodeBound(
              org.apache.spark.sql.types.IntegerType, _)),
            s.upper.flatMap(IcebergFormat.decodeBound(
              org.apache.spark.sql.types.IntegerType, _))) match {
            case (Some(bk), Some(mn: Int), Some(mx: Int)) => bk >= mn && bk <= mx
            case _ => true
          }
        case _ => true // unknown/unusable transform -> keep
      }
    }
    // a manifest survives only if EVERY axis of the column says "possible"
    def rangeKeep(c: String, lo: Option[String], hi: Option[String]) =
      (mh: ManifestFile) =>
        axesOf(mh, c).forall { case (tr, s) => axisOverlap(c, tr, s, lo, hi) }
    f match {
      case In(c, vs) if known(c) =>
        // same all-or-nothing rule as filePredicate: a non-pushable member
        // (NaN/Infinity) may live in a manifest whose summaries reject every
        // pushable member — pruning on the subset would be unsound.
        if (!vs.forall(isLit)) None
        else {
          val lits = vs.map(litStr)
          if (lits.isEmpty) None
          else Some(mh => lits.exists(v => rangeKeep(c, Some(v), Some(v))(mh)))
        }
      case StringStartsWith(c, prefix) if known(c) && prefix != null && prefix.nonEmpty =>
        Some(rangeKeep(c, Some(prefix), prefixSuccessor(prefix)))
      case IsNull(c) if known(c) =>
        // droppable when any summary PROVES no file has a null value
        // (transforms of null are null, so every axis witnesses nulls)
        Some(mh => axesOf(mh, c).forall(_._2.containsNull))
      case And(l, r) =>
        (manifestPredicate(h, l), manifestPredicate(h, r)) match {
          case (Some(a), Some(b)) => Some(mh => a(mh) && b(mh))
          case (Some(a), None)    => Some(a)
          case (None, Some(b))    => Some(b)
          case _                  => None
        }
      case Or(l, r) =>
        for { a <- manifestPredicate(h, l); b <- manifestPredicate(h, r) }
          yield (mh: ManifestFile) => a(mh) || b(mh)
      case other =>
        pruningRange(other).filter { case (c, _, _) => known(c) }.map {
          case (c, lo, hi) => rangeKeep(c, lo, hi)
        }
    }
  }

  /** Smallest string no `prefix`-prefixed string can reach in UTF-8 byte
    * order: increment the last code point that can be incremented (past
    * the surrogate block; a lone surrogate is skipped), dropping the tail.
    * None when every code point is U+10FFFF — no finite upper bound
    * exists. Inclusive use stays conservative. */
  private[graft] def prefixSuccessor(prefix: String): Option[String] = {
    var i = prefix.length
    while (i > 0) {
      val cp    = prefix.codePointBefore(i)
      val start = i - Character.charCount(cp)
      val lone  = cp >= Character.MIN_SURROGATE && cp <= Character.MAX_SURROGATE
      if (cp < Character.MAX_CODE_POINT && !lone) {
        val next = if (cp + 1 == Character.MIN_SURROGATE) 0xE000 else cp + 1
        return Some(prefix.substring(0, start) + new String(Character.toChars(next)))
      }
      i = start
    }
    None
  }

  private def isLit(v: Any): Boolean = v match {
    case null => false
    // non-finite float literals don't push: writers exclude NaN from
    // min/max stats, so bounds can't prune them soundly
    case d: java.lang.Double => !d.isNaN && !d.isInfinite
    case fl: java.lang.Float => !fl.isNaN && !fl.isInfinite
    case _: String | _: java.lang.Integer | _: java.lang.Long |
        _: java.lang.Short | _: java.lang.Byte | _: java.lang.Boolean => true
    // DATE literals push (toString is ISO yyyy-MM-dd; DateType has no
    // timezone, so epoch-day comparison is exact). TIMESTAMP literals
    // push through litStr's INSTANT normalization to UTC ISO — never
    // toString, which renders in session time and could skew a partition
    // boundary. LocalDateTime covers TimestampNTZ (wall time, no zone).
    case _: java.sql.Date | _: java.time.LocalDate => true
    case _: java.sql.Timestamp | _: java.time.Instant | _: java.time.LocalDateTime => true
    case _ => false
  }

  /** Default ranged-split target (bytes): matches Spark's own
    * `files.maxPartitionBytes` default so one oversized file fans out to
    * ~128 MB tasks instead of serializing on a single reader. */
  val DefaultSplitBytes: Long = 128L * 1024 * 1024

  /** Ranged partitions for one file from RECORDED split offsets (shared
    * by the standard-format and IceLite V2 scans): per-block byte weight =
    * distance to the next offset (file tail for the last), greedy ~target
    * chunks over those weights, each range starting at a row group. None
    * when the offsets don't justify >= 2 chunks. */
  private[graft] def rangedFromOffsets(
      path: String, sizeBytes: Long, offs: Seq[Long],
      target: Long, key: InternalRow, seq: Long,
      firstRowId: Option[Long] = None): Option[Seq[InputPartition]] = {
    if (offs.size < 2) return None
    val sizes = offs.indices.map(i =>
      (if (i == offs.size - 1) sizeBytes else offs(i + 1)) - offs(i))
    val chunkStarts = scala.collection.mutable.ArrayBuffer(0) // indices into offs
    var accB = sizes.head
    (1 until offs.size).foreach { i =>
      if (accB + sizes(i) > target) { chunkStarts += i; accB = sizes(i) }
      else accB += sizes(i)
    }
    if (chunkStarts.size < 2) return None
    Some(chunkStarts.toSeq.zipWithIndex.map { case (ci, i) =>
      val start = if (i == 0) 0L else offs(ci)
      val end   = if (i == chunkStarts.size - 1) Long.MaxValue
                  else offs(chunkStarts(i + 1))
      IceLitePartition(Array(path), key,
        ranges = Seq(IceLiteFileRange(start, end)),
        seqs = Seq(seq), firstRowIds = Seq(firstRowId)): InputPartition
    })
  }

  /** Partitions for planned files (each with its partition key) in plan
    * order: [[partitionsFor]] splits each oversized file, and consecutive
    * smaller files with the same key share a partition, packed as Spark
    * packs its file scans (`FilePartition.maxSplitBytes`): a file weighs
    * its size plus the open cost, and a partition holds up to min(target,
    * max(open cost, total weight / default parallelism)). A probe of many
    * small files then runs in a few tasks, not one per file. */
  private[graft] def packed(
      files: Seq[(IcebergFormat.PlannedFile, InternalRow)], target: Long): Seq[InputPartition] = {
    val spark    = SparkSession.active
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxBytes = math.min(if (target > 0) target else Long.MaxValue, math.max(openCost,
      files.map(_._1.sizeBytes + openCost).sum / spark.sparkContext.defaultParallelism))
    val out   = Seq.newBuilder[InputPartition]
    val group = scala.collection.mutable.ArrayBuffer.empty[(IcebergFormat.PlannedFile, InternalRow)]
    var bytes = 0L
    def flush(): Unit = if (group.nonEmpty) {
      val fs = group.map(_._1)
      out += IceLitePartition(fs.map(_.path.toString).toArray, group.head._2,
        seqs = fs.map(_.seq).toSeq, firstRowIds = fs.map(_.firstRowId).toSeq)
      group.clear(); bytes = 0L
    }
    files.foreach { case fk @ (f, key) =>
      if (target > 0 && f.sizeBytes >= 2 * target) { flush(); out ++= partitionsFor(f, target, key) }
      else {
        val w = f.sizeBytes + openCost
        if (group.nonEmpty && (bytes + w > maxBytes || key != group.head._2)) flush()
        group += fk; bytes += w
      }
    }
    flush()
    out.result()
  }

  /** Partition(s) for one planned file: whole-file normally; files at
    * least 2× the split target (by manifest `sizeBytes`) split into byte
    * ranges. With the manifest's `split_offsets` (recorded at write time,
    * the spec's field 132) the ranges start at row groups; without them
    * they are fixed strides of the target, which is how Spark splits
    * files. Either way parquet hands each row group to the range holding
    * its midpoint and `_pos` stays file-global, so planning never touches
    * the file and position-delete application is split-invariant. Cost
    * note: each split re-opens the delete files covering the file
    * (bitmaps are per-task); acceptable because covering deletes are
    * range-pruned and a delete's blast radius is small next to an
    * oversized data file. */
  private[graft] def partitionsFor(
      f: IcebergFormat.PlannedFile, target: Long,
      key: InternalRow = null): Seq[InputPartition] = {
    val path = f.path.toString
    def whole = Seq(IceLitePartition(Array(path), key, seqs = Seq(f.seq),
      firstRowIds = Seq(f.firstRowId)): InputPartition)
    if (target <= 0 || f.sizeBytes < 2 * target) return whole
    if (f.splitOffsets.size >= 2)
      return rangedFromOffsets(path, f.sizeBytes, f.splitOffsets, target, key, f.seq,
        f.firstRowId).getOrElse(whole)
    (0L until f.sizeBytes by target).map { start =>
      val end = if (start + target >= f.sizeBytes) Long.MaxValue else start + target
      IceLitePartition(Array(path), key, ranges = Seq(IceLiteFileRange(start, end)),
        seqs = Seq(f.seq), firstRowIds = Seq(f.firstRowId)): InputPartition
    }
  }
}

final class IcebergMorScan(
    location: String,
    required: StructType,
    tableSchema: StructType,
    plan: => IcebergFormat.TablePlan,
    pushed: Array[Filter],
    limit: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  // planned on first use: a stream (toMicroBatchStream) never plans
  private lazy val p = plan

  // position deletes name files by path and apply to data files whose
  // data sequence number is at most theirs (spec "Scan Planning"): a
  // delete naming a path before that file was committed leaves its rows.
  // The manifest's file_path [min, max] rides along so the reader opens a
  // delete file only for data files inside its range.
  private lazy val deleteFiles: Seq[PositionDeleteFile] =
    p.deletes.filter(_.content == 1).map { d =>
      d.dvRef match {
        // v3 deletion vector: exact-file application via the blob range
        case Some(ref) => PositionDeleteFile(d.path.toString, None, None,
          Some((d.dvOffset, d.dvSize, ref)), Some(d.seq))
        case None => PositionDeleteFile(d.path.toString,
          d.pathBounds.map(_._1), d.pathBounds.map(_._2), seq = Some(d.seq))
      }
    }

  // equality deletes (content 2 — the shape CDC writers like Flink emit)
  // apply reader-side per data file, gated by the spec's strictly-older
  // sequence rule; `equality_ids` resolve to column names HERE, where the
  // field-id table lives, so executors stay id-free
  private lazy val eqDeleteFiles: Seq[EqualityDeleteFile] = {
    val idToName = p.fieldIds.zip(p.schema.fieldNames).toMap
    p.deletes.filter(_.content == 2).map { d =>
      require(d.equalityIds.nonEmpty, "equality delete file without equality_ids")
      EqualityDeleteFile(d.path.toString, d.seq,
        d.equalityIds.map(id => idToName.getOrElse(id,
          throw new NoSuchElementException(s"equality_id $id not in schema"))))
    }
  }

  // manifest-level file skipping: a file survives only if EVERY pushed
  // filter's pruning predicate can match its recorded bounds / partition
  // values (conjunction semantics; a file with no evidence is kept)
  private lazy val filePreds = pushed.flatMap(IcebergMorScan.filePredicate(p, _))
  private[graft] lazy val survivors: Seq[IcebergFormat.PlannedFile] =
    p.files.filter(f => filePreds.forall(_(f)))

  // identity-partition columns any surviving file records a value for:
  // the reader rebuilds these from the per-file partition key when a data
  // file physically omits the column (spec "Column Projection" — the
  // layout identity-partitioned writers commonly produce). Files that DO
  // hold the column decode it normally; the key is inert then.
  private lazy val partCols: Array[String] =
    survivors.flatMap(_.partition.keys).distinct.sorted
      .flatMap { id =>
        val i = p.fieldIds.indexOf(id)
        if (i >= 0) Some(p.schema.fieldNames(i)) else None
      }.toArray

  /** Catalyst-typed partition key for `f`, ordered like `partCols`
    * (strings → UTF8String; avro numerics are Catalyst-compatible). */
  private def keyFor(f: IcebergFormat.PlannedFile): InternalRow =
    if (partCols.isEmpty) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      partCols.map { c =>
        val fieldId = p.fieldIds(p.schema.fieldNames.indexOf(c))
        f.partition.get(fieldId).map {
          case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case v         => v
        }.orNull: Any
      })

  // ------------------------------------------------ runtime (join) pruning
  // (SupportsRuntimeFiltering): at execution Spark hands back In/EqualTo
  // filters on identity-partition columns derived from the OTHER join
  // side's actual keys — DPP over standard-format manifest metadata.
  // Values normalize like pushed literals (dates → epoch days,
  // timestamps → micros) to match the stored partition encodings.
  @volatile private var runtimeKept: Map[String, Set[String]] = Map.empty

  override def filterAttributes(): Array[NamedReference] =
    partCols.map(c => Expressions.column(c))

  override def filter(filters: Array[Filter]): Unit = {
    def norm(c: String, v: Any): String = {
      val s  = IcebergMorScan.litStr(v)
      val dt = p.schema.fields(p.schema.fieldNames.indexOf(c)).dataType
      dt match {
        case org.apache.spark.sql.types.DateType =>
          IcebergFormat.epochDay(s).map(_.toString).getOrElse(s)
        case org.apache.spark.sql.types.TimestampType |
            org.apache.spark.sql.types.TimestampNTZType =>
          IcebergFormat.epochMicros(s).map(_.toString).getOrElse(s)
        case _ => s
      }
    }
    val kept = filters.flatMap {
      case In(c, vs) if partCols.contains(c) =>
        Some(c -> vs.filter(_ != null).map(norm(c, _)).toSet)
      case EqualTo(c, v) if partCols.contains(c) && v != null =>
        Some(c -> Set(norm(c, v)))
      case _ => None
    }.toMap
    if (kept.nonEmpty) runtimeKept = kept
  }

  private def runtimeHit(f: IcebergFormat.PlannedFile): Boolean =
    runtimeKept.forall { case (c, keep) =>
      val fid = p.fieldIds(p.schema.fieldNames.indexOf(c))
      // a file without a recorded value for the column stays (conservative)
      f.partition.get(fid).forall(v => keep.contains(v.toString))
    }

  @volatile private var partitionsComputed: Option[Int] = None
  // memoized per runtime-filter map: Spark consults partitions several
  // times, and filter() arrives (at most once) before planInputPartitions
  @volatile private var partitionsCache: (AnyRef, Array[InputPartition]) = null
  private def partitions: Array[InputPartition] = {
    val rk = runtimeKept
    val c  = partitionsCache
    if (c != null && (c._1 eq rk)) return c._2
    val target = SparkSession.active.conf.get("graft.split.size",
      IcebergMorScan.DefaultSplitBytes.toString).toLong
    val surv = if (rk.isEmpty) survivors else survivors.filter(runtimeHit)
    val ps = IcebergMorScan.packed(surv.map(f => f -> keyFor(f)), target).toArray
    partitionsComputed = Some(ps.length)
    partitionsCache = (rk, ps)
    ps
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = partitions

  /** `readStream`: tail the snapshot log (st17). The stream rejects what
    * the batch scan applies — deletes, nested projection, time travel —
    * so it takes flat primitive schemas only. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    tableSchema.fields.foreach(f => require(
      graft.icelite.BoundOrder.rangeable(f.dataType) || f.dataType == BooleanType ||
        f.dataType == DateType || f.dataType == TimestampType ||
        f.dataType == TimestampNTZType,
      s"iceberg streaming read supports flat primitive schemas; got ${f.dataType} for ${f.name}"))
    new IcebergMicroBatchStream(location, tableSchema)
  }

  /** Manifest-derived estimates for the optimizer: rows = sum of the
    * surviving files' required `record_count` (an over-count while
    * row-level deletes are live — conservative for broadcast decisions),
    * size = rows × a required-column width guess, matching the IceLite
    * scan's formula. Without this every standard-format table planned as
    * "unknown, huge" and a 25-row dimension never broadcast. IO-free:
    * everything comes from the already-planned manifest evidence. */
  override def estimateStatistics(): Statistics = {
    val rows  = survivors.map(_.rowCount).sum
    val known = survivors.isEmpty || survivors.forall(_.rowCount > 0)
    val width = required.fields.map(_.dataType match {
      case StringType => 24L
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.DoubleType |
          org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType => 8L
      case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.DateType |
          org.apache.spark.sql.types.FloatType => 4L
      case org.apache.spark.sql.types.BooleanType => 1L
      case _ => 16L
    }).sum.max(8L)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        if (known) java.util.OptionalLong.of(math.max(rows, 1L) * width)
        else java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        if (known) java.util.OptionalLong.of(rows) else java.util.OptionalLong.empty()
    }
  }
  // built once per scan: the driver-side parquet reader setup is not
  // free, and Spark's physical planning asks for the factory more than once
  private lazy val readerFactory =
    IceLiteReaderFactory(required, partCols, tableSchema, limit, deleteFiles, eqDeleteFiles,
      partitionDeletes = false, absoluteFile = true)
  override def createReaderFactory(): PartitionReaderFactory = readerFactory
  // EXPLAIN never forces `partitions`; split counts print only if
  // planning already ran
  override def description(): String = {
    val push = if (pushed.isEmpty) "" else s", pushed=[${pushed.mkString(", ")}]"
    val sp = partitionsComputed match {
      case Some(n) if n > survivors.length => s", splits=$n"
      case _                               => ""
    }
    s"IcebergMorScan(files=${survivors.length}/${p.files.length}$push$sp)"
  }
}

/** Row-level WriteDelta over a standard-format v2 table: DELETE matched
  * rows → position-delete files; UPDATE/MERGE additionally stage
  * v2-layout data parquet (field-id'd columns, inline min/max stats) for
  * the insert/reinsert arm, exactly the file shape [[IcebergMorWrite]]
  * commits. One resumed commit publishes both (content-0 + content-1
  * manifests in a single delta snapshot). */
final class IcebergMorDeltaOperation(
    location: String,
    tableSchema: StructType,
    p: IcebergFormat.TablePlan,
    info: RowLevelOperationInfo)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = info.command()

  override def description(): String =
    s"iceberg merge-on-read ${command().toString.toLowerCase(Locale.ROOT)}"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IcebergMorScanBuilder(location, tableSchema, p)

  override def newWriteBuilder(writeInfo: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        // insert-bearing commands (UPDATE/MERGE) hand rows in table
        // schema order — the staged data files must line up field-by-field
        // with the committed Iceberg schema (ids are positional)
        require(
          command() == RowLevelOperation.Command.DELETE ||
            StructType(writeInfo.schema().fields.map(_.copy(nullable = true))).catalogString ==
            tableSchema.catalogString,
          s"delta write schema ${writeInfo.schema().catalogString} != table schema ${tableSchema.catalogString}")
        // identity default-spec columns the rolling writer can stamp —
        // empty for transform specs, which keep the unpartitioned fallback,
        // and for DELETE, whose rows carry no data columns (row-id
        // projection only) a distribution over them could resolve against
        val partCols =
          if (command() == RowLevelOperation.Command.DELETE) Nil
          else IcebergFormat.defaultSpecIdentityCols(
            SparkSession.active, IcebergFormat.currentMetadataPath(SparkSession.active, location))
        new IcebergMorDeltaWrite(location, tableSchema, p, command(), partCols)
      }
    }
}

/** A write that asks for its rows CLUSTERED + SORTED on the identity
  * partition columns `clustered` ((spec field name, source column)), so
  * the rolling insert writer ([[IcebergMorDeltaWriter]]) stages one file
  * per touched value per task, each stamped with its REAL partition
  * tuple. Empty asks for nothing. */
trait IcebergClusteredWrite extends org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection, SortOrder}

  protected def clustered: Seq[(String, String)]

  override def requiredDistribution(): Distribution =
    if (clustered.isEmpty) Distributions.unspecified()
    else Distributions.clustered(clustered.map(c => Expressions.identity(c._2)).toArray)

  override def requiredOrdering(): Array[SortOrder] =
    clustered.map(c => Expressions.sort(
      Expressions.identity(c._2), SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray
}

/** The standard-format WriteDelta write. On an identity-partitioned
  * default spec the insert rows are clustered on the partition columns
  * (same contract as the icelite delta write, ic75) and committed under
  * the PARTITIONED spec — external engines prune post-DML insert files by
  * partition value instead of treating them as global. Deletes stay on
  * the auxiliary unpartitioned spec (position deletes are global). */
final class IcebergMorDeltaWrite(
    location: String,
    tableSchema: StructType,
    p: IcebergFormat.TablePlan,
    command: RowLevelOperation.Command,
    protected val clustered: Seq[(String, String)]) // (spec field name, source column)
    extends DeltaWrite with IcebergClusteredWrite {

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val tag       = java.util.UUID.randomUUID().toString.take(8)
    private val deleteRel = s"data/deletes-$tag"
    private val dataRel   = s"data/delta-$tag"

    // insert files stamp the table's REAL field ids and its tracked
    // nested ids (stable across nested evolution); inserts exist only
    // for UPDATE/MERGE
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
      new IcebergMorDeltaWriterFactory(Some(IceLiteWrite.files(IceTable.PositionDeleteSchema)),
        Option.when(command != RowLevelOperation.Command.DELETE)(
          IcebergWrite.files(tableSchema, p.fieldIds, p.nestedIds)),
        location, deleteRel, dataRel, tableSchema, clustered)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val msgs = messages.toSeq.map(_.asInstanceOf[IcebergMorDeltaMessage])
      val s    = SparkSession.active
      // content-1 position deletes, each with its file_path [min, max]
      // from the writer's inline stats — what lets every reader
      // range-prune this delete
      val delInfos = msgs.flatMap(_.deleteFile).filter(_.rows > 0L).map(m =>
        IcebergWrite.dataFileInfo(location, IceTable.PositionDeleteSchema,
          Seq(IcebergFormat.PosDeletePathFieldId, IcebergFormat.PosDeletePosFieldId), m,
          content = 1))
      // content-0 insert files, keyed by the table's REAL field ids
      // (sparse after evolution) so pruning keys match the metadata
      val dataInfos = msgs.flatMap(_.dataFiles).filter(_._1.rows > 0L).map { case (m, pv) =>
        IcebergWrite.dataFileInfo(location, tableSchema, p.fieldIds, m, pv)
      }
      if (delInfos.isEmpty && dataInfos.isEmpty) return // nothing matched: no snapshot
      val w = IcebergFormat.resumeWriter(s, location)
      if (clustered.nonEmpty)
        // partition-stamped inserts under the DEFAULT spec (prunable by
        // every engine); deletes under the auxiliary unpartitioned spec
        w.commitRowDelta(dataInfos, delInfos)
      else
        // no stampable spec → everything routes unpartitioned (global)
        w.commitDelta(dataInfos ++ delInfos)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fs = new Path(location)
        .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      fs.delete(new Path(location, deleteRel), true)
      fs.delete(new Path(location, dataRel), true)
      ()
    }
  }
}

/** A batch write: `df.write.format("icelite").option("iceberg", "true")`
  * or SQL `INSERT INTO` / `INSERT OVERWRITE`. Executors stage the rows
  * under `data/snap-w-<tag>` through the insert arm of
  * [[IcebergMorDeltaWriter]] — nested types included, every parquet node
  * carrying the field id the committed schema JSON assigns — and the
  * driver commits one snapshot: the table's first (`created`), an
  * append, or with `overwrite` (truncate) an "overwrite" snapshot that
  * lists only the new files. Earlier snapshots keep theirs, so a pinned
  * read and time travel see the old rows until
  * [[IcebergFormat.Writer.expireSnapshots]] reclaims them. Files of an
  * identity-partitioned default spec carry their partition tuples; a
  * transform spec's go under the auxiliary unpartitioned spec. */
final class IcebergMorWrite(
    location: String,
    schema: StructType,
    ids: Seq[Int],
    nestedIds: Map[String, Int],
    protected val clustered: Seq[(String, String)], // (spec field name, source column)
    created: Boolean,
    overwrite: Boolean)
    extends Write with IcebergClusteredWrite {

  override def toBatch: BatchWrite = new BatchWrite {
    private val dataRel = s"data/snap-w-${java.util.UUID.randomUUID().toString.take(8)}"

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new IcebergMorDeltaWriterFactory(None, Some(IcebergWrite.files(schema, ids, nestedIds)),
        location, deleteRel = "", dataRel, schema, clustered)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val s = SparkSession.active
      val files = messages.toSeq.flatMap(_.asInstanceOf[IcebergMorDeltaMessage].dataFiles)
        .filter(_._1.rows > 0L)
        .map { case (m, pv) => IcebergWrite.dataFileInfo(location, schema, ids, m, pv) }
      if (created) new IcebergFormat.Writer(s, location, schema).commit(files)
      else IcebergFormat.appendWithRetry(s, location, files, stamped = clustered.nonEmpty, overwrite)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fs = new Path(location)
        .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      fs.delete(new Path(location, dataRel), true)
      ()
    }
  }
}

/** A task's position-delete file and its insert files, each insert with
  * its REAL partition tuple (identity values by spec field name; empty
  * when unpartitioned), so DML insert files commit under the partitioned
  * spec and external engines prune them. */
final case class IcebergMorDeltaMessage(
    deleteFile: Option[WrittenFile],
    dataFiles: Seq[(WrittenFile, Map[String, Any])])
    extends WriterCommitMessage

/** Top-level (serializable) factory — an inner anonymous class would drag
  * the whole operation, table plan included, into the task closure. A
  * batch write has no `deletes`; its rows reach the insert arm through
  * `write`. */
final class IcebergMorDeltaWriterFactory(
    deletes: Option[ParquetFiles],
    inserts: Option[ParquetFiles],
    location: String,
    deleteRel: String,
    dataRel: String,
    schema: StructType,
    partCols: Seq[(String, String)]) // (spec field name, source column)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new IcebergMorDeltaWriter(deletes, inserts, location, deleteRel, dataRel, schema,
      partitionId, taskId, partCols)
}

/** Executor-side delta writer: streams `(_file, _pos)` row ids into one
  * position-delete parquet per task (spec content-1 shape: `file_path`
  * string + `pos` long, the exact columns this table's scan and DuckDB
  * match on), and UPDATE/MERGE insert rows into v2-layout data
  * parquets through the same [[ParquetDataWriter]], every node stamped
  * with the table's field ids (inline min/max stats → manifest bounds).
  * On an identity-partitioned default spec (`partCols` non-empty; rows
  * arrive CLUSTERED + SORTED on them per RequiresDistributionAndOrdering)
  * the insert path ROLLS one file per partition value per task and stamps
  * the REAL partition tuple on its commit message — the files then commit
  * under the partitioned spec and every conforming engine prunes them. */
final class IcebergMorDeltaWriter(
    deletes: Option[ParquetFiles],
    inserts: Option[ParquetFiles],
    location: String,
    deleteRel: String,
    dataRel: String,
    schema: StructType,
    partitionId: Int,
    taskId: Long,
    partCols: Seq[(String, String)]) // (spec field name, source column)
    extends DeltaWriter[InternalRow] {

  private var delWriter: ParquetDataWriter = _
  private var insWriter: ParquetDataWriter = _
  private val delRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)

  private val partIdx: IndexedSeq[Int] = partCols.map(f => schema.fieldIndex(f._2)).toIndexedSeq
  private var curKey: IndexedSeq[Any] = null // boxed identity values (null = SQL NULL)
  private var rollSeq = 0
  private val rolled = scala.collection.mutable.ListBuffer.empty[(WrittenFile, Map[String, Any])]

  /** Boxed identity partition value in the manifest's avro type. */
  private def partValue(i: Int, row: InternalRow): Any = {
    val idx = partIdx(i)
    if (row.isNullAt(idx)) null
    else schema.fields(idx).dataType match {
      case StringType              => row.getUTF8String(idx).toString
      case IntegerType | DateType  => Int.box(row.getInt(idx))
      case LongType                => Long.box(row.getLong(idx))
      case BooleanType             => Boolean.box(row.getBoolean(idx))
      case other => throw new UnsupportedOperationException(
        s"identity partition type $other for ${schema.fields(idx).name}")
    }
  }

  private def rollInsert(): Unit = if (insWriter != null) {
    // tuples key by the SPEC FIELD name — buildEntry/summarize look them
    // up there; a field named differently from its source column would
    // otherwise publish a null tuple and external engines would prune
    // away the restated rows
    rolled += insWriter.commit() ->
      partCols.map(_._1).zip(curKey).filter(_._2 != null).toMap
    insWriter = null
  }

  private def newInsertFile(relPath: String): ParquetDataWriter =
    inserts.getOrElse(
      throw new IllegalStateException("iceberg-format delta DELETE received an insert row")
    ).writer(location, relPath)

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (delWriter == null)
      delWriter = deletes.getOrElse(throw new IllegalStateException(
        "iceberg-format batch write received a delete row"))
        .writer(location, ParquetFiles.partFile(deleteRel, partitionId, taskId))
    delRow.update(0, id.getUTF8String(0).clone())
    delRow.update(1, id.getLong(1))
    delWriter.write(delRow)
  }

  override def insert(row: InternalRow): Unit = {
    if (partCols.nonEmpty) {
      val key = partIdx.indices.map(i => partValue(i, row))
      if (insWriter == null || key != curKey) {
        rollInsert()
        curKey = key
        insWriter = newInsertFile(
          f"$dataRel/part-$partitionId%05d-$taskId-p$rollSeq%04d.parquet")
        rollSeq += 1
      }
    } else if (insWriter == null)
      insWriter = newInsertFile(ParquetFiles.partFile(dataRel, partitionId, taskId))
    insWriter.write(row)
  }

  /** Never called: representUpdateAsDeleteAndInsert splits updates. */
  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new UnsupportedOperationException(
      "iceberg-format delta updates are represented as delete+insert")
  override def reinsert(metadata: InternalRow, row: InternalRow): Unit = insert(row)

  override def commit(): WriterCommitMessage = {
    val written =
      if (partCols.nonEmpty) { rollInsert(); rolled.toSeq }
      else Option(insWriter).map(_.commit() -> Map.empty[String, Any]).toSeq
    IcebergMorDeltaMessage(Option(delWriter).map(_.commit()), written)
  }

  override def abort(): Unit = {
    if (delWriter != null) delWriter.abort()
    if (insWriter != null) insWriter.abort()
    // already-rolled per-partition files are committed to disk but not yet
    // to the table — a retried task would otherwise leave them as orphans
    // next to live data (the job-level abort never runs when the retry
    // succeeds); same pattern as IceLitePartitionedWriter.abort
    val fs = new Path(location).getFileSystem((deletes ++ inserts).head.conf.value)
    rolled.foreach { case (m, _) => fs.delete(new Path(location, m.relPath), false) }
    rolled.clear()
  }
  override def close(): Unit = ()
}
