package graft.sources

import graft.icelite.{ColRange, IceTable, ManifestEntry}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** DataSource V2 WRITE path for IceLite: `df.write.format("icelite")
  * .option("location", dir).mode("append"|"overwrite").save()`.
  *
  * Executors write parquet files straight into a staging snapshot dir
  * under the table location with Spark's own parquet writer under the
  * session codec ([[ParquetDataWriter]]), collecting per-file min/max +
  * row count AS THEY WRITE (one pass — no post-hoc stats scan); the
  * driver's commit is then pure metadata: one manifest of the writers'
  * entries ([[IceLiteWrite.entries]]) plus the same CAS snapshot commit
  * appends use. At 100 TB this is the right shape: data volume moves only
  * executor-side, the driver handles O(files) metadata, and a concurrent
  * library-path append cannot be clobbered (shared CAS protocol).
  *
  * Unpartitioned flat-primitive tables (the format surface); `overwrite`
  * maps to replace semantics via SupportsTruncate. */
final class IceLiteWriteBuilder(
    ice: IceTable,
    info: LogicalWriteInfo,
    onCommit: Option[IceTable => Unit] = None)
    extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  private var replace = false
  private var dynamic = false
  private var byFilter: Option[Array[org.apache.spark.sql.sources.Filter]] = None

  override def truncate(): WriteBuilder = { replace = true; this }

  /** `INSERT OVERWRITE` under partitionOverwriteMode=dynamic: replace
    * ONLY the partitions the query writes, carry every other file by
    * manifest pointer (Iceberg's dynamic-overwrite semantics). */
  override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }

  /** Filter-based overwrite (`INSERT OVERWRITE ... PARTITION (c = v)` /
    * DataFrame `overwrite(condition)`): the victims come from the same
    * sound tri-state file classification metadata DELETE uses, so the
    * whole statement is ONE atomic snapshot — drop the provably-matching
    * files, append the staged rows. Accepted only when every file is
    * all-match or no-match (`canOverwrite` below); an unprovable
    * condition is a loud analysis error, never a partial overwrite. */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    if (filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue)) replace = true
    else byFilter = Some(filters)
    this
  }

  override def canOverwrite(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue) ||
      ice.metadataDeletePlan(filters.toIndexedSeq).isDefined

  override def build(): Write = {
    val md = ice.metadata
    require(Seq(replace, dynamic, byFilter.isDefined).count(identity) <= 1,
      "conflicting overwrite modes requested")
    require(!dynamic || md.partitionCols.nonEmpty,
      "dynamic partition overwrite requires a partitioned table")
    require(info.schema().catalogString == md.schema.catalogString,
      s"write schema ${info.schema().catalogString} != table schema ${md.schema.catalogString}")
    // stampedSchema: the data writers carry the table's field ids into
    // every parquet file (rename/drop evolution reads resolve by id)
    new IceLiteWrite(ice.location.toString, md.stampedSchema, md.partitionCols, replace,
      dynamic, info.queryId(), onCommit, byFilter)
  }
}

final class IceLiteWrite(
    location: String,
    schema: StructType,
    partCols: Seq[String],
    replace: Boolean,
    dynamic: Boolean,
    queryId: String,
    onCommit: Option[IceTable => Unit] = None,
    byFilter: Option[Array[org.apache.spark.sql.sources.Filter]] = None)
    extends Write with RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}

  /** Hive-layout writes request rows CLUSTERED on the partition columns
    * (each value lands wholly in one task — one file per value per
    * commit, the compaction-friendly layout) and SORTED by them within
    * tasks (the rolling writer keeps exactly one file open at a time).
    * Unpartitioned writes request nothing — no shuffle is inserted. */
  override def requiredDistribution(): Distribution =
    if (partCols.isEmpty) Distributions.unspecified()
    else Distributions.clustered(partCols.map(c => Expressions.identity(c)).toArray)

  override def requiredOrdering(): Array[SortOrder] =
    partCols.map(c => Expressions.sort(
      Expressions.identity(c), SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray

  override def toBatch: BatchWrite =
    new IceLiteBatchWrite(location, schema, partCols, replace, dynamic, onCommit, byFilter)

  /** `df.writeStream.format("icelite")`: every epoch commits one snapshot
    * through the CAS protocol with `(queryId, epochId)` as the commit
    * token, so a replayed epoch (restart, at-least-once redelivery) is
    * absorbed EXACTLY ONCE — the V2-native twin of the st05 foreachBatch
    * + appendOnce recipe. The token MUST be query-scoped: a second
    * streaming query into the same table (or a restart with a fresh
    * checkpoint) restarts epochs at 0, and an epoch-only token would make
    * commitStagedEntries swallow its first commits as replays — silent
    * data loss. Iceberg's own Spark streaming writer dedupes by
    * (queryId, epochId) for exactly this reason. */
  override def toStreaming: streaming.StreamingWrite = {
    require(!replace, "icelite streaming write supports append output mode only")
    require(partCols.isEmpty,
      "icelite streaming write supports unpartitioned tables; " +
        "use foreachBatch + the batch write for hive layouts")
    new IceLiteStreamingWrite(location, schema, queryId, onCommit)
  }
}

final class IceLiteStreamingWrite(
    location: String,
    schema: StructType,
    queryId: String,
    onCommit: Option[IceTable => Unit] = None)
    extends streaming.StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory =
    IceLiteStreamingWriterFactory(IceLiteWrite.files(schema), location)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // zero-row task outputs add no files: a stats-less empty file would be
    // unprunable forever (no recorded range = conservative keep)
    val entries = IceLiteWrite.entries(
      messages.toSeq.map(_.asInstanceOf[WrittenFile]), schema, Set.empty)
    val t = IceTable.load(SparkSession.active, location)
    t.commitStagedEntries(entries, replace = false, token = Some(s"v2-$queryId-epoch-$epochId"))
    onCommit.foreach(_(t))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(location).getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    messages.foreach {
      case m: WrittenFile => fs.delete(new Path(location, m.relPath), false)
      case _                      =>
    }
  }
}

final class IceLiteBatchWrite(
    location: String,
    schema: StructType,
    partCols: Seq[String],
    replace: Boolean,
    dynamic: Boolean,
    onCommit: Option[IceTable => Unit] = None,
    byFilter: Option[Array[org.apache.spark.sql.sources.Filter]] = None)
    extends BatchWrite {

  // staging dir fixed at the driver; every task writes beneath it
  private val dataRel = s"data/snap-w-${java.util.UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    if (partCols.isEmpty) new ParquetDataWriterFactory(IceLiteWrite.files(schema), location, dataRel)
    else new IceLitePartitionedWriterFactory(
      IceLiteWrite.files(StructType(schema.fields.filterNot(f => partCols.contains(f.name)))),
      location, dataRel, schema, partCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // write-audit-publish (Iceberg's `spark.wap.branch` idiom): with
    // `graft.wap.branch` set, a plain INSERT INTO lands on that branch —
    // invisible on main until CALL system.fast_forward publishes it.
    // Overwrites are refused UP FRONT: silently sending one to main while
    // the user believes it's staged would defeat the audit gate.
    val wap = Option(SparkSession.active.conf.get("graft.wap.branch", null))
      .filter(_.nonEmpty)
    require(wap.isEmpty || (byFilter.isEmpty && !dynamic && !replace),
      "graft.wap.branch supports plain INSERT INTO appends only")
    // zero-row task outputs add no files (see streaming commit note)
    val entries = IceLiteWrite.entries(messages.toSeq.flatMap {
      case p: IceLitePartitionedWriteMessage => p.entries
      case m: WrittenFile                    => Seq(m)
    }, schema, partCols.toSet)
    val t = IceTable.load(SparkSession.active, location)
    if (byFilter.isDefined) {
      // filter-based overwrite: atomically swap the provably-matching
      // files for the staged rows (same classification as metadata DELETE)
      val removed = t.metadataDeletePlan(byFilter.get.toIndexedSeq).getOrElse(
        throw new IllegalStateException(
          "overwrite committed with a condition canOverwrite rejected"))
      t.commitReplaceScanned(removed, entries, "overwrite")
    } else if (dynamic) {
      // replace exactly the partitions this query wrote: both sides keyed
      // by the hive path segments (`a=x/b=1`), which the rolling writer
      // put in every staged relPath and every committed file carries
      def partPath(rel: String): String =
        rel.split('/').filter(_.contains("=")).mkString("/")
      val touched = entries.map(e => partPath(e.file)).toSet
      val victims = t.metadata.currentSnapshot.toSeq.flatMap(t.filesOf)
        .filter(f => touched.contains(partPath(f))).toSet
      t.commitReplaceScanned(victims, entries, "overwrite")
    } else t.commitStagedEntries(entries, replace, ref = wap)
    onCommit.foreach(_(t))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(location).getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    fs.delete(new Path(location, dataRel), true)
  }
}

/** One partitioned task's output: one file per partition value the task
  * held (clustering makes that set disjoint across tasks). */
final case class IceLitePartitionedWriteMessage(entries: Seq[WrittenFile])
    extends WriterCommitMessage

final case class IceLitePartitionedWriterFactory(
    files: ParquetFiles,
    location: String,
    dataRel: String,
    schema: StructType,
    partCols: Seq[String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new IceLitePartitionedDataWriter(files, location, dataRel, schema, partCols,
      partitionId, taskId)
}

/** Hive-layout V2 writer: rows arrive clustered+sorted on the partition
  * columns (requested via RequiresDistributionAndOrdering), so this
  * writer keeps exactly ONE parquet file open, rolling to a new
  * `pc=v/...` file when the partition key changes. Each rolled file's
  * entry carries (a) the data-column min/max collected inline by the
  * wrapped [[ParquetDataWriter]] and (b) min=max=value ranges for the
  * partition columns — the same per-file stats the library's hive-layout
  * manifest pass records, so partition-predicate file pruning, DPP,
  * storage-partitioned joins and metadata COUNT(*) behave identically
  * for SQL-INSERTed data. Partition values ride the PATH (Spark's
  * escaping; data files do not repeat the columns — the read path
  * restores them, DataSourceV2Spec's round-trip contract). */
final class IceLitePartitionedDataWriter(
    files: ParquetFiles,
    location: String,
    dataRel: String,
    schema: StructType,
    partCols: Seq[String],
    partitionId: Int,
    taskId: Long)
    extends DataWriter[InternalRow] {

  private val partIdx: IndexedSeq[Int] = partCols.map(schema.fieldIndex).toIndexedSeq
  private val dataIdx: IndexedSeq[Int] =
    schema.fields.indices.filterNot(partIdx.contains).toIndexedSeq
  private val proj = new org.apache.spark.sql.catalyst.ProjectingInternalRow(files.schema, dataIdx)

  private var curKey: Seq[String] = null // cast-to-string partition values (null = SQL NULL)
  private var cur: ParquetDataWriter = _
  private val done = scala.collection.mutable.ListBuffer.empty[WrittenFile]

  /** Partition value -> its `CAST(v AS STRING)` form (what the library's
    * stats pass records and the path carries pre-escaping). */
  private def valueStr(i: Int, row: InternalRow): String = {
    val idx = partIdx(i)
    if (row.isNullAt(idx)) null
    else schema.fields(idx).dataType match {
      case StringType  => row.getUTF8String(idx).toString
      case IntegerType => row.getInt(idx).toString
      case LongType    => row.getLong(idx).toString
      case BooleanType => row.getBoolean(idx).toString
      case DateType    => java.time.LocalDate.ofEpochDay(row.getInt(idx).toLong).toString
      case other => throw new UnsupportedOperationException(
        s"icelite V2 partitioned write: unsupported partition type $other " +
          s"for column ${schema.fields(idx).name}")
    }
  }

  private def roll(): Unit = if (cur != null) {
    val m = cur.commit()
    // min=max=value partition-column ranges; a null value records no
    // value, like the library's null-group stats
    done += m.copy(bounds = m.bounds ++ partCols.indices.map { i =>
      partCols(i) -> Option(curKey(i)).map(v => (v, v))
    })
    cur = null
  }

  override def write(row: InternalRow): Unit = {
    val key = partCols.indices.map(i => valueStr(i, row))
    if (key != curKey) {
      roll()
      curKey = key
      val segs = partCols.indices.map { i =>
        val seg = Option(key(i))
          .map(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName)
          .getOrElse(IceLiteScan.HiveNullPart)
        s"${partCols(i)}=$seg"
      }
      cur = files.writer(location,
        ParquetFiles.partFile(s"$dataRel/${segs.mkString("/")}", partitionId, taskId))
    }
    proj.project(row)
    cur.write(proj)
  }

  override def commit(): WriterCommitMessage = {
    roll()
    IceLitePartitionedWriteMessage(done.toList)
  }

  override def abort(): Unit = {
    if (cur != null) cur.abort()
    val fs = new Path(location).getFileSystem(files.conf.value)
    done.foreach(m => fs.delete(new Path(location, m.relPath), false))
  }

  override def close(): Unit = if (cur != null) cur.close()
}

final case class IceLiteStreamingWriterFactory(files: ParquetFiles, location: String)
    extends streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    files.writer(location,
      ParquetFiles.partFile(f"data/snap-e$epochId-$partitionId%05d", partitionId, taskId))
}

object IceLiteWrite {

  /** The files of an IceLite write of `schema`: the flat primitive
    * surface, checked here on the driver, carrying the field ids the
    * schema is stamped with ([[graft.icelite.TableMetadata.stampedSchema]]),
    * none when it carries none. */
  def files(schema: StructType): ParquetFiles = {
    schema.fields.foreach(f => f.dataType match {
      case StringType | IntegerType | LongType | FloatType | DoubleType | BooleanType |
          DateType | TimestampType | TimestampNTZType =>
      case other => throw new UnsupportedOperationException(
        s"icelite V2 write: unsupported type $other for column ${f.name} " +
          "(flat primitive surface only; decimals go through the catalog append)")
    })
    ParquetFiles(schema, schema.fields.collect {
      case f if f.metadata.contains("parquet.field.id") =>
        f.name -> f.metadata.getLong("parquet.field.id").toInt
    }.toMap)
  }

  /** Manifest entries of the non-empty written files (a zero-row task
    * output adds no file). Bounds are the `cast(string)` forms the library
    * stats pass records; string bounds land TRUNCATED (Iceberg
    * truncate(16): prefix lower, incremented-prefix upper, a missing upper
    * reads as unbounded) so a long-text column never puts two
    * document-sized strings in every entry. `exact` columns keep full
    * bounds: partition columns (one uniform value per file) and a
    * position-delete file's `file_path` (every path in a table shares a
    * long prefix, so truncated path bounds could not prune). */
  def entries(files: Seq[WrittenFile], schema: StructType, exact: Set[String])
      : Seq[ManifestEntry] =
    files.filter(_.rows > 0L).map { w =>
      val stats = w.bounds.map {
        case (c, None) => c -> ColRange(None, None)
        case (c, Some((lo, hi))) if schema(c).dataType == StringType && !exact(c) =>
          c -> ColRange(Some(graft.icelite.IcebergFormat.truncateLowerBound(lo)),
            graft.icelite.IcebergFormat.truncateUpperBound(hi))
        case (c, Some((lo, hi))) => c -> ColRange(Some(lo), Some(hi))
      }
      ManifestEntry(w.relPath, Some(stats), Some(w.rows), Some(w.sizeBytes),
        Some(w.splitOffsets.toList).filter(_.nonEmpty))
    }
}
