package graft.sources

import graft.icelite.{IceTable, Snapshot, TableMetadata}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util.Locale

/** MERGE-ON-READ row-level SQL operations for IceLite — the
  * `SupportsDelta` twin of the copy-on-write [[IceLiteRowLevelOperation]]
  * (Iceberg's `write.delete.mode = merge-on-read`, the v2-spec MoR design
  * the reference deploys for low-latency deletes:
  * `/root/reference/query_iceberg_minio.ipynb:1119-1180` runs row-level
  * SQL against exactly such tables).
  *
  * How Spark drives it: because the operation implements [[SupportsDelta]],
  * `RewriteDeleteFromTable` / `RewriteUpdateTable` / `RewriteMergeIntoTable`
  * plan a WriteDelta instead of a group-based ReplaceData — matched rows
  * flow to [[DeltaWriter.delete]] as their `(_file, _pos)` ROW IDs (our
  * table's metadata columns), inserts flow to [[DeltaWriter.insert]], and
  * updates are split into delete+insert (`representUpdateAsDeleteAndInsert`).
  * Executors write POSITION DELETE parquet files (`file_path, pos` — the
  * Iceberg v2 position-delete shape) plus ordinary data files for inserts;
  * the driver commit ([[IceTable.commitRowDeltas]]) appends both as delta
  * manifests while carrying every data manifest by pointer.
  *
  * 100 TB shape: write cost is proportional to MATCHED ROWS, not affected
  * files — a 10-row delete in a 10-TB file writes a few-KB delete file and
  * one metadata commit, zero data rewrite. Readers apply the deletes from
  * range-pruned per-file bitmaps until compaction rewrites them away
  * ([[IceTable.compact]] scans delete-applied and starts the new snapshot
  * clean). The condition still reaches the scan through
  * `DeltaBasedRowLevelOperationScanPlanning`, so manifest min/max file
  * skipping bounds what is even read. */
final class IceLiteDeltaBuilder(
    ice: IceTable,
    md: TableMetadata,
    snap: Option[Snapshot],
    info: RowLevelOperationInfo,
    onCommit: Option[IceTable => Unit])
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new IceLiteDeltaOperation(ice, md, snap, info, onCommit)
}

final class IceLiteDeltaOperation(
    ice: IceTable,
    md: TableMetadata,
    snap: Option[Snapshot],
    info: RowLevelOperationInfo,
    onCommit: Option[IceTable => Unit])
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = info.command()

  override def description(): String =
    s"icelite merge-on-read ${command().toString.toLowerCase(Locale.ROOT)}"

  /** Row identity = the scan's `_file`/`_pos` metadata columns (non-null
    * by construction, as `resolveRowIdAttrs` requires). */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  /** UPDATE splits into delete+insert: one writer shape (position deletes
    * + plain data files) serves all three commands. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IceLiteScanBuilder(ice, md, snap)

  override def newWriteBuilder(writeInfo: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
          // insert-bearing commands (UPDATE/MERGE) must hand rows in table
        // schema order — partIdx/dataIdx in the partitioned writer are
        // derived from it; DELETE's row schema is empty (row-id only)
        require(
          command() == RowLevelOperation.Command.DELETE ||
            StructType(writeInfo.schema().fields.map(_.copy(nullable = true))).catalogString ==
            StructType(md.schema.fields.map(_.copy(nullable = true))).catalogString,
          s"delta write schema ${writeInfo.schema().catalogString} != table schema ${md.schema.catalogString}")
        // insert-bearing commands (UPDATE/MERGE) on a hive-partitioned
        // table stage their insert files through the same rolling
        // partitioned writer SQL INSERT uses (ic66); position deletes are
        // layout-agnostic either way
        new IceLiteDeltaWrite(ice.location.toString, md.stampedSchema, md.partitionCols,
          command(), onCommit)
      }
    }
}

/** The WriteDelta write: executors stage position-delete files and (for
  * UPDATE/MERGE) insert data files; the driver commit is one CAS snapshot
  * appending the delta manifests — no data manifest is rewritten, no data
  * file is touched. On a hive-partitioned table the insert rows are
  * requested CLUSTERED + SORTED on the partition columns (same contract
  * as SQL INSERT's [[IceLiteWrite]]) so the rolling partitioned writer
  * stages one file per touched value per task — no small-file sprawl
  * when a 100 TB MERGE upserts into thousands of partitions. */
final class IceLiteDeltaWrite(
    location: String,
    schema: StructType,
    partCols: Seq[String],
    command: RowLevelOperation.Command,
    onCommit: Option[IceTable => Unit])
    extends DeltaWrite with RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}

  private val operation = command.toString.toLowerCase(Locale.ROOT)

  /** DELETE rows carry no data columns (row-id projection only) — a
    * distribution over partition columns would not even resolve; inserts
    * exist only for UPDATE/MERGE, where the delta plan's row schema keeps
    * the table columns, so identity(partCol) resolves and delete rows
    * (null data columns) simply cluster into the NULLS FIRST bucket. */
  private def wantsClustering = partCols.nonEmpty && command != RowLevelOperation.Command.DELETE

  override def requiredDistribution(): Distribution =
    if (!wantsClustering) Distributions.unspecified()
    else Distributions.clustered(partCols.map(c => Expressions.identity(c)).toArray)

  override def requiredOrdering(): Array[SortOrder] =
    if (!wantsClustering) Array.empty
    else partCols.map(c => Expressions.sort(
      Expressions.identity(c), SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val tag       = java.util.UUID.randomUUID().toString.take(8)
    private val deleteRel = s"data/deletes-$tag"
    private val dataRel   = s"data/snap-d-$tag"

    // inserts exist only for UPDATE/MERGE: a DELETE never prepares (nor
    // checks the schema of) the data files it cannot write
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
      new IceLiteDeltaWriterFactory(IceLiteWrite.files(IceTable.PositionDeleteSchema),
        Option.when(command != RowLevelOperation.Command.DELETE)(IceLiteWrite.files(
          StructType(schema.fields.filterNot(f => partCols.contains(f.name))))),
        location, deleteRel, dataRel, schema, partCols)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val msgs = messages.toSeq.map(_.asInstanceOf[IceLiteDeltaMessage])
      val dels = IceLiteWrite.entries(msgs.flatMap(_.deleteFile),
        IceTable.PositionDeleteSchema, Set("file_path"))
      val ins  = IceLiteWrite.entries(msgs.flatMap(_.dataFiles), schema, partCols.toSet)
      if (dels.isEmpty && ins.isEmpty) return // nothing matched: no snapshot
      val t = IceTable.load(SparkSession.active, location)
      t.commitRowDeltas(dels, ins, operation, msgs.flatMap(_.targets).toSet)
      onCommit.foreach(_(t))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fs = new Path(location)
        .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      fs.delete(new Path(location, deleteRel), true)
      fs.delete(new Path(location, dataRel), true)
    }
  }
}

/** One delta task's output: its position-delete file, its insert files,
  * and the distinct `file_path`s its deletes target. */
final case class IceLiteDeltaMessage(
    deleteFile: Option[WrittenFile],
    dataFiles: Seq[WrittenFile],
    targets: Set[String])
    extends WriterCommitMessage

final class IceLiteDeltaWriterFactory(
    deletes: ParquetFiles,
    inserts: Option[ParquetFiles],
    location: String,
    deleteRel: String,
    dataRel: String,
    schema: StructType,
    partCols: Seq[String])
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new IceLiteDeltaWriter(deletes, inserts, location, deleteRel, dataRel, schema, partCols,
      partitionId, taskId)
}

/** Executor-side delta writer. `delete` receives the projected row ID
  * `(_file, _pos)` and STREAMS it into a position-delete parquet via the
  * same stats-collecting [[ParquetDataWriter]] data files use — the
  * `file_path` min/max it records per delete file is what lets readers
  * range-prune which delete files to open. No buffering: the delta plan is
  * a narrow filter+project over the scan (rows arrive file-clustered,
  * positions ascending), and even if a future plan shuffles them the
  * output stays correct — readers apply deletes as a set. The distinct
  * target paths travel back in the commit message, for the driver's
  * concurrent-rewrite check. Inserts stage ordinary data files. */
final class IceLiteDeltaWriter(
    deletes: ParquetFiles,
    inserts: Option[ParquetFiles],
    location: String,
    deleteRel: String,
    dataRel: String,
    schema: StructType,
    partCols: Seq[String],
    partitionId: Int,
    taskId: Long)
    extends DeltaWriter[InternalRow] {

  private var delWriter: ParquetDataWriter = _
  // inserts on a hive layout stage through the SAME rolling partitioned
  // writer SQL INSERT uses (one `pc=v/` file per value per task, min=max
  // partition stats); flat tables keep the single-file writer
  private var insWriter: DataWriter[InternalRow] = _
  private val delRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
  private val targets = scala.collection.mutable.Set.empty[String]
  private var lastTarget: UTF8String = _

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (delWriter == null)
      delWriter = deletes.writer(location, ParquetFiles.partFile(deleteRel, partitionId, taskId))
    val pos = id.getLong(1)
    require(pos >= 0 && pos <= Int.MaxValue.toLong,
      s"row position $pos outside the position-delete range")
    // copy the UTF8String: the projected row is a view over the input row
    val target = id.getUTF8String(0).clone()
    // rows arrive file-clustered: a path is decoded once per run
    if (target != lastTarget) { targets += target.toString; lastTarget = target }
    delRow.update(0, target)
    delRow.update(1, pos)
    delWriter.write(delRow)
  }

  override def insert(row: InternalRow): Unit = {
    if (insWriter == null) {
      val files = inserts.getOrElse(
        throw new IllegalStateException("icelite delta DELETE received an insert row"))
      insWriter =
        if (partCols.isEmpty)
          files.writer(location, ParquetFiles.partFile(dataRel, partitionId, taskId))
        else
          new IceLitePartitionedDataWriter(files, location, dataRel, schema, partCols,
            partitionId, taskId)
    }
    insWriter.write(row)
  }

  /** Never called: representUpdateAsDeleteAndInsert splits updates. */
  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new UnsupportedOperationException(
      "icelite delta updates are represented as delete+insert")

  override def reinsert(metadata: InternalRow, row: InternalRow): Unit = insert(row)

  override def commit(): WriterCommitMessage = IceLiteDeltaMessage(
    Option(delWriter).map(_.commit()),
    Option(insWriter).map(_.commit()).toSeq.flatMap {
      case p: IceLitePartitionedWriteMessage => p.entries
      case m: WrittenFile                    => Seq(m)
    },
    targets.toSet)

  override def abort(): Unit = {
    if (delWriter != null) delWriter.abort()
    if (insWriter != null) insWriter.abort()
  }

  override def close(): Unit = ()
}
