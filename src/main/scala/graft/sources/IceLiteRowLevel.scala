package graft.sources

import graft.icelite.{IceTable, Snapshot, TableMetadata}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.RowDeltaUtils
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.Locale

/** Group-based (copy-on-write) row-level SQL operations for IceLite:
  * `DELETE FROM t WHERE …`, `UPDATE t SET …`, `MERGE INTO t USING s …`
  * against any `format("icelite")` / catalog-registered table — the SQL a
  * lakehouse user types first (the reference's surface is SQL-first:
  * `/root/reference/query_iceberg_minio.ipynb:1119-1180`).
  *
  * Spark does the heavy lifting: `RewriteDeleteFromTable` /
  * `RewriteUpdateTable` / `RewriteMergeIntoTable` re-plan the command as
  * ReplaceData over this operation's scan + write, and
  * `GroupBasedRowLevelOperationScanPlanning` pushes the command's
  * CONDITION into the scan — so manifest min/max file skipping decides
  * the rewrite's blast radius: a file whose stats can't match the
  * condition is never scanned, therefore never rewritten, and carries by
  * manifest pointer. The "groups" here are data FILES; the write's
  * commit ([[IceTable.commitReplaceScanned]]) atomically swaps exactly
  * the scanned files for the staged rewrite. At 100 TB a keyed MERGE
  * touching one day's files rewrites one day's files.
  *
  * Scan and write are COUPLED through `configuredScan`: the contract of
  * group-based execution is that the write replaces precisely what the
  * scan read, so the scan instance Spark builds is captured here and its
  * survivor set is read back at commit time (after any runtime group
  * filtering has narrowed it). */
final class IceLiteRowLevelBuilder(
    ice: IceTable,
    md: TableMetadata,
    snap: Option[Snapshot],
    info: RowLevelOperationInfo,
    onCommit: Option[IceTable => Unit])
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new IceLiteRowLevelOperation(ice, md, snap, info, onCommit)
}

final class IceLiteRowLevelOperation(
    ice: IceTable,
    md: TableMetadata,
    snap: Option[Snapshot],
    info: RowLevelOperationInfo,
    onCommit: Option[IceTable => Unit])
    extends RowLevelOperation {

  @volatile private var configuredScan: IceLiteScan = _

  override def command(): RowLevelOperation.Command = info.command()

  override def description(): String =
    s"icelite copy-on-write ${command().toString.toLowerCase(Locale.ROOT)}"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IceLiteScanBuilder(ice, md, snap, onBuild = {
      case s: IceLiteScan => configuredScan = s
      case other => throw new IllegalStateException(
        s"row-level operation scan must be a data scan, got ${other.getClass.getName}")
    })

  override def newWriteBuilder(writeInfo: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = {
    require(md.partitionCols.isEmpty,
      "icelite row-level SQL operations support unpartitioned tables; " +
        "use the library deleteRange/merge for hive layouts")
    // stampedSchema: rewritten data files keep the table's parquet field
    // ids (rename/drop evolution reads resolve by id)
    val nullable = StructType(md.stampedSchema.fields.map(_.copy(nullable = true)))
    require(
      StructType(writeInfo.schema().fields.map(_.copy(nullable = true))).catalogString ==
        nullable.catalogString,
      s"row-level write schema ${writeInfo.schema().catalogString} != table schema ${nullable.catalogString}")
      new IceLiteReplaceDataWrite(ice.location.toString, nullable,
        command().toString.toLowerCase(Locale.ROOT),
        () => {
          val s = configuredScan
          require(s != null, "row-level write committed before its scan was planned")
          s.replacedFiles
        },
        onCommit)
    }
  }
}

/** The ReplaceData write: executors stage the affected groups' rewritten
  * rows exactly like the batch V2 write (inline per-file stats, no
  * post-hoc scan), and the driver commit swaps scanned-files -> staged
  * files in one CAS snapshot. */
final class IceLiteReplaceDataWrite(
    location: String,
    schema: StructType,
    operation: String,
    scannedFiles: () => Set[String],
    onCommit: Option[IceTable => Unit])
    extends Write {

  override def toBatch: BatchWrite = new BatchWrite {
    private val dataRel = s"data/snap-rl-${java.util.UUID.randomUUID().toString.take(8)}"

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new IceLiteRowLevelWriterFactory(IceLiteWrite.files(schema), location, dataRel)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val entries = IceLiteWrite.entries(
        messages.toSeq.map(_.asInstanceOf[WrittenFile]), schema, Set.empty)
      val t = IceTable.load(SparkSession.active, location)
      t.commitReplaceScanned(scannedFiles(), entries, operation)
      onCommit.foreach(_(t))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fs = new org.apache.hadoop.fs.Path(location)
        .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(location, dataRel), true)
    }
  }
}

/** Executor-side writer for ReplaceData rows. Spark's group-based
  * UPDATE/MERGE rewrites prepend a `__row_operation` int column
  * (RowDeltaUtils.WRITE_WITH_METADATA_OPERATION) to the query output and
  * — when the operation exposes no metadata attributes — hand the rows to
  * the writer UNPROJECTED (ReplaceDataExec.writingTask falls back to the
  * plain DataWritingSparkTask). Detect that shape by arity: an
  * (arity+1)-field row is (op, data...) — strip the op via a reusable
  * ProjectingInternalRow and drop rows marked DELETE; an arity-field row
  * (the DELETE rewrite's remaining-rows plan) passes straight through. */
final class IceLiteRowLevelWriterFactory(files: ParquetFiles, location: String, dataRel: String)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val inner =
        files.writer(location, ParquetFiles.partFile(dataRel, partitionId, taskId))
      private val arity = files.schema.fields.length
      private val proj = new org.apache.spark.sql.catalyst.ProjectingInternalRow(
        files.schema, (1 to arity).toIndexedSeq)

      override def write(row: InternalRow): Unit =
        if (row.numFields == arity + 1) {
          if (row.getInt(0) != RowDeltaUtils.DELETE_OPERATION) {
            proj.project(row)
            inner.write(proj)
          }
        } else inner.write(row)

      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
}
