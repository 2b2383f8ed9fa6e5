package graft.sources

import graft.icelite.{IceCatalog, IceTable}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Maintenance PROCEDURES for the SQL surface — the Iceberg
  * `CALL cat.system.<proc>(...)` idiom, bound through Spark's V2
  * ProcedureCatalog (Analyzer ResolveProcedures/InvokeProcedures):
  *
  * {{{
  * CALL cat.system.rewrite_data_files('ns', 't', 1)   -- compaction
  * CALL cat.system.expire_snapshots('ns', 't', 2)     -- history GC
  * CALL cat.system.remove_orphan_files('ns', 't', 0)  -- orphan sweep
  * CALL cat.system.rollback_to_snapshot('ns', 't', 3) -- pointer move
  * CALL cat.system.rewrite_position_deletes('ns', 't') -- MoR debt fold
  * }}}
  *
  * Each call runs the library maintenance op and returns its audit as a
  * driver-local result scan (rows are O(1) or O(removed paths) — never
  * data-sized). `onDone` republishes the catalog pointer for REST-bound
  * catalogs, since expire/compact/rollback all commit new metadata. */
private[graft] object IceLiteProcedures {

  val names: Set[String] =
    Set("rewrite_data_files", "expire_snapshots", "remove_orphan_files",
      "rollback_to_snapshot", "rewrite_position_deletes",
      // snapshot management (the SQL half of the WAP workflow: stage on a
      // branch with graft.wap.branch, audit via VERSION AS OF 'branch',
      // publish with fast_forward — plus git-style history surgery)
      "create_branch", "create_tag", "drop_ref", "fast_forward",
      "cherrypick_snapshot",
      // incremental materialized views over native Iceberg v2 dirs
      // (graft.ops.MatView): the SQL lifecycle for delta-proportional
      // refresh of a persisted aggregate
      "create_mv", "refresh_mv",
      // Puffin theta-sketch column statistics (graft.icelite.TableStats)
      "analyze_table",
      // spec partition-statistics file over an identity-partitioned dir
      "compute_partition_stats")

  private def p(name: String, dt: DataType) = ProcedureParameter.in(name, dt).build()

  private def resultScan(schema: StructType, resultRows: Seq[InternalRow]): java.util.Iterator[Scan] =
    java.util.Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = resultRows.toArray
      override def readSchema(): StructType = schema
      override def description(): String = "IceLiteProcedureResult"
    }).iterator()

  def load(
      backend: IceCatalog,
      ident: Identifier,
      onDone: (String, String, IceTable) => Unit): Option[UnboundProcedure] = {
    if (!(ident.namespace().sameElements(Array("system")) && names(ident.name()))) return None
    val proc = ident.name()
    Some(new UnboundProcedure {
      override def name(): String = proc
      override def description(): String = s"icelite maintenance procedure $proc"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = proc
        override def description(): String = s"icelite maintenance procedure $proc"
        override def isDeterministic: Boolean = false // mutates table state

        override def parameters(): Array[ProcedureParameter] = proc match {
          case "rewrite_data_files" =>
            Array(p("ns", StringType), p("table", StringType), p("target_files", IntegerType))
          case "expire_snapshots" =>
            Array(p("ns", StringType), p("table", StringType), p("keep_last", IntegerType))
          case "remove_orphan_files" =>
            Array(p("ns", StringType), p("table", StringType), p("older_than_ms", LongType))
          case "rollback_to_snapshot" =>
            Array(p("ns", StringType), p("table", StringType), p("snapshot_id", LongType))
          case "rewrite_position_deletes" =>
            Array(p("ns", StringType), p("table", StringType))
          case "create_branch" | "create_tag" =>
            // snapshot_id 0 = the current main head (the common WAP shape)
            Array(p("ns", StringType), p("table", StringType),
              p("name", StringType), p("snapshot_id", LongType))
          case "drop_ref" | "fast_forward" =>
            Array(p("ns", StringType), p("table", StringType), p("name", StringType))
          case "cherrypick_snapshot" =>
            Array(p("ns", StringType), p("table", StringType), p("snapshot_id", LongType))
          case "create_mv" =>
            // aggs: "fn:input:as" specs joined with ';' (input may be any
            // scalar SQL over the base — fn is before the FIRST ':', the
            // output alias after the LAST, so casts parse unambiguously)
            Array(p("ns", StringType), p("table", StringType), p("mv_name", StringType),
              p("group_cols", StringType), p("aggs", StringType))
          case "refresh_mv" =>
            Array(p("ns", StringType), p("table", StringType))
          case "analyze_table" =>
            // columns: comma-separated subset ('' = every supported column)
            Array(p("ns", StringType), p("table", StringType), p("columns", StringType))
          case "compute_partition_stats" =>
            Array(p("ns", StringType), p("table", StringType))
        }

        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val ns  = input.getUTF8String(0).toString
          val tbl = input.getUTF8String(1).toString
          // a STANDARD-format dir under an FS warehouse takes the
          // spec-metadata rewrite path (same precedence as table loads)
          val stdLoc = backend match {
            case f: graft.icelite.FsCatalog => Some(s"${f.warehouse}/$ns/$tbl")
              .filter(l => IcebergMorV2Table.isIcebergDir(
                org.apache.spark.sql.SparkSession.active, l))
            case _ => None
          }
          if (proc == "rewrite_data_files" && stdLoc.isDefined)
            return rewriteStandardFormat(stdLoc.get, input.getInt(2))
          if (proc == "analyze_table") {
            val wh = backend match {
              case f: graft.icelite.FsCatalog => f.warehouse
              case _ => throw new UnsupportedOperationException(
                "analyze_table needs an FS-warehouse catalog")
            }
            val loc = s"$wh/$ns/$tbl"
            require(IcebergMorV2Table.isIcebergDir(
              org.apache.spark.sql.SparkSession.active, loc),
              s"analyze_table supports native Iceberg v2 tables only ($loc is not one)")
            val cols = input.getUTF8String(2).toString.split(",")
              .map(_.trim).filter(_.nonEmpty).toSeq
            val spark = org.apache.spark.sql.SparkSession.active
            val path  = graft.icelite.TableStats.analyze(spark, loc, cols)
            val entries = graft.icelite.IcebergFormat.statisticsEntries(spark,
              graft.icelite.IcebergFormat.currentMetadataPath(spark, loc))
            val blobs = entries.find(_.path == path.toString).map(_.blobs.size).getOrElse(0)
            return resultScan(
              StructType(Seq(StructField("statistics_path", StringType),
                StructField("blobs", LongType))),
              Seq(new GenericInternalRow(Array[Any](
                UTF8String.fromString(path.toString), blobs.toLong))))
          }
          if (proc == "compute_partition_stats") {
            val wh = backend match {
              case f: graft.icelite.FsCatalog => f.warehouse
              case _ => throw new UnsupportedOperationException(
                "compute_partition_stats needs an FS-warehouse catalog")
            }
            val loc   = s"$wh/$ns/$tbl"
            val spark = org.apache.spark.sql.SparkSession.active
            require(IcebergMorV2Table.isIcebergDir(spark, loc),
              s"compute_partition_stats supports native Iceberg v2 tables only")
            val path = graft.icelite.TableStats.computePartitionStats(spark, loc)
            val n = spark.read.parquet(path.toString).count()
            return resultScan(
              StructType(Seq(StructField("statistics_path", StringType),
                StructField("partitions", LongType))),
              Seq(new GenericInternalRow(Array[Any](
                UTF8String.fromString(path.toString), n))))
          }
          if (proc == "create_mv" || proc == "refresh_mv") {
            val wh = backend match {
              case f: graft.icelite.FsCatalog => f.warehouse
              case _ => throw new UnsupportedOperationException(
                "materialized-view procedures need an FS-warehouse catalog")
            }
            return mvProcedure(proc, wh, ns, tbl, input)
          }
          val t   = backend.loadTable(ns, tbl)
          def reload(): IceTable = {
            val r = backend.loadTable(ns, tbl)
            onDone(ns, tbl, r)
            r
          }
          proc match {
            case "rewrite_data_files" =>
              val before = t.metadata.currentSnapshot.toSeq.flatMap(t.filesOf).size.toLong
              t.compact(input.getInt(2))
              val after = { val r = reload()
                r.metadata.currentSnapshot.toSeq.flatMap(r.filesOf).size.toLong }
              resultScan(
                StructType(Seq(StructField("files_before", LongType),
                  StructField("files_after", LongType))),
                Seq(new GenericInternalRow(Array[Any](before, after))))
            case "expire_snapshots" =>
              val before = t.metadata.snapshots.size.toLong
              t.expireSnapshots(input.getInt(2))
              val after = reload().metadata.snapshots.size.toLong
              resultScan(
                StructType(Seq(StructField("snapshots_before", LongType),
                  StructField("snapshots_after", LongType))),
                Seq(new GenericInternalRow(Array[Any](before, after))))
            case "remove_orphan_files" =>
              val removed = t.removeOrphans(input.getLong(2))
              reload()
              resultScan(
                StructType(Seq(StructField("orphan_path", StringType))),
                removed.sorted.map(r =>
                  new GenericInternalRow(Array[Any](UTF8String.fromString(r)))))
            case "rewrite_position_deletes" =>
              def debt(x: IceTable): (Long, Long) = {
                val es = x.metadata.currentSnapshot.toSeq.flatMap(x.deleteEntriesOf)
                (es.size.toLong, es.flatMap(_.rows).sum)
              }
              val (filesBefore, rowsBefore) = debt(t)
              t.rewritePositionDeletes()
              val (filesAfter, rowsAfter) = debt(reload())
              resultScan(
                StructType(Seq(
                  StructField("delete_files_before", LongType),
                  StructField("delete_files_after", LongType),
                  StructField("delete_rows_before", LongType),
                  StructField("delete_rows_after", LongType))),
                Seq(new GenericInternalRow(
                  Array[Any](filesBefore, filesAfter, rowsBefore, rowsAfter))))
            case "rollback_to_snapshot" =>
              val prev = t.metadata.current_snapshot_id
              t.rollback(input.getLong(2))
              val cur = reload().metadata.current_snapshot_id
              resultScan(
                StructType(Seq(StructField("previous_snapshot_id", LongType),
                  StructField("current_snapshot_id", LongType))),
                Seq(new GenericInternalRow(Array[Any](prev, cur))))
            case "create_branch" | "create_tag" =>
              val name = input.getUTF8String(2).toString
              val at   = Some(input.getLong(3)).filter(_ != 0L)
              if (proc == "create_branch") t.createBranch(name, at)
              else t.createTag(name, at)
              val pinned = reload().refs()(name).snapshot_id
              resultScan(
                StructType(Seq(StructField("ref", StringType),
                  StructField("snapshot_id", LongType))),
                Seq(new GenericInternalRow(
                  Array[Any](UTF8String.fromString(name), pinned))))
            case "drop_ref" =>
              val name = input.getUTF8String(2).toString
              t.dropRef(name)
              reload()
              resultScan(
                StructType(Seq(StructField("dropped_ref", StringType))),
                Seq(new GenericInternalRow(Array[Any](UTF8String.fromString(name)))))
            case "fast_forward" =>
              val prev = t.metadata.current_snapshot_id
              t.fastForward(input.getUTF8String(2).toString)
              val cur = reload().metadata.current_snapshot_id
              resultScan(
                StructType(Seq(StructField("previous_snapshot_id", LongType),
                  StructField("current_snapshot_id", LongType))),
                Seq(new GenericInternalRow(Array[Any](prev, cur))))
            case "cherrypick_snapshot" =>
              t.cherryPick(input.getLong(2))
              val cur = reload().metadata.currentSnapshot.get
              resultScan(
                StructType(Seq(StructField("source_snapshot_id", LongType),
                  StructField("current_snapshot_id", LongType))),
                Seq(new GenericInternalRow(Array[Any](
                  cur.source_snapshot_id.getOrElse(0L), cur.snapshot_id))))
          }
        }
      }
    })
  }

  /** Materialized-view lifecycle from SQL (`CALL cat.system.create_mv` /
    * `refresh_mv`) over NATIVE Iceberg v2 dirs — the production shape of
    * [[graft.ops.MatView]]: a scheduler issues one CALL per cadence and
    * reads back the refresh mode + file-IO audit row, which is how a
    * 100 TB deployment proves each refresh stayed delta-proportional. */
  private def mvProcedure(proc: String, wh: String, ns: String, tbl: String,
      input: InternalRow): java.util.Iterator[Scan] = {
    import graft.icelite.IcebergFormat
    import graft.ops.{MatView, MvAgg}
    val spark = org.apache.spark.sql.SparkSession.active
    if (proc == "create_mv") {
      val mvName    = input.getUTF8String(2).toString
      val groupCols = input.getUTF8String(3).toString.split(",").map(_.trim).toSeq
      val aggs = input.getUTF8String(4).toString.split(";").toSeq.map { r =>
        val i = r.indexOf(':'); val j = r.lastIndexOf(':')
        require(i > 0 && j > i, s"agg spec '$r' must be fn:input:as")
        MvAgg(r.substring(0, i).trim, r.substring(i + 1, j), r.substring(j + 1).trim)
      }
      val baseLoc = s"$wh/$ns/$tbl"
      val mvLoc   = s"$wh/$ns/$mvName"
      require(IcebergMorV2Table.isIcebergDir(spark, baseLoc),
        s"create_mv supports native Iceberg v2 base tables only ($baseLoc is not one)")
      MatView.create(spark, baseLoc, mvLoc, groupCols, aggs)
      val snap = IcebergFormat.currentSnapshotId(
        spark, IcebergFormat.currentMetadataPath(spark, baseLoc)).getOrElse(0L)
      resultScan(
        StructType(Seq(StructField("mv_location", StringType),
          StructField("base_snapshot_id", LongType))),
        Seq(new GenericInternalRow(Array[Any](UTF8String.fromString(mvLoc), snap))))
    } else {
      val mvLoc = s"$wh/$ns/$tbl"
      require(IcebergMorV2Table.isIcebergDir(spark, mvLoc),
        s"refresh_mv expects a materialized-view table dir ($mvLoc is not a native table)")
      val st = MatView.refresh(spark, mvLoc)
      resultScan(
        StructType(Seq(StructField("mode", StringType),
          StructField("from_snapshot", LongType), StructField("to_snapshot", LongType),
          StructField("added_files_read", LongType),
          StructField("delete_files_read", LongType),
          StructField("data_files_reopened", LongType))),
        Seq(new GenericInternalRow(Array[Any](UTF8String.fromString(st.mode),
          st.fromSnapshot, st.toSnapshot, st.addedFilesRead.toLong,
          st.deleteFilesRead.toLong, st.dataFilesReopened.toLong))))
    }
  }

  /** Standard-format `rewrite_data_files` — the maintenance op that CLEARS
    * merge-on-read delete debt, equality deletes (content 2) included: the
    * compacted files are written from a scan of the CURRENT state (which
    * applies position AND equality deletes, ic79's read path), and the
    * commit replaces every manifest — data and delete — so afterwards the
    * table is pure data files again. Older snapshots keep their own
    * manifest lists, so pre-compaction time travel still sees (and still
    * applies) the original deletes. Unpartitioned default specs only: the
    * written files carry no partition tuples, and committing tuple-less
    * files under a partitioned spec is the exact spec violation the delta
    * writer refuses. */
  private def rewriteStandardFormat(loc: String, targetFiles: Int): java.util.Iterator[Scan] = {
    import graft.icelite.IcebergFormat
    val spark    = org.apache.spark.sql.SparkSession.active
    val metaPath = IcebergFormat.currentMetadataPath(spark, loc)
    val plan0    = IcebergFormat.plan(spark, metaPath)
    val before   = plan0.files.size.toLong
    val debt     = plan0.deletes.size.toLong
    val w        = IcebergFormat.resumeWriter(spark, loc)
    require(!w.defaultSpecIsPartitioned,
      "standard-format rewrite_data_files supports unpartitioned default specs " +
        "(written files carry no partition tuples)")
    val n   = math.max(1, targetFiles)
    // v3 ROW LINEAGE: a rewrite changes positions, so implicit
    // (first_row_id + pos) ids would be destroyed — the spec's answer is
    // to MATERIALIZE _row_id/_last_updated_sequence_number into the
    // rewritten files (physical presence wins on every reader), which is
    // what keeps ids stable across compaction
    val lineageActive = plan0.files.exists(_.firstRowId.isDefined)
    val cur =
      if (lineageActive) IcebergFormat.scanWithLineage(spark, metaPath)
      else IcebergFormat.scan(spark, metaPath) // deletes applied here
    val tag = java.util.UUID.randomUUID().toString.take(8)
    // n files in ONE distributed write, each entry from the writer's own
    // stats (rows/split_offsets/bounds/null counts — no second data pass).
    // Materialized lineage columns take engine-assigned ids from the
    // reserved range (they are never table-schema fields); their stats
    // are stripped before commit so the schema-id gate stays honest
    val lineageIds = Seq(2147483540, 2147483539)
    val ids = if (lineageActive) plan0.fieldIds ++ lineageIds else plan0.fieldIds
    val written = IcebergWrite.writeFiles(spark, cur.repartition(n), loc, ids, plan0.nestedIds)(
      (i, _) => s"data/compact-$tag-$i.parquet").map { case (_, info) =>
      if (!lineageActive) info
      else info.copy(
        bounds = info.bounds -- lineageIds, nullCounts = info.nullCounts -- lineageIds,
        lineageMaterialized = true)
    }
    w.rewriteDataFiles(written)
    val planAfter = IcebergFormat.plan(spark,
      IcebergFormat.currentMetadataPath(spark, loc))
    resultScan(
      StructType(Seq(
        StructField("files_before", LongType), StructField("files_after", LongType),
        StructField("delete_files_before", LongType),
        StructField("delete_files_after", LongType))),
      Seq(new GenericInternalRow(Array[Any](before, planAfter.files.size.toLong,
        debt, planAfter.deletes.size.toLong))))
  }
}
