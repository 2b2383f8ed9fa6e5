package graft.sources

import graft.icelite.{FsCatalog, IceCatalog, IceTable, RestCatalog}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** Distributed serving of `position_deletes`: Spark's own V2 parquet
  * table over the live content-1 delete files (schema pinned to
  * (file_path, pos); delete-file provenance available as
  * `_metadata.file_path`). An empty delete set degenerates to a zero-row
  * LocalScan. */
private[sources] object PositionDeletesTables {
  def apply(name: String, paths: Seq[String]): Table = {
    import graft.icelite.IcebergFormat
    val spark = SparkSession.active
    if (paths.isEmpty)
      return new LocalDataFrameTable(name,
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          IcebergFormat.positionDeletesSchema))
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      name, spark, CaseInsensitiveStringMap.empty(), paths,
      Some(IcebergFormat.positionDeletesSchema),
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
  }
}

/** A read-only V2 table over a driver-local DataFrame: the SQL metadata
  * tables — `SELECT * FROM cat.ns.t.snapshots` (and `.history`, `.files`,
  * `.manifests`, `.partitions`, `.refs`, `.delete_files`), the Iceberg
  * inspection surface by name — of both table formats. Each is
  * planning-sized — O(commits) or O(files) rows derived from metadata
  * with zero data IO — so it is served as a
  * [[org.apache.spark.sql.connector.read.LocalScan]] (driver-local rows,
  * Spark plans a LocalTableScan): correct at any table size because the
  * row count scales with METADATA, not data. */
private[sources] final class LocalDataFrameTable(
    tableName: String, df: org.apache.spark.sql.DataFrame)
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, LocalScan}
  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          df.queryExecution.executedPlan.executeCollect()
        override def readSchema(): StructType = df.schema
        override def description(): String = s"LocalDataFrameTable($tableName)"
      }
    }
}

private[sources] object LocalDataFrameTable {
  /** The metadata-table names `cat.ns.t.<kind>` resolves. */
  val kinds: Set[String] =
    Set("snapshots", "history", "files", "manifests", "partitions", "refs",
      "delete_files", "position_deletes",
      // native-dir only: registered Puffin statistics files (TableStats)
      "statistics")

  /** Metadata table `kind` of IceLite table `ice`. (`position_deletes` —
    * the deleted POSITIONS — is data-proportional and therefore served as
    * a distributed parquet table in loadTable, never as a LocalScan.) */
  def of(ice: IceTable, kind: String): LocalDataFrameTable = {
    val md = ice.metadata
    new LocalDataFrameTable(s"${md.namespace}.${md.name}.$kind", kind match {
      case "snapshots"  => ice.snapshotsTable()
      case "history"    => ice.historyTable()
      case "files"      => ice.filesTable()
      case "manifests"  => ice.manifestsTable()
      case "partitions" => ice.partitionsTable()
      case "refs"       => ice.refsTable()
      // live MoR delete-file debt (icelite carries position deletes only),
      // one row per delete FILE as in Iceberg's `delete_files`
      case "delete_files" => ice.deletesTable()
    })
  }
}

/** Spark catalog plugin over an IceLite catalog backend — the last mile of
  * the SQL surface. Two bindings:
  *
  * {{{
  * // filesystem warehouse (registry = directory layout):
  * spark.conf.set("spark.sql.catalog.icelite", "graft.sources.IceLiteCatalog")
  * spark.conf.set("spark.sql.catalog.icelite.warehouse", "/warehouse")
  *
  * // Iceberg REST catalog service (the role the reference fills with
  * // Nessie — bot_iceberg_loader.py:245-262, query_iceberg.ipynb:110-125):
  * spark.conf.set("spark.sql.catalog.icerest", "graft.sources.IceLiteCatalog")
  * spark.conf.set("spark.sql.catalog.icerest.uri", "http://127.0.0.1:<port>")
  * }}}
  *
  * and every table in the warehouse is addressable from PLAIN SQL:
  * `SELECT ... FROM icelite.ns.t`, `INSERT INTO icelite.ns.t SELECT ...`,
  * `CREATE TABLE icelite.ns.t (...)`, `DROP TABLE`, `SHOW TABLES IN
  * icelite.ns`, `SHOW NAMESPACES IN icelite` — all resolving through the
  * same [[IceLiteV2Table]] the format("icelite") path uses, so file
  * skipping, storage-partitioned joins, metadata-only counts, DPP, the
  * CAS write path and planner statistics apply unchanged to SQL-by-name
  * access. (The reference reaches its tables by name through DuckDB
  * `ATTACH` / PyIceberg's RestCatalog; these are the Spark-native
  * equivalents.)
  *
  * REST binding semantics: table data/metadata is written straight into
  * the service-advertised warehouse (the catalog never carries data — at
  * 100 TB only pointers cross this wire); CREATE registers the metadata
  * pointer, and every write's FS commit is published by a CAS pointer
  * swap ([[RestCatalog.advancePointer]]) — the PyIceberg/Nessie commit
  * order, so concurrent writers race on the pointer, not on files. */
final class IceLiteCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog
    with ViewCatalog {

  private var catalogName: String = _
  private var backend: IceCatalog = _
  private var rest: Option[RestCatalog] = None

  // lets the analyzer accept `ADD COLUMN ... DEFAULT <literal>` — the v3
  // initial-default surface, honored on NATIVE dirs (alterTable threads
  // the literal through; pre-evolution files then read the default)
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    backend = Option(options.get("uri")) match {
      case Some(uri) =>
        // `token` is Iceberg's standard REST-catalog credential property:
        // spark.sql.catalog.<name>.token rides every request as a bearer
        val rc = new RestCatalog(SparkSession.active, uri, Option(options.get("token")))
        rest = Some(rc)
        rc
      case None =>
        val wh = Option(options.get("warehouse")).getOrElse(
          throw new IllegalArgumentException(
            s"catalog $name: set spark.sql.catalog.$name.warehouse (filesystem) " +
              s"or spark.sql.catalog.$name.uri (REST service)"))
        new FsCatalog(SparkSession.active, wh)
    }
  }

  override def name(): String = catalogName

  /** Warehouse root new table dirs go under: configured (FS) or
    * service-advertised (REST `GET /v1/config`). */
  private def warehouseRoot: String = backend match {
    case fs: FsCatalog  => fs.warehouse
    case rc: RestCatalog => rc.warehouse
  }

  /** Post-commit publication hook for a named table: REST-bound tables
    * must CAS the catalog pointer to the fresh metadata after every FS
    * commit; FS-bound tables resolve through version-hint, no hook.
    * `loaded` is the pointer the table was loaded through: the first
    * publish swaps from it and each later one from the pointer the one
    * before set, so an uncontended commit is a single POST. */
  private def publishHook(ns: String, table: String,
      loaded: Option[String]): Option[IceTable => Unit] =
    rest.map { rc =>
      var base = loaded
      (ice: IceTable) => {
        val next = ice.metadataLocation
        rc.advancePointer(ns, table, next, base)
        base = Some(next)
      }
    }

  private def ns1(namespace: Array[String]): String = {
    require(namespace.length == 1,
      s"icelite namespaces are single-level, got ${namespace.mkString(".")}")
    namespace.head
  }

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] =
    backend.listTables(ns1(namespace))
      .map(t => Identifier.of(namespace, t)).toArray

  /** The table, and the catalog pointer it was loaded through when the
    * binding is REST. */
  private def loadIce(ns: String, ident: Identifier): (IceTable, Option[String]) =
    try rest match {
      case Some(rc) =>
        val (ice, pointer) = rc.loadTableAt(ns, ident.name())
        (ice, Some(pointer))
      case None => (backend.loadTable(ns, ident.name()), None)
    } catch {
      case _: NoSuchElementException =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
          Seq(catalogName) ++ ident.namespace() :+ ident.name())
    }

  /** The on-disk location of `(ns, name)` IF it is a NATIVE Iceberg v2
    * dir on an FS warehouse (vNNNNN.metadata.json + Avro manifests) —
    * the single dispatch rule shared by loadTable (base + metadata
    * tables) and alterTable. REST tables resolve through the catalog's
    * metadata pointer instead. */
  private def nativeDir(ns: String, name: String): Option[String] = {
    val loc = s"$warehouseRoot/$ns/$name"
    if (rest.isEmpty && IcebergMorV2Table.isIcebergDir(SparkSession.active, loc))
      Some(loc)
    else None
  }

  override def loadTable(ident: Identifier): Table = {
    val nsArr = ident.namespace()
    // Iceberg-style SQL metadata tables: `cat.ns.t.snapshots` resolves as
    // Identifier(ns = [ns, t], name = "snapshots") — intercept before the
    // single-level-namespace rule
    if (nsArr.length == 2 && LocalDataFrameTable.kinds.contains(ident.name().toLowerCase)) {
      // standard-format dirs take precedence like the base-table dispatch
      // below: `t.delete_files` over one surfaces the live MoR debt
      // (position AND equality delete files) from its Avro manifests
      val natLoc = nativeDir(nsArr(0), nsArr(1))
      if (ident.name().equalsIgnoreCase("delete_files") && natLoc.isDefined) {
        val spark  = SparkSession.active
        val stdLoc = natLoc.get
        return new LocalDataFrameTable(s"iceberg.$stdLoc.delete_files",
          graft.icelite.IcebergFormat.deletesTable(spark,
            graft.icelite.IcebergFormat.currentMetadataPath(spark, stdLoc)))
      }
      // `t.position_deletes` — the deleted POSITIONS. Rows are
      // data-proportional (one per deleted row), so this is a DISTRIBUTED
      // parquet table over the live content-1 files, never a LocalScan.
      if (ident.name().equalsIgnoreCase("position_deletes") && natLoc.isDefined) {
        val spark  = SparkSession.active
        val stdLoc = natLoc.get
        return PositionDeletesTables(s"iceberg.$stdLoc.position_deletes",
          graft.icelite.IcebergFormat.positionDeleteFilePaths(spark,
            graft.icelite.IcebergFormat.currentMetadataPath(spark, stdLoc)))
      }
      // the planning-sized metadata tables for NATIVE dirs: snapshots /
      // history from one metadata read, files from the manifests,
      // manifests from the manifest list — the same SQL surface icelite
      // tables get below (refs/partitions are icelite-only: the native
      // writer models no refs, and its partitions live in spec-typed
      // manifest summaries rather than a flat table)
      if (natLoc.isDefined) {
        val kind = ident.name().toLowerCase
        if (Set("snapshots", "history", "files", "manifests", "statistics",
            "partitions")(kind)) {
          val spark = SparkSession.active
          import graft.icelite.IcebergFormat
          val mp = IcebergFormat.currentMetadataPath(spark, natLoc.get)
          val df = kind match {
            case "snapshots"  => IcebergFormat.snapshotsTable(spark, mp)
            case "history"    => IcebergFormat.historyTable(spark, mp)
            case "files"      => IcebergFormat.filesTable(spark, mp)
            case "manifests"  => IcebergFormat.manifestsTable(spark, mp)
            case "statistics" => graft.icelite.TableStats.statisticsTable(spark, mp)
            case "partitions" => IcebergFormat.partitionsTable(spark, mp)
          }
          return new LocalDataFrameTable(s"iceberg.${natLoc.get}.$kind", df)
        }
      }
      if (backend.tableExists(nsArr(0), nsArr(1))) {
        if (ident.name().equalsIgnoreCase("position_deletes"))
          return PositionDeletesTables(
            s"$catalogName.${nsArr(0)}.${nsArr(1)}.position_deletes",
            backend.loadTable(nsArr(0), nsArr(1)).positionDeleteFilePaths())
        return LocalDataFrameTable.of(backend.loadTable(nsArr(0), nsArr(1)),
          ident.name().toLowerCase)
      }
    }
    val ns = ns1(nsArr)
    // a table directory holding STANDARD Iceberg v2 metadata
    // (vNNNNN.metadata.json, Avro manifests) loads as the
    // standard-format table: batch reads + merge-on-read SQL DELETE
    // through spec-shaped position deletes (ic76).
    nativeDir(ns, ident.name()).foreach { loc =>
      return new IcebergMorV2Table(SparkSession.active, loc)
    }
    val (ice, pointer) = loadIce(ns, ident)
    IceLiteV2Table.current(ice, publishHook(ns, ident.name(), pointer))
  }

  /** SQL time travel by snapshot id or ref name: `SELECT ... FROM
    * cat.ns.t VERSION AS OF <id | 'branch' | 'tag'>` (Iceberg's surface —
    * a non-numeric version resolves through the refs map, which is what
    * makes a WAP audit gate expressible in plain SQL). Pins the V2 table
    * to one immutable snapshot; no publish hook — Spark routes only reads
    * through time-travel relations. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val ns  = ns1(ident.namespace())
    val (ice, _) = loadIce(ns, ident)
    val md  = ice.metadata
    val snap = version.toLongOption match {
      case Some(id) => Some(md.snapshot(id).getOrElse(
        throw new NoSuchElementException(s"snapshot $id of ${ident.name()}")))
      case None =>
        val info = md.refMap.getOrElse(version,
          throw new NoSuchElementException(
            s"no snapshot id or ref '$version' of ${ident.name()}"))
        // a ref at snapshot 0 is an empty branch: scan as the empty table
        md.snapshot(info.snapshot_id)
    }
    new IceLiteV2Table(ice, md, snap)
  }

  /** SQL time travel by wall clock: `TIMESTAMP AS OF <ts>`. Spark hands
    * the pin in MICROseconds since epoch; snapshots stamp milliseconds —
    * floor-divide so the pin lands on the latest snapshot at-or-before. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val ns  = ns1(ident.namespace())
    val (ice, _) = loadIce(ns, ident)
    val md  = ice.metadata
    val ms  = Math.floorDiv(timestamp, 1000L)
    val snap = md.snapshots.filter(_.timestamp_ms <= ms)
      .sortBy(sn => (sn.timestamp_ms, sn.snapshot_id)).lastOption.getOrElse(
        throw new NoSuchElementException(
          s"no snapshot of ${ident.name()} at or before ${ms} ms"))
    new IceLiteV2Table(ice, md, Some(snap))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    val ns = ns1(ident.namespace())
    // CREATE TABLE ... DEFAULT would be silently dropped (defaults are an
    // ALTER-time evolution feature here — a fresh table has no
    // pre-evolution files for initial-default to serve); refuse loudly
    schema.fields.foreach(f => require(
      !f.metadata.contains("CURRENT_DEFAULT") && !f.metadata.contains("EXISTS_DEFAULT"),
      s"column ${f.name}: DEFAULT at CREATE TABLE is not supported — add the " +
        "column with a DEFAULT via ALTER TABLE on a native Iceberg v2 table"))
    if (backend.tableExists(ns, ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName, ns, ident.name()))
    val partCols = partitions.map { t =>
      require(t.name() == "identity",
        s"icelite supports identity partitioning only, got ${t.describe()}")
      t.references()(0).fieldNames().mkString(".")
    }
    backend.createNamespace(ns)
    val loc = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(warehouseRoot, ns),
      s"${ident.name()}_${java.util.UUID.randomUUID().toString.take(8)}")
    val ice = IceTable.create(SparkSession.active, loc.toString,
      ident.name(), ns, schema, partCols.toIndexedSeq)
    // REST: adopt the new table by its metadata pointer (spec registerTable)
    val pointer = rest.map { rc =>
      val p = ice.metadataLocation
      rc.registerTable(ns, ident.name(), p)
      p
    }
    IceLiteV2Table.current(ice, publishHook(ns, ident.name(), pointer))
  }

  /** ALTER TABLE ADD COLUMN(S) / ALTER COLUMN … TYPE: metadata-only
    * evolution through [[IceTable.addColumns]] (fresh field ids, CAS
    * commit, old files read as NULL) and
    * [[IceTable.promoteColumnTypes]] (int→bigint / float→double
    * widening, field ids preserved, old files read back widened). Every
    * other change kind is rejected loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val adds = changes.collect {
      case a: TableChange.AddColumn if a.fieldNames().length == 1 =>
        // silent coercion would lie to the user: evolved columns append
        // at the END (old files lack them) and MUST be nullable (old
        // rows read NULL) — reject what we can't honor
        require(a.position() == null,
          s"icelite ADD COLUMN appends at the end; FIRST/AFTER not supported")
        require(a.isNullable,
          s"icelite ADD COLUMN ${a.fieldNames().head} must be nullable " +
            "(pre-evolution files read it as NULL)")
        org.apache.spark.sql.types.StructField(
          a.fieldNames().head, a.dataType(), nullable = true)
    }
    // v3 default values: `ADD COLUMN c t DEFAULT <literal>` — the literal
    // arrives Catalyst-typed; DEFAULT NULL means "no default" (what a
    // defaultless add already reads)
    val addDefaults: Seq[(String, Any)] = changes.collect {
      case a: TableChange.AddColumn if a.fieldNames().length == 1 &&
          a.defaultValue() != null && a.defaultValue().getValue() != null &&
          a.defaultValue().getValue().value() != null =>
        val raw = a.defaultValue().getValue().value()
        val v = (a.dataType(), raw) match {
          case (org.apache.spark.sql.types.StringType, u) => u.toString
          case (org.apache.spark.sql.types.DateType, days: Integer) =>
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))
          case (_, other) => other
        }
        a.fieldNames().head -> v
    }
    val promotes = changes.collect {
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          s"icelite ALTER COLUMN TYPE supports top-level columns, got ${u.fieldNames().mkString(".")}")
        (u.fieldNames().head, u.newDataType())
    }
    val renames = changes.collect {
      case r: TableChange.RenameColumn if r.fieldNames().length == 1 =>
        (r.fieldNames().head, r.newName())
    }
    val drops = changes.collect {
      case dc: TableChange.DeleteColumn if dc.fieldNames().length == 1 =>
        dc.fieldNames().head
    }
    // NESTED (struct-field) evolution — native Iceberg v2 dirs only: the
    // resumed Writer evolves struct subfields BY ID (spec §Schemas), with
    // the same no-resurrection/read-by-id contract one level down
    val nestedAdds = changes.collect {
      case a: TableChange.AddColumn if a.fieldNames().length > 1 =>
        require(a.position() == null,
          "nested ADD COLUMN appends at the end of its struct; FIRST/AFTER not supported")
        require(a.isNullable,
          s"nested ADD COLUMN ${a.fieldNames().mkString(".")} must be nullable")
        (a.fieldNames().init.toSeq, org.apache.spark.sql.types.StructField(
          a.fieldNames().last, a.dataType(), nullable = true))
    }
    val nestedRenames = changes.collect {
      case r: TableChange.RenameColumn if r.fieldNames().length > 1 =>
        (r.fieldNames().toSeq, r.newName())
    }
    val nestedDrops = changes.collect {
      case dc: TableChange.DeleteColumn if dc.fieldNames().length > 1 =>
        dc.fieldNames().toSeq
    }
    changes.foreach {
      case _: TableChange.AddColumn | _: TableChange.UpdateColumnType |
           _: TableChange.RenameColumn | _: TableChange.DeleteColumn => ()
      case other => throw new UnsupportedOperationException(
        "icelite ALTER TABLE supports ADD COLUMN, ALTER COLUMN TYPE, " +
          s"RENAME COLUMN and DROP COLUMN only, got $other")
    }
    val ns = ns1(ident.namespace())
    // a NATIVE Iceberg v2 dir evolves through the resumed Writer (same
    // dispatch rule as loadTable): renames/drops keep their field ids and
    // flip read-by-id, adds take fresh ids, promotions widen in place —
    // all published as one new metadata version, zero data IO. Change
    // order matches the legacy backend below (adds, promotes, renames,
    // drops), and every promoted name must resolve — a rename in the
    // same batch must not silently swallow a promotion. The publish can
    // lose a race to a concurrent data commit; the change is metadata-only
    // and idempotent to re-derive, so a lost race applies the same edits
    // to the winner's metadata, as a rebased append does.
    nativeDir(ns, ident.name()).foreach { loc =>
      val spark = SparkSession.active
      graft.icelite.IcebergFormat.publishEdits(spark, loc) { w =>
        val pm = promotes.toMap
        pm.keys.foreach(c => require(w.schemaNow.fieldNames.contains(c),
          s"no column $c to promote"))
        if (promotes.nonEmpty || adds.nonEmpty)
          w.evolveSchema(org.apache.spark.sql.types.StructType(
            w.schemaNow.fields.map(f =>
              pm.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f)) ++ adds))
        addDefaults.foreach { case (n, v) => w.setInitialDefault(n, v) }
        renames.foreach { case (o, n) => w.renameColumn(o, n) }
        drops.foreach(w.dropColumn)
        nestedAdds.foreach { case (path, f) => w.addNestedColumn(path, f) }
        nestedRenames.foreach { case (path, n) => w.renameNestedColumn(path, n) }
        nestedDrops.foreach(w.dropNestedColumn)
      }
      return new IcebergMorV2Table(spark, loc)
    }
    require(nestedAdds.isEmpty && nestedRenames.isEmpty && nestedDrops.isEmpty,
      "nested-column ALTER is supported on native Iceberg v2 tables only " +
        "(icelite tables have no nested columns)")
    require(addDefaults.isEmpty,
      "ADD COLUMN ... DEFAULT is supported on native Iceberg v2 tables only " +
        "(v3 initial-default metadata)")
    val (ice, pointer) = loadIce(ns, ident)
    if (adds.nonEmpty) ice.addColumns(adds)
    if (promotes.nonEmpty) ice.promoteColumnTypes(promotes)
    if (renames.nonEmpty) ice.renameColumns(renames)
    if (drops.nonEmpty) ice.dropColumns(drops)
    // `ice` resolves its current version on each read, so it now sees the
    // evolved metadata
    val publish = publishHook(ns, ident.name(), pointer)
    publish.foreach(_(ice))
    IceLiteV2Table.current(ice, publish)
  }

  override def dropTable(ident: Identifier): Boolean =
    backend.dropTable(ns1(ident.namespace()), ident.name())

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("icelite RENAME TABLE not supported")

  override def tableExists(ident: Identifier): Boolean =
    backend.tableExists(ns1(ident.namespace()), ident.name())

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    backend.listNamespaces().map(n => Array(n)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      if (!namespaceExists(namespace))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
          Seq(catalogName) ++ namespace)
      Array.empty // single-level: no nested namespaces
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && backend.listNamespaces().contains(namespace.head)

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        Seq(catalogName) ++ namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(
      namespace: Array[String], metadata: JMap[String, String]): Unit =
    backend.createNamespace(ns1(namespace))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("icelite namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "icelite DROP NAMESPACE: use FsCatalog.cleanupWarehouse (double-confirmed)")

  // --------------------------------------------------------- procedures

  /** `CALL cat.system.<proc>('ns', 'table', ...)` — the Iceberg-style SQL
    * maintenance surface ([[IceLiteProcedures]]): compaction, snapshot
    * expiry, orphan sweep, rollback. Maintenance commits new metadata, so
    * the REST binding republishes the catalog pointer after each call. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    IceLiteProcedures.load(backend, ident,
      (ns, tbl, ice) => publishHook(ns, tbl, None).foreach(_(ice))).getOrElse(
      throw new RuntimeException(
        s"no such procedure: ${(ident.namespace() :+ ident.name()).mkString(".")}"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      IceLiteProcedures.names.toSeq.sorted
        .map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  // -------------------------------------------------------------- views

  /** PERSISTENT SQL views (Spark's V2 ViewCatalog): `CREATE VIEW
    * cat.ns.v AS SELECT ...` persists the view TEXT as one JSON file at
    * `<warehouse>/<ns>/_views/<name>.json`, and any later session over the
    * same warehouse resolves `SELECT * FROM cat.ns.v` through it — the
    * named-view surface the reference registers in DuckDB
    * (`query_iceberg_minio.ipynb:274-277` `CREATE OR REPLACE VIEW ... AS
    * SELECT * FROM iceberg_scan(...)`), durable instead of
    * session-scoped. Views are metadata-only (the text re-plans against
    * current table state, Iceberg-view semantics); storage is O(bytes of
    * SQL), nothing scales with data. */
  private def hfs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)

  private def viewsDir(ns: String) =
    new org.apache.hadoop.fs.Path(s"$warehouseRoot/$ns/_views")

  private def viewFile(ident: Identifier) =
    new org.apache.hadoop.fs.Path(viewsDir(ns1(ident.namespace())), s"${ident.name()}.json")

  override def listViews(namespace: String*): Array[Identifier] = {
    require(namespace.length == 1,
      s"icelite namespaces are single-level, got ${namespace.mkString(".")}")
    val dir = viewsDir(namespace.head)
    val fs  = hfs(dir)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".json")).sorted
      .map(n => Identifier.of(namespace.toArray, n.stripSuffix(".json")))
  }

  override def viewExists(ident: Identifier): Boolean =
    ident.namespace().length == 1 && hfs(viewFile(ident)).exists(viewFile(ident))

  override def loadView(ident: Identifier): View = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val p  = viewFile(ident)
    val fs = hfs(p)
    if (!fs.exists(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val j = JsonMethods.parse(graft.icelite.MetadataFiles.read(fs, p))
    new View {
      override def name(): String = (Seq(catalogName) ++ ident.namespace() :+ ident.name()).mkString(".")
      override def query(): String = (j \ "sql").extract[String]
      override def currentCatalog(): String = (j \ "currentCatalog").extract[String]
      override def currentNamespace(): Array[String] =
        (j \ "currentNamespace").extract[List[String]].toArray
      override def schema(): StructType =
        org.apache.spark.sql.types.DataType.fromJson((j \ "schemaJson").extract[String])
          .asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] =
        (j \ "queryColumnNames").extract[List[String]].toArray
      override def columnAliases(): Array[String] =
        (j \ "columnAliases").extract[List[String]].toArray
      override def columnComments(): Array[String] = Array.empty
      override def properties(): JMap[String, String] =
        (j \ "properties").extract[Map[String, String]].asJava
    }
  }

  private def writeViewFile(info: ViewInfo, overwrite: Boolean): View = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val ident = info.ident()
    val p     = viewFile(ident)
    val fs    = hfs(p)
    backend.createNamespace(ns1(ident.namespace()))
    val json = JsonMethods.compact(JsonMethods.render(
      ("sql" -> info.sql()) ~
        ("currentCatalog" -> info.currentCatalog()) ~
        ("currentNamespace" -> info.currentNamespace().toList) ~
        ("schemaJson" -> info.schema().json) ~
        ("queryColumnNames" -> info.queryColumnNames().toList) ~
        ("columnAliases" -> info.columnAliases().toList) ~
        ("properties" -> info.properties().asScala.toMap)))
    // a reader never sees a half-written view definition, and a replace
    // swaps the whole file: the old definition stays readable until the
    // new one lands, and a crash leaves the old view intact
    if (!overwrite) {
      if (!graft.icelite.MetadataFiles.publishIfAbsent(fs, p, json))
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    } else graft.icelite.MetadataFiles.replace(fs, p, json)
    loadView(ident)
  }

  override def createView(info: ViewInfo): View = writeViewFile(info, overwrite = false)

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident()
    if (!orCreate && !hfs(viewFile(ident)).exists(viewFile(ident)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    writeViewFile(info, overwrite = true)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View =
    throw new UnsupportedOperationException(
      "icelite ALTER VIEW not supported; CREATE OR REPLACE VIEW instead")

  override def dropView(ident: Identifier): Boolean = {
    val p  = viewFile(ident)
    val fs = hfs(p)
    fs.exists(p) && fs.delete(p, false)
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = viewFile(oldIdent)
    val to   = viewFile(newIdent)
    val fs   = hfs(from)
    if (!fs.exists(from))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    if (fs.exists(to))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    fs.mkdirs(to.getParent)
    require(fs.rename(from, to), s"view rename failed: $from -> $to")
  }
}
