package graft.icelite

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._

import SpecManifests.{FieldSummary, ManifestEntry, ManifestFile}

/** Read/write support for the STANDARD Apache Iceberg table format (v2),
  * from the public spec at iceberg.apache.org/spec — this is the
  * compatibility bridge the reference's query path uses for real tables
  * (`iceberg_scan('{metadata}')`, `query_iceberg_minio.ipynb:274-277`;
  * PyIceberg `table.scan()`, `query_iceberg.ipynb:210`), implemented
  * natively because no iceberg-spark-runtime jar ships in this image
  * (SURVEY.md §7.1).
  *
  * Reader: `vN.metadata.json` → current snapshot → manifest-list Avro →
  * manifest Avro entries (skipping deleted entries) → data and delete file
  * plan. The metadata JSON is read by ONE codec, [[SpecMetadata]], and the
  * Avro files by ONE codec, [[SpecManifests]]: every reader here decodes
  * each file once into their typed values. Planning cost is
  * O(manifests) on the driver, exactly like Iceberg's own planner; the
  * scans read through the DSv2 connector (`IcebergMorV2Table`), which
  * applies deletes, partition values, defaults and lineage per file inside
  * Spark's parquet reader.
  *
  * Writer: data and delete files go through ONE writer, the library
  * write [[graft.sources.IcebergWrite.writeFiles]] that
  * [[writeSingleFile]] and [[writeGroupedFiles]] wrap: Spark's parquet
  * writer under the session codec, every field id stamped (list elements
  * and map keys/values included), inline bounds and null counts. The
  * commit is metadata only — per-commit manifest Avro (with spec
  * field-ids in the Avro schema), per-snapshot manifest list, and the
  * metadata JSON — which an independent Iceberg reader can consume (the
  * ic21 gate). A table's state is a [[SpecState]]: one [[SpecMetadata]]
  * value and the current snapshot's manifest-list entries
  * ([[SpecManifests.ManifestFile]]). Every [[Writer]] operation that
  * publishes is a build function from a base state to the next, run by
  * the commit loop both formats share, [[MetadataFiles.commit]]: the
  * build claims the snapshot's manifests and list by name
  * (`SpecManifests.writeManifest`/`writeList`; a taken name is a lost
  * race) and the loop publishes `SpecMetadata.render` of the result. On
  * a throw or a lost race the claimed files are deleted, unless the
  * version-file publish itself threw. A Writer makes one attempt;
  * [[appendWithRetry]] and [[publishEdits]] rebase and build again.
  * [[resumeWriter]] is one parse of the current version plus one read of
  * its list. A list entry's file and row counts are set once, from the
  * manifest's entries when it is written, and every later list carries
  * the entry unchanged.
  */
object IcebergFormat {

  // ------------------------------------------------------------------ schema

  /** Path → field id for every NON-top-level position of `schema`, under
    * the legacy positional rule (nested ids continue after the max top
    * id, pre-order; list element id before its element's nested ids; map
    * key id then value id before either side's). Paths use the column
    * names joined with '.', with `element`/`key`/`value` as the pseudo
    * segments for list/map positions — e.g. `info.status`,
    * `prio_parts.element`, `attrs.key`.
    *
    * This map is the SOURCE OF TRUTH for nested ids on evolved tables:
    * deriving ids positionally at every emission (the pre-r17 behavior)
    * silently RENUMBERS nested fields whenever the schema changes shape —
    * exactly the id instability the spec's rename/drop-by-id contract
    * forbids. Fresh tables derive this map once; every evolution carries
    * it forward, only extending with fresh ids past the historical max. */
  private[graft] def deriveNestedIds(schema: StructType, topIds: Seq[Int]): Map[String, Int] = {
    var last = (topIds ++ Seq(0)).max
    def next() = { last += 1; last }
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def walk(prefix: String, dt: DataType): Unit = dt match {
      case st: StructType =>
        st.fields.foreach { f =>
          out(prefix + f.name) = next()
          walk(s"$prefix${f.name}.", f.dataType)
        }
      case at: ArrayType =>
        out(prefix + "element") = next()
        walk(prefix + "element.", at.elementType)
      case mt: MapType =>
        out(prefix + "key") = next()
        out(prefix + "value") = next()
        walk(prefix + "key.", mt.keyType)
        walk(prefix + "value.", mt.valueType)
      case _ => ()
    }
    schema.fields.foreach(f => walk(s"${f.name}.", f.dataType))
    out.toMap
  }

  // ------------------------------------------------------------------ reader

  /** A planned data file: resolved path + per-field-id [lower, upper]
    * bounds from its manifest entry (Iceberg single-value serialization,
    * absent when the writer recorded none) + its data sequence number
    * (deletes apply only to files at least as old — spec "Scan Planning"). */
  final case class PlannedFile(
      path: Path, bounds: Map[Int, (Array[Byte], Array[Byte])], seq: Long = 0L,
      partition: Map[Int, Any] = Map.empty, // identity values by SOURCE field id
      buckets: Map[Int, (Int, Int)] = Map.empty, // source id -> (bucket value, modulus)
      transforms: Map[Int, (String, Any)] = Map.empty, // source id -> (transform, value)
      sizeBytes: Long = 0L, // manifest file_size_in_bytes (0 when absent)
      rowCount: Long = 0L, // manifest record_count (0 when absent)
      splitOffsets: Seq[Long] = Nil, // manifest split_offsets (row-group starts; may be absent)
      nullCounts: Map[Int, Long] = Map.empty, // manifest null_value_counts by field id
      sortOrderId: Option[Int] = None, // manifest sort_order_id (field 140; None = unsorted)
      firstRowId: Option[Long] = None) // v3 row lineage (field 142; None = unassigned)

  /** A planned row-level delete file (v2): position deletes (content 1,
    * `file_path`/`pos` columns) or equality deletes (content 2, rows of the
    * `equalityIds` columns). `pathBounds` is the manifest's [min, max] of
    * the position-delete `file_path` column (spec field 2147483546) — it
    * bounds which data files the delete can touch, so a reader opens the
    * delete file only for data files inside the range. */
  final case class PlannedDelete(path: Path, seq: Long, content: Int, equalityIds: Seq[Int],
      pathBounds: Option[(String, String)] = None,
      rows: Long = 0L, // manifest record_count: the visible delete debt
      // v3 deletion vector (fields 143-145): when set, `path` is a Puffin
      // file and the delete is a roaring bitmap at [dvOffset, dvOffset +
      // dvSize) applying to exactly `dvRef.get`
      dvRef: Option[String] = None, dvOffset: Long = 0L, dvSize: Long = 0L)

  private[graft] final case class TablePlan(
      schema: StructType, fieldIds: Seq[Int], files: Seq[PlannedFile],
      deletes: Seq[PlannedDelete],
      // table property `graft.read-by-id`: set by a rename/drop column
      // evolution, after which file columns resolve by parquet field id
      // (by-name would miss every pre-rename file's column)
      readById: Boolean = false,
      nestedIds: Map[String, Int] = Map.empty) // path -> id (nested levels)

  /** Planning metadata that costs ONE metadata-JSON read: the schema, its
    * field ids, and per-spec partition axes — (source column name,
    * position among the spec's fields i.e. the `summaries` index, and the
    * transform) for every partition field whose source column resolves.
    * What a scan needs to translate pushed filters into manifest-level
    * keep predicates before ANY manifest is read. */
  private[graft] final case class PlanHeader(
      schema: StructType, fieldIds: Seq[Int],
      axes: Map[Int, Seq[(String, Int, String)]],
      readById: Boolean = false,
      nestedIds: Map[String, Int] = Map.empty, // path -> id (nested levels)
      defaults: Map[Int, String] = Map.empty) // field id -> initial-default JSON

  /** Manifest avro files read by [[plan]] — the planning-cost observable
    * manifest-list pruning is gated on (MorSpec). */
  private[graft] val manifestReadsAtPlanning = new java.util.concurrent.atomic.LongAdder()

  /** Spec-reserved field ids of the position-delete schema (Iceberg spec
    * "Position Delete Files"): 2147483546 = file_path, 2147483545 = pos. */
  private[graft] val PosDeletePathFieldId = 2147483546
  private[graft] val PosDeletePosFieldId  = 2147483545

  // --------------------------------------- spec 32-bit hash (Appendix B)

  /** Murmur3_x86_32 with seed 0 — the spec's required hash for bucket
    * transforms, implemented from the public algorithm. Pinned in
    * IceLiteSpec against the spec's own test vectors (int/long 34 →
    * 2017239379, string "iceberg" → 1210000089), so bucket ids computed
    * here agree with every conforming Iceberg writer. */
  private[graft] def murmur3(data: Array[Byte], seed: Int = 0): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    var h1 = seed
    val nblocks = data.length / 4
    var i = 0
    while (i < nblocks) {
      var k1 = (data(i * 4) & 0xff) | ((data(i * 4 + 1) & 0xff) << 8) |
        ((data(i * 4 + 2) & 0xff) << 16) | ((data(i * 4 + 3) & 0xff) << 24)
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2
      h1 ^= k1; h1 = Integer.rotateLeft(h1, 13); h1 = h1 * 5 + 0xe6546b64
      i += 1
    }
    var k1 = 0
    val tail = nblocks * 4
    val rem  = data.length & 3
    if (rem >= 3) k1 ^= (data(tail + 2) & 0xff) << 16
    if (rem >= 2) k1 ^= (data(tail + 1) & 0xff) << 8
    if (rem >= 1) {
      k1 ^= data(tail) & 0xff
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2
      h1 ^= k1
    }
    h1 ^= data.length
    h1 ^= (h1 >>> 16); h1 *= 0x85ebca6b
    h1 ^= (h1 >>> 13); h1 *= 0xc2b2ae35
    h1 ^= (h1 >>> 16)
    h1
  }

  /** Spec hash of a value for bucketing: int/long as 8-byte little-endian
    * (ints hash as longs so the transform survives type promotion),
    * strings as UTF-8 bytes. */
  private[graft] def specHashLong(v: Long): Int = {
    val b = new Array[Byte](8)
    var i = 0
    var x = v
    while (i < 8) { b(i) = (x & 0xff).toByte; x >>= 8; i += 1 }
    murmur3(b)
  }

  private[graft] def specHashString(s: String): Int = murmur3(s.getBytes("UTF-8"))

  /** bucket[n] of a stringified literal for `dt`; None when the type has
    * no spec bucket serialization here (no pruning then). */
  private[graft] def bucketOf(dt: DataType, v: String, n: Int): Option[Int] = {
    val h = dt match {
      case IntegerType | LongType => Some(specHashLong(v.toLong))
      // spec: date/timestamp buckets hash the epoch-day int / epoch-micros
      // long; accept either the number or an ISO literal (what SQL pushes)
      case DateType                         => epochDay(v).map(specHashLong)
      case TimestampType | TimestampNTZType => epochMicros(v).map(specHashLong)
      case StringType             => Some(specHashString(v))
      case _                      => None
    }
    h.map(x => (x & Integer.MAX_VALUE) % n)
  }

  // ----------------------------- temporal + truncate transforms (spec)

  /** Flexible literal parse for temporal transforms: accepts
    * "yyyy-MM-dd[ HH:mm:ss[.fraction]]" (the forms planFiles literals and
    * fixture SQL use); no timezone math — transforms are defined on the
    * stored local value. */
  private def parseTemporal(v: String): Option[java.time.LocalDateTime] = {
    val t = v.trim.replace(' ', 'T')
    try Some(java.time.LocalDateTime.parse(t))
    catch {
      case _: java.time.format.DateTimeParseException =>
        try Some(java.time.LocalDate.parse(v.trim).atStartOfDay())
        catch { case _: java.time.format.DateTimeParseException => None }
    }
  }

  /** Epoch-day of a DATE literal in either surface form: the epoch-day
    * number itself ("9204") or an ISO date / datetime string. None when
    * unparseable — callers keep the file conservatively. */
  private[graft] def epochDay(v: String): Option[Long] = {
    val t = v.trim
    if (t.matches("-?\\d+")) Some(t.toLong)
    else parseTemporal(t).map(_.toLocalDate.toEpochDay)
  }

  /** Epoch-micros of a TIMESTAMP literal in either surface form: the
    * micros number itself or an ISO datetime (interpreted as UTC wall
    * time — the scan layer normalizes instants to UTC ISO before pushing,
    * so this is timezone-exact). None when unparseable. */
  private[graft] def epochMicros(v: String): Option[Long] = {
    val t = v.trim
    if (t.matches("-?\\d+")) Some(t.toLong)
    else parseTemporal(t).map(ldt =>
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L)
  }

  private val TruncatePat = raw"truncate\[(\d+)\]".r

  /** Apply an ORDER-PRESERVING partition transform (year/month/day/hour —
    * epoch-relative ints per the spec — or truncate[W]) to a stringified
    * literal of type `dt`. None when the literal/type has no defined
    * transform here → the caller must keep the file conservatively.
    * Monotonicity is what makes these range-prunable, unlike bucket. */
  private[graft] def applyTransform(transform: String, dt: DataType, v: String): Option[Any] = {
    def temporal(f: java.time.LocalDateTime => Int): Option[Any] = dt match {
      // DATE also accepts its epoch-day numeric form (what fileCanMatch's
      // date normalization and stored partition values carry)
      case DateType =>
        epochDay(v).map(d => f(java.time.LocalDate.ofEpochDay(d).atStartOfDay()))
      case TimestampType | TimestampNTZType => parseTemporal(v).map(f(_))
      case _                                => None
    }
    transform match {
      case "year"  => temporal(_.getYear - 1970)
      case "month" => temporal(t => (t.getYear - 1970) * 12 + t.getMonthValue - 1)
      case "day"   => temporal(_.toLocalDate.toEpochDay.toInt)
      case "hour"  => temporal(t => (t.toLocalDate.toEpochDay * 24 + t.getHour).toInt)
      case TruncatePat(wS) =>
        val w = wS.toLong
        dt match {
          // spec: v - (((v % W) + W) % W) — floors toward -inf for negatives
          case IntegerType => Some(Int.box((v.toLong - (((v.toLong % w) + w) % w)).toInt))
          case LongType    => Some(Long.box(v.toLong - (((v.toLong % w) + w) % w)))
          case StringType  => Some(v.take(w.toInt))
          case _           => None
        }
      case _ => None
    }
  }

  private val BucketTr = raw"bucket\[(\d+)\]".r

  /** Transform kinds a planner selects spec fields by
    * ([[SpecMetadata.specFields]]): identity values drive column
    * reconstruction and exact pruning, bucket ids (with their modulus)
    * prune point lookups, and the order-preserving temporal/truncate
    * transforms prune ranges. */
  private val IdentityKind: PartialFunction[String, Unit] = { case "identity" => () }
  private val BucketKind: PartialFunction[String, Int] = { case BucketTr(n) => n.toInt }
  private val RangeKind: PartialFunction[String, String] = {
    case t @ ("year" | "month" | "day" | "hour") => t
    case t @ TruncatePat(_)                      => t
  }

  /** The metadata file at `metadataPath`, parsed, with its file system —
    * the one read behind every reader below. */
  private def open(spark: SparkSession, metadataPath: String): (FileSystem, SpecMetadata) = {
    val p  = new Path(metadataPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, SpecMetadata.read(fs, p))
  }

  private def load(spark: SparkSession, metadataPath: String): SpecMetadata =
    open(spark, metadataPath)._2

  /** Stage-1 planning: ONE metadata-JSON read, no manifest (or even
    * manifest-list) IO. Gives a scan the schema plus the identity
    * partition axes each spec's manifest summaries are ordered by, so
    * pushed filters can become [[SpecManifests.ManifestFile]] keep predicates before
    * [[plan]] touches any manifest. */
  private[graft] def planHeader(spark: SparkSession, metadataPath: String): PlanHeader = {
    val md     = load(spark, metadataPath)
    val schema = md.currentSchema
    val axes = md.specs.map { sp =>
      sp.specId -> sp.fields.zipWithIndex.flatMap { case (f, i) =>
        val idx = schema.fieldIds.indexOf(f.sourceId)
        if (idx >= 0 && f.transform.nonEmpty && f.transform != "void")
          Some((schema.struct.fieldNames(idx), i, f.transform))
        else None
      }
    }.toMap
    PlanHeader(schema.struct, schema.fieldIds, axes, md.readById, schema.nestedIds,
      schema.defaultsJson)
  }

  /** `delete_files`-style metadata table for a STANDARD-format table:
    * one row per LIVE delete file — position (content 1) AND equality
    * (content 2) — with its record count (the visible merge-on-read debt),
    * equality key ids, and the position deletes' data-file path bounds.
    * Planning-sized: rows come from manifests, zero data IO. The
    * maintenance loop reads this to see debt, `rewrite_data_files` clears
    * it, and this goes back to empty. */
  def deletesTable(spark: SparkSession, metadataPath: String): DataFrame = {
    import spark.implicits._
    val p = plan(spark, metadataPath)
    p.deletes.sortBy(d => (d.path.toString, d.dvRef.getOrElse(""))).map { d =>
      (d.path.toString,
        if (d.dvRef.isDefined) "deletion-vector"
        else if (d.content == 1) "position" else "equality",
        d.rows,
        d.equalityIds.mkString(","),
        // a DV applies to exactly its referenced file — that IS its range
        d.dvRef.orElse(d.pathBounds.map(_._1)).orNull,
        d.dvRef.orElse(d.pathBounds.map(_._2)).orNull)
    }.toDF("delete_file", "content", "n_records", "equality_ids",
      "min_data_file", "max_data_file")
  }

  /** `partitions` metadata table for a NATIVE table: per-partition file
    * and record counts from the CURRENT snapshot's manifest entries —
    * identity values, bucket ids and transform values all render into
    * the partition label. Planning-sized: manifests only, zero data
    * files opened, at any table size. */
  def partitionsTable(spark: SparkSession, metadataPath: String): DataFrame = {
    import spark.implicits._
    val p = plan(spark, metadataPath)
    val idToName = p.fieldIds.zip(p.schema.fieldNames).toMap
    def nameOf(id: Int) = idToName.getOrElse(id, s"#$id")
    p.files.groupBy { f =>
      val segs =
        f.partition.toSeq.sortBy(_._1).map { case (id, v) => s"${nameOf(id)}=$v" } ++
        f.buckets.toSeq.sortBy(_._1).map { case (id, (b, m)) => s"bucket[$m](${nameOf(id)})=$b" } ++
        f.transforms.toSeq.sortBy(_._1).map { case (id, (t, v)) => s"$t(${nameOf(id)})=$v" }
      if (segs.isEmpty) "<unpartitioned>" else segs.mkString("/")
    }.toSeq
      .map { case (part, fs) => (part, fs.size.toLong, fs.map(_.rowCount).sum) }
      .toDF("partition", "n_files", "record_count")
      .orderBy("partition")
  }

  /** One `partition-statistics` list entry (spec Partition Statistics):
    * a per-partition stats parquet registered for a snapshot. */
  final case class PartitionStatsEntry(snapshotId: Long, path: String, fileSizeInBytes: Long)

  /** Parsed `partition-statistics` entries of the metadata file. */
  def partitionStatisticsEntries(
      spark: SparkSession, metadataPath: String): Seq[PartitionStatsEntry] =
    load(spark, metadataPath).partitionStatistics

  /** `snapshots` metadata table for a NATIVE table: one row per snapshot
    * from the metadata JSON — id, parent, sequence number, commit
    * timestamp, summary operation, schema id, manifest list, currency.
    * ONE metadata read, zero manifests touched — planning-sized at any
    * table size. */
  def snapshotsTable(spark: SparkSession, metadataPath: String): DataFrame = {
    import spark.implicits._
    val md = load(spark, metadataPath)
    val rows = md.snapshots.map { s =>
      (s.snapshotId, s.parentId, s.sequenceNumber, s.timestampMs, s.operation, s.schemaId,
        s.manifestList.getOrElse(""), md.currentSnapshotId.contains(s.snapshotId))
    }
    rows.toDF("snapshot_id", "parent_id", "sequence_number", "committed_at_ms",
      "operation", "schema_id", "manifest_list", "is_current")
  }

  /** `history` metadata table for a NATIVE table: the snapshot log in
    * commit order. The native writer's log is linear (no rollback ref
    * surgery), so every logged snapshot is a current-state ancestor. */
  def historyTable(spark: SparkSession, metadataPath: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    snapshotsTable(spark, metadataPath)
      .select(col("committed_at_ms").as("made_current_at_ms"),
        col("snapshot_id"), col("parent_id"),
        lit(true).as("is_current_ancestor"))
  }

  /** `files` metadata table for a NATIVE table: one row per DATA file of
    * the current snapshot, from its manifests (record counts and sizes
    * ride the manifest entries — no data file is opened). Planning-sized:
    * O(live files) driver rows, the same granularity Iceberg's own
    * `files` table serves. */
  def filesTable(spark: SparkSession, metadataPath: String): DataFrame = {
    import spark.implicits._
    val p = plan(spark, metadataPath)
    p.files.sortBy(_.path.toString)
      .map(f => (f.path.toString, f.rowCount, f.sizeBytes, f.seq, f.sortOrderId.getOrElse(0)))
      .toDF("file_path", "record_count", "file_size_in_bytes", "data_sequence_number",
        "sort_order_id")
  }

  /** `manifests` metadata table for a NATIVE table: the CURRENT
    * snapshot's manifest-list entries (path, length, spec, content,
    * sequence number, provenance, file counts) — what rewrite_manifests
    * planning reads. One metadata read + one manifest-LIST avro read. */
  def manifestsTable(spark: SparkSession, metadataPath: String): DataFrame = {
    import spark.implicits._
    val (fsys, md) = open(spark, metadataPath)
    val listPath = md.currentSnapshot.flatMap(_.manifestList)
    val rows = listPath.toSeq.flatMap(lp => SpecManifests.readList(fsys, new Path(lp))).map { m =>
      (m.path, m.length, m.specId, m.content, m.sequenceNumber, m.addedSnapshotId,
        m.addedFilesCount, m.existingFilesCount)
    }
    rows.toDF(SpecManifests.TableColumns: _*)
  }

  /** The SQL-visible schema of the `position_deletes` metadata table —
    * the one position-delete row shape the codebase defines
    * ([[IceTable.PositionDeleteSchema]]); both format twins and the
    * catalog's distributed serving read through it. Delete-file
    * provenance rides the parquet source's `_metadata.file_path` column
    * rather than a materialized constant. */
  def positionDeletesSchema: StructType = IceTable.PositionDeleteSchema

  /** Live content-1 (position) delete files of the current snapshot —
    * the file set behind Iceberg's `position_deletes` metadata table.
    * Planning-sized (manifest read). */
  def positionDeleteFilePaths(spark: SparkSession, metadataPath: String): Seq[String] =
    plan(spark, metadataPath).deletes
      .filter(d => d.content == 1 && d.dvRef.isEmpty) // DVs are Puffin, not parquet
      .map(_.path.toString).sorted

  /** Distributed (file_path, pos) frame over a set of position-delete
    * parquet files — the ONE read both twins' `position_deletes` tables
    * and the catalog serving share, so the surfaces cannot drift. */
  private[graft] def positionDeletesFrame(
      spark: SparkSession, paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (paths.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], positionDeletesSchema)
    spark.read.schema(positionDeletesSchema).parquet(paths: _*)
      .select(col("file_path"), col("pos"))
  }

  /** Iceberg's `position_deletes` metadata table: the deleted POSITIONS
    * themselves — one row per (file_path, pos) entry across the current
    * snapshot's live position-delete files. [[deletesTable]]
    * (`delete_files`) lists the FILES; this lists their rows — the two
    * distinct surfaces Iceberg defines. O(delete rows) IO and fully
    * DISTRIBUTED (a plain parquet scan of the content-1 files — rows are
    * data-proportional, so no LocalScan/driver materialization here). */
  def positionDeletesTable(spark: SparkSession, metadataPath: String): DataFrame =
    positionDeletesFrame(spark, positionDeleteFilePaths(spark, metadataPath))

  /** (spec field name, source column name) pairs of the DEFAULT partition
    * spec when EVERY field is an identity transform over a type the delta
    * writer can stamp — otherwise Nil. Row-level DML uses this to route
    * insert files through the partitioned rolling writer with REAL
    * partition tuples (external engines then prune delta files like any
    * other); transform specs (bucket/temporal/truncate) fall back to the
    * auxiliary unpartitioned spec, which is conservative and correct.
    * BOTH names matter: values are read from rows by the SOURCE column,
    * but manifests key partition tuples by the SPEC FIELD name — a spec
    * field named differently from its source column (legal per spec)
    * would otherwise commit null partition tuples and external engines
    * would prune away the restated rows. */
  private[graft] def defaultSpecIdentityCols(
      spark: SparkSession, metadataPath: String): Seq[(String, String)] = {
    val md     = load(spark, metadataPath)
    val schema = md.currentSchema
    val fields = md.spec(md.defaultSpecId).map(_.fields).getOrElse(Nil)
    if (fields.isEmpty) return Nil
    fields.map { f =>
      val idx = schema.fieldIds.indexOf(f.sourceId)
      if (f.transform != "identity" || idx < 0) return Nil
      schema.struct.fields(idx).dataType match {
        case StringType | IntegerType | LongType | BooleanType | DateType => ()
        case _ => return Nil
      }
      (f.name, schema.struct.fieldNames(idx))
    }
  }

  private[graft] def plan(spark: SparkSession, metadataPath: String,
      snapshotId: Option[Long] = None,
      keepManifest: ManifestFile => Boolean = _ => true): TablePlan = {
    val (fs, md) = open(spark, metadataPath)
    require(md.formatVersion == 1 || md.formatVersion == 2,
      s"unsupported format-version ${md.formatVersion}")
    val location = md.location
    val schema   = md.currentSchema
    val (sparkSchema, fieldIds, nestedIds) = (schema.struct, schema.fieldIds, schema.nestedIds)
    val readById = md.readById

    // per-spec field lookups, memoized — an evolved table's manifests name
    // several specs, and each manifest prunes by its own
    val specCache = scala.collection.mutable.Map.empty[Int, (Seq[(String, Int, Unit)], Seq[(String, Int, Int)], Seq[(String, Int, String)])]
    def specFieldsOf(specId: Int) = specCache.getOrElseUpdate(specId,
      (md.specFields(specId)(IdentityKind), md.specFields(specId)(BucketKind),
        md.specFields(specId)(RangeKind)))

    // time travel: an explicit snapshot id overrides the current pointer
    val currentId = snapshotId.getOrElse(md.currentSnapshotId.getOrElse(-1L))
    if (currentId < 0)
      return TablePlan(sparkSchema, fieldIds, Nil, Nil, readById, nestedIds)
    val snapshot = md.snapshot(currentId)
      .getOrElse(throw new NoSuchElementException(s"snapshot $currentId not in metadata"))

    // v2: snapshot → manifest list (data AND delete manifests, each
    // carrying its sequence number AND its partition summaries — spec
    // field 507); v1 fallback: inline "manifests"
    val handles: Seq[ManifestFile] = snapshot.manifestList match {
      case Some(listPath) => SpecManifests.readList(fs, resolve(location, listPath))
      case None => snapshot.manifests.map(ManifestFile.inline(_, md.defaultSpecId))
    }

    // manifest-LIST pruning: a data manifest whose partition summaries
    // prove no file inside can match is never even read — at 100 TB the
    // planning cost of a selective query is O(surviving manifests), not
    // O(all manifests). Delete manifests are always read (extra delete
    // evidence is dead weight, never wrong).
    val planned = handles.flatMap { h =>
      if (h.content == 0 && !keepManifest(h)) Nil
      else {
      manifestReadsAtPlanning.increment()
      val (identityFields, bucketFields, transformFields) = specFieldsOf(h.specId)
      SpecManifests.readManifest(fs, resolve(location, h.path))
        .filter(_.status != ManifestEntry.Deleted).map { e =>
          val f = e.file
          // entry seq may be null for ADDED entries — inherit the manifest's
          val seq  = e.sequenceNumber.getOrElse(h.sequenceNumber)
          val path = resolve(location, f.path)
          // v2 data_file.content: 0 data, 1 position deletes, 2 equality deletes
          f.content match {
            case 0 =>
              // partition values (by spec field name) keyed by SOURCE field
              // id: identity values, bucket ids with their modulus, and
              // temporal/truncate values with the transform name
              val pv = f.partitionValues
              Left(PlannedFile(path, f.bounds, seq,
                identityFields.flatMap { case (n, sid, _) => pv.get(n).map(sid -> _) }.toMap,
                bucketFields.flatMap { case (n, sid, m) =>
                  pv.get(n).collect { case v: java.lang.Integer => sid -> ((v.intValue, m)) }
                }.toMap,
                transformFields.flatMap { case (n, sid, tr) => pv.get(n).map(v => sid -> ((tr, v))) }.toMap,
                f.sizeBytes, f.recordCount, f.splitOffsets, f.nullCounts, f.sortOrderId, f.firstRowId))
            case c @ (1 | 2) =>
              // position-delete file_path [min, max] — bounds the delete's
              // data-file blast radius for the reader's range pruning
              val pb = if (c != 1) None else f.bounds.get(PosDeletePathFieldId).map {
                case (l, h) => (new String(l, "UTF-8"), new String(h, "UTF-8"))
              }
              Right(PlannedDelete(path, seq, c, f.equalityIds, pb, f.recordCount,
                f.dvRef.map(_._1), f.dvRef.fold(0L)(_._2), f.dvRef.fold(0L)(_._3)))
            case other =>
              throw new UnsupportedOperationException(s"unknown data_file content $other")
          }
        }
      }
    }
    TablePlan(sparkSchema, fieldIds,
      planned.collect { case Left(f) => f }, planned.collect { case Right(d) => d },
      readById, nestedIds)
  }

  /** Scan a standard Iceberg table pinned to the given metadata file (the
    * reference's `iceberg_scan('{metadata}')` contract), with v2 row-level
    * deletes applied. */
  def scan(spark: SparkSession, metadataPath: String): DataFrame = read(spark, metadataPath)

  /** Every library scan: a DataFrame over the connector's table pinned to
    * `metadataPath` (and `snapshotId`, or the pre-pruned `planned`), so
    * manifest pruning, metadata-only COUNT(*), statistics and runtime
    * filtering apply as they do to catalog reads. */
  private[graft] def read(spark: SparkSession, metadataPath: String, snapshotId: Option[Long] = None,
      planned: Option[TablePlan] = None): DataFrame =
    org.apache.spark.sql.graft.bridge.tableFrame(spark,
      graft.sources.IcebergMorV2Table.pinned(spark, metadataPath, snapshotId, planned))

  /** Snapshot ids of the metadata file in APPEND ORDER (the order the
    * `snapshots` array records them — real Iceberg ids are random longs,
    * so order must come from the log, never from id magnitude). The
    * streaming source's offset space. */
  def snapshotLog(spark: SparkSession, metadataPath: String): Seq[Long] =
    load(spark, metadataPath).snapshots.map(_.snapshotId)

  /** One blob's metadata as the TABLE metadata records it (spec
    * `statistics[].blob-metadata`): type + addressed field ids +
    * snapshot/sequence provenance + free properties (`ndv` for theta
    * sketches). Offsets live in the Puffin footer, not here. */
  final case class StatsBlobMeta(blobType: String, snapshotId: Long,
      sequenceNumber: Long, fields: Seq[Int], properties: Map[String, String])

  /** One `statistics` list entry: a Puffin statistics file registered for
    * a snapshot (spec Table Statistics: at most one per snapshot;
    * re-analysis replaces, expiration drops the entry with its
    * snapshot). */
  final case class StatsEntry(snapshotId: Long, path: String, fileSizeInBytes: Long,
      footerSizeInBytes: Long, blobs: Seq[StatsBlobMeta])

  /** Parsed `statistics` entries of the metadata file (empty when the
    * table was never analyzed). */
  def statisticsEntries(spark: SparkSession, metadataPath: String): Seq[StatsEntry] =
    load(spark, metadataPath).statistics

  /** Free-form table properties of the metadata file (spec `properties`
    * map) — how derived artifacts (materialized views, clustering
    * declarations) record their provenance on the table itself. */
  def tableProperties(spark: SparkSession, metadataPath: String): Map[String, String] =
    load(spark, metadataPath).properties

  /** The metadata file's `current-snapshot-id` pointer (None before the
    * first commit). */
  def currentSnapshotId(spark: SparkSession, metadataPath: String): Option[Long] =
    load(spark, metadataPath).currentSnapshotId

  /** Absolute paths of data files ADDED between two snapshots of the log
    * (`fromId` None = table genesis) — the Iceberg streaming-read window.
    * Computed as the file-set difference of the two snapshots' plans, so
    * it is exact under appends; a window that introduces row-level
    * DELETE files is rejected loudly (a CDC consumer must not silently
    * miss retractions). */
  def incrementalFiles(
      spark: SparkSession,
      metadataPath: String,
      fromId: Option[Long],
      toId: Long): Seq[String] = {
    val to      = plan(spark, metadataPath, Some(toId))
    val from    = fromId.map(id => plan(spark, metadataPath, Some(id)))
    val fromDel = from.map(_.deletes.map(_.path.toString).toSet).getOrElse(Set.empty)
    val newDel  = to.deletes.map(_.path.toString).toSet -- fromDel
    require(newDel.isEmpty,
      s"incremental window crosses row-level deletes: ${newDel.take(3).mkString(",")}")
    val fromFiles = from.map(_.files.map(_.path.toString).toSet).getOrElse(Set.empty)
    to.files.map(_.path.toString).filterNot(fromFiles)
  }

  /** File name of metadata version `v`. */
  private def metadataName(v: Int): String = f"v$v%05d.metadata.json"

  /** Latest committed metadata version of the table at `location` (0 when
    * there is none), resolved by [[MetadataFiles.currentVersion]]. */
  def currentVersion(spark: SparkSession, location: String): Int = {
    val dir = new Path(location, "metadata")
    MetadataFiles.currentVersion(
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir, metadataName)
  }

  /** Current metadata file of an Iceberg table directory. */
  def currentMetadataPath(spark: SparkSession, location: String): String =
    metadataPath(location, currentVersion(spark, location))

  private def metadataPath(location: String, version: Int): String = {
    if (version == 0) throw new IllegalStateException(s"no metadata versions at $location")
    new Path(location, s"metadata/${metadataName(version)}").toString
  }

  /** Time travel: scan the table as of snapshot `snapshotId` from the
    * metadata's snapshot list — the other half of the `iceberg_scan`
    * contract (`FOR VERSION AS OF`). Row-level deletes are applied with
    * the sequence numbers THAT snapshot's manifest list carries, so a
    * pre-delete snapshot reads the undeleted rows. */
  def scanAt(spark: SparkSession, metadataPath: String, snapshotId: Long): DataFrame = {
    // an expired or unknown snapshot fails here, not when the scan plans
    if (!snapshotLog(spark, metadataPath).contains(snapshotId))
      throw new NoSuchElementException(s"snapshot $snapshotId not in metadata")
    read(spark, metadataPath, Some(snapshotId))
  }

  /** The data files `df`'s connector scans (of either table format) read
    * after manifest and pushed-filter pruning: `Dataset.inputFiles` for
    * these scans, which Spark reports only for file-source relations. */
  def inputFiles(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan match {
          case s: graft.sources.IcebergMorScan => s.survivors.map(_.path.toString)
          case s: graft.sources.IceLiteScan    => s.inputFiles
          case _                               => Nil
        }
    }.flatten.distinct

  /** Scan with the v3 ROW-LINEAGE metadata columns appended: `_row_id`
    * (file `first_row_id` + position, or the physically-materialized
    * column a rewrite wrote) and `_last_updated_sequence_number`. Null
    * for files committed before lineage tracking — the spec's
    * unassigned state. */
  def scanWithLineage(spark: SparkSession, metadataPath: String): DataFrame = {
    val df = read(spark, metadataPath)
    df.select((df.columns ++ Seq("_row_id", "_last_updated_sequence_number"))
      .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
  }

  /** Files of the current snapshot whose recorded [lower, upper] bounds for
    * `colName` can intersect [lower, upper] — manifest-level pruning, the
    * planning step that lets a 100 TB Iceberg scan skip files before Spark
    * ever lists one. Files without bounds are conservatively kept. */
  def planFiles(spark: SparkSession, metadataPath: String, colName: String,
      lower: Option[String], upper: Option[String]): Seq[String] = {
    val p = plan(spark, metadataPath)
    p.files.filter(fileCanMatch(p, _, colName, lower, upper)).map(_.path.toString)
  }

  private def nanBound(v: Any): Boolean = v match {
    case d: Double => d.isNaN
    case f: Float  => f.isNaN
    case _         => false
  }

  /** Can `f` hold rows with `colName` in [lower, upper]? The single
    * per-file pruning predicate behind [[planFiles]], [[scanRange]],
    * [[scanPoints]] and the standard-format V2 scan's `SupportsPushDownFilters`
    * (IcebergMorScanBuilder): identity partition values prune exactly,
    * order-preserving transforms prune ranges, bucket transforms prune
    * point lookups, column bounds prune conservatively, and a file with
    * no evidence is always kept. */
  private[graft] def fileCanMatch(p: TablePlan, f: PlannedFile, colName: String,
      lower: Option[String], upper: Option[String]): Boolean = {
    val idx = p.schema.fieldNames.indexOf(colName)
    require(idx >= 0, s"no column $colName")
    val fieldId = p.fieldIds(idx) // the spec's id attribute, not position
    val dt      = p.schema.fields(idx).dataType
    def cmp(a: String, b: String): Int = dt match {
      // parseDouble handles NaN/Infinity literals (BigDecimal would throw
      // at planning); non-finite literals are additionally excluded from
      // pushdown at the filter-translation layer
      case FloatType | DoubleType =>
        java.lang.Double.compare(java.lang.Double.parseDouble(a), java.lang.Double.parseDouble(b))
      case IntegerType | LongType => BigDecimal(a).compare(BigDecimal(b))
      // dates/timestamps compare in epoch-day/micros space: stored
      // partition values / decoded bounds are the numeric encodings,
      // pushed literals are (UTC-normalized) ISO strings; an unparseable
      // side reads as EQUAL (file kept)
      case DateType =>
        (epochDay(a), epochDay(b)) match {
          case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
          case _                  => 0
        }
      case TimestampType | TimestampNTZType =>
        (epochMicros(a), epochMicros(b)) match {
          case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
          case _                  => 0
        }
      case _                      => BoundOrder.compareStrings(a, b)
    }
    // identity partition value first: for a partitioned table it prunes
    // exactly (the file holds ONLY rows with that value), even when the
    // writer recorded no column bounds
    f.partition.get(fieldId) match {
        case Some(v) =>
          val s = v.toString
          lower.forall(l => cmp(s, l) >= 0) && upper.forall(u => cmp(s, u) <= 0)
        case None => f.transforms.get(fieldId) match {
          // temporal/truncate partitions prune RANGES: the transforms are
          // order-preserving, so the file's value must sit inside
          // [transform(lower), transform(upper)]. An untransformable
          // literal keeps the file conservatively.
          case Some((tr, pval)) =>
            def num(a: Any): Long = a match {
              case i: java.lang.Integer => i.longValue
              case l: java.lang.Long    => l.longValue
              case other => throw new IllegalStateException(s"non-numeric transform value $other")
            }
            def within(bound: Option[String], isLower: Boolean): Boolean = bound match {
              case None => true
              case Some(b) => applyTransform(tr, dt, b) match {
                case None => true
                case Some(t) =>
                  val c = (pval, t) match {
                    case (p: String, tt: String) => BoundOrder.compareStrings(p, tt)
                    case (p, tt)                 => java.lang.Long.compare(num(p), num(tt))
                  }
                  if (isLower) c >= 0 else c <= 0
              }
            }
            within(lower, isLower = true) && within(upper, isLower = false)
          case None => f.buckets.get(fieldId) match {
          // bucket partitions prune POINT lookups: the literal's spec
          // bucket must equal the file's recorded bucket id
          case Some((bval, n)) if lower.nonEmpty && lower == upper =>
            bucketOf(dt, lower.get, n).forall(_ == bval)
          case _ => f.bounds.get(fieldId) match {
            case Some((lo, hi)) =>
              (decodeBound(dt, lo), decodeBound(dt, hi)) match {
                // a NaN bound (older writers recorded them) bounds nothing
                case (Some(mn), Some(mx)) if !nanBound(mn) && !nanBound(mx) =>
                  lower.forall(l => cmp(mx.toString, l) >= 0) &&
                    upper.forall(u => cmp(mn.toString, u) <= 0)
                case _ => true
              }
            case None => true // no bounds recorded -> cannot skip
          }
        }
      }
    }
  }

  /** (manifest path, content 0=data 1=deletes) entries of the current
    * snapshot's manifest list — lets gates assert planning-cost effects
    * (e.g. rewrite_manifests collapsing O(commits) manifests to O(specs)). */
  private[graft] def manifestListPaths(
      spark: SparkSession, metadataPath: String): Seq[(String, Int)] = {
    val (fs, md) = open(spark, metadataPath)
    md.currentSnapshot.toSeq.flatMap { snapshot =>
      snapshot.manifestList match {
        case Some(listPath) =>
          SpecManifests.readList(fs, resolve(md.location, listPath)).map(m => (m.path, m.content))
        case None => snapshot.manifests.map((_, 0))
      }
    }
  }

  /** Range-pruned scan over a standard Iceberg table: reads only files
    * whose bounds can contain `colName` in [lower, upper], with the plan's
    * deletes; the caller still applies the row-level predicate. */
  def scanRange(spark: SparkSession, metadataPath: String, colName: String,
      lower: Option[String], upper: Option[String]): DataFrame = {
    val p = plan(spark, metadataPath)
    read(spark, metadataPath,
      planned = Some(p.copy(files = p.files.filter(fileCanMatch(p, _, colName, lower, upper)))))
  }

  /** IN-list-pruned scan in ONE plan: keeps files that can match ANY of
    * `values` as a point lookup (identity partitions / bucket ids / bounds
    * via [[fileCanMatch]]) instead of unioning per-value [[scanRange]]s —
    * the served-index probe shape where a batch's key set selects a file
    * subset. Returns (dataframe, filesKept, filesTotal) so callers can
    * counter-gate the pruning. */
  def scanPoints(spark: SparkSession, metadataPath: String, colName: String,
      values: Seq[String]): (DataFrame, Int, Int) = {
    val p   = plan(spark, metadataPath)
    val idx = p.schema.fieldNames.indexOf(colName)
    require(idx >= 0, s"no column $colName")
    val fieldId = p.fieldIds(idx)
    val dt      = p.schema.fields(idx).dataType
    // O(1) membership fast path for integer columns when a file pins the
    // column to a single value (identity partition value, or min == max
    // bounds — the one-file-per-cell index layout): the generic fallback
    // is O(|files| × |values|) fileCanMatch calls, which turned planning
    // itself into the bottleneck on a 25k-file index probed with ~2k
    // cells (49M bound decodes, measured ~8 s of a 12 s probe).
    val vset: Option[Set[Long]] =
      if (dt == LongType || dt == IntegerType)
        scala.util.Try(values.map(_.toLong).toSet).toOption
      else None
    def pinned(f: PlannedFile): Option[Long] =
      f.partition.get(fieldId) match {
        case Some(v: java.lang.Number) => Some(v.longValue)
        case _ => f.bounds.get(fieldId).flatMap { case (lo, hi) =>
          (decodeBound(dt, lo), decodeBound(dt, hi)) match {
            case (Some(mn: java.lang.Number), Some(mx: java.lang.Number))
                if mn.longValue == mx.longValue => Some(mn.longValue)
            case _ => None
          }
        }
      }
    val keep = p.files.filter { f =>
      vset.flatMap(s => pinned(f).map(s.contains)).getOrElse(
        values.exists(v => fileCanMatch(p, f, colName, Some(v), Some(v))))
    }
    (read(spark, metadataPath, planned = Some(p.copy(files = keep))), keep.size, p.files.size)
  }

  // ----------------------------------- single-value serialization (spec D)

  /** Encode a stringified column value in Iceberg's single-value binary
    * form (little-endian fixed width for numerics, UTF-8 for strings).
    * Types outside the supported set record no bound (None). */
  /** Iceberg string-bound truncation (spec: `truncate(16)` on string
    * lower/upper bounds). Without it, every manifest entry of a long-text
    * column carries two full document-sized strings — metadata bloat that
    * defeats manifest pruning at exactly the scale it targets. Lower bound
    * = 16-code-point prefix (a prefix is ≤ the value in any consistent
    * order). Upper bound = the prefix with its last incrementable code
    * point bumped — strictly greater than the value in the spec's UTF-8
    * byte order, which every pruner compares in ([[BoundOrder]]). Only code
    * points below the surrogate block (U+D7FF) are bumped; when no
    * position can bump (wildly unlikely outside adversarial input) the
    * upper bound is dropped entirely, which every pruner treats as
    * unbounded — conservative. */
  private[graft] val boundTruncWidth = 16

  private[graft] def truncateLowerBound(s: String, w: Int = boundTruncWidth): String =
    if (s.codePointCount(0, s.length) <= w) s
    else s.substring(0, s.offsetByCodePoints(0, w))

  private[graft] def truncateUpperBound(s: String, w: Int = boundTruncWidth): Option[String] =
    if (s.codePointCount(0, s.length) <= w) Some(s)
    else {
      val prefix = s.substring(0, s.offsetByCodePoints(0, w))
      var i = prefix.length
      var out: Option[String] = None
      while (i > 0 && out.isEmpty) {
        val cp    = prefix.codePointBefore(i)
        val start = i - Character.charCount(cp)
        if (cp < 0xD7FF) out = Some(prefix.substring(0, start) + (cp + 1).toChar)
        i = start
      }
      out
    }

  private[graft] def encodeBound(dt: DataType, v: String): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int)(f: ByteBuffer => Unit): Array[Byte] = {
      val bb = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN); f(bb); bb.array()
    }
    dt match {
      case IntegerType => Some(le(4)(_.putInt(v.toInt)))
      case LongType    => Some(le(8)(_.putLong(v.toLong)))
      case FloatType   => Some(le(4)(_.putFloat(v.toFloat)))
      case DoubleType  => Some(le(8)(_.putDouble(v.toDouble)))
      case StringType  => Some(v.getBytes("UTF-8"))
      case BooleanType => Some(Array[Byte](if (v.toBoolean) 1 else 0))
      case _           => None
    }
  }

  /** Decode a single-value-serialized bound back to a comparable value. */
  private[graft] def decodeBound(dt: DataType, b: Array[Byte]): Option[Any] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType if b.length == 4 => Some(bb.getInt)
      case LongType if b.length == 8    => Some(bb.getLong)
      // 4-byte bounds under a widened schema: files written before an
      // int->long / float->double type promotion keep their original
      // serialization (the spec never rewrites bounds); widen on decode
      // so promoted columns keep pruning instead of degrading to keep-all
      case LongType if b.length == 4    => Some(bb.getInt.toLong)
      case FloatType if b.length == 4   => Some(bb.getFloat)
      case DoubleType if b.length == 8  => Some(bb.getDouble)
      case DoubleType if b.length == 4  => Some(bb.getFloat.toDouble)
      case StringType                   => Some(new String(b, "UTF-8"))
      case BooleanType if b.length == 1 => Some(b(0) != 0)
      case DateType if b.length == 4    => Some(bb.getInt) // epoch days
      case TimestampType | TimestampNTZType if b.length == 8 =>
        Some(bb.getLong) // epoch micros
      case _                            => None
    }
  }

  /** Spec paths are fully qualified; tolerate relative ones by anchoring at
    * the table location. */
  private def resolve(location: String, p: String): Path =
    if (p.startsWith("/") || p.contains("://")) new Path(p)
    else new Path(new Path(location), p)

  // ------------------------------------------------------------------ writer

  /** One committed file (a parquet file already on disk), optionally with
    * per-field-id [lower, upper] bounds for manifest-level pruning.
    * `content` 0 = data, 1 = position deletes (`file_path`/`pos` rows),
    * 2 = equality deletes (rows of the `equalityIds` columns). */
  final case class DataFileInfo(
      path: String,
      recordCount: Long,
      sizeBytes: Long,
      bounds: Map[Int, (Array[Byte], Array[Byte])] = Map.empty,
      content: Int = 0,
      equalityIds: Seq[Int] = Nil,
      partitionValues: Map[String, Any] = Map.empty, // by partition field name
      splitOffsets: Seq[Long] = Nil, // spec field 132: row-group start offsets, ascending
      nullCounts: Map[Int, Long] = Map.empty, // spec field 110: null counts by field id
      sortOrderId: Option[Int] = None, // spec field 140: order the file was written under
      // v3 deletion vector (spec fields 143-145): the data file this DV
      // applies to, and the blob's [offset, size) inside the Puffin file
      // at `path`. Set => content must be 1 and the entry is a DV.
      dvRef: Option[(String, Long, Long)] = None,
      // v3 row lineage: the file's implicit-id base (spec field 142).
      // None = "assign at commit"; a rewrite that MATERIALIZED the
      // lineage columns into the data sets lineageMaterialized instead
      // (ids travel in the rows, no fresh span consumed).
      firstRowId: Option[Long] = None,
      lineageMaterialized: Boolean = false)

  /** Iceberg JSON single-value literal for a default (spec Appendix D
    * JSON serialization): numbers plain, strings quoted, date as its ISO
    * string. Primitives only — what ADD COLUMN ... DEFAULT supports. */
  private[icelite] def defaultJson(dt: DataType, v: Any): JValue = (dt, v) match {
    case (BooleanType, b: Boolean)          => JBool(b)
    case (IntegerType, n: Int)              => JInt(n)
    case (LongType, n: Long)                => JInt(n)
    case (LongType, n: Int)                 => JInt(n)
    // the float's own shortest decimal, not that of its widened double
    case (FloatType, n: Float)              => JDouble(n.toString.toDouble)
    case (DoubleType, n: Double)            => JDouble(n)
    case (StringType, s: String)            => JString(s)
    case (DateType, d: java.sql.Date)       => JString(d.toLocalDate.toString)
    case (DateType, d: java.time.LocalDate) => JString(d.toString)
    case (t, x) => throw new IllegalArgumentException(
      s"unsupported DEFAULT ${Option(x).map(_.getClass.getSimpleName).getOrElse("null")} " +
        s"for ${t.catalogString} (primitive defaults only)")
  }

  /** Decode a field's `initial-default` JSON back to the Scala value a
    * `lit()` can carry. */
  private[graft] def decodeDefault(dt: DataType, j: JValue): Any = (dt, j) match {
    case (BooleanType, JBool(b))   => b
    case (IntegerType, JInt(n))    => n.toInt
    case (LongType, JInt(n))       => n.toLong
    case (FloatType, JDouble(n))   => n.toFloat
    case (FloatType, JInt(n))      => n.toFloat
    case (DoubleType, JDouble(n))  => n.toDouble
    case (DoubleType, JInt(n))     => n.toDouble
    case (StringType, JString(s))  => s
    case (DateType, JString(s))    => java.sql.Date.valueOf(s)
    case (t, other) => throw new IllegalArgumentException(
      s"cannot decode default $other as ${t.catalogString}")
  }

  /** `schema` with `parquet.field.id` metadata on every top-level field —
    * the key Spark's parquet reader honors: with
    * `spark.sql.parquet.fieldId.read.enabled` it resolves file columns by
    * id instead of name. Id resolution is what makes RENAME/DROP COLUMN
    * readable across old files (spec "Column Projection": names are
    * display only, identity is the field id). */
  private[graft] def withParquetFieldIds(
      schema: StructType, ids: Seq[Int],
      nestedIds: Map[String, Int] = Map.empty): StructType = {
    require(ids.length == schema.fields.length,
      s"field id count ${ids.length} != column count ${schema.fields.length}")
    // nested STRUCT fields carry their tracked ids too (Spark's parquet
    // reader and writer both honor `parquet.field.id` metadata at any
    // struct depth — that's what makes a nested rename bind old files'
    // subfields by id). List/map positions can't carry StructField
    // metadata; their ids live only in the schema JSON and manifests.
    def deep(dt: DataType, prefix: String): DataType = dt match {
      case st: StructType =>
        StructType(st.fields.map { f =>
          val path = prefix + f.name
          val withId = nestedIds.get(path) match {
            case Some(id) => f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata).putLong("parquet.field.id", id.toLong).build())
            case None => f
          }
          withId.copy(dataType = deep(f.dataType, s"$path."))
        })
      case at: ArrayType => at.copy(elementType = deep(at.elementType, prefix + "element."))
      case mt: MapType => mt.copy(
        keyType = deep(mt.keyType, prefix + "key."),
        valueType = deep(mt.valueType, prefix + "value."))
      case p => p
    }
    StructType(schema.fields.zip(ids).map { case (f, id) =>
      f.copy(
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong("parquet.field.id", id.toLong).build(),
        dataType = if (nestedIds.isEmpty) f.dataType else deep(f.dataType, s"${f.name}."))
    })
  }

  /** Companion session for read-by-id scans, cached one per parent session.
    *
    * `spark.sql.parquet.fieldId.read.enabled` must be live when the scan
    * EXECUTES (ParquetFileFormat re-reads it from the session conf at
    * reader-build time, clobbering per-read options), and the DataFrames
    * these paths return are lazy — so a save/restore around construction
    * can't scope it, and setting it on the caller's session leaks: it
    * silently changes column-binding semantics for any other id-carrying
    * schema read in the same session. Instead, build the scan relation
    * under a `newSession()` twin with the flag on: a file relation captures
    * its creating session (`HadoopFsRelation.sparkSession` is what
    * FileSourceScanExec hands to `buildReaderWithPartitionValues`), so the
    * flag applies to exactly these scans — composing them into plans driven
    * by the parent session works, and the parent's conf is never touched.
    * The parent's live conf is mirrored at creation so plan shape
    * (shuffle partitions, AQE, parquet reader knobs) is identical. */
  private val idReadSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private[graft] def idReadSession(parent: SparkSession): SparkSession =
    idReadSessions.computeIfAbsent(parent, p => {
      val ns = p.newSession()
      p.conf.getAll.foreach { case (k, v) =>
        try ns.conf.set(k, v) catch { case _: Throwable => () } // static confs refuse
      }
      ns.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      ns
    })

  /** Write `df` as ONE parquet file at `loc/data/<name>.parquet` through
    * the library write ([[graft.sources.IcebergWrite.writeFiles]]) and
    * return its manifest entry. The single-task write preserves the
    * caller's sort order, which makes file positions deterministic — the
    * property position deletes address. Field ids are positional unless
    * the caller passes a sparse layout; a position-delete file takes the
    * spec-reserved pair, an equality-delete file its key fields' ids. An
    * empty `df` still yields its (empty) file. */
  def writeSingleFile(spark: SparkSession, loc: String, name: String,
      df: DataFrame, content: Int = 0, equalityIds: Seq[Int] = Nil,
      fieldIds: Seq[Int] = Nil, nestedIds: Map[String, Int] = Map.empty): DataFileInfo = {
    val ids =
      if (fieldIds.nonEmpty) fieldIds
      else if (content == 1 && df.schema.fieldNames.sameElements(Array("file_path", "pos")))
        Seq(PosDeletePathFieldId, PosDeletePosFieldId)
      else if (content == 2 && equalityIds.length == df.schema.fields.length)
        equalityIds // an equality-delete file's columns ARE the key fields
      else 1 to df.schema.fields.length
    val rel = s"data/$name.parquet"
    graft.sources.IcebergWrite.writeFiles(spark, df.coalesce(1), loc, ids, nestedIds,
      content, equalityIds)((_, _) => rel).headOption.map(_._2).getOrElse {
      // no task held a row: write the empty file on the driver
      val w = graft.sources.IcebergWrite.files(df.schema, ids, nestedIds).writer(loc, rel)
      w.open()
      val empty = w.commit()
      graft.sources.IcebergWrite.dataFileInfo(loc, df.schema, ids, empty,
        content = content, equalityIds = equalityIds)
    }
  }

  /** Batched twin of [[writeSingleFile]] for lifecycle fixtures that
    * commit one file per group value: ONE Spark job, hash-partitioned and
    * sorted on the group expression so a group lands wholly in one task
    * as one run, writes each group's file straight to
    * `loc/data/<nameOf(group)>.parquet`. A loop of N writeSingleFile calls
    * costs N full job round-trips (~40-80 ms each of scheduler/plan fixed
    * cost at any data size — ic89's 24-commit evolution lifecycle spent
    * more time BETWEEN jobs than in them); this pays one. The result is
    * keyed by the group value cast to string; `nameOf` runs on the
    * executors and must map it to a valid file name. Commit granularity is
    * untouched: callers still commit the returned files one (or few) at a
    * time, so snapshot history is identical. */
  def writeGroupedFiles(spark: SparkSession, loc: String,
      df: DataFrame, groupExpr: org.apache.spark.sql.Column,
      nameOf: String => String, fieldIds: Seq[Int] = Nil): Map[String, DataFileInfo] = {
    val g = groupExpr.cast(StringType)
    graft.sources.IcebergWrite.writeFiles(spark,
      df.repartition(spark.sparkContext.defaultParallelism, g).sortWithinPartitions(g), loc,
      if (fieldIds.nonEmpty) fieldIds else 1 to df.schema.fields.length,
      group = Some(g))((_, key) => s"data/${nameOf(key)}.parquet").toMap
  }

  /** The Spark type of spec field `f`'s values in a manifest's partition
    * record: int for bucket ids and temporal transforms, the source
    * column's own type (resolved in `schema` by its real field id) for
    * identity and truncate. */
  private def partitionValueType(f: SpecMetadata.SpecField, schema: SpecMetadata.Schema): DataType = {
    def sourceType: DataType = {
      val idx = schema.fieldIds.indexOf(f.sourceId)
      require(idx >= 0, s"partition source id ${f.sourceId} not in the current schema")
      schema.struct.fields(idx).dataType match {
        case t @ (IntegerType | LongType | FloatType | DoubleType | BooleanType | StringType) => t
        case other =>
          throw new UnsupportedOperationException(s"identity partition on $other not supported")
      }
    }
    f.transform match {
      case "identity" | TruncatePat(_)                     => sourceType
      case "year" | "month" | "day" | "hour" | BucketTr(_) => IntegerType
      case other =>
        throw new UnsupportedOperationException(s"unsupported partition transform $other")
    }
  }

  private val BucketPat   = raw"bucket\((\d+)\s*,\s*(\w+)\)".r
  private val TemporalPat = raw"(years|months|days|hours)\((\w+)\)".r
  private val TruncPat    = raw"truncate\((\d+)\s*,\s*(\w+)\)".r

  /** Partition fields from `partitionBy` entries: a bare column name is
    * an identity transform; "bucket(N, col)" is the spec bucket[N]
    * transform (partition field named col_bucket, int-typed bucket id);
    * "years(col)"/"months(col)"/"days(col)"/"hours(col)" are the spec
    * temporal transforms (int, epoch-relative); "truncate(W, col)" is
    * truncate[W] (source-typed width-floor). Field ids count up from
    * `baseFieldId`; source ids are the columns' REAL field ids in
    * `schema` (sparse after drops). */
  private def parseSpec(pb: Seq[String], schema: SpecMetadata.Schema,
      baseFieldId: Int): Seq[SpecMetadata.SpecField] = {
    val fields = pb.zipWithIndex.map { case (c, i) =>
      def colIdx(colName: String): Int = {
        val idx = schema.struct.fieldNames.indexOf(colName)
        require(idx >= 0, s"partition column $colName not in schema")
        idx
      }
      def field(colName: String, name: String, transform: String) =
        SpecMetadata.SpecField(name, schema.fieldIds(colIdx(colName)), baseFieldId + i, transform)
      c match {
        case BucketPat(n, colName) => field(colName, s"${colName}_bucket", s"bucket[$n]")
        case TemporalPat(unit, colName) =>
          val tr = unit.stripSuffix("s") // spec transform names are singular
          field(colName, s"${colName}_$tr", tr)
        case TruncPat(w, colName) =>
          val srcType = schema.struct.fields(colIdx(colName)).dataType
          require(Seq(IntegerType, LongType, StringType).contains(srcType),
            s"truncate[$w] unsupported on $srcType")
          field(colName, s"${colName}_trunc", s"truncate[$w]")
        case colName => field(colName, colName, "identity")
      }
    }
    fields.foreach(partitionValueType(_, schema)) // refuse unsupported source types now
    fields
  }

  /** The clock a [[Writer]] stamps commit times with unless it is given
    * another (a fixture passes a fixed one). */
  val WallClock: () => Long = () => System.currentTimeMillis()

  /** A new table's metadata before its first commit, last updated at
    * `now`: one schema (field ids `topLevelFieldIds`, else positional
    * 1..n; nested ids derived past them) and one partition spec from
    * `partitionBy`. */
  private def freshMetadata(location: String, schema: StructType, partitionBy: Seq[String],
      tableUuid: String, topLevelFieldIds: Seq[Int], now: Long): SpecMetadata = {
    val ids = if (topLevelFieldIds.nonEmpty) topLevelFieldIds else 1 to schema.fields.length
    val s0  = SpecMetadata.Schema(0, schema, ids, deriveNestedIds(schema, ids))
    SpecMetadata(formatVersion = 2, tableUuid = tableUuid, location = location,
      lastSequenceNumber = 0L, lastUpdatedMs = now,
      lastColumnId = (ids ++ s0.nestedIds.values :+ 0).max, nextRowId = 0L,
      schemas = Seq(s0), currentSchemaId = 0,
      specs = Seq(SpecMetadata.PartitionSpec(0, parseSpec(partitionBy, s0, 1000))),
      defaultSpecId = 0, snapshots = Nil, currentSnapshotId = None, snapshotLog = Nil,
      sortOrders = Nil, defaultSortOrderId = 0, properties = Map.empty,
      statistics = Nil, partitionStatistics = Nil)
  }

  /** A spec table's state: its metadata and the current snapshot's
    * manifest-list entries, which the next snapshot's list carries. */
  private[icelite] final case class SpecState(md: SpecMetadata, manifests: List[ManifestFile])

  /** One session over a spec table's lineage. Its state is `head`, the
    * latest version it knows, whose metadata also holds the session's
    * pending (unpublished) edits. A publishing operation takes the new
    * state only once it is published, so a commit that fails or loses
    * the race leaves the writer as it was. Writer-born and resumed
    * histories keep schema and spec ids equal to their positions, the
    * current schema last. A snapshot's commit time comes from `clock`,
    * kept strictly past the table's previous update. */
  final class Writer private[IcebergFormat] (
      spark: SparkSession,
      val location: String,
      private[IcebergFormat] var head: MetadataFiles.Versioned[SpecState],
      clock: () => Long) {

    def this(
        spark: SparkSession,
        location: String,
        schema: StructType,
        partitionBy: Seq[String] = Nil, // see parseSpec
        tableUuid: String = "11111111-2222-3333-4444-555555555555",
        // REAL top-level field ids (possibly SPARSE — a dropped-column
        // history leaves gaps); empty = the positional 1..n layout this
        // writer produces for fresh tables
        topLevelFieldIds: Seq[Int] = Nil,
        clock: () => Long = WallClock) =
      this(spark, location, MetadataFiles.Versioned(0, SpecState(
        freshMetadata(location, schema, partitionBy, tableUuid, topLevelFieldIds, clock()), Nil)),
        clock)

    private val fs = new Path(location).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private val metadataDir = new Path(location, "metadata")

    // the metadata of `head`: only the pending edits below set it
    private def md: SpecMetadata = head.value.md
    private def md_=(m: SpecMetadata): Unit = head = head.copy(value = head.value.copy(md = m))

    private def currentSchema: StructType = md.currentSchema.struct
    private def currentFieldIds: Seq[Int] = md.currentSchema.fieldIds
    // the source of truth keeping nested ids STABLE across evolution (see
    // deriveNestedIds): every evolution carries this map forward
    private def currentNestedIds: Map[String, Int] = md.currentSchema.nestedIds
    // snapshot ids (= sequence numbers) are MONOTONE FOREVER, never
    // recycled: re-issuing an expired snapshot's id would re-use its
    // manifest/list names (a publish-if-absent conflict with the
    // tombstoned files) and rewind sequence numbers the spec requires to
    // only grow. Expiry always keeps the latest snapshot, so the log's max
    // is the last id issued.
    private def nextSnapId(m: SpecMetadata): Long =
      m.snapshots.map(_.snapshotId).foldLeft(0L)(math.max) + 1L

    /** Whether the default spec partitions — a rewrite that stages files
      * without partition tuples must refuse a partitioned table. */
    def defaultSpecIsPartitioned: Boolean = md.specs(md.defaultSpecId).fields.nonEmpty

    /** Spec `specId` of `m` with the Spark type of each field's values. */
    private def specColumns(m: SpecMetadata, specId: Int): Seq[(SpecMetadata.SpecField, DataType)] =
      m.specs(specId).fields.map(f => f -> partitionValueType(f, m.currentSchema))

    /** Partition-spec evolution, the spec way: the metadata keeps EVERY
      * historical spec in `partition-specs` and bumps `default-spec-id`;
      * already-committed manifests keep their original spec id in the
      * manifest list (their files stay laid out — and pruned — by the old
      * spec), and only new commits use the new one. Partition field ids
      * stay unique across specs (fresh ids continue past every prior
      * spec's). Sources resolve against the CURRENT schema, so a column
      * added by evolveSchema can become a partition source. */
    def evolveSpec(newPartitionBy: Seq[String]): Unit = {
      // fresh ids continue past the MAX existing field id (not a count —
      // restored externally-written specs may be sparse)
      val nextBase = (md.specs.flatMap(_.fields.map(_.fieldId)) :+ 999).max + 1
      val id = md.specs.size
      md = md.copy(defaultSpecId = id, specs = md.specs :+
        SpecMetadata.PartitionSpec(id, parseSpec(newPartitionBy, md.currentSchema, nextBase)))
    }

    /** Append a new current schema. `lastColumnId` tracks the highest
      * field id EVER allocated, at any nesting level — dropped ids retire
      * forever (allocating from the live max would re-issue them and
      * resurrect dropped values through read-by-id). Defaults carry over
      * for the top-level ids the new schema keeps. */
    private def pushSchema(struct: StructType, ids: Seq[Int], nested: Map[String, Int]): Unit = {
      val s = SpecMetadata.Schema(md.schemas.size, struct, ids, nested,
        md.currentSchema.defaults.filter { case (id, _) => ids.contains(id) })
      md = md.copy(schemas = md.schemas :+ s, currentSchemaId = s.schemaId,
        lastColumnId = (ids ++ nested.values :+ md.lastColumnId).max)
    }

    /** Register (or find) the identity sort order over `cols` asc/
      * nulls-first and make it the table default — what a sorted
      * rewrite_data_files declares so external readers can DISCOVER the
      * clustering instead of every metadata JSON claiming "unsorted".
      * Returns the order id to stamp into the rewritten files'
      * `sort_order_id` (DataFileInfo). */
    def declareSortOrder(cols: Seq[String]): Int = {
      require(cols.nonEmpty, "need at least one sort column")
      val idx = currentSchema.fieldNames
      val fields = cols.map { c =>
        val i = idx.indexOf(c)
        require(i >= 0, s"no column $c to sort by")
        SpecMetadata.SortField(currentFieldIds(i), "asc", "nulls-first")
      }
      val id = md.sortOrders.find(_.fields == fields).map(_.orderId).getOrElse {
        val next = md.sortOrders.map(_.orderId).foldLeft(0)(math.max) + 1
        md = md.copy(sortOrders = md.sortOrders :+ SpecMetadata.SortOrder(next, fields))
        next
      }
      md = md.copy(defaultSortOrderId = id)
      id
    }

    /** Re-point the default at order 0 (unsorted) — an export whose
      * source default is not spec-expressible keeps its declared orders
      * discoverable without claiming one as the table default. */
    private[icelite] def clearDefaultSortOrder(): Unit = md = md.copy(defaultSortOrderId = 0)

    /** Set a free-form table property (spec `properties` map) — e.g.
      * `graft.clustering` records a z-order layout the spec's sort orders
      * can't express (claiming identity would assert an order the files
      * don't have; a property is honest AND discoverable). */
    def setProperty(k: String, v: String): Unit =
      md = md.copy(properties = md.properties + (k -> v))

    /** Register (or replace) the statistics file (spec `statistics`: at
      * most one per snapshot, dropped when its snapshot expires) for a
      * snapshot and publish a new metadata version — one metadata CAS. */
    def recordStatistics(e: StatsEntry): Unit = {
      require(md.snapshot(e.snapshotId).isDefined,
        s"statistics target snapshot ${e.snapshotId} is not in the log")
      publishMetadata("statistics")(m =>
        m.copy(statistics = m.statistics.filterNot(_.snapshotId == e.snapshotId) :+ e))
    }

    /** Register (or replace) a snapshot's partition-statistics file (spec
      * `partition-statistics`) — same lifecycle as [[recordStatistics]]. */
    def recordPartitionStatistics(e: PartitionStatsEntry): Unit = {
      require(md.snapshot(e.snapshotId).isDefined,
        s"partition-statistics target snapshot ${e.snapshotId} is not in the log")
      publishMetadata("partition statistics")(m => m.copy(partitionStatistics =
        m.partitionStatistics.filterNot(_.snapshotId == e.snapshotId) :+ e))
    }

    /** Declare the initial/write default (v3 default values) of
      * (existing, top-level) column `colName`, on every schema version
      * that carries its field id. `initial-default` is what
      * pre-evolution files read for the column INSTEAD of null — the
      * metadata-only backfill the v3 spec added; an explicit null written
      * after the evolution stays null (presence in the file decides).
      * Callers evolve the schema first (ADD COLUMN), then attach the
      * default before publishing. */
    def setInitialDefault(colName: String, value: Any): Unit = {
      val idx = currentSchema.fieldNames.indexOf(colName)
      require(idx >= 0, s"no column $colName to default")
      val id = currentFieldIds(idx)
      val v  = defaultJson(currentSchema.fields(idx).dataType, value)
      md = md.copy(schemas = md.schemas.map(s =>
        if (s.fieldIds.contains(id)) s.copy(defaults = s.defaults + (id -> v)) else s))
    }

    /** Additive schema evolution for subsequent commits, the spec way:
      * the metadata JSON keeps EVERY historical schema in `schemas` and
      * bumps `current-schema-id`; appended columns take fresh (higher)
      * field ids, existing columns keep theirs, and readers project old
      * data files through the current schema, null-filling the columns
      * those files predate. Existing columns may also WIDEN int→long /
      * float→double in place — the spec's primitive type promotions —
      * keeping their field ids; readers widen old files' chunks (and
      * their 4-byte bounds, see decodeBound) natively. Renames/drops/
      * narrowing retypes would need id-mapped projection and are
      * refused. */
    def evolveSchema(newSchema: StructType): Unit = {
      val cur = currentSchema
      require(newSchema.fields.take(cur.fields.length).zip(cur.fields).forall {
        case (n, o) => n.name == o.name && (n.dataType == o.dataType ||
          ((o.dataType, n.dataType) match {
            case (IntegerType, LongType) | (FloatType, DoubleType) => true
            case _                                                 => false
          }))
      } && newSchema.fields.length >= cur.fields.length,
        "only append-at-end or widening (int->long, float->double) schema evolution is supported")
      // appended columns take fresh ids past the MAX EVER allocated at
      // any nesting level (sparse histories keep their gaps; new top ids
      // never collide with a live nested id — the positional scheme this
      // replaces could hand an appended column a nested field's id)
      val maxId = md.lastColumnId
      val fresh = (1 to (newSchema.fields.length - cur.fields.length)).map(_ + maxId)
      // existing nested ids carry UNCHANGED; appended columns' nested
      // trees (if any) take fresh ids past the new max
      val appended = StructType(newSchema.fields.drop(cur.fields.length))
      val newNested = deriveNestedIds(appended, Seq(maxId + fresh.length))
      pushSchema(newSchema, currentFieldIds ++ fresh, currentNestedIds ++ newNested)
    }

    /** RENAME COLUMN, the spec way: the field keeps its id (and with it
      * every per-file stat, bound, and partition-source reference), only
      * the display name changes in a new schema-history entry. Data files
      * are untouched; the table flips to read-by-id so readers bind old
      * files' columns through the parquet field ids this library always
      * stamps (by-name would null out every pre-rename file). */
    def renameColumn(oldName: String, newName: String): Unit = {
      val cur = currentSchema
      val idx = cur.fieldNames.indexOf(oldName)
      require(idx >= 0, s"no column $oldName to rename")
      require(!cur.fieldNames.contains(newName), s"column $newName already exists")
      requireFieldIdStamps("rename column")
      pushSchema(StructType(cur.fields.updated(idx, cur.fields(idx).copy(name = newName))),
        currentFieldIds,
        // nested paths move with the renamed column; their ids don't change
        currentNestedIds.map {
          case (p, id) if p.startsWith(s"$oldName.") =>
            s"$newName.${p.stripPrefix(s"$oldName.")}" -> id
          case other => other
        })
      setReadById()
    }

    /** DROP COLUMN: the field leaves the current schema (its id is
      * RETIRED, never reissued — evolveSchema allocates past the history's
      * max), data files keep the physical column untouched. A later
      * re-add of the same NAME gets a fresh id, so old files' values do
      * not resurrect — that guarantee is exactly why the table flips to
      * read-by-id here. Partition source columns can't be dropped (the
      * spec keeps their ids live in every manifest's partition tuples). */
    def dropColumn(name: String): Unit = {
      val cur = currentSchema
      val idx = cur.fieldNames.indexOf(name)
      require(idx >= 0, s"no column $name to drop")
      val id = currentFieldIds(idx)
      require(!md.specs.exists(_.fields.exists(_.sourceId == id)),
        s"cannot drop partition source column $name")
      // a LIVE equality-delete file keying on this column would make every
      // subsequent scan throw (equality_ids resolve through the current
      // schema) — and retired ids are never reissued, so the table would
      // be bricked by a metadata-only op. Refuse instead; compact the
      // delete debt away first (rewrite_data_files), then drop.
      if (md.snapshots.nonEmpty) {
        val liveEqIds = plan(spark, currentMetadataPath).deletes
          .filter(_.content == 2).flatMap(_.equalityIds).toSet
        require(!liveEqIds.contains(id),
          s"cannot drop column $name: live equality-delete files key on it " +
            "(materialize the deletes with rewrite_data_files first)")
      }
      requireFieldIdStamps("drop column")
      // the subtree's nested ids retire with the column (lastColumnId
      // keeps them, so none is ever re-issued)
      pushSchema(StructType(cur.fields.patch(idx, Nil, 1)), currentFieldIds.patch(idx, Nil, 1),
        currentNestedIds.filterNot(_._1.startsWith(s"$name.")))
      setReadById()
    }

    // -------------------------------------------- nested (struct) evolution
    // The spec evolves fields BY ID at any depth; these are the one-level-
    // down twins of add/rename/dropColumn. `path` navigates top-level
    // column -> struct subfield(s), e.g. Seq("info","status"); navigation
    // through list/map positions is refused (the spec evolves those
    // element types, but parquet field-id binding for them is not
    // expressible through Spark's reader — an honest refusal beats a
    // silently name-bound read).

    /** The struct at `path` (which must name struct columns all the way
      * down) and a rebuilder producing the full schema with that struct
      * replaced. */
    private def structAt(path: Seq[String]): (StructType, StructType => StructType) = {
      def descend(st: StructType, p: Seq[String]): (StructType, StructType => StructType) =
        p match {
          case Seq() => (st, identity)
          case head +: rest =>
            val idx = st.fieldNames.indexOf(head)
            require(idx >= 0, s"no column $head in ${st.fieldNames.mkString(",")}")
            st.fields(idx).dataType match {
              case inner: StructType =>
                val (target, rebuildInner) = descend(inner, rest)
                (target, replaced => StructType(st.fields.updated(idx,
                  st.fields(idx).copy(dataType = rebuildInner(replaced)))))
              case other => throw new IllegalArgumentException(
                s"$head is ${other.catalogString}, not a struct — nested evolution " +
                  "navigates struct fields only")
            }
        }
      descend(currentSchema, path)
    }

    /** ADD a nullable field at the END of the struct at `path` — fresh id
      * past everything ever allocated, metadata-only, old files read the
      * field as NULL (Spark null-fills absent nested fields exactly like
      * absent top-level ones). */
    def addNestedColumn(path: Seq[String], field: StructField): Unit = {
      require(path.nonEmpty, "addNestedColumn needs the parent struct path")
      require(field.nullable, s"evolved nested field ${field.name} must be nullable")
      val (parent, rebuild) = structAt(path)
      require(!parent.fieldNames.contains(field.name),
        s"field ${field.name} already exists at ${path.mkString(".")}")
      val prefix  = path.mkString("", ".", ".")
      val newPath = prefix + field.name
      val baseId  = md.lastColumnId
      // the new field's own id, then its subtree's (if it is itself nested)
      val subtree = deriveNestedIds(StructType(Seq(field)), Seq(baseId + 1))
        .map { case (p, id) => (prefix + p, id) }
      pushSchema(rebuild(StructType(parent.fields :+ field.copy(nullable = true))),
        currentFieldIds, currentNestedIds + (newPath -> (baseId + 1)) ++ subtree)
    }

    /** RENAME the struct field at `path`: id (and whole subtree's ids)
      * unchanged, display name only; flips read-by-id so old files bind
      * the field through its parquet id one level down. */
    def renameNestedColumn(path: Seq[String], newName: String): Unit = {
      require(path.length >= 2, "renameNestedColumn needs column.field path")
      val (parent, rebuild) = structAt(path.init)
      val idx = parent.fieldNames.indexOf(path.last)
      require(idx >= 0, s"no field ${path.last} at ${path.init.mkString(".")}")
      require(!parent.fieldNames.contains(newName),
        s"field $newName already exists at ${path.init.mkString(".")}")
      requireFieldIdStamps("rename nested column", nested = true)
      val oldPrefix = path.mkString(".")
      val newPrefix = (path.init :+ newName).mkString(".")
      pushSchema(
        rebuild(StructType(parent.fields.updated(idx, parent.fields(idx).copy(name = newName)))),
        currentFieldIds,
        currentNestedIds.map {
          case (p, id) if p == oldPrefix => newPrefix -> id
          case (p, id) if p.startsWith(oldPrefix + ".") =>
            (newPrefix + p.stripPrefix(oldPrefix)) -> id
          case other => other
        })
      setReadById()
    }

    /** DROP the struct field at `path`: its id retires forever (a re-add
      * of the same name gets a fresh id — old files' values never
      * resurrect, the no-resurrection gate one level down). */
    def dropNestedColumn(path: Seq[String]): Unit = {
      require(path.length >= 2, "dropNestedColumn needs column.field path")
      val (parent, rebuild) = structAt(path.init)
      val idx = parent.fieldNames.indexOf(path.last)
      require(idx >= 0, s"no field ${path.last} at ${path.init.mkString(".")}")
      require(parent.fields.length > 1,
        s"cannot drop the last field of struct ${path.init.mkString(".")}")
      requireFieldIdStamps("drop nested column", nested = true)
      val dead = path.mkString(".")
      pushSchema(rebuild(StructType(parent.fields.patch(idx, Nil, 1))), currentFieldIds,
        currentNestedIds.filterNot { case (p, _) => p == dead || p.startsWith(dead + ".") })
      setReadById()
    }

    /** Guard for the read-by-id flip: a rename/drop makes every later scan
      * bind file columns by parquet field id, so data files with NO id
      * stamps (foreign parquet adopted by an export, or a pre-stamping
      * build) would brick on the very next read. This writer's own paths
      * always stamp, so probing a bounded sample of live files (≤16,
      * evenly spaced — a few KB of footer each) catches the adopted-file
      * case without an O(files) metadata-op cost. */
    private def requireFieldIdStamps(op: String, nested: Boolean = false): Unit = {
      if (md.snapshots.isEmpty) return
      import scala.jdk.CollectionConverters._
      // any read-by-id flip on a schema WITH struct columns makes readers
      // attach nested id metadata too — so the probe must go deep even
      // for a top-level rename when structs are present
      val needDeep = nested ||
        currentSchema.fields.exists(_.dataType.isInstanceOf[StructType])
      val conf  = spark.sparkContext.hadoopConfiguration
      val files = plan(spark, currentMetadataPath).files
      val probe =
        if (files.size <= 16) files
        else (0 until 16).map(i => files(i * files.size / 16))
      probe.foreach { f =>
        val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.path, conf))
        val msg = try fr.getFooter.getFileMetaData.getSchema finally fr.close()
        // a NESTED rename/drop binds struct subfields by id, so the probe
        // must descend into group types too (list/map repetition groups
        // are structural, not fields — they legitimately carry no id)
        def unstampedIn(t: org.apache.parquet.schema.Type, path: String): Seq[String] =
          t match {
            case g: org.apache.parquet.schema.GroupType
                if needDeep && t.getLogicalTypeAnnotation == null && path.nonEmpty =>
              g.getFields.asScala.toSeq.flatMap(c => check(c, path))
            case _ => Nil
          }
        def check(t: org.apache.parquet.schema.Type, parent: String): Seq[String] = {
          val path = if (parent.isEmpty) t.getName else s"$parent.${t.getName}"
          (if (t.getId == null) Seq(path) else Nil) ++ unstampedIn(t, path)
        }
        val unstamped = msg.getFields.asScala.toSeq.flatMap(c => check(c, ""))
        require(unstamped.isEmpty,
          s"cannot $op: data file ${f.path} lacks parquet field ids on " +
            s"[${unstamped.mkString(", ")}] — read-by-id would make every scan " +
            "of this file fail; rewrite data files first")
      }
    }

    /** Publish a pending schema change as a new metadata version WITHOUT
      * a data commit (ALTER TABLE is metadata-only): same CAS-claimed
      * vN.metadata.json protocol as a commit, current snapshot pointer
      * unchanged. Requires at least one committed snapshot. */
    def publishSchemaChange(): Unit = {
      require(md.snapshots.nonEmpty, "publishSchemaChange needs a committed snapshot")
      publishMetadata("schema change")(identity)
    }

    /** Mark the table read-by-id (table property `graft.read-by-id`):
      * readers then resolve file columns by parquet field id. A rename or
      * drop sets it; so do exports of rename/drop-evolved standard tables,
      * whose adopted files must bind by field id. */
    private[icelite] def setReadById(): Unit = setProperty(SpecMetadata.ReadByIdKey, "true")

    /** The current (possibly evolved-but-unpublished) schema — what an
      * ALTER TABLE driver composes further changes against. */
    def schemaNow: StructType = currentSchema

    /** Current top-level field ids (sparse after drops) — what a staged
      * file write must stamp to stay id-consistent with the schema. */
    def fieldIdsNow: Seq[Int] = currentFieldIds

    /** Current nested (path -> id) assignment — the tracked map staged
      * writes stamp after a NESTED evolution (positional re-derivation
      * diverges as soon as a nested field was dropped or reordered). */
    def nestedIdsNow: Map[String, Int] = currentNestedIds

    /** Commit `files` as snapshot N+1 (append semantics). Files with
      * `content` > 0 go into a separate DELETE manifest, listed with
      * content 1 in the manifest list, exactly as the spec splits them. */
    def commit(files: Seq[DataFileInfo]): Unit = append(files, rebase = false)

    /** [[commit]], rebasing on a lost race with `rebase`. Files that do
      * not carry the default spec's partition tuples (`stamped` false)
      * commit under [[deltaSpec]]. With `overwrite` the snapshot is an
      * "overwrite" that lists only `files`, as [[rewriteDataFiles]] does. */
    private[IcebergFormat] def append(files: Seq[DataFileInfo], rebase: Boolean,
        stamped: Boolean = true, overwrite: Boolean = false): Writer = {
      val op = if (overwrite) "overwrite" else "append"
      publish(op, rebase)((b, staged) => added(
        if (overwrite) b.value.copy(manifests = Nil) else b.value, staged, files, stamped, op))
    }

    /** `s` with one more snapshot, of `files` labelled `op`: under the
      * default spec when they carry its partition tuples (`stamped`), else
      * under [[deltaSpec]]. */
    private def added(s: SpecState, staged: MetadataFiles.Staged, files: Seq[DataFileInfo],
        stamped: Boolean, op: String): SpecState = {
      val (t, sid) = if (stamped) (s, s.md.defaultSpecId) else deltaSpec(s)
      withSnapshot(t, staged, Seq(files -> sid), op)
    }

    /** Operation label for a delta commit's summary: all-deletes =
      * "delete", anything staging new rows = "overwrite". */
    private def deltaOp(files: Seq[DataFileInfo]): String =
      if (files.nonEmpty && files.forall(_.content > 0)) "delete" else "overwrite"

    /** Commit DELTA files (row-level DML output) that carry NO partition
      * values. On a partitioned table these must NOT land under the
      * partitioned spec — the spec requires a file's partition tuple to
      * reflect its rows, and conforming engines prune by it (null !=
      * literal → silently skipped files). Instead they commit under an
      * auxiliary UNPARTITIONED spec entry (appended to `partition-specs`
      * once, default-spec-id untouched), which every conforming reader
      * treats as global/unpruned — conservative and correct. Unpartitioned
      * tables take the ordinary path. */
    def commitDelta(files: Seq[DataFileInfo]): Unit =
      publish("delta")((b, staged) => added(b.value, staged, files, stamped = false, deltaOp(files)))

    /** `s` with the spec files without partition values commit under, and
      * its id: the default if unpartitioned, else the auxiliary unpartitioned
      * spec, appended (default-spec-id untouched) the first time it is needed. */
    private def deltaSpec(s: SpecState): (SpecState, Int) =
      if (s.md.specs(s.md.defaultSpecId).fields.isEmpty) (s, s.md.defaultSpecId)
      else s.md.specs.indexWhere(_.fields.isEmpty) match {
        case -1 =>
          val id = s.md.specs.size
          (s.copy(md = s.md.copy(specs = s.md.specs :+ SpecMetadata.PartitionSpec(id, Nil))), id)
        case existing => (s, existing)
      }

    /** Row-delta commit in ONE snapshot with PER-GROUP partition specs:
      * insert files that carry real partition tuples land under the
      * DEFAULT (partitioned) spec — external engines prune them like any
      * other data file — while position/equality deletes (global by
      * nature) land under the auxiliary unpartitioned spec. The old
      * all-unpartitioned routing ([[commitDelta]]) remains the fallback
      * for transform specs the delta writer can't stamp. */
    def commitRowDelta(inserts: Seq[DataFileInfo], deletes: Seq[DataFileInfo]): Unit =
      publish("row delta") { (b, staged) =>
        val (s, sid) = deltaSpec(b.value)
        withSnapshot(s, staged, Seq(inserts -> s.md.defaultSpecId, deletes -> sid),
          deltaOp(inserts ++ deletes))
      }

    /** `s` with one more snapshot, of `groups0` (files and the spec each
      * group commits under) labelled `op`, whose manifests and list are
      * claimed through `staged`. */
    private def withSnapshot(s: SpecState, staged: MetadataFiles.Staged,
        groups0: Seq[(Seq[DataFileInfo], Int)], op: String): SpecState = {
      // v3 ROW LINEAGE: newly-added data files take contiguous implicit
      // row ids — file `first_row_id` (manifest field 142) + position.
      // Files that MATERIALIZED their lineage columns (rewrites) carry
      // ids in the data itself and consume no id space.
      var rowCursor = s.md.nextRowId
      val groups = groups0.map { case (fs, sid) =>
        (fs.map { f =>
          if (f.content == 0 && !f.lineageMaterialized && f.firstRowId.isEmpty) {
            val g = f.copy(firstRowId = Some(rowCursor)); rowCursor += f.recordCount; g
          } else f
        }, sid)
      }
      // stats keys MUST be real field ids of the current schema: a sparse-id
      // table (dropped-column history) whose stats arrive keyed positionally
      // (1..n from a writeSingleFile call that omitted fieldIds) would
      // publish counts under retired/nonexistent ids, and null-aware file
      // pruning (IsNull/IsNotNull) would misprune on them. Fail the commit
      // rather than publish spec-noncompliant metadata.
      // DELETE files (content != 0) are exempt: position deletes key their
      // stats by the spec's RESERVED ids (2147483546 file_path /
      // 2147483545 pos), which are never in the table schema.
      val fieldIds = s.md.currentSchema.fieldIds
      val idSet    = fieldIds.toSet
      groups.flatMap(_._1).filter(_.content == 0).foreach { f =>
        val bad = (f.nullCounts.keySet ++ f.bounds.keySet).filterNot(idSet)
        require(bad.isEmpty,
          s"stats keyed by non-schema field ids ${bad.toSeq.sorted.mkString(",")} " +
            s"(schema ids: ${fieldIds.mkString(",")}) — pass fieldIds to the stage writer")
      }
      val snapId = nextSnapId(s.md)
      val seq    = snapId // one sequence number per commit
      // 1. the commit's manifest(s): one ADDED entry per file; data and
      // delete files may not share a manifest, nor may two specs
      val seenNames = scala.collection.mutable.Set.empty[String]
      val added = for {
        (groupFiles, specId) <- groups
        (kind, group) <- groupFiles.groupBy(f => if (f.content == 0) 0 else 1).toSeq.sortBy(_._1)
      } yield {
        val base = if (kind == 0) "" else "-deletes"
        // same-kind manifests from ANOTHER spec group in this commit get a
        // spec-id suffix — names must stay unique within the snapshot
        val suffix =
          if (seenNames.add(f"m-$snapId%05d$base.avro")) base
          else s"$base-s$specId"
        val entries = group.map(ManifestEntry(ManifestEntry.Added, Some(snapId), Some(seq), Some(seq), _))
        manifest(s.md, staged, new Path(metadataDir, f"m-$snapId%05d$suffix.avro"),
          specId, kind, entries, seq, seq, snapId)
      }
      // 2+3. the snapshot's manifest list + metadata; its first-row-id
      // (spec v3) is where the allocator stood
      listed(s.copy(manifests = s.manifests ++ added), staged, snapId, seq, op,
        Some(s.md.nextRowId), rowCursor)
    }

    /** Claim the manifest of `entries` (content `kind`, spec `specId` of `m`)
      * at `path` and return its list entry. Its header holds `m`'s current
      * schema and that spec, both as the table metadata renders them. */
    private def manifest(m: SpecMetadata, staged: MetadataFiles.Staged, path: Path, specId: Int,
        kind: Int, entries: Seq[ManifestEntry], seq: Long, minSeq: Long, snapId: Long)
        : ManifestFile = {
      val specFields = specColumns(m, specId)
      staged.claim(path)(SpecManifests.writeManifest(fs, _, specFields, entries, Map(
        "schema" -> SpecMetadata.renderSchema(m.currentSchema),
        "partition-spec" -> SpecMetadata.renderSpecFields(m.specs(specId).fields),
        "partition-spec-id" -> specId.toString,
        "format-version" -> "2",
        "content" -> (if (kind == 0) "data" else "deletes"))))
      ManifestFile.of(path.toString, fs.getFileStatus(path).getLen, specId, specFields, kind, seq,
        minSeq, snapId, entries)
    }

    /** Data-file compaction (Iceberg `rewrite_data_files`, bin-pack with
      * delete materialization): the caller stages the compacted file(s) —
      * written from a scan of the CURRENT state, so every pending
      * merge-on-read delete is applied in the rewrite — and this commit
      * replaces ALL existing manifests (data and delete) with one fresh
      * ADDED manifest for them. Earlier snapshots still reference the
      * original manifests through their own manifest lists, so time travel
      * to any pre-rewrite snapshot, deletes included, is untouched. The
      * antidote to small-file sprawl AND to the per-read delete-join tax:
      * after the rewrite, scans are pure data-file reads again. */
    def rewriteDataFiles(files: Seq[DataFileInfo]): Unit = publish("rewrite") { (b, staged) =>
      // manifests replaced wholesale; old snapshots keep theirs
      added(b.value.copy(manifests = Nil), staged, files, stamped = true, "replace")
    }

    /** Manifest compaction (Iceberg `rewrite_manifests`): merge every
      * data manifest into one manifest PER SPEC of status-EXISTING
      * entries (the spec forbids mixing specs in a manifest), keeping
      * each entry's original data sequence number so merge-on-read
      * delete ordering is untouched, and commit the result as a new
      * `replace` snapshot. No data file moves. This is the antidote to
      * commit-per-microbatch metadata sprawl: planning reads O(specs)
      * manifests afterward instead of O(commits) — at 100 TB with
      * streaming ingest the manifest list would otherwise grow without
      * bound. The merged manifest's list entry counts the entries it
      * carries; delete manifests are carried as-is. */
    def rewriteManifests(): Unit = publish("rewrite manifests") { (b, staged) =>
      val s      = b.value
      val snapId = nextSnapId(s.md)
      val seq    = snapId
      val (dataM, delM) = s.manifests.partition(_.content == 0)
      val merged = dataM.groupBy(_.specId).toSeq.sortBy(_._1).map { case (sid, group) =>
        // every live entry carried as EXISTING — by this snapshot, not
        // added by it — with its own snapshot id and sequence numbers
        val entries = group.flatMap(m => SpecManifests.readManifest(fs, new Path(m.path)))
          .filter(_.status != ManifestEntry.Deleted).map(_.copy(status = ManifestEntry.Existing))
        // list seq = the group's MIN so a null-seq entry can never be
        // treated as newer than it was (entries carry explicit seqs anyway)
        manifest(s.md, staged, new Path(metadataDir, f"m-$snapId%05d-rw$sid.avro"), sid,
          0, entries, group.map(_.sequenceNumber).min, group.map(_.minSequenceNumber).min, snapId)
      }
      listed(s.copy(manifests = merged.toList ++ delM), staged, snapId, seq, "replace", None,
        s.md.nextRowId)
    }

    /** Snapshot expiration (Iceberg `expire_snapshots`): drop all but the
      * last `keepLast` snapshots from the metadata, delete their manifest
      * lists, delete any manifest file no kept snapshot references, and
      * delete the data and delete files that only those manifests list —
      * the complement of the rewrites: rewrite_manifests makes old
      * per-commit manifests unreachable and rewrite_data_files or an
      * overwrite makes old files unreachable, expiration reclaims them.
      * A file carried into a kept snapshot stays. Bounds the metadata
      * history a long-lived streaming table accumulates. */
    def expireSnapshots(keepLast: Int): Unit = {
      require(keepLast >= 1, "must keep at least the current snapshot")
      val (expired, kept) = md.snapshots.splitAt((md.snapshots.size - keepLast).max(0))
      if (expired.isEmpty) return
      val keptManifests: Set[String] = kept.flatMap(_.manifestList).flatMap { lp =>
        SpecManifests.readList(fs, new Path(lp)).map(_.path)
      }.toSet
      val keptIds = kept.map(_.snapshotId).toSet
      // publish the trimmed metadata FIRST: a lost commit race or a crash
      // mid-expire must never have deleted files a still-current snapshot
      // references. The first kept snapshot keeps its parent's id, as
      // Iceberg's expiry does, and statistics go with their snapshots
      // (the spec's GC contract).
      publishMetadata("expire")(m => m.copy(
        snapshots = kept,
        snapshotLog = m.snapshotLog.filter(e => keptIds(e.snapshotId)),
        statistics = m.statistics.filter(e => keptIds(e.snapshotId)),
        partitionStatistics = m.partitionStatistics.filter(e => keptIds(e.snapshotId))))
      // reclamation is BEST-EFFORT per entry: the expiration committed
      // above, so a missing/corrupt expired list or manifest (externally
      // vacuumed) must not fail the operation or strand the remaining
      // deletions — a skipped file is an orphan for the vacuum op, not an
      // error
      import scala.util.Try
      val lists = expired.flatMap(_.manifestList).map(new Path(_))
      val gone  = lists.flatMap(p => Try(SpecManifests.readList(fs, p)).getOrElse(Nil))
        .map(_.path).distinct.filterNot(keptManifests).map(new Path(_))
      // kept manifests' entries are read only when a manifest goes; a file
      // outside the table's location (adopted by an export) is never
      // deleted, and a directory a write staged into goes with its last file
      if (gone.nonEmpty) Try {
        def files(m: Path) = SpecManifests.readManifest(fs, m)
          .map(e => fs.makeQualified(new Path(e.file.path)))
        val live = keptManifests.toSeq.flatMap(m => files(new Path(m))).toSet
        val own  = fs.makeQualified(new Path(location))
        val dead = gone.flatMap(m => Try(files(m)).getOrElse(Nil)).distinct
          .filter(f => !live(f) && f.toString.startsWith(s"$own/"))
        dead.foreach(f => Try(fs.delete(f, false)))
        dead.map(_.getParent).distinct.filter(_ != new Path(own, "data"))
          .foreach(d => Try(if (fs.listStatus(d).isEmpty) fs.delete(d, false)))
      }
      (gone ++ lists).foreach(p => Try(fs.delete(p, false)))
    }

    /** `s` with snapshot `snapId` as current: its manifest list (claimed
      * through `staged`) of `s`'s manifests, and the metadata that logs it
      * — summary `op`, the current schema's id, the row-lineage base
      * `firstRowId`, the allocator advanced to `nextRowId`, and a commit
      * time from the clock that stays past the last update, so snapshot
      * times and the `snapshot-log` only grow.
      * Row-delta commits publish delete/overwrite and rewrites replace —
      * the spec's summary contract, which changelog consumers key off. */
    private def listed(s: SpecState, staged: MetadataFiles.Staged, snapId: Long, seq: Long,
        op: String, firstRowId: Option[Long], nextRowId: Long): SpecState = {
      val listPath = new Path(metadataDir, f"snap-$snapId%d-manifest-list.avro")
      // parent = the actual previous head (ids are monotone but can GAP
      // past expired history, so snapId - 1 is not necessarily it)
      val parent = s.md.snapshots.lastOption.map(_.snapshotId)
      staged.claim(listPath)(SpecManifests.writeList(fs, _, s.manifests, Map(
        "format-version" -> "2",
        "snapshot-id" -> snapId.toString,
        "sequence-number" -> seq.toString,
        "parent-snapshot-id" -> parent.map(_.toString).getOrElse("null"))))
      val at = math.max(clock(), s.md.lastUpdatedMs + 1)
      s.copy(md = s.md.copy(
        lastSequenceNumber = seq, lastUpdatedMs = at, nextRowId = nextRowId,
        snapshots = s.md.snapshots :+ SpecMetadata.Snapshot(snapId, parent, seq, at, op,
          s.md.currentSchemaId, Some(listPath.toString), firstRowId),
        currentSnapshotId = Some(snapId),
        snapshotLog = s.md.snapshotLog :+ SpecMetadata.SnapshotLogEntry(at, snapId)))
    }

    /** Publish the state `build` makes from `head` in one attempt of
      * [[MetadataFiles.commit]] and take it as `head`. With `rebase` a lost
      * race builds on a fresh read, without pending edits: only a fresh
      * resume rebases. */
    private[IcebergFormat] def publish(what: String, rebase: Boolean = false)(
        build: (MetadataFiles.Versioned[SpecState], MetadataFiles.Staged) => SpecState): Writer = {
      head = MetadataFiles.commit(fs, metadataDir, metadataName, s"$what commit to $location",
          (s: SpecState) => SpecMetadata.render(s.md))(
          head, if (rebase) Some(() => resumeWriter(spark, location, clock).head) else None)(
          (b, staged) => Some(build(b, staged)))
      this
    }

    /** [[publish]] of the base with its metadata mapped by `f`. */
    private def publishMetadata(what: String)(f: SpecMetadata => SpecMetadata): Unit =
      publish(what)((b, _) => b.value.copy(md = f(b.value.md)))

    def currentMetadataPath: String = new Path(metadataDir, metadataName(head.version)).toString
  }

  /** Optimistic-concurrency append: commit `files` to the table at
    * `location`, rebasing on a concurrent winner's state — the Iceberg
    * commit protocol for parallel jobs appending to one table. The data
    * files are already staged and immutable, so a retry re-publishes
    * metadata only (O(manifest), no data IO). Returns the winning writer
    * (for follow-up reads). `stamped` and `overwrite` are the connector
    * write's: files without the default spec's partition tuples, and a
    * snapshot that replaces the table's files (see [[Writer.append]]). */
  def appendWithRetry(spark: SparkSession, location: String, files: Seq[DataFileInfo],
      stamped: Boolean = true, overwrite: Boolean = false): Writer =
    resumeWriter(spark, location).append(files, rebase = true, stamped, overwrite)

  /** Apply `edit` — calls of a [[Writer]]'s schema, default and property
    * methods — to the table's current metadata and publish the result as
    * one metadata-only version. A concurrent commit that wins the race
    * rebases it: `edit` runs again on the winner's state, up to the
    * loop's bound on attempts. Returns the writer at the published
    * version. */
  def publishEdits(spark: SparkSession, location: String)(edit: Writer => Unit): Writer =
    resumeWriter(spark, location).publish("schema change", rebase = true) { (b, _) =>
      val w = new Writer(spark, location, b, WallClock)
      edit(w)
      w.head.value
    }

  /** Reopen an existing Iceberg v2 table directory as a live [[Writer]]
    * session — the missing half of the writer's "single session owns the
    * lineage" design, and what lets SQL row-level operations commit DELTA
    * snapshots onto tables loaded from disk (ic76–ic79). State is rebuilt
    * from public metadata only: version from [[currentVersion]], the
    * snapshots and the `snapshot-log` from the metadata JSON, the carried
    * manifest-list entries from the current snapshot's manifest list
    * (verbatim, every field the list schema records), and the FULL schema + spec
    * histories — evolved and partitioned tables resume too. Top-level
    * field ids re-emit VERBATIM, so sparse layouts (a dropped+re-added
    * column history) resume and take SQL DML; only duplicate/non-positive
    * ids are refused. The current schema must be the LATEST of the
    * history (the writer always commits with the last). Format v2 only.
    * Its commits take their times from `clock`. */
  def resumeWriter(spark: SparkSession, location: String,
      clock: () => Long = WallClock): Writer = {
    // the RESOLVED version (the resolver walks forward past a stale
    // hint), not the raw hint value
    val version = currentVersion(spark, location)
    val (fs, md) = open(spark, metadataPath(location, version))
    require(md.formatVersion == 2, "resumeWriter supports format-version 2 only")
    // histories ordered by id; ids contiguous from 0, current schema = last
    val schemas = md.schemas.sortBy(_.schemaId)
    require(schemas.map(_.schemaId) == schemas.indices,
      "resumeWriter requires contiguous schema ids from 0")
    require(md.currentSchemaId == schemas.size - 1,
      "resumeWriter requires the current schema to be the latest")
    // top-level field ids re-emit VERBATIM — sparse layouts (a
    // dropped-column history leaves gaps) resume fine; only duplicate or
    // non-positive ids are refused
    schemas.foreach { s =>
      require(s.fieldIds.distinct.length == s.fieldIds.length && s.fieldIds.forall(_ > 0),
        s"resumeWriter requires distinct positive field ids, got ${s.fieldIds}")
    }
    val specs =
      if (md.specs.isEmpty) Seq(SpecMetadata.PartitionSpec(0, Nil)) else md.specs.sortBy(_.specId)
    require(specs.map(_.specId) == specs.indices,
      "resumeWriter requires contiguous spec ids from 0")
    // the default spec may point anywhere in the history (commitDelta
    // appends an auxiliary unpartitioned spec PAST the default)
    require(md.defaultSpecId >= 0 && md.defaultSpecId < specs.size,
      s"default-spec-id ${md.defaultSpecId} out of range")
    val head = md.snapshots.lastOption.getOrElse(
      throw new IllegalStateException(s"no snapshots to resume at $location"))
    require(md.snapshots.forall(_.manifestList.isDefined),
      "resumeWriter requires every snapshot to name a manifest list")
    // the carried manifests: the head's list entries, verbatim
    val manifests = SpecManifests.readList(fs, new Path(head.manifestList.get)).toList
    new Writer(spark, location, MetadataFiles.Versioned(version,
      SpecState(md.copy(location = location, schemas = schemas, specs = specs), manifests)),
      clock)
  }
}
