package graft.icelite

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** ANALYZE for native Iceberg v2 tables: per-column NDV as Apache
  * DataSketches THETA sketches, persisted in a spec-conformant Puffin
  * statistics file and registered in the table metadata's `statistics`
  * list — exactly the artifact Iceberg's `ANALYZE TABLE` procedure
  * produces (blob type `apache-datasketches-theta-v1`, one blob per
  * column, `ndv` property carrying the rounded estimate).
  *
  * The sketch build is ONE distributed pass: each partition folds its
  * rows into per-column update sketches (fixed 4 KiB-scale state, never
  * row-proportional), partials come back as compact-sketch bytes and
  * union on the driver — O(partitions × columns × sketch size) driver
  * work, independent of row count. Values are fed to the sketch in the
  * Iceberg single-value serialization (spec Appendix D), so a conformant
  * external reader unioning or estimating these sketches agrees with us
  * byte-for-byte.
  *
  * At 100 TB: stats cost one full scan at ANALYZE time (amortized over
  * every plan that consults them), estimates are mergeable across
  * snapshots by sketch union, and readers fetch the Puffin footer + the
  * one blob they want — never the whole file. */
object TableStats {

  import IcebergFormat.{StatsBlobMeta, StatsEntry}

  val ThetaBlobType = "apache-datasketches-theta-v1"

  /** Column types the sketch path supports (Iceberg single-value
    * serialization implemented here). */
  private def supported(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
         StringType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Iceberg single-value serialization of one non-null row value (spec
    * Appendix D: little-endian fixed width for numerics, UTF-8 for
    * strings, days/micros for date/timestamps, minimal big-endian
    * unscaled for decimals). */
  private def valueBytes(dt: DataType, v: Any): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int)(f: ByteBuffer => Unit): Array[Byte] = {
      val bb = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN); f(bb); bb.array()
    }
    dt match {
      case BooleanType => Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0)
      case IntegerType => le(4)(_.putInt(v.asInstanceOf[Int]))
      case LongType    => le(8)(_.putLong(v.asInstanceOf[Long]))
      case FloatType   => le(4)(_.putFloat(v.asInstanceOf[Float]))
      case DoubleType  => le(8)(_.putDouble(v.asInstanceOf[Double]))
      case StringType  => v.toString.getBytes("UTF-8")
      case DateType    => le(4)(_.putInt(v match {
        case d: java.sql.Date       => d.toLocalDate.toEpochDay.toInt
        case d: java.time.LocalDate => d.toEpochDay.toInt
        case i: Int                 => i
      }))
      case TimestampType => le(8)(_.putLong(v match {
        case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
        case t: java.time.Instant  => t.getEpochSecond * 1000000L + t.getNano / 1000
        case l: Long               => l
      }))
      case TimestampNTZType => le(8)(_.putLong(v match {
        case t: java.time.LocalDateTime =>
          t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
        case l: Long => l
      }))
      case _: DecimalType =>
        val bd = v match {
          case d: java.math.BigDecimal => d
          case d: BigDecimal           => d.bigDecimal
          case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
        }
        bd.unscaledValue.toByteArray // minimal two's-complement big-endian
      case other => throw new IllegalArgumentException(s"unsupported stats type $other")
    }
  }

  /** One distributed pass building a compact theta sketch per column of
    * `df` (all columns must be `supported`). Returns compact-sketch
    * bytes, one per column, empty-sketch bytes for an empty frame. */
  private[graft] def buildSketches(df: DataFrame): Seq[Array[Byte]] = {
    import org.apache.datasketches.theta.{SetOperation, Sketches, UpdateSketch}
    import org.apache.datasketches.memory.Memory
    val dts = df.schema.fields.map(_.dataType)
    val n   = dts.length
    val partials = df.rdd.mapPartitions { rows =>
      val sks = Array.fill(n)(UpdateSketch.builder().build())
      rows.foreach { r =>
        var i = 0
        while (i < n) {
          if (!r.isNullAt(i)) sks(i).update(valueBytes(dts(i), r.get(i)))
          i += 1
        }
      }
      Iterator.single(sks.map(_.compact().toByteArray))
    }
    val zero = Array.fill(n)(UpdateSketch.builder().build().compact().toByteArray)
    partials.fold(zero) { (a, b) =>
      a.zip(b).map { case (x, y) =>
        val u = SetOperation.builder().buildUnion()
        u.union(Sketches.wrapSketch(Memory.wrap(x)))
        u.union(Sketches.wrapSketch(Memory.wrap(y)))
        u.getResult.toByteArray
      }
    }.toSeq
  }

  /** NDV estimate of compact-sketch bytes. */
  def estimate(bytes: Array[Byte]): Double = {
    import org.apache.datasketches.memory.Memory
    org.apache.datasketches.theta.Sketches.wrapSketch(Memory.wrap(bytes)).getEstimate
  }

  /** ANALYZE: sketch the given columns (default: every supported column)
    * of the table's CURRENT snapshot, write one Puffin statistics file
    * under `metadata/`, and register it in the table metadata's
    * `statistics` list (replacing a prior entry for the same snapshot) —
    * one metadata CAS, like every other table operation.
    * @return the Puffin file path. */
  def analyze(spark: SparkSession, location: String, columns: Seq[String] = Nil): Path = {
    val mp = IcebergFormat.currentMetadataPath(spark, location)
    val snapId = IcebergFormat.currentSnapshotId(spark, mp).getOrElse(
      throw new IllegalStateException(s"nothing to analyze: no snapshot at $location"))
    val p = IcebergFormat.plan(spark, mp)
    val nameToId = p.schema.fieldNames.zip(p.fieldIds).toMap
    val cols =
      if (columns.nonEmpty) columns
      else p.schema.fields.filter(f => supported(f.dataType)).map(_.name).toSeq
    cols.foreach { c =>
      val f = p.schema.fields(p.schema.fieldNames.indexOf(c))
      require(supported(f.dataType), s"cannot sketch ${f.dataType.catalogString} column $c")
    }
    val df = IcebergFormat.scan(spark, mp).select(cols.map(org.apache.spark.sql.functions.col): _*)
    val sketches = buildSketches(df)
    val seq  = snapId // this writer's sequence number == snapshot id
    val tag  = java.util.UUID.randomUUID().toString.take(8)
    val path = new Path(location, f"metadata/stats-$snapId%05d-$tag.puffin")
    val fs   = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val blobs = cols.zip(sketches).map { case (c, bytes) =>
      PuffinBlob(ThetaBlobType, Seq(nameToId(c)), snapId, seq, bytes,
        Map("ndv" -> Math.round(estimate(bytes)).toString))
    }
    val (fileSize, footerSize) =
      Puffin.write(fs, path, blobs, Map("created-by" -> "graft-tablestats"))
    val w = IcebergFormat.resumeWriter(spark, location)
    w.recordStatistics(StatsEntry(snapId, path.toString, fileSize, footerSize,
      blobs.map(b => StatsBlobMeta(b.blobType, b.snapshotId, b.sequenceNumber,
        b.fields, b.properties))))
    path
  }

  /** PARTITION statistics (spec Partition Statistics file): one row per
    * partition of the CURRENT snapshot — typed partition tuple, spec id,
    * record/file counts and total bytes — written as a parquet under
    * `metadata/` and registered in the table metadata's
    * `partition-statistics` list. Planning-sized to COMPUTE (manifest
    * entries only, no data IO) and O(partitions) to consume — the
    * input a planner or capacity dashboard wants without touching
    * manifests at all. Identity default specs only (transform specs
    * refused loudly — a dishonest tuple would misprune downstream). */
  def computePartitionStats(spark: SparkSession, location: String): Path = {
    import org.apache.spark.sql.Row
    val mp = IcebergFormat.currentMetadataPath(spark, location)
    val snapId = IcebergFormat.currentSnapshotId(spark, mp).getOrElse(
      throw new IllegalStateException(s"nothing to compute: no snapshot at $location"))
    val p = IcebergFormat.plan(spark, mp)
    require(p.files.forall(f => f.buckets.isEmpty && f.transforms.isEmpty),
      "partition statistics support identity-partitioned tables only")
    val identIds = p.files.flatMap(_.partition.keys).toSeq.distinct.sorted
    require(identIds.nonEmpty, s"table at $location is unpartitioned")
    val idToField = p.fieldIds.zip(p.schema.fields).toMap
    val partSchema = StructType(identIds.map(id =>
      idToField(id).copy(nullable = true)))
    val schema = StructType(Seq(
      StructField("partition", partSchema, nullable = false),
      StructField("spec_id", IntegerType, nullable = false),
      StructField("data_record_count", LongType, nullable = false),
      StructField("data_file_count", IntegerType, nullable = false),
      StructField("total_data_file_size_in_bytes", LongType, nullable = false)))
    val rows = p.files.groupBy(f => identIds.map(id => f.partition.get(id).orNull))
      .toSeq.sortBy(_._1.map(v => Option(v).map(_.toString).getOrElse("")).mkString("/"))
      .map { case (vals, fs) =>
        Row(Row.fromSeq(vals), 0,
          fs.map(_.rowCount).sum, fs.size, fs.map(_.sizeBytes).sum)
      }
    val df  = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val rel = f"metadata/partition-stats-$snapId%05d-$tag.parquet"
    val file = graft.sources.IcebergWrite.writeFiles(spark, df, location,
      1 to schema.length)((_, _) => rel).head._2
    val w = IcebergFormat.resumeWriter(spark, location)
    w.recordPartitionStatistics(IcebergFormat.PartitionStatsEntry(
      snapId, file.path, file.sizeBytes))
    new Path(file.path)
  }

  /** `statistics` metadata table: one row per registered blob — the
    * discoverable record an engine consults before planning. */
  def statisticsTable(spark: SparkSession, metadataPath: String): DataFrame = {
    import spark.implicits._
    val entries = IcebergFormat.statisticsEntries(spark, metadataPath)
    entries.flatMap { e =>
      e.blobs.map(b => (e.snapshotId, e.path, e.fileSizeInBytes, b.blobType,
        b.fields.mkString(","), b.properties.get("ndv").map(_.toLong).getOrElse(-1L)))
    }.toDF("snapshot_id", "statistics_path", "file_size_in_bytes",
      "blob_type", "fields", "ndv")
      .orderBy("snapshot_id", "fields")
  }

  /** NDV of `column` from the registered statistics of the table's
    * current snapshot (falling back to the LATEST analyzed snapshot) —
    * estimated from the persisted sketch itself, proving the round trip,
    * not from the recorded property. None when never analyzed. */
  def ndv(spark: SparkSession, location: String, column: String): Option[Double] = {
    val mp = IcebergFormat.currentMetadataPath(spark, location)
    val p  = IcebergFormat.plan(spark, mp)
    val id = p.schema.fieldNames.indexOf(column) match {
      case -1 => return None
      case i  => p.fieldIds(i)
    }
    val entries = IcebergFormat.statisticsEntries(spark, mp)
    if (entries.isEmpty) return None
    val cur   = IcebergFormat.currentSnapshotId(spark, mp)
    val entry = entries.find(e => cur.contains(e.snapshotId)).getOrElse(entries.last)
    val path  = new Path(entry.path)
    val fs    = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, metas) = Puffin.readFooter(fs, path)
    metas.find(m => m.blobType == ThetaBlobType && m.fields == Seq(id))
      .map(m => estimate(Puffin.readBlob(fs, path, m)))
  }
}
