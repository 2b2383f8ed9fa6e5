package graft.ops

import graft.icelite.IcebergFormat
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One aggregate of a materialized-view definition: `fn` ∈
  * count | sum | avg | min | max, `input` a column name or scalar SQL
  * expression over the base table (`*` for count), `as` the output name. */
final case class MvAgg(fn: String, input: String, as: String) {
  require(Set("count", "sum", "avg", "min", "max")(fn), s"unsupported aggregate $fn")
}

/** What a refresh did and what it cost, in files — the observable the
  * scale contract is gated on (refresh IO must be proportional to the
  * CHANGE, not the base).
  *
  *   - `mode`: `noop` (base unchanged), `append` (new data files only),
  *     `retract` (position-delete window, applied as negative partials),
  *     `full` (honest fallback: equality-delete / rewrite / expired-window
  *     or min-max-under-delete — recomputed from the base).
  *   - `addedFilesRead`: base data files read for inserted rows.
  *   - `deleteFilesRead`: position-delete files read (new + prior ones
  *     consulted for already-deleted suppression).
  *   - `dataFilesReopened`: pre-existing base files re-read to resolve
  *     deleted rows' group keys (referenced by the new delete files only,
  *     never the whole base). */
final case class MvRefreshStats(
    mode: String, fromSnapshot: Long, toSnapshot: Long,
    addedFilesRead: Int, deleteFilesRead: Int, dataFilesReopened: Int)

/** Incrementally-maintained materialized views over native Iceberg v2
  * tables — the warehouse primitive that turns the reference's repeated
  * dashboard aggregations (`query_iceberg.ipynb:160-210` re-runs the same
  * GROUP BY per session) into a refresh whose cost is proportional to the
  * snapshot DELTA, not the base table.
  *
  * Design (Spark-first, no driver-side row movement):
  *
  *   - The view is itself a native Iceberg table; its definition and the
  *     last-refreshed base snapshot id live in the view table's
  *     `properties` map, so the artifact is self-describing and survives
  *     process restarts through the ordinary metadata channel.
  *   - Refresh diffs the base's snapshot log (pure metadata): new data
  *     files become INSERT partials; new position-delete files become
  *     NEGATIVE partials (sum/count/avg are subtractable groups — the
  *     same retraction algebra streaming engines use), resolved to rows
  *     via `_metadata.row_index` against ONLY the data files the delete
  *     files reference.
  *   - The merge into the view is one equality-delete + data-file commit
  *     on the view table (retire affected group rows, write their new
  *     values) — O(affected groups) IO, the streaming-upsert pattern.
  *   - Windows the delta algebra cannot attribute honestly — equality
  *     deletes (their matched rows aren't enumerable without a base
  *     scan), rewrite/compaction windows, an expired `from` snapshot, or
  *     min/max under retraction (not subtractable without per-group
  *     history) — fall back to a FULL recompute, loudly, in the returned
  *     stats. Correct first, incremental where the algebra permits.
  *
  * At 100 TB: refresh reads |added files| + |files referenced by new
  * deletes| + one scan of the (aggregate-sized) view itself; the base is
  * never rescanned outside the declared `full` fallback.
  */
object MatView {

  private val P_BASE = "graft.mv.base-location"
  private val P_SNAP = "graft.mv.base-snapshot-id"
  private val P_KEYS = "graft.mv.group-cols"
  private val P_AGGS = "graft.mv.aggs"
  // the input may be arbitrary SQL — base64url it so the encoded
  // definition is plain-ASCII and survives the raw-JSON properties map

  private val RowsCol = "__mv_rows" // per-group live row count (group liveness)

  // ------------------------------------------------------------------ util

  private def normStr(s: String): String = s.replaceFirst("^[a-z][a-z0-9+.-]*:/+", "/")
  private def normCol(c: Column): Column = regexp_replace(c, "^[a-z][a-z0-9+.-]*:/+", "/")

  private def encode(aggs: Seq[MvAgg]): String =
    aggs.map { a =>
      val in = java.util.Base64.getUrlEncoder.withoutPadding
        .encodeToString(a.input.getBytes("UTF-8"))
      s"${a.fn}:$in:${a.as}"
    }.mkString(";")
  private def decode(s: String): Seq[MvAgg] =
    if (s.isEmpty) Nil
    else s.split(";").toSeq.map { r =>
      val Array(fn, in64, as) = r.split(":", 3)
      MvAgg(fn, new String(java.util.Base64.getUrlDecoder.decode(in64), "UTF-8"), as)
    }

  /** Storage columns an aggregate occupies in the view table (count/min/
    * max: the output column itself; sum: running sum + non-null count —
    * the count decides when the SQL sum is null; avg: sum + count pair,
    * finalized as a division at read time). */
  private def storageCols(a: MvAgg): Seq[String] = a.fn match {
    case "count"        => Seq(a.as)
    case "sum"          => Seq(a.as, s"__${a.as}_nn")
    case "avg"          => Seq(s"__${a.as}_sum", s"__${a.as}_nn")
    case "min" | "max"  => Seq(a.as)
  }

  /** Create-time (plain, no retraction) storage aggregate expressions. */
  private def createExprs(aggs: Seq[MvAgg]): Seq[Column] = {
    aggs.flatMap { a =>
      lazy val e = expr(a.input)
      a.fn match {
        case "count" =>
          Seq((if (a.input == "*") count(lit(1)) else count(e)).as(a.as))
        case "sum" => Seq(sum(e).as(a.as), count(e).as(s"__${a.as}_nn"))
        case "avg" => Seq(sum(e).as(s"__${a.as}_sum"), count(e).as(s"__${a.as}_nn"))
        case "min" => Seq(min(e).as(a.as))
        case "max" => Seq(max(e).as(a.as))
      }
    } :+ count(lit(1)).as(RowsCol)
  }

  /** Retraction-aware partial expressions over a delta frame carrying
    * `__sign` (+1 inserts / −1 deletes): counts sum the sign, sums add
    * the sign-negated value. min/max partials are only emitted on
    * append-only windows (the caller guarantees all signs are +1). */
  private def partialExprs(aggs: Seq[MvAgg]): Seq[Column] = {
    val sign = col("__sign")
    aggs.flatMap { a =>
      lazy val e       = expr(a.input)
      lazy val signedE = when(sign > 0, e).otherwise(negate(e))
      def nnCount      = sum(when(e.isNotNull, sign).otherwise(0)).cast(LongType)
      a.fn match {
        case "count" =>
          val c =
            if (a.input == "*") sum(sign).cast(LongType)
            else sum(when(e.isNotNull, sign).otherwise(0)).cast(LongType)
          Seq(c.as(a.as))
        case "sum" => Seq(sum(when(e.isNotNull, signedE)).as(a.as), nnCount.as(s"__${a.as}_nn"))
        case "avg" =>
          Seq(sum(when(e.isNotNull, signedE)).as(s"__${a.as}_sum"), nnCount.as(s"__${a.as}_nn"))
        case "min" => Seq(min(e).as(a.as))
        case "max" => Seq(max(e).as(a.as))
      }
    } :+ sum(sign).cast(LongType).as(RowsCol)
  }

  /** Read `files` of `p` RAW (no delete application) with normalized
    * `__path` / `__pos` provenance — the building block both insert and
    * retraction partials resolve rows through. The scan is the library
    * scan pinned to `metaPath`, so identity-partition values omitted from
    * data files come from the manifests' partition records like in every
    * other read. `__path` is the scan's `_file` (the file's full path)
    * normalized, the form the delete pairs below carry. */
  private def readRaw(
      spark: SparkSession,
      metaPath: String,
      p: IcebergFormat.TablePlan,
      files: Seq[IcebergFormat.PlannedFile]): DataFrame = {
    IcebergFormat.read(spark, metaPath, planned = Some(p.copy(files = files, deletes = Nil)))
      .select((p.schema.fieldNames.map(col) :+
        normCol(col("_file")).as("__path") :+
        col("_pos").as("__pos")).toIndexedSeq: _*)
  }

  /** Distributed multi-file write of `df` into `loc`'s data dir: ONE
    * library write (`n` tasks), one file per task that holds rows — never
    * a per-file Spark job. */
  private def writeDataFiles(
      spark: SparkSession, loc: String, prefix: String, df: DataFrame,
      n: Int): Seq[IcebergFormat.DataFileInfo] =
    // n == 1 merges the upstream partitions narrowly (no exchange, no
    // sort-before-repartition pass); an explicit multi-file layout keeps
    // the round-robin repartition so files come out balanced
    graft.sources.IcebergWrite.writeFiles(spark,
      if (n == 1) df.coalesce(1) else df.repartition(n), loc, 1 to df.schema.fields.length)(
      (i, _) => s"data/$prefix-$i.parquet").map(_._2)

  // ------------------------------------------------------------------ API

  /** Materialize `SELECT groupCols, aggs FROM base GROUP BY groupCols` as
    * a native Iceberg table at `mvLoc`, recording the definition and the
    * base snapshot it reflects in the view's table properties.
    * `numFiles` sizes the distributed write of the initial state. */
  def create(
      spark: SparkSession, baseLoc: String, mvLoc: String,
      groupCols: Seq[String], aggs: Seq[MvAgg], numFiles: Int = 1): Unit = {
    require(groupCols.nonEmpty, "materialized view needs at least one group column")
    require(aggs.nonEmpty, "materialized view needs at least one aggregate")
    val outNames = groupCols ++ aggs.flatMap(storageCols)
    require(outNames.distinct.size == outNames.size,
      s"duplicate output columns in view definition: ${outNames.mkString(",")}")
    val basePath = IcebergFormat.currentMetadataPath(spark, baseLoc)
    val snap = IcebergFormat.currentSnapshotId(spark, basePath).getOrElse(
      throw new IllegalStateException(s"base table at $baseLoc has no committed snapshot"))
    val baseDf = IcebergFormat.scan(spark, basePath)
    val mv = baseDf.groupBy(groupCols.map(col): _*)
      .agg(createExprs(aggs).head, createExprs(aggs).tail: _*)
    val w = new IcebergFormat.Writer(spark, mvLoc, mv.schema)
    w.setProperty(P_BASE, baseLoc)
    w.setProperty(P_SNAP, snap.toString)
    w.setProperty(P_KEYS, groupCols.mkString(","))
    w.setProperty(P_AGGS, encode(aggs))
    w.commit(writeDataFiles(spark, mvLoc, "mv-00000000", mv, numFiles))
  }

  /** The view's CURRENT contents with aggregates finalized (sum nulls
    * when its non-null count is zero; avg divides as double) — what a
    * consumer reads instead of re-running the aggregate over the base. */
  def read(spark: SparkSession, mvLoc: String): DataFrame = {
    val mvPath = IcebergFormat.currentMetadataPath(spark, mvLoc)
    val props  = IcebergFormat.tableProperties(spark, mvPath)
    val keys   = props(P_KEYS).split(",").toSeq
    val aggs   = decode(props(P_AGGS))
    val mv     = IcebergFormat.scan(spark, mvPath)
    val outs = keys.map(col) ++ aggs.map { a =>
      a.fn match {
        case "count" | "min" | "max" => col(a.as)
        case "sum" =>
          val ty = mv.schema(a.as).dataType
          when(col(s"__${a.as}_nn") === 0, lit(null).cast(ty))
            .otherwise(col(a.as)).as(a.as)
        case "avg" =>
          when(col(s"__${a.as}_nn") === 0, lit(null).cast(DoubleType))
            .otherwise(col(s"__${a.as}_sum").cast(DoubleType) / col(s"__${a.as}_nn"))
            .as(a.as)
      }
    }
    mv.select(outs: _*)
  }

  /** Bring the view up to the base's current snapshot. Pure metadata when
    * nothing changed; otherwise delta-proportional where the retraction
    * algebra permits and a loud full recompute where it doesn't (see
    * [[MvRefreshStats]]). */
  def refresh(spark: SparkSession, mvLoc: String): MvRefreshStats = {
    val mvPath  = IcebergFormat.currentMetadataPath(spark, mvLoc)
    val props   = IcebergFormat.tableProperties(spark, mvPath)
    val baseLoc = props(P_BASE)
    val from    = props(P_SNAP).toLong
    val keys    = props(P_KEYS).split(",").toSeq
    val aggs    = decode(props(P_AGGS))

    val basePath = IcebergFormat.currentMetadataPath(spark, baseLoc)
    val to = IcebergFormat.currentSnapshotId(spark, basePath).getOrElse(
      throw new IllegalStateException(s"base table at $baseLoc has no committed snapshot"))
    if (to == from) return MvRefreshStats("noop", from, to, 0, 0, 0)

    val toPlan = IcebergFormat.plan(spark, basePath, Some(to))
    val fromPlanOpt =
      try Some(IcebergFormat.plan(spark, basePath, Some(from)))
      catch { case _: NoSuchElementException => None } // expired window

    val mode: String = fromPlanOpt match {
      case None => "full"
      case Some(fp) =>
        val fromPaths = fp.files.map(f => normStr(f.path.toString)).toSet
        val removed   = fromPaths -- toPlan.files.map(f => normStr(f.path.toString)).toSet
        val newDel = toPlan.deletes.filterNot(d =>
          fp.deletes.exists(o => normStr(o.path.toString) == normStr(d.path.toString)))
        if (removed.nonEmpty) "full" // rewrite/compaction window: not attributable
        else if (newDel.exists(_.content == 2)) "full" // equality deletes: rows need a base scan
        else if (newDel.nonEmpty && aggs.exists(a => a.fn == "min" || a.fn == "max"))
          "full" // min/max are not subtractable
        else if (newDel.nonEmpty) "retract" // parquet deletes AND deletion vectors
        else "append"
    }

    if (mode == "full") return fullRefresh(spark, mvLoc, mvPath, basePath, keys, aggs, from, to)

    val fp        = fromPlanOpt.get
    val fromPaths = fp.files.map(f => normStr(f.path.toString)).toSet
    val added     = toPlan.files.filterNot(f => fromPaths(normStr(f.path.toString)))
    val newDel = toPlan.deletes.filter(d => d.content == 1 &&
      !fp.deletes.exists(o => normStr(o.path.toString) == normStr(d.path.toString)))

    // ---- insert partials: rows of files added in the window, read raw.
    // No prior delete can touch them (position deletes require dataseq <=
    // delseq, equality deletes strictly-older — both false for new files).
    val inserts: Option[DataFrame] =
      if (added.isEmpty) None
      else Some(readRaw(spark, basePath, toPlan, added).withColumn("__sign", lit(1)))

    // ---- retraction partials: rows the NEW deletes target — parquet
    // position-delete rows AND deletion-vector bitmaps both contribute
    // (path, pos, delseq) pairs — minus rows an ALREADY-APPLIED delete
    // had removed before the window (a new DV is a MERGED SUPERSET of
    // the file's prior debt by the v3 contract, so the suppression
    // anti-join below is exactly what turns it back into a delta).
    var reopened    = 0
    var delFilesRead = 0
    val negatives: Option[DataFrame] =
      if (newDel.isEmpty) None
      else {
        val newParquet = newDel.filter(_.dvRef.isEmpty)
        val newDvs     = newDel.filter(_.dvRef.isDefined)
        val pairFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        if (newParquet.nonEmpty) {
          pairFrames += newParquet.groupBy(_.seq).map { case (seq, group) =>
            spark.read.schema(IcebergFormat.positionDeletesSchema)
              .parquet(group.map(_.path.toString): _*)
              .select(normCol(col("file_path")).as("__path"), col("pos").as("__pos"),
                lit(seq).as("__delseq"))
          }.reduce(_ unionAll _)
          delFilesRead += newParquet.size
        }
        if (newDvs.nonEmpty) {
          val newest = newDvs.groupBy(d => normStr(d.dvRef.get))
            .map { case (_, ds) => ds.maxBy(_.seq) }.toSeq
          val metas = newest.map(d =>
            (normStr(d.dvRef.get), d.seq, d.path.toString, d.dvOffset, d.dvSize))
          val rdd = spark.sparkContext
            .parallelize(metas, math.max(1, math.min(metas.size, 64)))
            .flatMap { case (f, dseq, blobPath, off, sz) =>
              val it = graft.icelite.DeletionVectors.readBitmap(blobPath, off, sz)
                .getLongIterator
              new Iterator[(String, Long, Long)] {
                override def hasNext: Boolean = it.hasNext
                override def next(): (String, Long, Long) = (f, it.next(), dseq)
              }
            }
          pairFrames += spark.createDataFrame(rdd).toDF("__path", "__pos", "__delseq")
          delFilesRead += newest.size
        }
        val newPairsRaw = pairFrames.reduce(_ unionAll _)
        // delete-debt-sized, consumed twice (the referenced-path collect
        // AND the retraction join) — materialize once (guide §5)
        val newPairs = newPairsRaw.groupBy("__path", "__pos")
          .agg(max("__delseq").as("__delseq"))
          .localCheckpoint()
        // data files the new deletes reference (bounded by the delete
        // files' own contents — never the whole base)
        val refPaths = newPairs.select("__path").distinct()
          .collect().map(_.getString(0)).toSet
        val refFiles = toPlan.files.filter(f => refPaths(normStr(f.path.toString)))
        reopened = refFiles.count(f => fromPaths(normStr(f.path.toString)))
        if (refFiles.isEmpty) None
        else {
          val seqDf = spark.createDataFrame(
            refFiles.map(f => (normStr(f.path.toString), f.seq))).toDF("__path", "__dataseq")
          val rows = readRaw(spark, basePath, toPlan, refFiles)
            .join(broadcast(seqDf), "__path")
            .join(broadcast(newPairs), Seq("__path", "__pos"))
            .filter(col("__dataseq") <= col("__delseq"))
          // prior deletes on the same files: those rows were never in the
          // view state at `from` — suppress them from the retraction.
          // Both shapes count: parquet position deletes AND deletion
          // vectors live at `from` (a DV applies to its referenced file
          // unconditionally — the file always predates its vector).
          val oldPos = fp.deletes.filter(d => d.content == 1 && d.dvRef.isEmpty)
          val oldDvs = fp.deletes.filter(d => d.content == 1 && d.dvRef.isDefined)
          val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
          if (oldPos.nonEmpty) {
            frames += oldPos.groupBy(_.seq).map { case (seq, group) =>
              spark.read.schema(IcebergFormat.positionDeletesSchema)
                .parquet(group.map(_.path.toString): _*)
                .select(normCol(col("file_path")).as("__op"), col("pos").as("__opos"),
                  lit(seq).as("__odelseq"))
            }.reduce(_ unionAll _)
            delFilesRead += oldPos.size
          }
          if (oldDvs.nonEmpty) {
            val newest = oldDvs.groupBy(d => normStr(d.dvRef.get))
              .map { case (_, ds) => ds.maxBy(_.seq) }.toSeq
            val metas = newest.map(d =>
              (normStr(d.dvRef.get), d.seq, d.path.toString, d.dvOffset, d.dvSize))
            val rdd = spark.sparkContext
              .parallelize(metas, math.max(1, math.min(metas.size, 64)))
              .flatMap { case (f, dseq, blobPath, off, sz) =>
                val it = graft.icelite.DeletionVectors.readBitmap(blobPath, off, sz)
                  .getLongIterator
                // Iterator has a legacy `seq: this.type` member — don't
                // name the captured sequence number `seq` in this scope
                new Iterator[(String, Long, Long)] {
                  override def hasNext: Boolean = it.hasNext
                  override def next(): (String, Long, Long) = (f, it.next(), dseq)
                }
              }
            frames += spark.createDataFrame(rdd).toDF("__op", "__opos", "__odelseq")
            delFilesRead += newest.size
          }
          val suppressed =
            if (frames.isEmpty) rows
            else rows.join(broadcast(frames.reduce(_ unionAll _)),
              col("__path") === col("__op") && col("__pos") === col("__opos") &&
                col("__dataseq") <= col("__odelseq"),
              "left_anti")
          Some(suppressed.withColumn("__sign", lit(-1)))
        }
      }

    val deltaOpt = (inserts, negatives) match {
      case (Some(a), Some(b)) =>
        Some(a.select((toPlan.schema.fieldNames :+ "__sign").map(col).toIndexedSeq: _*)
          .unionAll(b.select((toPlan.schema.fieldNames :+ "__sign").map(col).toIndexedSeq: _*)))
      case (Some(a), None) => Some(a)
      case (None, Some(b)) => Some(b)
      case _               => None
    }

    val w = IcebergFormat.resumeWriter(spark, mvLoc)
    w.setProperty(P_SNAP, to.toString)
    deltaOpt match {
      case None =>
        w.publishSchemaChange() // metadata-only: window added no rows
      case Some(delta) =>
        // group-sized, consumed twice in commitMerge (the eq-delete file
        // AND the merged data file) — materialize once so the delta scan +
        // aggregation doesn't re-run per consumer (guide §5)
        val partials = delta.groupBy(keys.map(col): _*)
          .agg(partialExprs(aggs).head, partialExprs(aggs).tail: _*)
          .localCheckpoint()
        commitMerge(spark, mvLoc, mvPath, keys, aggs, partials, w)
    }
    MvRefreshStats(mode, from, to, added.size, delFilesRead, reopened)
  }

  /** Merge `partials` (keyed deltas over affected groups) into the view:
    * combine with the view's current rows for those keys, then commit ONE
    * equality-delete file (retire every affected key) + data files (the
    * groups still alive) — the streaming-upsert shape, O(affected). */
  private def commitMerge(
      spark: SparkSession, mvLoc: String, mvPath: String,
      keys: Seq[String], aggs: Seq[MvAgg], partials: DataFrame,
      w: IcebergFormat.Writer): Unit = {
    val mv       = IcebergFormat.scan(spark, mvPath)
    val stored   = mv.schema
    val d        = partials.alias("d")
    val m        = mv.alias("m")
    val joinCond = keys.map(k => col(s"d.$k") <=> col(s"m.$k")).reduce(_ && _)
    val joined   = d.join(m, joinCond, "left")

    val minMax = aggs.collect { case a if a.fn == "min" => a.as -> "min"
                                case a if a.fn == "max" => a.as -> "max" }.toMap
    val combinedCols: Seq[Column] = stored.fields.toSeq.map { f =>
      if (keys.contains(f.name)) col(s"d.${f.name}").as(f.name)
      else minMax.get(f.name) match {
        case Some("min") =>
          when(col(s"m.${f.name}").isNull, col(s"d.${f.name}"))
            .when(col(s"d.${f.name}").isNull, col(s"m.${f.name}"))
            .otherwise(least(col(s"m.${f.name}"), col(s"d.${f.name}")))
            .cast(f.dataType).as(f.name)
        case Some(_) =>
          when(col(s"m.${f.name}").isNull, col(s"d.${f.name}"))
            .when(col(s"d.${f.name}").isNull, col(s"m.${f.name}"))
            .otherwise(greatest(col(s"m.${f.name}"), col(s"d.${f.name}")))
            .cast(f.dataType).as(f.name)
        case None => // additive: counts, sums, nn pairs, __mv_rows
          (coalesce(col(s"m.${f.name}"), lit(0)) + coalesce(col(s"d.${f.name}"), lit(0)))
            .cast(f.dataType).as(f.name)
      }
    }
    val combined = joined.select(combinedCols: _*)
    val alive    = combined.filter(col(RowsCol) > 0)

    val affected = partials.select(keys.map(k =>
      col(k).cast(stored(k).dataType).as(k)): _*)
    val ver = IcebergFormat.snapshotLog(spark, mvPath).size + 1
    val eqDel = IcebergFormat.writeSingleFile(
      spark, mvLoc, f"mv-del-$ver%08d", affected,
      content = 2, equalityIds = 1 to keys.size)
    val dataFiles = writeDataFiles(spark, mvLoc, f"mv-$ver%08d", alive, 1)
    w.commit(eqDel +: dataFiles)
  }

  /** The honest fallback: recompute the whole view from the base at `to`,
    * retire every existing key, write the new state. */
  private def fullRefresh(
      spark: SparkSession, mvLoc: String, mvPath: String, basePath: String,
      keys: Seq[String], aggs: Seq[MvAgg], from: Long, to: Long): MvRefreshStats = {
    val baseDf = IcebergFormat.scan(spark, basePath)
    // aggregate-sized, consumed twice below (the retired-key union AND the
    // rewritten data file) — materialize once so the full base scan +
    // aggregation runs once per fallback, not per consumer (guide §5)
    val fresh = baseDf.groupBy(keys.map(col): _*)
      .agg(createExprs(aggs).head, createExprs(aggs).tail: _*)
      .localCheckpoint()
    val mv     = IcebergFormat.scan(spark, mvPath)
    val stored = mv.schema
    // retire every key currently OR previously present (old ∪ new covers
    // vanished groups); cast the fresh state into the stored layout
    def keyCols(df: DataFrame) = df.select(keys.map(k =>
      col(k).cast(stored(k).dataType).as(k)): _*)
    val allKeys = keyCols(mv).unionAll(keyCols(fresh)).distinct()
    val casted = fresh.select(stored.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val w   = IcebergFormat.resumeWriter(spark, mvLoc)
    w.setProperty(P_SNAP, to.toString)
    val ver = IcebergFormat.snapshotLog(spark, mvPath).size + 1
    val eqDel = IcebergFormat.writeSingleFile(
      spark, mvLoc, f"mv-del-$ver%08d", allKeys,
      content = 2, equalityIds = 1 to keys.size)
    val dataFiles = writeDataFiles(spark, mvLoc, f"mv-$ver%08d", casted, 1)
    w.commit(eqDel +: dataFiles)
    val toPlan = IcebergFormat.plan(spark, basePath, Some(to))
    MvRefreshStats("full", from, to, toPlan.files.size,
      toPlan.deletes.size, 0)
  }
}
