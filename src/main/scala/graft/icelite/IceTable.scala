package graft.icelite

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A snapshot-versioned parquet table (the IceLite format):
  *
  * {{{
  * <location>/
  *   data/snap-<id>-<uuid>/part-*.parquet       // files of one commit
  *   metadata/manifests/m-<id>-<uuid>/part-*.json // file list + stats of one commit
  *   metadata/v<N>.json                          // TableMetadata versions
  *   metadata/version-hint.text                  // latest N (a hint: MetadataFiles)
  * }}}
  *
  * Commit protocol (SURVEY.md §7.5): executors write parquet data files
  * first, then the commit stages its manifests (per-file stats, JSON
  * lines); the driver then publishes `v<N>.json` — holding only the
  * snapshot log with manifest POINTERS, so its size is O(commits), not
  * O(files) — by compare-and-swap, finally updating the version hint
  * (best-effort: readers walk forward from a stale hint). Readers resolve
  * the hint (or highest vN) and plan from the snapshot's manifests — so a
  * reader never observes a half-committed version.
  *
  * Every committing method goes through ONE primitive, [[commit]], which
  * runs the commit loop both table formats share, [[MetadataFiles.commit]].
  * Each attempt reads the current version and its metadata once, resolves
  * the base snapshot (a branch head, or main), and calls the operation's
  * build function, which validates and returns the change: a new snapshot
  * (the primitive numbers it and advances the branch or main), new
  * metadata, or "already applied" for a replayed commit token. The loop
  * then publishes `v<N+1>.json` if it is absent. Data commits rebase on a
  * lost race and retry, up to the loop's bound on attempts; metadata-only
  * operations (rollback, refs, schema evolution, cherry-pick, expire) make
  * one attempt and fail loudly, because their change was computed from a
  * version that is no longer current. The abort rule is the loop's: the
  * manifests a commit staged are deleted only when it is known not to
  * have published — its build function threw, or every attempt lost (a
  * lost attempt's own manifests go at once). An exception from the
  * version-file publish itself deletes nothing — the version may have
  * landed.
  *
  * What the protocol needs from the store, and the version-file CAS,
  * hint and resolver that provide it, live in [[MetadataFiles]] too.
  *
  * Every scan (`scan`, time travel, `scanRange`, `scanIncremental`, the
  * copy-on-write reads of `deleteRange`/`merge`, `scanMetadataFile`) is a
  * DataFrame over the DataSource V2 connector's table
  * ([[graft.sources.IceLiteV2Table]]) pinned to one resolved metadata
  * version and snapshot, and optionally to a pruned subset of its files —
  * the same scan a SQL read plans, so both read a table the same way:
  * manifest file skipping for pushed filters, partition values from each
  * file's own path, position deletes applied per file, metadata-only
  * COUNT(*), Spark's parquet reader underneath.
  */
final class IceTable private (val spark: SparkSession, val location: Path) {

  private def fs: FileSystem = location.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def metadataDir = new Path(location, "metadata")

  // ------------------------------------------------------------- metadata io

  private def versionFile(v: Int): Path = new Path(metadataDir, IceTable.versionName(v))

  /** Latest committed version (0 for none), resolved by [[MetadataFiles]]. */
  def currentVersion: Int = MetadataFiles.currentVersion(fs, metadataDir, IceTable.versionName)

  def metadata: TableMetadata = metadataAt(currentVersion)

  def metadataAt(version: Int): TableMetadata =
    TableMetadata.fromJson(MetadataFiles.read(fs, versionFile(version)))

  def metadataLocation: String = versionFile(currentVersion).toString

  /** One commit attempt as a build function sees it: the metadata read at
    * the attempt's version and the base snapshot (the branch head, or
    * main's). A manifest the build writes goes through [[stage]], so an
    * aborted commit reclaims it. */
  private final class Attempt(
      val md: TableMetadata, val base: Option[Snapshot], staged: MetadataFiles.Staged) {
    def stage(prefix: String, entries: Seq[ManifestEntry]): String = {
      val rel = stageManifest(prefix, entries)
      staged += new Path(location, rel)
      rel
    }
  }

  /** The one commit primitive (see the class header). `build` returns
    * the attempt's change or throws when a validation fails; `rebase`
    * retries a lost race on the winner's metadata, otherwise the first
    * lost race fails loudly. `ref` names the branch a snapshot commits to
    * (None = main). `staged` are the manifests written for this commit
    * before it started, deleted with the build's own if it does not
    * publish. Returns the table's metadata after the commit. */
  private def commit(what: String, rebase: Boolean, ref: Option[String], staged: Seq[String])(
      build: Attempt => IceTable.Change): TableMetadata = {
    def read() = { val v = currentVersion; MetadataFiles.Versioned(v, metadataAt(v)) }
    MetadataFiles.commit(fs, metadataDir, IceTable.versionName, s"$what commit to $location",
        (md: TableMetadata) => md.toJson, staged.map(new Path(location, _)))(
        read(), if (rebase) Some(() => read()) else None) { (b, files) =>
      val md = b.value
      val base = ref match {
        case Some(r) =>
          val info = md.refMap.getOrElse(r, throw new NoSuchElementException(s"no ref $r"))
          require(info.ref_type == "branch", s"ref $r is a tag — tags are immutable")
          md.snapshot(info.snapshot_id)
        case None => md.currentSnapshot
      }
      build(new Attempt(md, base, files)) match {
        case IceTable.AlreadyApplied => None
        case IceTable.NewMetadata(m) => Some(m)
        case IceTable.NewSnapshot(m, draft) =>
          val id   = IceTable.nextSnapshotId(m)
          val snap = draft.copy(snapshot_id = id, timestamp_ms = System.currentTimeMillis(),
            parent_snapshot_id = base.map(_.snapshot_id))
          val withSnap = m.copy(snapshots = m.snapshots :+ snap)
          Some(ref match {
            case Some(r) => withSnap.copy(refs = Some(m.refMap + (r -> RefInfo(id, "branch"))))
            case None    => withSnap.copy(current_snapshot_id = id)
          })
      }
    }.value
  }

  /** One-attempt [[commit]] of a metadata-only change built from the
    * current metadata. */
  private def commitMetadata(what: String)(build: TableMetadata => IceTable.Change): TableMetadata =
    commit(what, rebase = false, None, Nil)(a => build(a.md))

  /** Stage `entries` (in the given order) as a new manifest directory;
    * returns its path relative to the table location. */
  private def stageManifest(prefix: String, entries: Seq[ManifestEntry]): String = {
    val rel = s"metadata/manifests/$prefix-${java.util.UUID.randomUUID().toString.take(8)}"
    val part = new Path(location, s"$rel/part-0.json")
    fs.mkdirs(part.getParent)
    require(MetadataFiles.publishIfAbsent(fs, part, entries.map(_.toJson).mkString("\n")),
      s"manifest $part already exists")
    rel
  }

  /** `sn`'s manifests with their summaries (empty when unrecorded). */
  private def summarized(sn: Snapshot): Seq[(String, Map[String, ColRange])] =
    sn.manifests.zipWithIndex.map { case (m, i) => m -> sn.summaryAt(i).getOrElse(Map.empty) }

  /** Manifest-granular carry of `sn` without the `removed` files: a
    * manifest holding none of them carries by POINTER with its summary
    * (zero IO); one holding some is rewritten without them; one holding
    * only removed files is dropped — so a rewrite's commit cost tracks
    * its blast radius, never table size. */
  private def carryWithout(sn: Snapshot, removed: Set[String], a: Attempt)
      : Seq[(String, Map[String, ColRange])] =
    summarized(sn).flatMap { case (m, summary) =>
      val entries = readManifest(m)
      if (!entries.exists(e => removed(e.file))) Some(m -> summary)
      else {
        val remaining = entries.filterNot(e => removed(e.file))
        if (remaining.isEmpty) None
        else Some(a.stage("m-rw", remaining) -> summarize(a.md.schema, remaining))
      }
    }

  // ------------------------------------------------------------------ writes

  /** Append `df` as a new snapshot (reference `table.append`). */
  def append(df: DataFrame): IceTable = appendInternal(df, replace = false)

  /** Idempotent append: a no-op if a snapshot already carries `token`.
    * The streaming-sink commit protocol — `foreachBatch` retries and
    * replayed batches (at-least-once sources) pass their batch id as the
    * token, and the table absorbs them exactly once. Same trick Iceberg's
    * Spark streaming writer plays with batch-id properties. */
  def appendOnce(df: DataFrame, token: String): IceTable =
    if (metadata.knownTokens.contains(token)) this
    else appendInternal(df, replace = false, token = Some(token))

  /** Replace table contents with `df` (drop-and-recreate semantics). */
  def replace(df: DataFrame): IceTable = appendInternal(df, replace = true)

  /** Write `df` as new data files and commit a snapshot.
    * `replace=false` carries the base snapshot's manifests forward by
    * pointer; `replace=true` keeps only what `carry` keeps (None = full
    * replace) — which is how manifest-granular rewrites keep untouched
    * data by reference instead of copying it. The commit payload
    * is O(delta): one new manifest for the just-written files plus one
    * snapshot entry of manifest pointers — never the table's file list. */
  private def appendInternal(
      df: DataFrame,
      replace: Boolean,
      operation: String = "",
      // replace only: keep this snapshot's manifests minus these files
      // (manifest-granular, see carryWithout); None = full replace
      carry: Option[(Snapshot, Set[String])] = None,
      ref: Option[String] = None,
      token: Option[String] = None,
      // declared when the caller WROTE df under a sort order (sorted/
      // z-order compaction): the order registers in table metadata, the
      // files' manifest entries claim its id, and it becomes the default
      sortOrder: Option[List[SortFieldInfo]] = None): IceTable = {
    val md0 = metadata
    // the data + manifest write happens ONCE, off any commit race: the
    // files are immutable and addressed by a UUID-suffixed dir, so a
    // rebased commit attempt re-points at the same delta unchanged
    val snapId0 = IceTable.nextSnapshotId(md0)
    val dataRel = s"data/snap-$snapId0-${java.util.UUID.randomUUID().toString.take(8)}"
    val dataDir = new Path(location, dataRel)
    val parts   = md0.partitionCols
    // stamp parquet field ids (TableMetadata.stampedSchema is the single
    // id rule) so every data file is resolvable by id after a rename/drop
    // evolution; purely additive for name-based readers. The df's own
    // column ORDER is preserved — only metadata is attached.
    val stampedOf = md0.stampedSchema.fields.map(f => f.name -> f.metadata).toMap
    val stamped = df.select(df.schema.fields.map { f =>
      stampedOf.get(f.name)
        .map(m => org.apache.spark.sql.functions.col(f.name).as(f.name, m))
        .getOrElse(org.apache.spark.sql.functions.col(f.name))
    }.toIndexedSeq: _*)
    if (parts.isEmpty) stamped.write.parquet(dataDir.toString)
    else stamped.write.partitionBy(parts: _*).parquet(dataDir.toString)
    val (files, fileSizes) = {
      val it  = fs.listFiles(dataDir, true) // recursive: partition subdirs
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet"))
          buf += ((relativize(st.getPath.toString, dataRel), st.getLen))
      }
      val sorted = buf.sortBy(_._1).toIndexedSeq
      (sorted.map(_._1), sorted.toMap)
    }
    // sort-order id resolved against the pre-write metadata; each commit
    // attempt re-resolves on its own metadata and restages the (O(delta),
    // driver-cached) manifest in the rare case a racing commit claimed
    // the id first
    val stampId = sortOrder.map(f => resolveSortOrder(md0, f)._1)
    val newManifest = stageManifest(s"m-$snapId0",
      manifestEntries(md0.schema, dataDir, dataRel, files, fileSizes, parts.toSet, stampId))
    // the new manifest's summary folds its per-file stats (the delta was
    // just written, so this driver read is O(delta) and warms the cache)
    val newSummary = summarize(md0.schema, readManifest(newManifest))

    // rebase-and-retry: two concurrent appends BOTH land — the loser
    // rebuilds its snapshot on the winner's metadata (new snapshot id,
    // winner's manifests carried) and retries at the next version
    // (Iceberg's optimistic-concurrency protocol; the REST path does the
    // same server-side at RestCatalog.scala:327)
    val op = if (operation.nonEmpty) operation else if (replace) "replace" else "append"
    commit(op, rebase = true, ref, Seq(newManifest)) { a =>
      // idempotency re-check on the rebased state: the racing winner may
      // have been a retry of this very token
      if (token.exists(a.md.knownTokens.contains)) IceTable.AlreadyApplied
      else {
        val base =
          if (replace) carry.toSeq.flatMap { case (sn, removed) => carryWithout(sn, removed, a) }
          else a.base.toSeq.flatMap(summarized)
        val (md, manifest) = sortOrder match {
          case Some(f) =>
            val (oid, ordered) = resolveSortOrder(a.md, f)
            (ordered,
              if (stampId.contains(oid)) newManifest
              else a.stage(s"m-${IceTable.nextSnapshotId(a.md)}",
                readManifest(newManifest).map(_.copy(sortOrderId = Some(oid)))))
          case None => (a.md, newManifest)
        }
        IceTable.NewSnapshot(md, IceTable.draft(op, base :+ (manifest -> newSummary),
          carriedDeletes(a.base, base.nonEmpty), token))
      }
    }
    this
  }

  /** Commit already-staged data files (the DataSource V2 write path:
    * executors wrote the parquet + collected stats themselves, so the
    * commit is pure metadata — one manifest write + the same CAS
    * rebase-and-retry commit appends use). `entries` carry paths RELATIVE
    * to the table location plus per-file stats/rows from the writers. */
  private[graft] def commitStagedEntries(
      entries: Seq[ManifestEntry],
      replace: Boolean,
      token: Option[String] = None,
      // write-audit-publish: commit onto a BRANCH head instead of main
      // (the `graft.wap.branch` SQL surface); plain appends only
      ref: Option[String] = None): IceTable = {
    require(ref.isEmpty || !replace, "branch (WAP) writes support appends only")
    val md0 = metadata
    // idempotency (streaming epochs): a replayed commit is a no-op
    if (token.exists(md0.knownTokens.contains)) return this
    val newSummary = summarize(md0.schema, entries)
    val rel        = stageManifest("m-w", entries)
    val op         = if (replace) "replace" else "append"
    commit(op, rebase = true, ref, Seq(rel)) { a =>
      if (token.exists(a.md.knownTokens.contains)) IceTable.AlreadyApplied // raced replay
      else {
        // WAP: the base is the branch head and the branch pointer advances
        // — main is untouched until fast_forward publishes
        val base = if (replace) Nil else a.base.toSeq.flatMap(summarized)
        IceTable.NewSnapshot(a.md, IceTable.draft(op, base :+ (rel -> newSummary),
          carriedDeletes(a.base, base.nonEmpty), token))
      }
    }
    this
  }

  /** METADATA-ONLY DELETE planning: classify every current data file
    * against a pushed filter conjunction as all-match (droppable), no-match
    * (carried untouched) or mixed. Returns the droppable set, or None if
    * ANY file is mixed / any filter unsupported — the caller (the V2
    * table's `SupportsDelete.canDeleteWhere`) then refuses, and Spark
    * falls back to the row-level copy-on-write rewrite. Soundness rules:
    *  - no-match claims use min/max alone (a NULL never satisfies a
    *    comparison, so an out-of-range file truly has no matching row);
    *  - all-match claims additionally need a NO-NULLS guarantee for the
    *    column, because min/max ignore nulls: the field is declared
    *    required, or it is a hive partition column with recorded stats
    *    (one uniform non-null value per file by construction).
    * At 100 TB this is Iceberg's partition-aligned DELETE: dropping a
    * day's files is an O(manifests) metadata commit, zero data IO.
    *
    * Known trade: string bounds are truncate(16)-truncated (spec
    * semantics), so a NON-partition string column uniform per file with
    * values longer than 16 code points no longer presents lo == hi — its
    * files classify MIXED and `DELETE WHERE c = v` falls back to
    * copy-on-write. Partition columns are exempt from truncation exactly
    * to keep this path (their stats are one uniform value by
    * construction); the common metadata-DELETE keys — partitions,
    * numerics, short ids — are unaffected. Accepted: the alternative is
    * document-sized bound strings in every manifest entry. */
  private[graft] def metadataDeletePlan(
      filters: Seq[org.apache.spark.sql.sources.Filter]): Option[Set[String]] = {
    import org.apache.spark.sql.sources._
    val md   = metadata
    val snap = md.currentSnapshot.getOrElse(return Some(Set.empty))
    val fieldOf  = md.schema.fields.map(f => f.name -> f).toMap
    val ALL = 1; val NONE = 0; val MIXED = -1

    // partition-column evidence (one uniform non-null value per file "by
    // construction") holds only for files WRITTEN under a layout where c
    // was a partition column — after evolvePartitioning older files
    // predate the layout and their stats are ordinary (possibly
    // null-skipping) bounds. A file's own hive path is the era witness:
    // partition-era files live under a c=value directory.
    var partSet = Set.empty[String]

    // stats under a RETIRED name (dropped/renamed-away column) must never
    // serve as evidence for a same-named successor column — unless the
    // file postdates the retirement watermark (era-scoped trust, same
    // rule as planFilesBounds)
    val retiredW = md.retiredWatermarks
    var entrySnap: Option[Long] = None // set per file in the walk below
    def trusted(c: String): Boolean =
      retiredW.get(c).forall(w => entrySnap.exists(_ > w))

    // a partition column's recorded VALUE (a null partition records none)
    def partValue(c: String, stats: Map[String, ColRange]): Boolean =
      partSet(c) && stats.get(c).exists(_.min.isDefined)

    def noNulls(c: String, stats: Map[String, ColRange]): Boolean =
      fieldOf.get(c).exists(!_.nullable) || partValue(c, stats)

    /** A hive NULL-partition file: the partition value is uniformly NULL
      * (no value recorded for a col whose type WOULD have one), so every
      * comparison predicate on it is false for every row. */
    def isNullPartFile(c: String, stats: Map[String, ColRange]): Boolean =
      partSet(c) && !partValue(c, stats) &&
        fieldOf.get(c).exists(f => BoundOrder.rangeable(f.dataType))

    def range(c: String, stats: Map[String, ColRange]): Option[(String, String, (String, String) => Int)] =
      for {
        f  <- fieldOf.get(c)
        if trusted(c)
        r  <- stats.get(c)
        (lo, hi) <- BoundOrder.usable(f.dataType, r)
      } yield (lo, hi, BoundOrder.of(f.dataType))

    def eval(f: Filter, stats: Map[String, ColRange]): Int = f match {
      case And(l, r) =>
        (eval(l, stats), eval(r, stats)) match {
          case (NONE, _) | (_, NONE) => NONE
          case (ALL, ALL)            => ALL
          case _                     => MIXED
        }
      case Or(l, r) =>
        (eval(l, stats), eval(r, stats)) match {
          case (ALL, _) | (_, ALL) => ALL
          case (NONE, NONE)        => NONE
          case _                   => MIXED
        }
      // null-safe equality (what static PARTITION (c = v) overwrites
      // produce): for a non-null literal it matches exactly like EqualTo
      // (NULL <=> v is false); a null literal matches exactly the
      // null-partition file and provably misses no-nulls files
      case EqualNullSafe(c, v) if v != null => eval(EqualTo(c, v), stats)
      case EqualNullSafe(c, _) =>
        if (isNullPartFile(c, stats)) ALL
        else if (noNulls(c, stats)) NONE
        else MIXED
      // a NULL literal in a comparison is never true in SQL (unknown), so
      // it provably matches NO row of any file — and must not reach the
      // String.valueOf below, where it would become the string "null"
      // (NumberFormatException in BoundOrder on numeric columns, and a
      // false match on a string column whose value is literally "null")
      case EqualTo(_, null) => NONE
      case GreaterThan(_, null) | GreaterThanOrEqual(_, null) => NONE
      case LessThan(_, null) | LessThanOrEqual(_, null) => NONE
      case In(c, vs) if vs != null && vs.contains(null) =>
        val nonNull = vs.filter(_ != null)
        if (nonNull.isEmpty) NONE else eval(In(c, nonNull), stats)
      case EqualTo(c, v) if isNullPartFile(c, stats) => NONE
      case EqualTo(c, v) => range(c, stats) match {
        case Some((lo, hi, cmp)) =>
          val s = String.valueOf(v)
          if (cmp(s, lo) < 0 || cmp(s, hi) > 0) NONE
          else if (cmp(lo, hi) == 0 && cmp(s, lo) == 0 && noNulls(c, stats)) ALL
          else MIXED
        case None => MIXED
      }
      case In(c, vs) if isNullPartFile(c, stats) => NONE
      case In(c, vs) => range(c, stats) match {
        case Some((lo, hi, cmp)) =>
          val ss = vs.map(String.valueOf)
          if (ss.forall(s => cmp(s, lo) < 0 || cmp(s, hi) > 0)) NONE
          else if (cmp(lo, hi) == 0 && ss.exists(cmp(_, lo) == 0) && noNulls(c, stats)) ALL
          else MIXED
        case None => MIXED
      }
      case GreaterThan(c, v) if isNullPartFile(c, stats) => NONE
      case GreaterThan(c, v) => range(c, stats) match {
        case Some((lo, hi, cmp)) =>
          val s = String.valueOf(v)
          if (cmp(hi, s) <= 0) NONE
          else if (cmp(lo, s) > 0 && noNulls(c, stats)) ALL
          else MIXED
        case None => MIXED
      }
      case GreaterThanOrEqual(c, v) if isNullPartFile(c, stats) => NONE
      case GreaterThanOrEqual(c, v) => range(c, stats) match {
        case Some((lo, hi, cmp)) =>
          val s = String.valueOf(v)
          if (cmp(hi, s) < 0) NONE
          else if (cmp(lo, s) >= 0 && noNulls(c, stats)) ALL
          else MIXED
        case None => MIXED
      }
      case LessThan(c, v) if isNullPartFile(c, stats) => NONE
      case LessThan(c, v) => range(c, stats) match {
        case Some((lo, hi, cmp)) =>
          val s = String.valueOf(v)
          if (cmp(lo, s) >= 0) NONE
          else if (cmp(hi, s) < 0 && noNulls(c, stats)) ALL
          else MIXED
        case None => MIXED
      }
      case LessThanOrEqual(c, v) if isNullPartFile(c, stats) => NONE
      case LessThanOrEqual(c, v) => range(c, stats) match {
        case Some((lo, hi, cmp)) =>
          val s = String.valueOf(v)
          if (cmp(lo, s) > 0) NONE
          else if (cmp(hi, s) <= 0 && noNulls(c, stats)) ALL
          else MIXED
        case None => MIXED
      }
      case IsNotNull(c) =>
        if (isNullPartFile(c, stats)) NONE
        else if (noNulls(c, stats)) ALL
        else MIXED
      case AlwaysTrue() => ALL
      case _ => MIXED
    }

    val declaredParts = md.partitionCols.toSet
    val removable = Set.newBuilder[String]
    for (m <- snap.manifests; e <- readManifest(m)) {
      if (!e.rows.contains(0L)) { // a zero-row file has nothing to classify
        val stats = e.stats.getOrElse(Map.empty)
        // era witness: only columns materialized as k=v dirs in THIS
        // file's path carry partition-uniformity evidence
        partSet = declaredParts.filter(c => e.file.contains(s"/$c="))
        entrySnap = IceTable.fileSnapId(e.file)
        // the conjunction of all pushed filters, evaluated per file
        val verdicts = filters.map(eval(_, stats))
        if (verdicts.contains(MIXED)) return None
        if (!verdicts.contains(NONE)) removable += e.file
      }
    }
    Some(removable.result())
  }

  /** Commit for group-based (copy-on-write) ROW-LEVEL SQL operations
    * (`DELETE FROM` / `UPDATE` / `MERGE INTO` through the V2 connector):
    * the row-level scan read exactly `removed` (the affected file set —
    * files that MAY contain matching rows, after manifest min/max
    * pruning), executors staged the surviving+new rows as `entries`, and
    * this commit atomically swaps the two. Manifest-granular carry
    * ([[carryWithout]]): a manifest touching no removed file carries by
    * POINTER (zero IO); a partially-affected one is rewritten minus the
    * removed entries — so commit cost tracks the operation's blast
    * radius, never table size. Rebase-and-retry like every other commit:
    * a racing APPEND's new manifests carry straight through (they cannot
    * reference `removed`, which existed before the scan). */
  private[graft] def commitReplaceScanned(
      removed: Set[String],
      entries: Seq[ManifestEntry],
      operation: String): IceTable = {
    val md0 = metadata
    val newManifest =
      if (entries.isEmpty) None
      else Some(stageManifest("m-rl", entries) -> summarize(md0.schema, entries))
    commit(operation, rebase = true, None, newManifest.map(_._1).toSeq) { a =>
      val carried = a.base.toSeq.flatMap(carryWithout(_, removed, a))
      IceTable.NewSnapshot(a.md, IceTable.draft(operation, carried ++ newManifest,
        carriedDeletes(a.base, carried.nonEmpty), None))
    }
    this
  }

  /** `data/snap-N-x` prefix of a snapshot-relative file path. */
  private def snapDirOf(relPath: String): String = relPath.split('/').take(2).mkString("/")

  /** Path string -> path relative to the table location, anchored at the
    * snapshot data dir (`dataRel`), robust to scheme prefixes and hive
    * partition subdirectories. */
  private def relativize(full: String, dataRel: String): String = {
    val i = full.indexOf(dataRel)
    require(i >= 0, s"path $full not under $dataRel")
    full.substring(i)
  }

  /** The commit manifest's entries for just-written `files`, sorted by
    * path: per-file min/max of every rangeable column (the stats Iceberg
    * keeps per data file) plus row counts.
    *
    * The stats come from the just-written files' PARQUET FOOTERS (round
    * 18, guide §1.2/§6): the writer already computed exact min/max/row
    * counts per column chunk while writing, so re-scanning the data to
    * recompute them paid a full second read of every committed byte —
    * measured 0.8–1.0 s per 600 k-row commit at sf0.1 vs ~15 ms of footer
    * reads, and at 100 TB it is the difference between writing the data
    * once and writing-then-rereading it. Footer stats are exact for
    * int/long/float/double and full (untruncated) for strings up to the
    * parquet 4 KB stats cap; the string bounds then pass through the same
    * truncate(16) rule as before. Partition-column values parse from the
    * hive directory layout (same unescaping as Spark's partition
    * discovery). Whenever ANY footer lacks a usable stat (dropped >4 KB
    * string stats, NaN/-0.0 float edge cases, unexpected layout), the
    * whole commit falls back to the previous behavior — one distributed
    * scan over the snapshot dir — so the manifest content is identical
    * either way (`graft.manifest.stats=scan` forces the old path;
    * ManifestStatsSpec diffs the two on every shape). */
  private def manifestEntries(
      schema: org.apache.spark.sql.types.StructType,
      dataDir: Path,
      dataRel: String,
      files: Seq[String],
      fileSizes: Map[String, Long],
      // string columns whose bounds stay FULL: partition columns (their
      // min=max IS the partition value — exactness feeds metadata deletes)
      // and a position-delete manifest's file_path (delete-applies-to-file
      // pruning is useless on truncated paths; Iceberg keeps full metrics
      // there too)
      exactCols: Set[String],
      // registered sort-order id the files were written under (None =
      // unsorted); rides each manifest entry as `sortOrderId`
      sortOrderId: Option[Int]): Seq[ManifestEntry] = {
    val cols = schema.fields.filter(f => BoundOrder.rangeable(f.dataType)).map(_.name)
    val entries: Seq[ManifestEntry] =
      if (files.isEmpty) Seq.empty
      else {
        val useFooter =
          spark.conf.getOption("graft.manifest.stats").forall(_ != "scan")
        val viaFooter =
          if (useFooter)
            footerManifestEntries(schema, files, fileSizes, exactCols, cols, dataRel)
          else None
        viaFooter match {
          case Some(es) => IceTable.footerStatsCommits.incrementAndGet(); es
          case None =>
            IceTable.scanStatsCommits.incrementAndGet()
            scanManifestEntries(schema, dataDir, dataRel, files, fileSizes, exactCols, cols)
        }
      }
    val stamped = sortOrderId match {
      case Some(id) => entries.map(_.copy(sortOrderId = Some(id)))
      case None     => entries
    }
    stamped.sortBy(_.file)
  }

  /** Per-file manifest entries straight from the parquet footers the write
    * just produced — driver-side, O(files) small reads, zero data IO.
    * Returns None (-> caller falls back to the distributed scan) when any
    * stat the manifest needs is not recoverable from a footer with the
    * EXACT same value the scan would compute. */
  private def footerManifestEntries(
      schema: org.apache.spark.sql.types.StructType,
      files: Seq[String],
      fileSizes: Map[String, Long],
      exactCols: Set[String],
      cols: Seq[String],
      dataRel: String): Option[Seq[ManifestEntry]] = {
    import org.apache.spark.sql.types._
    val typeOf = schema.fields.map(f => f.name -> f.dataType).toMap
    val conf   = spark.sparkContext.hadoopConfiguration

    // hive `k=v` partition segments between the snapshot dir and the file
    // name; values unescaped exactly as Spark's partition discovery does
    def partValuesOf(relFile: String): Map[String, Option[String]] =
      relFile.stripPrefix(dataRel).stripPrefix("/").split('/').dropRight(1)
        .iterator.flatMap { seg =>
          val i = seg.indexOf('=')
          if (i <= 0) None
          else {
            val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(seg.substring(i + 1))
            Some(seg.substring(0, i) ->
              (if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(v)))
          }
        }.toMap

    // format a footer-typed min/max as the string `cast(col as string)`
    // yields (Spark's primitive casts are Java toString); None = this
    // value cannot be trusted to round-trip (NaN, -0.0) -> fall back
    def fmt(dt: DataType, v: Any): Option[String] = dt match {
      case IntegerType => Some(v.asInstanceOf[Number].intValue.toString)
      case LongType    => Some(v.asInstanceOf[Number].longValue.toString)
      // an exact-zero float/double bound is ambiguous: parquet-mr
      // normalizes bounds across the ±0.0 pair (PARQUET-1225: min +0.0 is
      // stored as -0.0, max -0.0 as +0.0), so the true data min/max string
      // ("0.0" vs "-0.0") cannot be recovered — fall back to the scan
      case FloatType =>
        val f = v.asInstanceOf[Float]
        if (f.isNaN || f == 0.0f) None else Some(f.toString)
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d.isNaN || d == 0.0d) None else Some(d.toString)
      case StringType =>
        Some(v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
      case _ => None
    }
    def lt(dt: DataType, a: Any, b: Any): Boolean = dt match {
      case IntegerType => a.asInstanceOf[Int] < b.asInstanceOf[Int]
      case LongType    => a.asInstanceOf[Long] < b.asInstanceOf[Long]
      case FloatType   => a.asInstanceOf[Float] < b.asInstanceOf[Float]
      case DoubleType  => a.asInstanceOf[Double] < b.asInstanceOf[Double]
      case StringType => // unsigned byte order = UTF8String/parquet UTF8 order
        val x = a.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
        val y = b.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
        var i = 0
        while (i < x.length && i < y.length) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c < 0
          i += 1
        }
        x.length < y.length
      case _ => false
    }

    def entryOf(relFile: String): Option[ManifestEntry] = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import scala.jdk.CollectionConverters._
      val fr = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(location, relFile), conf))
      try {
        val blocks = fr.getFooter.getBlocks.asScala.toSeq
        val rows   = blocks.map(_.getRowCount).sum
        val size   = fileSizes.get(relFile).filter(_ > 0)
        if (rows == 0L)
          return Some(ManifestEntry(relFile, None, Some(0L), size))
        if (cols.isEmpty)
          return Some(ManifestEntry(relFile, None, Some(rows), size))
        val partVals = partValuesOf(relFile)
        // per flat data column: (min, max) folded over row groups, or
        // all-null, or unknown (-> abort this file, caller falls back)
        val chunkStats = scala.collection.mutable.Map
          .empty[String, (Option[(Any, Any)], Long)] // (bounds, numNulls seen)
        blocks.foreach(_.getColumns.asScala.foreach { c =>
          val path = c.getPath.toArray
          if (path.length == 1 && typeOf.contains(path(0))) {
            val name = path(0)
            val st   = c.getStatistics
            val prev = chunkStats.getOrElse(name, (None, 0L))
            if (st == null) { chunkStats(name) = (None, -1L); return None }
            val nn =
              if (!st.isNumNullsSet) -1L
              else if (prev._2 < 0) -1L
              else prev._2 + st.getNumNulls
            val merged: Option[(Any, Any)] =
              if (!st.hasNonNullValue) prev._1
              else {
                val dt = typeOf(name)
                val (mn, mx) = (st.genericGetMin, st.genericGetMax)
                prev._1 match {
                  case None => Some((mn, mx))
                  case Some((pmn, pmx)) => Some((
                    if (lt(dt, mn, pmn)) mn else pmn,
                    if (lt(dt, pmx, mx)) mx else pmx))
                }
              }
            chunkStats(name) = (merged, nn)
          }
        })
        val strCols = schema.fields.collect {
          case f if f.dataType == StringType => f.name
        }.toSet
        val stats = scala.collection.immutable.ListMap(cols.flatMap { c =>
          partVals.get(c) match {
            case Some(Some(v)) => Some(c -> ColRange(Some(v), Some(v)))
            case Some(None)    => Some(c -> ColRange(None, None))
            case None =>
              chunkStats.get(c) match {
                case Some((Some((mn, mx)), _)) =>
                  val dt = typeOf(c)
                  (fmt(dt, mn), fmt(dt, mx)) match {
                    case (Some(lo), Some(hi)) =>
                      if (strCols(c) && !exactCols(c))
                        Some(c -> ColRange(
                          Some(IcebergFormat.truncateLowerBound(lo)),
                          IcebergFormat.truncateUpperBound(hi)))
                      else Some(c -> ColRange(Some(lo), Some(hi)))
                    case _ => return None // NaN/-0.0/unformattable -> scan
                  }
                // no non-null value anywhere: trust it only when null
                // counts were recorded and account for EVERY row
                case Some((None, nn)) if nn == rows =>
                  Some(c -> ColRange(None, None))
                case _ => return None // stats dropped/absent -> scan
              }
          }
        }: _*)
        Some(ManifestEntry(relFile, Some(stats), Some(rows), size))
      } finally fr.close()
    }

    try {
      // footers are KB-scale reads; a bounded pool keeps a 256-file commit
      // at ~worker-count latency without swamping the driver
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(16, files.length)))
      try {
        import scala.jdk.CollectionConverters._
        val tasks = files.map { f =>
          new java.util.concurrent.Callable[Option[ManifestEntry]] {
            override def call(): Option[ManifestEntry] = entryOf(f)
          }
        }
        val results = pool.invokeAll(tasks.asJava).asScala.map(_.get())
        if (results.exists(_.isEmpty)) None
        else Some(results.flatten.toIndexedSeq)
      } finally pool.shutdown()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The pre-round-18 distributed stats pass: one scan over the snapshot
    * dir computes per-file min/max + row counts. Kept as the fallback for
    * any footer the fast path cannot decode exactly, and as the forced
    * path under `graft.manifest.stats=scan`. */
  private def scanManifestEntries(
      schema: org.apache.spark.sql.types.StructType,
      dataDir: Path,
      dataRel: String,
      files: Seq[String],
      fileSizes: Map[String, Long],
      exactCols: Set[String],
      cols: Seq[String]): Seq[ManifestEntry] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val filesDF = spark.createDataset(
      files.toIndexedSeq.map(f => (f, fileSizes.get(f).filter(_ > 0))))
      .toDF("file", "sizeBytes")
    val statsType = "map<string,struct<min:string,max:string>>"
    // row count always rides the stats pass (Iceberg's required
    // record_count) — COUNT(*)/snapshot sizes answer from metadata
    // string bounds land TRUNCATED (Iceberg truncate(16): prefix
    // lower, incremented-prefix upper — a NULL upper reads as
    // unbounded): long-text columns must not put document-sized
    // strings in every manifest entry
    val strCols = schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
    }.toSet
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap { c =>
      if (strCols(c) && !exactCols(c))
        Seq(graft.functions.boundfns.truncLower(min(col(c)).cast("string")).as(s"min_$c"),
          graft.functions.boundfns.truncUpper(max(col(c)).cast("string")).as(s"max_$c"))
      else
        Seq(min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"))
    }
    val statsMap =
      if (cols.isEmpty) lit(null).cast(statsType)
      else map(cols.flatMap(c =>
        Seq(lit(c), struct(col(s"min_$c").as("min"), col(s"max_$c").as("max")))).toIndexedSeq: _*)
    // input_file_name() is URI-ENCODED ("4-NOT SPECIFIED" partition
    // dirs arrive as "4-NOT%20SPECIFIED") while the listing side is
    // raw, so the join key must URI-decode — guarding literal '+'
    // first, because url_decode is form-style ('+' -> space) but URI
    // encoding leaves '+' bare. Without this, every file under an
    // escaped partition value silently lost its stats AND its row
    // count (metadata COUNT(*) undercounted — caught by the V2
    // count-pushdown spec on the hive layout).
    val statsDF = spark.read.schema(schema).parquet(dataDir.toString)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail.toIndexedSeq: _*)
      .select(
        expr(s"url_decode(replace(substring(__file, instr(__file, '$dataRel')), '+', '%2B'))")
          .as("file"),
        statsMap.as("stats"),
        col("__rows").as("rows"))
    // a float/double column holding a NaN records no bounds (Spark's max
    // is then NaN, and no finite range bounds the column)
    val nanCols = schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.DoubleType ||
          f.dataType == org.apache.spark.sql.types.FloatType => f.name
    }.toSet
    // a zero-row file has no scan group: its entry keeps rows = 0,
    // not null (we know it is empty — the listing produced it)
    filesDF.join(statsDF, Seq("file"), "left")
      .withColumn("rows", coalesce(col("rows"), lit(0L)))
      .collect().toIndexedSeq.map { r =>
        val stats =
          if (r.isNullAt(r.fieldIndex("stats"))) None
          else Some(r.getMap[String, org.apache.spark.sql.Row](r.fieldIndex("stats"))
            .collect { case (k, v) if !(nanCols(k) && v.getString(1) == "NaN") =>
              k -> ColRange(Option(v.getString(0)), Option(v.getString(1)))
            }.toMap)
        ManifestEntry(
          r.getString(r.fieldIndex("file")),
          stats,
          Some(r.getLong(r.fieldIndex("rows"))),
          if (r.isNullAt(r.fieldIndex("sizeBytes"))) None
          else Some(r.getLong(r.fieldIndex("sizeBytes"))))
      }
  }

  /** Parse one immutable manifest dir (cached per-JVM: a manifest never
    * changes after commit, so planning re-reads cost nothing). */
  private def readManifest(rel: String): IndexedSeq[ManifestEntry] = {
    val dir = new Path(location, rel)
    IceTable.manifestCache(dir.toString) {
      fs.listStatus(dir).toIndexedSeq
        .filter(s => !s.isDirectory && s.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
        .flatMap { st =>
          MetadataFiles.read(fs, st.getPath).split('\n').toIndexedSeq
            .map(_.trim).filter(_.nonEmpty).map(ManifestEntry.fromJson)
        }
        // deterministic scan order within a commit (listings already sort
        // across commits because manifests are read in snapshot order)
        .sortBy(_.file)
    }
  }

  /** The data files of `snap`, in commit order (manifest order, each
    * manifest internally sorted). */
  def filesOf(snap: Snapshot): Seq[String] =
    snap.manifests.flatMap(readManifest(_).map(_.file))

  /** Full data-file manifest entries of `snap` (stats, row counts, sizes,
    * split offsets) — what ranged-split planning consumes. */
  def entriesOf(snap: Snapshot): Seq[ManifestEntry] =
    snap.manifests.flatMap(readManifest)

  // ------------------------------------------ merge-on-read position deletes

  /** Position-delete file entries of `snap` (merge-on-read): each entry's
    * `file` is a parquet of `(file_path STRING, pos BIGINT)` rows marking
    * deleted positions, its `stats("file_path")` range bounds WHICH data
    * files it touches (the reader prunes on it), and `rows` counts the
    * delete records. Empty for copy-on-write-only tables. */
  def deleteEntriesOf(snap: Snapshot): Seq[ManifestEntry] =
    snap.deleteManifests.flatMap(readManifest)

  /** Whether `snap` has live position deletes — the gate that turns OFF
    * every metadata-only row-count shortcut (manifest counts bound the
    * PHYSICAL rows; MoR deletes make live rows a strict subset, and racing
    * delta commits may even record the same position twice, so subtraction
    * is unsound — reads must apply the deletes). */
  def hasDeletes(snap: Snapshot): Boolean = snap.deleteManifests.nonEmpty

  /** Delete-manifest carry rule shared by every snapshot-building commit:
    * a commit that RETAINS any of the parent's data manifests must retain
    * the parent's delete manifests too (untouched files keep their deleted
    * positions invisible); a full replacement (compact / truncate /
    * rewrite-everything) starts clean — its rows were produced by a scan
    * that already applied the deletes. Entries referencing files absent
    * from the new snapshot are ignored at read time, so over-carrying is
    * sound; dropping on full replacement is exact. */
  private def carriedDeletes(baseSnap: Option[Snapshot], retainsParentData: Boolean)
      : Option[List[String]] =
    baseSnap.map(_.deleteManifests).filter(_.nonEmpty && retainsParentData)

  /** Commit a merge-on-read row delta (the V2 `SupportsDelta` write path —
    * SQL `DELETE`/`UPDATE`/`MERGE` without rewriting any data file):
    * `deletes` are staged position-delete files, `dataEntries` staged
    * inserts (MERGE's NOT MATCHED rows / UPDATE's rewritten rows), and
    * `targets` the distinct data files the deletes point at (the delta
    * writers collect them as they write). The new
    * snapshot carries ALL parent data manifests by pointer, appends the
    * delta manifests, and lands through the same CAS rebase-and-retry
    * protocol as appends — a racing append's files commute (its positions
    * can't be targeted by a delete planned before they existed), and a
    * racing delta targeting the same positions is harmless because the
    * read path applies deletes as a SET. At 100 TB this is the Iceberg v2
    * MoR shape: commit cost is O(delta files) metadata, zero data IO. */
  private[graft] def commitRowDeltas(
      deletes: Seq[ManifestEntry],
      dataEntries: Seq[ManifestEntry],
      operation: String,
      targets: Set[String]): IceTable = {
    if (deletes.isEmpty && dataEntries.isEmpty) return this // no-op delta
    val md0         = metadata
    val dataSummary = summarize(md0.schema, dataEntries)
    // `targets` is validated against EVERY rebase below: a concurrent
    // compact/CoW rewrite between delta planning and commit replaces the
    // targeted data files, and deletes referencing absent files are
    // IGNORED at read time — committing them would silently resurrect the
    // rows. Iceberg's RowDelta makes the same validation and aborts.
    val delManifest  = if (deletes.isEmpty) None else Some(stageManifest("m-del", deletes))
    val dataManifest = if (dataEntries.isEmpty) None else Some(stageManifest("m-w", dataEntries))
    commit(operation, rebase = true, None, delManifest.toSeq ++ dataManifest) { a =>
      if (targets.nonEmpty) {
        val missing = targets -- a.base.toSeq.flatMap(filesOf)
        if (missing.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"row-delta commit to $location aborted: position deletes target " +
              s"${missing.size} data file(s) no longer in the current snapshot " +
              s"(concurrent rewrite?): ${missing.take(3).mkString(", ")}")
      }
      val allDeletes = a.base.toSeq.flatMap(_.deleteManifests) ++ delManifest
      IceTable.NewSnapshot(a.md, IceTable.draft(operation,
        a.base.toSeq.flatMap(summarized) ++ dataManifest.map(_ -> dataSummary),
        if (allDeletes.isEmpty) None else Some(allDeletes.toList), None))
    }
    this
  }

  /** COUNT(*) of `snap` answered from manifest metadata alone — no data
    * file is opened (planning-sized work: O(#manifests) JSON reads, all
    * cached). None if any entry predates the `rows` field, so a stale
    * manifest can never silently undercount — and None whenever the
    * snapshot carries merge-on-read deletes (manifest counts are physical
    * rows; live rows are a subset only a delete-applying scan can count). */
  def statsRowCount(snap: Snapshot): Option[Long] = {
    if (hasDeletes(snap)) return None
    val rs = snap.manifests.flatMap(readManifest(_).map(_.rows))
    if (rs.exists(_.isEmpty)) None else Some(rs.flatten.sum)
  }

  /** Row count of a SUBSET of `snap`'s files from manifest metadata (None
    * if any matching entry predates the `rows` field, or if MoR deletes
    * make physical counts over-counts) — feeds the V2 scan's planner
    * statistics after pruning. */
  def statsRowCountForFiles(snap: Snapshot, files: Set[String]): Option[Long] = {
    if (hasDeletes(snap)) return None
    val es = snap.manifests.flatMap(readManifest).filter(e => files.contains(e.file))
    if (es.exists(_.rows.isEmpty)) None else Some(es.flatMap(_.rows).sum)
  }

  /** Per-file column stats of `snap` (files without stats are absent). */
  def statsOf(snap: Snapshot): Map[String, Map[String, ColRange]] =
    snap.manifests.flatMap(m =>
      readManifest(m).flatMap(e => e.stats.map(e.file -> _))).toMap

  /** Fold a manifest's per-file stats into one per-column range — the
    * manifest-list summary. A column appears only when EVERY file in the
    * manifest recorded both ends for it (a gap would make skipping on the
    * summary unsound). */
  private def summarize(
      schema: org.apache.spark.sql.types.StructType,
      entries: Seq[ManifestEntry]): Map[String, ColRange] = {
    if (entries.isEmpty) return Map.empty
    schema.fields.filter(f => BoundOrder.rangeable(f.dataType)).flatMap { f =>
      val cmp = BoundOrder.of(f.dataType)
      val ranges = entries.map(_.stats.flatMap(_.get(f.name)).flatMap(BoundOrder.usable(f.dataType, _)))
      if (ranges.exists(_.isEmpty)) None
      else {
        val mins = ranges.map(_.get._1)
        val maxs = ranges.map(_.get._2)
        Some(f.name -> ColRange(
          Some(mins.reduce((a, b) => if (cmp(a, b) <= 0) a else b)),
          Some(maxs.reduce((a, b) => if (cmp(a, b) >= 0) a else b))))
      }
    }.toMap
  }

  /** Find `fields` among the registered sort orders or allocate the next
    * id (sequential from 1, never reused); either way the order becomes
    * the table default. Pure metadata transform — the caller commits. */
  private def resolveSortOrder(
      md: TableMetadata, fields: List[SortFieldInfo]): (Int, TableMetadata) =
    md.sortOrderList.find(_.fields == fields) match {
      case Some(o) => (o.order_id, md.copy(default_sort_order_id = Some(o.order_id)))
      case None =>
        val id = md.sortOrderList.map(_.order_id).foldLeft(0)(math.max) + 1
        (id, md.copy(
          sort_orders = Some(md.sortOrderList :+ SortOrderInfo(id, fields)),
          default_sort_order_id = Some(id)))
    }

  /** Identity/asc/nulls-first sort fields for `cols` (Spark's
    * `sortWithinPartitions` default collation) by registered field id. */
  private def identityOrderFields(
      md: TableMetadata, cols: Seq[String], transform: String = "identity")
      : List[SortFieldInfo] = {
    val idOf = md.fields.map(fi => fi.name -> fi.id).toMap
    cols.map(c => SortFieldInfo(
      idOf.getOrElse(c, throw new NoSuchElementException(s"no column $c to sort by")),
      transform, "asc", "nulls-first")).toList
  }

  /** Bin-pack the current snapshot into `numFiles` files as a new
    * "compact" snapshot (Iceberg rewrite-data-files maintenance). Readers
    * of older snapshots are unaffected; time travel still works. */
  def compact(numFiles: Int): IceTable =
    appendInternal(scan().repartition(numFiles), replace = true, operation = "compact")

  /** Sort-clustered compaction: range-partition + sort the table by
    * `clusterCols` while bin-packing (Iceberg's rewrite with sort order).
    * Files end up with disjoint key ranges, so the per-file min/max stats
    * become maximally selective — `scanRange`/`planFiles` then prune to
    * ~one file per point lookup. The data-layout half of file skipping. */
  def compactSorted(numFiles: Int, clusterCols: Seq[String]): IceTable = {
    import org.apache.spark.sql.functions.col
    require(clusterCols.nonEmpty, "need at least one clustering column")
    val cols = clusterCols.map(col)
    appendInternal(
      scan().repartitionByRange(numFiles, cols: _*).sortWithinPartitions(cols: _*),
      replace = true, operation = "compact",
      // publish the clustering: the identity order registers in metadata,
      // becomes the default, and every rewritten file claims its id — so
      // the layout this rewrite paid for is discoverable (and exportable
      // to the Iceberg spec JSON), not silently declared "unsorted"
      sortOrder = Some(identityOrderFields(metadata, clusterCols)))
  }

  /** Z-order clustered compaction: bin-pack into `numFiles` files laid out
    * along a Morton (bit-interleaved) curve over `cols`, so per-file
    * min/max stats become selective on EVERY clustering column at once —
    * the multi-column generalization of [[compactSorted]] (which is
    * maximally selective on one column but useless on the others).
    *
    * Bucketing is linear between the column's global min/max (one tiny agg
    * scan — negligible next to the rewrite itself); `bits` bits per column,
    * up to 3 columns. The z-value is a plain codegen'd integer expression,
    * and the rewrite is `repartitionByRange` + in-partition sort on it, so
    * the whole operation is a standard shuffle+write at any scale. Skewed
    * value distributions get uneven buckets (Delta's OPTIMIZE ZORDER has
    * the same caveat); range-rank bucketing would be the refinement. */
  def compactZOrder(numFiles: Int, cols: Seq[String], bits: Int = 8): IceTable = {
    import org.apache.spark.sql.functions._
    require(cols.size >= 2 && cols.size <= 3, "z-order needs 2-3 columns")
    val md = metadata
    cols.foreach { c =>
      val dt = md.schema(c).dataType
      require(dt match {
        case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
            org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType => true
        case _ => false
      }, s"z-order column $c must be numeric, got $dt")
    }
    val df = scan()
    val mm = df.agg(
      cols.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))).head,
      cols.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))).tail: _*).head()
    // empty table (or no non-null values on any clustering column):
    // nothing to order by — plain bin-pack instead of NPE-ing on the stats
    if ((0 until 2 * cols.size).forall(mm.isNullAt)) return compact(numFiles)
    val nBuckets = 1L << bits
    val zcol = cols.zipWithIndex.map { case (c, i) =>
      // an all-null column has no range: it contributes bucket 0 for all rows
      if (mm.isNullAt(2 * i)) lit(0L)
      else {
        val (mn, mx) = (mm.getDouble(2 * i), mm.getDouble(2 * i + 1))
        val span     = math.max(mx - mn, Double.MinPositiveValue)
        // null values land in the min bucket (nulls-first), keeping the top
        // bucket's stats range tight instead of silently absorbing them
        val bucket = least(lit(nBuckets - 1),
          floor((coalesce(col(c).cast("double"), lit(mn)) - mn) / span * nBuckets).cast("long"))
        // spread bucket i's bits to positions i, i+k, i+2k... (k = #cols)
        (0 until bits).map { b =>
          shiftleft(shiftright(bucket, b).bitwiseAND(lit(1L)), b * cols.size + i)
        }.reduce(_ bitwiseOR _)
      }
    }.reduce(_ bitwiseOR _)
    appendInternal(
      df.withColumn("__z", zcol)
        .repartitionByRange(numFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z"),
      replace = true, operation = "compact",
      // record the Morton layout under the engine's own `zorder[bits]`
      // transform — honest in THIS format's metadata; exportIceberg maps
      // it to a table property because the spec's sort orders can't
      // express multi-column interleaving (claiming identity would assert
      // a lexicographic order the files don't have)
      sortOrder = Some(identityOrderFields(md, cols, transform = s"zorder[$bits]")))
  }

  /** Append with schema evolution: new columns get fresh field ids, missing
    * columns are null-filled; old data files stay valid (the scan reads
    * them with the merged schema, absent columns as null). */
  def evolveAppend(df: DataFrame): IceTable = {
    import org.apache.spark.sql.functions._
    val merged = commitMetadata("evolve schema") { md =>
      val newFs = df.schema.fields.filterNot(f => md.schema.fieldNames.contains(f.name))
      if (newFs.isEmpty) IceTable.AlreadyApplied
      else {
        val nextId = md.lastColumnId + 1 // never re-issues a dropped field's id
        val addedFields = newFs.zipWithIndex.map { case (f, i) =>
          FieldInfo(nextId + i, f.name, f.dataType.catalogString, required = !f.nullable)
        }
        IceTable.NewMetadata(md.copy(
          schemaJson = org.apache.spark.sql.types.StructType(md.schema.fields ++ newFs).json,
          fields = md.fields ++ addedFields))
      }
    }.schema
    val aligned = df.select(merged.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    appendInternal(aligned, replace = false)
  }

  // ------------------------------------------------------------------- reads

  /** Metadata-only additive schema evolution (the ALTER TABLE ADD COLUMN
    * path): append nullable columns with fresh field ids and commit a new
    * metadata version — zero data IO; existing files surface NULL for the
    * new columns at read time (same contract as evolveAppend, without a
    * data write). CAS-committed like every other metadata operation. */
  def addColumns(newFields: Seq[org.apache.spark.sql.types.StructField]): IceTable = {
    commitMetadata("add columns") { md =>
      newFields.foreach { f =>
        require(!md.schema.fieldNames.contains(f.name), s"column ${f.name} already exists")
        require(f.nullable, s"evolved column ${f.name} must be nullable (old files lack it)")
      }
      val newSchema = org.apache.spark.sql.types.StructType(md.schema.fields ++ newFields)
      val maxId     = md.lastColumnId // never re-issues a dropped field's id
      val added = newFields.zipWithIndex.map { case (f, i) =>
        FieldInfo(maxId + i + 1, f.name, f.dataType.catalogString, required = false)
      }
      IceTable.NewMetadata(md.copy(schemaJson = newSchema.json, fields = md.fields ++ added.toList))
    }
    this
  }

  /** RENAME COLUMN: metadata-only — the field keeps its id, only the
    * display name changes; zero data IO. The table flips to read-by-id
    * (`read_by_id` in the metadata) so readers bind old files' columns
    * through the parquet field ids [[appendInternal]] always stamps —
    * by-name resolution would null the column out of every pre-rename
    * file. Partition columns are refused: the hive layout encodes their
    * NAMES in directory paths. */
  def renameColumns(renames: Seq[(String, String)]): IceTable = {
    commitMetadata("rename columns") { md =>
      renames.foreach { case (o, n) =>
        require(md.schema.fieldNames.contains(o), s"no column $o to rename")
        require(!md.schema.fieldNames.contains(n), s"column $n already exists")
        require(!md.partitionCols.contains(o),
          s"cannot rename hive partition column $o (directory paths encode the name)")
      }
      requireFieldIdStamps(md, "rename column")
      val rm = renames.toMap
      val newSchema = org.apache.spark.sql.types.StructType(
        md.schema.fields.map(f => rm.get(f.name).map(n => f.copy(name = n)).getOrElse(f)))
      val newInfos = md.fields.map(fi =>
        rm.get(fi.name).map(n => fi.copy(name = n)).getOrElse(fi))
      IceTable.NewMetadata(md.copy(schemaJson = newSchema.json, fields = newInfos,
        read_by_id = Some(true),
        // old names retire AT THIS SNAPSHOT: a later column reusing one must
        // not consult its name-keyed stats in files from at-or-before here
        retired_columns = Some(md.retiredWatermarks ++
          renames.map(_._1 -> md.current_snapshot_id))))
    }
    this
  }

  /** DROP COLUMN: metadata-only — the field leaves the schema, its id is
    * RETIRED (addColumns allocates past the max ever used, so a re-add of
    * the same name gets a FRESH id and old files' values do NOT
    * resurrect — the guarantee read-by-id exists for). Data files keep
    * the physical column untouched; zero data IO. */
  def dropColumns(names: Seq[String]): IceTable = {
    commitMetadata("drop columns") { md =>
      names.foreach { c =>
        require(md.schema.fieldNames.contains(c), s"no column $c to drop")
        require(!md.partitionCols.contains(c), s"cannot drop hive partition column $c")
      }
      require(md.schema.fields.length > names.length, "cannot drop every column")
      requireFieldIdStamps(md, "drop column")
      val drop = names.toSet
      IceTable.NewMetadata(md.copy(
        schemaJson = org.apache.spark.sql.types.StructType(
          md.schema.fields.filterNot(f => drop(f.name))).json,
        fields = md.fields.filterNot(fi => drop(fi.name)),
        read_by_id = Some(true),
        // pin the retired ids out of circulation forever, and retire the
        // names at this snapshot so a re-added column never consults the
        // old files' stats (later files' stats describe the successor)
        last_column_id = Some(md.lastColumnId),
        retired_columns = Some(md.retiredWatermarks ++
          names.map(_ -> md.current_snapshot_id))))
    }
    this
  }

  /** Type promotion (the other half of schema evolution without
    * rewriting data): widen a column int→bigint or float→double in a
    * metadata-only CAS commit, PRESERVING its field id. Old data files
    * stay byte-identical — Spark's parquet readers (vectorized and
    * row-based) natively widen int32/float chunks into a long/double
    * read schema — and recorded per-file stats parse fine under the
    * wider type. These two pairs are exactly the primitive promotions
    * the Iceberg spec allows on a written table. */
  def promoteColumnTypes(
      promotions: Seq[(String, org.apache.spark.sql.types.DataType)]): IceTable = {
    import org.apache.spark.sql.types._
    val pm = promotions.toMap
    commitMetadata("promote column types") { md =>
      promotions.foreach { case (c, _) =>
        require(md.schema.fieldNames.contains(c), s"no column $c to promote") }
      val newFields = md.schema.fields.map { f =>
        pm.get(f.name) match {
          case Some(nt) =>
            require((f.dataType, nt) match {
              case (IntegerType, LongType) | (FloatType, DoubleType) => true
              case _                                                 => false
            }, s"unsupported type promotion ${f.dataType.catalogString} -> " +
              s"${nt.catalogString} for ${f.name} (int->bigint, float->double only)")
            f.copy(dataType = nt)
          case None => f
        }
      }
      // field ids are PRESERVED — only the declared type string changes
      val newInfos = md.fields.map { fi =>
        pm.get(fi.name) match {
          case Some(nt) => fi.copy(`type` = nt.catalogString)
          case None     => fi
        }
      }
      IceTable.NewMetadata(md.copy(
        schemaJson = org.apache.spark.sql.types.StructType(newFields).json,
        fields = newInfos))
    }
    this
  }

  /** Partition-layout evolution (the standard-format twin of the Iceberg
    * writer's `evolveSpec`): a metadata-only CAS commit switching the
    * hive layout NEW snapshots are written with. Files already on disk
    * keep their directory layout — a scan takes each file's partition
    * values from the `k=v` segments of its own path, so they resolve
    * per-era (an unpartitioned-era file carries every column in the
    * parquet, a partitioned-era file restores the k=v dir values) and
    * scans span both. This is the "table grew, add partitioning now" path — zero
    * data rewritten, exactly the evolution story the Iceberg spec sells. */
  def evolvePartitioning(newCols: Seq[String]): IceTable = {
    commitMetadata("evolve partitioning") { md =>
      newCols.foreach(c =>
        require(md.schema.fieldNames.contains(c), s"partition column $c not in schema"))
      IceTable.NewMetadata(md.copy(
        partition_columns = if (newCols.isEmpty) None else Some(newCols.toList)))
    }
    this
  }

  /** Lazy DataFrame over the current snapshot. */
  def scan(): DataFrame = {
    val md = metadata
    frame(md, md.currentSnapshot)
  }

  /** Time travel: lazy DataFrame over snapshot `id`'s file list. */
  def scanSnapshot(id: Long): DataFrame = {
    val md = metadata
    if (md.snapshots.isEmpty && id == 0L)
      // freshly-created table, no commits yet: empty relation, not an error
      return frame(md, None)
    frame(md, Some(md.snapshot(id)
      .getOrElse(throw new NoSuchElementException(s"snapshot $id of table ${md.name}"))))
  }

  /** Every library scan: a DataFrame over the connector's table
    * ([[graft.sources.IceLiteV2Table]]) at `md`'s snapshot `snap` (None =
    * the empty table), pinned to a subset `files` of its data files when
    * given. A read through SQL and a library call are then the same scan:
    * partition values from each file's own path, the snapshot's position
    * deletes applied per file, pushed filters pruning files, metadata-only
    * COUNT(*). */
  private def frame(md: TableMetadata, snap: Option[Snapshot],
      files: Option[Seq[String]] = None): DataFrame =
    org.apache.spark.sql.graft.bridge.tableFrame(spark,
      new graft.sources.IceLiteV2Table(this, md, snap, files = files))

  /** Time travel by wall clock (`FOR TIMESTAMP AS OF`): scan the latest
    * snapshot committed at or before `tsMillis`. Resolution is a pure
    * metadata lookup over the snapshot log — no data IO until the scan
    * itself, like snapshot-id travel. */
  def scanAsOf(tsMillis: Long): DataFrame = {
    val md = metadata
    val snap = md.snapshots.filter(_.timestamp_ms <= tsMillis)
      .sortBy(s => (s.timestamp_ms, s.snapshot_id)).lastOption
      .getOrElse(throw new NoSuchElementException(
        s"no snapshot of table ${md.name} at or before $tsMillis"))
    scanSnapshot(snap.snapshot_id)
  }

  def snapshots(): Seq[Snapshot] = metadata.snapshots

  // ----------------------------------------------------- metadata tables

  /** `t.manifests`-style metadata table: one row per (snapshot, manifest)
    * with the manifest's position in the list and its data-file count —
    * the granularity `rewrite_manifests` planning reads (many small
    * manifests ⇒ compact them). O(commits × manifests) rows, data never
    * touched. */
  def manifestsTable(): DataFrame = {
    import spark.implicits._
    val md = metadata
    md.snapshots.flatMap { sn =>
      sn.manifests.zipWithIndex.map { case (m, i) =>
        (sn.snapshot_id, i.toLong, readManifest(m).size.toLong,
          sn.snapshot_id == md.current_snapshot_id)
      }
    }.toDF("snapshot_id", "manifest_pos", "n_files", "is_current")
  }

  /** `t.snapshots`-style metadata table: one row per snapshot with its
    * commit-DAG edge, operation, and manifest/file counts — queryable like
    * any DataFrame. Planning-sized (O(commits) rows), never touches data. */
  def snapshotsTable(): DataFrame = {
    import spark.implicits._
    val md = metadata
    md.snapshots.map { sn =>
      (sn.snapshot_id, sn.parent_snapshot_id.getOrElse(0L), sn.operation,
        sn.manifests.size, filesOf(sn).size.toLong,
        sn.snapshot_id == md.current_snapshot_id)
    }.toDF("snapshot_id", "parent_id", "operation", "n_manifests", "n_files", "is_current")
  }

  /** `t.files`-style metadata table: one row per data file of the current
    * snapshot with its manifest of origin and recorded per-column stats
    * (min/max as strings). The inventory a maintenance job queries before
    * deciding what to compact or expire. */
  def filesTable(): DataFrame = {
    import spark.implicits._
    metadata.currentSnapshot.toSeq.flatMap { sn =>
      sn.manifests.flatMap { m =>
        readManifest(m).map { e =>
          val stats = e.stats.getOrElse(Map.empty)
          (e.file, m, stats.size,
            stats.toSeq.sortBy(_._1).map { case (c, r) =>
              s"$c:[${r.min.getOrElse("")},${r.max.getOrElse("")}]"
            }.mkString(";"),
            // Iceberg data_file field 140: 0 = unsorted, else the
            // registered order the file was written under
            e.sortOrderId.getOrElse(0))
        }
      }
    }.toDF("file", "manifest", "n_stat_cols", "stats", "sort_order_id")
  }

  /** `t.delete_files`-style metadata table: one row per live delete FILE
    * of the current snapshot with its record count and the data-file path
    * range it can touch — the visibility surface for MoR maintenance
    * planning ("how much delete debt does compaction clear?"). Schema is
    * shared with the standard-format twin
    * ([[IcebergFormat.deletesTable]]) so `SELECT` text ports between the
    * two: icelite carries position deletes only, so `content` is always
    * 'position' and `equality_ids` empty. (Named after Iceberg's
    * `delete_files` table — `position_deletes` there returns deleted
    * POSITIONS, not files.) Planning-sized: O(delete files) manifest
    * reads, data never touched. */
  def deletesTable(): DataFrame = {
    import spark.implicits._
    metadata.currentSnapshot.toSeq.flatMap { sn =>
      deleteEntriesOf(sn).map { e =>
        val fp = e.stats.flatMap(_.get("file_path"))
        (e.file, "position", e.rows.getOrElse(-1L), "",
          fp.flatMap(_.min).getOrElse(""), fp.flatMap(_.max).getOrElse(""))
      }
    }.toDF("delete_file", "content", "n_records", "equality_ids",
      "min_data_file", "max_data_file")
  }

  /** Live position-delete file paths of the current snapshot (absolute) —
    * the file set behind `t.position_deletes`. Planning-sized. */
  def positionDeleteFilePaths(): Seq[String] =
    metadata.currentSnapshot.toSeq.flatMap(deleteEntriesOf)
      .map(e => new Path(location, e.file).toString).sorted

  /** `t.position_deletes`-style metadata table: the deleted POSITIONS —
    * one (file_path, pos) row per entry in the current snapshot's live
    * position-delete files. Schema shared with the standard-format twin
    * ([[IcebergFormat.positionDeletesTable]]); provenance via the parquet
    * source's `_metadata.file_path`. O(delete rows) IO, DISTRIBUTED (a
    * plain parquet scan — rows are data-proportional, so unlike the other
    * metadata tables this one never materializes on the driver). */
  def positionDeletesTable(): DataFrame =
    IcebergFormat.positionDeletesFrame(spark, positionDeleteFilePaths())

  /** `t.refs`-style metadata table: named branches/tags plus the implicit
    * main pointer. */
  def refsTable(): DataFrame = {
    import spark.implicits._
    val md = metadata
    (("main", "branch", md.current_snapshot_id) +:
      md.refMap.toSeq.sortBy(_._1).map { case (n, r) => (n, r.ref_type, r.snapshot_id) })
      .toDF("ref", "ref_type", "snapshot_id")
  }

  /** `t.history`-style metadata table: the full snapshot log with each
    * entry's ancestry flag — `is_current_ancestor` is false for snapshots
    * orphaned by a rollback (Iceberg's history semantics). Pure metadata
    * walk over the parent chain, O(commits), zero data IO. */
  def historyTable(): DataFrame = {
    import spark.implicits._
    val md   = metadata
    val byId = md.snapshots.map(s => s.snapshot_id -> s).toMap
    val ancestors = Iterator
      .iterate(byId.get(md.current_snapshot_id))(
        _.flatMap(_.parent_snapshot_id).flatMap(byId.get))
      .takeWhile(_.isDefined).flatten.map(_.snapshot_id).toSet
    md.snapshots.map(sn =>
      (sn.snapshot_id, sn.parent_snapshot_id.getOrElse(0L),
        ancestors.contains(sn.snapshot_id)))
      .toDF("snapshot_id", "parent_id", "is_current_ancestor")
  }

  /** `t.partitions`-style metadata table: one row per partition of the
    * current snapshot with its data-file count, derived from manifest file
    * paths alone (hive `k=v` segments) — planning-sized, no data IO. The
    * inventory a compaction scheduler reads to find fragmented partitions. */
  def partitionsTable(): DataFrame = {
    import spark.implicits._
    metadata.currentSnapshot.toSeq
      .flatMap(filesOf)
      .map { f =>
        val segs = f.split('/').filter(_.contains("="))
        if (segs.isEmpty) "<unpartitioned>" else segs.mkString("/")
      }
      .groupBy(identity).toSeq
      .map { case (p, fs) => (p, fs.size.toLong) }
      .toDF("partition", "n_files")
  }

  // ------------------------------------------------- min/max file skipping

  /** Files of the current snapshot whose [min,max] range for `colName` can
    * intersect [lower, upper] (both optional). Two pruning levels, as in
    * Iceberg: the snapshot's per-MANIFEST summaries skip whole manifests
    * without opening them (planning cost O(manifests touched)); per-FILE
    * stats then prune within the manifests that remain. Missing summaries
    * or stats are conservatively kept. */
  def planFiles(colName: String, lower: Option[String], upper: Option[String]): Seq[String] =
    rangeFiles(metadata, colName, lower, upper)

  /** Multi-column generalization of [[planFiles]] — the planning entry the
    * DataSource V2 scan builder calls with every pushed-down range bound at
    * once (SupportsPushDownFilters). A file survives only if, for EVERY
    * bound column, its recorded min/max range can intersect [lower, upper];
    * manifest summaries are consulted first so a manifest whose summary
    * misses any bound is skipped without ever being opened. Missing stats
    * are conservative (file kept), identical to single-column planFiles. */
  def planFilesBounds(
      snap: Snapshot,
      bounds: Map[String, (Option[String], Option[String])]): Seq[String] =
    planFilesBounds(metadata, snap, bounds)

  /** [[planFilesBounds]] with the column types and retired names of `md`,
    * the metadata `snap` was resolved from. */
  private[graft] def planFilesBounds(
      md: TableMetadata,
      snap: Snapshot,
      bounds: Map[String, (Option[String], Option[String])]): Seq[String] = {
    if (bounds.isEmpty) return filesOf(snap)
    val types = bounds.keys.map { c =>
      c -> md.schema.fields.find(_.name == c).map(_.dataType)
        .getOrElse(org.apache.spark.sql.types.StringType)
    }.toMap
    // stats under a RETIRED name may belong to a dropped/renamed-away
    // column: a same-named successor must never prune by them — UNLESS
    // the file postdates the retirement watermark (then the stats
    // describe the successor). Manifest summaries mix eras, so they go
    // untrusted for retired names; per-file entries re-prune by era.
    val retired = md.retiredWatermarks
    def hit(stats: Option[Map[String, ColRange]], fileSnap: Option[Long]): Boolean =
      bounds.forall { case (c, (lo, hi)) =>
        val trusted = retired.get(c).forall(w => fileSnap.exists(_ > w))
        stats.flatMap(s => if (trusted) s.get(c) else None)
          .flatMap(BoundOrder.usable(types(c), _)) match {
          case Some((mn, mx)) =>
            val cmp = BoundOrder.of(types(c))
            lo.forall(l => cmp(mx, l) >= 0) && hi.forall(h => cmp(mn, h) <= 0)
          case None => true // no (trustworthy) recorded range: can't skip
        }
      }
    snap.manifests.zipWithIndex.flatMap { case (m, i) =>
      if (!hit(snap.summaryAt(i), None)) Nil // whole manifest skipped, never opened
      else readManifest(m).collect {
        case e if hit(e.stats, IceTable.fileSnapId(e.file)) => e.file }
    }
  }

  /** Range-pruned scan: reads only files that can contain rows with
    * `colName` in [lower, upper]. The caller still applies the row-level
    * predicate (pruning is file-granular, like Iceberg manifests +
    * parquet row-group stats below it). Partition columns are restored
    * and position deletes applied exactly as in a full scan. */
  def scanRange(colName: String, lower: Option[String], upper: Option[String]): DataFrame = {
    val md = metadata
    frame(md, md.currentSnapshot, Some(rangeFiles(md, colName, lower, upper)))
  }

  /** [[planFiles]] over `md`'s current snapshot. */
  private def rangeFiles(md: TableMetadata, colName: String,
      lower: Option[String], upper: Option[String]): Seq[String] =
    md.currentSnapshot.fold(Seq.empty[String])(
      planFilesBounds(md, _, Map(colName -> (lower, upper))))

  /** Export the current snapshot as a STANDARD Apache Iceberg v2 table at
    * `destLocation` — metadata only, zero data copy: the Iceberg manifests
    * reference this table's parquet files in place by absolute path (the
    * spec allows fully-qualified URIs anywhere), exactly how Iceberg's own
    * `add_files`/migrate procedures adopt existing parquet. Cost is one
    * tiny per-file count pass + O(#files) metadata, at any table size.
    * Returns the metadata.json path an external Iceberg reader consumes.
    * Unpartitioned tables only (hive-layout partition values live in
    * directory names, which an Iceberg partition spec models differently). */
  def exportIceberg(destLocation: String): String = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
    val md = metadata
    require(md.partitionCols.isEmpty, "exportIceberg supports unpartitioned tables only")
    val entries = md.currentSnapshot.map(entriesOf).getOrElse(Nil)
    val files   = entries.map(e => new Path(location, e.file))
    // adopt the source's REAL field ids (sparse after drops) and its
    // read-by-id mode: the export re-points at the ORIGINAL parquet
    // files, so a rename-evolved source's files still carry pre-rename
    // column names and must keep binding by id
    val w = new IcebergFormat.Writer(spark, destLocation, md.schema,
      topLevelFieldIds = md.fields.map(_.id))
    if (md.readById) w.setReadById()
    // publish the source's clustering record: identity orders are
    // spec-expressible and export as real sort-orders (files keep their
    // claims through the id map below); the engine's z-order transform is
    // not — claiming identity would assert a lexicographic order the
    // files don't have — so it exports as a `graft.clustering` property
    val nameOfId  = md.fields.map(fi => fi.id -> fi.name).toMap
    val defaultId = md.default_sort_order_id.getOrElse(0)
    val orderIdMap: Map[Int, Int] = md.sortOrderList
      .filter(_.fields.forall(_.transform == "identity"))
      .sortBy(_.order_id == defaultId) // declare the default LAST (declare sets it)
      .map(o => o.order_id ->
        w.declareSortOrder(o.fields.map(f => nameOfId(f.source_id)))).toMap
    if (!orderIdMap.contains(defaultId)) w.clearDefaultSortOrder()
    md.sortOrderList.find(o =>
        o.order_id == defaultId && o.fields.exists(_.transform != "identity"))
      .foreach { o =>
        w.setProperty("graft.clustering",
          s"${o.fields.head.transform}(${o.fields.map(f => nameOfId(f.source_id)).mkString(",")})")
      }
    val soIdOf: Seq[Option[Int]] = entries.map(_.sortOrderId.flatMap(orderIdMap.get))
    if (files.isEmpty) { w.commit(Nil); return w.currentMetadataPath }
    // record_count is a required manifest field, and per-file min/max feed
    // the manifests' lower/upper bounds (manifest-level pruning for any
    // spec-compliant planner): one map-side pass, collected at O(#files) —
    // the same planning-sized driver data Iceberg itself holds when
    // writing manifests
    val statCols = md.schema.fields.filter(f => BoundOrder.rangeable(f.dataType)).map(_.name)
    val aggs = count(lit(1)).as("n") +: statCols.flatMap(c =>
      Seq(min(col(c)).cast("string").as(s"min_$c"), max(col(c)).cast("string").as(s"max_$c")))
    val statIdOf = md.fields.map(fi => fi.name -> fi.id).toMap
    val statsReadSchema = if (md.readById) md.stampedSchema else md.schema
    val statsSpark = if (md.readById) IcebergFormat.idReadSession(spark) else spark
    val byFile = statsSpark.read.schema(statsReadSchema).parquet(files.map(_.toString): _*)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail.toIndexedSeq: _*)
      .collect()
      .map { r =>
        val bounds = statCols.flatMap { c =>
          val fieldId = statIdOf(c) // REAL id (sparse after drops), never positional
          val dt      = md.schema(c).dataType
          for {
            mn <- Option(r.getAs[String](s"min_$c"))
            mx <- Option(r.getAs[String](s"max_$c"))
            lo <- IcebergFormat.encodeBound(dt, mn)
            hi <- IcebergFormat.encodeBound(dt, mx)
          } yield fieldId -> (lo, hi)
        }.toMap
        // input_file_name() is already URL-encoded: decode via URI (a
        // Hadoop Path would re-quote '%' and never match the listing side)
        new java.net.URI(r.getString(0)).getPath -> (r.getAs[Long]("n"), bounds)
      }
      .toMap
    val infos = files.zip(soIdOf).map { case (p, soId) =>
      val (n, bounds) = byFile.getOrElse(p.toUri.getPath,
        (0L, Map.empty[Int, (Array[Byte], Array[Byte])]))
      IcebergFormat.DataFileInfo(p.toString, n, fs.getFileStatus(p).getLen, bounds,
        sortOrderId = soId)
    }
    w.commit(infos)
    w.currentMetadataPath
  }

  /** Delete all table data + metadata (reference drop_table). */
  def drop(): Unit = fs.delete(location, true)

  /** Row-level delete (copy-on-write): rewrite the table without rows
    * *matching* `predicate` (SQL DELETE semantics — NULL-evaluating rows
    * are kept), as a new "delete" snapshot. Older snapshots still
    * time-travel to the pre-delete state. This arbitrary-predicate form
    * rewrites every file; use [[deleteRange]] when the predicate is a
    * range on a stats-tracked column to rewrite only affected files. */
  def deleteWhere(predicate: org.apache.spark.sql.Column): IceTable = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    appendInternal(
      scan().filter(not(coalesce(predicate, lit(false)))),
      replace = true, operation = "delete")
  }

  /** File-granular delete of rows with `colName` in [lower, upper]: files
    * whose min/max range cannot contain matches carry over by reference
    * (zero IO); only affected files rewrite. Carry is MANIFEST-granular,
    * as in Iceberg: a manifest with no affected file carries by pointer
    * (zero metadata IO); one with survivors is rewritten minus the
    * affected entries — so the commit cost tracks the delete's blast
    * radius, never the table size. The 100 TB delete path. */
  def deleteRange(colName: String, lower: String, upper: String): IceTable = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val md       = metadata
    val snap     = md.currentSnapshot
    val affected = rangeFiles(md, colName, Some(lower), Some(upper))
    val colType  = md.schema(colName).dataType
    val hit      = col(colName) >= lit(lower).cast(colType) && col(colName) <= lit(upper).cast(colType)
    val survivors = frame(md, snap, Some(affected)).filter(not(coalesce(hit, lit(false))))
    appendInternal(survivors, replace = true, operation = "delete",
      carry = snap.map(_ -> affected.toSet))
  }

  /** Upsert (merge-by-key, copy-on-write): rows of `updates` replace
    * current rows with equal `keyCols`; unmatched update rows insert.
    * Updates are cast onto the frozen table schema (a widened column would
    * otherwise commit files the schema'd scan can no longer read) and must
    * be unique per key — Iceberg MERGE likewise rejects multiple matches. */
  def upsert(updates: DataFrame, keyCols: Seq[String]): IceTable = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val md = metadata
    val aligned = updates.select(
      md.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val dupKeys = aligned.groupBy(keyCols.map(col).toIndexedSeq: _*)
      .count().filter(col("count") > 1).limit(1).count()
    require(dupKeys == 0, s"upsert updates contain duplicate keys on $keyCols")
    val kept = scan().join(aligned, keyCols, "left_anti")
    appendInternal(kept.unionByName(aligned), replace = true, operation = "upsert")
  }

  /** Multi-clause MERGE INTO (copy-on-write, file-granular) — SQL
    * `MERGE INTO t USING s ON t.key = s.key
    *    WHEN MATCHED AND deleteCond THEN DELETE
    *    WHEN MATCHED [AND updateCond] THEN UPDATE SET ...
    *    WHEN NOT MATCHED THEN INSERT *`.
    * Clause order is fixed delete-then-update (SQL MERGE evaluates clauses
    * in declaration order; first hit wins). Conditions and SET expressions
    * are SQL over the aliases `t` (target) and `s` (source).
    *
    * Scale shape: source keys bound a range, and only target files whose
    * `keyCol` min/max intersects it rewrite — every other manifest carries
    * by pointer exactly as [[deleteRange]], so commit cost tracks the
    * merge's blast radius, not table size. The single equi-join against
    * the source is Catalyst-planned (broadcast when the source is small).
    * Matching against only the affected files is exact: a target key equal
    * to any source key lies inside the source range, so its file is always
    * in the affected set. */
  def merge(
      source: DataFrame,
      keyCol: String,
      deleteCondSql: Option[String] = None,
      updateSetSql: Map[String, String] = Map.empty,
      updateCondSql: Option[String] = None,
      insertUnmatched: Boolean = true): IceTable = {
    import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, max, min, not, when}
    val md   = metadata
    val snap = md.currentSnapshot
    val aligned = source.select(
      md.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val dupKeys = aligned.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).count()
    require(dupKeys == 0, s"merge source has duplicate keys on $keyCol")
    val bounds = aligned.agg(
      min(col(keyCol)).cast("string").as("lo"), max(col(keyCol)).cast("string").as("hi")).head()
    if (bounds.isNullAt(0)) return this // empty source: nothing matches, nothing inserts
    val affected = rangeFiles(md, keyCol, Some(bounds.getString(0)), Some(bounds.getString(1)))
    val t      = frame(md, snap, Some(affected)).alias("t")
    val srcA   = aligned.alias("s")
    val tKey   = col(s"t.$keyCol")
    val sKey   = col(s"s.$keyCol")
    val joined = t.join(srcA, tKey === sKey, "full_outer")
    val matched = tKey.isNotNull && sKey.isNotNull
    val delHit  = matched && coalesce(deleteCondSql.map(expr).getOrElse(lit(false)), lit(false))
    val updHit  = matched && not(delHit) &&
      coalesce(updateCondSql.map(expr).getOrElse(lit(true)), lit(false))
    val insRow  = tKey.isNull
    val kept = joined.filter(
      not(delHit) && (if (insertUnmatched) lit(true) else not(insRow)))
    val out = kept.select(md.schema.fields.map { f =>
      when(insRow, col(s"s.${f.name}"))
        .when(updHit, updateSetSql.get(f.name).map(expr).getOrElse(col(s"t.${f.name}")))
        .otherwise(col(s"t.${f.name}"))
        .cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    appendInternal(out, replace = true, operation = "merge", carry = snap.map(_ -> affected.toSet))
  }

  /** Roll the current pointer back to an earlier snapshot (Iceberg
    * rollback-to-snapshot). A new metadata version commits with the old
    * snapshot as current — history is preserved, so the rolled-back-from
    * snapshot remains time-travelable and a later rollback can restore it.
    * No data IO at any table size: the operation rewrites one pointer. */
  def rollback(snapshotId: Long): IceTable = {
    commitMetadata("rollback") { md =>
      require(md.snapshot(snapshotId).isDefined, s"no snapshot $snapshotId to roll back to")
      IceTable.NewMetadata(md.copy(current_snapshot_id = snapshotId))
    }
    this
  }

  // ------------------------------------------------ branches & tags (refs)

  /** Create a branch ref at `at` (default: the current main head). The
    * Git-like catalog surface of the reference's Nessie deployment
    * (`bot_iceberg_loader.py:245-281`): a branch is a movable named pointer
    * into the shared snapshot log — creating one writes one metadata
    * version and zero data, at any table size. */
  def createBranch(name: String, at: Option[Long] = None): IceTable =
    createRef(name, at, "branch")

  /** Create an immutable tag ref (a release pin: scans through it never
    * move, even as main advances). */
  def createTag(name: String, at: Option[Long] = None): IceTable =
    createRef(name, at, "tag")

  private def createRef(name: String, at: Option[Long], refType: String): IceTable = {
    commitMetadata(s"create $refType") { md =>
      require(name.nonEmpty && name != "main", s"invalid ref name: $name")
      require(!md.refMap.contains(name), s"ref $name already exists")
      val snapId = at.getOrElse(md.current_snapshot_id)
      require(snapId == 0L || md.snapshot(snapId).isDefined, s"no snapshot $snapId for ref $name")
      IceTable.NewMetadata(md.copy(refs = Some(md.refMap + (name -> RefInfo(snapId, refType)))))
    }
    this
  }

  def refs(): Map[String, RefInfo] = metadata.refMap

  /** Scan through a ref: "main" is the current pointer, anything else
    * resolves through the refs map (branch head or tag pin). */
  def scanRef(name: String): DataFrame =
    if (name == "main") scan()
    else scanSnapshot(
      metadata.refMap.getOrElse(name, throw new NoSuchElementException(s"no ref $name")).snapshot_id)

  /** Append `df` as a commit on `branch`: the new snapshot's base is the
    * branch head, the branch pointer advances, and main is untouched — the
    * isolated-ingest workflow Nessie branches exist for (load + validate on
    * a branch, then fast-forward main). */
  def appendToBranch(branch: String, df: DataFrame): IceTable =
    appendInternal(df, replace = false, ref = Some(branch))

  /** True iff `ancestorId` is on the parent chain of `descendantId`
    * (0 = the empty-table root, ancestor of everything). */
  def isAncestor(ancestorId: Long, descendantId: Long): Boolean = {
    if (ancestorId == descendantId || ancestorId == 0L) return true
    val md  = metadata
    var cur = md.snapshot(descendantId)
    while (cur.isDefined) {
      val p = cur.get.parent_snapshot_id.getOrElse(0L)
      if (p == ancestorId) return true
      cur = if (p == 0L) None else md.snapshot(p)
    }
    false
  }

  /** Fast-forward merge: move main to `branch`'s head. Requires main to be
    * an ancestor of the branch head (nothing committed to main since the
    * branch point) — the only merge shape that needs no data rewrite; a
    * diverged merge must instead replay commits (append the branch delta),
    * exactly as in Nessie/Git. */
  def fastForward(branch: String): IceTable = {
    commitMetadata("fast-forward") { md =>
      val info = md.refMap.getOrElse(branch, throw new NoSuchElementException(s"no ref $branch"))
      require(info.ref_type == "branch", s"cannot fast-forward to tag $branch")
      require(isAncestor(md.current_snapshot_id, info.snapshot_id),
        s"main is not an ancestor of $branch — not a fast-forward")
      IceTable.NewMetadata(md.copy(current_snapshot_id = info.snapshot_id))
    }
    this
  }

  /** CHERRY-PICK (Iceberg `cherrypick_snapshot`): apply ONE snapshot's
    * changes onto the current main head when a plain fast-forward is
    * impossible because main has diverged since the branch point. Only
    * APPEND snapshots qualify (their delta is exactly the manifests they
    * added over their parent — a pure file-set union; replace/delete
    * snapshots rewrite history and cannot be replayed by reference). The
    * pick is metadata-only: main's head manifests ++ the source's delta
    * manifests become one new snapshot, zero data IO at any table size.
    * The source snapshot itself stays where it is (its branch is
    * untouched), exactly like a Git cherry-pick. */
  def cherryPick(snapshotId: Long): IceTable = {
    commitMetadata("cherry-pick") { md =>
      val src = md.snapshot(snapshotId).getOrElse(
        throw new NoSuchElementException(s"no snapshot $snapshotId to cherry-pick"))
      require(src.operation == "append",
        s"cherry-pick supports append snapshots only, got '${src.operation}'")
      require(!isAncestor(snapshotId, md.current_snapshot_id),
        s"snapshot $snapshotId is already in main's history")
      // durable double-apply guard: every pick RECORDS its source id, and a
      // re-pick is refused if that id appears anywhere in main's ancestry.
      // The manifest-path check below is insufficient alone — a compact()
      // after the first pick rewrites main's manifests, the paths no longer
      // match, and a path-only guard would silently duplicate every row.
      require(!pickedSources(md).contains(snapshotId),
        s"snapshot $snapshotId was already cherry-picked onto main")
      val parentId = src.parent_snapshot_id.getOrElse(0L)
      val parentManifests: Set[String] =
        if (parentId == 0L) Set.empty
        else md.snapshot(parentId).getOrElse(throw new IllegalStateException(
          s"cherry-pick needs the source's parent snapshot $parentId in the log " +
            "(expired?)")).manifests.toSet
      val delta = summarized(src).filterNot { case (m, _) => parentManifests(m) }
      require(delta.nonEmpty, s"snapshot $snapshotId added no manifests — nothing to pick")
      val head = md.currentSnapshot.toSeq.flatMap(summarized)
      require(delta.forall { case (m, _) => !head.exists(_._1 == m) },
        s"snapshot $snapshotId's delta is already applied to main")
      IceTable.NewSnapshot(md, IceTable.draft(
        "append", // the replayed change IS an append (incremental reads see it)
        head ++ delta,
        // an append snapshot introduces no deletes; main's live delete debt carries
        md.currentSnapshot.flatMap(_.delete_manifests), None)
        .copy(source_snapshot_id = Some(snapshotId)))
    }
    this
  }

  /** Guard for the read-by-id flip (rename/drop column): those operations
    * commit metadata that makes every subsequent scan bind file columns by
    * parquet field id — on a table whose data files carry NO id stamps
    * (written by a pre-stamping build, or foreign parquet adopted as-is) a
    * successful-looking ALTER would brick every scan. Probe ONE file per
    * manifest (a manifest is one commit, written by one build, so stamping
    * is homogeneous within it — O(commits) footer reads, each a few KB,
    * never O(files)) and refuse with a remediation message when unstamped. */
  private def requireFieldIdStamps(md: TableMetadata, op: String): Unit = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    md.currentSnapshot.toSeq.flatMap(_.manifests).foreach { m =>
      readManifest(m).headOption.foreach { e =>
        val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(location, e.file), conf))
        val msg = try fr.getFooter.getFileMetaData.getSchema finally fr.close()
        val unstamped = msg.getFields.asScala.filter(_.getId == null).map(_.getName)
        require(unstamped.isEmpty,
          s"cannot $op: data file ${e.file} lacks parquet field ids on " +
            s"[${unstamped.mkString(", ")}] — flipping to read-by-id would make " +
            "every scan of this file fail; rewrite data files first (compact())")
      }
    }
  }

  /** Source-snapshot ids of every cherry-pick in main's ancestry (walked
    * over parent edges from the current head — O(commits), metadata only). */
  private def pickedSources(md: TableMetadata): Set[Long] = {
    val out = scala.collection.mutable.Set.empty[Long]
    var cur = md.currentSnapshot
    while (cur.isDefined) {
      cur.get.source_snapshot_id.foreach(out += _)
      val p = cur.get.parent_snapshot_id.getOrElse(0L)
      cur = if (p == 0L) None else md.snapshot(p)
    }
    out.toSet
  }

  /** Delete a branch or tag ref (snapshots stay; expiration reclaims them
    * once unreferenced). */
  def dropRef(name: String): IceTable = {
    commitMetadata("drop ref") { md =>
      require(md.refMap.contains(name), s"no ref $name")
      IceTable.NewMetadata(md.copy(refs = Some(md.refMap - name)))
    }
    this
  }

  /** Incremental read: rows appended strictly after `fromSnapshotId` up to
    * and including `toSnapshotId` (Iceberg incremental append scan — the
    * batch CDC feed). Because appends carry prior files forward by
    * reference, the delta is exactly the file-list difference, so the scan
    * reads only the new files — at 100 TB an incremental consumer pays for
    * the day's data, never the table. Snapshots produced by replace-style
    * operations (compact/delete/upsert) rewrite history rather than append
    * it; the file diff across them would misreport rewritten rows as new,
    * so they're rejected. */
  def scanIncremental(fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val md = metadata
    require(fromSnapshotId <= toSnapshotId, s"from $fromSnapshotId > to $toSnapshotId")
    val from = md.snapshot(fromSnapshotId)
      .getOrElse(throw new NoSuchElementException(s"snapshot $fromSnapshotId"))
    val to = md.snapshot(toSnapshotId)
      .getOrElse(throw new NoSuchElementException(s"snapshot $toSnapshotId"))
    val between = md.snapshots
      .filter(s => s.snapshot_id > fromSnapshotId && s.snapshot_id <= toSnapshotId)
    val nonAppend = between.filterNot(_.operation == "append")
    require(nonAppend.isEmpty,
      s"incremental scan crosses non-append snapshots: ${nonAppend.map(_.operation).distinct.mkString(",")}")
    // a rollback can fork history: ids between `from` and `to` may lie on a
    // discarded line, and the naive file diff would then misreport rows the
    // rollback removed. Only a true ancestor path is a valid CDC window.
    require(isAncestor(fromSnapshotId, toSnapshotId),
      s"snapshot $fromSnapshotId is not an ancestor of $toSnapshotId — not an incremental window")
    // append-only window ⇒ the delta is exactly the manifests `to` gained
    // over `from`: the file list comes from the delta's manifests alone,
    // and the scan reads only their files (its planner statistics still
    // consult `to`'s manifests, as every connector scan's do)
    val fromManifests = from.manifests.toSet
    val delta         = to.manifests.filterNot(fromManifests)
    frame(md, Some(to), Some(delta.flatMap(readManifest(_).map(_.file))))
  }

  /** File paths ADDED in the append-only snapshot window (from, to] — the
    * planning primitive behind both scanIncremental and the V2 streaming
    * source's micro-batches. from = 0 means everything up to `to`. */
  private[graft] def incrementalFiles(fromSnapshotId: Long, toSnapshotId: Long): Seq[String] = {
    if (fromSnapshotId >= toSnapshotId) return Nil
    val md = metadata
    val to = md.snapshot(toSnapshotId)
      .getOrElse(throw new NoSuchElementException(s"snapshot $toSnapshotId"))
    if (fromSnapshotId == 0L) {
      // the everything-up-to-`to` initial window must fail as loudly as
      // the from>0 non-append guard does: emitting the file list of a
      // merge-on-read snapshot would resurrect its deleted rows (this
      // planning primitive returns bare files — no delete application)
      require(!hasDeletes(to),
        s"incremental window (0, $toSnapshotId] covers a snapshot with " +
          "merge-on-read position deletes; compact the table first or start " +
          "the stream from a delete-free snapshot")
      return filesOf(to)
    }
    val from = md.snapshot(fromSnapshotId)
      .getOrElse(throw new NoSuchElementException(s"snapshot $fromSnapshotId"))
    val between = md.snapshots
      .filter(s => s.snapshot_id > fromSnapshotId && s.snapshot_id <= toSnapshotId)
    val nonAppend = between.filterNot(_.operation == "append")
    require(nonAppend.isEmpty,
      s"incremental window crosses non-append snapshots: " +
        nonAppend.map(_.operation).distinct.mkString(","))
    val fromManifests = from.manifests.toSet
    to.manifests.filterNot(fromManifests).flatMap(readManifest(_).map(_.file))
  }

  /** Iceberg-style expire-snapshots maintenance: keep the most recent
    * `keepLast` snapshots, delete the metadata entries of older ones and
    * any data file no kept snapshot references. Time travel remains valid
    * for the kept window; storage for dropped history is reclaimed. */
  def expireSnapshots(keepLast: Int): IceTable = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    var dropped = Seq.empty[Snapshot]
    val keep = commitMetadata("expire snapshots") { md =>
      // main (the current pointer) is itself a ref head — a rolled-back
      // current snapshot outside the keep-last window must survive too
      val refHeads = md.refMap.values.map(_.snapshot_id).toSet + md.current_snapshot_id
      val keep = (md.snapshots.sortBy(_.snapshot_id).takeRight(keepLast) ++
        md.snapshots.filter(s => refHeads.contains(s.snapshot_id)))
        .distinctBy(_.snapshot_id).sortBy(_.snapshot_id)
      if (keep.size == md.snapshots.size) IceTable.AlreadyApplied
      else {
        // splice expired snapshots out of the commit DAG: a kept snapshot
        // whose parent is dropped re-parents to its nearest kept ancestor,
        // so ancestry checks (fastForward, scanIncremental) keep working
        // across the expired gap instead of dead-ending on a missing id.
        val keptIds = keep.map(_.snapshot_id).toSet
        val byId    = md.snapshots.map(s => s.snapshot_id -> s).toMap
        def nearestKept(id: Long): Long = {
          var cur = id
          while (cur != 0L && !keptIds.contains(cur))
            cur = byId.get(cur).flatMap(_.parent_snapshot_id).getOrElse(0L)
          cur
        }
        val spliced = keep.map { sn =>
          val p  = sn.parent_snapshot_id.getOrElse(0L)
          val np = nearestKept(p)
          if (np == p) sn
          else sn.copy(parent_snapshot_id = if (np == 0L) None else Some(np))
        }
        // idempotency tokens outlive their snapshots: a replayed streaming
        // batch must stay a no-op even after maintenance expired its commit
        dropped = md.snapshots.filterNot(s => keptIds.contains(s.snapshot_id))
        val retiredTokens =
          (md.retired_tokens.getOrElse(Nil) ++ dropped.flatMap(_.commit_token)).distinct
        IceTable.NewMetadata(md.copy(snapshots = spliced,
          retired_tokens = if (retiredTokens.isEmpty) None else Some(retiredTokens)))
      }
    }.snapshots
    if (dropped.isEmpty) return this
    // delete files (MoR) are live exactly like data files: a kept snapshot's
    // position deletes must survive or its reads resurrect deleted rows
    val referenced = (keep.flatMap(filesOf) ++ keep.flatMap(deleteEntriesOf).map(_.file)).toSet
    val orphaned = (dropped.flatMap(filesOf) ++
      dropped.flatMap(deleteEntriesOf).map(_.file)).toSet -- referenced
    // snapshot dirs with no referenced file left are removed recursively
    // (also sweeps non-data markers like _SUCCESS); partially-referenced
    // dirs only lose their orphaned parquet files
    val liveDirs = referenced.map(snapDirOf)
    val (deadDirFiles, looseFiles) = orphaned.partition(f => !liveDirs.contains(snapDirOf(f)))
    looseFiles.foreach(f => fs.delete(new Path(location, f), false))
    deadDirFiles.map(snapDirOf).foreach { rel =>
      val dir = new Path(location, rel)
      if (fs.exists(dir)) fs.delete(dir, true)
    }
    // manifests only expired snapshots referenced are reclaimed too
    // (delete manifests alike)
    val liveManifests = (keep.flatMap(_.manifests) ++ keep.flatMap(_.deleteManifests)).toSet
    ((dropped.flatMap(_.manifests) ++ dropped.flatMap(_.deleteManifests)).toSet --
      liveManifests).foreach { rel =>
      val dir = new Path(location, rel)
      if (fs.exists(dir)) fs.delete(dir, true)
    }
    this
  }

  /** Rewrite-position-deletes maintenance (Iceberg's
    * `rewrite_position_delete_files`): fold the current snapshot's delete
    * files into a few range-sorted ones, dropping (a) entries that
    * reference data files no longer in the snapshot (debris carried by
    * CoW rewrites — harmless but paid for on every read-plan) and (b)
    * positions recorded twice by racing delta commits. Data manifests are
    * untouched; the commit swaps ONLY the delete-manifest list. Sorting
    * by `file_path` gives each output file a tight path range, so
    * reader-side delete-file pruning stays selective as debt grows — the
    * knob that keeps MoR read amplification bounded between compactions.
    *
    * All row work is one distributed semi-join + distinct + range
    * repartition; the driver handles O(delete files) metadata. Racing
    * DELTA commits are detected, not absorbed: if the delete-manifest
    * list moved since planning, the commit aborts with
    * ConcurrentModificationException (rerun the maintenance) — silently
    * dropping a racer's delete files would resurrect its deleted rows. */
  def rewritePositionDeletes(): IceTable = {
    import org.apache.spark.sql.functions.col
    val md0   = metadata
    val snap0 = md0.currentSnapshot.getOrElse(return this)
    val planned = snap0.deleteManifests
    if (planned.isEmpty) return this
    val dels = deleteEntriesOf(snap0)
    val delDF = spark.read.schema(IceTable.PositionDeleteSchema)
      .parquet(dels.map(e => new Path(location, e.file).toString): _*)
    val liveDF = spark.createDataFrame(
      spark.sparkContext.parallelize(filesOf(snap0).map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file_path",
          org.apache.spark.sql.types.StringType, nullable = false))))
    val cleaned = delDF.join(liveDF, Seq("file_path"), "left_semi").distinct()
    val kept = cleaned.count() // maintenance-sized extra pass; exact file sizing below
    val newManifest: Option[String] =
      if (kept == 0L) None
      else {
        val nFiles = math.max(1, math.ceil(kept / 4000000.0).toInt)
        val rel = s"data/deletes-rw-${java.util.UUID.randomUUID().toString.take(8)}"
        val dir = new Path(location, rel)
        cleaned.repartitionByRange(nFiles, col("file_path"), col("pos"))
          .sortWithinPartitions("file_path", "pos")
          .write.parquet(dir.toString)
        val files = {
          val it  = fs.listFiles(dir, true)
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          while (it.hasNext) {
            val p = it.next().getPath
            if (p.getName.endsWith(".parquet")) buf += relativize(p.toString, rel)
          }
          buf.sorted.toIndexedSeq
        }
        // drop zero-row part files from the manifest (a skewed range split
        // can leave empty partitions; a statless delete file would defeat
        // reader-side pruning forever)
        val nonEmpty = manifestEntries(IceTable.PositionDeleteSchema, dir, rel, files,
          Map.empty, Set("file_path"), None).filter(_.rows.exists(_ > 0L))
        if (nonEmpty.isEmpty) None
        else Some(stageManifest(s"m-${IceTable.nextSnapshotId(md0)}", nonEmpty))
      }
    commit("rewrite-deletes", rebase = true, None, newManifest.toSeq) { a =>
      val base = a.base.getOrElse(
        throw new IllegalStateException("table lost its current snapshot mid-maintenance"))
      if (base.deleteManifests != planned)
        throw new java.util.ConcurrentModificationException(
          s"delete manifests of $location moved during rewritePositionDeletes — rerun")
      IceTable.NewSnapshot(a.md, base.copy(operation = "rewrite-deletes", commit_token = None,
        delete_manifests = newManifest.map(List(_))))
    }
    this
  }

  /** Orphan-file cleanup (Iceberg's `remove_orphan_files`): delete parquet
    * files under the table's `data/` tree that NO snapshot references —
    * the debris an interrupted write leaves when its snapshot never
    * commits. Referenced = every file of every snapshot, current or not
    * (time travel must keep working), so a committed file can never be
    * swept. `olderThanMillis` is the in-flight-write guard: a V2 (or
    * library) write stages parquet under data/ BEFORE its metadata CAS
    * commit, so an unreferenced-but-recent file may be a commit about to
    * land, not debris — sweeping it would corrupt the table the moment
    * that commit's manifest references it. Iceberg's remove_orphan_files
    * defaults the same cutoff to 3 days; pass 0 only when no writer can
    * be live (tests, decommission). Returns the deleted table-relative
    * paths. The listing is the only O(table-files) step — at scale it's
    * the same recursive listing a compaction pays,
    * executor-parallelizable, and it touches zero committed data. */
  def removeOrphans(olderThanMillis: Long = IceTable.DefaultOrphanAgeMs): Seq[String] = {
    val md         = metadata
    val referenced = (md.snapshots.flatMap(filesOf) ++
      md.snapshots.flatMap(deleteEntriesOf).map(_.file)).toSet
    val dataDir    = new Path(location, "data")
    if (!fs.exists(dataDir)) return Nil
    val cutoff  = System.currentTimeMillis() - olderThanMillis
    val locPath = location.toUri.getPath.stripSuffix("/")
    val it      = fs.listFiles(dataDir, true)
    val orphans = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      val p  = st.getPath
      if (p.getName.endsWith(".parquet") && st.getModificationTime <= cutoff) {
        val rel = p.toUri.getPath.stripPrefix(locPath).stripPrefix("/")
        if (!referenced.contains(rel)) orphans += rel
      }
    }
    orphans.foreach(rel => fs.delete(new Path(location, rel), false))
    orphans.toSeq
  }
}

object IceTable {

  /** File name of metadata version `v`. */
  private def versionName(v: Int): String = s"v$v.json"

  /** What a commit's build function returns for one attempt. */
  private sealed trait Change
  /** Append `snap` to `md`; the commit sets its id, timestamp and parent. */
  private final case class NewSnapshot(md: TableMetadata, snap: Snapshot) extends Change
  /** Publish `md` as it is (metadata-only operations). */
  private final case class NewMetadata(md: TableMetadata) extends Change
  /** The table already holds this change (a replayed commit token, or
    * nothing to do): commit nothing. */
  private case object AlreadyApplied extends Change

  /** A snapshot of `manifests` (with their summaries) for a commit to number. */
  private def draft(
      operation: String,
      manifests: Seq[(String, Map[String, ColRange])],
      deletes: Option[List[String]],
      token: Option[String]): Snapshot =
    Snapshot(snapshot_id = 0L, timestamp_ms = 0L, operation = operation,
      manifests = manifests.map(_._1).toList,
      manifest_summaries = Some(manifests.map(_._2).toList),
      commit_token = token, delete_manifests = deletes)

  /** The id the next snapshot committed on top of `md` gets. */
  private def nextSnapshotId(md: TableMetadata): Long =
    md.snapshots.map(_.snapshot_id).foldLeft(0L)(math.max) + 1

  /** Default orphan-file age cutoff (3 days, matching Iceberg's
    * remove_orphan_files default): younger unreferenced files are treated
    * as possibly-in-flight staged writes, never swept. */
  val DefaultOrphanAgeMs: Long = 3L * 24 * 60 * 60 * 1000

  /** Schema of merge-on-read position-delete files (Iceberg v2's
    * position-delete spec shape): the manifest-relative DATA file path and
    * the 0-based row position within it. */
  val PositionDeleteSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** Create a new table directory with a v1 metadata (no data yet). */
  def create(
      spark: SparkSession,
      location: String,
      name: String,
      namespace: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionColumns: Seq[String] = Nil): IceTable = {
    require(partitionColumns.forall(schema.fieldNames.contains),
      s"partition columns $partitionColumns not all present in schema")
    // IceLite inherits the reference's flat 8-primitive type surface
    // (SURVEY.md §1.2; TypeNormalizer). Reject anything outside it HERE,
    // with a clear error, instead of failing obscurely downstream in
    // min/max stats collection or export. (The Iceberg v2 layer in
    // IcebergFormat has its own, wider type system.)
    locally {
      import org.apache.spark.sql.types._
      val unsupported = schema.fields.filterNot(f => f.dataType match {
        case StringType | DoubleType | FloatType | LongType | IntegerType |
             TimestampType | TimestampNTZType | DateType | BooleanType => true
        case _: DecimalType => true // flat, parquet-native; excluded from min/max skipping only
        case _ => false
      })
      require(unsupported.isEmpty,
        "IceLite tables support only the flat primitive surface " +
          "{string, double, float, long, int, decimal, timestamp, timestamp_ntz, date, boolean} " +
          "(SURVEY.md §1.2); unsupported column(s): " +
          unsupported.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
          ". Run TypeNormalizer.normalize(df) first, or use the Iceberg v2 writer for nested types.")
    }
    val t  = new IceTable(spark, new Path(location))
    val fs = t.location.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(t.location)) throw new IllegalStateException(s"table location exists: $location")
    fs.mkdirs(t.metadataDir)
    if (!MetadataFiles.publishIfAbsent(fs, t.versionFile(1),
        TableMetadata.create(name, namespace, location, schema, partitionColumns).toJson))
      throw new IllegalStateException(s"table location exists: $location")
    MetadataFiles.writeHint(fs, t.metadataDir, 1)
    t
  }

  /** Load an existing table from its location. */
  def load(spark: SparkSession, location: String): IceTable =
    new IceTable(spark, new Path(location))

  private val FileSnapPat = raw"(?:^|/)snap-(\d+)-".r.unanchored

  /** Snapshot id a data file was committed under, parsed from its
    * `data/snap-<id>-<uuid>` path segment (None for foreign layouts) —
    * the per-file era witness the retired-name stats rule keys off. */
  private[icelite] def fileSnapId(rel: String): Option[Long] = rel match {
    case FileSnapPat(id) => scala.util.Try(id.toLong).toOption
    case _               => None
  }

  /** Scan straight from a metadata file path (reference `iceberg_scan`
    * entry, SURVEY.md §2.1 S11). The scan is pinned to the *given* metadata
    * version — reading v2.json after later commits yields the v2 state,
    * matching iceberg_scan's as-of-this-metadata contract. */
  def scanMetadataFile(spark: SparkSession, metadataPath: String): org.apache.spark.sql.DataFrame = {
    val p = new Path(metadataPath)
    val version = p.getName.stripPrefix("v").stripSuffix(".json")
    require(p.getName.startsWith("v") && p.getName.endsWith(".json") && version.forall(_.isDigit),
      s"not a metadata file path: $metadataPath")
    val t  = new IceTable(spark, p.getParent.getParent)
    val md = t.metadataAt(version.toInt)
    t.frame(md, md.currentSnapshot)
  }

  /** Per-JVM cache of parsed manifests, keyed by absolute dir path.
    * Sound because manifests are immutable once committed (UUID-suffixed,
    * never rewritten in place); bounded by total cached ENTRY count (file
    * count, the actual memory driver — a handful of 10⁶-entry manifests
    * would blow a dir-count bound) with a whole-cache reset at the limit. */
  private val manifestEntries =
    new java.util.concurrent.ConcurrentHashMap[String, IndexedSeq[ManifestEntry]]()
  private val cachedEntryCount = new java.util.concurrent.atomic.AtomicLong(0L)
  private val maxCachedEntries = 4_000_000L

  private[icelite] def manifestCache(key: String)(
      load: => IndexedSeq[ManifestEntry]): IndexedSeq[ManifestEntry] = {
    val hit = manifestEntries.get(key)
    if (hit != null) hit
    else {
      val v = load
      manifestParses.incrementAndGet()
      if (cachedEntryCount.addAndGet(v.size.toLong) > maxCachedEntries) {
        manifestEntries.clear()
        cachedEntryCount.set(v.size.toLong)
      }
      manifestEntries.put(key, v)
      v
    }
  }

  /** Count of actual manifest parses (cache misses) — observability for
    * specs asserting summary-level skipping never opens a pruned manifest. */
  private[graft] val manifestParses = new java.util.concurrent.atomic.AtomicLong(0L)
  // which stats path each manifestEntries call took (round 18): footer = driver
  // footer reads, scan = the distributed fallback. Diagnostic + spec gate.
  private[graft] val footerStatsCommits = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val scanStatsCommits   = new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def resetManifestCacheForTest(): Unit = {
    manifestEntries.clear()
    cachedEntryCount.set(0L)
    manifestParses.set(0L)
  }
}
