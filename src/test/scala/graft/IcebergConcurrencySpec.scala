package graft

import graft.icelite.IcebergFormat
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Concurrent-writer commit safety for the standard-Iceberg writer (the
  * round-15 verdict's open race): a 100 TB warehouse has parallel jobs
  * appending to one table, so the Writer's commit must be optimistic-
  * concurrency safe — snapshot-scoped metadata names (manifest, manifest
  * list, vN.metadata.json) are claimed exactly once through
  * `MetadataFiles.publishIfAbsent` (a hard link on the local FS), a
  * loser rolls its partial artifacts back and surfaces
  * ConcurrentModificationException, and [[IcebergFormat.appendWithRetry]]
  * resumes from the winner's metadata and re-publishes (metadata-only —
  * staged data files are immutable). */
class IcebergConcurrencySpec extends SparkSpec {

  private def nation = Tables.nation(spark, sfDir)

  private def fsOf(loc: String) =
    new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("sequential conflict: second writer at a stale base fails cleanly and retries to success") {
    val root = scratch("conc_seq")
    val loc  = s"$root/t_conc"
    val base = nation.filter(col("n_nationkey") < 10).orderBy("n_nationkey")
    val w0 = new IcebergFormat.Writer(spark, loc, nation.schema)
    w0.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "base", base)))

    // two writers resumed at the same base version
    val wA = IcebergFormat.resumeWriter(spark, loc)
    val wB = IcebergFormat.resumeWriter(spark, loc)
    val fA = IcebergFormat.writeSingleFile(spark, loc, "a",
      nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20))
    val fB = IcebergFormat.writeSingleFile(spark, loc, "b",
      nation.filter(col("n_nationkey") >= 20))
    wA.commit(Seq(fA)) // wins snapshot 2

    val fs = fsOf(loc)
    val filesBeforeLoss = fs.listStatus(new Path(loc, "metadata")).map(_.getPath.getName).toSet
    intercept[java.util.ConcurrentModificationException] { wB.commit(Seq(fB)) }
    // clean failure: the losing attempt left no new metadata files behind
    val filesAfterLoss = fs.listStatus(new Path(loc, "metadata")).map(_.getPath.getName).toSet
    assert(filesAfterLoss == filesBeforeLoss,
      s"loser leaked metadata: ${(filesAfterLoss -- filesBeforeLoss).mkString(",")}")

    // retry from current metadata lands the append as snapshot 3
    IcebergFormat.appendWithRetry(spark, loc, Seq(fB))
    val scanned = IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc))
    assert(scanned.count() == nation.count(), "retried append lost rows")
  }

  test("threaded race: both appends land, versions stay contiguous, no orphan metadata") {
    val root = scratch("conc_race")
    val loc  = s"$root/t_race"
    val w0 = new IcebergFormat.Writer(spark, loc, nation.schema)
    w0.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "base",
      nation.filter(col("n_nationkey") < 5))))

    // stage both deltas up front — the race is purely over commits
    val staged = Seq(
      IcebergFormat.writeSingleFile(spark, loc, "t1",
        nation.filter(col("n_nationkey") >= 5 && col("n_nationkey") < 15)),
      IcebergFormat.writeSingleFile(spark, loc, "t2",
        nation.filter(col("n_nationkey") >= 15)))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errors  = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = staged.map { f =>
      new Thread(() => {
        try {
          barrier.await()
          IcebergFormat.appendWithRetry(spark, loc, Seq(f))
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), "a racing append hung past the join timeout")
    assert(errors.isEmpty, s"racing append failed: ${errors.peek()}")

    // final state: base + both deltas, regardless of commit order
    val mdPath  = IcebergFormat.currentMetadataPath(spark, loc)
    val scanned = IcebergFormat.scan(spark, mdPath)
    assert(scanned.count() == nation.count(), "a racing append was lost")

    // version list is monotone and gapless: v00001..v00003
    val fs = fsOf(loc)
    val versions = fs.listStatus(new Path(loc, "metadata")).map(_.getPath.getName)
      .filter(_.endsWith(".metadata.json")).sorted.toSeq
    assert(versions == Seq("v00001.metadata.json", "v00002.metadata.json", "v00003.metadata.json"),
      s"non-contiguous version history: $versions")

    // no orphan metadata: every file in metadata/ is reachable from a
    // committed version (losing attempts rolled their artifacts back)
    val onDisk    = fs.listStatus(new Path(loc, "metadata")).map(_.getPath.getName).toSet
    val reachable = reachableSpecMetadata(loc)
    assert((onDisk -- reachable).isEmpty,
      s"orphan metadata files: ${(onDisk -- reachable).mkString(",")}")
  }

  test("concurrent manifest-planned scans never leak the discovery threshold") {
    // Library scans read through the DSv2 connector and set no session
    // conf, so racing scans cannot leave a discovery threshold behind.
    val threshKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val before    = spark.conf.getOption(threshKey)

    val root = scratch("conc_scan")
    val loc  = s"$root/t"
    val w    = new IcebergFormat.Writer(spark, loc, nation.schema)
    w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f1",
      nation.filter(col("n_nationkey") % 2 === 0))))
    w.commit(Seq(IcebergFormat.writeSingleFile(spark, loc, "f2",
      nation.filter(col("n_nationkey") % 2 === 1))))
    val mdPath   = IcebergFormat.currentMetadataPath(spark, loc)
    val expected = nation.count()
    val scopedRaise = Some("3") // 2 planned files + 1

    val errors   = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val observed = java.util.concurrent.ConcurrentHashMap.newKeySet[Option[String]]()
    val barrier  = new java.util.concurrent.CyclicBarrier(5)
    val scanners = (1 to 4).map { _ =>
      new Thread(() => {
        try {
          barrier.await()
          (1 to 10).foreach { _ =>
            assert(IcebergFormat.scan(spark, mdPath).count() == expected)
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    val sampler = new Thread(() => {
      try {
        barrier.await()
        (1 to 200).foreach { _ =>
          observed.add(spark.conf.getOption(threshKey))
          Thread.sleep(1)
        }
      } catch { case t: Throwable => errors.add(t) }
    })
    (scanners :+ sampler).foreach(_.start())
    (scanners :+ sampler).foreach(_.join(120000))
    assert(scanners.forall(!_.isAlive) && !sampler.isAlive, "a racing scan hung")
    assert(errors.isEmpty, s"racing scan failed: ${errors.peek()}")
    val stray = {
      val it = observed.iterator(); var s = Set.empty[Option[String]]
      while (it.hasNext) s += it.next(); s -- Set(before, scopedRaise)
    }
    assert(stray.isEmpty,
      s"sampler observed a threshold that is neither the original nor a scoped raise: $stray")
    assert(spark.conf.getOption(threshKey) == before,
      "threshold did not return to its original value after the race")
  }
}
