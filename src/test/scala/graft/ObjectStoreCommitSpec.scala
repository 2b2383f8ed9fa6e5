package graft

import graft.icelite.{FsCatalog, IceTable, IcebergFormat}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The commit protocol over the OBJECT-STORE contract (third-round carry:
  * everything else runs on file:// where rename is atomic; the reference
  * deploys on S3/R2). [[ObjectStoreFileSystem]] gives copy+delete rename
  * that silently overwrites, plus atomic conditional create — exactly
  * what real stores offer — and the CAS commit must stay correct on it:
  * racing appends both land via conditional-put arbitration, row-delta
  * commits CAS the same way, maintenance never sweeps live files, and
  * the rename hazard itself is demonstrated (why rename-as-CAS would be
  * silent data loss off the local FS). Both table formats publish their
  * metadata without a rename, race, and survive a failed hint write. */
class ObjectStoreCommitSpec extends SparkSpec {

  private def objScratch(name: String): String =
    "objstore:" + scratch(s"obj_$name")

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration
      .set("fs.objstore.impl", classOf[ObjectStoreFileSystem].getName)
  }

  test("shim semantics: rename is copy+delete and overwrites an existing destination") {
    val root = new Path(objScratch("sem"))
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[ObjectStoreFileSystem], s"shim not registered: ${fs.getClass}")
    def put(p: Path, s: String): Unit = {
      val o = fs.create(p, true); o.write(s.getBytes("UTF-8")); o.close()
    }
    def read(p: Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    val a = new Path(root, "a.txt"); val c = new Path(root, "c.txt")
    put(a, "A"); put(c, "C")
    // THE hazard: rename onto an existing object succeeds and clobbers —
    // a rename-as-CAS "winner" would silently vanish
    assert(fs.rename(a, c), "object-store rename should succeed onto an existing key")
    assert(!fs.exists(a) && read(c) == "A", "copy+delete semantics violated")
    // conditional put is the arbitration primitive instead
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](fs.create(c, false))
  }

  test("racing concurrent appends BOTH land via conditional-put CAS") {
    val cat  = new FsCatalog(spark, objScratch("race"))
    val t    = cat.createOrReplaceTable("ns", "nation_objrace", Tables.nation(spark, sfDir))
    val base = t.scan().count()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool    = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            val mine = Tables.nation(spark, sfDir).filter(col("n_nationkey") % 2 === i % 2)
            barrier.await()
            t.append(mine)
          }
        })
      }
      futures.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS)) // generous: a loaded box must not flake the race
    } finally pool.shutdown()
    val snaps = t.snapshots()
    assert(snaps.size == 3, s"expected 3 snapshots (create + 2 appends), got ${snaps.size}")
    assert(t.scan().count() == base + Tables.nation(spark, sfDir).count())
    val parents = snaps.sortBy(_.snapshot_id).map(_.parent_snapshot_id)
    assert(parents == snaps.sortBy(_.snapshot_id).map(s => Option(s.snapshot_id - 1).filter(_ > 0)),
      s"history is not a linear rebase chain: $parents")
  }

  test("merge-on-read SQL DELETE commits its row delta over the object store") {
    val wh = objScratch("mor")
    spark.conf.set("spark.sql.catalog.ice_objmor", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_objmor.warehouse", wh)
    spark.conf.set("graft.delete.mode", "merge-on-read")
    try {
      val cat = new FsCatalog(spark, wh)
      val t0  = cat.createOrReplaceTable("graft", "nat_objmor",
        Tables.nation(spark, sfDir).select("n_nationkey", "n_name"))
      val before = t0.filesOf(t0.metadata.currentSnapshot.get).toSet
      spark.sql("DELETE FROM ice_objmor.graft.nat_objmor WHERE n_nationkey % 3 = 0")
      val t1   = cat.loadTable("graft", "nat_objmor")
      val snap = t1.metadata.currentSnapshot.get
      assert(t1.filesOf(snap).toSet == before, "MoR DELETE rewrote data files on objstore")
      assert(t1.deleteEntriesOf(snap).nonEmpty, "no position deletes committed on objstore")
      val want = Tables.nation(spark, sfDir).filter(!(col("n_nationkey") % 3 === 0)).count()
      assert(t1.scan().count() == want, "delete-applied scan wrong over objstore")
    } finally {
      spark.conf.unset("graft.delete.mode")
      spark.conf.unset("spark.sql.catalog.ice_objmor")
      spark.conf.unset("spark.sql.catalog.ice_objmor.warehouse")
    }
  }

  test("expire + orphan sweep over the object store keep live files, reclaim dead ones") {
    val cat = new FsCatalog(spark, objScratch("maint"))
    val t   = cat.createOrReplaceTable("ns", "nation_objm", Tables.nation(spark, sfDir))
    t.replace(Tables.nation(spark, sfDir)) // v1's files become unreferenced history
    t.append(Tables.nation(spark, sfDir))
    val full = t.scan().count()
    t.expireSnapshots(keepLast = 2)
    assert(t.snapshots().size == 2, "expire did not trim the log on objstore")
    val swept = t.removeOrphans(olderThanMillis = 0L)
    assert(t.scan().count() == full, s"orphan sweep damaged live data (swept $swept)")
    // loose garbage IS reclaimed
    val fs = new Path(t.location.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val junk = new Path(t.location.toString, "data/junk-loose.parquet")
    val o = fs.create(junk, true); o.write(Array[Byte](1, 2, 3)); o.close()
    assert(t.removeOrphans(olderThanMillis = 0L).size >= 1, "loose orphan not swept on objstore")
    assert(!fs.exists(junk), "orphan file survived the sweep")
    assert(t.scan().count() == full)
  }

  private def nation = Tables.nation(spark, sfDir)

  private def specFile(loc: String, name: String, keys: org.apache.spark.sql.Column) =
    IcebergFormat.writeSingleFile(spark, loc, name, nation.filter(keys))

  test("neither format renames under metadata/ on the object store") {
    val loc = objScratch("norename_spec")
    ObjectStoreFileSystem.renames.clear()
    new IcebergFormat.Writer(spark, loc, nation.schema)
      .commit(Seq(specFile(loc, "a", col("n_nationkey") < 10)))
    IcebergFormat.appendWithRetry(spark, loc, Seq(specFile(loc, "b", col("n_nationkey") >= 10)))
    IcebergFormat.resumeWriter(spark, loc).expireSnapshots(keepLast = 1)
    assert(IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc)).count() ==
      nation.count())
    val t = new FsCatalog(spark, objScratch("norename_ice"))
      .createOrReplaceTable("ns", "nation_norename", nation)
    t.append(nation)
    assert(t.scan().count() == 2 * nation.count())
    val renamed = ObjectStoreFileSystem.renames.asScala.toSeq
      .filter { case (src, dst) => src.contains("/metadata/") || dst.contains("/metadata/") }
    assert(renamed.isEmpty, s"metadata renames on the object store: ${renamed.mkString(", ")}")
  }

  test("racing spec-table appends BOTH land: contiguous versions, no orphan metadata") {
    val loc = objScratch("race_spec")
    new IcebergFormat.Writer(spark, loc, nation.schema)
      .commit(Seq(specFile(loc, "base", col("n_nationkey") < 5)))
    val staged = Seq(
      specFile(loc, "t1", col("n_nationkey") >= 5 && col("n_nationkey") < 15),
      specFile(loc, "t2", col("n_nationkey") >= 15))
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
    assert(IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, loc)).count() ==
      nation.count(), "a racing append was lost")
    val fs     = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new Path(loc, "metadata")).map(_.getPath.getName).toSet
    assert(onDisk.filter(_.endsWith(".metadata.json")).toSeq.sorted ==
      Seq("v00001.metadata.json", "v00002.metadata.json", "v00003.metadata.json"),
      s"non-contiguous version history: $onDisk")
    val orphans = onDisk -- reachableSpecMetadata(loc)
    assert(orphans.isEmpty, s"orphan metadata files: ${orphans.mkString(",")}")
  }

  test("a commit whose hint write fails returns normally; the next resolution finds it") {
    val loc = objScratch("hintfault_spec")
    val w   = new IcebergFormat.Writer(spark, loc, nation.schema)
    w.commit(Seq(specFile(loc, "a", col("n_nationkey") < 10)))
    val t = new FsCatalog(spark, objScratch("hintfault_ice"))
      .createOrReplaceTable("ns", "nation_hintfault", nation)
    ObjectStoreFileSystem.failCreate.set(Some("^version-hint".r))
    try {
      w.commit(Seq(specFile(loc, "b", col("n_nationkey") >= 10)))
      t.append(nation)
    } finally ObjectStoreFileSystem.failCreate.set(None)
    // the hints still name the previous versions: the resolver walks past them
    val mp = IcebergFormat.currentMetadataPath(spark, loc)
    assert(mp.endsWith("/metadata/v00002.metadata.json"), mp)
    assert(IcebergFormat.scan(spark, mp).count() == nation.count())
    val reloaded = IceTable.load(spark, t.location.toString)
    assert(reloaded.currentVersion == 3) // create, the first append, the faulted one
    assert(reloaded.scan().count() == 2 * nation.count())
  }
}
