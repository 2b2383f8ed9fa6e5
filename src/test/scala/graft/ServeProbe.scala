package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe: the serve-path corpus-independence experiment behind the
  * dd23/sm32 "probe ∝ batch" claim (PERF.md round 15).
  *
  * A synthetic band index is generated DIRECTLY at a given scale — no
  * corpus, no shingling; index rows are (cell, doc_id, band_id, bsig,
  * sig) with bsig/sig derived from a per-group hash — and committed
  * through the exact production layout (`Sim.writeIndexCells` +
  * `IcebergFormat.Writer`, one file per cell with manifest cell bounds).
  * A FIXED batch then probes it through the same plan dd23 serves with:
  * `scanPoints` on the batch's distinct cells, the (cell, band_id, bsig)
  * equi-join, and the signature-agreement verify.
  *
  * The experiment's variable is index size N with `cellBuckets` scaled
  * ∝ N (the documented lever in Dedup.cellBuckets): rows per bucket stay
  * constant, so probe IO (rows read) and probe wall must stay FLAT while
  * the index grows 10× — that, measured, is the corpus-independence
  * claim. Running the 10× step with cellBuckets HELD at the small
  * scale's value shows the contrast (probe degrades ∝ corpus).
  *
  * Usage: sbt "Test/runMain graft.ServeProbe [nSmall] [factor] [baseBuckets]"
  * Prints one SERVEPROBE line per configuration. `baseBuckets` defaults
  * to 640 (the 500 k-doc calibration); pass a larger value together with
  * a larger nSmall to run the same three-leg experiment one decade up
  * (e.g. `5000000 10 6400` probes a 200 M-row index).
  */
object ServeProbe {
  private val bands = 4

  def main(args: Array[String]): Unit = {
    val nSmall = args.headOption.map(_.toLong).getOrElse(500000L)
    val factor = args.lift(1).map(_.toLong).getOrElse(10L)
    val baseBuckets = args.lift(2).map(_.toLong).getOrElse(640L)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // fixed batch: 100 docs, half duplicating index groups (sig matches),
    // half novel — constant across every index scale, and small enough
    // that its ~400 band buckets stay well under the cell count at BOTH
    // scales (so probed-cell count, and with it IO geometry, is batch-
    // determined rather than collision-determined)
    val batchDocs = 100L

    run(spark, "base", nSmall, cellBuckets = baseBuckets, batchDocs)
    run(spark, "10x_scaled_buckets", nSmall * factor, cellBuckets = baseBuckets * factor, batchDocs)
    run(spark, "10x_held_buckets", nSmall * factor, cellBuckets = baseBuckets, batchDocs)
    spark.stop()
  }

  /** Index rows for doc ids [0, n): 10-copy dup groups, bsig/sig pure
    * hashes of (group, band) — data-light, layout-exact. The cell comes
    * from the PRODUCTION formula (`Dedup.bandCell`, reading the
    * cellBuckets conf the caller sets) so the experiment cannot drift
    * from the layout dd23/dd24 actually serve with. */
  private def indexRows(s: SparkSession, n: Long): DataFrame = {
    s.range(n).toDF("doc_id")
      .withColumn("grp", col("doc_id") % (lit(n) / 10))
      .select(col("doc_id"), col("grp"),
        explode(sequence(lit(0), lit(bands - 1))).as("band_id"))
      .withColumn("bsig", array(
        xxhash64(col("grp"), col("band_id"), lit(1)),
        xxhash64(col("grp"), col("band_id"), lit(2))))
      .withColumn("sig", expr(
        "transform(sequence(0, 15), j -> xxhash64(grp, j))"))
      .withColumn("cell", graft.ops.Dedup.bandCell(s))
      .select("cell", "doc_id", "band_id", "bsig", "sig")
  }

  private def run(s: SparkSession, tag: String, n: Long, cellBuckets: Long,
      batchDocs: Long): Unit = {
    import graft.icelite.IcebergFormat
    import org.apache.hadoop.fs.Path
    import s.implicits._
    val root  = s"${graft.Scratch.root}/serveprobe_$tag"
    val rootP = new Path(root)
    val fs    = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(rootP)) fs.delete(rootP, true)

    s.conf.set("spark.graft.dedup.cellBuckets", cellBuckets.toString)
    val t0  = System.nanoTime()
    val idx = indexRows(s, n)
    val loc = s"$root/band_index"
    val w   = new IcebergFormat.Writer(s, loc, idx.schema)
    w.commit(graft.ops.Sim.writeIndexCells(s, idx, loc, "b", sortCol = "doc_id"))
    val buildSec = (System.nanoTime() - t0) / 1e9

    // batch: doc ids above the index range; even ids dup an index group,
    // odd ids get novel groups (no index collision)
    val batch = s.range(batchDocs).toDF("i")
      .select((col("i") + n).as("doc_id"),
        when(col("i") % 2 === 0, col("i") % (lit(n) / 10))
          .otherwise(-col("i") - 1).as("grp"),
        explode(sequence(lit(0), lit(bands - 1))).as("band_id"))
      .withColumn("bsig", array(
        xxhash64(col("grp"), col("band_id"), lit(1)),
        xxhash64(col("grp"), col("band_id"), lit(2))))
      .withColumn("sig", expr("transform(sequence(0, 15), j -> xxhash64(grp, j))"))
      .withColumn("cell", graft.ops.Dedup.bandCell(s))
      .persist()

    val t1     = System.nanoTime()
    val probed = batch.select("cell").distinct().as[Long].collect().sorted
    val (idxScan, kept, total) =
      IcebergFormat.scanPoints(s, w.currentMetadataPath, "cell", probed.map(_.toString))
    val rowsRead = idxScan.count() // rows in the probed cells = probe IO
    val dupHits = batch.as("x")
      .join(idxScan.as("y"),
        col("x.cell") === col("y.cell") && col("x.band_id") === col("y.band_id") &&
          col("x.bsig") === col("y.bsig"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("idx_doc"),
        col("x.sig").as("sa"), col("y.sig").as("sb"))
      .distinct()
      .withColumn("eq", expr("size(filter(zip_with(sa, sb, (a, b) -> a = b), x -> x))"))
      .filter(col("eq") >= 8)
      .select("doc_id").distinct().count()
    val probeSec = (System.nanoTime() - t1) / 1e9
    batch.unpersist()

    println(f"SERVEPROBE tag=$tag n=$n cellBuckets=$cellBuckets " +
      f"build=$buildSec%.1fs probe=$probeSec%.2fs filesOpened=$kept/$total " +
      f"rowsRead=$rowsRead dupDocs=$dupHits (expect ${batchDocs / 2})")
    fs.delete(rootP, true)
  }
}
