package graft.ops

import graft.{Hashing, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over `documents`.
  *
  * Four families, scale-ordered:
  *  - exact: hash-groupBy on content — one shuffle on the content key.
  *  - n-gram Jaccard: shingle equi-join — the scalable exact-similarity
  *    path (no O(n^2) cross join; work is proportional to shared-shingle
  *    pairs). Hot shingles are the skew risk at 100 TB → AQE skew join /
  *    salting; the shingle explode is map-side only.
  *  - MinHash + LSH: signature → band → bucket equi-join. The candidate set
  *    is found by joining on (band_id, band_signature) — at 100 TB this is
  *    the canonical near-dup design (cost ~ #docs * #hashes, plus tiny
  *    bucket joins). Candidates are then verified with exact Jaccard.
  *  - SimHash: 32-bit signature + pairwise hamming (quadratic verify kept
  *    for oracle parity; the scale path would bucket on signature bytes).
  *
  * All hashing is the shared integer arithmetic in [[graft.Hashing]],
  * replicated verbatim in the DuckDB oracle SQL — LSH candidate sets match
  * bit-for-bit, so the oracle checks the *algorithm*, not just recall.
  */
object Dedup {

  private val P = Hashing.P

  /** doc_id + distinct word-3-gram shingle strings (codegen'd single pass;
    * empty array ⟺ fewer than 3 words, i.e. the oracle's len(ws)>=3 gate). */
  private def shingles(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"), graft.functions.hashfns.wordShingles(col("text"), 3).as("shs"))
      .filter(size(col("shs")) >= 1)

  private val duckShingles =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS shs
        FROM w WHERE len(ws) >= 3)"""

  // ------------------------------------------------------------------ exact

  private def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  // --------------------------------------------------------- n-gram jaccard

  private def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    // EXACTNESS BASELINE, bounded to Sim.baselineCap ids like the other
    // quadratic baselines (sm02/dd04/dd05): the uncapped postings join is
    // Σdf² and a corpus of 10-way near-copies makes it the entire bench
    // (measured 210 s of a 577 s 10x run before the bound). The
    // full-corpus production paths are dd07 (df-capped shingles) and
    // dd03 (MinHash banding), both of which stay unbounded.
    //
    // the shingle frame feeds the self-joined postings (twice) and the two
    // size joins — persist it so shingle construction runs once. At cluster
    // scale the same call applies, backed by executor memory/disk; the
    // harness (Bench/Verify) clears the cache between queries.
    val sh = shingles(s, d).filter(col("doc_id") < Sim.baselineCap).persist()
    val e  = sh.select(col("doc_id"), explode(col("shs")).as("sg"))
    val sz = sh.select(col("doc_id"), size(col("shs")).cast("long").as("sz"))
    val inter = e.as("a")
      .join(e.as("b"), col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("c"))
    val jac = col("c").cast("double") /
      (col("sa.sz") + col("sb.sz") - col("c")).cast("double")
    inter
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(jac >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  private val ngramJaccardOracle =
    s"""WITH $duckShingles,
      e AS (SELECT doc_id, unnest(shs) AS sg FROM sh WHERE doc_id < ${Sim.baselineCap}),
      sz AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS sz FROM sh WHERE doc_id < ${Sim.baselineCap}),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM e a JOIN e b ON a.sg = b.sg AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             ROUND(CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE), 4) AS jaccard
      FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
      WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.5
      ORDER BY doc_a, doc_b"""

  // ------------------------------------------------------------ minhash lsh

  /** Hot-bucket cap for LSH band buckets. A (band_id, band-signature)
    * bucket of k members emits O(k²) candidate pairs from the band
    * self-join; organic buckets are tiny (measured max 4 at sf0.1, max 3
    * at sf0.01) but boilerplate-heavy crawls carry million-copy groups
    * whose single bucket would dominate the whole job (measured: dd03 ran
    * 89.8× at 100× rows on a dup-saturated corpus before the cap). Bucket
    * members are ranked by doc_id; only the first `bucketCap` take part in
    * pairwise candidate generation. The overflow is a deterministic,
    * auditable quantity — [[bucketDropCount]] recomputes and logs it on
    * demand (spec gates assert it; an operator suspecting cap pressure
    * queries it without re-running the job) — but the mining itself no
    * longer counts eagerly: that billed a full extra driver job to every
    * query in the family (r14's only >2× regression). The
    * CLUSTERING path ([[ccLabels]]) drops nothing: overflow buckets emit
    * STAR edges (every member → the bucket-min doc, O(k) edges), which
    * keeps the same connected components for the everything-alike buckets
    * the cap exists for. The default sits far above any organic
    * sf0.01/sf0.1 bucket, so oracle runs are byte-identical with or
    * without the cap; override with spark.graft.dedup.bucketCap (specs set
    * it tiny to exercise both paths). */
  private[graft] def bucketCap(s: SparkSession): Int =
    s.conf.getOption("spark.graft.dedup.bucketCap").map(_.toInt).getOrElse(64)

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup")

  /** Band-bucket members beyond the hot-bucket cap for dataset `d` — the
    * audit counterpart of [[cappedCandidates]], a pure function of
    * (corpus, cap) computed on demand from the memoized ranked frame (the
    * frame is persisted, so after any dedup query has run this is a cached
    * scan, not a recompute). Returned per invocation — no shared mutable
    * counter, so concurrent dedup queries (or a spec gate racing a bench)
    * cannot interleave each other's counts. The r14 version counted this
    * EAGERLY inside cappedCandidates, which billed a full extra job to
    * every dd03-family invocation (the round's only >2× sf0.1 mover,
    * 0.57 → 1.31 s); the audit is now pull-based, paid only by callers
    * that want it (spec gates, operators that log coverage). */
  private[graft] def bucketDropCount(s: SparkSession, d: String): Long = {
    val cap = bucketCap(s)
    val dropped = rankedBandFor(s, d).filter(col("rk") > cap).count()
    if (dropped > 0) log.warn(
      s"LSH hot-bucket cap $cap excludes $dropped band-bucket members from pairwise mining " +
        "(boilerplate-class buckets; clustering still covers them via star edges)")
    dropped
  }

  /** The banded-signature frame (doc_id, band_id, bsig) with per-bucket
    * rank/size/min columns, PERSISTED: it feeds both self-join sides and
    * the overflow audit, so signatures compute once. Both windows share
    * the bucket-key partitioning — one shuffle total. */
  private def rankedBand(band: DataFrame): DataFrame = {
    val byBucket = Window.partitionBy("band_id", "bsig")
    band
      .withColumn("rk", row_number().over(byBucket.orderBy("doc_id")))
      .withColumn("k", count(lit(1)).over(byBucket))
      .withColumn("bmin", min(col("doc_id")).over(byBucket))
      .persist()
  }

  /** Capped pairwise candidates (doc_a < doc_b, distinct across bands)
    * from a ranked band frame — generated in ONE pass: group each bucket's
    * capped members (collect_list is BOUNDED by the cap, ≤64 ids, so no
    * unbounded per-group array at 100 TB) and explode the C(k,2) pairs.
    * The earlier bucket-key SELF-JOIN was the same logical result but
    * computed the signature pipeline twice when the persisted input was
    * cold (both join sides race to materialize it — dd03 measured 2.7×
    * slower); the groupBy reuses the window's bucket-key partitioning, so
    * this adds no shuffle. The overflow audit lives in [[bucketDropCount]],
    * pull-based — building candidates costs no extra driver job. */
  private def cappedCandidates(s: SparkSession, ranked: DataFrame): DataFrame =
    cappedPairs(s, ranked).distinct()

  /** [[cappedCandidates]] WITHOUT the cross-band distinct — for callers
    * like [[ccLabels]] that union more edges in and distinct once at the
    * end (a second shuffle of the same pair set would be pure waste). */
  private def cappedPairs(s: SparkSession, ranked: DataFrame): DataFrame = {
    val cap = bucketCap(s)
    ranked.filter(col("rk") <= cap)
      .groupBy("band_id", "bsig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1),
          |            b -> struct(a AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
  }

  /** Memoized persisted frames, keyed on (session UUID, dir) and VALIDATED
    * per lookup rather than trusted for the JVM lifetime:
    *  - a dir fingerprint (name ⊕ mtime ⊕ length folded over the
    *    documents.parquet entries) enforces the immutability contract —
    *    a spec that rewrites a scratch dir in the same JVM gets a rebuild,
    *    not a stale frame (the old entry is unpersisted on replacement);
    *  - the session UUID in the key means a stopped-and-recreated
    *    SparkSession never sees a dead frame bound to the old session;
    *  - a storage-level check re-arms persist() after an external
    *    `spark.catalog.clearCache()` (the bench clears between queries),
    *    so memoization survives instead of silently degrading to
    *    recompute-per-read;
    *  - each lookup sweeps entries whose SparkContext has stopped, and an
    *    LRU cap bounds the live-context population (a weak reference
    *    would never fire here — the memoized Dataset itself strongly
    *    references its owning session — so boundedness comes from the
    *    cap, with the coldest frame unpersisted on eviction). A
    *    long-lived JVM cycling sessions over one context holds at most
    *    MaxEntries frames. */
  private final case class Memo(
      fp: Long, df: DataFrame, owner: SparkSession,
      @volatile var lastUsed: Long)
  private final class FrameCache {
    private val m = new java.util.concurrent.ConcurrentHashMap[(String, String), Memo]()
    private val MaxEntries = 16
    private def drop(k: (String, String), e: Memo): Unit = {
      m.remove(k, e)
      try e.df.unpersist() catch { case _: Throwable => () }
    }
    private def sweep(): Unit = {
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        // a frame of a stopped context is unreachable anyway; just drop it
        if (it.next().getValue.owner.sparkContext.isStopped) it.remove()
      }
      if (m.size > MaxEntries) {
        import scala.jdk.CollectionConverters._
        m.entrySet().asScala.toSeq.sortBy(_.getValue.lastUsed)
          .take(m.size - MaxEntries)
          .foreach(e => drop(e.getKey, e.getValue))
      }
    }
    def get(s: SparkSession, d: String)(build: => DataFrame): DataFrame = {
      sweep()
      val fp = dirFingerprint(s, d)
      // session identity: applicationId changes when the underlying
      // SparkContext is stopped/recreated; the identity hash separates
      // sibling sessions sharing one context
      val sid = s.sparkContext.applicationId + "#" + System.identityHashCode(s)
      val e = m.compute((sid, d), (_, old) =>
        if (old != null && old.fp == fp) old
        else {
          if (old != null)
            try old.df.unpersist() catch { case _: Throwable => () }
          Memo(fp, build, s, System.nanoTime())
        })
      e.lastUsed = System.nanoTime()
      if (e.df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) e.df.persist()
      e.df
    }
  }

  /** Driver-side fingerprint of `d`/documents.parquet (file or directory
    * of part files) — one readdir through the path's own Hadoop
    * FileSystem (so hdfs:// and s3a:// dataset dirs fingerprint their
    * real listing instead of degenerating to a java.io.File constant),
    * no Spark job. */
  private def dirFingerprint(s: SparkSession, d: String): Long = {
    val p  = new org.apache.hadoop.fs.Path(d, "documents.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val statuses =
      if (!fs.exists(p)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else {
        val st = fs.getFileStatus(p)
        if (st.isDirectory) fs.listStatus(p) else Array(st)
      }
    statuses.foldLeft(d.hashCode.toLong) { (acc, st) =>
      acc ^ (st.getPath.getName.hashCode * 1000003L +
        st.getModificationTime * 31L + st.getLen)
    }
  }

  /** doc_id + distinct hashed shingle sets (codegen'd rolling hash),
    * persisted ONCE per (session, dataset dir, dir fingerprint) — six
    * dedup queries and the bench's min-of-two reruns all share one cached
    * frame instead of stacking a fresh MEMORY_AND_DISK entry per
    * invocation. Feeds the signature path and the verify joins. */
  private val hsCache = new FrameCache

  private def hashedShingles(s: SparkSession, d: String): DataFrame =
    hsCache.get(s, d) {
      import graft.functions.hashfns
      shingles(s, d).select(
        col("doc_id"),
        array_distinct(transform(col("shs"), sg => hashfns.rollHash(sg, P))).as("hset"))
        .persist()
    }

  /** [[rankedBand]] over [[hashedShingles]], memoized like its input (same
    * fingerprint-validated contract); the ranked frame is cap-independent —
    * [[cappedCandidates]] applies the cap at read time. */
  private val rankedCache = new FrameCache

  private def rankedBandFor(s: SparkSession, d: String): DataFrame =
    rankedCache.get(s, d)(rankedBand(bandOfHs(hashedShingles(s, d))))

  /** Band the 16-value MinHash signature by slicing the array — the sliced
    * array itself is the equi-join key (no csv-string building). The whole
    * signature computes in one map-side pass (no explode/crossJoin/
    * shuffled min-agg). */
  private def bandOfHs(hs: DataFrame): DataFrame = {
    import graft.functions.hashfns
    hs.select(col("doc_id"), hashfns.minhashSig(col("hset")).as("sig"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${16 / Hashing.bandRows - 1}), " +
          s"b -> slice(sig, b * ${Hashing.bandRows} + 1, ${Hashing.bandRows}))")))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "bsig")
  }

  /** Exact Jaccard over candidate pairs, computed map-side from the two
    * hset arrays (array_intersect) — no explode + re-join + shuffled
    * count. The hset frame is per-doc (tiny next to the corpus text), so
    * AQE broadcasts it; at 100 TB these become shuffle joins on doc_id,
    * still proportional to the candidate count, not the corpus. */
  private def verifyJaccard(cand: DataFrame, hs: DataFrame): DataFrame = {
    val c = size(array_intersect(col("ha"), col("hb"))).cast("long")
    val jac = c.cast("double") /
      (size(col("ha")) + size(col("hb")) - c).cast("double")
    cand
      .join(hs.select(col("doc_id").as("doc_a"), col("hset").as("ha")), Seq("doc_a"))
      .join(hs.select(col("doc_id").as("doc_b"), col("hset").as("hb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
  }

  /** Verified near-dup pairs (doc_a < doc_b, exact Jaccard over hashed
    * shingle sets) found via MinHash banding, hot buckets capped — shared
    * by dd03 and the pair-audit family. */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val hs = hashedShingles(s, d)
    verifyJaccard(cappedCandidates(s, rankedBandFor(s, d)), hs)
  }

  private def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashPairs(s, d).orderBy("doc_a", "doc_b")

  // ------------------------------- minhash estimator quality (sketch eval)

  /** Estimator audit for dd03 — "measure, don't guess" applied to the
    * sketch itself: for every LSH candidate pair, the MinHash ESTIMATE of
    * Jaccard (matching signature positions / 16) next to the exact value,
    * with absolute error. The number that decides whether 16 hashes are
    * enough before anyone trusts the index at 100 TB. Same bounded
    * band-join shape as dd03; the estimate adds two per-doc signature
    * probes (map-side zip_with), never a second corpus pass. */
  private def minhashEst(s: SparkSession, d: String): DataFrame = {
    import graft.functions.hashfns
    val hs   = hashedShingles(s, d)
    val sigs = hs.select(col("doc_id"), hashfns.minhashSig(col("hset")).as("sig"))
    val cand = cappedCandidates(s, rankedBandFor(s, d))
    val c   = size(array_intersect(col("ha"), col("hb"))).cast("long")
    val jac = c.cast("double") / (size(col("ha")) + size(col("hb")) - c).cast("double")
    cand
      .join(hs.select(col("doc_id").as("doc_a"), col("hset").as("ha")), Seq("doc_a"))
      .join(hs.select(col("doc_id").as("doc_b"), col("hset").as("hb")), Seq("doc_b"))
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), Seq("doc_b"))
      .withColumn("eq", expr("size(filter(zip_with(sa, sb, (a, b) -> a = b), x -> x))"))
      .select(col("doc_a"), col("doc_b"),
        round(jac, 4).as("jaccard"),
        round(col("eq") / 16.0, 4).as("est_jaccard"),
        round(abs(round(jac, 4) - round(col("eq") / 16.0, 4)), 4).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  private lazy val minhashEstOracle =
    s"""WITH $minhashPairsCte,
      mh AS (
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) AS BIGINT) AS eq
        FROM cand c
        JOIN sig x ON x.doc_id = c.doc_a
        JOIN sig y ON y.doc_id = c.doc_b AND y.j = x.j
        GROUP BY 1, 2)
      SELECT p.doc_a, p.doc_b, p.jaccard,
             ROUND(m.eq / 16.0, 4) AS est_jaccard,
             ROUND(ABS(p.jaccard - ROUND(m.eq / 16.0, 4)), 4) AS abs_err
      FROM pairs p JOIN mh m ON p.doc_a = m.doc_a AND p.doc_b = m.doc_b
      ORDER BY p.doc_a, p.doc_b"""

  // --------------------------------- containment (asymmetric near-dup)

  /** Containment classification over the dd03 candidate set: Jaccard is
    * symmetric and misses subset duplication (a doc quoted whole inside a
    * longer one), so each pair also gets |A∩B|/|A| and |A∩B|/|B| and a
    * label — 'mutual' / 'a_in_b' / 'b_in_a' at 0.9 containment, else
    * 'partial'. Thresholds compare the RAW integer-ratio doubles (identical
    * in both engines); rounding is output-only. Same bounded candidate
    * join as dd03 — no new scale surface. */
  private def containment(s: SparkSession, d: String): DataFrame = {
    val hs   = hashedShingles(s, d)
    val cand = cappedCandidates(s, rankedBandFor(s, d))
    val c  = size(array_intersect(col("ha"), col("hb"))).cast("double")
    val ca = c / size(col("ha"))
    val cb = c / size(col("hb"))
    cand
      .join(hs.select(col("doc_id").as("doc_a"), col("hset").as("ha")), Seq("doc_a"))
      .join(hs.select(col("doc_id").as("doc_b"), col("hset").as("hb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(ca, 4).as("cont_a"), round(cb, 4).as("cont_b"),
        when(ca >= 0.9 && cb >= 0.9, "mutual")
          .when(ca >= 0.9, "a_in_b")
          .when(cb >= 0.9, "b_in_a")
          .otherwise("partial").as("kind"))
      .orderBy("doc_a", "doc_b")
  }

  private lazy val containmentOracle =
    s"""WITH $minhashPairsCte
      SELECT c.doc_a, c.doc_b,
             ROUND(COALESCE(i.c, 0) / CAST(sa.sz AS DOUBLE), 4) AS cont_a,
             ROUND(COALESCE(i.c, 0) / CAST(sb.sz AS DOUBLE), 4) AS cont_b,
             CASE
               WHEN COALESCE(i.c, 0) / CAST(sa.sz AS DOUBLE) >= 0.9
                AND COALESCE(i.c, 0) / CAST(sb.sz AS DOUBLE) >= 0.9 THEN 'mutual'
               WHEN COALESCE(i.c, 0) / CAST(sa.sz AS DOUBLE) >= 0.9 THEN 'a_in_b'
               WHEN COALESCE(i.c, 0) / CAST(sb.sz AS DOUBLE) >= 0.9 THEN 'b_in_a'
               ELSE 'partial'
             END AS kind
      FROM cand c
      LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
      JOIN sz sa ON c.doc_a = sa.doc_id
      JOIN sz sb ON c.doc_b = sb.doc_id
      ORDER BY c.doc_a, c.doc_b"""

  /** CTE chain ending in `pairs(doc_a, doc_b, jaccard)` — the oracle twin
    * of [[minhashPairs]], shared by the dd03 and dd06 oracles. */
  private[graft] val minhashPairsCte = {
    val shHash = Hashing.duckRollHash("sg", P, "c0")
    s"""$duckShingles,
      hs AS (
        SELECT doc_id, list_distinct(list_transform(shs, sg -> $shHash)) AS hset FROM sh),
      eh AS (SELECT doc_id, unnest(hset) AS h FROM hs),
      params(j, pa, pb) AS (VALUES ${Hashing.duckMinhashParams}),
      sig AS (
        SELECT doc_id, j, MIN((pa * h + pb) % $P) AS m
        FROM eh CROSS JOIN params GROUP BY doc_id, j),
      band AS (
        SELECT doc_id, j // ${Hashing.bandRows} AS band_id,
               string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS bsig
        FROM sig GROUP BY doc_id, j // ${Hashing.bandRows}),
      cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM band x JOIN band y
          ON x.band_id = y.band_id AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS c
        FROM cand c
        JOIN eh ea ON c.doc_a = ea.doc_id
        JOIN eh eb ON c.doc_b = eb.doc_id AND ea.h = eb.h
        GROUP BY 1, 2),
      sz AS (SELECT doc_id, CAST(len(hset) AS BIGINT) AS sz FROM hs),
      pairs AS (
        SELECT c.doc_a, c.doc_b,
               ROUND(CAST(COALESCE(i.c, 0) AS DOUBLE)
                     / CAST(sa.sz + sb.sz - COALESCE(i.c, 0) AS DOUBLE), 4) AS jaccard
        FROM cand c
        LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
        JOIN sz sa ON c.doc_a = sa.doc_id
        JOIN sz sb ON c.doc_b = sb.doc_id)"""
  }

  private val minhashLshOracle =
    s"WITH $minhashPairsCte SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY 1, 2"

  // ------------------------------------------- near-dup cluster resolution

  /** Connected components over the verified near-dup graph (MinHash pairs
    * with Jaccard >= 0.5) — the step a real dedup pipeline runs AFTER pair
    * finding, so each group of transitively-linked near-duplicates keeps
    * exactly one canonical document. Min-label propagation to a fixpoint:
    * every node's label converges to the smallest doc_id reachable from it,
    * which is a deterministic component id (so the oracle can replicate it
    * with a recursive reachability CTE). Each BSP round is one shuffle on
    * the edge key + one grouped min — the same iterate-until-stable shape
    * scales to 100 TB (O(diameter) rounds; large-star/small-star halves the
    * round count but the per-round plan is identical); localCheckpoint
    * truncates the growing lineage so round N doesn't replay rounds 1..N-1.
    */
  /** (doc_id, cluster) labels of the near-dup graph's connected
    * components — min-label propagation to a fixpoint, shared by dd06 and
    * the pp07 canonicalization pipeline. Only documents that appear in at
    * least one verified pair get a row. */
  private[graft] def ccLabels(s: SparkSession, d: String): DataFrame = {
    // Hybrid edge mining: the first `cap` members of EVERY bucket pair up
    // (verified pairwise — identical to dd03's capped mining, so members
    // dissimilar to the bucket min still find each other), and overflow
    // members beyond the cap connect by STAR edges to the bucket-min doc —
    // O(k) extra edges instead of O(k²). For the boilerplate buckets the
    // cap targets (near-identical members) the star tail preserves the
    // clique's components exactly; the residual approximation is a pair of
    // similar docs BOTH ranked past the cap in a bucket whose min fails
    // their verify — they must then meet in some OTHER shared band bucket
    // (similar docs collide in several bands), the standard LSH recall
    // argument. Below the cap (all organic sf0.01/sf0.1 buckets) this is
    // byte-identical to pairwise mining, so the recursive-CTE oracle still
    // matches.
    val hs     = hashedShingles(s, d)
    val ranked = rankedBandFor(s, d)
    val cap    = bucketCap(s)
    val candPairs = cappedPairs(s, ranked) // union's distinct below covers
    val candStar = ranked.filter(col("rk") > cap)
      .select(col("bmin").as("doc_a"), col("doc_id").as("doc_b"))
    val cand = candPairs.unionByName(candStar).distinct()
    val edges = verifyJaccard(cand, hs).filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
      .persist()
    val und = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint() // pair mining runs once, not once per BSP round
    var lbl       = und.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    // min-label propagation strictly decreases labels, so it reaches the
    // fixpoint in <= diameter rounds — iterate until quiescent rather than
    // capping (a 32-hop chain of successive near-dup edits is a legitimate
    // component shape, not an error)
    var changed = 1L
    var round   = 0
    while (changed > 0) {
      val nbrMin = und.join(lbl, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("comp")).as("nmin"))
      val next = lbl.join(nbrMin, col("id") === col("dst"), "left")
        .select(col("id"), col("comp"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp2"))
        .localCheckpoint()
      changed = next.filter(col("comp2") < col("comp")).count()
      lbl = next.select(col("id"), col("comp2").as("comp"))
      round += 1
    }
    lastCcRounds.set(round)
    log.info(s"ccLabels fixpoint in $round BSP rounds")
    if (round > 8) log.warn(
      s"ccLabels took $round BSP rounds — dedup graph has unusually deep chains; " +
        "consider large-star/small-star if this grows with corpus size")
    lbl.select(col("id").as("doc_id"), col("comp").as("cluster"))
  }

  /** BSP rounds the most recent [[ccLabels]] run took to reach fixpoint —
    * the empirical check on the "min-label BSP is O(diameter) rounds"
    * design: star edges bound overflow buckets at diameter ≤ 2, so round
    * counts should stay flat as the corpus grows (measured via CcProbe:
    * 2 at sf0.1, 2 at organic sf1, 6 at the dup-saturated 100× — 500k
    * labeled docs). A sustained rise would be the signal to switch to
    * large-star/small-star. */
  private[graft] val lastCcRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  private def ccCluster(s: SparkSession, d: String): DataFrame = {
    val byComp = Window.partitionBy("cluster")
    ccLabels(s, d)
      .withColumn("n_members", count(lit(1)).over(byComp))
      .withColumn("is_canonical", col("doc_id") === col("cluster"))
      .orderBy("doc_id")
  }

  private val ccClusterOracle =
    s"""WITH RECURSIVE $minhashPairsCte,
      ed AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
      e AS (SELECT doc_a AS s, doc_b AS t FROM ed
            UNION ALL SELECT doc_b, doc_a FROM ed),
      reach AS (
        SELECT s AS id, t AS r FROM e
        UNION
        SELECT reach.id, e.t FROM reach JOIN e ON e.s = reach.r),
      comp AS (
        SELECT id AS doc_id, LEAST(id, MIN(r)) AS cluster
        FROM reach GROUP BY id)
      SELECT doc_id, cluster,
             CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members,
             doc_id = cluster AS is_canonical
      FROM comp ORDER BY doc_id"""

  // ---------------------------------------------------------------- simhash

  private def simhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // whole 32-bit signature per row (codegen'd loop) — no explode, no bit
    // crossJoin, no shuffled aggregations. Signatures hash the *shingle*
    // set, not single words: the testdata's 31-word vocabulary makes
    // word-frequency profiles collide en masse (word-level signatures put
    // 2/3 of all pairs within hamming 6), while 3-gram shingles are
    // high-entropy, centering random pairs at hamming 16. The all-pairs
    // hamming scan broadcasts the signature vector (8 bytes/doc) and emits
    // only matches; the true 100 TB path buckets on signature bytes first.
    // the all-pairs verify is bounded to Sim.baselineCap ids (mirrored in
    // the oracle): exact below the cap, O(1) beyond verification scale
    val sig = shingles(s, d)
      .filter(col("doc_id") < Sim.baselineCap)
      .select(col("doc_id"), graft.functions.hashfns.simhash32(col("shs")).as("sig"))
      .as[(Long, Long)]
      .persist() // consumed twice: collect for the broadcast + the pair scan
    val bc = s.sparkContext.broadcast(sig.collect().sortBy(_._1))
    sig
      .mapPartitions { it =>
        val all  = bc.value
        val ids  = all.map(_._1)
        val sigs = all.map(_._2)
        it.flatMap { case (vid, vsig) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
          var i   = 0
          while (i < ids.length) {
            if (ids(i) > vid) {
              val h = java.lang.Long.bitCount(vsig ^ sigs(i))
              if (h <= 6) out += ((vid, ids(i), h))
            }
            i += 1
          }
          out.iterator
        }
      }
      .toDF("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  private val simhashOracle = {
    val shingleHash = Hashing.duckRollHash("sg", Hashing.M32, "c0")
    val bitsValues = (0 until 32).map(i => s"($i, ${1L << i})").mkString(", ")
    s"""WITH $duckShingles,
      sge AS (SELECT doc_id, unnest(shs) AS sg FROM sh WHERE doc_id < ${Sim.baselineCap}),
      wh AS (SELECT doc_id, $shingleHash AS h FROM sge),
      bits(i, pw) AS (VALUES $bitsValues),
      bs AS (
        SELECT doc_id, i, pw, SUM(CASE WHEN (h // pw) % 2 = 1 THEN 1 ELSE -1 END) AS sb
        FROM wh CROSS JOIN bits GROUP BY doc_id, i, pw),
      sig AS (
        SELECT doc_id, CAST(SUM(CASE WHEN sb > 0 THEN pw ELSE 0 END) AS BIGINT) AS sig
        FROM bs GROUP BY doc_id)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 6
      ORDER BY doc_a, doc_b"""
  }

  // ------------------------------------------ simhash pigeonhole buckets

  /** dd04's scale twin — the bucketed SimHash near-dup design that replaces
    * the all-pairs verify at 100 TB. Pigeonhole over 4 disjoint 8-bit bands
    * of the 32-bit signature: any pair within hamming distance 3 differs in
    * at most 3 bands, so it agrees EXACTLY on at least one — the band
    * equi-join therefore finds every qualifying pair with zero recall loss,
    * and the exact `bit_count(xor)` verify runs only on candidates that
    * share a band (map-side, no second shuffle). Cost is signature work
    * (one codegen'd pass) + per-bucket pairs; buckets are 256-way per band,
    * so the join fans out on corpus clusters, never the cross product.
    * Unlike dd04 this runs the FULL corpus — no id cap needed, because
    * nothing here is quadratic in the corpus. */
  private def simhashBucketed(s: SparkSession, d: String): DataFrame = {
    // signature once per doc (persist: the band frame self-joins)
    val sig = shingles(s, d)
      .select(col("doc_id"), graft.functions.hashfns.simhash32(col("shs")).as("sig"))
      .persist()
    val band = sig.select(col("doc_id"), col("sig"),
        posexplode(expr("transform(sequence(0, 3), b -> shiftright(sig, b * 8) & 255)")))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "bval")
    val cand = band.as("x")
      .join(band.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct() // a pair may agree on several bands; sigs are per-doc constants
    cand
      .select(col("doc_a"), col("doc_b"),
        expr("cast(bit_count(sig_a ^ sig_b) as int)").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB CTE chain ending in `sig(doc_id, sig)` — the 32-bit simhash
    * signature per shingled doc, shared by dd08 and dd21. */
  private val duckSimhashSigCte = {
    val shingleHash = Hashing.duckRollHash("sg", Hashing.M32, "c0")
    val bitsValues = (0 until 32).map(i => s"($i, ${1L << i})").mkString(", ")
    s"""$duckShingles,
      sge AS (SELECT doc_id, unnest(shs) AS sg FROM sh),
      wh AS (SELECT doc_id, $shingleHash AS h FROM sge),
      bits(i, pw) AS (VALUES $bitsValues),
      bs AS (
        SELECT doc_id, i, pw, SUM(CASE WHEN (h // pw) % 2 = 1 THEN 1 ELSE -1 END) AS sb
        FROM wh CROSS JOIN bits GROUP BY doc_id, i, pw),
      sig AS (
        SELECT doc_id, CAST(SUM(CASE WHEN sb > 0 THEN pw ELSE 0 END) AS BIGINT) AS sig
        FROM bs GROUP BY doc_id)"""
  }

  private val simhashBucketedOracle = {
    s"""WITH $duckSimhashSigCte,
      band AS (
        SELECT doc_id, sig, b AS band_id, (sig >> (b * 8)) & 255 AS bval
        FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) bands(b)),
      cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.sig AS sa, y.sig AS sb
        FROM band x JOIN band y
          ON x.band_id = y.band_id AND x.bval = y.bval AND x.doc_id < y.doc_id)
      SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
      FROM cand WHERE bit_count(xor(sa, sb)) <= 3
      ORDER BY doc_a, doc_b"""
  }

  // ------------------------------------------- embedding-cosine near-dups

  /** All vector pairs with cosine >= 0.4 (the testdata's similarity tail;
    * random pairs sit near 0.29 at p99). Same broadcast-matrix kernel as
    * the similarity ops: corpus streams, candidates iterate ascending, only
    * matches are emitted. The 100 TB path prefilters candidates with
    * sm03/sm04's hyperplane buckets before the exact pass. */
  private def embedNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // same broadcast-matrix kernel as graft.ops.Sim (shared dotv/normv/
    // collectMatrix keep the fold-order exactness rules in one place);
    // bounded to Sim.baselineCap ids like the other quadratic baselines
    val bc = s.sparkContext.broadcast(Sim.collectMatrix(s, d, idBound = Sim.baselineCap))
    Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .filter(col("vec_id") < Sim.baselineCap)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (vid, vf) =>
          val v   = vf.map(_.toDouble)
          val n   = Sim.normv(v)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var i   = 0
          while (i < cs.length) {
            val (cid, cv, cn) = cs(i)
            if (cid > vid) {
              val sim = Sim.dotv(v, cv) / (n * cn)
              if (sim >= 0.4) out += ((vid, cid, sim))
            }
            i += 1
          }
          out.iterator
        }
      }
      .toDF("id_a", "id_b", "sim")
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")
  }

  private val embedNearDupOracle =
    s"""WITH ${Sim.duckVecs},
      dots AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.x * b.x) AS dot
        FROM e a JOIN e b ON a.d = b.d AND a.vec_id < b.vec_id
        WHERE b.vec_id < ${Sim.baselineCap}
        GROUP BY 1, 2),
      sims AS (
        SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS sim
        FROM dots JOIN nrm na ON id_a = na.vec_id JOIN nrm nb ON id_b = nb.vec_id)
      SELECT id_a, id_b, ROUND(sim, 4) AS sim FROM sims WHERE sim >= 0.4
      ORDER BY id_a, id_b"""

  // ------------------------------- IVF-blocked embedding near-dups

  /** dd05's scale twin — embedding near-dup WITHOUT the broadcast corpus
    * matrix, blocked by the coarse quantizer (sm05's deterministic 8-cell
    * codebook): every vector lands in its 2 nearest cells (multi-probe
    * blocking, ties to the smaller centroid id), candidate pairs share a
    * probed cell, and only candidates get the exact cosine rerank
    * (>= 0.4, dd05's threshold). Cost: one map-side assignment pass (the
    * codebook is cells-sized, broadcast by design), one shuffle on cell
    * id, per-cell pairs — no O(n²) term, no corpus on the driver. At
    * 100 TB the corpus is physically bucketed by cell and each cell's
    * pairs are found in parallel; with ncells ~ sqrt(n) the pair scan is
    * n^1.5, and probing 2 cells is the standard recall lever (at sf0.01
    * it recovers 46 of dd05's 59 exact pairs; 1-probe recovers 20 —
    * measured, which is exactly the recall/cost knob a production dedup
    * tunes). A 16-bit hyperplane-hamming blocker was tried and REJECTED:
    * cosine-0.4 pairs sit at expected hamming ~6 of 16, so any pigeonhole
    * banding either returns nothing (tight radius) or everything (wide
    * bands) — the quantizer blocks where the data actually clusters. */
  private def embedBlockedNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // codebook size scales as sqrt(n/8): 8 cells at verification scale
    // (recall stats above), finer with the corpus so per-cell occupancy —
    // and with it the candidate count — grows as n^1.5, not n². The
    // codebook stays driver/broadcast-sized at any corpus (sqrt growth:
    // ~15k centroids for 2B vectors). Mirrored exactly in the oracle.
    val nVecs  = Tables.embeddings(s, d).count()
    val nCells = math.max(Sim.ivfCells.toLong, math.floor(math.sqrt(nVecs / 8.0)).toLong)
    val bc = s.sparkContext.broadcast(Sim.collectMatrix(s, d, idBound = nCells))
    // (vec_id, nrm, v, cells): norm + 2-probe cell list map-side; vector
    // carried for the candidate rerank join (per-row, no broadcast)
    val vecs = Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, vf) =>
          val v = vf.map(_.toDouble)
          // two nearest cells by (L2^2 asc, cid asc); cs is cid-ascending
          // and strict < keeps the smaller cid on ties, same as the
          // oracle's row_number ORDER BY d2, cid
          var b1 = Double.MaxValue; var c1 = -1L
          var b2 = Double.MaxValue; var c2 = -1L
          var i  = 0
          while (i < cs.length) {
            val d2v = Sim.dist2(v, cs(i)._2)
            if (d2v < b1) { b2 = b1; c2 = c1; b1 = d2v; c1 = cs(i)._1 }
            else if (d2v < b2) { b2 = d2v; c2 = cs(i)._1 }
            i += 1
          }
          (id, Sim.normv(v), v, Array(c1, c2))
        }
      }
      .toDF("vec_id", "nrm", "v", "cells")
      .persist() // feeds the blocked frame (self-joined) and two rerank joins
    val blocked = vecs.select(col("vec_id"), explode(col("cells")).as("cell"))
    val cand = blocked.as("x")
      .join(blocked.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct() // a pair may share both probed cells
    // exact cosine rerank of candidates only, via the primitive-array
    // kernel (d-ascending fold, same order as the oracle's SUM over the
    // dim join — PERF.md exactness rule #3). An interpreted
    // aggregate(zip_with(...)) was 6x slower here: the candidate set is
    // n²/(cells/probes²)-sized, so the per-candidate constant dominates.
    cand
      .join(vecs.select(col("vec_id").as("id_a"), col("nrm").as("na"), col("v").as("va")), Seq("id_a"))
      .join(vecs.select(col("vec_id").as("id_b"), col("nrm").as("nb"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("na"), col("nb"), col("va"), col("vb"))
      .as[(Long, Long, Double, Double, Array[Double], Array[Double])]
      .mapPartitions(_.map { case (a, b, na, nb, va, vb) =>
        (a, b, Sim.dotv(va, vb) / (na * nb))
      })
      .toDF("id_a", "id_b", "sim")
      .filter(col("sim") >= 0.4)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")
  }

  private val embedBlockedNearDupOracle =
    s"""WITH ${Sim.duckVecs},
      nc AS (SELECT GREATEST(${Sim.ivfCells},
               CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE) / 8)) AS BIGINT)) AS nc
             FROM embeddings),
      ce AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < (SELECT nc FROM nc)),
      d2 AS (
        SELECT v.vec_id, c.cid, SUM((v.x - c.x) * (v.x - c.x)) AS d2
        FROM e v JOIN ce c USING (d) GROUP BY 1, 2),
      rk AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2),
      blocked AS (SELECT vec_id, cid AS cell FROM rk WHERE rn <= 2),
      cand AS (
        SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        FROM blocked x JOIN blocked y
          ON x.cell = y.cell AND x.vec_id < y.vec_id),
      dots AS (
        SELECT c.id_a, c.id_b, SUM(a.x * b.x) AS dot
        FROM cand c
        JOIN e a ON a.vec_id = c.id_a
        JOIN e b ON b.vec_id = c.id_b AND a.d = b.d
        GROUP BY 1, 2),
      sims AS (
        SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS sim
        FROM dots JOIN nrm na ON id_a = na.vec_id JOIN nrm nb ON id_b = nb.vec_id)
      SELECT id_a, id_b, ROUND(sim, 4) AS sim FROM sims WHERE sim >= 0.4
      ORDER BY id_a, id_b"""

  // ----------------------------------------- frequency-capped jaccard

  /** dd02 with a document-frequency cap on shingles: shingles appearing in
    * more than `dfCap` documents (boilerplate, headers, hot n-grams) are
    * dropped before the postings self-join. This is the documented
    * mitigation for dd02's scale hazard — the postings-join cost is
    * Σ df(sg)^2 over shingles, so capping df bounds the join fan-out to
    * dfCap^2 per shingle and removes the quadratic blowup on
    * near-universal n-grams, at the cost of measuring similarity over
    * rare-shingle evidence only. The hot-shingle list is vocabulary-sized
    * → broadcast anti-join, no extra shuffle on the big side. */
  private val dfCap = 2L

  private[graft] def cappedJaccard(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d).persist()
    val e  = sh.select(col("doc_id"), explode(col("shs")).as("sg"))
    val hot = e.groupBy("sg").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("sg")
    val cold = e.join(broadcast(hot), Seq("sg"), "left_anti")
    val sz   = cold.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cold.as("a")
      .join(cold.as("b"), col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("c"))
    val jac = col("c").cast("double") /
      (col("sa.sz") + col("sb.sz") - col("c")).cast("double")
    inter
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(jac >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard_capped"))
      .orderBy("doc_a", "doc_b")
  }

  private val cappedJaccardOracle =
    s"""WITH $duckShingles,
      e AS (SELECT doc_id, unnest(shs) AS sg FROM sh),
      df AS (SELECT sg, COUNT(*) AS df FROM e GROUP BY sg),
      cold AS (SELECT e.doc_id, e.sg FROM e JOIN df USING (sg) WHERE df <= $dfCap),
      sz AS (SELECT doc_id, COUNT(*) AS sz FROM cold GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM cold a JOIN cold b ON a.sg = b.sg AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             ROUND(CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE), 4) AS jaccard_capped
      FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
      WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.5
      ORDER BY doc_a, doc_b"""

  // ------------------------------------------------- keep-best curation

  /** Cluster-dedup with a KEEP-BEST representative: dd06's connected
    * components, but each near-dup cluster keeps its LONGEST member
    * (ties → smallest doc_id) instead of the min-id one — the real
    * curation policy (keep the most complete copy, drop truncations).
    * Singleton docs (no near-dup edge) keep themselves. The ranked pick
    * is a WindowGroupLimit on the cluster key: per-group state is one
    * row, so the selection scales with clusters, not corpus. */
  private def keepBest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val full = docs.join(ccLabels(s, d), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    val byCl   = Window.partitionBy("cluster")
    val ranked = Window.partitionBy("cluster").orderBy(desc("n_chars"), asc("doc_id"))
    full
      .withColumn("n_members", count(lit(1)).over(byCl))
      .withColumn("rk", row_number().over(ranked))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("doc_id").as("kept_doc"),
        col("n_members"), col("n_chars").as("kept_chars"))
      .orderBy("cluster")
  }

  private val keepBestOracle =
    s"""WITH RECURSIVE $minhashPairsCte,
      ed AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
      e AS (SELECT doc_a AS s, doc_b AS t FROM ed
            UNION ALL SELECT doc_b, doc_a FROM ed),
      reach AS (
        SELECT s AS id, t AS r FROM e
        UNION
        SELECT reach.id, e.t FROM reach JOIN e ON e.s = reach.r),
      comp AS (
        SELECT id AS doc_id, LEAST(id, MIN(r)) AS cluster
        FROM reach GROUP BY id),
      f AS (
        SELECT d.doc_id, COALESCE(comp.cluster, d.doc_id) AS cluster, d.n_chars
        FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id),
      r AS (
        SELECT *, COUNT(*) OVER (PARTITION BY cluster) AS n_members,
               row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rk
        FROM f)
      SELECT cluster, doc_id AS kept_doc,
             CAST(n_members AS BIGINT) AS n_members, n_chars AS kept_chars
      FROM r WHERE rk = 1 ORDER BY cluster"""

  // ---------------------------------------------- bag-of-words fingerprint

  /** Token-multiset dedup: two documents with the SAME words in a
    * different order collapse to one group (the reordering-robust exact
    * fingerprint between dd01's byte-exact hash and dd02's fuzzy
    * Jaccard). The key is the sorted token list — computed map-side in
    * one codegen'd projection, then one shuffle on the fingerprint,
    * exactly dd01's plan shape and scale story: a 100 TB corpus pays one
    * exchange on a well-distributed key. */
  private def bowFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bow", sort_array(split(col("text"), " ")))
      .groupBy("bow")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"), size(col("bow")).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  private val bowFingerprintOracle =
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies,
              CAST(len(bow) AS BIGINT) AS n_tokens
       FROM (SELECT doc_id, list_sort(string_split(text, ' ')) AS bow FROM documents)
       GROUP BY bow ORDER BY doc_id"""

  // ------------------------------------------------- truncation duplicates

  /** Prefix-key duplicate audit: documents sharing their first 64 chars
    * are truncation/re-crawl variants dd01's full-text hash misses. Same
    * one-keyed-shuffle shape as dd01 — group on the prefix (at 100 TB
    * you'd group on a hash of the prefix; the plan is identical, and the
    * 64-byte key is already bounded) — emitting only multi-member groups
    * with their spread across sources. */
  private def prefixDup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(substring(col("text"), 1, 64).as("pfx"))
      .agg(min("doc_id").as("rep_doc"), count(lit(1)).as("n_docs"),
        countDistinct("source").as("n_sources"))
      .filter(col("n_docs") > 1)
      .select("rep_doc", "n_docs", "n_sources")
      .orderBy("rep_doc")

  private val prefixDupOracle =
    """SELECT MIN(doc_id) AS rep_doc, COUNT(*) AS n_docs,
              COUNT(DISTINCT source) AS n_sources
       FROM documents GROUP BY substr(text, 1, 64)
       HAVING COUNT(*) > 1 ORDER BY rep_doc"""

  // ------------------------------------------------- cross-source overlap

  /** Source-pair contamination matrix: for every pair of sources, how many
    * prefix-duplicate groups they share — the provenance view a crawl
    * pipeline uses to find mirror sites. The self-join runs on the
    * *group-deduplicated* (prefix, source) frame, so its size is
    * #dup-groups × sources-per-group (both bounded by the dedup result,
    * not the corpus); never an all-pairs join over documents. */
  private def crossSourceDup(s: SparkSession, d: String): DataFrame = {
    val ps = Tables.documents(s, d)
      .select(substring(col("text"), 1, 64).as("pfx"), col("source"))
      .distinct()
    ps.as("a")
      .join(ps.as("b"), col("a.pfx") === col("b.pfx") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("src_a", "src_b")
  }

  private val crossSourceDupOracle =
    """WITH ps AS (SELECT DISTINCT substr(text, 1, 64) AS pfx, source FROM documents)
       SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
       FROM ps a JOIN ps b ON a.pfx = b.pfx AND a.source < b.source
       GROUP BY 1, 2 ORDER BY src_a, src_b"""

  // ------------------------------------------------- LSH band-plan tuning

  /** LSH index tuning table: candidate-pair counts for three band plans
    * over the SAME 16-hash MinHash signatures — 8 bands × 2 rows (high
    * recall, more candidates), 4×4 (dd03's shipped plan), 2×8 (high
    * precision, fewest candidates). The S-curve trade made measurable:
    * this is the number an index operator reads before picking (b, r) at
    * 100 TB, where each extra candidate pair is a real verification join
    * row. Signatures compute once (persisted); each plan is one
    * band-bucket equi-join + a count. Deliberately UNCAPPED, unlike dd03:
    * the whole point is the true candidate volume each (b, r) would
    * produce — a capped count would underreport exactly the hot buckets
    * the tuning decision hinges on. At 100 TB this audit runs on a sample,
    * not the corpus. */
  private def bandTuning(s: SparkSession, d: String): DataFrame = {
    import graft.functions.hashfns
    val sigs = shingles(s, d).select(
      col("doc_id"),
      hashfns.minhashSig(
        array_distinct(transform(col("shs"), sg => hashfns.rollHash(sg, P)))).as("sig"))
      .persist()
    def planFor(r: Int): DataFrame = {
      val band = sigs.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${16 / r - 1}), b -> slice(sig, b * $r + 1, $r))")))
        .withColumnRenamed("pos", "band_id")
        .withColumnRenamed("col", "bsig")
      band.as("x")
        .join(band.as("y"),
          col("x.band_id") === col("y.band_id") && col("x.bsig") === col("y.bsig") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
        .agg(count(lit(1)).as("n_cand_pairs"))
        .select(lit(r.toLong).as("band_rows"), lit((16 / r).toLong).as("n_bands"),
          col("n_cand_pairs"))
    }
    planFor(2).unionByName(planFor(4)).unionByName(planFor(8)).orderBy("band_rows")
  }

  private val bandTuningOracle: String = {
    val shHash = Hashing.duckRollHash("sg", P, "c0")
    def cfg(r: Int) =
      s"""SELECT CAST($r AS BIGINT) AS band_rows, CAST(${16 / r} AS BIGINT) AS n_bands,
            COUNT(*) AS n_cand_pairs
          FROM (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM (SELECT doc_id, j // $r AS band_id,
                         string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS bsig
                  FROM sig GROUP BY doc_id, j // $r) x
            JOIN (SELECT doc_id, j // $r AS band_id,
                         string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS bsig
                  FROM sig GROUP BY doc_id, j // $r) y
              ON x.band_id = y.band_id AND x.bsig = y.bsig AND x.doc_id < y.doc_id)"""
    s"""WITH $duckShingles,
      hs AS (
        SELECT doc_id, list_distinct(list_transform(shs, sg -> $shHash)) AS hset FROM sh),
      eh AS (SELECT doc_id, unnest(hset) AS h FROM hs),
      params(j, pa, pb) AS (VALUES ${Hashing.duckMinhashParams}),
      sig AS (
        SELECT doc_id, j, MIN((pa * h + pb) % $P) AS m
        FROM eh CROSS JOIN params GROUP BY doc_id, j)
      ${cfg(2)} UNION ALL ${cfg(4)} UNION ALL ${cfg(8)} ORDER BY band_rows"""
  }

  // ------------------------------------------------- winnowing fingerprints

  /** Winnowing substring fingerprints (the MOSS scheme): per doc, rolling
    * 8-gram hashes → min of each 4-hash sliding window → distinct sorted
    * fingerprint set, computed by one codegen'd Catalyst expression
    * ([[graft.functions.WinnowExpr]]). Any shared substring of length
    * ≥ 11 chars guarantees a shared fingerprint at ~0.4× the gram
    * density. Downstream is the dd07 discipline: fingerprints with
    * df > 20 (vocabulary boilerplate) are dropped before the postings
    * self-join, so the pair space is df²-capped — never corpus². Output
    * is per-doc: fingerprint counts and the number of partner docs
    * sharing a rare fingerprint. */
  private def winnowDup(s: SparkSession, d: String): DataFrame = {
    val fps = Tables.spread(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"), graft.functions.hashfns.winnow(col("text"), 8, 4).as("fps"))
      .filter(col("fps").isNotNull)
      .persist()
    val e = fps.select(col("doc_id"), explode(col("fps")).as("f")).persist()
    val dfreq = e.groupBy("f").agg(countDistinct("doc_id").as("df"))
    val rare  = e.join(dfreq.filter(col("df") <= 20), Seq("f")).persist()
    val partners = rare.as("a")
      .join(rare.as("b"), col("a.f") === col("b.f") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id"))
      .agg(countDistinct(col("b.doc_id")).as("n_partners"))
    fps.select(col("doc_id"), size(col("fps")).cast("long").as("n_fps"))
      .join(rare.groupBy("doc_id").agg(countDistinct("f").as("n_rare_fps")), Seq("doc_id"), "left")
      .join(partners, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_rare_fps", "n_partners"))
      .orderBy("doc_id")
  }

  private val winnowDupOracle: String = {
    val gramHash = graft.Hashing.duckRollHash("substr(text, CAST(i AS INTEGER), 8)", graft.Hashing.P, "c")
    s"""WITH g AS (
        SELECT doc_id, list_transform(range(1, len(text) - 8 + 2), i -> $gramHash) AS hs
        FROM documents WHERE len(text) >= 8),
      wn AS (
        SELECT doc_id, list_distinct(list_transform(
                 range(1, greatest(len(hs) - 3, 1) + 1),
                 j -> list_min(hs[j:least(j + 3, len(hs))]))) AS fps
        FROM g),
      e AS (SELECT doc_id, unnest(fps) AS f FROM wn),
      dfreq AS (SELECT f, COUNT(DISTINCT doc_id) AS df FROM e GROUP BY f),
      rare AS (SELECT e.doc_id, e.f FROM e JOIN dfreq USING (f) WHERE df <= 20),
      p AS (SELECT a.doc_id, COUNT(DISTINCT b.doc_id) AS n_partners
            FROM rare a JOIN rare b ON a.f = b.f AND a.doc_id <> b.doc_id GROUP BY 1),
      r AS (SELECT doc_id, COUNT(DISTINCT f) AS n_rare_fps FROM rare GROUP BY 1)
      SELECT wn.doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
             CAST(COALESCE(r.n_rare_fps, 0) AS BIGINT) AS n_rare_fps,
             CAST(COALESCE(p.n_partners, 0) AS BIGINT) AS n_partners
      FROM wn LEFT JOIN r USING (doc_id) LEFT JOIN p USING (doc_id)
      ORDER BY doc_id"""
  }

  // --------------------------------------------- winnow estimator audit

  /** Estimator audit for dd16 — the dd10 discipline applied to winnowing:
    * for every pair sharing ≥ 3 rare fingerprints, the fingerprint-set
    * Jaccard (what the index sees at ~0.4× density) next to the EXACT
    * 8-gram-set Jaccard, with absolute error. The number that says
    * whether winnowed density is enough before trusting the index at
    * scale. Fingerprints come from the codegen'd [[graft.functions.WinnowExpr]];
    * the exact gram sets are computed ONLY for documents that appear in a
    * candidate pair (pair-bounded, never corpus-wide). */
  private def winnowEst(s: SparkSession, d: String): DataFrame = {
    val fps = Tables.spread(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("text"),
        graft.functions.hashfns.winnow(col("text"), 8, 4).as("fps"))
      .filter(col("fps").isNotNull)
      .persist()
    val e = fps.select(col("doc_id"), explode(col("fps")).as("f"))
    // rare feeds both sides of the self-join; cand feeds inPairs twice and
    // the final join — persist both or the explode+groupBy chain reruns
    // once per consumer
    val rare = e.join(
      e.groupBy("f").agg(countDistinct("doc_id").as("df")).filter(col("df") <= 20), Seq("f"))
      .persist()
    val cand = rare.as("a")
      .join(rare.as("b"), col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .persist()
    // exact 8-gram sets only for docs in candidate pairs. winnow with
    // window=1 IS the distinct sorted gram-hash set (every window's min is
    // the gram itself), so the exact side reuses the same generated loop —
    // the first cut used an interpreted transform(aggregate(...)) lambda
    // here and it alone cost 20 s flat at any SF (measured; nested
    // higher-order exprs evaluate per element, per row, uncompiled).
    val inPairs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    val sets = fps.join(inPairs, Seq("doc_id"))
      .select(col("doc_id"), col("fps"),
        graft.functions.hashfns.winnow(col("text"), 8, 1).as("ghs"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("fps").as("fa"), col("ghs").as("ga")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("fps").as("fb"), col("ghs").as("gb")), Seq("doc_b"))
      .withColumn("cf", size(array_intersect(col("fa"), col("fb"))).cast("long"))
      .withColumn("cg", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .select(
        col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("cf").cast("double") /
          (size(col("fa")) + size(col("fb")) - col("cf")).cast("double"), 4).as("est_jac"),
        round(col("cg").cast("double") /
          (size(col("ga")) + size(col("gb")) - col("cg")).cast("double"), 4).as("exact_jac"))
      .withColumn("abs_err", round(abs(col("est_jac") - col("exact_jac")), 4))
      .orderBy("doc_a", "doc_b")
  }

  private val winnowEstOracle: String = {
    val gramHash = graft.Hashing.duckRollHash("substr(text, CAST(i AS INTEGER), 8)", graft.Hashing.P, "c")
    s"""WITH g AS (
        SELECT doc_id, text,
               list_transform(range(1, len(text) - 8 + 2), i -> $gramHash) AS hs
        FROM documents WHERE len(text) >= 8),
      wn AS (
        SELECT doc_id, text, list_distinct(hs) AS ghs,
               list_distinct(list_transform(
                 range(1, greatest(len(hs) - 3, 1) + 1),
                 j -> list_min(hs[j:least(j + 3, len(hs))]))) AS fps
        FROM g),
      e AS (SELECT doc_id, unnest(fps) AS f FROM wn),
      dfreq AS (SELECT f, COUNT(DISTINCT doc_id) AS df FROM e GROUP BY f),
      rare AS (SELECT e.doc_id, e.f FROM e JOIN dfreq USING (f) WHERE df <= 20),
      cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM rare a JOIN rare b ON a.f = b.f AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      j AS (
        SELECT c.doc_a, c.doc_b, c.n_shared,
               len(list_intersect(wa.fps, wb.fps)) AS cf,
               len(wa.fps) AS nfa, len(wb.fps) AS nfb,
               len(list_intersect(wa.ghs, wb.ghs)) AS cg,
               len(wa.ghs) AS nga, len(wb.ghs) AS ngb
        FROM cand c
        JOIN wn wa ON c.doc_a = wa.doc_id
        JOIN wn wb ON c.doc_b = wb.doc_id)
      SELECT doc_a, doc_b, n_shared,
             ROUND(CAST(cf AS DOUBLE) / (nfa + nfb - cf), 4) AS est_jac,
             ROUND(CAST(cg AS DOUBLE) / (nga + ngb - cg), 4) AS exact_jac,
             ROUND(ABS(ROUND(CAST(cf AS DOUBLE) / (nfa + nfb - cf), 4)
                       - ROUND(CAST(cg AS DOUBLE) / (nga + ngb - cg), 4)), 4) AS abs_err
      FROM j ORDER BY doc_a, doc_b"""
  }

  // ------------------------------------- edit-distance (fuzzy) near-dups

  /** Levenshtein-verified near-duplicates: MinHash band candidates (the
    * dd03 index — never an all-pairs scan) re-verified with exact edit
    * distance, keeping pairs whose edit count is ≤20% of the longer text.
    * This is the fuzzy-dedup design real crawls use for re-typed /
    * OCR-mutated copies that shingle-Jaccard underrates (a single
    * character edit kills 3 word-shingles, but costs 1 edit). The O(len²)
    * DP runs only on the banding's candidate pairs, so total cost is
    * candidates × len² — independent of corpus size; similarity is
    * reported as half-up integer basis points of (1 - lev/maxlen). */
  private def editDistanceDup(s: SparkSession, d: String): DataFrame = {
    // hot-bucket capped like dd03: members ranked by doc_id within each
    // (band_id, bsig) bucket, only the first `cap` join — bounds the DP
    // verify input on boilerplate-heavy corpora; below the cap (all
    // organic buckets) the candidate set and n_bands counts are unchanged
    val hs     = hashedShingles(s, d)
    val ranked = rankedBandFor(s, d)
    val cap    = bucketCap(s)
    val band   = ranked.filter(col("rk") <= cap)
    // Per-doc candidate cap (top-16 by band-collision count, ties to the
    // smaller id): the O(len²) DP cost per doc stays BOUNDED even on a
    // pathologically duplicate-heavy corpus where every doc has dozens of
    // near-copies — without it, total verify work grows with the square
    // of the copy factor (measured: the 10× scale set has ~100× the
    // pairs). The explicit spread() keeps AQE from coalescing the tiny-
    // by-bytes candidate shuffle onto one core — byte-based coalescing
    // can't see that each row carries a quadratic-in-length DP.
    val byCollisions = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a").orderBy(desc("n_bands"), asc("doc_b"))
    val cand = Tables.spread(
      band.as("x")
        .join(band.as("y"),
          col("x.band_id") === col("y.band_id") && col("x.bsig") === col("y.bsig") &&
            col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_bands"))
        .withColumn("rk", row_number().over(byCollisions))
        .filter(col("rk") <= 16)
        .select("doc_a", "doc_b"))
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), Seq("doc_b"))
      .withColumn("maxlen", greatest(length(col("ta")), length(col("tb"))).cast("long"))
      // length-difference pre-gate: |len_a - len_b| lower-bounds the edit
      // distance, so a pair that can't pass the 20% ratio skips the DP
      // entirely — free rejection for the mismatched-length candidates
      .filter(abs(length(col("ta")) - length(col("tb"))).cast("long") * 5 <= col("maxlen"))
      // BOUNDED edit distance (graft's affix-trimmed banded kernel):
      // common prefix/suffix strip first — near-copies differing in a
      // short span pay a DP over that span only, the shape a duplicate-
      // heavy corpus actually serves (measured: dd20's verify at 100× was
      // a 911 s wall with per-pair full-width DPs; the trim makes it
      // rows-linear) — then a threshold-banded DP with early-exit -1.
      // Identical survivors to the unthresholded compute (lev ≤
      // floor(maxlen/5) ⟺ lev·5 ≤ maxlen on integers), so the DuckDB
      // oracle's plain levenshtein agrees row-for-row.
      .withColumn("lev", graft.functions.hashfns.levBounded(
        col("ta"), col("tb"), expr("CAST(maxlen DIV 5 AS INT)")))
      // maxlen > 0 guard: two empty candidate texts give lev=0, maxlen=0 —
      // the ratio gate passes but edit_sim_bp would be null-on-/0 in Spark
      // vs a division-by-zero ERROR in DuckDB. Drop degenerate pairs in
      // both twins so the engines agree.
      .filter(col("lev") >= 0 && col("lev") * 5 <= col("maxlen") && col("maxlen") > 0)
      .select(col("doc_a"), col("doc_b"), col("lev"),
        expr("10000 - ((2 * lev * 10000 + maxlen) DIV (2 * maxlen))").as("edit_sim_bp"))
      .orderBy("doc_a", "doc_b")
  }

  private lazy val editDistanceDupOracle =
    s"""WITH $minhashPairsCte,
      ccand AS (
        SELECT doc_a, doc_b FROM (
          SELECT doc_a, doc_b,
                 row_number() OVER (PARTITION BY doc_a
                                    ORDER BY n_bands DESC, doc_b) AS rk
          FROM (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_bands
            FROM band x JOIN band y
              ON x.band_id = y.band_id AND x.bsig = y.bsig AND x.doc_id < y.doc_id
            GROUP BY 1, 2))
        WHERE rk <= 16),
      tx AS (SELECT doc_id, text FROM documents),
      lv AS (
        SELECT c.doc_a, c.doc_b,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
               CAST(GREATEST(len(a.text), len(b.text)) AS BIGINT) AS maxlen
        FROM ccand c JOIN tx a ON a.doc_id = c.doc_a JOIN tx b ON b.doc_id = c.doc_b)
      SELECT doc_a, doc_b, lev,
             10000 - ((2 * lev * 10000 + maxlen) // (2 * maxlen)) AS edit_sim_bp
      FROM lv WHERE lev * 5 <= maxlen AND maxlen > 0 ORDER BY doc_a, doc_b"""

  // ----------------------------------- incremental (batch-vs-index) dedup

  /** Incremental dedup of a NEW BATCH against the existing corpus index —
    * the shape a daily crawl actually runs (dedup today's shard against
    * everything already ingested, never corpus × corpus). The batch is
    * `source = 'src19'`; the index is every other source. Both sides get
    * the dd08 SimHash signature; candidates come from an 8-bit band
    * equi-join (batch bands × index bands — cost ∝ batch size, the
    * incremental property), verified at hamming ≤ 3. Every batch doc is
    * reported: its verified index-duplicate count, the smallest matching
    * index doc (its canonical representative), and a dup/unique status.
    * At 100 TB the index bands are a stored table partitioned by
    * (band_id, bval); the daily join touches only matching buckets. */
  private def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val batchSrc = "src19"
    val sig = shingles(s, d)
      .select(col("doc_id"), graft.functions.hashfns.simhash32(col("shs")).as("sig"))
    val sigSrc = sig.join(
      Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
    def bandOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"), col("sig"),
        posexplode(expr("transform(sequence(0, 3), b -> shiftright(sig, b * 8) & 255)")))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "bval")
    val newB = bandOf(sigSrc.filter(col("source") === batchSrc).drop("source"))
    val idxB = bandOf(sigSrc.filter(col("source") =!= batchSrc).drop("source"))
    val hits = newB.as("x")
      .join(idxB.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.bval") === col("y.bval"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("idx_doc"),
        col("x.sig").as("sa"), col("y.sig").as("sb"))
      .distinct()
      .filter(expr("bit_count(sa ^ sb) <= 3"))
      .groupBy("doc_id")
      .agg(countDistinct("idx_doc").as("n_index_dups"), min("idx_doc").as("rep_doc"))
    Tables.documents(s, d).filter(col("source") === batchSrc).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_index_dups"), lit(0L)).as("n_index_dups"),
        coalesce(col("rep_doc"), lit(-1L)).as("rep_doc"),
        when(col("n_index_dups").isNotNull, lit("dup")).otherwise(lit("unique")).as("status"))
      .orderBy("doc_id")
  }

  private lazy val incrementalDedupOracle =
    s"""WITH $duckSimhashSigCte,
      ss AS (SELECT s.doc_id, s.sig, dc.source FROM sig s JOIN documents dc USING (doc_id)),
      nb AS (
        SELECT doc_id, sig, b AS band_id, (sig >> (b * 8)) & 255 AS bval
        FROM ss CROSS JOIN (VALUES (0), (1), (2), (3)) bands(b)
        WHERE source = 'src19'),
      ib AS (
        SELECT doc_id, sig, b AS band_id, (sig >> (b * 8)) & 255 AS bval
        FROM ss CROSS JOIN (VALUES (0), (1), (2), (3)) bands(b)
        WHERE source <> 'src19'),
      hits0 AS (
        SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS idx_doc, x.sig AS sa, y.sig AS sb
        FROM nb x JOIN ib y ON x.band_id = y.band_id AND x.bval = y.bval),
      hits AS (
        SELECT doc_id, CAST(COUNT(DISTINCT idx_doc) AS BIGINT) AS n_index_dups,
               MIN(idx_doc) AS rep_doc
        FROM hits0 WHERE bit_count(xor(sa, sb)) <= 3 GROUP BY 1)
      SELECT dc.doc_id, COALESCE(h.n_index_dups, 0) AS n_index_dups,
             COALESCE(h.rep_doc, -1) AS rep_doc,
             CASE WHEN h.doc_id IS NULL THEN 'unique' ELSE 'dup' END AS status
      FROM documents dc LEFT JOIN hits h ON dc.doc_id = h.doc_id
      WHERE dc.source = 'src19' ORDER BY dc.doc_id"""

  // -------------------------- served band index (dd23): probe IO ∝ batch

  /** Bucket count per band for the persisted index's file layout —
    * `spark.graft.dedup.cellBuckets`, default 64. This knob is the serve
    * path's SCALE LEVER: a probe reads the batch's (band, bucket) cells in
    * full, and each cell holds ~corpusBands / (bands × cellBuckets) rows —
    * so sizing cellBuckets ∝ corpus keeps rows-read-per-probed-bucket
    * CONSTANT and probe IO ∝ batch alone (ServeProbe measures this flat
    * across a 10× index growth; PERF.md round 15). At the registry's
    * scales 64 keeps file count small; a 100 TB deployment raises it with
    * the corpus the way an IVF index raises its cell count. */
  private[graft] def cellBuckets(s: SparkSession): Long =
    s.conf.getOption("spark.graft.dedup.cellBuckets").map(_.toLong).getOrElse(64L)

  /** Physical cell of a band row: band-local bucket of the band signature.
    * Equal (band_id, bsig) pairs land in the SAME cell by construction
    * (equal arrays hash equally), so probing only the batch's cells loses
    * no candidate — the layout is a pure IO optimization, invisible to the
    * logical result (and to the oracle, which replays band equality only). */
  private[graft] def bandCell(s: SparkSession): Column =
    (col("band_id").cast("long") * cellBuckets(s) +
      pmod(xxhash64(col("bsig")), lit(cellBuckets(s)))).cast("long")

  /** dd23: incremental dedup against a SERVED MinHash band index — the
    * missing half of dd21, which re-derives the index side per run. Here
    * the corpus index (every source except the incoming batch) is COMMITTED
    * once as a standard Iceberg table — (cell, doc_id, band_id, bsig, sig),
    * one file per cell per commit with manifest cell bounds, sm25's layout —
    * and the daily probe reads ONLY the cells the batch's band signatures
    * hash into (require-gated below): at 100 TB the index is maintained by
    * appends + compaction while each incoming shard's dedup IO is
    * proportional to the shard's bucket coverage, never the corpus. Matches
    * are verified with the MinHash ESTIMATE (signature agreement ≥ 8/16,
    * dd10's estimator) from sigs stored IN the index — the probe never
    * touches the corpus text. Every batch doc reports its verified
    * index-duplicate count, canonical representative, and dup/unique
    * status (dd21's contract). */
  /** Batch source carved out of the corpus for the served-index family —
    * its docs are the "today's shard" side, everything else is index. */
  private[graft] val servedBatchSrc = "src19"

  /** (cell, doc_id, band_id, bsig, sig, source) band rows for every doc —
    * the shared input of the served-index family (dd23 build-and-probe,
    * dd24 maintenance lifecycle). */
  private def bandedDocs(s: SparkSession, d: String): DataFrame = {
    val hs   = hashedShingles(s, d)
    val sigs = hs.select(col("doc_id"), graft.functions.hashfns.minhashSig(col("hset")).as("sig"))
    bandOfHs(hs).join(sigs, "doc_id")
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
      .select(bandCell(s).as("cell"), col("doc_id"), col("band_id"), col("bsig"),
        col("sig"), col("source"))
  }

  /** The incoming batch's band rows, materialized once per query via an
    * eager localCheckpoint: the frame feeds a driver collect AND the probe
    * join, lineage back through the shingle pipeline is truncated, and
    * the blocks release with the frame's reachability (a persist() here
    * would pin storage until an unpersist no caller can sequence around
    * the lazily-returned result). */
  private def batchBands(s: SparkSession, bands: DataFrame): DataFrame =
    bands.filter(col("source") === servedBatchSrc).drop("source").localCheckpoint()

  /** Shared probe kernel of the served-index family: plan ONLY the batch's
    * distinct cells out of the committed index (counter-gated — cell
    * bounds must prune), verify candidates by signature agreement, and
    * report each batch doc's dup status (dd21's contract).
    * `maxFilesPerCell` is the layout gate: 1 after a fresh build or a
    * compaction, 2 while a probed cell may carry base+delta files. */
  private def probeBandIndex(
      s: SparkSession, d: String, batch: DataFrame, meta: String,
      maxFilesPerCell: Int, knownCells: Option[Array[Long]] = None): DataFrame = {
    import graft.icelite.IcebergFormat
    import s.implicits._
    // probe: the batch's distinct cells — bounded by the cell space
    // (bands × cellBuckets: 256 at the default 64, and sized ∝ corpus at
    // scale, when it is still dwarfed by the batch's own row count), and
    // by the batch's bucket coverage — never by the corpus. A caller that
    // already collected the cell list (dd24's mid-lifecycle audit) hands
    // it in rather than paying the distinct+collect job twice.
    val probed = knownCells.getOrElse(
      batch.select(col("cell")).distinct().as[Long].collect().sorted)
    val (idx, kept, total) = IcebergFormat.scanPoints(s, meta, "cell", probed.map(_.toString))
    require(kept <= maxFilesPerCell * probed.length,
      s"probe read $kept files for ${probed.length} cells (max $maxFilesPerCell/cell) — " +
        "cell bounds failed to prune")
    require(kept < total || probed.length >= total,
      s"selective probe (${probed.length} cells) read ALL $total index files")
    probeVerify(batch, idx,
      Tables.documents(s, d).filter(col("source") === servedBatchSrc).select("doc_id"))
  }

  /** Signature-agreement verify + per-doc rollup shared by every serve
    * surface (dd23/dd24 batch probes, st22's per-micro-batch probe):
    * candidates from the (cell, band_id, bsig) equi-join, est-Jaccard ≥
    * 0.5 via ≥8/16 matching signature positions, one row per `baseDocs`
    * doc (left join keeps no-collision docs as 'unique'). */
  private def probeVerify(batch: DataFrame, idx: DataFrame, baseDocs: DataFrame): DataFrame = {
    val cand = batch.as("x")
      .join(idx.as("y"),
        col("x.cell") === col("y.cell") && col("x.band_id") === col("y.band_id") &&
          col("x.bsig") === col("y.bsig"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("idx_doc"),
        col("x.sig").as("sa"), col("y.sig").as("sb"))
      .distinct()
    val hits = cand
      .withColumn("eq", expr("size(filter(zip_with(sa, sb, (a, b) -> a = b), x -> x))"))
      .filter(col("eq") >= 8) // est_jaccard >= 0.5, dd10's estimator
      .groupBy("doc_id")
      .agg(countDistinct("idx_doc").as("n_index_dups"), min("idx_doc").as("rep_doc"))
    baseDocs
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_index_dups"), lit(0L)).as("n_index_dups"),
        coalesce(col("rep_doc"), lit(-1L)).as("rep_doc"),
        when(col("n_index_dups").isNotNull, lit("dup")).otherwise(lit("unique")).as("status"))
      .orderBy("doc_id")
  }

  /** Band rows (cell, doc_id, band_id, bsig, sig) of an ARBITRARY
    * (doc_id, text) frame — the serve-time twin of [[bandedDocs]] for
    * callers that don't read a dataset dir (st22 hands in each streaming
    * micro-batch). Not memoized: serve batches are one-shot. */
  private[graft] def bandRowsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import graft.functions.hashfns
    val hs = docs
      .select(col("doc_id"), hashfns.wordShingles(col("text"), 3).as("shs"))
      .filter(size(col("shs")) >= 1)
      .select(col("doc_id"),
        array_distinct(transform(col("shs"), sg => hashfns.rollHash(sg, P))).as("hset"))
    val sigs = hs.select(col("doc_id"), hashfns.minhashSig(col("hset")).as("sig"))
    bandOfHs(hs).join(sigs, "doc_id")
      .select(bandCell(s).as("cell"), col("doc_id"), col("band_id"), col("bsig"), col("sig"))
  }

  /** Ingest-time half of the streaming serve path: band + commit every
    * non-batch doc of dataset `d` as the one-file-per-cell index table
    * under `root`, returning the committed metadata path. */
  private[graft] def buildServedIndex(s: SparkSession, d: String, root: String): String = {
    import graft.icelite.IcebergFormat
    import org.apache.hadoop.fs.Path
    val rootP = new Path(root)
    val fs    = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(rootP)) fs.delete(rootP, true)
    val idxRows = bandRowsOf(s,
      Tables.documents(s, d).filter(col("source") =!= servedBatchSrc)
        .select(col("doc_id"), col("text")))
    val loc = s"$root/band_index"
    val w   = new IcebergFormat.Writer(s, loc, idxRows.schema)
    w.commit(Sim.writeIndexCells(s, idxRows, loc, "b", sortCol = "doc_id"))
    w.currentMetadataPath
  }

  /** Serve-time half: probe the committed index at `meta` with one
    * incoming (doc_id, text) frame. Reads ONLY the batch's cells
    * (require-gated like dd23); every incoming doc gets a verdict row.
    * Called once per micro-batch by st22 — probe cost ∝ the batch. */
  private[graft] def probeServedIndexBatch(
      s: SparkSession, meta: String, docs: DataFrame): DataFrame = {
    import graft.icelite.IcebergFormat
    import s.implicits._
    val batch  = bandRowsOf(s, docs).localCheckpoint()
    val probed = batch.select(col("cell")).distinct().as[Long].collect().sorted
    val base   = docs.select(col("doc_id"))
    if (probed.isEmpty)
      return base.select(col("doc_id"), lit(0L).as("n_index_dups"),
        lit(-1L).as("rep_doc"), lit("unique").as("status"))
    val (idx, kept, total) = IcebergFormat.scanPoints(s, meta, "cell", probed.map(_.toString))
    require(kept <= probed.length,
      s"micro-batch probe read $kept files for ${probed.length} cells — pruning failed")
    require(kept < total || probed.length >= total,
      s"selective micro-batch probe (${probed.length} cells) read ALL $total index files")
    probeVerify(batch, idx, base)
  }

  private def servedBandIndex(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    // eager localCheckpoint: the band rows feed the index write AND the
    // batch probe; without it each consumer re-runs the whole shingle +
    // minhash pipeline (stage metrics showed the ~7 s-CPU band compute
    // repeated per consumer — a persist() here was observed NOT to absorb
    // it because each consumer materializes through different pruned
    // projections). Checkpoint blocks release with the frame (see
    // [[batchBands]]).
    val bands = bandedDocs(s, d).localCheckpoint()

    // build + commit the index table (the ingest-time job; probes below
    // read ONLY this artifact)
    val root  = graft.Scratch.freshDir(s, "bandidx_" + java.lang.Integer.toHexString(d.hashCode))
    val idxRows = bands.filter(col("source") =!= servedBatchSrc).drop("source")
    val loc = s"$root/band_index"
    val w   = new IcebergFormat.Writer(s, loc, idxRows.schema)
    w.commit(Sim.writeIndexCells(s, idxRows, loc, "b", sortCol = "doc_id"))
    probeBandIndex(s, d, batchBands(s, bands), w.currentMetadataPath, maxFilesPerCell = 1)
  }

  /** dd24: band-index MAINTENANCE lifecycle — the dedup twin of the ANN
    * side's sm25→sm30→sm31 arc, because a 100 TB pipeline doesn't rebuild
    * its served dedup index per day, it APPENDS the day's shard and
    * periodically compacts:
    *   1. BUILD — the older index half commits as the base snapshot
    *      (one file per band-bucket cell, manifest cell bounds);
    *   2. APPEND — the newer half lands as a second snapshot whose
    *      per-cell DELTA files carry the same min=max=cell bounds; the
    *      index stays queryable throughout (probes at this point open at
    *      most base+delta = 2 files per cell, require-gated), and the
    *      append shuffles ONLY the new shard — index files are untouched;
    *   3. COMPACT — one index-sized shuffle folds every cell back to a
    *      single file, committed as a rewrite snapshot
    *      ([[graft.icelite.IcebergFormat.Writer.rewriteDataFiles]]) —
    *      pre-compaction snapshots stay readable (time travel intact);
    *   4. PROBE — dd23's batch probe against the compacted index, gated
    *      back to ONE file per probed cell.
    * The logical result is dd23's exactly (same index membership, same
    * verify), so the same oracle proves the lifecycle loses nothing. */
  private def servedBandIndexMaintenance(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    import s.implicits._
    // eager localCheckpoint, same rationale as [[servedBandIndex]]: the
    // band pipeline must run ONCE for the two index halves AND the batch
    val bands = bandedDocs(s, d).localCheckpoint()
    val root  = graft.Scratch.freshDir(s, "bandmnt_" + java.lang.Integer.toHexString(d.hashCode))
    val idxRows = bands.filter(col("source") =!= servedBatchSrc).drop("source")
    // shard boundary: base = older half of the index docs, delta = newer
    // (an all-batch corpus has no index side — commit two empty halves
    // rather than NPE on the null aggregate)
    val midRow = idxRows.agg(((min(col("doc_id")) + max(col("doc_id"))) / 2).cast("long"))
      .head()
    val mid = if (midRow.isNullAt(0)) 0L else midRow.getLong(0)
    val loc = s"$root/band_index"
    val w   = new IcebergFormat.Writer(s, loc, idxRows.schema)
    w.commit(Sim.writeIndexCells(
      s, idxRows.filter(col("doc_id") <= mid), loc, "b", sortCol = "doc_id"))
    w.commit(Sim.writeIndexCells(
      s, idxRows.filter(col("doc_id") > mid), loc, "d", sortCol = "doc_id"))
    // mid-lifecycle plan audit: a probe between append and compaction must
    // still prune to the probed cells, paying at most base+delta per cell
    // (planning only — counts come from manifests, no data read; the
    // checkpointed batch is the SAME frame the final probe consumes, so
    // the shingle pipeline runs once, not once per lifecycle stage)
    val batch = batchBands(s, bands)
    val probedCells = batch.select(col("cell")).distinct().as[Long].collect().sorted
    val (_, keptFrag, _) =
      IcebergFormat.scanPoints(s, w.currentMetadataPath, "cell", probedCells.map(_.toString))
    require(keptFrag <= 2 * probedCells.length,
      s"fragmented probe planned $keptFrag files for ${probedCells.length} cells — " +
        "append broke cell-bound pruning")
    // COMPACT: fold base+delta back to one file per cell, rewrite snapshot
    val fragmented = IcebergFormat.scan(s, w.currentMetadataPath)
      .select(col("cell"), col("doc_id"), col("band_id"), col("bsig"), col("sig"))
    w.rewriteDataFiles(Sim.writeIndexCells(
      s, fragmented, loc, "c", sortCol = "doc_id"))
    probeBandIndex(s, d, batch, w.currentMetadataPath,
      maxFilesPerCell = 1, knownCells = Some(probedCells))
  }

  /** Oracle replays the LOGICAL result: band equality across batch/index
    * sides + signature-agreement verify — the physical cell layout is
    * invisible (equal bsig ⟹ same cell, so cell-pruned probing is exact). */
  private[graft] lazy val servedBandIndexOracle = {
    val shHash = Hashing.duckRollHash("sg", P, "c0")
    s"""WITH $duckShingles,
      hs AS (
        SELECT doc_id, list_distinct(list_transform(shs, sg -> $shHash)) AS hset FROM sh),
      eh AS (SELECT doc_id, unnest(hset) AS h FROM hs),
      params(j, pa, pb) AS (VALUES ${Hashing.duckMinhashParams}),
      sig AS (
        SELECT doc_id, j, MIN((pa * h + pb) % $P) AS m
        FROM eh CROSS JOIN params GROUP BY doc_id, j),
      band AS (
        SELECT doc_id, j // ${Hashing.bandRows} AS band_id,
               string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS bsig
        FROM sig GROUP BY doc_id, j // ${Hashing.bandRows}),
      srcs AS (SELECT doc_id, source FROM documents),
      nb AS (SELECT b.* FROM band b JOIN srcs USING (doc_id) WHERE source = 'src19'),
      ib AS (SELECT b.* FROM band b JOIN srcs USING (doc_id) WHERE source <> 'src19'),
      xc AS (
        SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS idx_doc
        FROM nb x JOIN ib y ON x.band_id = y.band_id AND x.bsig = y.bsig),
      mh AS (
        SELECT c.doc_id, c.idx_doc,
               CAST(SUM(CASE WHEN sx.m = sy.m THEN 1 ELSE 0 END) AS BIGINT) AS eq
        FROM xc c
        JOIN sig sx ON sx.doc_id = c.doc_id
        JOIN sig sy ON sy.doc_id = c.idx_doc AND sy.j = sx.j
        GROUP BY 1, 2),
      hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_index_dups, MIN(idx_doc) AS rep_doc
        FROM mh WHERE eq >= 8 GROUP BY 1)
      SELECT dc.doc_id, COALESCE(h.n_index_dups, 0) AS n_index_dups,
             COALESCE(h.rep_doc, -1) AS rep_doc,
             CASE WHEN h.doc_id IS NULL THEN 'unique' ELSE 'dup' END AS status
      FROM documents dc LEFT JOIN hits h ON dc.doc_id = h.doc_id
      WHERE dc.source = 'src19' ORDER BY dc.doc_id"""
  }

  /** dd22: CROSS-document span coverage — per doc, the share of its
    * 10-word chunks that appear verbatim in at least one OTHER document
    * (tx11's per-doc chunk dup ratio counts within-doc repeats; this is
    * the policy-grade variant: what fraction of each doc is copied text),
    * rolled up per source as the dedup-policy input: mean coverage bp +
    * how many docs are majority-duplicated. One chunk-hash shuffle with
    * countDistinct(doc) — at 100 TB identical shape to tx11: the chunk
    * keyspace shards by hash, map-side combine first. Exact integers. */
  private def dupSpanCoverage(s: SparkSession, d: String): DataFrame = {
    val chunks = Tables.spread(
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 10)
      .select(col("doc_id"), col("source"),
        explode(expr("transform(sequence(0, size(ws) div 10 - 1), " +
          "i -> concat_ws(' ', slice(ws, i*10+1, 10)))")).as("seg"))
      .select(col("doc_id"), col("source"),
        graft.functions.hashfns.rollHash(col("seg"), Hashing.P).as("h"))
    val spread = chunks.groupBy("h").agg(countDistinct("doc_id").as("n_docs_h"))
    chunks.join(spread, "h")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("n_docs_h") > 1, 1L).otherwise(0L)).as("n_cross"))
      .withColumn("cov_bp", expr("n_cross * 10000 DIV n_seg"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("(2 * sum(cov_bp) + count(1)) DIV (2 * count(1))").as("mean_cov_bp"),
        sum(when(col("cov_bp") >= 5000, 1L).otherwise(0L)).as("n_majority_dup"))
      .orderBy("source")
  }

  private lazy val dupSpanCoverageOracle: String = {
    val segHash = Hashing.duckRollHash("seg", Hashing.P)
    s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      sgs AS (
        SELECT doc_id, source,
               unnest(list_transform(range(0, len(ws) // 10),
                 i -> array_to_string(ws[i*10+1 : i*10+10], ' '))) AS seg
        FROM w WHERE len(ws) >= 10),
      h AS (SELECT doc_id, source, $segHash AS h FROM sgs),
      sp AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs_h FROM h GROUP BY h),
      per AS (
        SELECT doc_id, source, COUNT(*) AS n_seg,
               SUM(CASE WHEN n_docs_h > 1 THEN 1 ELSE 0 END) AS n_cross
        FROM h JOIN sp USING (h) GROUP BY 1, 2),
      cov AS (SELECT source, n_cross * 10000 // n_seg AS cov_bp FROM per)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST((2 * SUM(cov_bp) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS mean_cov_bp,
             CAST(SUM(CASE WHEN cov_bp >= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_majority_dup
      FROM cov GROUP BY source ORDER BY source"""
  }

  def all: Seq[Q] = Seq(
    Q("dd01_exact",
      exact,
      Some("SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies FROM documents GROUP BY text ORDER BY doc_id")),
    Q("dd02_ngram_jaccard", ngramJaccard, Some(ngramJaccardOracle)),
    Q("dd03_minhash_lsh", minhashLsh, Some(minhashLshOracle)),
    Q("dd04_simhash", simhash, Some(simhashOracle)),
    Q("dd05_embed_neardup", embedNearDup, Some(embedNearDupOracle)),
    Q("dd06_cc_cluster", ccCluster, Some(ccClusterOracle)),
    Q("dd07_capped_jaccard", cappedJaccard, Some(cappedJaccardOracle)),
    Q("dd08_simhash_bucketed", simhashBucketed, Some(simhashBucketedOracle)),
    Q("dd10_minhash_est", minhashEst, Some(minhashEstOracle)),
    Q("dd11_containment", containment, Some(containmentOracle)),
    Q("dd09_embed_blocked_neardup", embedBlockedNearDup, Some(embedBlockedNearDupOracle)),
    Q("dd12_bow_fingerprint", bowFingerprint, Some(bowFingerprintOracle)),
    Q("dd13_keep_best", keepBest, Some(keepBestOracle)),
    Q("dd14_prefix_dup", prefixDup, Some(prefixDupOracle)),
    Q("dd15_cross_source_dup", crossSourceDup, Some(crossSourceDupOracle)),
    Q("dd16_winnow_fingerprint", winnowDup, Some(winnowDupOracle)),
    Q("dd17_band_tuning", bandTuning, Some(bandTuningOracle)),
    Q("dd18_winnow_est", winnowEst, Some(winnowEstOracle)),
    Q("dd19_cluster_size_hist", clusterSizeHist, Some(clusterSizeHistOracle)),
    Q("dd20_edit_distance", editDistanceDup, Some(editDistanceDupOracle)),
    Q("dd21_incremental_dedup", incrementalDedup, Some(incrementalDedupOracle)),
    Q("dd22_dup_span_coverage", dupSpanCoverage, Some(dupSpanCoverageOracle)),
    Q("dd23_served_band_index", servedBandIndex, Some(servedBandIndexOracle)),
    // same oracle as dd23: the maintenance lifecycle (append + compact)
    // must be invisible to the logical result
    Q("dd24_band_index_maintenance", servedBandIndexMaintenance,
      Some(servedBandIndexOracle))
  )

  /** Duplicate-cluster size distribution: how many exact-duplicate
    * clusters exist at each multiplicity, how many documents they hold,
    * and each multiplicity's share of the corpus in basis points — the
    * histogram every dedup report leads with (it answers "is duplication
    * a few huge clusters or a long tail", which decides whether keep-one
    * dedup or frequency-capped sampling is the right remedy). Two keyed
    * aggregations, text-hash then size — both map-side combinable; the
    * second operates on cluster-count-sized data, so the whole audit
    * costs one corpus shuffle at any scale. */
  private def clusterSizeHist(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .groupBy("text").agg(count(lit(1)).as("n_copies"))
      .groupBy("n_copies").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("n_copies") * col("n_clusters"))
      .withColumn("corpus_share_bp",
        expr("n_docs * 10000 div sum(n_docs) over ()"))
      .select("n_copies", "n_clusters", "n_docs", "corpus_share_bp")
      .orderBy("n_copies")
  }

  private val clusterSizeHistOracle =
    """WITH c AS (SELECT COUNT(*) AS n_copies FROM documents GROUP BY text),
      h AS (SELECT n_copies, COUNT(*) AS n_clusters,
                   CAST(n_copies * COUNT(*) AS BIGINT) AS n_docs
            FROM c GROUP BY n_copies)
      SELECT n_copies, n_clusters, n_docs,
             CAST(n_docs * 10000 // (SUM(n_docs) OVER ()) AS BIGINT) AS corpus_share_bp
      FROM h ORDER BY n_copies"""
}
