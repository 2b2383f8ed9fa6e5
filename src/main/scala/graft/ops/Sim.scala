package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *  - sm01: brute-force cosine top-k for a fixed query set — the exactness
  *    baseline. The corpus side streams; the query side is broadcast, so
  *    at 100 TB this is a single map-side pass (no shuffle) + a tiny top-k.
  *  - sm02: all-pairs nearest neighbor (near-duplicate scan). Quadratic by
  *    definition at small scale; the 100 TB path is sm03's bucketing (only
  *    intra-bucket pairs) — kept exact here so the oracle can verify it.
  *  - sm03: random-hyperplane LSH (16 planes -> 16-bit signature). Planes
  *    come from a deterministic integer formula so the DuckDB oracle
  *    reproduces the *same* buckets — the oracle verifies the algorithm.
  *
  * Dot products are computed in double precision with `zip_with` +
  * `aggregate` (codegen'd, per-row, no UDF); similarities are rounded to 4
  * decimals on output so group-sum association order can't flip a hash.
  */
object Sim {

  /** Primitive-array dot / norm kernels. Sequential left-to-right
    * accumulation — the exact fold order the oracle-matched first
    * implementation (`zip_with` + `aggregate`) used, so results are
    * bit-identical; just ~100x cheaper than interpreted lambdas. */
  private[ops] def dotv(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private[ops] def normv(v: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    math.sqrt(acc)
  }

  private[ops] def dist2(v: Array[Double], cv: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < cv.length) { val t = v(i) - cv(i); acc += t * t; i += 1 }
    acc
  }

  /** Nearest centroid by (L2^2 asc, cid asc): strict < over an id-sorted
    * centroid array keeps the smaller cid on ties — the tie rule BOTH the
    * sm05 and sm06 oracles replicate, kept in one place so they cannot
    * drift apart. */
  private[ops] def assignCell(v: Array[Double], cents: Array[(Long, Array[Double], Double)]): Long = {
    var best = Double.MaxValue
    var cell = -1L
    var i    = 0
    while (i < cents.length) {
      val d2 = dist2(v, cents(i)._2)
      if (d2 < best) { best = d2; cell = cents(i)._1 }
      i += 1
    }
    cell
  }

  /** Exact-integer nearest centroid over 2^20-quantized coordinates: the
    * squared distance is a sum of (long diff)^2 terms — no floating-point
    * accumulation at all, so the assignment is independent of summation
    * order on ANY engine (the double variant above can flip a near-tie
    * depending on association order; the kmeans oracles quantize the same
    * way, so both engines pick bit-identical cells). Tie on distance keeps
    * the smaller cid (strict < over the id-sorted array). */
  private[ops] def assignCellQ(vq: Array[Long], cents: Array[(Long, Array[Long])]): Long = {
    var best = Long.MaxValue
    var cell = -1L
    var i    = 0
    while (i < cents.length) {
      val cq  = cents(i)._2
      var acc = 0L
      var j   = 0
      while (j < cq.length) { val t = vq(j) - cq(j); acc += t * t; j += 1 }
      if (acc < best) { best = acc; cell = cents(i)._1 }
      i += 1
    }
    cell
  }

  /** Collect (id, vector, norm) rows sorted by id — the broadcast side of
    * the brute-force kernels. Queries (sm01) are tiny by construction; the
    * full corpus (sm02) is only broadcast-able at verification scale — the
    * 100 TB path is sm03's bucketing, which bounds the pair space. */
  private[ops] def collectMatrix(s: SparkSession, d: String, idBound: Long = Long.MaxValue): Array[(Long, Array[Double], Double)] = {
    import s.implicits._
    Tables.embeddings(s, d)
      .filter(col("vec_id") < idBound)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
      .map { case (id, vf) =>
        val v = vf.map(_.toDouble)
        (id, v, normv(v))
      }
  }

  /** Id bound for the deliberately-quadratic exactness baselines (sm02,
    * dd04's verify, dd05): below it they are exact and oracle-verified;
    * above it they would grow O(n²) and drown the bench signal of the
    * scalable paths (sm03/sm04/dd03) they exist to validate — at sf0.01
    * (500 vectors/docs) the cap is above the corpus, so verification
    * coverage is unchanged. */
  private[ops] val baselineCap = 1024L

  /** Oracle scaffold: per-(vec, dim) exploded doubles + norms. */
  private[ops] val duckVecs =
    """e AS (
        SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS x
        FROM embeddings, range(64) t(d)),
      nrm AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM e GROUP BY vec_id)"""

  // ------------------------------------------------- brute-force top-k ANN

  private def cosineTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // broadcast the 10 query vectors; the corpus streams map-side (no
    // shuffle until the tiny top-k window over |corpus| x 10 rows)
    val bc  = s.sparkContext.broadcast(collectMatrix(s, d, idBound = 10))
    val byQ = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
    Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = bc.value
        it.flatMap { case (nid, vf) =>
          val v = vf.map(_.toDouble)
          val n = normv(v)
          qs.iterator.filter(_._1 != nid).map { case (qid, qv, qn) =>
            (qid, nid, dotv(qv, v) / (qn * n))
          }
        }
      }
      .toDF("qid", "nid", "sim")
      .withColumn("rn", row_number().over(byQ).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rn")
  }

  private val cosineTopKOracle =
    s"""WITH $duckVecs,
      dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, SUM(a.x * b.x) AS dot
        FROM e a JOIN e b ON a.d = b.d AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10
        GROUP BY 1, 2),
      sims AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM dots JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sims)
      SELECT qid, rn, nid, ROUND(sim, 4) AS sim FROM r WHERE rn <= 5 ORDER BY qid, rn"""

  // ------------------------------------------- all-pairs nearest neighbor

  private def nearestNeighbor(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // broadcast the corpus matrix; each row scans it in a primitive loop.
    // Candidates iterate in ascending id, strict > keeps the smallest id on
    // (measure-zero) ties — the same (sim DESC, nid ASC) selection the
    // windowed implementation used. Probe and corpus are both bounded to
    // `baselineCap` ids (mirrored in the oracle) so the quadratic baseline
    // stays O(1) beyond verification scale.
    val bc = s.sparkContext.broadcast(collectMatrix(s, d, idBound = baselineCap))
    Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .filter(col("vec_id") < baselineCap)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (vid, vf) =>
          val v = vf.map(_.toDouble)
          val n = normv(v)
          var bestSim = Double.NegativeInfinity
          var bestId  = -1L
          var i       = 0
          while (i < cs.length) {
            val (cid, cv, cn) = cs(i)
            if (cid != vid) {
              val sim = dotv(v, cv) / (n * cn)
              if (sim > bestSim) { bestSim = sim; bestId = cid }
            }
            i += 1
          }
          (vid, bestId, bestSim)
        }
      }
      .toDF("vec_id", "nn_id", "sim")
      .select(col("vec_id"), col("nn_id"), round(col("sim"), 4).as("sim"))
      .orderBy("vec_id")
  }

  private val nearestNeighborOracle =
    s"""WITH $duckVecs,
      dots AS (
        SELECT a.vec_id AS vid, b.vec_id AS nid, SUM(a.x * b.x) AS dot
        FROM e a JOIN e b ON a.d = b.d AND b.vec_id <> a.vec_id
        WHERE a.vec_id < $baselineCap AND b.vec_id < $baselineCap
        GROUP BY 1, 2),
      sims AS (
        SELECT vid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM dots JOIN nrm na ON vid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY sim DESC, nid) AS rn FROM sims)
      SELECT vid AS vec_id, nid AS nn_id, ROUND(sim, 4) AS sim FROM r WHERE rn = 1 ORDER BY vec_id"""

  // ---------------------------------------------- random-hyperplane LSH

  /** Deterministic plane weights: integer formula -> double in [-1, 1).
    * w(j, d) = ((j*64 + d) * 2654435761 mod 2^32) / 2^31 - 1 */
  private[graft] def planeWeight(j: Int, dim: Int): Double =
    ((j.toLong * 64 + dim) * 2654435761L % 4294967296L) / 2147483648.0 - 1.0

  /** The constant 16x64 plane matrix (a program constant, never shuffled). */
  private[ops] val hyperPlanes: Array[Array[Double]] =
    Array.tabulate(16, 64)((j, dim) => planeWeight(j, dim))

  /** 16-bit hyperplane signature — ONE definition shared by sm03/sm04 and
    * dd09 so the bucketing can never drift between operators. Dot products
    * accumulate d=0..63 in order; the oracle's group-sum order may differ,
    * but a sign flip would need |dot| at float-error scale — measure-zero
    * for this data. */
  private[ops] def hyperSig(vf: Array[Float]): Long = {
    var bucket = 0L
    var j      = 0
    while (j < 16) {
      val p   = hyperPlanes(j)
      var dot = 0.0
      var i   = 0
      while (i < vf.length) { dot += vf(i).toDouble * p(i); i += 1 }
      if (dot > 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  private def lshBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // compute the whole 16-bit signature per row in one map pass; the only
    // shuffle is the tiny bucket histogram
    Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .map { case (_, vf) => hyperSig(vf) }
      .toDF("bucket")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("bucket")
  }

  private val lshBucketsOracle =
    """WITH planes AS (
        SELECT j, d, ((j * 64 + d) * 2654435761 % 4294967296) / 2147483648.0 - 1.0 AS w,
               CAST(1 AS BIGINT) << j AS pw
        FROM range(16) a(j), range(64) b(d)),
      e AS (
        SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS x
        FROM embeddings, range(64) t(d)),
      dots AS (
        SELECT vec_id, j, pw, SUM(x * w) AS dp
        FROM e JOIN planes USING (d) GROUP BY 1, 2, 3),
      sig AS (
        SELECT vec_id, CAST(SUM(CASE WHEN dp > 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
        FROM dots GROUP BY vec_id)
      SELECT bucket, COUNT(*) AS n_vecs FROM sig GROUP BY bucket ORDER BY bucket"""

  // ------------------------------------- multi-probe LSH search + rerank

  /** The full approximate-search path: assign every vector a 16-bit
    * hyperplane signature, probe buckets within hamming<=2 of the query's
    * signature, exact-rerank the candidates by cosine, top-5. At 100 TB
    * the candidate set is a tiny fraction of the corpus (the whole point);
    * here the oracle replicates signature, probing and rerank exactly. */
  private def lshSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qs = Tables.embeddings(s, d)
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
      .map { case (id, vf) =>
        val v = vf.map(_.toDouble)
        (id, v, normv(v), hyperSig(vf))
      }
    val bc  = s.sparkContext.broadcast(qs)
    val byQ = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
    Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val queries = bc.value
        it.flatMap { case (nid, vf) =>
          val nb  = hyperSig(vf)
          lazy val v = vf.map(_.toDouble)
          lazy val n = normv(v)
          queries.iterator
            .filter { case (qid, _, _, qb) =>
              qid != nid && java.lang.Long.bitCount(qb ^ nb) <= 2
            }
            .map { case (qid, qv, qn, _) => (qid, nid, dotv(qv, v) / (qn * n)) }
        }
      }
      .toDF("qid", "nid", "sim")
      .withColumn("rn", row_number().over(byQ).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rn")
  }

  private val lshSearchOracle =
    s"""WITH planes AS (
        SELECT j, d, ((j * 64 + d) * 2654435761 % 4294967296) / 2147483648.0 - 1.0 AS w,
               CAST(1 AS BIGINT) << j AS pw
        FROM range(16) a(j), range(64) b(d)),
      e AS (
        SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS x
        FROM embeddings, range(64) t(d)),
      dots AS (
        SELECT vec_id, j, pw, SUM(x * w) AS dp
        FROM e JOIN planes USING (d) GROUP BY 1, 2, 3),
      sig AS (
        SELECT vec_id, CAST(SUM(CASE WHEN dp > 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
        FROM dots GROUP BY vec_id),
      nrm AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM e GROUP BY vec_id),
      cand AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid
        FROM sig q JOIN sig c
          ON q.vec_id < 10 AND c.vec_id <> q.vec_id
         AND bit_count(xor(q.bucket, c.bucket)) <= 2),
      dq AS (
        SELECT cand.qid, cand.nid, SUM(a.x * b.x) AS dot
        FROM cand JOIN e a ON a.vec_id = cand.qid JOIN e b ON b.vec_id = cand.nid AND a.d = b.d
        GROUP BY 1, 2),
      sims AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM dq JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sims)
      SELECT qid, rn, nid, ROUND(sim, 4) AS sim FROM r WHERE rn <= 5 ORDER BY qid, rn"""

  // ------------------------------------------ IVF coarse-quantizer search

  /** IVF (inverted-file) approximate search — the other standard ANN layout
    * next to sm03/sm04's hyperplane LSH. The corpus is partitioned into
    * cells by nearest centroid (deterministic codebook: the 8 lowest-id
    * vectors, so the oracle replicates "training"), a query probes its 2
    * nearest cells, and only those vectors are exact-reranked. At 100 TB
    * the corpus is physically partitioned (bucketed) by cell id, so a query
    * touches nprobe/ncells of the data; here cell assignment, probing and
    * rerank are all replicated exactly in the oracle. Ties on cell distance
    * break to the smaller centroid id on both sides. */
  private[ops] val ivfCells = 8
  private val ivfProbes     = 2

  private def ivfSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = collectMatrix(s, d, idBound = ivfCells) // ascending cid
    // centroid ids ordered by (L2^2 asc, cid asc) — sortBy is stable and
    // cents is id-sorted, so ties keep the smaller cid first
    def probeCells(v: Array[Double]): Set[Long] =
      cents.map { case (cid, cv, _) => (cid, dist2(v, cv)) }
        .sortBy(_._2).take(ivfProbes).map(_._1).toSet
    val queries = collectMatrix(s, d, idBound = 10)
      .map { case (qid, v, n) => (qid, v, n, probeCells(v)) }
    val bc  = s.sparkContext.broadcast((cents, queries))
    val byQ = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
    Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (cs, qs) = bc.value
        it.flatMap { case (nid, vf) =>
          val v    = vf.map(_.toDouble)
          val cell = assignCell(v, cs)
          lazy val n = normv(v)
          qs.iterator
            .filter { case (qid, _, _, probes) => qid != nid && probes.contains(cell) }
            .map { case (qid, qv, qn, _) => (qid, nid, dotv(qv, v) / (qn * n)) }
        }
      }
      .toDF("qid", "nid", "sim")
      .withColumn("rn", row_number().over(byQ).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rn")
  }

  private val ivfSearchOracle =
    s"""WITH $duckVecs,
      ce AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < $ivfCells),
      d2 AS (
        SELECT v.vec_id, c.cid, SUM((v.x - c.x) * (v.x - c.x)) AS d2
        FROM e v JOIN ce c USING (d) GROUP BY 1, 2),
      rk AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2),
      cell AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid AS pcell FROM rk WHERE vec_id < 10 AND rn <= $ivfProbes),
      cand AS (
        SELECT p.qid, a.vec_id AS nid
        FROM probes p JOIN cell a ON a.cell = p.pcell AND a.vec_id <> p.qid),
      dots AS (
        SELECT cand.qid, cand.nid, SUM(a.x * b.x) AS dot
        FROM cand JOIN e a ON a.vec_id = cand.qid JOIN e b ON b.vec_id = cand.nid AND a.d = b.d
        GROUP BY 1, 2),
      sims AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM dots JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sims)
      SELECT qid, rn, nid, ROUND(sim, 4) AS sim FROM r WHERE rn <= 5 ORDER BY qid, rn"""

  // ------------------------------------------------ k-means (Lloyd step)

  /** One distributed Lloyd iteration from the deterministic codebook (the
    * 8 lowest-id vectors, as sm05): assign every vector to its nearest
    * centroid map-side (broadcast codebook), then recompute per-(cell,
    * dim) means in one grouped aggregate. This is the iterate-until-stable
    * clustering shape at 100 TB — per round one scan + one shuffle keyed
    * by (cell, dim); the centroid matrix that feeds the next round is
    * cells x dims, driver-sized at any corpus size. Every arithmetic step
    * that feeds the compared output is EXACT INTEGER math, identical on
    * both engines regardless of association order: (1) coordinates are
    * quantized to floor(x * 2^20) longs up front; (2) the assignment
    * distance is a sum of (long diff)^2 — `assignCellQ`, mirrored by the
    * oracle's quantized d2 — so a near-tie can never flip between engines
    * (round-5 root cause #2); (3) mean_q is a half-up integer division
    * `(2*|sum|*10^4 + den) div (2*den)` at 4 decimals — no ROUND(double)
    * anywhere, which Spark (BigDecimal HALF_UP on shortest repr) and
    * DuckDB (scaled nearbyint) disagree on at half-ulp boundaries
    * (round-5 root cause #1). The final /10000.0 is a single IEEE op on
    * identical integers — bit-identical everywhere. */
  private def kmeansStep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents  = collectMatrix(s, d, idBound = ivfCells)
    val centsQ = cents.map { case (cid, v, _) => (cid, v.map(quant20)) }
    val bc     = s.sparkContext.broadcast(centsQ)
    Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (_, vf) =>
          val vq   = vf.map(x => quant20(x.toDouble))
          val cell = assignCellQ(vq, cs)
          vq.iterator.zipWithIndex.map { case (xq, dim) => (cell, dim.toLong, xq) }
        }
      }
      .toDF("cell", "d", "xq")
      .groupBy("cell", "d")
      .agg(count(lit(1)).as("n_members"), sum("xq").as("sq"))
      .withColumn("mean_q", expr(meanQ4Spark))
      .select(col("cell"), col("d"), col("n_members"), col("mean_q"))
      .orderBy("cell", "d")
  }

  /** floor(x * 2^20): power-of-two scale, exact in double arithmetic. */
  private def quant20(x: Double): Long = math.floor(x * 1048576.0).toLong

  /** Half-up 4-decimal mean of quantized sum `sq` over `n_members` rows,
    * as pure integer division — `(2|s|·10^4 + den) div 2·den` truncated is
    * round-half-up for positive operands; the sign is split out so
    * truncate-vs-floor semantics can never differ between engines. The
    * trailing /10000.0 maps the exact scaled integer to the double both
    * engines render identically. */
  private val meanQ4Spark =
    """CAST(CASE WHEN sq >= 0
      |  THEN (2 * sq * 10000 + n_members * 1048576) DIV (2 * n_members * 1048576)
      |  ELSE -((2 * (-sq) * 10000 + n_members * 1048576) DIV (2 * n_members * 1048576))
      |END AS DOUBLE) / CAST(10000 AS DOUBLE)""".stripMargin
  private val meanQ4Duck =
    """CAST(CASE WHEN sq >= 0
      |  THEN (2 * sq * 10000 + n_members * 1048576) // (2 * n_members * 1048576)
      |  ELSE -((2 * (-sq) * 10000 + n_members * 1048576) // (2 * n_members * 1048576))
      |END AS DOUBLE) / CAST(10000 AS DOUBLE)""".stripMargin

  /** Oracle-side quantized assignment distance: exact BIGINT (diff)^2 sum
    * over floor(x*2^20) coords — mirrors `assignCellQ` bit-for-bit. */
  private def quantD2(src: String, k: String = ""): String =
    s"""d2$k AS (
        SELECT v.vec_id, c.cid,
               SUM((CAST(FLOOR(v.x * 1048576.0) AS BIGINT) - CAST(FLOOR(c.x * 1048576.0) AS BIGINT))
                 * (CAST(FLOOR(v.x * 1048576.0) AS BIGINT) - CAST(FLOOR(c.x * 1048576.0) AS BIGINT))) AS d2
        FROM e v JOIN $src c USING (d) GROUP BY 1, 2)"""

  private val kmeansStepOracle =
    s"""WITH $duckVecs,
      ce AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < $ivfCells),
      ${quantD2("ce")},
      rk AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2),
      cell AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1),
      acc AS (
        SELECT cell, d, COUNT(*) AS n_members,
               SUM(CAST(FLOOR(x * 1048576.0) AS BIGINT)) AS sq
        FROM e JOIN cell USING (vec_id)
        GROUP BY 1, 2)
      SELECT cell, d, n_members, $meanQ4Duck AS mean_q
      FROM acc ORDER BY cell, d"""

  // ---------------------------------------- k-means (3 Lloyd iterations)

  /** Three full Lloyd iterations — sm06's step driven to the
    * iterate-until-stable loop a real clustering job runs. Each round is
    * one scan + one (cell, dim)-keyed shuffle; the ONLY driver-side state
    * between rounds is the cells×dims centroid matrix (constant-size at
    * any corpus scale — collecting it is the Lloyd pattern, not a
    * bottleneck). Round-boundary determinism: next-round centroids are the
    * 4-decimal exact-integer means (see sm06's Scaladoc) re-quantized with
    * the same floor(x*2^20), so both engines iterate from bit-identical
    * integer centroids and assign with the same exact-integer distance.
    * A cell that loses all members keeps its previous centroid (never
    * happens on the gated corpus — the oracle needs no mirror). */
  private def kmeansIterate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
    var centsQ = collectMatrix(s, d, idBound = ivfCells)
      .map { case (cid, v, _) => (cid, v.map(quant20)) }
    var result: DataFrame = null
    for (iter <- 1 to 3) {
      val bc = s.sparkContext.broadcast(centsQ)
      val step = base
        .mapPartitions { it =>
          val cs = bc.value
          it.flatMap { case (_, vf) =>
            val vq   = vf.map(x => quant20(x.toDouble))
            val cell = assignCellQ(vq, cs)
            vq.iterator.zipWithIndex.map { case (xq, dim) => (cell, dim.toLong, xq) }
          }
        }
        .toDF("cell", "d", "xq")
        .groupBy("cell", "d")
        .agg(count(lit(1)).as("n_members"), sum("xq").as("sq"))
        .withColumn("mean_q", expr(meanQ4Spark))
        .select(col("cell"), col("d"), col("n_members"), col("mean_q"))
      result = step
      if (iter < 3) {
        val rows = step.select(col("cell"), col("d"), col("mean_q"))
          .as[(Long, Long, Double)].collect()
        val byCell = rows.groupBy(_._1).map { case (c, rs) =>
          val arr = new Array[Long](64)
          rs.foreach { case (_, dim, m) => arr(dim.toInt) = quant20(m) }
          c -> arr
        }
        centsQ = centsQ.map { case (cid, old) => (cid, byCell.getOrElse(cid, old)) }
      }
    }
    result.orderBy("cell", "d")
  }

  private val kmeansIterateOracle: String = {
    def round(k: Int, src: String) =
      s"""${quantD2(src, s"_$k")},
        rk_$k AS (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
          FROM d2_$k),
        cell_$k AS (SELECT vec_id, cid AS cell FROM rk_$k WHERE rn = 1),
        m_$k AS (
          SELECT cell, d, n_members, $meanQ4Duck AS mean_q
          FROM (SELECT cell, d, COUNT(*) AS n_members,
                       SUM(CAST(FLOOR(x * 1048576.0) AS BIGINT)) AS sq
                FROM e JOIN cell_$k USING (vec_id)
                GROUP BY 1, 2))"""
    s"""WITH $duckVecs,
      c_0 AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < $ivfCells),
      ${round(1, "c_0")},
      c_1 AS (SELECT cell AS cid, d, mean_q AS x FROM m_1),
      ${round(2, "c_1")},
      c_2 AS (SELECT cell AS cid, d, mean_q AS x FROM m_2),
      ${round(3, "c_2")}
      SELECT cell, d, n_members, mean_q FROM m_3 ORDER BY cell, d"""
  }

  // ------------------------------------------- int8 scalar quantization

  /** Int8 scalar quantization of the embedding corpus (the memory-compression
    * step before an ANN index ships to serving): each dim quantizes to
    * q = clamp(floor(x·64), ±127), and the per-vector reconstruction error
    * is audited EXACTLY — (x − q/64) is a difference of dyadic doubles, so
    * scaling by 2^20 and flooring yields an integer error term whose sum is
    * association-order-free. Output is the error histogram (bucket = err
    * div 2^16) plus saturation counts: map-side per-vector work, one
    * constant-size (histogram-keyed) shuffle — a single pass at 100 TB.
    */
  private def sq8Quantize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .map { case (id, vf) =>
        var err = 0L
        var sat = 0L
        var i   = 0
        while (i < vf.length) {
          val x  = vf(i).toDouble
          val q0 = math.floor(x * 64.0)
          val q  = math.max(-127.0, math.min(127.0, q0))
          if (q != q0) sat += 1
          err += math.floor((x - q / 64.0) * 1048576.0).toLong
          i += 1
        }
        (id, err, sat)
      }
      .toDF("vec_id", "err_q", "n_sat")
      .groupBy(expr("err_q div 65536").as("err_bucket"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min("err_q").as("min_err"),
        max("err_q").as("max_err"),
        sum("n_sat").as("n_saturated"))
      .orderBy("err_bucket")
  }

  private val sq8QuantizeOracle =
    s"""WITH $duckVecs,
      q AS (
        SELECT vec_id,
               x,
               GREATEST(-127, LEAST(127, FLOOR(x * 64.0))) AS qv,
               CASE WHEN FLOOR(x * 64.0) BETWEEN -127 AND 127 THEN 0 ELSE 1 END AS sat
        FROM e),
      pv AS (
        SELECT vec_id,
               CAST(SUM(CAST(FLOOR((x - qv / 64.0) * 1048576.0) AS BIGINT)) AS BIGINT) AS err_q,
               CAST(SUM(sat) AS BIGINT) AS n_sat
        FROM q GROUP BY vec_id)
      SELECT err_q // 65536 AS err_bucket, COUNT(*) AS n_vecs,
             MIN(err_q) AS min_err, MAX(err_q) AS max_err,
             CAST(SUM(n_sat) AS BIGINT) AS n_saturated
      FROM pv GROUP BY 1 ORDER BY 1"""

  // ------------------------------------- product quantization (PQ codes)

  /** Product quantization — the compressed layout large ANN indexes store
    * vectors in (FAISS-style IVF-PQ residual coding, minus the IVF level
    * gated separately as sm05): the 64-dim space splits into 4 16-dim
    * subspaces, each with its own 8-entry codebook (deterministic
    * "training": the sub-vectors of the 8 lowest-id vectors, sm05's
    * codebook convention), and every vector is stored as 4 small codes.
    * The audit reports per (subspace, code) usage and the summed
    * reconstruction error (4dp-quantized then DECIMAL-summed, so
    * partial-merge order can't move it) — the table that decides whether
    * 8 codes/subspace is enough before anyone ships the compressed index.
    * Codebook stays broadcast-sized at any corpus; encoding is map-only:
    * one scan + a 32-row aggregate. Ties break to the smaller code id in
    * both engines. */
  private def pqQuantize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val books = collectMatrix(s, d, idBound = 8).map { case (cid, v, _) => (cid, v) }
    val bc = s.sparkContext.broadcast(books)
    Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .flatMap { case (_, vf) =>
        val v  = vf.map(_.toDouble)
        val cb = bc.value
        (0 until 4).iterator.map { sub =>
          val off = sub * 16
          var bestCode = -1L
          var bestD    = Double.PositiveInfinity
          cb.foreach { case (cid, cv) =>
            var dd = 0.0
            var i  = 0
            while (i < 16) { val t = v(off + i) - cv(off + i); dd += t * t; i += 1 }
            if (dd < bestD) { bestD = dd; bestCode = cid } // ascending: ties keep min cid
          }
          (sub.toLong, bestCode, bestD)
        }
      }
      .toDF("sub", "code", "err")
      .groupBy("sub", "code")
      .agg(
        count(lit(1)).as("n_assigned"),
        round(sum(round(col("err"), 4).cast("decimal(14,4)")), 4).cast("double").as("sum_err"))
      .orderBy("sub", "code")
  }

  private val pqQuantizeOracle =
    s"""WITH $duckVecs,
      cb AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < 8),
      d2 AS (
        SELECT v.vec_id, v.d // 16 AS sub, c.cid, SUM((v.x - c.x) * (v.x - c.x)) AS err
        FROM e v JOIN cb c ON v.d = c.d
        GROUP BY 1, 2, 3),
      rk AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY err, cid) AS rn
        FROM d2),
      asg AS (SELECT vec_id, sub, cid AS code, err FROM rk WHERE rn = 1)
      SELECT CAST(sub AS BIGINT) AS sub, code, COUNT(*) AS n_assigned,
             CAST(ROUND(SUM(CAST(ROUND(err, 4) AS DECIMAL(14,4))), 4) AS DOUBLE) AS sum_err
      FROM asg GROUP BY sub, code ORDER BY sub, code"""

  // ------------------------------------------ ANN quality eval (recall@k)

  /** Recall@5 of the multi-probe LSH search (sm04) against exact
    * brute-force ground truth — the "measure, don't guess" evaluation every
    * ANN deployment runs before trusting its index. Ground truth for the 10
    * query vectors is ONE broadcast-queries map-side pass over the corpus
    * (10 dot products per row — O(corpus), not all-pairs) + a top-5 window;
    * the LSH side is sm04's plan unchanged. Recall joins the two 50-row
    * result sets on (qid, nid) and divides exact integers, so both engines
    * compute the identical double.
    *
    * Reading the number: 16 planes shard the space into 2^16 buckets, so
    * the right-sized corpus for this signature is millions of vectors
    * (bits ≈ log2(n / wanted bucket occupancy)); at the sf0.01 eval's 500
    * vectors almost every bucket is empty and hamming≤2 probing reaches
    * 137/65536 of them, which is why measured recall here is low (~0.12)
    * while the IVF (sm12: 0.80) and SQ8 (sm17: 0.88) paths — whose index
    * granularity matches this corpus — score high. The eval exists
    * precisely to surface that density mismatch per deployment; the
    * signature width is the knob. */
  private def annRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qs = Tables.embeddings(s, d)
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
      .map { case (id, vf) =>
        val v = vf.map(_.toDouble)
        (id, v, normv(v))
      }
    val bc  = s.sparkContext.broadcast(qs)
    val byQ = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
    val exact = Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val queries = bc.value
        it.flatMap { case (nid, vf) =>
          lazy val v = vf.map(_.toDouble)
          lazy val n = normv(v)
          queries.iterator
            .filter { case (qid, _, _) => qid != nid }
            .map { case (qid, qv, qn) => (qid, nid, dotv(qv, v) / (qn * n)) }
        }
      }
      .toDF("qid", "nid", "sim")
      .withColumn("rn", row_number().over(byQ))
      .filter(col("rn") <= 5)
      .select("qid", "nid")
    val approx = lshSearch(s, d).select("qid", "nid")
    val hits = approx.join(exact, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    exact.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("qid"), col("n_hits"),
        round(col("n_hits") / lit(5.0), 4).as("recall"))
      .orderBy("qid")
  }

  private val annRecallOracle =
    s"""WITH planes AS (
        SELECT j, d, ((j * 64 + d) * 2654435761 % 4294967296) / 2147483648.0 - 1.0 AS w,
               CAST(1 AS BIGINT) << j AS pw
        FROM range(16) a(j), range(64) b(d)),
      e AS (
        SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS x
        FROM embeddings, range(64) t(d)),
      dots AS (
        SELECT vec_id, j, pw, SUM(x * w) AS dp
        FROM e JOIN planes USING (d) GROUP BY 1, 2, 3),
      sig AS (
        SELECT vec_id, CAST(SUM(CASE WHEN dp > 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
        FROM dots GROUP BY vec_id),
      nrm AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM e GROUP BY vec_id),
      cand AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid
        FROM sig q JOIN sig c
          ON q.vec_id < 10 AND c.vec_id <> q.vec_id
         AND bit_count(xor(q.bucket, c.bucket)) <= 2),
      dq AS (
        SELECT cand.qid, cand.nid, SUM(a.x * b.x) AS dot
        FROM cand JOIN e a ON a.vec_id = cand.qid JOIN e b ON b.vec_id = cand.nid AND a.d = b.d
        GROUP BY 1, 2),
      lsims AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM dq JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      lsh AS (
        SELECT qid, nid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM lsims) WHERE rn <= 5),
      edots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, SUM(a.x * b.x) AS dot
        FROM e a JOIN e b ON a.d = b.d AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10 GROUP BY 1, 2),
      esims AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM edots JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      exact AS (
        SELECT qid, nid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM esims) WHERE rn <= 5),
      hits AS (
        SELECT exact.qid, COUNT(lsh.nid) AS n_hits
        FROM exact LEFT JOIN lsh ON exact.qid = lsh.qid AND exact.nid = lsh.nid
        GROUP BY exact.qid)
      SELECT qid, CAST(n_hits AS BIGINT) AS n_hits,
             ROUND(n_hits / 5.0, 4) AS recall
      FROM hits ORDER BY qid"""

  // ------------------------------------------------- kNN label vote

  /** k-nearest-neighbor classification — the label-propagation /
    * quality-classifier primitive: each query vector takes the majority
    * label of its 5 cosine-nearest neighbors (sm01's exact candidate
    * selection), ties on the smaller label id. The corpus streams map-side
    * against broadcast queries exactly as sm01; the label join happens
    * AFTER top-k, so the corpus-sized label table is probed by a
    * 50-row broadcast — never the other way around. At 100 TB the
    * brute-force scan swaps to sm04's LSH candidates; the vote is
    * unchanged. */
  private def knnClassify(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bc  = s.sparkContext.broadcast(collectMatrix(s, d, idBound = 10))
    val byQ = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
    val cands = Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = bc.value
        it.flatMap { case (nid, vf) =>
          val v = vf.map(_.toDouble)
          val n = normv(v)
          qs.iterator.filter(_._1 != nid).map { case (qid, qv, qn) =>
            (qid, nid, dotv(qv, v) / (qn * n))
          }
        }
      }
      .toDF("qid", "nid", "sim")
      .withColumn("rn", row_number().over(byQ))
      .filter(col("rn") <= 5)
      .select("qid", "nid")
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val votes = labels.join(broadcast(cands), col("vec_id") === col("nid"))
      .groupBy("qid", "label").agg(count(lit(1)).as("votes"))
    val byVotes = Window.partitionBy("qid").orderBy(desc("votes"), asc("label"))
    val pred = votes.withColumn("vr", row_number().over(byVotes))
      .filter(col("vr") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("votes"))
    labels.join(broadcast(pred), col("vec_id") === col("qid"))
      .select(col("qid"), col("label").as("true_label"), col("pred_label"), col("votes"))
      .orderBy("qid")
  }

  private val knnClassifyOracle =
    s"""WITH $duckVecs,
      dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, SUM(a.x * b.x) AS dot
        FROM e a JOIN e b ON a.d = b.d AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10
        GROUP BY 1, 2),
      sims AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM dots JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sims),
      cands AS (SELECT qid, nid FROM r WHERE rn <= 5),
      votes AS (
        SELECT qid, label, COUNT(*) AS votes
        FROM cands JOIN embeddings ON nid = vec_id
        GROUP BY qid, label),
      pred AS (
        SELECT qid, label AS pred_label, votes,
               row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr
        FROM votes)
      SELECT qid, e2.label AS true_label, pred_label, votes
      FROM pred JOIN embeddings e2 ON qid = e2.vec_id
      WHERE vr = 1 ORDER BY qid"""

  /** sm09's eval harness pointed at the IVF index (sm05) instead of the
    * LSH one: recall@5 of the coarse-quantizer search against exact
    * brute-force ground truth. Together the two recall gates cover both
    * shipped ANN scale paths — an index change that silently hurts
    * either search's quality now fails a differential check rather than
    * drifting. Same cost shape as sm09: one corpus pass per side, the
    * comparison join is top-k-sized. */
  private def ivfRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qs = Tables.embeddings(s, d)
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
      .map { case (id, vf) =>
        val v = vf.map(_.toDouble)
        (id, v, normv(v))
      }
    val bc  = s.sparkContext.broadcast(qs)
    val byQ = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
    val exact = Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val queries = bc.value
        it.flatMap { case (nid, vf) =>
          lazy val v = vf.map(_.toDouble)
          lazy val n = normv(v)
          queries.iterator
            .filter { case (qid, _, _) => qid != nid }
            .map { case (qid, qv, qn) => (qid, nid, dotv(qv, v) / (qn * n)) }
        }
      }
      .toDF("qid", "nid", "sim")
      .withColumn("rn", row_number().over(byQ))
      .filter(col("rn") <= 5)
      .select("qid", "nid")
    val approx = ivfSearch(s, d).select("qid", "nid")
    val hits = approx.join(exact, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    exact.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("qid"), col("n_hits"),
        round(col("n_hits") / lit(5.0), 4).as("recall"))
      .orderBy("qid")
  }

  private val ivfRecallOracle =
    s"""WITH $duckVecs,
      ce AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < $ivfCells),
      d2 AS (
        SELECT v.vec_id, c.cid, SUM((v.x - c.x) * (v.x - c.x)) AS d2
        FROM e v JOIN ce c USING (d) GROUP BY 1, 2),
      rk AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2),
      cell AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid AS pcell FROM rk WHERE vec_id < 10 AND rn <= $ivfProbes),
      cand AS (
        SELECT p.qid, a.vec_id AS nid
        FROM probes p JOIN cell a ON a.cell = p.pcell AND a.vec_id <> p.qid),
      dots AS (
        SELECT cand.qid, cand.nid, SUM(a.x * b.x) AS dot
        FROM cand JOIN e a ON a.vec_id = cand.qid JOIN e b ON b.vec_id = cand.nid AND a.d = b.d
        GROUP BY 1, 2),
      sims AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM dots JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      ivf AS (
        SELECT qid, nid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM sims) WHERE rn <= 5),
      edots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, SUM(a.x * b.x) AS dot
        FROM e a JOIN e b ON a.d = b.d AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10 GROUP BY 1, 2),
      esims AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM edots JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      exact AS (
        SELECT qid, nid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM esims) WHERE rn <= 5),
      hits AS (
        SELECT exact.qid, COUNT(ivf.nid) AS n_hits
        FROM exact LEFT JOIN ivf ON exact.qid = ivf.qid AND exact.nid = ivf.nid
        GROUP BY exact.qid)
      SELECT qid, CAST(n_hits AS BIGINT) AS n_hits,
             ROUND(n_hits / 5.0, 4) AS recall
      FROM hits ORDER BY qid"""

  // ------------------------------------------------ IVF cell-balance audit

  /** IVF partition-balance audit: per-cell vector counts, basis-point
    * share, and the max/mean imbalance factor — the index-health metric
    * that decides when an IVF codebook needs retraining (a hot cell turns
    * probes into scans). Same exact-integer assignment as sm06
    * ([[assignCellQ]] over 2^20-quantized coords — tie-proof across
    * engines); one scan, one |cells|-key aggregate, O(1) output. */
  private def cellBalance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val centsQ = collectMatrix(s, d, idBound = ivfCells)
      .map { case (cid, v, _) => (cid, v.map(quant20)) }
    val bc = s.sparkContext.broadcast(centsQ)
    Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (_, vf) => assignCellQ(vf.map(x => quant20(x.toDouble)), cs) }
      }
      .toDF("cell")
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .withColumn("total", sum("n_vecs").over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(
        col("cell"),
        col("n_vecs"),
        expr("n_vecs * 10000 div total").as("share_bp"),
        expr(s"n_vecs * $ivfCells * 10000 div total").as("imbalance_bp"))
      .orderBy("cell")
  }

  private val cellBalanceOracle =
    s"""WITH $duckVecs,
      ce AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < $ivfCells),
      ${quantD2("ce")},
      rk AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2),
      cell AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1),
      c AS (SELECT cell, COUNT(*) AS n_vecs FROM cell GROUP BY cell),
      t AS (SELECT *, CAST(SUM(n_vecs) OVER () AS BIGINT) AS total FROM c)
      SELECT cell, n_vecs,
             n_vecs * 10000 // total AS share_bp,
             n_vecs * $ivfCells * 10000 // total AS imbalance_bp
      FROM t ORDER BY cell"""

  // ------------------------------------------------ int8-quantized search

  /** SQ8 search: top-k by EXACT INTEGER dot product over sm07's int8
    * codes (q = clamp(floor(x·64), ±127)) — the production fast path
    * where the corpus lives as int8 (4× smaller, SIMD-friendly) and
    * ranking never touches a float. Every distance is a bounded BIGINT
    * (|q| ≤ 127, 64 dims ⇒ |dot| ≤ ~10⁶), so ranking is bit-deterministic
    * in both engines with no rounding discipline needed at all — the
    * strongest possible oracle for a similarity kernel. Same broadcast-
    * queries/corpus-streams shape as sm01. */
  private def sq8Search(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def quant(x: Double): Long =
      math.max(-127.0, math.min(127.0, math.floor(x * 64.0))).toLong
    val qs = collectMatrix(s, d, idBound = 10)
      .map { case (id, v, _) => (id, v.map(quant)) }
    val bc  = s.sparkContext.broadcast(qs)
    val byQ = Window.partitionBy("qid").orderBy(desc("idot"), asc("nid"))
    Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val q = bc.value
        it.flatMap { case (nid, vf) =>
          val nv = new Array[Long](vf.length)
          var i = 0
          while (i < vf.length) { nv(i) = quant(vf(i).toDouble); i += 1 }
          q.iterator.filter(_._1 != nid).map { case (qid, qv) =>
            var acc = 0L
            var j   = 0
            while (j < qv.length) { acc += qv(j) * nv(j); j += 1 }
            (qid, nid, acc)
          }
        }
      }
      .toDF("qid", "nid", "idot")
      .withColumn("rn", row_number().over(byQ).cast("long"))
      .filter(col("rn") <= 5)
      .select("qid", "rn", "nid", "idot")
      .orderBy("qid", "rn")
  }

  private val sq8SearchOracle =
    s"""WITH $duckVecs,
      q AS (
        SELECT vec_id, d,
               CAST(GREATEST(-127, LEAST(127, FLOOR(x * 64.0))) AS BIGINT) AS qv
        FROM e),
      dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               CAST(SUM(a.qv * b.qv) AS BIGINT) AS idot
        FROM q a JOIN q b ON a.d = b.d AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10
        GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY idot DESC, nid) AS rn FROM dots)
      SELECT qid, CAST(rn AS BIGINT) AS rn, nid, idot
      FROM r WHERE rn <= 5 ORDER BY qid, rn"""

  // ------------------------------------------------ SQ8 recall eval

  /** recall@5 of the int8 search (sm16) against exact float-cosine ground
    * truth — the third shipped ANN path quality-gated (LSH → sm09,
    * IVF → sm12, SQ8 → sm17). This is THE number that justifies shipping
    * the 4×-compressed index: quantization error only matters if it
    * changes the top-k. Ground truth is the one broadcast-queries corpus
    * pass; the int8 side reuses sm16's ranking verbatim. */
  private def sq8Recall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bc  = s.sparkContext.broadcast(collectMatrix(s, d, idBound = 10))
    val byQ = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
    val exact = Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val queries = bc.value
        it.flatMap { case (nid, vf) =>
          lazy val v = vf.map(_.toDouble)
          lazy val n = normv(v)
          queries.iterator
            .filter { case (qid, _, _) => qid != nid }
            .map { case (qid, qv, qn) => (qid, nid, dotv(qv, v) / (qn * n)) }
        }
      }
      .toDF("qid", "nid", "sim")
      .withColumn("rn", row_number().over(byQ))
      .filter(col("rn") <= 5)
      .select("qid", "nid")
    val approx = sq8Search(s, d).select("qid", "nid")
    val hits = approx.join(exact, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    exact.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("qid"), col("n_hits"),
        round(col("n_hits") / lit(5.0), 4).as("recall"))
      .orderBy("qid")
  }

  private val sq8RecallOracle =
    s"""WITH $duckVecs,
      q8 AS (
        SELECT vec_id, d,
               CAST(GREATEST(-127, LEAST(127, FLOOR(x * 64.0))) AS BIGINT) AS qv
        FROM e),
      idots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               CAST(SUM(a.qv * b.qv) AS BIGINT) AS idot
        FROM q8 a JOIN q8 b ON a.d = b.d AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10 GROUP BY 1, 2),
      sq8 AS (
        SELECT qid, nid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY idot DESC, nid) AS rn
          FROM idots) WHERE rn <= 5),
      edots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, SUM(a.x * b.x) AS dot
        FROM e a JOIN e b ON a.d = b.d AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10 GROUP BY 1, 2),
      esims AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM edots JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      exact AS (
        SELECT qid, nid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM esims) WHERE rn <= 5),
      hits AS (
        SELECT exact.qid, COUNT(sq8.nid) AS n_hits
        FROM exact LEFT JOIN sq8 ON exact.qid = sq8.qid AND exact.nid = sq8.nid
        GROUP BY exact.qid)
      SELECT qid, CAST(n_hits AS BIGINT) AS n_hits,
             ROUND(n_hits / 5.0, 4) AS recall
      FROM hits ORDER BY qid"""

  // -------------------------------------------- binary-signature Hamming

  /** Sign-binarized Hamming top-k: each 64-float vector collapses to one
    * packed 64-bit signature (bit i = coordinate i > 0), and neighbor
    * ranking is `bit_count(xor)` — the 32×-compression fast path a vector
    * store runs before exact re-ranking. The packing is a codegen'd
    * `aggregate(sequence(...))` fold (8 bytes/row of shuffle instead of
    * 256), the 10 query signatures broadcast, and distance is two ALU ops
    * per candidate. At 100 TB the same signatures feed dd08-style band
    * buckets (byte-sliced equi-join) instead of this broadcast sweep; the
    * packing and popcount kernel are unchanged. Integer distances — no
    * float boundary anywhere. */
  private def hammingTopK(s: SparkSession, d: String): DataFrame = {
    val sig = expr("""aggregate(sequence(0, 63), CAST(0 AS BIGINT),
        (acc, i) -> acc + IF(element_at(embedding, i + 1) > 0.0,
                             shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""")
    val sigs = Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), sig.as("sig"))
    val qs = sigs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("sig").as("qsig"))
    val byQ = Window.partitionBy("qid").orderBy(asc("hamming"), asc("nid"))
    sigs.select(col("vec_id").as("nid"), col("sig").as("nsig"))
      .join(broadcast(qs), col("qid") =!= col("nid"))
      .withColumn("hamming", expr("CAST(bit_count(qsig ^ nsig) AS BIGINT)"))
      .withColumn("rn", row_number().over(byQ).cast("long"))
      .filter(col("rn") <= 5)
      .select("qid", "rn", "nid", "hamming")
      .orderBy("qid", "rn")
  }

  private val hammingTopKOracle =
    s"""WITH $duckVecs,
      ham AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               CAST(SUM(CASE WHEN (a.x > 0) <> (b.x > 0) THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        FROM e a JOIN e b ON a.d = b.d AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10
        GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY hamming, nid) AS rn FROM ham)
      SELECT qid, CAST(rn AS BIGINT) AS rn, nid, hamming
      FROM r WHERE rn <= 5 ORDER BY qid, rn"""

  // ---------------------------------------- two-stage Hamming + re-rank

  /** Production two-stage retrieval: stage 1 ranks the corpus by packed
    * sign-signature Hamming distance (sm13's 8-byte popcount kernel) and
    * keeps the top-50 candidates per query; stage 2 re-ranks ONLY those
    * candidates with exact float cosine and emits the top-5. The expensive
    * exact kernel touches 50 rows/query instead of the corpus — the
    * binary-prefilter shape every large vector store runs. Candidate
    * selection is integer-deterministic (ham asc, nid asc), so the oracle
    * replays both stages exactly; the final cosine is the one float op,
    * rounded like sm01. */
  private def hammingRerank(s: SparkSession, d: String): DataFrame = {
    val sig = expr("""aggregate(sequence(0, 63), CAST(0 AS BIGINT),
        (acc, i) -> acc + IF(element_at(embedding, i + 1) > 0.0,
                             shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""")
    val base = Tables.spread(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("embedding"), sig.as("sig"))
    val qs = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("sig").as("qsig"))
    val byHam = Window.partitionBy("qid").orderBy(asc("hamming"), asc("nid"))
    val byCos = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
    val cand = base
      .select(col("vec_id").as("nid"), col("embedding").as("nv"), col("sig").as("nsig"))
      .join(broadcast(qs), col("qid") =!= col("nid"))
      .withColumn("hamming", expr("CAST(bit_count(qsig ^ nsig) AS BIGINT)"))
      .withColumn("hrn", row_number().over(byHam))
      .filter(col("hrn") <= 50)
    cand
      .withColumn("dot", expr(
        "aggregate(zip_with(qv, nv, (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"))
      .withColumn("qn", expr(
        "sqrt(aggregate(qv, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"))
      .withColumn("nn", expr(
        "sqrt(aggregate(nv, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"))
      .withColumn("sim", col("dot") / (col("qn") * col("nn")))
      .withColumn("rn", row_number().over(byCos).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rn")
  }

  private val hammingRerankOracle =
    s"""WITH $duckVecs,
      ham AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               SUM(CASE WHEN (a.x > 0) <> (b.x > 0) THEN 1 ELSE 0 END) AS hamming
        FROM e a JOIN e b ON a.d = b.d AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10
        GROUP BY 1, 2),
      cand AS (
        SELECT qid, nid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY hamming, nid) AS hrn
          FROM ham) WHERE hrn <= 50),
      dots AS (
        SELECT c.qid, c.nid, SUM(a.x * b.x) AS dot
        FROM cand c
        JOIN e a ON a.vec_id = c.qid
        JOIN e b ON b.vec_id = c.nid AND b.d = a.d
        GROUP BY 1, 2),
      sims AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM dots JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sims)
      SELECT qid, CAST(rn AS BIGINT) AS rn, nid, ROUND(sim, 4) AS sim
      FROM r WHERE rn <= 5 ORDER BY qid, rn"""

  // ----------------------------- cluster-balanced diversity sampling

  /** Cluster-balanced sampling (the SemDeDup/diversity-selection shape):
    * assign every vector to its nearest codebook cell (sm06's exact
    * quantized assignment), then keep a fixed per-cell quota of 8 chosen
    * by a salted affine hash — so dense regions are downsampled hard and
    * sparse regions survive intact, which is the point of balancing a
    * training mix by embedding cluster rather than uniformly. Fully
    * deterministic: the hash is `(vec_id·2654435761 + 12345) mod P`
    * integer arithmetic, identical in DuckDB. Shape at 100 TB: map-side
    * assignment against a broadcast codebook + one cell-partitioned
    * window ranking (per-cell fanout bounded by cell population, the
    * quota cut is inside the window) — no global sort, no driver state
    * beyond the k×d codebook. */
  private def cellSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val centsQ = collectMatrix(s, d, idBound = ivfCells)
      .map { case (cid, v, _) => (cid, v.map(quant20)) }
    val bc = s.sparkContext.broadcast(centsQ)
    val cells = Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, vf) => (id, assignCellQ(vf.map(x => quant20(x.toDouble)), cs)) }
      }
      .toDF("vec_id", "cell")
    cells
      .withColumn("h", expr(s"(vec_id * 2654435761 + 12345) % ${graft.Hashing.P}"))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cell")))
      .withColumn("smp_rank",
        row_number().over(Window.partitionBy("cell").orderBy(col("h"), col("vec_id"))).cast("long"))
      .filter(col("smp_rank") <= 8)
      .select(col("cell"), col("smp_rank"), col("vec_id"), col("n_members"))
      .orderBy("cell", "smp_rank")
  }

  private lazy val cellSampleOracle =
    s"""WITH $duckVecs,
      ce AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < $ivfCells),
      ${quantD2("ce")},
      rk AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2),
      cell AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1),
      hsh AS (
        SELECT vec_id, cell, (vec_id * 2654435761 + 12345) % ${graft.Hashing.P} AS h,
               COUNT(*) OVER (PARTITION BY cell) AS n_members
        FROM cell),
      smp AS (
        SELECT cell, vec_id, n_members,
               row_number() OVER (PARTITION BY cell ORDER BY h, vec_id) AS smp_rank
        FROM hsh)
      SELECT cell, CAST(smp_rank AS BIGINT) AS smp_rank, vec_id,
             CAST(n_members AS BIGINT) AS n_members
      FROM smp WHERE smp_rank <= 8 ORDER BY cell, smp_rank"""

  // ----------------------- dimension-truncation (Matryoshka) quality eval

  /** Matryoshka-style truncation eval: recall@5 of searching with only the
    * FIRST 16 of 64 dimensions against the full-dimension exact top-5.
    * This is the storage/latency dial every embedding index exposes (MRL
    * trains prefixes to be usable; truncation cuts index bytes 4× and
    * dot-product FLOPs 4×) — and like sm09/sm12/sm17/sm21 the decision to
    * ship it should come from a measured recall number, not the paper's.
    * On THIS corpus the measured recall is ~0.0–0.2: the synthetic
    * embeddings are i.i.d. random, so no information concentrates in the
    * prefix dims and truncation rightly scores as unusable — which is the
    * eval doing its job (an MRL-trained model front-loads variance and
    * scores high here; random vectors must not).
    * One broadcast-queries corpus pass computes BOTH similarity columns
    * (full and truncated) from the same row read — the eval costs the
    * same scan the search itself does; ranking stays in two tiny top-k
    * windows over |corpus|×10 rows. */
  private def mrlRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val trunc = 16
    val qs = Tables.embeddings(s, d)
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
      .map { case (id, vf) =>
        val v  = vf.map(_.toDouble)
        val vt = v.take(trunc)
        (id, v, normv(v), vt, normv(vt))
      }
    val bc  = s.sparkContext.broadcast(qs)
    val byFull  = Window.partitionBy("qid").orderBy(desc("sim_full"), asc("nid"))
    val byTrunc = Window.partitionBy("qid").orderBy(desc("sim_trunc"), asc("nid"))
    val sims = Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val queries = bc.value
        it.flatMap { case (nid, vf) =>
          lazy val v  = vf.map(_.toDouble)
          lazy val n  = normv(v)
          lazy val vt = v.take(trunc)
          lazy val nt = normv(vt)
          queries.iterator
            .filter { case (qid, _, _, _, _) => qid != nid }
            .map { case (qid, qv, qn, qvt, qnt) =>
              (qid, nid, dotv(qv, v) / (qn * n), dotv(qvt, vt) / (qnt * nt))
            }
        }
      }
      .toDF("qid", "nid", "sim_full", "sim_trunc")
      .persist() // both rankings read the same |corpus| x 10 frame
    val exact = sims.withColumn("rn", row_number().over(byFull))
      .filter(col("rn") <= 5).select("qid", "nid")
    val tr = sims.withColumn("rn", row_number().over(byTrunc))
      .filter(col("rn") <= 5).select("qid", "nid")
    val hits = tr.join(exact, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    val out = exact.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("qid"), col("n_hits"),
        round(col("n_hits") / lit(5.0), 4).as("recall"))
      .orderBy("qid")
    // Materialize the 10-row result eagerly (localCheckpoint truncates the
    // lineage), then drop the |corpus|×10 cached frame so repeated
    // registry/bench invocations don't accumulate cached partitions.
    try out.localCheckpoint(eager = true)
    finally sims.unpersist(blocking = false)
  }

  private lazy val mrlRecallOracle =
    s"""WITH $duckVecs,
      et AS (SELECT vec_id, d, x FROM e WHERE d < 16),
      nrmt AS (SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM et GROUP BY vec_id),
      dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, SUM(a.x * b.x) AS dot
        FROM e a JOIN e b ON a.d = b.d AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10 GROUP BY 1, 2),
      sims AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM dots JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      ex AS (
        SELECT qid, nid FROM (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM sims) WHERE rn <= 5),
      dotst AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, SUM(a.x * b.x) AS dot
        FROM et a JOIN et b ON a.d = b.d AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10 GROUP BY 1, 2),
      simst AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM dotst JOIN nrmt na ON qid = na.vec_id JOIN nrmt nb ON nid = nb.vec_id),
      tr AS (
        SELECT qid, nid FROM (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM simst) WHERE rn <= 5),
      hits AS (
        SELECT t.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM tr t JOIN ex USING (qid, nid) GROUP BY 1)
      SELECT q.qid, COALESCE(h.n_hits, 0) AS n_hits,
             ROUND(COALESCE(h.n_hits, 0) / 5.0, 4) AS recall
      FROM (SELECT DISTINCT qid FROM ex) q LEFT JOIN hits h USING (qid)
      ORDER BY q.qid"""

  // --------------------------- label-separation (embedding quality) audit

  /** Centroid-silhouette embedding-quality audit: per label, the mean
    * quantized squared distance of members to their OWN label centroid vs
    * to the NEAREST OTHER centroid, and their ratio in half-up basis
    * points. separation_bp ≈ 10000 means the labels are not separated in
    * embedding space (own ≈ other — true for this i.i.d. random corpus);
    * a real encoder pushes it well above. Full silhouette is O(n²); the
    * centroid form is the scalable stand-in every embedding eval uses:
    * one (label, dim)-keyed aggregate for centroids (Lloyd's shuffle), a
    * collected k×d matrix (bounded at any corpus size), then one map-side
    * pass scoring each vector against the broadcast matrix. Exact integer
    * end-to-end: coordinates quantized floor(x·2²⁰), centroid means the
    * sm06 4-decimal half-up integers re-quantized, distances BIGINT. */
  private def labelSeparation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.spread(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding"), col("label")))
      .as[(Long, Array[Float], Int)]
    val centRows = base
      .mapPartitions(_.flatMap { case (_, vf, lab) =>
        vf.iterator.zipWithIndex.map { case (x, dim) => (lab, dim.toLong, quant20(x.toDouble)) }
      })
      .toDF("label", "d", "xq")
      .groupBy("label", "d")
      .agg(count(lit(1)).as("n_members"), sum("xq").as("sq"))
      .withColumn("mean_q", expr(meanQ4Spark))
      .select("label", "d", "mean_q")
      .collect()
    val centsQ: Array[(Int, Array[Long])] = centRows.groupBy(_.getInt(0)).map { case (l, rs) =>
      val arr = new Array[Long](64)
      rs.foreach(r => arr(r.getLong(1).toInt) = math.floor(r.getDouble(2) * 1048576.0).toLong)
      l -> arr
    }.toArray.sortBy(_._1)
    // Degenerate-input guard: with one distinct label there is no
    // other-label centroid, so the Long.MaxValue sentinel below would be
    // summed into d2oth (garbage separation_bp) while the oracle's
    // clabel<>label join silently drops every vector. Fail loudly instead.
    require(centsQ.length >= 2,
      s"labelSeparation requires >= 2 distinct labels, got ${centsQ.length}")
    val bc = s.sparkContext.broadcast(centsQ)
    base
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (_, vf, lab) =>
          val vq  = vf.map(x => quant20(x.toDouble))
          var own = 0L
          var oth = Long.MaxValue
          cs.foreach { case (l, cq) =>
            var s2 = 0L
            var i  = 0
            while (i < vq.length) { val df0 = vq(i) - cq(i); s2 += df0 * df0; i += 1 }
            if (l == lab) own = s2 else if (s2 < oth) oth = s2
          }
          (lab, own, oth)
        }
      }
      .toDF("label", "d2own", "d2oth")
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("d2own").as("so"), sum("d2oth").as("st"))
      .withColumn("mean_own_q", expr("(2 * so + n) DIV (2 * n)"))
      .withColumn("mean_other_q", expr("(2 * st + n) DIV (2 * n)"))
      .select(col("label"), col("n"), col("mean_own_q"), col("mean_other_q"),
        expr("(2 * mean_other_q * 10000 + mean_own_q) DIV (2 * mean_own_q)")
          .as("separation_bp"))
      .orderBy("label")
  }

  private lazy val labelSeparationOracle =
    s"""WITH $duckVecs,
      lab AS (SELECT vec_id, label FROM embeddings),
      acc AS (
        SELECT l.label, e.d, COUNT(*) AS n_members,
               SUM(CAST(FLOOR(e.x * 1048576.0) AS BIGINT)) AS sq
        FROM e JOIN lab l USING (vec_id) GROUP BY 1, 2),
      cent AS (
        SELECT label, d,
               CAST(FLOOR(($meanQ4Duck) * 1048576.0) AS BIGINT) AS cq
        FROM acc),
      vd AS (
        SELECT e.vec_id, c.label AS clabel,
               SUM((CAST(FLOOR(e.x * 1048576.0) AS BIGINT) - c.cq)
                 * (CAST(FLOOR(e.x * 1048576.0) AS BIGINT) - c.cq)) AS d2
        FROM e JOIN cent c ON c.d = e.d GROUP BY 1, 2),
      own AS (
        SELECT v.vec_id, l.label, v.d2 AS d2own
        FROM vd v JOIN lab l ON v.vec_id = l.vec_id AND v.clabel = l.label),
      oth AS (
        SELECT v.vec_id, MIN(v.d2) AS d2oth
        FROM vd v JOIN lab l ON v.vec_id = l.vec_id AND v.clabel <> l.label
        GROUP BY 1),
      per AS (SELECT o.label, o.d2own, t.d2oth FROM own o JOIN oth t USING (vec_id)),
      agg AS (
        SELECT label, COUNT(*) AS n, SUM(d2own) AS so, SUM(d2oth) AS st
        FROM per GROUP BY 1),
      m AS (
        SELECT label, n,
               (2 * so + n) // (2 * n) AS mean_own_q,
               (2 * st + n) // (2 * n) AS mean_other_q
        FROM agg)
      SELECT label, n,
             CAST(mean_own_q AS BIGINT) AS mean_own_q,
             CAST(mean_other_q AS BIGINT) AS mean_other_q,
             CAST((2 * mean_other_q * 10000 + mean_own_q) // (2 * mean_own_q) AS BIGINT)
               AS separation_bp
      FROM m ORDER BY label"""

  // ------------------------------------------ persisted IVF index (sm25/26)

  /** Build-and-COMMIT the IVF index as a standard Iceberg v2 table — one
    * data file per cell, `cell` bounds recorded in the manifest so the
    * search path file-skips by cell. Memoized per (JVM, sfDir): sm26 and
    * repeated bench runs read the PERSISTED index instead of re-deriving
    * centroid assignments — the split real ANN services run (index build
    * is an ingest-time job; search must not touch raw embeddings beyond
    * the probed cells). Returns the committed metadata.json path. */
  private val ivfIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ivfIndexMetadata(s: SparkSession, d: String): String =
    ivfIndexCache.computeIfAbsent(d, _ => buildIvfIndex(s, d))

  /** SINGLE-JOB index write: one `repartition(cell)` shuffle whose tasks
    * stream every cell's file in one pass ([[writeIndexCells]]; the
    * driver never loops over cells — round 7's per-cell
    * filter/coalesce/write loop was 1 + 2×cells jobs; this is one logical
    * shuffle-write at any cell count, plus fixed bookkeeping: the
    * centroid collect and AQE's per-stage jobs — OpsSpec pins the total at
    * ≤6, cell-count-free). Row counts and bounds come from the writer's
    * own stats: no footer read, no extra Spark job. Hash repartitioning on
    * `cell` puts each cell wholly in one task, so the one-file-per-cell
    * layout (and the manifest cell bounds sm26 prunes by) is structural,
    * not a coalesce accident. */
  private[graft] def buildIvfIndex(s: SparkSession, d: String): String = {
    import s.implicits._
    import graft.icelite.IcebergFormat
    val root  = graft.Scratch.freshDir(s, "ivfidx_" + java.lang.Integer.toHexString(d.hashCode))
    val loc   = s"$root/ivf_index"
    val cents = collectMatrix(s, d, idBound = ivfCells) // job 1: k×64 doubles
    val bc    = s.sparkContext.broadcast(cents)
    // label rides along as in-index metadata: filtered search (sm29) must
    // prune candidates INSIDE the probed cells' scan, not via a join back
    // to the source table (which at 100 TB would re-shuffle the corpus)
    val assigned = Tables.spread(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding"), col("label")))
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, vf, lab) => (assignCell(vf.map(_.toDouble), cs), id, vf, lab) }
      }
      .toDF("cell", "vec_id", "embedding", "label")
    val w = new IcebergFormat.Writer(s, loc, assigned.schema)
    w.commit(writeIndexCells(s, assigned, loc, "f"))
    w.currentMetadataPath
  }

  /** One single-job write of cell-assigned vectors (`cell`, a long, is
    * field 1): hash repartition on `cell` (one task = whole cells), sort
    * on cell then `sortCol`, and stream each cell into its own file
    * `loc/data/cell<cid>-<tag>0.parquet` through the library write. The
    * writer's min = max bounds on field 1 make this structural
    * one-file-per-cell-per-commit layout what sm26/sm29/sm30's
    * probed-cell pruning looks up in the manifests. */
  private[graft] def writeIndexCells(
      s: SparkSession, assigned: org.apache.spark.sql.DataFrame, loc: String, tag: String,
      sortCol: String = "vec_id"): Seq[graft.icelite.IcebergFormat.DataFileInfo] =
    // EXPLICIT task count: a bare repartition(col) inherits
    // spark.sql.shuffle.partitions and AQE then coalesces the KB-scale
    // post-shuffle exchange to ONE partition — serializing the whole
    // multi-hundred-file cell write into a single task (measured 4.7 s of
    // the old dd24; guide §2.4/§6). Hash-partitioning on cell with a
    // pinned width keeps the one-task-per-cell invariant (all rows of a
    // cell still land in one task) while the file writes spread across
    // the cluster; cores is the right width at any scale because cells
    // >> cores and each task then streams cells/cores files.
    graft.sources.IcebergWrite.writeFiles(s,
      assigned.repartition(s.sparkContext.defaultParallelism, col("cell"))
        .sortWithinPartitions("cell", sortCol),
      loc, 1 to assigned.schema.length, group = Some(col("cell")))(
      (_, cid) => s"data/cell$cid-${tag}0.parquet").map(_._2)

  /** sm25: the index-build job's audit — read BACK the persisted Iceberg
    * index table and report per-cell membership. Gates that the committed
    * assignments equal a from-scratch recompute (the oracle re-derives
    * cells from raw embeddings in SQL). */
  private def ivfIndexBuild(s: SparkSession, d: String): DataFrame = {
    import graft.icelite.IcebergFormat
    ivfIndexCache.remove(d) // sm25 IS the build: always commit fresh
    val meta = ivfIndexMetadata(s, d)
    IcebergFormat.scan(s, meta)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_id"), max("vec_id").as("max_id"))
      .orderBy("cell")
  }

  private lazy val ivfIndexBuildOracle =
    s"""WITH $duckVecs,
      ce AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < $ivfCells),
      d2 AS (
        SELECT v.vec_id, c.cid, SUM((v.x - c.x) * (v.x - c.x)) AS d2
        FROM e v JOIN ce c USING (d) GROUP BY 1, 2),
      rk AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2),
      cell AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1)
      SELECT cell, COUNT(*) AS n_vecs, MIN(vec_id) AS min_id, MAX(vec_id) AS max_id
      FROM cell GROUP BY 1 ORDER BY 1"""

  /** Shared probed-search kernel for the persisted-index family
    * (sm26/sm29/sm30/sm31): exact cosine rank of each broadcast query's
    * candidates from the probed cells' (cell, vec_id, embedding) rows,
    * top-5 per query with (sim DESC, nid ASC) ties. The index side
    * streams map-side; the only shuffle is the tiny top-k window over
    * |candidates| rows — never the corpus. */
  private def probedTopK(
      s: SparkSession,
      idx: org.apache.spark.sql.DataFrame,
      queries: Seq[(Long, Array[Double], Double, Set[Long])]): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val bq  = s.sparkContext.broadcast(queries)
    val byQ = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
    idx.select(col("cell"), col("vec_id"), col("embedding"))
      .as[(Long, Long, Array[Float])]
      .mapPartitions { it =>
        val qs = bq.value
        it.flatMap { case (cell, nid, vf) =>
          lazy val v = vf.map(_.toDouble)
          lazy val n = normv(v)
          qs.iterator
            .filter { case (qid, _, _, probes) => qid != nid && probes.contains(cell) }
            .map { case (qid, qv, qn, _) => (qid, nid, dotv(qv, v) / (qn * n)) }
        }
      }
      .toDF("qid", "nid", "sim")
      .withColumn("rn", row_number().over(byQ).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rn")
  }

  /** sm26: search FROM the persisted index — no raw-embeddings scan at
    * all. 3 query vectors probe their 2 nearest cells; only those cells'
    * data files are read (manifest `cell` bounds prune the rest, proven
    * by the inputFiles require), and the exact rerank runs on the
    * candidates alone. The oracle recomputes everything from raw
    * embeddings, gating search-from-persisted == search-from-fresh. */
  private val ivfSearchQueries = 3

  private def ivfPersistedSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.icelite.IcebergFormat
    val meta  = ivfIndexMetadata(s, d)
    val cents = collectMatrix(s, d, idBound = ivfCells)
    def probeCells(v: Array[Double]): Set[Long] =
      cents.map { case (cid, cv, _) => (cid, dist2(v, cv)) }
        .sortBy(_._2).take(ivfProbes).map(_._1).toSet
    val queries = collectMatrix(s, d, idBound = ivfSearchQueries)
      .map { case (qid, v, n) => (qid, v, n, probeCells(v)) }
    val cellsToRead = queries.flatMap(_._4).toSet
    require(cellsToRead.size < ivfCells,
      s"probe union covers every cell (${cellsToRead.size}/$ivfCells) — no pruning to prove")
    val idx = cellsToRead.toSeq.sorted
      .map(c => IcebergFormat.scanRange(s, meta, "cell", Some(c.toString), Some(c.toString)))
      .reduce(_ unionByName _)
    require(IcebergFormat.inputFiles(idx).length <= cellsToRead.size,
      s"index scan read ${IcebergFormat.inputFiles(idx).length} files for ${cellsToRead.size} cells — " +
        "manifest cell bounds failed to prune")
    probedTopK(s, idx, queries)
  }

  private lazy val ivfPersistedSearchOracle =
    s"""WITH $duckVecs,
      ce AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < $ivfCells),
      d2 AS (
        SELECT v.vec_id, c.cid, SUM((v.x - c.x) * (v.x - c.x)) AS d2
        FROM e v JOIN ce c USING (d) GROUP BY 1, 2),
      rk AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2),
      cell AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid AS pcell FROM rk
                 WHERE vec_id < $ivfSearchQueries AND rn <= $ivfProbes),
      cand AS (
        SELECT p.qid, a.vec_id AS nid
        FROM probes p JOIN cell a ON a.cell = p.pcell AND a.vec_id <> p.qid),
      dots AS (
        SELECT cand.qid, cand.nid, SUM(a.x * b.x) AS dot
        FROM cand JOIN e a ON a.vec_id = cand.qid JOIN e b ON b.vec_id = cand.nid AND a.d = b.d
        GROUP BY 1, 2),
      sims AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM dots JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sims)
      SELECT qid, rn, nid, ROUND(sim, 4) AS sim FROM r WHERE rn <= 5 ORDER BY qid, rn"""

  /** sm27: recall@5 as a FUNCTION of nprobe (1..4) — the quality/cost
    * curve that prices the IVF search knob: each extra probed cell costs
    * one more cell's candidates and buys measurable recall. One corpus
    * pass emits every candidate tagged with the probe rank at which its
    * cell enters (prank ∈ 1..4); each curve point is then a top-5 window
    * over the prank ≤ k slice — no re-scan per k. Ground truth is the
    * sm12 exact pass. mean_recall_bp = hits·10000/50 exactly. */
  private def nprobeCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = collectMatrix(s, d, idBound = ivfCells)
    val queries = collectMatrix(s, d, idBound = 10).map { case (qid, v, n) =>
      // stable sort over the id-sorted centroid array: ties keep smaller cid,
      // matching the oracle's ORDER BY d2, cid
      val order = cents.map { case (cid, cv, _) => (cid, dist2(v, cv)) }
        .sortBy(_._2).map(_._1).take(4)
      (qid, v, n, order.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap)
    }
    val bc  = s.sparkContext.broadcast((cents, queries))
    val byQ = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
    val pairs = Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (cs, qs) = bc.value
        it.flatMap { case (nid, vf) =>
          val v    = vf.map(_.toDouble)
          val cell = assignCell(v, cs)
          val n    = normv(v)
          qs.iterator.filter(_._1 != nid).flatMap { case (qid, qv, qn, order) =>
            val sim = dotv(qv, v) / (qn * n)
            // prank 0 marks exact-ground-truth-only rows (cell unprobed)
            Iterator((qid, nid, sim, order.getOrElse(cell, 0)))
          }
        }
      }
      .toDF("qid", "nid", "sim", "prank")
      .persist()
    try {
      val exact = pairs
        .withColumn("rn", row_number().over(byQ))
        .filter(col("rn") <= 5).select("qid", "nid")
      val out = (1 to 4).map { k =>
        val approx = pairs.filter(col("prank") >= 1 && col("prank") <= k)
          .withColumn("rn", row_number().over(byQ))
          .filter(col("rn") <= 5).select("qid", "nid")
        approx.join(exact, Seq("qid", "nid"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(k.toLong).as("nprobe"), col("hits"),
            (col("hits") * 200).as("mean_recall_bp"))
      }.reduce(_ unionByName _).orderBy("nprobe")
      out.localCheckpoint(eager = true) // 4-row result; drop the cached pairs
    } finally pairs.unpersist(blocking = false)
  }

  private lazy val nprobeCurveOracle = {
    val blocks = (1 to 4).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS nprobe, COUNT(*) AS hits
         FROM (
           SELECT qid, nid FROM (
             SELECT qid, nid,
                    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
             FROM sims WHERE prank BETWEEN 1 AND $k) WHERE rn <= 5)
         JOIN ex5 USING (qid, nid)"""
    }.mkString(" UNION ALL ")
    s"""WITH $duckVecs,
      ce AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < $ivfCells),
      cd2 AS (
        SELECT v.vec_id, c.cid, SUM((v.x - c.x) * (v.x - c.x)) AS d2
        FROM e v JOIN ce c USING (d) GROUP BY 1, 2),
      rk AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM cd2),
      cell AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid AS pcell, rn AS prank
                 FROM rk WHERE vec_id < 10 AND rn <= 4),
      dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, SUM(a.x * b.x) AS dot
        FROM e a JOIN e b ON a.d = b.d AND a.vec_id < 10 AND b.vec_id <> a.vec_id
        GROUP BY 1, 2),
      sims AS (
        SELECT d.qid, d.nid, d.dot / (na.nrm * nb.nrm) AS sim,
               COALESCE(p.prank, 0) AS prank
        FROM dots d
        JOIN nrm na ON d.qid = na.vec_id
        JOIN nrm nb ON d.nid = nb.vec_id
        JOIN cell c ON c.vec_id = d.nid
        LEFT JOIN probes p ON p.qid = d.qid AND p.pcell = c.cell),
      ex5 AS (
        SELECT qid, nid FROM (
          SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM sims) WHERE rn <= 5)
      SELECT nprobe, hits, hits * 200 AS mean_recall_bp
      FROM ($blocks) ORDER BY nprobe"""
  }

  /** sm28: centroid-assignment DRIFT between the even-id and odd-id
    * corpus halves — the index-staleness monitor a live ANN service runs:
    * the build-time half fixes the expectation, and when the serving
    * half's per-cell shares diverge, the IVF codebook needs retraining
    * (completes sm14's static balance audit with a temporal signal).
    * Per-cell |share_even − share_odd| in exact integer bp; one corpus
    * pass + an 8-key aggregate. */
  private def centroidDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = collectMatrix(s, d, idBound = ivfCells)
    val bc    = s.sparkContext.broadcast(cents)
    val counts = Tables.spread(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, vf) => (assignCell(vf.map(_.toDouble), cs), id % 2) }
      }
      .toDF("cell", "half")
      .groupBy("cell")
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_even"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_odd"))
    val totals = counts.agg(sum("n_even").as("t_even"), sum("n_odd").as("t_odd"))
    counts.crossJoin(broadcast(totals))
      .select(col("cell"), col("n_even"), col("n_odd"),
        expr("n_even * 10000 DIV t_even").as("share_even_bp"),
        expr("n_odd * 10000 DIV t_odd").as("share_odd_bp"))
      .withColumn("drift_bp", abs(col("share_even_bp") - col("share_odd_bp")))
      .orderBy("cell")
  }

  private lazy val centroidDriftOracle =
    s"""WITH $duckVecs,
      ce AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < $ivfCells),
      d2 AS (
        SELECT v.vec_id, c.cid, SUM((v.x - c.x) * (v.x - c.x)) AS d2
        FROM e v JOIN ce c USING (d) GROUP BY 1, 2),
      rk AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2),
      cell AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1),
      cnt AS (
        SELECT cell,
               SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_even,
               SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS n_odd
        FROM cell GROUP BY 1),
      t AS (SELECT SUM(n_even) AS t_even, SUM(n_odd) AS t_odd FROM cnt)
      SELECT cell, CAST(n_even AS BIGINT) AS n_even, CAST(n_odd AS BIGINT) AS n_odd,
             CAST(n_even * 10000 // t_even AS BIGINT) AS share_even_bp,
             CAST(n_odd * 10000 // t_odd AS BIGINT) AS share_odd_bp,
             CAST(ABS(n_even * 10000 // t_even - n_odd * 10000 // t_odd) AS BIGINT) AS drift_bp
      FROM cnt, t ORDER BY cell"""

  // ------------------------------------------------ filtered (hybrid) ANN

  /** sm29: FILTERED vector search over the persisted IVF index — the
    * metadata-predicate ANN every vector store serves ("top-k among rows
    * WHERE label IN (...)"). The predicate column was written INTO the
    * index rows at build time (sm25), so it evaluates inside the probed
    * cells' parquet scan as an ordinary pushed filter — candidates are
    * pruned BEFORE any distance math, and at 100 TB the filter costs
    * footer-stats checks on the probed cells' files, never a join back
    * to the corpus (which would re-shuffle the table the index exists to
    * avoid scanning). Pre-filtering (filter, then rank) rather than
    * post-filtering keeps k stable under selective predicates — the
    * standard hybrid-search failure mode. The require proves the
    * predicate reached the scan (`PushedFilters ... In(label`). */
  private val annFilterLabels = Seq(1, 3, 5, 7)

  private def filteredAnnSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.icelite.IcebergFormat
    val meta  = ivfIndexMetadata(s, d)
    val cents = collectMatrix(s, d, idBound = ivfCells)
    def probeCells(v: Array[Double]): Set[Long] =
      cents.map { case (cid, cv, _) => (cid, dist2(v, cv)) }
        .sortBy(_._2).take(ivfProbes).map(_._1).toSet
    val queries = collectMatrix(s, d, idBound = ivfSearchQueries)
      .map { case (qid, v, n) => (qid, v, n, probeCells(v)) }
    val idx = queries.flatMap(_._4).toSet.toSeq.sorted
      .map(c => IcebergFormat.scanRange(s, meta, "cell", Some(c.toString), Some(c.toString)))
      .reduce(_ unionByName _)
    val filtered = idx.filter(col("label").isin(annFilterLabels: _*))
    val plan = filtered.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    require(plan.contains("In(label"),
      "label predicate did not reach the index scan as a pushed filter:\n" + plan.take(800))
    probedTopK(s, filtered, queries)
  }

  private lazy val filteredAnnSearchOracle =
    s"""WITH $duckVecs,
      ce AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < $ivfCells),
      d2 AS (
        SELECT v.vec_id, c.cid, SUM((v.x - c.x) * (v.x - c.x)) AS d2
        FROM e v JOIN ce c USING (d) GROUP BY 1, 2),
      rk AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2),
      cell AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid AS pcell FROM rk
                 WHERE vec_id < $ivfSearchQueries AND rn <= $ivfProbes),
      cand AS (
        SELECT p.qid, a.vec_id AS nid
        FROM probes p
        JOIN cell a ON a.cell = p.pcell AND a.vec_id <> p.qid
        JOIN embeddings l ON l.vec_id = a.vec_id
          AND l.label IN (${annFilterLabels.mkString(", ")})),
      dots AS (
        SELECT cand.qid, cand.nid, SUM(a.x * b.x) AS dot
        FROM cand JOIN e a ON a.vec_id = cand.qid JOIN e b ON b.vec_id = cand.nid AND a.d = b.d
        GROUP BY 1, 2),
      sims AS (
        SELECT qid, nid, dot / (na.nrm * nb.nrm) AS sim
        FROM dots JOIN nrm na ON qid = na.vec_id JOIN nrm nb ON nid = nb.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sims)
      SELECT qid, rn, nid, ROUND(sim, 4) AS sim FROM r WHERE rn <= 5 ORDER BY qid, rn"""

  // -------------------------------------------- incremental index append

  /** sm30: INCREMENTAL index maintenance — the freshness path a served
    * ANN index needs: a new vector batch is assigned to cells with the
    * FROZEN coarse quantizer (re-clustering would invalidate every
    * stored assignment; sm28 is the drift monitor that decides when to
    * rebuild) and lands as one append snapshot whose per-cell DELTA
    * files carry the same min=max=cell manifest bounds — so a probed
    * search reads base+delta files of its cells and nothing else, and
    * the index stays queryable throughout (readers on the old snapshot
    * see the old index; the commit is atomic). Cost of an append at
    * 100 TB: one shuffle of the NEW batch only — never touches the
    * existing index files. The requires prove (a) two snapshots, (b)
    * each probed cell contributed exactly base+delta = 2 files, and the
    * oracle proves merged-index search == full-corpus IVF search. */
  private def ivfIndexAppend(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.icelite.IcebergFormat
    val root  = graft.Scratch.freshDir(s, "ivfinc_" + java.lang.Integer.toHexString(d.hashCode))
    val loc   = s"$root/ivf_index"
    val cents = collectMatrix(s, d, idBound = ivfCells)
    val bc    = s.sparkContext.broadcast(cents)
    val maxId = Tables.embeddings(s, d).agg(max("vec_id")).collect()(0).getLong(0)
    val mid   = maxId / 2 // batch boundary: base = [0, mid], delta = (mid, maxId]
    def assign(df: org.apache.spark.sql.DataFrame) =
      Tables.spread(df.select(col("vec_id"), col("embedding")))
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          val cs = bc.value
          it.map { case (id, vf) => (assignCell(vf.map(_.toDouble), cs), id, vf) }
        }
        .toDF("cell", "vec_id", "embedding")
    val emb = Tables.embeddings(s, d)
    val w   = new IcebergFormat.Writer(s, loc,
      assign(emb.limit(0)).schema)
    w.commit(writeIndexCells(s, assign(emb.filter(col("vec_id") <= mid)), loc, "b"))
    w.commit(writeIndexCells(s, assign(emb.filter(col("vec_id") > mid)), loc, "d"))
    val meta = w.currentMetadataPath
    def probeCells(v: Array[Double]): Set[Long] =
      cents.map { case (cid, cv, _) => (cid, dist2(v, cv)) }
        .sortBy(_._2).take(ivfProbes).map(_._1).toSet
    val queries = collectMatrix(s, d, idBound = ivfSearchQueries)
      .map { case (qid, v, n) => (qid, v, n, probeCells(v)) }
    val cellsToRead = queries.flatMap(_._4).toSet
    val idx = cellsToRead.toSeq.sorted
      .map(c => IcebergFormat.scanRange(s, meta, "cell", Some(c.toString), Some(c.toString)))
      .reduce(_ unionByName _)
    require(IcebergFormat.inputFiles(idx).length == 2 * cellsToRead.size,
      s"expected base+delta per probed cell (${2 * cellsToRead.size} files), " +
        s"scan planned ${IcebergFormat.inputFiles(idx).length}")
    probedTopK(s, idx, queries)
  }

  /** sm31: INDEX COMPACTION — closes the served-index lifecycle
    * (sm25 build → sm30 append → compact): after an append, each probed
    * cell costs base+delta file opens; one re-clustering job
    * (the same single-shuffle writeIndexCells write) folds every cell
    * back to ONE file and commits it as a REWRITE snapshot
    * ([[graft.icelite.IcebergFormat.Writer.rewriteDataFiles]]) — readers
    * on pre-compaction snapshots are untouched (time travel intact), new
    * searches open exactly one file per probed cell (required below),
    * and results are bit-identical to the pre-compaction index (same
    * oracle as sm26/sm30). At 100 TB compaction cost is one shuffle of
    * the INDEX (not the corpus), amortized across every later search. */
  private def ivfIndexCompact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.icelite.IcebergFormat
    val root  = graft.Scratch.freshDir(s, "ivfcmp_" + java.lang.Integer.toHexString(d.hashCode))
    val loc   = s"$root/ivf_index"
    val cents = collectMatrix(s, d, idBound = ivfCells)
    val bc    = s.sparkContext.broadcast(cents)
    val maxId = Tables.embeddings(s, d).agg(max("vec_id")).collect()(0).getLong(0)
    val mid   = maxId / 2
    def assign(df: org.apache.spark.sql.DataFrame) =
      Tables.spread(df.select(col("vec_id"), col("embedding")))
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          val cs = bc.value
          it.map { case (id, vf) => (assignCell(vf.map(_.toDouble), cs), id, vf) }
        }
        .toDF("cell", "vec_id", "embedding")
    val emb = Tables.embeddings(s, d)
    val w   = new IcebergFormat.Writer(s, loc, assign(emb.limit(0)).schema)
    w.commit(writeIndexCells(s, assign(emb.filter(col("vec_id") <= mid)), loc, "b"))
    w.commit(writeIndexCells(s, assign(emb.filter(col("vec_id") > mid)), loc, "d"))
    // COMPACT: re-cluster the fragmented index (base+delta per cell) into
    // one file per cell, committed as a rewrite snapshot
    val fragmented = IcebergFormat.scan(s, w.currentMetadataPath)
      .select(col("cell"), col("vec_id"), col("embedding"))
    w.rewriteDataFiles(writeIndexCells(s, fragmented, loc, "c"))
    val meta = w.currentMetadataPath
    def probeCells(v: Array[Double]): Set[Long] =
      cents.map { case (cid, cv, _) => (cid, dist2(v, cv)) }
        .sortBy(_._2).take(ivfProbes).map(_._1).toSet
    val queries = collectMatrix(s, d, idBound = ivfSearchQueries)
      .map { case (qid, v, n) => (qid, v, n, probeCells(v)) }
    val cellsToRead = queries.flatMap(_._4).toSet
    val idx = cellsToRead.toSeq.sorted
      .map(c => IcebergFormat.scanRange(s, meta, "cell", Some(c.toString), Some(c.toString)))
      .reduce(_ unionByName _)
    require(IcebergFormat.inputFiles(idx).length == cellsToRead.size,
      s"post-compaction search should open ONE file per probed cell " +
        s"(${cellsToRead.size}), planned ${IcebergFormat.inputFiles(idx).length}")
    probedTopK(s, idx, queries)
  }

  def all: Seq[Q] = Seq(
    Q("sm01_cosine_topk", cosineTopK, Some(cosineTopKOracle)),
    Q("sm02_nearest_neighbor", nearestNeighbor, Some(nearestNeighborOracle)),
    Q("sm03_lsh_buckets", lshBuckets, Some(lshBucketsOracle)),
    Q("sm04_lsh_search", lshSearch, Some(lshSearchOracle)),
    Q("sm05_ivf_search", ivfSearch, Some(ivfSearchOracle)),
    Q("sm06_kmeans_step", kmeansStep, Some(kmeansStepOracle)),
    Q("sm07_sq8_quantize", sq8Quantize, Some(sq8QuantizeOracle)),
    Q("sm08_kmeans_iter", kmeansIterate, Some(kmeansIterateOracle)),
    Q("sm09_ann_recall", annRecall, Some(annRecallOracle)),
    Q("sm10_pq_quantize", pqQuantize, Some(pqQuantizeOracle)),
    Q("sm11_knn_classify", knnClassify, Some(knnClassifyOracle)),
    Q("sm12_ivf_recall", ivfRecall, Some(ivfRecallOracle)),
    Q("sm13_hamming_topk", hammingTopK, Some(hammingTopKOracle)),
    Q("sm14_cell_balance", cellBalance, Some(cellBalanceOracle)),
    Q("sm15_hamming_rerank", hammingRerank, Some(hammingRerankOracle)),
    Q("sm16_sq8_search", sq8Search, Some(sq8SearchOracle)),
    Q("sm17_sq8_recall", sq8Recall, Some(sq8RecallOracle)),
    Q("sm18_knn_reciprocity", knnReciprocity, Some(knnReciprocityOracle)),
    Q("sm19_pq_adc_search", pqAdcSearch, Some(pqAdcSearchOracle)),
    Q("sm20_ivf_pq_search", ivfPqSearch, Some(ivfPqSearchOracle)),
    Q("sm21_ivfpq_recall", ivfPqRecall, Some(ivfPqRecallOracle)),
    Q("sm22_cell_sample", cellSample, Some(cellSampleOracle)),
    Q("sm23_mrl_recall", mrlRecall, Some(mrlRecallOracle)),
    Q("sm24_label_separation", labelSeparation, Some(labelSeparationOracle)),
    Q("sm25_ivf_index_build", ivfIndexBuild, Some(ivfIndexBuildOracle)),
    Q("sm26_ivf_index_search", ivfPersistedSearch, Some(ivfPersistedSearchOracle)),
    Q("sm27_nprobe_curve", nprobeCurve, Some(nprobeCurveOracle)),
    Q("sm28_centroid_drift", centroidDrift, Some(centroidDriftOracle)),
    Q("sm29_filtered_ann", filteredAnnSearch, Some(filteredAnnSearchOracle)),
    Q("sm30_ivf_index_append", ivfIndexAppend, Some(ivfPersistedSearchOracle)),
    Q("sm31_ivf_index_compact", ivfIndexCompact, Some(ivfPersistedSearchOracle)),
    Q("sm32_ivfpq_index_search", ivfPqPersistedSearch, Some(ivfPqSearchOracle))
  )

  /** IVF-PQ with refine — the composed index as actually shipped (FAISS
    * `IVFx,PQy` + refinement): sm05's coarse quantizer routes each vector
    * to a cell, the vector is stored as a PQ code of its RESIDUAL
    * (v − centroid), a query probes its 2 nearest cells and ADC-ranks
    * their lists with a per-(query, cell) residual LUT, and the top-50
    * ADC shortlist is RE-RANKED by exact L2 for the final top-5 — the
    * two-stage recipe (compressed scan for candidates, exact refine for
    * the answer) that recovers recall the quantizer alone destroys
    * (measured at sf0.01: 0.04 mean recall@5 for raw 8-code ADC ranking,
    * 0.60 after refine-50, against sm12's 0.80 2-probe routing bound —
    * the gap to the bound is the 10×k shortlist paying for the toy
    * codebook, exactly the knob a production tuner would widen). All
    * "training" is the deterministic convention (centroids = 8 lowest-id
    * vectors; residual codebook = the residuals of those same 8), so the
    * DuckDB oracle replays routing, encoding, LUTs, shortlist and re-rank
    * exactly. Corpus pass is map-only; the re-rank touches 50 rows per
    * query. */
  /** Residual PQ codebook: residuals of the 8 lowest-id vectors (id
    * order) against their assigned centroids — the deterministic
    * "training" convention every oracle replays. Shared by the fresh
    * pipeline (sm20) and the persisted-index build (sm32). */
  private def pqBooks(s: SparkSession, d: String,
      cents: Array[(Long, Array[Double], Double)]): Array[(Long, Array[Double])] = {
    val byId = cents.map { case (cid, cv, _) => cid -> cv }.toMap
    collectMatrix(s, d, idBound = 8).map { case (bid, v, _) =>
      val cv = byId(assignCell(v, cents))
      (bid, Array.tabulate(v.length)(i => v(i) - cv(i)))
    }
  }

  /** 4-subspace/16-dim product-quantizer encode of a residual. Lives in a
    * Serializable holder (not on Sim$) because executor-side closures call
    * it — a bare module method would drag non-serializable Sim$ into every
    * task closure. */
  private[ops] object Pq extends Serializable {
    def encode(books: Array[(Long, Array[Double])], r: Array[Double]): Array[Int] =
    Array.tabulate(4) { sub =>
      val off = sub * 16
      var bestCode = 0; var bestD = Double.PositiveInfinity
      var c = 0
      while (c < books.length) {
        val cv = books(c)._2
        var dd = 0.0; var i = 0
        while (i < 16) { val t = r(off + i) - cv(off + i); dd += t * t; i += 1 }
        if (dd < bestD) { bestD = dd; bestCode = c }
        c += 1
      }
      bestCode
    }
  }

  /** Per-(query, probed cell) 4×8 ADC lookup tables over the query's
    * residual IN THAT CELL. */
  private def pqQueryLuts(
      cents: Array[(Long, Array[Double], Double)],
      books: Array[(Long, Array[Double])],
      queries: Array[(Long, Array[Double], Double)])
      : Array[(Long, Map[Long, Array[Array[Double]]])] = {
    val centById = cents.map { case (cid, cv, _) => cid -> cv }.toMap
    def probeCells(v: Array[Double]): Seq[Long] =
      cents.map { case (cid, cv, _) => (cid, dist2(v, cv)) }
        .sortBy(_._2).take(ivfProbes).map(_._1).toSeq
    queries.map { case (qid, qv, _) =>
      val luts = probeCells(qv).map { cell =>
        val cv = centById(cell)
        val rq = Array.tabulate(qv.length)(i => qv(i) - cv(i))
        cell -> Array.tabulate(4) { sub =>
          val off = sub * 16
          books.map { case (_, bv) =>
            var dd = 0.0; var i = 0
            while (i < 16) { val t = rq(off + i) - bv(off + i); dd += t * t; i += 1 }
            dd
          }
        }
      }.toMap
      (qid, luts)
    }
  }

  private def ivfPqSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents   = collectMatrix(s, d, idBound = ivfCells)
    val centById = cents.map { case (cid, cv, _) => cid -> cv }.toMap
    val books = pqBooks(s, d, cents)
    val qvecs   = collectMatrix(s, d, idBound = 10) // collected ONCE: LUTs + refine
    val queries = pqQueryLuts(cents, books, qvecs)
    val bc  = s.sparkContext.broadcast((cents, queries, books))
    val byQ = Window.partitionBy("qid").orderBy(asc("adist"), asc("nid"))
    val shortlist = Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (cs, qs, bks) = bc.value
        val byId = cs.map { case (cid, cv, _) => cid -> cv }.toMap
        it.flatMap { case (nid, vf) =>
          val v = vf.map(_.toDouble)
          val (cell, r) = {
            val c  = assignCell(v, cs)
            val cv = byId(c)
            (c, Array.tabulate(v.length)(i => v(i) - cv(i)))
          }
          val codes = Pq.encode(bks, r)
          qs.iterator
            .filter { case (qid, luts) => qid != nid && luts.contains(cell) }
            .map { case (qid, luts) =>
              val tbl = luts(cell)
              var adist = 0.0; var sub = 0
              while (sub < 4) { adist += tbl(sub)(codes(sub)); sub += 1 }
              (qid, nid, adist)
            }
        }
      }
      .toDF("qid", "nid", "adist")
      .withColumn("srank", row_number().over(byQ).cast("long"))
      .filter(col("srank") <= 50)
      .select("qid", "nid")
    // refine: exact L2 re-rank of the 50-per-query ADC shortlist — the
    // shortlist side broadcasts, so this probes the corpus scan once
    val qVecById = s.sparkContext.broadcast(
      qvecs.map { case (qid, v, _) => qid -> v }.toMap)
    val byQexact = Window.partitionBy("qid").orderBy(asc("dist"), asc("nid"))
    broadcast(shortlist)
      .join(Tables.embeddings(s, d).select(col("vec_id").as("nid"), col("embedding")), "nid")
      .select(col("qid"), col("nid"), col("embedding"))
      .as[(Long, Long, Array[Float])]
      .mapPartitions { it =>
        val qv = qVecById.value
        it.map { case (qid, nid, vf) => (qid, nid, dist2(qv(qid), vf.map(_.toDouble))) }
      }
      .toDF("qid", "nid", "dist")
      .withColumn("rank", row_number().over(byQexact).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("nid"), round(col("dist"), 4).as("dist"))
      .orderBy("qid", "rank")
  }

  /** The sm20 CTE chain (routing → residuals → codes → LUTs → ranked ADC
    * candidates) — shared by the search oracle and sm21's recall oracle. */
  private val ivfPqCtes =
    s"""$duckVecs,
      ce AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < $ivfCells),
      cd2 AS (
        SELECT v.vec_id, c.cid, SUM((v.x - c.x) * (v.x - c.x)) AS d2
        FROM e v JOIN ce c USING (d) GROUP BY 1, 2),
      crk AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM cd2),
      cell AS (SELECT vec_id, cid AS cell FROM crk WHERE rn = 1),
      res AS (
        SELECT v.vec_id, v.d, v.x - c.x AS r
        FROM e v JOIN cell ON cell.vec_id = v.vec_id
        JOIN ce c ON c.cid = cell.cell AND c.d = v.d),
      cb AS (SELECT vec_id AS bid, d, r FROM res WHERE vec_id < 8),
      ed2 AS (
        SELECT v.vec_id, v.d // 16 AS sub, b.bid,
               SUM((v.r - b.r) * (v.r - b.r)) AS dd
        FROM res v JOIN cb b USING (d) GROUP BY 1, 2, 3),
      enc AS (
        SELECT vec_id, sub, bid AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dd, bid) AS rn
          FROM ed2) WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid AS pcell FROM crk
                 WHERE vec_id < 10 AND rn <= $ivfProbes),
      qres AS (
        SELECT p.qid, p.pcell, v.d, v.x - c.x AS r
        FROM probes p
        JOIN e v ON v.vec_id = p.qid
        JOIN ce c ON c.cid = p.pcell AND c.d = v.d),
      lut AS (
        SELECT q.qid, q.pcell, q.d // 16 AS sub, b.bid AS code,
               SUM((q.r - b.r) * (q.r - b.r)) AS dd
        FROM qres q JOIN cb b USING (d) GROUP BY 1, 2, 3, 4),
      ad AS (
        SELECT l.qid, enc.vec_id AS nid, SUM(l.dd) AS adist
        FROM cell
        JOIN lut l ON l.pcell = cell.cell
        JOIN enc ON enc.vec_id = cell.vec_id AND enc.sub = l.sub AND enc.code = l.code
        WHERE l.qid <> cell.vec_id
        GROUP BY 1, 2),
      rk AS (
        SELECT qid, nid, adist,
               row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rank
        FROM ad),
      sl AS (SELECT qid, nid FROM rk WHERE rank <= 50),
      ex AS (
        SELECT s.qid, s.nid, SUM((q.x - v.x) * (q.x - v.x)) AS dist
        FROM sl s
        JOIN e q ON q.vec_id = s.qid
        JOIN e v ON v.vec_id = s.nid AND v.d = q.d
        GROUP BY 1, 2),
      fin AS (
        SELECT qid, nid, dist,
               row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
        FROM ex)"""

  private val ivfPqSearchOracle =
    s"""WITH $ivfPqCtes
      SELECT qid, CAST(rank AS BIGINT) AS rank, nid, ROUND(dist, 4) AS dist
      FROM fin WHERE rank <= 5 ORDER BY qid, rank"""

  /** Recall@5 of the IVF-PQ search against exact L2 ground truth (the
    * composed index approximates L2 distance, so the truth set is L2
    * top-5, not cosine) — sm09/sm12/sm17's convention: every shipped
    * search path carries its own quality eval. Ground truth is one
    * broadcast-queries map pass over the corpus. */
  private def ivfPqRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qs  = collectMatrix(s, d, idBound = 10).map { case (qid, v, _) => (qid, v) }
    val bc  = s.sparkContext.broadcast(qs)
    val byQ = Window.partitionBy("qid").orderBy(asc("dd"), asc("nid"))
    val exact = Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val queries = bc.value
        it.flatMap { case (nid, vf) =>
          lazy val v = vf.map(_.toDouble)
          queries.iterator
            .filter { case (qid, _) => qid != nid }
            .map { case (qid, qv) => (qid, nid, dist2(qv, v)) }
        }
      }
      .toDF("qid", "nid", "dd")
      .withColumn("rn", row_number().over(byQ))
      .filter(col("rn") <= 5)
      .select("qid", "nid")
    val approx = ivfPqSearch(s, d).select("qid", "nid")
    val hits = approx.join(exact, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    exact.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("qid"), col("n_hits"),
        round(col("n_hits") / lit(5.0), 4).as("recall"))
      .orderBy("qid")
  }

  // --------------------------------------- persisted IVF-PQ index (sm32)

  /** Build-and-COMMIT the composed IVF-PQ index (sm20's strongest config)
    * as standard Iceberg tables, sm25's method: the INDEX table holds
    * (cell, vec_id, codes, embedding) one-file-per-cell with manifest
    * cell bounds (ADC probes file-skip), and two SIDECAR tables persist
    * the model — the residual codebook (bid, resid) and the centroids
    * (cid, vec) — so the served search rederives NOTHING from the raw
    * corpus: routing, LUTs, ADC and the exact refine all read the
    * persisted artifacts. Returns (index, codebook, centroids) metadata
    * paths; memoized per (JVM, sfDir) like sm25. */
  private val ivfPqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String, String)]()

  private def ivfPqIndexMetadata(s: SparkSession, d: String): (String, String, String) =
    ivfPqIndexCache.computeIfAbsent(d, _ => buildIvfPqIndex(s, d))

  private[graft] def buildIvfPqIndex(s: SparkSession, d: String): (String, String, String) = {
    import s.implicits._
    import graft.icelite.IcebergFormat
    val root = graft.Scratch.freshDir(s, "ivfpqidx_" + java.lang.Integer.toHexString(d.hashCode))
    val cents = collectMatrix(s, d, idBound = ivfCells)
    val books = pqBooks(s, d, cents)
    val bc    = s.sparkContext.broadcast((cents, books))
    // ONE corpus pass assigns cells and encodes residual codes map-side
    val assigned = Tables.spread(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (cs, bks) = bc.value
        val byId = cs.map { case (cid, cv, _) => cid -> cv }.toMap
        it.map { case (id, vf) =>
          val v    = vf.map(_.toDouble)
          val cell = assignCell(v, cs)
          val cv   = byId(cell)
          val r    = Array.tabulate(v.length)(i => v(i) - cv(i))
          (cell, id, Pq.encode(bks, r), vf)
        }
      }
      .toDF("cell", "vec_id", "codes", "embedding")
    val idxLoc = s"$root/ivfpq_index"
    val wIdx = new IcebergFormat.Writer(s, idxLoc, assigned.schema)
    wIdx.commit(writeIndexCells(s, assigned, idxLoc, "f"))
    def sidecar(name: String, df: org.apache.spark.sql.DataFrame): String = {
      val loc = s"$root/$name"
      val w   = new IcebergFormat.Writer(s, loc, df.schema)
      w.commit(Seq(IcebergFormat.writeSingleFile(s, loc, name, df)))
      w.currentMetadataPath
    }
    val cbMeta = sidecar("pq_codebook",
      books.toSeq.toDF("bid", "resid").orderBy("bid"))
    val ctMeta = sidecar("ivf_centroids",
      cents.toSeq.map { case (cid, cv, _) => (cid, cv) }.toDF("cid", "vec").orderBy("cid"))
    (wIdx.currentMetadataPath, cbMeta, ctMeta)
  }

  /** sm32: ADC search FROM the persisted IVF-PQ index ONLY — centroids
    * and codebook load from their sidecar tables (bounded collects: 8
    * cells / 8 codebook rows by construction), the ADC scan reads just
    * the probed cells' files (manifest cell bounds prune the rest,
    * require-gated like sm26), and the exact 50-per-query refine reads
    * the index's own embedding column, never the raw corpus. Gated
    * persisted == fresh (sm26's method, row-exact vs the sm20 pipeline),
    * which pins its recall@5 to exactly sm21's fresh value. */
  private def ivfPqPersistedSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.icelite.IcebergFormat
    ivfPqIndexCache.remove(d) // this query IS the build+search lifecycle
    val (idxMeta, cbMeta, ctMeta) = ivfPqIndexMetadata(s, d)
    val cents = IcebergFormat.scan(s, ctMeta).select("cid", "vec")
      .as[(Long, Array[Double])].collect().sortBy(_._1)
      .map { case (cid, v) => (cid, v, normv(v)) }
    val books = IcebergFormat.scan(s, cbMeta).select("bid", "resid")
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    // query vectors are the search INPUT (10 rows), collected ONCE and fed
    // to both the LUT build and the exact-refine broadcast; everything
    // else is answered from the persisted artifacts
    val qvecs   = collectMatrix(s, d, idBound = 10)
    val queries = pqQueryLuts(cents, books, qvecs)
    // pruning PROOF on a single served lookup: one query probes ivfProbes
    // cells, and planning that lookup must keep only those cells' files —
    // the 10-query BATCH below may legitimately union every cell (8 cells,
    // 20 probes), so the per-lookup plan is where pruning is provable
    val q0 = queries.head._2.keySet
    val (_, kept0, total0) = IcebergFormat.scanPoints(
      s, idxMeta, "cell", q0.toSeq.sorted.map(_.toString))
    require(kept0 <= q0.size && kept0 < total0,
      s"single-lookup plan kept $kept0 of $total0 files for ${q0.size} probed cells — " +
        "manifest cell bounds failed to prune")
    val cellsToRead = queries.flatMap(_._2.keys).toSet
    val (idx, keptB, _) = IcebergFormat.scanPoints(
      s, idxMeta, "cell", cellsToRead.toSeq.sorted.map(_.toString))
    require(keptB <= cellsToRead.size,
      s"index scan planned $keptB files for ${cellsToRead.size} cells — " +
        "manifest cell bounds failed to prune")
    val bq  = s.sparkContext.broadcast(queries)
    val byQ = Window.partitionBy("qid").orderBy(asc("adist"), asc("nid"))
    val shortlist = idx.select(col("cell"), col("vec_id"), col("codes"))
      .as[(Long, Long, Array[Int])]
      .mapPartitions { it =>
        val qs = bq.value
        it.flatMap { case (cell, nid, codes) =>
          qs.iterator
            .filter { case (qid, luts) => qid != nid && luts.contains(cell) }
            .map { case (qid, luts) =>
              val tbl = luts(cell)
              var adist = 0.0; var sub = 0
              while (sub < 4) { adist += tbl(sub)(codes(sub)); sub += 1 }
              (qid, nid, adist)
            }
        }
      }
      .toDF("qid", "nid", "adist")
      .withColumn("srank", row_number().over(byQ).cast("long"))
      .filter(col("srank") <= 50)
      .select("qid", "nid")
    val qVecById = s.sparkContext.broadcast(
      qvecs.map { case (qid, v, _) => qid -> v }.toMap)
    val byQexact = Window.partitionBy("qid").orderBy(asc("dist"), asc("nid"))
    // refine against the PRUNED idx frame — every shortlist nid came from
    // the probed cells, so a fresh full scan of the index would re-read
    // the very files the probe skipped
    val out = broadcast(shortlist)
      .join(idx.select(col("vec_id").as("nid"), col("embedding")), "nid")
      .select(col("qid"), col("nid"), col("embedding"))
      .as[(Long, Long, Array[Float])]
      .mapPartitions { it =>
        val qv = qVecById.value
        it.map { case (qid, nid, vf) => (qid, nid, dist2(qv(qid), vf.map(_.toDouble))) }
      }
      .toDF("qid", "nid", "dist")
      .withColumn("rank", row_number().over(byQexact).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("nid"), round(col("dist"), 4).as("dist"))
      .orderBy("qid", "rank")
    // persisted == fresh, row-exact: the served path answers exactly what
    // the in-query pipeline answers, so recall@5 equals sm21's value.
    // Both sides materialize ONCE (guide §5, the dd23/dd24 pattern): the
    // equality gate otherwise re-executes the served pipeline four times
    // (count + two excepts + the returned frame's own action) and the
    // fresh pipeline — two full corpus passes each — twice.
    val outM   = out.localCheckpoint()
    val freshM = ivfPqSearch(s, d).localCheckpoint()
    require(outM.count() == freshM.count() &&
      outM.except(freshM).isEmpty && freshM.except(outM).isEmpty,
      "persisted IVF-PQ search diverged from the fresh sm20 pipeline")
    outM
  }

  private val ivfPqRecallOracle =
    s"""WITH $ivfPqCtes,
      l2 AS (
        SELECT q.vec_id AS qid, v.vec_id AS nid,
               SUM((q.x - v.x) * (q.x - v.x)) AS dd
        FROM e q JOIN e v USING (d)
        WHERE q.vec_id < 10 AND v.vec_id <> q.vec_id
        GROUP BY 1, 2),
      gt AS (
        SELECT qid, nid FROM (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dd, nid) AS rn
          FROM l2) WHERE rn <= 5),
      appr AS (SELECT qid, nid FROM fin WHERE rank <= 5),
      hits AS (
        SELECT a.qid, COUNT(*) AS n_hits
        FROM appr a JOIN gt USING (qid, nid) GROUP BY 1)
      SELECT g.qid,
             CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
             ROUND(COALESCE(h.n_hits, 0) / 5.0, 4) AS recall
      FROM (SELECT DISTINCT qid FROM gt) g
      LEFT JOIN hits h USING (qid) ORDER BY g.qid"""

  /** PQ asymmetric-distance search (ADC) — the query path for sm10's
    * compressed codes, completing the PQ story the way sm16 completes
    * SQ8: each query precomputes a 4×8 lookup table of squared L2
    * distances to every codebook entry per subspace, and a database
    * vector's approximate distance is just 4 LUT adds on its codes —
    * never a full 64-dim distance at query time (Jégou et al., PQ for
    * nearest neighbor search). Codebooks and LUTs are driver-computed
    * constants (8 codebook + 10 query vectors), broadcast; the corpus
    * pass is map-only encode + LUT sums, then a per-query top-5
    * WindowGroupLimit — the FAISS scan shape, linear in the corpus with
    * O(1) per-row work. */
  private def pqAdcSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val books = collectMatrix(s, d, idBound = 8).map { case (cid, v, _) => (cid, v) }
    val qs    = collectMatrix(s, d, idBound = 10).map { case (qid, v, _) => (qid, v) }
    // lut(qid)(sub)(code): squared L2 between the query's 16-dim sub-vector
    // and codebook entry `code`'s — subspace sums accumulate d in order
    val lut: Map[Long, Array[Array[Double]]] = qs.map { case (qid, qv) =>
      qid -> Array.tabulate(4) { sub =>
        val off = sub * 16
        books.map { case (_, cv) =>
          var dd = 0.0; var i = 0
          while (i < 16) { val t = qv(off + i) - cv(off + i); dd += t * t; i += 1 }
          dd
        }
      }
    }.toMap
    val bcBooks = s.sparkContext.broadcast(books)
    val bcLut   = s.sparkContext.broadcast(lut)
    val byQ = Window.partitionBy("qid").orderBy(asc("adist"), asc("nid"))
    Tables.spread(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .flatMap { case (nid, vf) =>
        val v  = vf.map(_.toDouble)
        val cb = bcBooks.value
        val codes = Array.tabulate(4) { sub =>
          val off = sub * 16
          var bestCode = 0; var bestD = Double.PositiveInfinity
          var c = 0
          while (c < cb.length) {
            val cv = cb(c)._2
            var dd = 0.0; var i = 0
            while (i < 16) { val t = v(off + i) - cv(off + i); dd += t * t; i += 1 }
            if (dd < bestD) { bestD = dd; bestCode = c }
            c += 1
          }
          bestCode
        }
        bcLut.value.iterator.collect { case (qid, tbl) if qid != nid =>
          var adist = 0.0; var sub = 0
          while (sub < 4) { adist += tbl(sub)(codes(sub)); sub += 1 }
          (qid, nid, adist)
        }
      }
      .toDF("qid", "nid", "adist")
      .withColumn("rank", row_number().over(byQ).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("nid"), round(col("adist"), 4).as("adist"))
      .orderBy("qid", "rank")
  }

  private val pqAdcSearchOracle =
    s"""WITH $duckVecs,
      cb AS (SELECT vec_id AS cid, d, x FROM e WHERE vec_id < 8),
      q  AS (SELECT vec_id AS qid, d, x FROM e WHERE vec_id < 10),
      d2 AS (
        SELECT v.vec_id, v.d // 16 AS sub, c.cid, SUM((v.x - c.x) * (v.x - c.x)) AS err
        FROM e v JOIN cb c ON v.d = c.d
        GROUP BY 1, 2, 3),
      enc AS (
        SELECT vec_id, sub, cid AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY err, cid) AS rn
          FROM d2) WHERE rn = 1),
      lut AS (
        SELECT q.qid, c.d // 16 AS sub, c.cid AS code,
               SUM((q.x - c.x) * (q.x - c.x)) AS dd
        FROM q JOIN cb c ON q.d = c.d
        GROUP BY 1, 2, 3),
      ad AS (
        SELECT l.qid, enc.vec_id AS nid, SUM(l.dd) AS adist
        FROM enc JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
        WHERE l.qid <> enc.vec_id
        GROUP BY 1, 2),
      rk AS (
        SELECT qid, nid, adist,
               row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rank
        FROM ad)
      SELECT qid, CAST(rank AS BIGINT) AS rank, nid, ROUND(adist, 4) AS adist
      FROM rk WHERE rank <= 5 ORDER BY qid, rank"""

  /** kNN-graph reciprocity: build the 1-NN graph inside LSH buckets (each
    * vector's best same-bucket neighbor by exact cosine) and measure, per
    * class label, how many of those edges are mutual — the standard
    * diagnostic for hubness/partition quality in an ANN index (low
    * reciprocity means buckets are lumping unrelated regions together).
    * The candidate graph is a bucket equi-join of the corpus with itself —
    * the dd09/sm03 scale shape: shuffle on the 16-bit signature, never an
    * all-pairs product — and the NN pick is a WindowGroupLimit per vector.
    * The oracle replays signature, bucket join, rerank and the mutuality
    * join declaratively. */
  private def knnReciprocity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sigs = Tables.spread(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label")))
      .as[(Long, Array[Float], Int)]
      .map { case (id, vf, label) =>
        val v = vf.map(_.toDouble)
        (id, label, hyperSig(vf), v, normv(v))
      }
      .toDF("vec_id", "label", "bucket", "v", "nrm")
      .persist()
    // dot product via built-in higher-order fns (no UDF): aggregate folds
    // left in element order, the same sequential accumulation as dotv
    val byA = Window.partitionBy("ai").orderBy(desc("sim"), asc("bi"))
    val nn = sigs.as("a")
      .join(sigs.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("ai"), col("a.label").as("label"),
        col("b.vec_id").as("bi"),
        col("a.v").as("av"), col("b.v").as("bv"),
        (col("a.nrm") * col("b.nrm")).as("nn_prod"))
      .select(col("ai"), col("label"), col("bi"),
        (expr("aggregate(zip_with(av, bv, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, z) -> acc + z)") /
          col("nn_prod")).as("sim"))
      .withColumn("rn", row_number().over(byA))
      .filter(col("rn") === 1)
      .select("ai", "label", "bi")
      .persist()
    nn.as("x")
      .join(nn.as("y"), col("x.bi") === col("y.ai") && col("y.bi") === col("x.ai"), "left")
      .groupBy(col("x.label").as("label"))
      .agg(
        count(lit(1)).as("n_with_nn"),
        count(col("y.ai")).as("n_reciprocal"))
      .withColumn("recip_bp", expr("n_reciprocal * 10000 div n_with_nn"))
      .select("label", "n_with_nn", "n_reciprocal", "recip_bp")
      .orderBy("label")
  }

  private val knnReciprocityOracle =
    """WITH planes AS (
        SELECT j, d, ((j * 64 + d) * 2654435761 % 4294967296) / 2147483648.0 - 1.0 AS w,
               CAST(1 AS BIGINT) << j AS pw
        FROM range(16) a(j), range(64) b(d)),
      e AS (
        SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS x
        FROM embeddings, range(64) t(d)),
      sig AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN dp > 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
        FROM (SELECT vec_id, j, pw, SUM(x * w) AS dp
              FROM e JOIN planes USING (d) GROUP BY 1, 2, 3)
        GROUP BY vec_id),
      nrm AS (SELECT vec_id, sqrt(SUM(x * x)) AS n FROM e GROUP BY 1),
      pairs AS (
        SELECT a.vec_id AS ai, b.vec_id AS bi
        FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
      sims AS (
        SELECT p.ai, p.bi,
               SUM(ea.x * eb.x) / (na.n * nb.n) AS sim
        FROM pairs p
        JOIN e ea ON ea.vec_id = p.ai
        JOIN e eb ON eb.vec_id = p.bi AND eb.d = ea.d
        JOIN nrm na ON na.vec_id = p.ai
        JOIN nrm nb ON nb.vec_id = p.bi
        GROUP BY p.ai, p.bi, na.n, nb.n),
      nn AS (
        SELECT ai, bi FROM (
          SELECT ai, bi, row_number() OVER (PARTITION BY ai ORDER BY sim DESC, bi) AS rn
          FROM sims) WHERE rn = 1),
      lab AS (SELECT vec_id, label FROM embeddings)
      SELECT l.label, COUNT(*) AS n_with_nn,
             CAST(COUNT(y.ai) AS BIGINT) AS n_reciprocal,
             CAST(COUNT(y.ai) * 10000 // COUNT(*) AS BIGINT) AS recip_bp
      FROM nn x
      JOIN lab l ON l.vec_id = x.ai
      LEFT JOIN nn y ON y.ai = x.bi AND y.bi = x.ai
      GROUP BY l.label ORDER BY l.label"""
}
