package graft

import graft.ops.Multimodal

import org.apache.spark.sql.functions._

/** Operator-semantics specs that go beyond the oracle hash-compare:
  * multimodal decode plumbing, dedup recall on the planted near-dups,
  * similarity sanity. */
class OpsSpec extends SparkSpec {

  test("minhash LSH and df-capped jaccard survive a hot-duplicate skew") {
    import graft.ops.Dedup
    // two 10x corpora under scratch: `uniq` keeps every text distinct;
    // `skew` gives ~1% of all docs one IDENTICAL hot text — the worst case
    // for shingle-postings joins (every hot pair shares every shingle)
    val base = Tables.documents(spark, sfDir)
    val n    = base.count() // 500 at sf0.01
    def replicate(distinctTexts: Boolean): org.apache.spark.sql.DataFrame = {
      val copies = (0 until 10).map { k =>
        val shifted = base
          .withColumn("doc_id", col("doc_id") + lit(k * 1000000L))
        if (distinctTexts)
          shifted.withColumn("text", concat(col("text"), lit(" u"), col("doc_id")))
        else shifted
      }
      copies.reduce(_ unionByName _)
    }
    val hotText = base.orderBy("doc_id").select("text").head.getString(0)
    val uniq = replicate(distinctTexts = true)
    // skew: distinct texts everywhere EXCEPT 1% of docs share the hot text
    val skew = replicate(distinctTexts = true)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(100L)) === 7, lit(hotText)).otherwise(col("text")))
    def write(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val dir = scratch(name)
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val uniqDir = write(uniq, "skew_uniq")
    val skewDir = write(skew, "skew_hot")

    def time(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // dd03: band-bucket candidates + exact verify. The hot cluster is ~50
    // docs -> C(50,2) = 1225+ true pairs must all surface with jaccard 1.
    val (uniqPairs, tUniq) = time(Dedup.minhashPairs(spark, uniqDir).count())
    val (skewPairs, tSkew) = time(Dedup.minhashPairs(spark, skewDir).count())
    val hotDocs = skew.filter(col("text") === hotText).count()
    val hotPairs = hotDocs * (hotDocs - 1) / 2
    assert(hotDocs >= n / 10, s"skew fixture too small: $hotDocs hot docs")
    assert(skewPairs >= uniqPairs / 2 + hotPairs,
      s"hot cluster pairs missing: skew=$skewPairs uniq=$uniqPairs hot=$hotPairs")
    // the blowup must track the O(k^2) extra OUTPUT, not explode beyond it
    assert(tSkew < 5 * math.max(tUniq, 1.0),
      f"minhash skew blowup: uniq $tUniq%.1fs -> skew $tSkew%.1fs")

    // dd07: the df-cap drops the hot shingles entirely -> runtime stays
    // flat AND the hot pairs vanish from the (rare-evidence) output
    val (_, tCapU) = time(Dedup.cappedJaccard(spark, uniqDir).count())
    val (capSkew, tCapS) = time(Dedup.cappedJaccard(spark, skewDir).count())
    assert(tCapS < 5 * math.max(tCapU, 1.0),
      f"capped jaccard skew blowup: $tCapU%.1fs -> $tCapS%.1fs")
    val capHot = Dedup.cappedJaccard(spark, skewDir)
      .filter(pmod(col("doc_a"), lit(100L)) === 7 && pmod(col("doc_b"), lit(100L)) === 7)
      .count()
    assert(capHot == 0, s"df-cap failed to drop hot-shingle pairs: $capHot")
    assert(capSkew >= 0) // shape check; numbers recorded in PERF.md

    // dd08: identical texts -> identical simhash signatures -> the hot
    // band-bucket must emit all C(k,2) pairs at hamming 0, and the cost
    // must track that O(k^2) OUTPUT, not an input cross join
    val dd08 = SparkEntry.queries("dd08_simhash_bucketed")
    val (u8, tU8) = time(dd08(spark, uniqDir).count())
    val (s8, tS8) = time(dd08(spark, skewDir).count())
    assert(s8 >= hotPairs, s"hot simhash pairs missing: $s8 < $hotPairs")
    assert(tS8 < 5 * math.max(tU8, 1.0),
      f"simhash-bucket skew blowup: uniq $tU8%.1fs -> skew $tS8%.1fs")
    info(f"minhash uniq $tUniq%.2fs skew $tSkew%.2fs; capped uniq $tCapU%.2fs skew $tCapS%.2fs; " +
      f"simhash-bucket uniq $tU8%.2fs ($u8 pairs) skew $tS8%.2fs ($s8 pairs)")
  }

  test("multimodal PNG payloads are real PNGs and decode losslessly (javax.imageio)") {
    // direct codec check: encode -> decode recovers the pixel formula
    val png = Multimodal.encodePng(7L)
    assert(png.take(8).map(b => f"${b & 0xff}%02x").mkString == "89504e470d0a1a0a",
      "payload does not start with the PNG magic")
    val (w, h, sum, bright) = Multimodal.decodePng(png)
    assert(w == Multimodal.imgWidth(7L) && h == Multimodal.imgHeight(7L))
    var eSum = 0L; var eBright = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val v = Multimodal.imgLum(7L, x, y)
      eSum += v; if (v >= 128) eBright += 1
    }
    assert((sum, bright) == (eSum, eBright), "decoded raster diverged from formula")

    // distributed path: binary column carries decodable PNG bytes
    val row = Multimodal.pngFrame(spark, sfDir)
      .filter(col("doc_id") === 42).collect()(0)
    val (w42, h42, _, _) = Multimodal.decodePng(row.getAs[Array[Byte]]("content"))
    assert(w42 == Multimodal.imgWidth(42L) && h42 == Multimodal.imgHeight(42L))
  }

  test("PCM16 payloads round-trip little-endian sign-correct (mm08)") {
    // codec check: encode -> ByteBuffer parse recovers the waveform formula,
    // including negative samples (sign extension) and byte order
    val pcm = Multimodal.encodePcm(13L)
    assert(pcm.length == Multimodal.audioSamples * 2)
    val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val decoded = (0 until Multimodal.audioSamples).map(t => bb.getShort(t * 2).toInt)
    val expected = (0 until Multimodal.audioSamples).map(t => Multimodal.audioSample(13L, t))
    assert(decoded == expected, "decoded samples diverged from formula")
    assert(expected.exists(_ < 0) && expected.exists(_ > 0),
      "waveform should exercise both signs")
  }

  test("hamming signature packs sign bits exactly (sm13)") {
    // the packed-long fold must equal a bit-by-bit reference, including
    // bit 63 (the negative-long bit) when coordinate 63 is positive
    import org.apache.spark.sql.Row
    val sig = expr("""aggregate(sequence(0, 63), CAST(0 AS BIGINT),
        (acc, i) -> acc + IF(element_at(v, i + 1) > 0.0,
                             shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""")
    val vec = Array.tabulate(64)(i => if (i % 3 == 0) 1.0f else -1.0f)
    val df = spark.createDataFrame(
      java.util.List.of(Row(vec.toSeq)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))
    val got = df.select(sig.as("sig")).collect()(0).getLong(0)
    val want = (0 until 64).foldLeft(0L)((acc, i) => if (vec(i) > 0) acc | (1L << i) else acc)
    assert(got == want, f"packed $got%x != reference $want%x")
    assert(java.lang.Long.bitCount(got) == vec.count(_ > 0))
  }

  test("winnowing guarantees a shared fingerprint for matches >= k+w-1 (dd16)") {
    import spark.implicits._
    // two otherwise-different docs sharing one 11-char substring (k=8, w=4:
    // guarantee threshold k+w-1 = 11) must share at least one fingerprint;
    // two disjoint-alphabet docs must share none
    val shared = "SHAREDRUN11"
    val docs = Seq(
      (1L, s"aaaa bbbb cccc $shared dddd eeee"),
      (2L, s"zzzz yyyy $shared xxxx wwww vvvv"),
      (3L, "qqqq rrrr ssss tttt uuuu qqqq rrrr"))
      .toDF("doc_id", "text")
    val fps = docs
      .select(col("doc_id"), graft.functions.hashfns.winnow(col("text"), 8, 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty,
      "docs sharing an 11-char run must share a winnowed fingerprint")
    assert((fps(1L) intersect fps(3L)).isEmpty,
      "disjoint-alphabet docs should share no fingerprint")
    // sorted-distinct contract (join determinism relies on it)
    val arr = docs.select(graft.functions.hashfns.winnow(col("text"), 8, 4))
      .collect()(0).getSeq[Long](0)
    assert(arr == arr.sorted && arr.distinct.size == arr.size)
  }

  test("nearest-neighbor resize samples src = out*dim div target exactly") {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.encodePng(11L)))
    val small = Multimodal.resizeNearest(img, 8, 8)
    assert(small.getWidth == 8 && small.getHeight == 8)
    for (y <- 0 until 8; x <- 0 until 8) {
      val sx = x * img.getWidth / 8
      val sy = y * img.getHeight / 8
      assert(small.getRaster.getSample(x, y, 0) == Multimodal.imgLum(11L, sx, sy),
        s"resize sample mismatch at ($x,$y)")
    }
  }

  test("frame sampling covers the payload") {
    val fs = Multimodal.frameSample(spark, sfDir, frameBytes = 16, every = 4)
    assert(fs.columns.toSeq == Seq("doc_id", "frame_idx", "frame"))
    val r0 = fs.filter(col("doc_id") === 0).orderBy("frame_idx").collect()
    assert(r0.map(_.getInt(1)).forall(_ % 4 == 0))
    val txt = Tables.documents(spark, sfDir).filter(col("doc_id") === 0)
      .select("text").collect()(0).getString(0)
    assert(r0(0).getAs[Array[Byte]](2).toSeq == txt.getBytes("UTF-8").take(16).toSeq)
  }

  test("minhash LSH finds the planted near-duplicates that exact jaccard finds") {
    val lsh = SparkEntry.registry.find(_.name == "dd03_minhash_lsh").get
      .run(spark, "/root/testdata/sf0.01")
      .filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SparkEntry.registry.find(_.name == "dd02_ngram_jaccard").get
      .run(spark, "/root/testdata/sf0.01")
      .filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // at j>=0.9 with 4x4 bands expected recall ~0.98; the planted pairs in
    // this dataset are near-identical, so LSH must catch them all
    assert((exact -- lsh).isEmpty, s"LSH missed: ${exact -- lsh}")
  }

  test("cosine top-k neighbors are symmetric with the nn scan's top choice") {
    val topk = SparkEntry.registry.find(_.name == "sm01_cosine_topk").get.run(spark, sfDir)
    val nn   = SparkEntry.registry.find(_.name == "sm02_nearest_neighbor").get.run(spark, sfDir)
    val top1 = topk.filter(col("rn") === 1)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val nnMap = nn.select("vec_id", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 10L).foreach { q => assert(top1(q) == nnMap(q)) }
  }

  test("registered SQL functions match the column API and the shared math") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_roll_hash('abc') AS h, graft_roll_hash('abc', 97) AS hm,
                graft_min_gram_hash('abcdef', 5) AS g,
                graft_simhash32(array('abc', 'abc')) AS sh,
                graft_word_shingles('a b c d') AS ws,
                graft_minhash_sig(array(CAST(7 AS BIGINT))) AS ms""").collect()(0)
    // ((0*31+97)*31+98)*31+99 = 96354
    assert(r.getAs[Long]("h") == (('a' * 31 + 'b') * 31 + 'c').toLong)
    assert(r.getAs[Long]("hm") == (((('a' % 97) * 31 + 'b') % 97 * 31 + 'c') % 97))
    assert(r.getAs[Long]("g") > 0)
    assert(r.getSeq[String](4) == Seq("a b c", "b c d"))
    val sig = r.getSeq[Long](5)
    assert(sig == graft.Hashing.minhashParams.map { case (_, a, b) => (a * 7 + b) % graft.Hashing.P })
    val lv = spark.sql(
      """SELECT graft_lev_bounded('kitten', 'sitting', 3) AS inb,
                graft_lev_bounded('kitten', 'sitting', 2) AS outb,
                graft_lev_bounded('prefix MID suffix', 'prefix Mude suffix', 9) AS trm""").collect()(0)
    assert(lv.getAs[Long]("inb") == 3L)
    assert(lv.getAs[Long]("outb") == -1L)
    assert(lv.getAs[Long]("trm") == 3L)
    // code-point semantics on non-BMP input: each emoji is ONE character
    // (a UTF-16 implementation would count two surrogate halves), matching
    // Spark's builtin levenshtein
    val emoji = spark.sql(
      """SELECT graft_lev_bounded('a😀b', 'a😁b', 5) AS one,
                levenshtein('a😀b', 'a😁b') AS builtin""").collect()(0)
    assert(emoji.getAs[Long]("one") == emoji.getAs[Int]("builtin").toLong,
      s"non-BMP divergence from builtin: $emoji")
    assert(emoji.getAs[Long]("one") == 1L)
  }

  test("language id picks the max-scoring language deterministically") {
    val out = SparkEntry.registry.find(_.name == "tx01_lang_id").get.run(spark, sfDir)
    assert(out.count() == 500)
    assert(out.select("lang_pred").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("de", "en", "es", "fr", "zh")))
  }

  test("arithmetic global orders are gapless permutations (mm06, pp10)") {
    // both ops compute a GLOBAL position without a global sort; the
    // correctness of that arithmetic is exactly "positions are 0..n-1,
    // no duplicates, no gaps"
    for (name <- Seq("mm06_interleave", "pp10_curriculum")) {
      val pos = SparkEntry.registry.find(_.name == name).get.run(spark, sfDir)
        .select("pos").collect().map(_.getLong(0)).sorted
      assert(pos.nonEmpty, s"$name returned no rows")
      assert(pos.toSeq == (0L until pos.length).toSeq,
        s"$name positions are not a gapless 0..n-1 permutation")
    }
    // mm06 additionally alternates modalities strictly at every position
    val mm = SparkEntry.registry.find(_.name == "mm06_interleave").get.run(spark, sfDir)
      .select("pos", "modality").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(mm.forall { case (p, m) => (p % 2 == 0) == (m == "text") },
      "mm06 even positions must be text, odd positions image")
  }

  test("an63 two-pass bucketing equals Spark's ntile window bit-for-bit") {
    // the rewrite replaced the global ntile window with range-repartition
    // + prefix offsets + ANSI-ntile arithmetic; this pins the equivalence
    // on the real data rather than trusting the formula
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    val windowed = Tables.lineitem(spark, sfDir)
      .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .withColumn("bucket", ntile(10).over(w).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
      .orderBy("bucket").collect().toSeq
    val twoPass = SparkEntry.registry.find(_.name == "an63_equidepth_hist").get
      .run(spark, sfDir).collect().toSeq
    assert(twoPass == windowed, "two-pass equi-depth diverged from ntile window")
  }

  test("sm20 IVF-PQ keeps usable recall and sm21 reports it consistently") {
    // the composed index is approximate — but on this data the 2-probe +
    // residual-coded search must keep a sane floor, and sm21's per-query
    // numbers must agree with recomputing hits from sm20's own output
    val recall = SparkEntry.registry.find(_.name == "sm21_ivfpq_recall").get
      .run(spark, sfDir).collect()
    assert(recall.length == 10, "expected one recall row per query vector")
    val mean = recall.map(_.getAs[Double]("recall")).sum / recall.length
    assert(mean >= 0.3, f"IVF-PQ mean recall@5 collapsed: $mean%.2f")
    assert(recall.forall(r => r.getAs[Long]("n_hits") >= 0 && r.getAs[Long]("n_hits") <= 5))
  }

  test("sm25 index build is a constant number of Spark jobs, independent of cell count") {
    // round 7's build looped filter/coalesce/write per cell (1 + 2*cells
    // jobs = 17 at 8 cells); the single-pass rewrite is ONE logical
    // shuffle-write whatever the cell count. Measured fixed overhead: 2
    // parquet-footer reads (one per embeddings DataFrame), the centroid
    // collect, and AQE materializing the write as <=3 stage jobs — 6
    // total, none scaling with cells. Manifest row counts come from
    // parquet footers, not a Spark job. Job-group ids make the count
    // exact without racing the async listener bus.
    spark.sparkContext.setJobGroup("sm25-build-audit", "ivf index build", false)
    val meta =
      try graft.ops.Sim.buildIvfIndex(spark, sfDir)
      finally spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("sm25-build-audit")
    assert(jobs.length <= 6, s"index build ran ${jobs.length} driver jobs: not cell-count-free")
    // the committed layout still serves sm26: one file per cell, bounds intact
    val idx = graft.icelite.IcebergFormat.scanRange(spark, meta, "cell", Some("0"), Some("0"))
    assert(graft.icelite.IcebergFormat.inputFiles(idx).length == 1,
      "cell bounds no longer prune to one file")
    assert(idx.count() > 0)
  }

  test("LSH hot-bucket cap bounds pair mining; star edges keep cluster components") {
    import graft.ops.Dedup
    // corpus: organic sf0.001 docs + a 13-copy hot group with a text no
    // organic doc shares a shingle with (the boilerplate-class bucket the
    // cap exists for: identical signatures -> one bucket per band)
    val base = Tables.documents(spark, sfDir)
    val hotText = (1 to 40).map(i => s"graftcapfixture$i").mkString(" ")
    val hotIds  = (1 to 13).map(k => 9000000L + k)
    val hot = spark.createDataFrame(
      spark.sparkContext.parallelize(hotIds.map(id =>
        org.apache.spark.sql.Row(id, hotText, "en", "srccap", hotText.length.toLong))),
      base.schema)
    val dir = scratch("bucket_cap")
    base.unionByName(hot).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def hotOnly(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("doc_a") >= 9000000L && col("doc_b") >= 9000000L)

    // default cap (64) far above the group: NOTHING dropped, full clique
    val fullPairs = hotOnly(Dedup.minhashPairs(spark, dir)).count()
    assert(fullPairs == 13L * 12 / 2, s"expected full clique, got $fullPairs")
    assert(Dedup.bucketDropCount(spark, dir) == 0,
      "default cap dropped members on a tiny group")

    spark.conf.set("spark.graft.dedup.bucketCap", "4")
    try {
      // capped: only the 4 lowest-id members pair up -> C(4,2) per bucket,
      // and the identical signatures put the same 4 first in every band
      val capped = hotOnly(Dedup.minhashPairs(spark, dir)).count()
      assert(capped == 6, s"hot bucket not capped: $capped pairs")
      // 9 overflow members x 4 bands, countable on demand — never silent
      val dropped = Dedup.bucketDropCount(spark, dir)
      assert(dropped == 36, s"drop count: $dropped (expected 36)")
      // clustering drops NOTHING: star edges keep all 13 in one component
      val lbl = Dedup.ccLabels(spark, dir).filter(col("doc_id") >= 9000000L)
      val clusters = lbl.select("cluster").distinct().count()
      assert(lbl.count() == 13 && clusters == 1,
        s"star edges broke the hot component: ${lbl.count()} members, $clusters clusters")
      // star edges bound the overflow bucket at diameter <= 2, so the BSP
      // fixpoint stays a handful of rounds even with the capped clique
      assert(Dedup.lastCcRounds.get() <= 6,
        s"ccLabels took ${Dedup.lastCcRounds.get()} BSP rounds on a star-edge graph")
    } finally spark.conf.unset("spark.graft.dedup.bucketCap")
  }

  test("st12 transformWithState count equals the batch GROUP BY under any batching") {
    val streamed = SparkEntry.registry.find(_.name == "st12_transform_with_state").get
      .run(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed == batch, "stateful running count diverged from batch counts")
  }
}
