package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import java.nio.file.Files

/** Tests of the benchmark itself: seeded inputs repeat, percentiles refuse
  * small samples, and each workload's checker rejects a wrong result.
  * Exits non-zero on the first failure.
  *
  *     java -cp <classpath> perfbench.SelfTest <scratch dir>
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, what: => String): Unit = if (!cond) throw new AssertionError(what)

  /** The texts of the first `blocks` blocks of a workload's op stream. */
  private def stream(wl: Workload, blocks: Int): Seq[String] =
    (0 until blocks * wl.blockSize).map { _ => val o = wl.next(); s"${o.cls}:${o.kind}:${o.text}" }

  def main(args: Array[String]): Unit = {
    val work = java.nio.file.Paths.get(args(0)).toAbsolutePath

    test("same seed, same op stream; another seed, another stream") {
      def streams(seed: Long): Seq[Seq[String]] = {
        val sc = new SmallCommits(null, seed, work.resolve(s"sc$seed"), null)
        try Seq(stream(new Olap(null, seed, work), 3), stream(sc, 3))
        finally sc.close()
      }
      val (a, b, c) = (streams(7), streams(7), streams(8))
      Seq("olap", "small_commits").indices.foreach { i =>
        expect(a(i) == b(i), s"workload $i: stream differs for one seed")
        expect(a(i) != c(i), s"workload $i: stream ignores the seed")
      }
    }

    test("same seed, same CSV bytes; another seed, other bytes") {
      UsersLoads.FileNames.indices.foreach { i =>
        expect(UsersLoads.csvBytes(7, i).sameElements(UsersLoads.csvBytes(7, i)), s"file $i differs")
        expect(!UsersLoads.csvBytes(7, i).sameElements(UsersLoads.csvBytes(8, i)), s"file $i ignores the seed")
      }
    }

    test("p90 is refused below 100 samples and reported from 100") {
      val xs = (1 to 100).map(_.toDouble)
      expect(Stats.percentile(xs.take(99), 90).isEmpty, "p90 of 99 samples was reported")
      expect(Stats.percentile(xs.take(99), 50).isEmpty, "p50 of 99 samples was reported")
      expect(Stats.percentile(xs, 90).contains(90.0), s"p90 of 1..100 is ${Stats.percentile(xs, 90)}")
    }

    test("olap checker: a changed value or a missing row is caught, summation order is not") {
      val want = Seq(Row("A", 10L, 1.0 / 3), Row("N", 20L, 2.0 / 3))
      expect(Check.sameRows(want.reverse, want).isEmpty, "row order mattered")
      expect(Check.sameRows(Seq(Row("A", 10L, 1.0 / 3 + 1e-17), Row("N", 20L, 2.0 / 3)), want).isEmpty,
        "a last-bit difference in a double was flagged")
      expect(Check.sameRows(Seq(Row("A", 11L, 1.0 / 3), Row("N", 20L, 2.0 / 3)), want).nonEmpty,
        "a wrong count passed")
      expect(Check.sameRows(Seq(Row("A", 10L, 0.3334), Row("N", 20L, 2.0 / 3)), want).nonEmpty,
        "a wrong sum passed")
      expect(Check.sameRows(want.take(1), want).nonEmpty, "a missing row passed")
    }

    test("small_commits checker: a wrong count, key sum or price sum is caught") {
      val model = SmallCommits.Agg(1000L, 500500L, 12345.67, 30L, 40L)
      expect(model.matches(Row(1000L, 500500L, 12345.67 * (1 + 1e-12), 30L, 40L)).isEmpty,
        "a sum within 1e-9 relative was flagged")
      expect(model.matches(Row(999L, 500500L, 12345.67, 30L, 40L)).nonEmpty, "a lost row passed")
      expect(model.matches(Row(1000L, 500501L, 12345.67, 30L, 40L)).nonEmpty, "a wrong key passed")
      expect(model.matches(Row(1000L, 500500L, 12345.68, 30L, 40L)).nonEmpty, "a wrong price passed")
      expect(model.matches(Row(1000L, 500500L, 12345.67, 31L, 40L)).nonEmpty, "a stray update passed")
    }

    test("small_commits model: adding and taking away rows keeps its aggregate exact") {
      import SmallCommits.{Agg, Order}
      val a = Seq(1L -> Order(5, "N", 10.5), 2L -> Order(6, "U", 3.25), 3L -> Order(7, "M", 1.0))
        .foldLeft(Agg(0L, 0L, 0.0, 0L, 0L)) { case (g, (k, o)) => g.adjust(k, o, 1) }
      expect(a == Agg(3L, 6L, 14.75, 1L, 1L), s"three rows give $a")
      val b = a.adjust(2L, Order(6, "U", 3.25), -1).adjust(2L, Order(6, "M", 4.0), 1).adjust(1L, Order(5, "N", 10.5), -1)
      expect(b == Agg(2L, 5L, 5.0, 0L, 2L), s"an update and a delete give $b")
    }

    test("ingest checker: the content hash of the CSV read back equals the generator's, " +
        "and one flipped value changes it") {
      val spark = SparkSession.builder().master("local[1]").appName("perfbench-selftest")
        .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "1")
        .config("spark.local.dir", work.resolve("spark-local").toString).getOrCreate()
      try {
        val drift = UsersLoads.FileNames.indexOf(UsersLoads.DriftFile)
        val csv   = work.resolve("drift.csv")
        Files.write(csv, UsersLoads.csvBytes(7, drift))
        val parsed = graft.icelite.TypeNormalizer.normalize(spark.read.option("header", "true")
          .option("inferSchema", "true").option("multiLine", "true").csv(csv.toString))
        parsed.createOrReplaceTempView("parsed")
        val cols  = UsersCsv.Drifted
        expect(parsed.schema.fields.map(f => f.name -> f.dataType).toSeq ==
          cols.map(c => c -> UsersLoads.typeOf(c)), s"schema ${parsed.schema}")
        val rows  = UsersCsv.rows(7, drift, UsersLoads.RowsPerFile, drifted = true)
        def hashOf(rs: Seq[UsersCsv.Row]) = {
          val schema = org.apache.spark.sql.types.StructType(
            cols.map(c => org.apache.spark.sql.types.StructField(c, UsersLoads.typeOf(c))))
          spark.createDataFrame(java.util.Arrays.asList(
            rs.map(r => Row.fromSeq(cols.map(c => UsersLoads.typed(c, r(c))))): _*), schema)
            .createOrReplaceTempView("truth")
          spark.sql(UsersLoads.hashSql("truth", cols)).collect().head.toSeq
        }
        val truth = hashOf(rows)
        expect(spark.sql(UsersLoads.hashSql("parsed", cols)).collect().head.toSeq == truth,
          "the CSV read back hashes differently from the generator's rows")
        val flipped = rows.updated(17, rows(17) + ("likejazz" -> (rows(17)("likejazz") != "true").toString))
        expect(hashOf(flipped) != truth, "a flipped boolean left the hash unchanged")
      } finally spark.stop()
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
