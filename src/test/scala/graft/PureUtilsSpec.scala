package graft

import graft.icelite.{NameResolver, SourceResolver}
import org.scalatest.funsuite.AnyFunSuite

/** Pure-function tests: naming rules, source detection, hashing params —
  * the reference-semantics utilities (SURVEY.md §1.5, §2.1 S2-S4).
  * Property checks run over a seeded random corpus (no external generator
  * dependencies beyond the pre-warmed test jars). */
class PureUtilsSpec extends AnyFunSuite {

  /** Seeded pseudo-random printable-ASCII strings for property checks. */
  private def asciiSamples(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { _ =>
      val len = rnd.nextInt(24)
      (0 until len).map(_ => (32 + rnd.nextInt(95)).toChar).mkString
    }
  }

  private def forAllSamples(f: String => Unit): Unit = asciiSamples(500).foreach(f)

  // ------------------------------------------------------------- slugify

  test("slugify lowercases and maps space/hyphen/dot to underscore") {
    assert(NameResolver.slugify("My File-Name.v2") == "my_file_name_v2")
  }

  test("slugify strips other punctuation and collapses underscores") {
    assert(NameResolver.slugify("Hello,  World!!") == "hello_world")
    assert(NameResolver.slugify("__a__b__") == "a_b")
    assert(NameResolver.slugify("--- ---") == "")
  }

  test("slugify is idempotent") {
    forAllSamples { s =>
      val once = NameResolver.slugify(s)
      assert(NameResolver.slugify(once) == once)
    }
  }

  test("slugify output alphabet is [a-z0-9_] without leading/trailing _") {
    forAllSamples { s =>
      val out = NameResolver.slugify(s)
      assert(out.forall(c => c.isDigit || (c >= 'a' && c <= 'z') || c == '_'))
      assert(!out.startsWith("_") && !out.endsWith("_"))
      assert(!out.contains("__"))
    }
  }

  // ----------------------------------------------------------- pluralize

  test("pluralize rules: es / ies / ves / s") {
    assert(NameResolver.pluralize("bus") == "buses")
    assert(NameResolver.pluralize("box") == "boxes")
    assert(NameResolver.pluralize("quiz") == "quizes")
    assert(NameResolver.pluralize("church") == "churches")
    assert(NameResolver.pluralize("dish") == "dishes")
    assert(NameResolver.pluralize("city") == "cities")
    assert(NameResolver.pluralize("day") == "days")
    assert(NameResolver.pluralize("leaf") == "leaves")
    assert(NameResolver.pluralize("knife") == "knives")
    assert(NameResolver.pluralize("user") == "users")
  }

  test("tableNameFor strips extension, slugifies, optionally pluralizes") {
    assert(NameResolver.tableNameFor("Netflix Titles.csv") == "netflix_titles")
    assert(NameResolver.tableNameFor("/tmp/dl/user.csv", pluralizeNames = true) == "users")
    assert(NameResolver.tableNameFor("category.csv", pluralizeNames = true) == "categories")
    assert(NameResolver.tableNameFor("user.csv") == "user")
  }

  // ------------------------------------------------------ source detection

  test("detect classifies remote/glob/local/unknown") {
    import SourceResolver._
    assert(detect("https://x.test/a.csv", None) == Remote)
    assert(detect("http://x.test/a.csv", None) == Remote)
    assert(detect("/anything", Some("*.csv")) == Glob)
    // remote wins over an explicit glob pattern (reference order)
    assert(detect("https://x.test/a.csv", Some("*.csv")) == Remote)
    // a wildcard-bearing source path is itself a glob
    assert(detect("/data/in/*.csv", None) == Glob)
    val tmp = java.nio.file.Files.createTempFile("graft", ".csv")
    assert(detect(tmp.toString, None) == Local)
    assert(detect("file:" + tmp.toString, None) == Local)
    assert(detect("/does/not/exist.csv", None) == Unknown)
    java.nio.file.Files.delete(tmp)
  }

  test("filesToProcess expands a wildcard source path and raises on unknown") {
    val dir = java.nio.file.Files.createTempDirectory("graftwild")
    for (n <- Seq("x.csv", "y.csv", "z.txt"))
      java.nio.file.Files.createFile(dir.resolve(n))
    val got = SourceResolver
      .filesToProcess(dir.toString + "/*.csv", None, dir.toString)
      .map(_._2)
    assert(got == Seq("x.csv", "y.csv"))
    intercept[IllegalArgumentException] {
      SourceResolver.filesToProcess("/does/not/exist.csv", None, dir.toString)
    }
  }

  test("expandGlob returns sorted matches only") {
    val dir = java.nio.file.Files.createTempDirectory("graftglob")
    for (n <- Seq("b.csv", "a.csv", "c.txt"))
      java.nio.file.Files.createFile(dir.resolve(n))
    val got = SourceResolver.expandGlob(dir.toString, "*.csv").map(_.split('/').last)
    assert(got == Seq("a.csv", "b.csv"))
  }

  test("download streams a file:// url to dest dir") {
    val src = java.nio.file.Files.createTempFile("graftdl", ".csv")
    java.nio.file.Files.writeString(src, "a,b\n1,2\n")
    val dest = java.nio.file.Files.createTempDirectory("graftdld")
    val (path, name) = SourceResolver.download(src.toUri.toString, dest.toString)
    assert(name == src.getFileName.toString)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(path)) == "a,b\n1,2\n")
  }

  // ---------------------------------------------------------- hash params

  test("minhash params are odd multipliers below the safe bound") {
    val ps = Hashing.minhashParams
    assert(ps.size == 16)
    assert(ps.map(_._1) == (0 until 16))
    ps.foreach { case (_, a, b) =>
      assert(a % 2 == 1 && a > 0 && a < 1000000L)
      assert(b >= 0 && b < 1000000L)
    }
    assert(ps.map(p => (p._2, p._3)).distinct.size == 16)
  }

  test("plane weights are deterministic and in [-1, 1)") {
    for (j <- 0 until 16; d <- 0 until 64) {
      val w = graft.ops.Sim.planeWeight(j, d)
      assert(w >= -1.0 && w < 1.0)
      assert(w == graft.ops.Sim.planeWeight(j, d))
    }
  }

  test("levBounded equals reference Levenshtein under the threshold, -1 above") {
    import org.apache.spark.unsafe.types.UTF8String
    def ref(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) =
          if (a.charAt(i - 1) == b.charAt(j - 1)) d(i - 1)(j - 1)
          else 1 + math.min(math.min(d(i - 1)(j), d(i)(j - 1)), d(i - 1)(j - 1))
      d(a.length)(b.length)
    }
    def lb(a: String, b: String, t: Int): Long =
      graft.functions.LevStatics.levBounded(
        UTF8String.fromString(a), UTF8String.fromString(b), t)
    val rnd = new scala.util.Random(20260815)
    def word(n: Int): String = Seq.fill(n)(('a' + rnd.nextInt(4)).toChar).mkString
    // the affix shape the dedup verify serves: shared body, short edits
    val cases = Seq.tabulate(400) { _ =>
      val body = word(5 + rnd.nextInt(60))
      val a    = word(rnd.nextInt(4)) + body + word(rnd.nextInt(4))
      val b    = word(rnd.nextInt(4)) + body + word(rnd.nextInt(4))
      (a, b)
    } ++ Seq(("", ""), ("", "abc"), ("abc", ""), ("same", "same"),
      ("kitten", "sitting"), ("flaw", "lawn"))
    for ((a, b) <- cases; t <- Seq(0, 1, 2, 5, 100)) {
      val r = ref(a, b)
      val got = lb(a, b, t)
      assert(got == (if (r <= t) r.toLong else -1L),
        s"levBounded('$a','$b',$t) = $got, reference = $r")
    }
  }

  // ------------------------------------------------------- bound order

  test("prefixSuccessor is an upper bound of every prefixed string in UTF-8 byte order") {
    import graft.sources.IcebergMorScan.prefixSuccessor
    import org.apache.spark.unsafe.types.UTF8String
    def compareStrings(a: String, b: String) =
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
    val tails = Seq("", "a", "\uFFFF", "\uD83D\uDE00", "\uDBFF\uDFFF")
    for (p <- Seq("ab", "a\uD7FF", "x\uFF21", "\uD83D\uDE00", "a\uDBFF\uDFFF", "\uFFFF")) {
      val succ = prefixSuccessor(p)
      assert(succ.isDefined, p)
      tails.foreach(t => assert(compareStrings(p + t, succ.get) < 0, s"'$p$t' >= '${succ.get}'"))
    }
    assert(prefixSuccessor("\uDBFF\uDFFF").isEmpty) // nothing sorts above U+10FFFF
  }
}
