package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The store contract — the version-file CAS, the hint and its file name —
  * and the optimistic commit loop are decided in one place,
  * `graft/icelite/MetadataFiles.scala`. A second publish path in
  * `src/main/scala` (a hard link, a scheme table, a hand written hint
  * reader or a retry loop with its own attempt bound somewhere else)
  * fails this spec. */
class MetadataPublishGuardSpec extends AnyFunSuite {

  private val root   = Paths.get("src", "main", "scala")
  private val module = root.resolve(Paths.get("graft", "icelite", "MetadataFiles.scala"))

  /** What only the module may say: the `file:` CAS, the object-store
    * scheme table, the hint's name in a string literal, and the commit
    * loop's attempt bound. */
  private val owned = Seq(
    "createLink"            -> "createLink".r,
    "conditionalPutSchemes" -> "conditionalPutSchemes".r,
    "\"version-hint.text\"" -> "\"[^\"\\n]*version-hint\\.text".r,
    "MaxCommitAttempts"     -> "MaxCommitAttempts".r)

  /** Names of the deleted second copies, which no file may bring back:
    * publish helpers, and the spec writer's own rollback and retry loop. */
  private val gone = ("claimExactlyOnce|writeFileIfAbsent|noClobber|listVersions|" +
    "withCommitRollback|attemptCreated|withRetry\\b").r

  private def sources: Seq[Path] =
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq

  test("only MetadataFiles publishes metadata, names the hint or picks the CAS by scheme") {
    assert(Files.isRegularFile(module), s"missing $module")
    val hits = for {
      f <- sources if f != module
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (what, re) <- owned if re.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: $what"
    assert(hits.isEmpty, s"a second publish path:\n${hits.mkString("\n")}")
    val text = Files.readString(module)
    owned.foreach { case (what, re) =>
      assert(re.findFirstIn(text).isDefined, s"$module no longer holds $what")
    }
  }

  test("the deleted publish helpers stay deleted") {
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex if gone.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: $line"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
