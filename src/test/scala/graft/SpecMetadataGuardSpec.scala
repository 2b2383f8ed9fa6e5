package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What a spec table's `metadata.json` holds is decided in one place,
  * `graft/icelite/SpecMetadata.scala`: its `parse` is the only reader of
  * that file's text and its `render` the only writer. A second codec in
  * `src/main/scala` — a hand-written walker or string template naming the
  * spec's top-level keys — fails this spec. */
class SpecMetadataGuardSpec extends AnyFunSuite {

  private val root   = Paths.get("src", "main", "scala")
  private val module = root.resolve(Paths.get("graft", "icelite", "SpecMetadata.scala"))

  /** Key literals only the codec may spell out. */
  private val keys = Seq("current-snapshot-id", "partition-specs", "last-column-id", "next-row-id")
    .map(k => k -> ("\"" + k + "\"").r)

  private def sources: Seq[Path] =
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq

  test("only SpecMetadata names the spec metadata keys") {
    assert(Files.isRegularFile(module), s"missing $module")
    val hits = for {
      f <- sources if f != module
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (key, re) <- keys if re.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: $key"
    assert(hits.isEmpty, s"a second spec-metadata codec:\n${hits.mkString("\n")}")
    val text = Files.readString(module)
    keys.foreach { case (key, re) =>
      assert(re.findFirstIn(text).isDefined, s"$module no longer holds $key")
    }
  }
}
