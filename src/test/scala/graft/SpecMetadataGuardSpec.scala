package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What a spec table's metadata files hold is decided in one place per
  * file kind: `graft/icelite/SpecMetadata.scala` for `metadata.json` (its
  * `parse` is the only reader of that file's text and its `render` the
  * only writer) and `graft/icelite/SpecManifests.scala` for the Avro
  * manifests and manifest lists (one `read` and one `write` each). A
  * second codec in `src/main/scala` — a hand-written walker or template
  * naming the spec's keys or Avro fields, or any other Avro import —
  * fails this spec. */
class SpecMetadataGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala")

  private def quoted(k: String) = k -> ("\"" + k + "\"").r

  private def sources: Seq[Path] =
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq

  /** `module` is the only source that matches any of `patterns`, and it
    * matches each of them. */
  private def onlyIn(file: String, patterns: Seq[(String, scala.util.matching.Regex)]): Unit = {
    val module = root.resolve(Paths.get("graft", "icelite", file))
    assert(Files.isRegularFile(module), s"missing $module")
    val hits = for {
      f <- sources if f != module
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (key, re) <- patterns if re.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: $key"
    assert(hits.isEmpty, s"a second codec next to $file:\n${hits.mkString("\n")}")
    val text = Files.readString(module)
    patterns.foreach { case (key, re) =>
      assert(re.findFirstIn(text).isDefined, s"$module no longer holds $key")
    }
  }

  test("only SpecMetadata names the spec metadata keys") {
    onlyIn("SpecMetadata.scala",
      Seq("current-snapshot-id", "partition-specs", "last-column-id", "next-row-id").map(quoted))
  }

  test("only SpecManifests imports Avro or names the manifest and manifest-list fields") {
    onlyIn("SpecManifests.scala",
      ("org.apache.avro" -> "org\\.apache\\.avro".r) +:
        Seq("manifest_path", "data_file", "added_files_count").map(quoted))
  }
}
