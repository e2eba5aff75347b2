package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gates for two design rules no plan or result check can see:
  * every lineage cut in `ext` goes through the one checkpoint policy
  * ([[graft.ext.Checkpoint.materialize]]), and no engine code spawns
  * processes. */
class SourceGuardSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")

  private def sources(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** `file:line: text` for every line of `files` matching `pattern`. */
  private def hits(files: Seq[Path], pattern: String): Seq[String] = {
    val rx = pattern.r
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if rx.findFirstIn(l).isDefined => s"$f:${i + 1}: ${l.trim}"
      }
    }
  }

  test("every ext lineage cut goes through Checkpoint.materialize") {
    val ext = sources(main.resolve("graft/ext"))
      .filterNot(_.getFileName.toString == "Checkpoint.scala")
    assert(ext.size > 10, s"ext sources not found under $main")
    val found = hits(ext, """localCheckpoint\(|\.checkpoint\(|CheckpointStrategy""")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no engine code spawns processes") {
    val found = hits(sources(main), """ProcessBuilder|sys\.process""")
    assert(found.isEmpty, found.mkString("\n"))
  }
}
