package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gates for design rules no plan or result check can see:
  * every lineage cut in `ext`, the query registry and streaming goes
  * through the one checkpoint policy ([[graft.ext.Checkpoint.materialize]]),
  * every broadcast hint through the one size rule
  * ([[graft.ext.Broadcast.small]]; broadcast variables are listed with
  * their reason),
  * the graft SQL functions are wired in one place ([[GraftExtensions]]),
  * and no engine code spawns processes. */
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

  /** Lineage cuts that bypass the policy on purpose: (file, code) -> why. */
  private val cutAllowList = Map(
    ("Streaming.scala", "val out = df.localCheckpoint(eager = true)") ->
      ("checkpointReleasable needs the checkpoint's RDD handle to release " +
        "each epoch's blocks, which Checkpoint.materialize does not return"))

  /** Broadcast VARIABLES, which hint no join: (file, code) -> why. */
  private val broadcastAllowList = Map(
    ("Classifier.scala", "val bw = spark.sparkContext.broadcast(w)") ->
      "the GD weights of one iteration, read by its RDD pass",
    ("Classifier.scala",
      "val bw = df.sparkSession.sparkContext.broadcast(model.weights)") ->
      "the scoring weights, read by bucket in a UDF")

  /** `found` without the hits an allow list names. */
  private def unlisted(found: Seq[String],
                       allowList: Map[(String, String), String]): Seq[String] =
    found.filterNot(h => allowList.keys.exists { case (file, code) =>
      h.contains(s"/$file:") && h.endsWith(code) })

  test("every ext lineage cut goes through Checkpoint.materialize") {
    val ext = sources(main.resolve("graft/ext"))
      .filterNot(_.getFileName.toString == "Checkpoint.scala")
    assert(ext.size > 10, s"ext sources not found under $main")
    val files = ext ++ sources(main.resolve("graft/streaming")) :+
      main.resolve("graft/ExtQueries.scala")
    val found = unlisted(hits(files,
      """localCheckpoint\(|\.checkpoint\(|CheckpointStrategy"""), cutAllowList)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("every broadcast hint goes through Broadcast.small") {
    val found = unlisted(hits(
      sources(main).filterNot(_.getFileName.toString == "Broadcast.scala"),
      """broadcast\(|hint\("broadcast"""), broadcastAllowList)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("graft functions are wired only by GraftExtensions") {
    val all = sources(main)
    def outside(names: String*) =
      all.filterNot(f => names.contains(f.getFileName.toString))
    val writes = hits(outside("GraftExtensions.scala"),
      """createOrReplaceTempFunction|injectFunction""")
    assert(writes.isEmpty, writes.mkString("\n"))
    // SparkEntry is the one caller; GraftExtensions defines it
    val calls = hits(outside("GraftExtensions.scala", "SparkEntry.scala"),
      """(GraftExtensions|VectorFunctions|BpeFunctions|WordPieceFunctions|TextFunctions)\.register\(""")
    assert(calls.isEmpty, calls.mkString("\n"))
  }

  test("no engine code spawns processes") {
    val found = hits(sources(main), """ProcessBuilder|sys\.process""")
    assert(found.isEmpty, found.mkString("\n"))
  }
}
