package org.apache.spark

import scala.jdk.CollectionConverters._

/** Test-scope control of the active `SparkContext`'s checkpoint directory,
  * the setting [[graft.ext.Checkpoint.materialize]] reads. Lives in this
  * package because `SparkContext.checkpointDir` is a `private[spark]` var,
  * and `setCheckpointDir` offers no way back to "unset". The suites share
  * one session, so the previous value is always restored: a leaked dir
  * would switch every later suite to reliable checkpoints. */
object CheckpointDirs {

  def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = SparkContext.getOrCreate()
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prev
  }

  /** Checkpoint data files written anywhere under `dir`. */
  def files(dir: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-")).toList
    finally s.close()
  }
}
