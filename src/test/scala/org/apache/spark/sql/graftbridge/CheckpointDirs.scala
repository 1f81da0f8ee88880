package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** A checkpoint dir scoped to one block of a test. The test suites share
  * one SparkContext, and `SparkContext.setCheckpointDir` has no public
  * inverse: a dir left set would turn every later suite's pins into
  * reliable checkpoints, written into a dir the test has deleted.
  * `SparkContext.checkpointDir` is `private[spark]`, hence this package.
  */
object CheckpointDirs {

  /** Runs `f` with a fresh temp dir set as `sc`'s checkpoint dir and
    * passes `f` that dir; afterwards restores the previous setting (none,
    * usually) and deletes the dir.
    */
  def withCheckpointDir[T](sc: SparkContext)(f: java.io.File => T): T = {
    val prev = sc.checkpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    try {
      sc.setCheckpointDir(dir.getAbsolutePath)
      f(dir)
    } finally {
      sc.checkpointDir = prev
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }
}
