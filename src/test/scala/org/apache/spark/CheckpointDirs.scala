package org.apache.spark

/** Test-only bridge to the SparkContext's checkpoint dir, which has a
  * setter but no unset (`checkpointDir` is a `private[spark] var`).
  */
object CheckpointDirs {

  /** Runs `body` with the active context's checkpoint dir under `dir`,
    * then restores the previous value — None included — so later suites
    * in the same JVM keep local checkpoints.
    */
  def withCheckpointDir[A](dir: String)(body: => A): A = {
    val sc = SparkContext.getActive.get
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body
    finally sc.checkpointDir = prev
  }

  /** Regular files anywhere under `dir`. */
  def filesUnder(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(java.nio.file.Files.isRegularFile(_)).count()
    finally s.close()
  }
}
