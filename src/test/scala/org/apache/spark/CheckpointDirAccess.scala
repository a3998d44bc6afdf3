package org.apache.spark

/** Test access to a live context's checkpoint dir, which is
  * `private[spark]` and cannot be unset through the public API once a
  * suite has set it. */
object CheckpointDirAccess {
  /** Run `body` with no checkpoint dir set on `sc`, then restore it. */
  def withoutCheckpointDir[T](sc: SparkContext)(body: => T): T = {
    val saved = sc.checkpointDir
    sc.checkpointDir = None
    try body finally sc.checkpointDir = saved
  }
}
