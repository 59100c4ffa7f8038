package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Bridge to SparkContext's `private[spark]` checkpoint-dir field. The
  * public setter always mints a fresh subdirectory and cannot unset,
  * so a spec that borrows the shared session's checkpoint dir needs
  * this to put back exactly what it found. */
object CheckpointDirShim {
  def restore(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
