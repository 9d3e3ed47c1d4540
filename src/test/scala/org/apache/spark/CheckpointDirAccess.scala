package org.apache.spark

/** Test-side access to `SparkContext.checkpointDir`, which is
  * `private[spark]`: Spark can set a context's checkpoint dir but not
  * unset it, and a suite that sets one on the shared test session must
  * put the previous value (usually none) back so later suites keep
  * graft's local checkpoints.
  */
object CheckpointDirAccess {
  def restore(sc: SparkContext, previous: Option[String]): Unit =
    sc.checkpointDir = previous
}
