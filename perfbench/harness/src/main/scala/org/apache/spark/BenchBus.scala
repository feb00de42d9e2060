package org.apache.spark

/** Accessors for `private[spark]` members the traced run needs: the
  * listener bus, drained so every job, stage and Catalyst event of an op
  * is recorded before the next op starts, and whether a stage writes a
  * shuffle. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isShuffleMap(s: scheduler.StageInfo): Boolean = s.shuffleDepId.isDefined
}
