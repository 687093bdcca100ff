package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two package-private Spark reads the traced run needs. */
object PerfbenchBus {
  /** The listener bus delivers events asynchronously; the traced run waits
    * for it to drain before it reads a query's jobs, stages and tasks. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** True for a shuffle-map stage (an AQE query-stage job ends in one). */
  def isShuffleMapStage(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
