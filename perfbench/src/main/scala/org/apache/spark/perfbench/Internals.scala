package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two `private[spark]` members the benchmark's tracing needs,
  * hence this package. */
object Internals {
  /** Blocks until the listener bus has delivered every posted event, so
    * a traced op's job, stage and task events are all counted before its
    * span closes. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Whether the stage writes shuffle output (else it is a result stage). */
  def isShuffleMap(i: StageInfo): Boolean = i.shuffleDepId.isDefined
}
