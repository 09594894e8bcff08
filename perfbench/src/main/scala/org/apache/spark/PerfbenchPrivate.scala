package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The spark-private members the benchmark's listener needs. */
object PerfbenchPrivate {
  /** Returns once every posted event has reached the listeners, so a
    * span is closed only after all events of its jobs arrived.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The shuffle a map stage writes. */
  def shuffleDepId(si: StageInfo): Option[Int] = si.shuffleDepId
}
