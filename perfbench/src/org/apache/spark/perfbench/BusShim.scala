package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Access shim for two `private[spark]` listener facts the benchmark's trace
  * needs; free of logic, one call each.
  */
object BusShim {
  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Operator scope names of a stage's RDDs ("Exchange", "MapPartitions", ...). */
  def scopes(info: StageInfo): Seq[String] = info.rddInfos.flatMap(_.scope.map(_.name)).toSeq
}
