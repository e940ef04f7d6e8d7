package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Reaches two `private[spark]` members the benchmark's listener needs, so
  * it lives in a child package of `org.apache.spark`. */
object Bridge {
  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The physical operators that produced a stage's RDDs, e.g.
    * `Scan parquet | WholeStageCodegen (1) | Exchange`. */
  def stageLabel(info: StageInfo): String =
    info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
      .mkString(" | ")
}
