package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Listener-side reach for [[graft.Probe]]'s `decomp:` decomposition.
  * `SparkContext.listenerBus` and `RDDOperationScope` are
  * `private[spark]`, so these one-liners live in a child package of
  * `org.apache.spark` — the same technique as
  * [[org.apache.spark.sql.graftbridge.ExprBridge]]. Diagnostic-only:
  * nothing in a query path calls this. */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The physical operators that produced a stage's RDDs, e.g.
    * `Scan parquet | WholeStageCodegen (1) | Exchange`. */
  def stageOperators(info: StageInfo): String =
    info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
      .mkString(" | ")
}
