package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two Spark-internal reads `graft.obs.StageLog` needs; both members
  * it reads are `private[spark]`.
  */
object GraftAccess {

  /** Wait until the listener bus has delivered every queued event. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The operation-scope names of a stage's RDDs in creation order, without
    * repeats: for SQL, the physical operators the stage ran
    * ("Scan parquet", "WholeStageCodegen (1)", "ObjectHashAggregate",
    * "Exchange", ...).
    */
  def scopeNames(si: StageInfo): Seq[String] =
    si.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
}
