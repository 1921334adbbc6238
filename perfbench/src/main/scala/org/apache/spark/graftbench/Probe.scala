package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.rdd.LocalRDDCheckpointData

/** The benchmark's only window into `private[spark]` state: whether an RDD
  * is a `localCheckpoint` (a pin) rather than a `cache()`, and a drain of
  * the asynchronous listener bus so counters are complete at an op's end. */
object Probe {
  def isLocalCheckpoint(sc: SparkContext, rddId: Int): Boolean =
    sc.getPersistentRDDs.get(rddId)
      .exists(_.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
