package org.apache.spark.rdd

import org.apache.spark.SparkContext

/** Spec access to two members private to Spark: the listener bus, to
  * wait until every posted event has reached its listeners (no sleep),
  * and whether an RDD is a local checkpoint. */
object SparkTestAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isLocallyCheckpointed(rdd: RDD[_]): Boolean = rdd.isLocallyCheckpointed
}
