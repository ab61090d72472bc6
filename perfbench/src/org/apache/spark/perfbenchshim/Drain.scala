package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so a
  * traced run reads complete counters instead of guessing when the
  * asynchronous listener bus has caught up. The bus is Spark-private,
  * hence this package.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
