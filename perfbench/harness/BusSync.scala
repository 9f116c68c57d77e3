package org.apache.spark.graftperfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so
  * a streaming query's last progress event and a job's task-end events
  * are attributed before the harness reads them. The bus's drain call is
  * package-private to Spark, hence this package.
  */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
