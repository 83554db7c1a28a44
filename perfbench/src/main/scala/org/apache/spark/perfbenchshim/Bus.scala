package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private:
  * the benchmark reads its listener totals only after every event of
  * the measured phase has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
