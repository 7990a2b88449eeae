package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener, so a
  * spec that counts jobs with a listener sees all of them. The listener bus
  * is private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
