package org.apache.spark

/** Test access to the listener bus's drain, which is private to Spark: after
  * it returns, every event posted so far (including the SQL execution ends
  * that drive `QueryExecutionListener`s) has been delivered.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
