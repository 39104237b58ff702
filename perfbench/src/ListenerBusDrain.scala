package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  *
  * Spark delivers listener events asynchronously; counts read before the
  * queue is empty would slip into the next operation. The wait is
  * package-private in Spark, hence this file's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
