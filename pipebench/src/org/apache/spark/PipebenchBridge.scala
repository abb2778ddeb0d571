package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run waits for every job and stage event of a round before
  * it reads them. */
object PipebenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
