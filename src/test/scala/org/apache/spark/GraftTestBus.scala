package org.apache.spark

/** The listener bus, which Spark keeps package-private: a spec that
  * counts events drains it so every event its actions posted has been
  * delivered before it reads the count. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
