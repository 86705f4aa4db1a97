package org.apache.spark

/** Reaches the listener bus's drain call, which Spark keeps package-
  * private: the benchmark reads its ledger only after every event of the
  * measured window has been delivered. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
