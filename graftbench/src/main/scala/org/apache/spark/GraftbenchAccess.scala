package org.apache.spark

/** The one package-private Spark call the benchmark needs: listener events
  * arrive asynchronously, so the traced run drains the bus before it reads
  * what its listeners collected. */
object GraftbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
