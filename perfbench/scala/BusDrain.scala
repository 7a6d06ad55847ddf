package org.apache.spark

/** Waits until every posted listener event has been delivered, so counts
  * read after a run include its last job. The bus is package-private. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
