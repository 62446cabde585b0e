package org.apache.spark

/** Lets a spec wait until every listener event posted so far has been
  * delivered, so a job counter is complete when read. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
