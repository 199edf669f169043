package org.apache.spark

/** Test-only bridge past the `private[spark]` listener bus: waits until
  * every event posted so far has reached the listeners, so a spec can
  * read what a listener saw without sleeping.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
