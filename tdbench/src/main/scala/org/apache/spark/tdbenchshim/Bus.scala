package org.apache.spark
package tdbenchshim

/** Access to the `private[spark]` listener bus, so the benchmark can wait
  * for every queued event before it attributes them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
