package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listeners registered on a context's listener bus, which
  * `SparkContext` keeps `private[spark]`.
  */
object BusListeners {
  def count(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
