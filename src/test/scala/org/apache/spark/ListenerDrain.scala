package org.apache.spark

/** Test access to the listener bus: after `drain`, every event posted so far
  * (job starts included) has reached every registered listener.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
