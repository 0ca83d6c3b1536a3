package org.apache.spark

/** Specs that count jobs through a listener or read the status tracker
  * must first let the asynchronous listener bus deliver every event
  * already posted; the bus itself is private to Spark.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
