package org.apache.spark

/** Specs that count jobs with a SparkListener read the counts only
  * after the asynchronous listener bus has delivered every event
  * posted so far; the drain is `private[spark]`, so it is re-exported
  * from inside the namespace. */
object ListenerSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
