package org.apache.spark

/** Test access to the package-private listener bus: a spec that counts
  * listener events drains the bus first, so every event of the work it
  * measured has been delivered. Lives under `org.apache.spark` purely
  * for access; contains no Spark code. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
