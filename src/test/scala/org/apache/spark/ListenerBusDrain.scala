package org.apache.spark

/** Test hook: wait until the context's listener bus has delivered every
  * posted event, so listener-fed state (the status tracker's job list) is
  * current. The bus is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
