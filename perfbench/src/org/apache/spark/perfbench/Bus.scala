package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run drains
  * it before reading what its listeners recorded. `listenerBus` is
  * `private[spark]`, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
