package org.apache.spark

import org.apache.spark.scheduler.SparkListenerInterface
import scala.jdk.CollectionConverters._

/** Test access to the session's listener bus, which Spark keeps
  * package-private. */
object ListenerBusAccess {
  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def listeners(sc: SparkContext): Seq[SparkListenerInterface] =
    sc.listenerBus.listeners.asScala.toSeq
}
