package org.apache.spark

import scala.jdk.CollectionConverters._

/** Test access to the listener bus, whose listener list is `private[spark]`. */
object ListenerBusPeek {
  def listenerClasses(sc: SparkContext): Seq[String] =
    sc.listenerBus.listeners.asScala.map(_.getClass.getName).toSeq
}
