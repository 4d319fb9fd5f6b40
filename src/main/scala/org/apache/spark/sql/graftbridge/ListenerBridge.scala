package org.apache.spark.sql.graftbridge

import java.util.concurrent.TimeoutException

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Bridges the private[spark] listener bus: draining it for tests that
  * assert on task metrics (e.g. shuffle bytes), where without it the
  * last stage's metrics race the assertion, and the streaming listener
  * bus each session adds to it on its first stream.
  */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Take `spark`'s streaming listener bus off its SparkContext's bus,
    * where Spark leaves it for the life of the JVM. The events already
    * posted (a stopped stream's last progress and its termination) are
    * delivered first; if the bus does not drain in time, `spark`'s bus
    * stays rather than lose them.
    */
  def dropStreamingBus(spark: SparkSession): Unit = {
    val live = spark.sparkContext.listenerBus
    val field = classOf[classic.StreamingQueryManager].getDeclaredField("listenerBus")
    field.setAccessible(true)
    val bus = field.get(spark.streams).asInstanceOf[SparkListenerInterface]
    try {
      live.waitUntilEmpty(10000)
      live.removeListener(bus)
    } catch { case _: TimeoutException => () }
  }

  /** The streaming listener buses on `sc`'s bus: one per session that
    * has started a stream and still holds its bus there.
    */
  def streamingBuses(sc: SparkContext): Int =
    sc.listenerBus.listeners.asScala.count(_.isInstanceOf[StreamingQueryListenerBus])
}
