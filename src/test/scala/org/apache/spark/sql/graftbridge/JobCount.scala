package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Test-side Spark job counter: a SparkListener counts the jobs `body`
  * starts, and the listener bus (`private[spark]`) is drained before and
  * after, so no event of an earlier action lands in the count and none
  * of `body`'s is missed.
  */
object JobCount {
  def apply(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try { body; sc.listenerBus.waitUntilEmpty(); n.get }
    finally sc.removeSparkListener(listener)
  }
}
