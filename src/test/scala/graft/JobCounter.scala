package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits (result jobs and the map-stage
  * jobs adaptive execution submits), so a spec can pin a driver-action
  * budget: an added collect, count or eager write then fails a test
  * instead of hiding in wall-time noise.
  */
object JobCounter {
  def apply[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      ListenerBusDrain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
