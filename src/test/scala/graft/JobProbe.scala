package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs one thread launches while a body runs. */
object JobProbe {
  private val ProbeKey = "graft.test.jobProbe"

  /** `body`'s result and the Spark jobs this thread launched while it
    * ran. Jobs carry the submitting thread's local properties, so a
    * fresh probe value tells them apart from other threads' jobs; the
    * listener bus is drained before the count is read. */
  def jobsOf[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val probe = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(ProbeKey) == probe) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(ProbeKey, probe)
    try {
      val a = body
      ListenerBusDrain(sc)
      (a, n.get)
    } finally {
      sc.setLocalProperty(ProbeKey, null)
      sc.removeSparkListener(listener)
    }
  }
}
