package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkTestBase

/** Counts the Spark jobs a piece of work starts, for specs that pin how
  * many jobs an operation costs. */
trait JobCounting { self: SparkTestBase =>

  /** Jobs started while `body` ran, counted by a SparkListener. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusDrain.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }
}
