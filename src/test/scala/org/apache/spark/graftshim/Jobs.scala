package org.apache.spark.graftshim

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts from the calling thread (and the
  * threads it starts, which inherit Spark's local properties). The
  * listener bus delivers events asynchronously; its drain is
  * `private[spark]`, hence this package. */
object Jobs {
  private val Tag = "graft.test.jobs"
  private val seq = new AtomicInteger()

  def count[A](sc: SparkContext)(body: => A): (A, Int) = {
    val tag = s"count-${seq.incrementAndGet()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(Tag) == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val prior = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, n.get)
    } finally {
      sc.setLocalProperty(Tag, prior)
      sc.removeSparkListener(listener)
    }
  }
}
