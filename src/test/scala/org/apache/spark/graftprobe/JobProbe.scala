package org.apache.spark.graftprobe

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-scope count of the Spark jobs a block of code starts. The
  * listener bus delivers events asynchronously, so the count drains it
  * (`waitUntilEmpty` is `private[spark]`) before and after the block. */
object JobProbe {

  /** `body`'s result and the number of jobs started while it ran. */
  def jobsOf[T](sc: SparkContext)(body: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
