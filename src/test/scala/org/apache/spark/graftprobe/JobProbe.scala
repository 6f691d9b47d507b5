package org.apache.spark.graftprobe

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-scope count of the Spark jobs a block of code starts. The
  * listener bus delivers events asynchronously, so the count drains it
  * (`waitUntilEmpty` is `private[spark]`) before and after the block. */
object JobProbe {

  /** `body`'s result and the number of jobs started while it ran. */
  def jobsOf[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, jobs) = jobStartsOf(sc)(body)
    (out, jobs.size)
  }

  /** `body`'s result and the start events of the jobs it ran. */
  def jobStartsOf[T](sc: SparkContext)(body: => T)
      : (T, Seq[SparkListenerJobStart]) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.add(js); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Spark's distributed file listing (`InMemoryFileIndex` over 32 or
    * more paths), recognized by the job description it sets. */
  def isListing(js: SparkListenerJobStart): Boolean =
    Option(js.properties)
      .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION)))
      .exists(_.startsWith("Listing leaf files"))
}
