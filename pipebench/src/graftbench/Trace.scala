package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one traced span, filled by the listeners while it is open. */
final class Acc {
  var jobs = 0
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // job start/end, ms
  val jobsByClass = mutable.Map.empty[String, Int].withDefaultValue(0)
  val taskMsByClass = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var tasks = 0L
  var taskMs = 0L
  /** Run time of tasks that wrote files: a layer's write path. */
  var writeTaskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inBytes = 0L
  var inRows = 0L
  var outBytes = 0L
  var planMs = 0.0
  var exchanges = 0
  var filesOpened = 0L
}

/** One op span: `kind` groups spans for the per-layer medians. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      startNs: Long, endNs: Long, acc: Acc) {
  def ms: Double = (endNs - startNs) / 1e6
  /** Wall time of the span not covered by any Spark job: driver work. */
  def gapMs: Double = {
    val wallMs = ms
    val iv = acc.jobSpans.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    math.max(0.0, wallMs - covered)
  }
}

/** Spans and listener counts of a traced run, kept in memory.
  *
  * Every call into a graft layer runs inside [[span]]. With tracing on,
  * a SparkListener, a QueryExecutionListener and a StreamingQueryListener
  * charge what they observe to the innermost open span; the span drains
  * the listener bus before it closes, so each op's jobs land in its own
  * counters. Jobs and tasks are attributed to every graft class on the
  * stage's call-site stack. With tracing off, [[span]] only runs its
  * body. */
final class Trace(spark: SparkSession, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val progress = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var nextId = 0
  private val stack = mutable.Stack.empty[(Int, Acc)]
  @volatile private var open: Acc = null
  private val classOfStage = mutable.Map.empty[Int, Set[String]]
  private val jobStarts = mutable.Map.empty[Int, (Acc, Long)]

  private object Plans extends AdaptiveSparkPlanHelper

  /** The graft classes on a stage's call-site stack, as `package.Class`:
    * a job counts towards every graft class it was launched through. */
  private def graftClasses(details: String): Set[String] =
    details.linesIterator.map(_.trim)
      .filter(_.startsWith("graft."))
      .map(_.takeWhile(_ != '(').split('.').dropRight(1).mkString(".").replaceAll("\\$.*", ""))
      .toSet

  if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = Trace.this.synchronized {
        val cls = js.stageInfos.flatMap(si => graftClasses(si.details)).toSet
        js.stageIds.foreach(classOfStage(_) = cls)
        val a = open
        if (a != null) {
          a.jobs += 1
          cls.foreach(a.jobsByClass(_) += 1)
          jobStarts(js.jobId) = (a, js.time)
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = Trace.this.synchronized {
        jobStarts.remove(je.jobId).foreach { case (a, t0) => a.jobSpans += ((t0, je.time)) }
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
        val a = open
        val m = te.taskMetrics
        if (a != null && m != null) {
          a.tasks += 1
          a.taskMs += m.executorRunTime
          classOfStage.getOrElse(te.stageId, Set.empty[String])
            .foreach(a.taskMsByClass(_) += m.executorRunTime)
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inBytes += m.inputMetrics.bytesRead
          a.inRows += m.inputMetrics.recordsRead
          a.outBytes += m.outputMetrics.bytesWritten
          if (m.outputMetrics.bytesWritten > 0) a.writeTaskMs += m.executorRunTime
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) Trace.this.synchronized {
          import scala.jdk.CollectionConverters._
          progress += (e.progress.durationMs.asScala.map { case (k, v) =>
            k -> v.doubleValue }.toMap + ("numInputRows" -> e.progress.numInputRows.toDouble))
        }
    })
  }

  private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
    val a = open
    if (a != null) {
      val ph = qe.tracker.phases
      a.planMs += Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs.toDouble).sum
      val plan: SparkPlan = qe.executedPlan
      a.exchanges += Plans.collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
      a.filesOpened += Plans.collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case b: BatchScanExec => b.inputPartitions.flatMap {
          case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
          case _ => Nil
        }.distinct.size.toLong
      }.sum
    }
  }

  /** Run `body` as a span of `kind`. Nested spans charge the innermost. */
  def span[T](name: String, kind: String)(body: => T): T =
    if (!on) body
    else {
      val acc = new Acc
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack.push(id -> acc)
      synchronized { open = acc }
      val t0 = System.nanoTime()
      try body
      finally {
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        val t1 = System.nanoTime()
        stack.pop()
        synchronized { open = stack.headOption.map(_._2).orNull }
        spans += Span(id, parent, name, kind, t0, t1, acc)
      }
    }

  /** Start of the measured phase: forget what set-up left behind. */
  def mark(): Unit = if (on) {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    synchronized { progress.clear() }
  }

  def of(kind: String): Seq[Span] = spans.filter(_.kind == kind).toSeq

  def toJson: String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val sp = spans.map { s =>
      val a = s.acc
      s"""{"id":${s.id},"parent":${s.parent},"name":"${esc(s.name)}","kind":"${s.kind}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${a.jobs},"tasks":${a.tasks},""" +
        s""""task_ms":${a.taskMs},"gap_ms":${s.gapMs},"plan_ms":${a.planMs},""" +
        s""""jobs_by_class":{${a.jobsByClass.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}"""
    }
    s"""{"spans":[${sp.mkString(",\n")}]}"""
  }
}
