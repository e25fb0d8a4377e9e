package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. `op` is shared by every span of one repetition or one
  * micro-batch; `parent` is the id of the enclosing span (0 for a root). */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double, parent: Long, op: String)

/** Engine figures of one timed action, read from listener events. */
final case class EngineStats(planMs: Double, jobs: Int, jobsUnfinished: Int, tasks: Int,
    taskBusyMs: Double, shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    gcMs: Double, taskSkew: Double, inputBytes: Long)

/** The traced run's recorder. It keeps spans in memory and listens to
  * Spark's public listener interfaces: `SparkListener` for jobs, stages and
  * tasks, `QueryExecutionListener` for the planning phases of
  * `QueryExecution.tracker`, and `StreamingQueryListener` for micro-batch
  * progress. Nothing in the program under test is changed. */
final class Recorder(spark: SparkSession) {
  import Recorder.{Stage, Task}

  private val originNs = System.nanoTime()
  private val originWallMs = System.currentTimeMillis()
  private var nextId = 0L
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  def wallToMs(epochMs: Long): Double = (epochMs - originWallMs).toDouble

  def newId(): Long = synchronized { nextId += 1; nextId }

  def record(name: String, startMs: Double, endMs: Double, parent: Long, op: String,
      id: Long = newId()): Long = {
    spans.add(Span(id, name, startMs, endMs, parent, op))
    id
  }

  // ---- listener state ------------------------------------------------------

  private final class Job(val startMs: Long, val sqlId: String) { @volatile var endMs: Long = -1L }

  private val callbackNs = new java.util.concurrent.atomic.AtomicLong()
  /** Time spent inside this recorder's listener callbacks. */
  def callbackMs: Double = callbackNs.get / 1e6
  private def timedCallback(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val planMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedCallback {
      // `properties` may be null for jobs submitted without local properties.
      val sqlId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .getOrElse("-")
      jobs.put(e.jobId, new Job(e.time, sqlId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedCallback {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timedCallback {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stages.add(Stage(i.stageId, c - s))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedCallback {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.taskInfo.duration, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timedCallback {
      val p = qe.tracker.phases
      planMs.add(Seq("analysis", "optimization", "planning").flatMap(p.get).map(_.durationMs).sum.toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timedCallback(progress.add(e.progress))
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = ListenerBus.drain(spark.sparkContext)

  private def gcMsNow: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Runs one timed action and returns its engine figures. The listener bus
    * is drained before and after, so the events read are exactly those of
    * this action; a job with no end event is counted as unfinished, never
    * given a duration. Jobs become child spans of `parent`. */
  def measure(parent: Long, op: String)(action: => Unit): EngineStats = {
    drain()
    tasks.clear(); jobs.clear(); stages.clear(); planMs.clear()
    val gc0 = gcMsNow
    action
    drain()
    val gc = gcMsNow - gc0
    val js = jobs.asScala.toSeq.sortBy(_._1)
    js.foreach { case (id, j) =>
      if (j.endMs >= 0) record(s"job-$id/sql-${j.sqlId}", wallToMs(j.startMs), wallToMs(j.endMs), parent, op)
    }
    val ts = tasks.asScala.toSeq
    val longest = stages.asScala.toSeq.sortBy(-_.durationMs).headOption
    val skew = longest.map { s =>
      val d = ts.filter(_.stageId == s.id).map(_.durationMs.toDouble)
      if (d.isEmpty || Stats.median(d) <= 0) 1.0 else d.max / Stats.median(d)
    }.getOrElse(1.0)
    EngineStats(
      planMs = planMs.asScala.map(_.doubleValue).sum,
      jobs = js.size,
      jobsUnfinished = js.count(_._2.endMs < 0),
      tasks = ts.size,
      taskBusyMs = ts.map(_.runMs.toDouble).sum,
      shuffleWriteBytes = ts.map(_.shuffleWrite).sum,
      shuffleReadBytes = ts.map(_.shuffleRead).sum,
      spillBytes = ts.map(_.spill).sum,
      gcMs = gc,
      taskSkew = skew,
      inputBytes = ts.map(_.input).sum)
  }

  def writeSpans(file: File): Unit = {
    val ordered = spans.asScala.toSeq.sortBy(s => (s.startMs, s.id))
    Gen.writeLines(file, ordered.iterator.map { s =>
      f"""{"id": ${s.id}, "name": "${s.name}", "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, """ +
        s""""parent": ${s.parent}, "op": "${s.op}"}"""
    })
  }

  def spanCount: Int = spans.size
}

object Recorder {
  private final case class Task(stageId: Int, durationMs: Long, runMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, input: Long)
  private final case class Stage(id: Int, durationMs: Long)

  /** Median of each engine figure over several timed actions. */
  def medianOf(xs: Seq[EngineStats]): Map[String, Double] = {
    def m(f: EngineStats => Double) = Stats.median(xs.map(f))
    Map(
      "engine.plan_ms" -> m(_.planMs),
      "engine.jobs" -> m(_.jobs.toDouble),
      "engine.jobs_unfinished" -> xs.map(_.jobsUnfinished).sum.toDouble,
      "engine.tasks" -> m(_.tasks.toDouble),
      "engine.shuffle_write_bytes" -> m(_.shuffleWriteBytes.toDouble),
      "engine.shuffle_read_bytes" -> m(_.shuffleReadBytes.toDouble),
      "engine.spill_bytes" -> m(_.spillBytes.toDouble),
      "engine.gc_ms" -> m(_.gcMs),
      "engine.task_skew" -> m(_.taskSkew))
  }
}
