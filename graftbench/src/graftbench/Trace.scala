package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans of one run, kept in memory and written out at the end. Each span
  * has a name, a start and end (ns), a parent and the id of the pass it
  * belongs to. One client thread opens spans, so a stack gives parents. */
final class Tracer {
  @volatile var enabled = false
  var traceId = 0
  private val spans = ArrayBuffer.empty[Array[Any]]
  private val stack = mutable.Stack.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Array(id, parent, traceId, name, System.nanoTime(), 0L)
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans(id)(5) = System.nanoTime()
      }
    }

  def records: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s(0), "parent" -> s(1), "trace" -> s(2), "name" -> s(3),
      "start_ns" -> s(4), "end_ns" -> s(5))
  }
}

/** Task, stage, job and SQL-plan totals per pass, from Spark's public
  * listener events. Counts only while `enabled`; `pass` tags the events
  * it sees. Jobs whose local property `graftbench.phase` is `action`
  * mark their SQL execution as a materializing action, whose final
  * (adaptive) plan is kept for the plan-shape counts. */
final class SparkTotals extends SparkListener {
  @volatile var enabled = false
  @volatile var pass = -1

  final class Acc {
    var jobs, stages, tasks = 0L
    var busyMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, recordsRead = 0L
    val stageTasks = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
    val stageWall = mutable.Map.empty[(Int, Int), Long]
    val actionExecs = mutable.LinkedHashSet.empty[Long]
  }

  private val accs = mutable.Map.empty[Int, Acc]
  private val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val sqlStarted = new AtomicLong
  private val sqlEnded = new AtomicLong

  private def acc: Option[Acc] =
    if (enabled) Some(accs.synchronized(accs.getOrElseUpdate(pass, new Acc))) else None

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    acc.foreach { a =>
      a.synchronized {
        a.jobs += 1
        val props = Option(e.properties)
        val phase = props.flatMap(p => Option(p.getProperty("graftbench.phase")))
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        if (phase.contains("action")) exec.foreach(x => a.actionExecs += x.toLong)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = acc.foreach { a =>
    a.synchronized {
      a.stages += 1
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        a.stageWall((i.stageId, i.attemptNumber())) = c - s
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = acc.foreach { a =>
    a.synchronized {
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.busyMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.recordsRead += m.inputMetrics.recordsRead
      }
      a.stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStarted.incrementAndGet()
      if (enabled) plans.put(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      if (enabled) plans.put(u.executionId, u.sparkPlanInfo)
    case _: SparkListenerSQLExecutionEnd => sqlEnded.incrementAndGet()
    case _ =>
  }

  /** Wait until every job and SQL execution started so far has been seen
    * ending, so all of their events are counted. */
  def awaitQuiet(timeoutMs: Long = 30000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while ((jobsEnded.get < jobsStarted.get || sqlEnded.get < sqlStarted.get) &&
        System.currentTimeMillis() < until) Thread.sleep(2)
  }

  private def countNodes(p: SparkPlanInfo, names: Set[String]): Long =
    (if (names(p.nodeName)) 1L else 0L) + p.children.map(countNodes(_, names)).sum

  def report(pass: Int): Map[String, Any] = {
    val a = accs.synchronized(accs.getOrElse(pass, new Acc))
    a.synchronized {
      val longest = if (a.stageWall.isEmpty) None else Some(a.stageWall.maxBy(_._2)._1)
      val skew = longest.flatMap(a.stageTasks.get).filter(_.nonEmpty).map { ts =>
        val s = ts.sorted
        val med = if (s.size % 2 == 1) s(s.size / 2).toDouble
                  else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
        if (med > 0) s.last / med else 1.0
      }.getOrElse(1.0)
      val finals = a.actionExecs.toSeq.flatMap(x => Option(plans.get(x)))
      def count(names: String*) = finals.map(countNodes(_, names.toSet)).sum
      Map(
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_busy_ms" -> a.busyMs, "task_cpu_ms" -> a.cpuNs / 1e6,
        "gc_ms" -> a.gcMs, "skew" -> skew,
        "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
        "spill_bytes" -> a.spill, "records_read" -> a.recordsRead,
        "action_plans" -> finals.size,
        "exchanges" -> count("Exchange", "BroadcastExchange"),
        "sorts" -> count("Sort"),
        "windows" -> count("Window"))
    }
  }
}

/** Per-query streaming progress. Registered in every run of a streaming
  * workload: the micro-batch latency (`triggerExecution`) is an end-to-end
  * metric there. `QueryStartedEvent` is delivered before `start()` returns,
  * so the label and pass current at that moment name the query. */
final class StreamLog extends StreamingQueryListener {
  @volatile var pass = -1
  @volatile var label = ""

  final class Query(val id: String, val label: String, val pass: Int,
      val startedNs: Long, val startedMs: Long) {
    val progress = ArrayBuffer.empty[Map[String, Any]]
    @volatile var terminatedNs = 0L
  }

  private val queries = new ConcurrentHashMap[java.util.UUID, Query]()
  private val order = new java.util.concurrent.ConcurrentLinkedQueue[Query]()
  private val started = new AtomicLong
  private val ended = new AtomicLong

  private def epochMs(iso: String): Long =
    try java.time.Instant.parse(iso).toEpochMilli catch { case _: Throwable => 0L }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    val q = new Query(e.id.toString, label, pass, System.nanoTime(), epochMs(e.timestamp))
    queries.put(e.id, q)
    order.add(q)
    started.incrementAndGet()
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    Option(queries.get(p.id)).foreach { q =>
      val ops = p.stateOperators.toSeq
      q.synchronized {
        q.progress += Map(
          "batch" -> p.batchId,
          "ts_ms" -> epochMs(p.timestamp),
          "seen_ns" -> System.nanoTime(),
          "rows" -> p.numInputRows,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum,
          "state_removal_ms" -> ops.map(_.allRemovalsTimeMs).sum,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
          "late_rows_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum,
          "state_bytes" -> ops.map(_.memoryUsedBytes).sum)
      }
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    Option(queries.get(e.id)).foreach(_.terminatedNs = System.nanoTime())
    ended.incrementAndGet()
  }

  /** Wait until every started query has been seen terminating; its
    * progress events are delivered before that. */
  def awaitQuiet(timeoutMs: Long = 30000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (ended.get < started.get && System.currentTimeMillis() < until) Thread.sleep(2)
  }

  def records: Seq[Map[String, Any]] = order.asScala.toSeq.map { q =>
    q.synchronized {
      Map("id" -> q.id, "label" -> q.label, "pass" -> q.pass,
        "started_ns" -> q.startedNs, "started_ms" -> q.startedMs,
        "terminated_ns" -> q.terminatedNs, "progress" -> q.progress.toSeq)
    }
  }
}
