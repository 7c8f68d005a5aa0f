package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the enclosing span
  * (0 at the root), `op` the operation the span belongs to. Times are
  * `System.nanoTime`; `startMs`/`endMs` are wall-clock millis, the clock
  * Spark stamps its job events with. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, start: Long, end: Long, startMs: Long, endMs: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder for the single client thread. Disabled, it only
  * runs the body; enabled, it keeps every span until [[spans]] is read at
  * the end of the run. */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var lastId = 0
  private var opId = 0

  /** Starts a new operation: the root span of the next `apply` gets a
    * fresh operation id, and so do its children. */
  def op[A](name: String)(body: => A): A = { opId += 1; apply("client", name)(body) }

  def apply[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      lastId += 1
      val id = lastId
      val parent = stack.headOption.getOrElse(0)
      val (t0, w0) = (System.nanoTime(), System.currentTimeMillis())
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, opId, layer, name, t0, System.nanoTime(),
          w0, System.currentTimeMillis())
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Tracer {
  /** Self time per layer: each span's duration minus the time its direct
    * children cover (children of one span never overlap: one client
    * thread). */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    spans.groupBy(_.layer).view
      .mapValues(_.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum).toMap
  }

  /** Total length of the union of `[start, end]` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, hi), (a, b)) =>
      if (b <= hi) (sum, hi)
      else (sum + b - math.max(a, hi), b)
    }._1
}

/** Scheduler and streaming counters, registered on the SparkContext only in
  * the traced run. Streaming progress arrives here too: every
  * `StreamingQueryListener` event is posted to the context's listener bus,
  * whichever cloned session started the query. */
final class LayerStats extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)
  private val jobStart = mutable.Map.empty[Int, Long]
  var stages, tasks, failedTasks = 0L
  var cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var inputBytes, inputRows = 0L
  /** stage id -> (duration ms, task durations ms) */
  val stageTimes = mutable.Map.empty[Int, (Long, mutable.ArrayBuffer[Long])]
  /** Stage ids in completion order. */
  val completed = mutable.ArrayBuffer.empty[Int]
  val progress = mutable.ArrayBuffer.empty[
    org.apache.spark.sql.streaming.StreamingQueryProgress]
  var queriesStarted = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobs += ((t0, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += 1
    val dur = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
    val prev = stageTimes.getOrElse(i.stageId, (0L, mutable.ArrayBuffer.empty[Long]))
    stageTimes(i.stageId) = (math.max(prev._1, dur), prev._2)
    completed += i.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != Success) failedTasks += 1
    stageTimes.getOrElseUpdate(e.stageId, (0L, mutable.ArrayBuffer.empty[Long]))
      ._2 += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      inputRows += m.inputMetrics.recordsRead
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized { progress += p.progress }
    case _: StreamingQueryListener.QueryStartedEvent => synchronized { queriesStarted += 1 }
    case _ =>
  }

  /** Max over median task time in the slowest of the stages completed
    * after the first `from`. */
  def taskSkew(from: Int): Double = synchronized {
    val withTasks = completed.drop(from).distinct.map(stageTimes).filter(_._2.nonEmpty)
    if (withTasks.isEmpty) 0.0
    else {
      val ts = withTasks.maxBy(_._1)._2.sorted
      val med = math.max(ts(ts.size / 2), 1L)
      ts.last.toDouble / med
    }
  }
}

/** Catalyst phase times (analysis, optimization, physical planning) of every
  * query execution in every session. Spark instantiates one listener per
  * session from `spark.sql.queryExecutionListeners`, so the totals live in
  * the companion. */
final class PlanTimes extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanTimes.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    PlanTimes.add(qe)
}

object PlanTimes {
  private var ms = 0L
  private def add(qe: QueryExecution): Unit = synchronized {
    ms += qe.tracker.phases.values.map(_.durationMs).sum
  }
  def totalMs: Long = synchronized(ms)
}
