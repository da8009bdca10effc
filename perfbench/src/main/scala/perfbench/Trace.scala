package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative counters fed by Spark's scheduler and streaming
  * listeners. Registered only in the traced run: the untraced run that
  * gives the end-to-end metrics carries no listener of its own.
  */
final class Counters(sc: SparkContext) extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, inRows, inBytes = 0L
  private var shufWrite, shufRead, spill = 0L
  private val jobStart = collection.mutable.Map[Int, Long]()
  // closed job intervals in epoch ms, in completion order
  private val jobSpans = ArrayBuffer[(Long, Long)]()
  // one entry per streaming progress: (trigger ms, state memory bytes)
  private val progress = ArrayBuffer[(Long, Long)]()
  private var batches, streamRows, commitMs = 0L
  // latest total state rows per streaming run: a run's final progress
  // carries the rows it left in the state store
  private val stateRows = collection.mutable.LinkedHashMap[String, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime
      inRows += m.inputMetrics.recordsRead; inBytes += m.inputMetrics.bytesRead
      shufWrite += m.shuffleWriteMetrics.bytesWritten
      shufRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Counters.this.synchronized {
        val p = e.progress
        val ops = p.stateOperators.toSeq
        batches += 1
        streamRows += p.numInputRows
        commitMs += ops.map(_.commitTimeMs).sum
        stateRows(p.runId.toString) = ops.map(_.numRowsTotal).sum
        val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        progress += ((trigger, ops.map(_.memoryUsedBytes).sum))
      }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** A consistent snapshot after the listener bus has drained. */
  def snapshot(): Snap = {
    org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(sc, 60000L)
    synchronized {
      Snap(Map(
        "sched.jobs" -> jobs, "sched.stages" -> stages, "sched.tasks" -> tasks,
        "exec.run_ms" -> runMs, "jvm.task_cpu_ns" -> cpuNs, "jvm.gc_ms" -> gcMs(),
        "sources.input_rows" -> inRows, "sources.input_bytes" -> inBytes,
        "shuffle.write_bytes" -> shufWrite, "shuffle.read_bytes" -> shufRead,
        "shuffle.spill_bytes" -> spill,
        "stream.batches" -> batches, "stream.input_rows" -> streamRows,
        "stream.state_rows" -> stateRows.values.sum, "stream.state_commit_ms" -> commitMs),
        jobSpans.length, progress.length)
    }
  }

  def jobIntervals(from: Int, until: Int): Seq[(Long, Long)] =
    synchronized(jobSpans.slice(from, until).toSeq)
  def progressSlice(from: Int, until: Int): Seq[(Long, Long)] =
    synchronized(progress.slice(from, until).toSeq)
}

/** Counter values at one instant; `jobsClosed`/`progresses` index the
  * interval and progress logs so a span can slice its own entries.
  */
final case class Snap(values: Map[String, Long], jobsClosed: Int, progresses: Int) {
  def minus(o: Snap): Map[String, Long] = values.map { case (k, v) => k -> (v - o.values(k)) }
}

/** One span: a layer boundary crossed by the benchmark's own code. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, c0: Snap, c1: Snap) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans (run → workload → pass → call → build/plan/exec) with
  * the counters at each boundary, in memory, written out at the end.
  * Disabled, it only runs the body.
  */
final class Tracer(counters: Option[Counters]) {
  val spans = ArrayBuffer[Span]()
  private var stack = List(0)
  private var nextId = 1

  def span[T](layer: String, name: String)(body: => T): T = counters match {
    case None => body
    case Some(c) =>
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val c0 = c.snapshot(); val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime(); val ms1 = System.currentTimeMillis(); val c1 = c.snapshot()
        stack = stack.tail
        spans += Span(id, parent, layer, name, t0, t1, ms0, ms1, c0, c1)
      }
  }
}
