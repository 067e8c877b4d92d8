package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for the traced run: a stack of open spans on
  * the single client thread. Spans are kept until the run ends. */
final class Tracer(val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private var next = 0

  /** Id of the innermost open span, or -1. */
  def current: Int = if (open.isEmpty) -1 else open.top._1

  def span[T](name: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = current
    open.push((id, name, System.nanoTime()))
    try body
    finally {
      val (_, _, t0) = open.pop()
      spans += Span(id, parent, name, t0, System.nanoTime())
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** The span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val covered = children(s).map(c => (c.start max s.start,
      c.end min s.end)).sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, reach), (a, b)) =>
        val from = a max reach
        (if (b > from) sum + (b - from) else sum, reach max b)
    }._1
    (s.end - s.start - covered) / 1e9
  }
}

/** Spark execution counters. Each job is tagged with the span and phase
  * (`stage`, `build`, `plan` or `exec`) named by the job group the client
  * set when the job started; a job under another group (a stream's
  * micro-batch thread sets its own) counts as `stream`, under the span the
  * client had open. Task metrics are summed over everything. */
final class ExecListener(runId: String) extends SparkListener {
  @volatile var spanId: Int = -1
  val jobsByPhase = new java.util.concurrent.ConcurrentHashMap[String,
    AtomicLong]()
  /** (job id, job group, span id, phase) in start order. */
  val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[
    (Int, String, Int, String)]()
  val stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, output, input =
    new AtomicLong

  def reset(): Unit = {
    jobsByPhase.clear()
    jobLog.clear()
    Seq(stages, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite,
      spill, output, input).foreach(_.set(0))
  }

  def jobs(phase: String): Long =
    Option(jobsByPhase.get(phase)).map(_.get).getOrElse(0L)

  def allJobs: Long = {
    import scala.jdk.CollectionConverters._
    jobsByPhase.values.asScala.map(_.get).sum
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val (span, ph) = group.split("/") match {
      case Array(`runId`, id, p) => (id.toInt, p)
      case _ => (spanId, "stream")
    }
    jobsByPhase.computeIfAbsent(ph, _ => new AtomicLong).incrementAndGet()
    jobLog.add((e.jobId, group, span, ph))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      output.addAndGet(m.outputMetrics.bytesWritten)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
  }
}

/** Micro-batch progress of the `graft.streaming` replays. */
final class StreamListener extends StreamingQueryListener {
  val started = new AtomicLong
  val batches = new AtomicLong
  val triggerMs, addBatchMs, planningMs, logMs = new AtomicLong
  /** Last reported state size per query run: (rows, bytes). */
  val state = new java.util.concurrent.ConcurrentHashMap[String,
    (Long, Long)]()

  def reset(): Unit = {
    Seq(batches, triggerMs, addBatchMs, planningMs, logMs).foreach(_.set(0))
    state.clear()
  }

  def stateTotals: (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val vs = state.values.asScala
    (vs.map(_._1).sum, vs.map(_._2).sum)
  }

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit =
    started.incrementAndGet()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batches.incrementAndGet()
    triggerMs.addAndGet(d("triggerExecution"))
    addBatchMs.addAndGet(d("addBatch"))
    planningMs.addAndGet(d("queryPlanning"))
    logMs.addAndGet(d("walCommit") + d("commitOffsets"))
    val ops = p.stateOperators
    state.put(p.runId.toString, (ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum))
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Counts whole-stage-codegen fallbacks: Janino's "grows beyond 64 KB"
  * compile failures, as logged by Spark's code generator. */
final class CodegenFallbacks extends AbstractAppender("perfbench-codegen",
    null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong

  override def append(e: LogEvent): Unit = {
    val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
    val thrown = Option(e.getThrown).map(_.toString).getOrElse("")
    if ((msg + thrown).contains("grows beyond 64 KB")) count.incrementAndGet()
  }

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    start()
    ctx.getConfiguration.addAppender(this)
    ctx.getConfiguration.getRootLogger.addAppender(this, null, null)
    ctx.updateLoggers()
  }
}
