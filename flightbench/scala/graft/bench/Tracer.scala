package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One closed interval of the traced run. `kind` is the nesting level:
  * run > phase > op > build | plan | exec > job > stage. */
final case class Span(kind: String, name: String, parent: String,
                      startMs: Double, endMs: Double)

/** Per-op counters gathered from the scheduler's listener bus. */
final class OpCounters {
  val jobs = new AtomicLong
  val eagerJobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val stageWaitMs = new AtomicLong
  val bytesRead = new AtomicLong
  val recordsRead = new AtomicLong
  val bytesWritten = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
}

/** The benchmark's view of the `exec` and `streaming` layers: a
  * SparkListener and a StreamingQueryListener keyed by the op id the
  * load thread puts in the local property [[Tracer.OpKey]] (and the
  * phase in [[Tracer.PhaseKey]]). Spans are kept in memory and written
  * out once, after the run. When `enabled` is false every callback
  * returns at once, so the untraced run pays only for the bus. */
final class Tracer(@volatile var enabled: Boolean) extends SparkListener {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ops = new ConcurrentHashMap[String, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageStarted = ConcurrentHashMap.newKeySet[Int]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  val streamBatches = new AtomicLong
  val streamBatchMs = new AtomicLong

  def counters(op: String): OpCounters = ops.computeIfAbsent(op, _ => new OpCounters)

  // load-thread spans are timed with nanoTime; listener events carry
  // epoch milliseconds: one offset puts both on the epoch clock
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  def span(kind: String, name: String, parent: String, t0Ns: Long, t1Ns: Long): Unit =
    if (enabled) spans.add(Span(kind, name, parent,
      t0Ns / 1e6 + epochOffsetMs, t1Ns / 1e6 + epochOffsetMs))

  private def opOf(props: java.util.Properties): Option[(String, String)] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.OpKey))
      .map(op => op -> Option(p.getProperty(Tracer.PhaseKey)).getOrElse("")))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    opOf(e.properties).foreach { case (op, phase) =>
      val c = counters(op)
      c.jobs.incrementAndGet()
      if (phase == "build") c.eagerJobs.incrementAndGet()
      jobOp.put(e.jobId, op)
      jobStartMs.put(e.jobId, e.time)
      e.stageIds.foreach(id => stageOp.put(id, op))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
    Option(jobOp.remove(e.jobId)).foreach { op =>
      val t0 = Option(jobStartMs.remove(e.jobId)).map(_.doubleValue).getOrElse(Double.NaN)
      spans.add(Span("job", s"job-${e.jobId}", op, t0, e.time.toDouble))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) {
    val id = e.stageInfo.stageId
    opOf(e.properties).foreach { case (op, _) =>
      stageOp.put(id, op)
      counters(op).stages.incrementAndGet()
    }
    stageSubmitMs.put(id, java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = if (enabled) {
    if (stageStarted.add(e.stageId)) {
      val op = stageOp.get(e.stageId)
      val sub = stageSubmitMs.get(e.stageId)
      if (op != null && sub != null)
        counters(op).stageWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - sub))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val op = stageOp.get(e.stageId)
    val m = e.taskMetrics
    if (op != null && m != null) {
      val c = counters(op)
      c.tasks.incrementAndGet()
      c.taskRunMs.addAndGet(m.executorRunTime)
      c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val i = e.stageInfo
    val op = stageOp.get(i.stageId)
    if (op != null)
      spans.add(Span("stage", s"stage-${i.stageId}", op,
        i.submissionTime.map(_.toDouble).getOrElse(Double.NaN),
        i.completionTime.map(_.toDouble).getOrElse(Double.NaN)))
  }

  /** Sum of one counter over the ops whose id starts with `prefix`. */
  def total(prefix: String)(f: OpCounters => AtomicLong): Long =
    ops.asScala.collect { case (k, v) if k.startsWith(prefix) => f(v).get }.sum

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) {
        streamBatches.incrementAndGet()
        val d = e.progress.durationMs.get("triggerExecution")
        if (d != null) streamBatchMs.addAndGet(d.longValue)
      }
  }
}

object Tracer {
  val OpKey = "graft.bench.op"
  val PhaseKey = "graft.bench.phase"
}
