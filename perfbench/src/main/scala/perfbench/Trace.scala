package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of Spark's execution layer, fed by one listener.
  *
  * Shuffle bytes and cached-block bytes are end-to-end metrics and are
  * always counted. The rest (jobs, stages, tasks, waits, spills, scans,
  * cache fills) is counted only when `detailed` is set, in the traced
  * run. Listener callbacks arrive on Spark's single listener-bus
  * thread; readers call [[snapshot]] after draining the bus.
  */
final class ExecCounters(detailed: Boolean) extends SparkListener {
  private var shuffleBytes = 0L
  private var jobs = 0L
  private var stages = 0L
  private var tasks = 0L
  private var taskFailures = 0L
  private var taskNs = 0L
  private var maxTaskNs = 0L
  private var schedWaitNs = 0L
  private var gcNs = 0L
  private var spillBytes = 0L
  private var inputBytes = 0L
  private var inputRecords = 0L
  private var fillBytes = 0L
  private var fills = 0L
  private val blocks = mutable.HashMap.empty[String, (Int, Long)] // block -> (rdd, bytes)
  private var cachedBytes = 0L
  private var peakCachedBytes = 0L
  private val stageSubmitMs = mutable.HashMap.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    if (detailed)
      stageSubmitMs((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages += 1
    stageSubmitMs.remove((si.stageId, si.attemptNumber()))
    if (si.taskMetrics != null)
      shuffleBytes += si.taskMetrics.shuffleWriteMetrics.bytesWritten
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (detailed) synchronized {
    val ti = e.taskInfo
    tasks += 1
    if (e.reason != org.apache.spark.Success) taskFailures += 1
    if (ti != null && ti.finished) {
      val d = ti.duration * 1000000L
      taskNs += d
      maxTaskNs = math.max(maxTaskNs, d)
      stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { s =>
        schedWaitNs += math.max(0L, ti.launchTime - s) * 1000000L
      }
    }
    val m = e.taskMetrics
    if (m != null) {
      gcNs += m.jvmGCTime * 1000000L
      spillBytes += m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val key = info.blockId.name
      val size = info.memSize + info.diskSize
      val before = blocks.get(key).map(_._2).getOrElse(0L)
      if (size > 0) blocks(key) = (id.rddId, size) else blocks.remove(key)
      if (before == 0 && size > 0) { fills += 1; fillBytes += size }
      cachedBytes += size - before
      peakCachedBytes = math.max(peakCachedBytes, cachedBytes)
    }
  }

  // Executors drop an unpersisted RDD's blocks without reporting each
  // block, so the RDD-level event is what frees them here.
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blocks.collect { case (k, (rdd, size)) if rdd == e.rddId => (k, size) }
    gone.foreach { case (k, size) => blocks.remove(k); cachedBytes -= size }
  }

  /** Starts a new window for the cache peak (at the bytes cached now)
    * and the longest task.
    */
  def startWindow(): Unit = synchronized {
    peakCachedBytes = cachedBytes
    maxTaskNs = 0L
  }

  def snapshot(): ExecCounters.Snapshot = synchronized {
    ExecCounters.Snapshot(shuffleBytes, jobs, stages, tasks, taskFailures, taskNs, maxTaskNs,
      schedWaitNs, gcNs, spillBytes, inputBytes, inputRecords, fillBytes, fills,
      peakCachedBytes)
  }
}

object ExecCounters {
  final case class Snapshot(
      shuffleBytes: Long, jobs: Long, stages: Long, tasks: Long, taskFailures: Long,
      taskNs: Long, maxTaskNs: Long, schedWaitNs: Long, gcNs: Long, spillBytes: Long,
      inputBytes: Long, inputRecords: Long, fillBytes: Long, fills: Long,
      peakCachedBytes: Long) {
    /** Counts accrued since `b`; the max task and the cache peak are
      * window values and are kept as read.
      */
    def -(b: Snapshot): Snapshot = Snapshot(
      shuffleBytes - b.shuffleBytes, jobs - b.jobs, stages - b.stages, tasks - b.tasks,
      taskFailures - b.taskFailures, taskNs - b.taskNs, maxTaskNs, schedWaitNs - b.schedWaitNs,
      gcNs - b.gcNs, spillBytes - b.spillBytes, inputBytes - b.inputBytes,
      inputRecords - b.inputRecords, fillBytes - b.fillBytes, fills - b.fills,
      peakCachedBytes)
  }
}

/** Catalyst's phase times for every query Spark plans: the actions the
  * program runs itself (through this listener) plus the benchmark's own
  * `toRdd` executions (through [[add]]).
  */
final class PhaseTimes extends QueryExecutionListener {
  private val ms = mutable.HashMap.empty[String, Long]

  def add(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      ms(phase) = ms.getOrElse(phase, 0L) + s.durationMs
    }
  }

  def seconds(phase: String): Double = synchronized { ms.getOrElse(phase, 0L) / 1e3 }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add(qe)
}

/** Whole-stage code generation, read from Spark's JVM-wide counters. */
object Codegen {
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  def compileNs: Long = CodeGenerator.compileTime

  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Spans kept in memory and written as one JSON document at exit. A
  * span's `parent` is the span that caused it (0 for none); spans of
  * one operation share its root span as parent.
  */
final class Tracer(enabled: Boolean) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong

  /** An id for a span recorded later with [[recordAs]], which its
    * children can name as their parent meanwhile.
    */
  def reserve(): Long = ids.incrementAndGet()

  def recordAs(id: Long, parent: Long, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized { spans += Span(id, parent, name, startNs, endNs) }

  def record(parent: Long, name: String, startNs: Long, endNs: Long): Long = {
    val id = reserve()
    recordAs(id, parent, name, startNs, endNs)
    id
  }

  def span[A](name: String, parent: Long)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally record(parent, name, t0, System.nanoTime())
  }

  def toJson(originNs: Long): String = synchronized {
    spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_s":${(s.startNs - originNs) / 1e9},"end_s":${(s.endNs - originNs) / 1e9}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)
}

/** Attaches the counters to a session's context. */
object Probes {
  def attach(spark: SparkSession, detailed: Boolean): (ExecCounters, PhaseTimes) = {
    val exec = new ExecCounters(detailed)
    spark.sparkContext.addSparkListener(exec)
    val phases = new PhaseTimes
    if (detailed) spark.listenerManager.register(phases)
    (exec, phases)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN) "null" else if (d.isInfinite) (if (d > 0) "1e308" else "-1e308") else d.toString
}
