package aqpbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the engine. `module` is the engine package the call
  * enters (session, sources, sampling, queries, dedup, sinks, compare);
  * `parent` is the span that was open when this one started (0 = root);
  * all spans of one phase execution share `traceId`.
  */
final case class Span(
    id: Int, parent: Int, traceId: Int, module: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder around the benchmark's calls into the engine.
  * Disabled, a span is just the call; enabled, it costs two nanoTime reads
  * and one append. Spans are written out once, when the run ends.
  */
final class Tracer(var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1
  private var trace = 0

  /** Start a new trace: the spans of one phase execution share its id. */
  def newTrace(): Unit = trace += 1

  def apply[T](module: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        spans += Span(id, parent, trace, module, name, t0, t1)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time per span: its duration minus the time its children cover. */
  def selfNs: Map[Int, Long] = {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) child(s.parent) += s.durNs)
    spans.map(s => s.id -> (s.durNs - child(s.id))).toMap
  }

  /** Summed self seconds per key (module, or module.name). */
  def selfSeconds(key: Span => String): Map[String, Double] = {
    val self = selfNs
    spans.groupBy(key).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  def toJson: String =
    spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.traceId},"module":${Json.str(s.module)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[", ",\n", "]")
}

/** Spark execution counters for one bucket (one phase of the workload). */
final class ExecStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var stageCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputRows = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var codegenNs = 0L
}

/** Collects Spark's public listener data (jobs, stages, task metrics) and
  * each finished query's planning phases (`qe.tracker`) into the bucket
  * named by [[current]]. Events arrive on the listener-bus thread, so the
  * driver drains the bus ([[org.apache.spark.AqpBenchBridge.drain]]) before
  * it moves [[current]] to the next bucket.
  */
final class PhaseListener extends SparkListener with QueryExecutionListener {
  @volatile var current: String = "off"
  private val buckets = mutable.Map.empty[String, ExecStats]

  def stats(bucket: String): ExecStats = synchronized(buckets.getOrElseUpdate(bucket, new ExecStats))
  private def cur: ExecStats = stats(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(cur.jobs += 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(cur.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = cur
    s.tasks += 1
    if (e.reason != TaskSuccess) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.stageCpuNs += m.executorCpuTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputRows += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val s = cur
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    s.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
    s.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
    s.planningMs += ms(QueryPlanningTracker.PLANNING)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Drain the bus, then attribute what follows to `bucket`. Codegen
    * compile time is a process-wide counter, so the bucket being left is
    * charged with its growth since the bucket was entered.
    */
  private var codegenMark = 0L
  def enter(spark: SparkSession, bucket: String): Unit = {
    org.apache.spark.AqpBenchBridge.drain(spark.sparkContext)
    val now = CodeGenerator.compileTime
    synchronized(cur.codegenNs += now - codegenMark)
    codegenMark = now
    current = bucket
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    codegenMark = CodeGenerator.compileTime
  }
}

/** Process CPU, stop-the-world GC time and heap peak, from the JVM's
  * management beans.
  */
object Resources {
  private val os =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  /** Collection time of the pausing collectors (G1's young and full GC). */
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .filterNot(_.getName.contains("Concurrent"))
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak occupancy since the last reset, in MB. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** (steal, total) CPU ticks of the host so far, where Linux reports them:
    * the share of time a virtual machine's CPUs were taken by its host,
    * which slows every wall-clock metric of a run.
    */
  def stealTicks: Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
      Some((f(7), f.sum))
    } catch { case _: Exception => None }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = if (java.lang.Double.isFinite(d)) d.toString else "null"

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
