package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The one measurement path of the timing tools ([[graft.Bench]],
  * [[ScaleProbe]], [[Profile]]): a timed trial of one query and a stage
  * recorder around any body of work.
  */
object Measure {

  /** One timed run. `cpuS` is process CPU, `None` where the JVM has no
    * HotSpot OS bean or reports -1 (ADVICE r8: the field is omitted there
    * rather than crashing the caller). `gcS` is stop-the-world collection
    * time summed over every collector: a CPU reading that rises together
    * with it points at heap pressure, not the plan (VERDICT r13 item 4).
    * `codegenS` is Janino compile time and `classesCompiled` the number of
    * generated classes compiled, both read from Spark's JVM-global codegen
    * counters: a class served from the codegen cache adds to neither, so a
    * warm run of a resident plan reads 0. In local mode the counters also
    * see compiles on executor threads, whose time stage CPU counts too.
    */
  final case class Trial(
      wallS: Double, cpuS: Option[Double], gcS: Double, codegenS: Double, classesCompiled: Long)

  // Process CPU next to wall (VERDICT r7 §wrong 2): on a contended host
  // wall time inflates while the query's own CPU stays flat, so the pair
  // separates "plan regressed" from "host was busy". local-mode executors
  // are threads of this JVM, so process CPU covers the whole query.
  private val osBean: Option[com.sun.management.OperatingSystemMXBean] =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
  private def cpuNowNs(): Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)
  private def gcNowMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  private def compileNowNs(): Long = CodeGenerator.compileTime
  private def compilesNow(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Time one run of `df` into the noop sink.
    *
    * `df` is BY NAME so the timer wraps plan construction too: iterative
    * operators (the connected-components families) run their
    * label-propagation jobs eagerly while the DataFrame is built, and an
    * eagerly evaluated argument would leave that work outside the timed
    * window (r12: a probe read ×8 CPU below ×1 that way). The noop sink
    * executes the FULL plan including a final orderBy, which a `count()`
    * would let Catalyst drop (VERDICT r3 §wrong 7). The cache is cleared
    * even when the run throws, so every trial pays the full cost of any
    * `persist()` its pipeline takes and a long-lived session does not
    * accrete executor memory.
    */
  def trial(spark: SparkSession)(df: => DataFrame): Trial = {
    val c0 = cpuNowNs()
    val g0 = gcNowMs()
    val j0 = compileNowNs()
    val n0 = compilesNow()
    val t0 = System.nanoTime()
    try {
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val c1 = cpuNowNs()
      val g1 = gcNowMs()
      Trial(wall, if (c0 < 0 || c1 < 0) None else Some((c1 - c0) / 1e9), (g1 - g0) / 1e3,
        (compileNowNs() - j0) / 1e9, compilesNow() - n0)
    } finally spark.catalog.clearCache()
  }

  /** One job, start and end as epoch milliseconds. */
  final case class JobSpan(jobId: Int, startMs: Long, endMs: Long)

  /** One completed stage. `cpuS` is executor CPU and `deserCpuS` task
    * deserialization CPU (Spark counts the two apart), `runS` summed task
    * run time, `wallS` submission to completion.
    */
  final case class StageRow(
      stageId: Int, name: String, tasks: Int,
      cpuS: Double, runS: Double, deserCpuS: Double, wallS: Double, endMs: Long,
      shuffleReadMB: Double, shuffleWriteMB: Double,
      inputRecords: Long, shuffleRecords: Long)

  /** What [[stages]] saw while its body ran; `startMs` is the epoch time
    * the body started, the origin of a job timeline.
    */
  final case class Recording[T](
      result: T, startMs: Long, jobs: Seq[JobSpan], stages: Seq[StageRow])

  /** Run `body` under one job/stage listener and return what it recorded.
    * The listener bus is drained before the listener attaches (events
    * still queued belong to earlier work) and again before it detaches,
    * so every stage the body ran is in the result.
    */
  def stages[T](spark: SparkSession)(body: => T): Recording[T] = {
    val sc = spark.sparkContext
    val jobStart = new ConcurrentHashMap[Int, Long]()
    val jobs = new ConcurrentLinkedQueue[JobSpan]()
    val rows = new ConcurrentLinkedQueue[StageRow]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.add(JobSpan(e.jobId, Option(jobStart.get(e.jobId)).getOrElse(e.time), e.time))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val end = si.completionTime.getOrElse(0L)
        rows.add(StageRow(
          si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
          m.executorCpuTime / 1e9, m.executorRunTime / 1e3,
          m.executorDeserializeCpuTime / 1e9,
          si.submissionTime.map(s => (end - s) / 1e3).getOrElse(0.0), end,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead))
      }
    }
    GraftListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val startMs = System.currentTimeMillis()
      val result = body
      GraftListenerBridge.drain(sc)
      Recording(result, startMs,
        jobs.asScala.toSeq.sortBy(_.startMs), rows.asScala.toSeq.sortBy(_.stageId))
    } finally sc.removeSparkListener(listener)
  }
}
