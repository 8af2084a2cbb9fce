package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-declared-query job/stage breakdown (dev diagnostic for the
  * optimization rounds): run named queries once (after a warmup) under a
  * listener and print, per query, the JOB TIMELINE (start/end offsets, so
  * inter-job driver gaps are visible) and every stage's task count,
  * executor CPU seconds, summed task run seconds, stage WALL seconds
  * (submission→completion) and shuffle bytes — to separate "wall time is
  * many small sequential jobs" from "wall time is one CPU-bound stage"
  * without the UI (headless harness).
  *
  * Usage: `runMain graft.tools.QueryStages <query> [<query>...]`;
  * env SPARK_GRAFT_SF_DIR picks the fixture (default sf0.1),
  * SPARK_GRAFT_CPUS the core count (default 32).
  */
object QueryStages {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass at least one declared query name")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class StageRow(
        stageId: Int, name: String, tasks: Int,
        cpuSec: Double, runSec: Double, wallSec: Double, endMs: Long,
        shufReadMB: Double, shufWriteMB: Double)
    val stages = new ConcurrentLinkedQueue[StageRow]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobSpans = new ConcurrentLinkedQueue[(Int, Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStart.put(js.jobId, js.time)
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = Option(jobStart.get(je.jobId)).getOrElse(je.time)
        jobSpans.add((je.jobId, s, je.time))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield (c - s) / 1e3)
          .getOrElse(-1.0)
        stages.add(StageRow(
          si.stageId,
          si.name.takeWhile(_ != '\n').take(60),
          si.numTasks,
          m.executorCpuTime / 1e9,
          m.executorRunTime / 1e3,
          wall,
          si.completionTime.getOrElse(0L),
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6))
      }
    }

    args.foreach { name =>
      val build = graft.SparkEntry.query(name).build
      // warmup (codegen, first-touch scan, saved artifacts)
      build(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      stages.clear(); jobStart.clear(); jobSpans.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      build(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain (private API in 4.x)
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(_.stageId)
      val spans = jobSpans.asScala.toSeq.sortBy(_._2)
      println(f"##### $name wall=$wall%.2fs jobs=${spans.size} stages=${rows.size} " +
        f"cpuSum=${rows.map(_.cpuSec).sum}%.1fs stageWallSum=${rows.map(_.wallSec).sum}%.1fs " +
        f"taskSum=${rows.map(_.tasks).sum}")
      // job timeline: offsets from query start, to expose inter-job gaps
      var prevEnd = t0ms
      spans.foreach { case (id, s, e) =>
        val gap = (s - prevEnd) / 1e3
        println(f"  job $id%4d [${(s - t0ms) / 1e3}%7.2f → ${(e - t0ms) / 1e3}%7.2f] " +
          f"dur=${(e - s) / 1e3}%6.2f gapBefore=$gap%6.2f")
        prevEnd = math.max(prevEnd, e)
      }
      rows.foreach { r =>
        println(f"  stage ${r.stageId}%4d tasks=${r.tasks}%4d cpu=${r.cpuSec}%7.2fs " +
          f"run=${r.runSec}%7.2fs wall=${r.wallSec}%6.2fs end=${(r.endMs - t0ms) / 1e3}%7.2f " +
          f"sR=${r.shufReadMB}%7.2fMB sW=${r.shufWriteMB}%7.2fMB  ${r.name}")
      }
    }
    spark.stop()
  }
}
