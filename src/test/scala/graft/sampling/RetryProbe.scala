package graft.sampling

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftFaults, GraftListenerBridge, Success, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.BooleanType

import graft.{GraftSession, Main, RatioLadder}
import graft.queries.{ReferenceQueries => RQ, Tables}

/** Runs [[Sampled]]'s accounting under injected faults, in a JVM of its
  * own: local mode retries a failed task only under `local[N,F]`, and a
  * JVM holds one SparkContext, so this cannot share the specs' session.
  * [[SampledRetrySpec]] starts it and checks the `key=value` lines it
  * prints.
  *
  * Usage: `RetryProbe <testdata scale-factor dir> <scratch dir>`
  *
  * Two injectors:
  *  - every file scan of the session is wrapped in an always-true filter
  *    that, while [[failTasks]] is set, fails the first attempt of each
  *    task on its [[FailAt]]-th row, after earlier rows were sampled;
  *  - [[fetchFailOnce]], placed in a query's result stage, reports the
  *    last shuffle as lost once, so the scheduler re-runs its map stages
  *    as stage attempt 1.
  */
object RetryProbe {
  val FailAt = 5

  @volatile var failTasks = false
  private val rowsSeen = new ConcurrentHashMap[Long, AtomicInteger]

  private def pass(): Boolean = {
    val tc = TaskContext.get()
    if (failTasks && tc != null && tc.attemptNumber() == 0 && tc.stageAttemptNumber() == 0 &&
        rowsSeen.computeIfAbsent(tc.taskAttemptId(), _ => new AtomicInteger).incrementAndGet() == FailAt)
      throw new RuntimeException("injected first-attempt failure")
    true
  }

  private object FailFirstAttempts extends Rule[LogicalPlan] {
    private val check = ScalaUDF(() => pass(), BooleanType, Nil, udfDeterministic = false)
    def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
      case r: LogicalRelation => Filter(check, r)
    }
  }

  private val fetchThrown = new AtomicBoolean(false)
  @volatile private var lastShuffle = -1
  private val submitted = ConcurrentHashMap.newKeySet[Int]()

  val fetchFailOnce = udf { (_: String) =>
    val tc = TaskContext.get()
    if (tc.stageAttemptNumber() == 0 && tc.partitionId() == 0 && !fetchThrown.getAndSet(true)) {
      // the listener has seen this stage's submission, so the shuffle it
      // reads is the last one submitted before it
      val deadline = System.nanoTime() + 10e9.toLong
      while (!submitted.contains(tc.stageId()) && System.nanoTime() < deadline) Thread.sleep(5)
      throw GraftFaults.fetchFailed(lastShuffle)
    }
    true
  }.asNondeterministic()

  /** Jobs, failed tasks, stage re-attempts and accounting recounts since
    * the last [[reset]]. A recount is the one SQL execution that evaluates
    * the keep predicate (`rand`) outside a SampleKeep node.
    */
  private object Recorder extends SparkListener {
    @volatile var jobs, failedTasks, stageRetries, recounts = 0
    def reset(): Unit = synchronized { jobs = 0; failedTasks = 0; stageRetries = 0; recounts = 0 }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobs += 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      GraftFaults.shuffleOf(e.stageInfo).foreach(lastShuffle = _)
      submitted.add(e.stageInfo.stageId)
      if (e.stageInfo.attemptNumber() > 0) stageRetries += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != Success) synchronized(failedTasks += 1)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case start: SparkListenerSQLExecutionStart
          if start.physicalPlanDescription.contains("rand(") &&
            !start.physicalPlanDescription.contains("SampleKeep") =>
        synchronized(recounts += 1)
      case _ =>
    }
  }

  private def emit(key: String, value: Any): Unit = println(s"PROBE $key=$value")

  /** `body`'s result, after the listener bus delivered its events. */
  private def recorded[T](spark: SparkSession)(body: => T): T = {
    GraftListenerBridge.drain(spark.sparkContext)
    Recorder.reset()
    val r = body
    GraftListenerBridge.drain(spark.sparkContext)
    r
  }

  private def truth(s: Sampled): (Long, Long) = {
    val was = failTasks
    failTasks = false
    try (s.source.count(), s.data.count()) finally failTasks = was
  }

  /** Every output file under `dir` (part files named by their directory),
    * with the two report fields that differ between any two runs masked:
    * the job id (a per-JVM counter) and the wall-clock time cost.
    */
  private def texts(dir: Path): Map[String, String] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(p => p.getFileName.toString.startsWith(".") || p.getFileName.toString.startsWith("_"))
      .map { p =>
        val name = p.getFileName.toString
        dir.relativize(p.getParent).toString + "/" + (if (name.startsWith("part-")) "part" else name) ->
          Files.readString(p)
            .replaceAll("""\[Job ID\] \d+""", "[Job ID] _")
            .replaceAll("""\[Time cost\] .*""", "[Time cost] _")
            .replaceAll(""""jobId":\d+""", "\"jobId\":_")
            .replaceAll(""""timeCostSec":[^,}]+""", "\"timeCostSec\":_")
      }
      .toMap

  def main(args: Array[String]): Unit = {
    val Array(dir, scratch) = args
    val spark = GraftSession.builder("local[4,4]", "4")
      .withExtensions(_.injectPostHocResolutionRule(_ => FailFirstAttempts))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(Recorder)
    val docs = Tables.documents(spark, dir)
    val cfg = SamplingConfig(ratio = 0.1)

    // report before any action: one recount
    val early = Sampled(docs, cfg)
    val earlyRpt = recorded(spark)(early.report())
    emit("early.recounts", Recorder.recounts)
    emit("early.report", (earlyRpt.total, earlyRpt.sampled))
    emit("early.truth", truth(early))

    // task retry: every scan task's first attempt fails mid-partition
    failTasks = true
    val retried = Sampled(docs, cfg)
    recorded(spark)(RQ.wordCount(retried.data).collect())
    emit("task.failedTasks", Recorder.failedTasks)
    val taskRpt = recorded(spark)(retried.report())
    emit("task.report", (taskRpt.total, taskRpt.sampled))
    emit("task.reportJobs", Recorder.jobs)
    emit("task.recounts", Recorder.recounts)
    failTasks = false
    emit("task.truth", truth(retried))

    // stage re-attempt: the word-count result stage loses its shuffle once
    val rerun = Sampled(docs, cfg)
    val q = RQ.wordCount(rerun.data).filter(fetchFailOnce(col("word")))
    recorded(spark)(q.collect())
    emit("stage.retries", Recorder.stageRetries)
    val stageRpt = recorded(spark)(rerun.report())
    emit("stage.report", (stageRpt.total, stageRpt.sampled))
    emit("stage.reportJobs", Recorder.jobs)
    emit("stage.truth", truth(rerun))

    // the report callers that write a sink first: same text with and
    // without first-attempt failures, and no accounting job
    val sdir = Paths.get(scratch)
    for (failing <- Seq(false, true)) {
      failTasks = failing
      val tag = if (failing) "failing" else "clean"
      recorded(spark)(Main.runJob(spark, "randwordcount", dir,
        s"$scratch/main-$tag/out", None, cfg))
      emit(s"main.$tag.recounts", Recorder.recounts)
      emit(s"main.$tag.failedTasks", Recorder.failedTasks)
      recorded(spark)(RatioLadder.run(Tables.documents(spark, dir),
        RQ.wordCount(_), Seq("word"), Seq(0.1), s"$scratch/ladder-$tag"))
      emit(s"ladder.$tag.recounts", Recorder.recounts)
      emit(s"ladder.$tag.failedTasks", Recorder.failedTasks)
    }
    failTasks = false
    emit("main.identical", texts(sdir.resolve("main-clean")) == texts(sdir.resolve("main-failing")))
    emit("main.files", texts(sdir.resolve("main-clean")).size)
    emit("ladder.identical", texts(sdir.resolve("ladder-clean")) == texts(sdir.resolve("ladder-failing")))
    emit("ladder.files", texts(sdir.resolve("ladder-clean")).size)

    // the table memos keep nothing of a stopped session
    spark.stop()
    val next = GraftSession.builder("local[2]", "2").getOrCreate()
    Tables.parallelismFloor(Tables.documents(next, dir))
    emit("memo.readSessions", Tables.readCache.sessions)
    emit("memo.floorSessions", Tables.floorDecisions.sessions)
    next.stop()
  }
}
