package graft.sampling

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[Sampled]]'s accounting under task retry and stage re-attempt, and
  * the report callers that write a sink first ([[graft.Main.runJob]], a
  * [[graft.RatioLadder]] rung) under task retry. Runs [[RetryProbe]] in a
  * child JVM (`local[4,4]`, so failed tasks are retried) and checks what
  * it prints.
  */
class SampledRetrySpec extends AnyFunSuite {
  private lazy val probe: Map[String, String] = {
    val dir = s"${SparkSpec.testdataRoot}/sf0.01"
    assume(new java.io.File(dir).isDirectory, s"live testdata missing at $dir")
    val scratch = java.nio.file.Files.createTempDirectory("graft-retry-probe")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx2g", "-cp", System.getProperty("java.class.path"),
        "graft.sampling.RetryProbe", dir, scratch.toString)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val lines = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    val exit = proc.waitFor()
    scala.reflect.io.Directory(scratch.toFile).deleteRecursively()
    assert(exit === 0, lines.filterNot(_.trim.startsWith("at ")).takeRight(30).mkString("\n"))
    lines.collect { case l if l.startsWith("PROBE ") =>
      val Array(k, v) = l.stripPrefix("PROBE ").split("=", 2)
      k -> v
    }.toMap
  }

  test("report before any action: one recount, equal to (source.count(), data.count())") {
    assert(probe("early.report") === probe("early.truth"))
    assert(probe("early.recounts") === "1")
  }

  test("task retry: first attempts fail mid-partition, the tallied report stays exact, no recount") {
    assert(probe("task.failedTasks").toInt > 0)
    assert(probe("task.report") === probe("task.truth"))
    assert(probe("task.reportJobs") === "0")
    assert(probe("task.recounts") === "0")
  }

  test("stage re-attempt: the re-run map stage tallies its partitions again, once each, no recount") {
    assert(probe("stage.retries").toInt > 0)
    assert(probe("stage.report") === probe("stage.truth"))
    assert(probe("stage.reportJobs") === "0")
  }

  test("Main.runJob and a RatioLadder rung: same output under first-attempt failures, no accounting job") {
    for (caller <- Seq("main", "ladder")) {
      info(s"$caller: ${probe(s"$caller.failing.failedTasks")} failed tasks")
      assert(probe(s"$caller.failing.failedTasks").toInt > 0, caller)
      assert(probe(s"$caller.clean.failedTasks") === "0", caller)
      for (run <- Seq("clean", "failing"))
        assert(probe(s"$caller.$run.recounts") === "0", s"$caller $run ran an accounting recount")
      assert(probe(s"$caller.files").toInt >= 2, caller)
      assert(probe(s"$caller.identical") === "true", caller)
    }
  }

  test("the table memos drop a stopped session") {
    assert(probe("memo.readSessions") === "1")
    assert(probe("memo.floorSessions") === "1")
  }
}
