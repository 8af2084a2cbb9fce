package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel

import graft.{SparkEntry, SparkSpec}

class MeasureSpec extends SparkSpec {

  private val query = SparkEntry.query("tpch_q6")

  test("a trial times the run, reads process CPU and leaves no cache entry") {
    assumeTestdata(sf001)
    var df: DataFrame = null
    val t = Measure.trial(spark) {
      df = query.build(spark, sf001).cache()
      df.count() // the cached entry the trial must clear
      df
    }
    assert(t.wallS > 0)
    assert(t.cpuS.exists(_ > 0), "process CPU is available on this JVM")
    assert(t.gcS >= 0)
    assert(df.storageLevel == StorageLevel.NONE, "the trial left a cache entry behind")
  }

  test("the stage recorder sees the run's jobs and stages, within its process CPU") {
    assumeTestdata(sf001)
    Measure.trial(spark)(query.build(spark, sf001)) // warmup
    val rec = Measure.stages(spark)(Measure.trial(spark)(query.build(spark, sf001)))
    assert(rec.jobs.nonEmpty)
    assert(rec.stages.nonEmpty)
    rec.stages.foreach(s => assert(s.tasks > 0, s"stage ${s.stageId} has no tasks"))
    assert(rec.jobs.forall(j => j.startMs >= rec.startMs && j.endMs >= j.startMs))
    // local-mode executors are threads of this JVM: the stages' CPU is a
    // part of the process CPU the same run spent
    val stageCpu = rec.stages.map(s => s.cpuS + s.deserCpuS).sum
    assert(stageCpu > 0)
    assert(stageCpu <= rec.result.cpuS.get,
      s"stage CPU $stageCpu s exceeds process CPU ${rec.result.cpuS.get} s")
  }

  test("a never-run plan shape compiles generated classes on its first trial") {
    // a literal unique to this run is inlined into the generated code, so
    // no earlier plan in this JVM can have left the class in the cache
    val nonce = System.nanoTime()
    val t = Measure.trial(spark)(spark.range(1000).select((col("id") * lit(nonce)).as("x")))
    assert(t.classesCompiled > 0, "a new plan shape compiled no class")
    assert(t.codegenS > 0)
  }
}
