package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.lit

import graft.SparkSpec
import graft.sampling.{Sampled, SamplingConfig}

/** The parallelism floor's decision and its memo: decided without a SQL
  * execution, equal to the former `df.rdd` decision, and shared by equal
  * sampled plans. (That the memos drop a stopped session is checked in a
  * JVM of its own, by graft.sampling.SampledRetrySpec.)
  */
class TablesMemoSpec extends SparkSpec {

  /** SQL executions started while `body` ran. */
  private def executions(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => started.incrementAndGet()
        case _ =>
      }
    }
    GraftListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try { body; GraftListenerBridge.drain(sc) } finally sc.removeSparkListener(listener)
    started.get
  }

  /** `df` under a plan no earlier lookup has seen, so the memo misses. */
  private def fresh(df: DataFrame): DataFrame =
    df.where(lit(java.util.UUID.randomUUID().toString) =!= lit(""))

  test("the floor posts no SQL execution and decides as df.rdd did on every fixture") {
    assumeTestdata(sf001)
    val target = spark.sparkContext.defaultParallelism
    val fixtures = Seq(
      Tables.documents(spark, sf001), Tables.lineitem(spark, sf001), Tables.events(spark, sf001))
    val inputs = fixtures.flatMap(t =>
      Seq(t, t.repartition(8), Sampled(t, SamplingConfig(ratio = 0.1)).data))
    val decided = inputs.map { df =>
      val in = fresh(df)
      var deficient = false
      assert(executions { deficient = Tables.inputDeficient(in, target) } === 0)
      assert(deficient === (in.rdd.getNumPartitions < math.max(2, target / 2)))
      deficient
    }
    // both verdicts occur, so the equality above is not one constant
    assert(decided.toSet === Set(true, false))
  }

  test("equal (source, seed, p) samples hit one floor decision; another seed does not") {
    assumeTestdata(sf001)
    val target = spark.sparkContext.defaultParallelism
    val docs = fresh(Tables.documents(spark, sf001))
    val a = Sampled(docs, SamplingConfig(ratio = 0.1)).data
    val b = Sampled(docs, SamplingConfig(ratio = 0.1)).data
    val c = Sampled(docs, SamplingConfig(ratio = 0.1, seed = 7L)).data
    Tables.parallelismFloor(a)
    assert(Tables.floorDecisions.contains(spark, Tables.floorKey(b, target)))
    assert(Tables.floorKey(a, target) === Tables.floorKey(b, target))
    assert(Tables.floorKey(c, target) !== Tables.floorKey(a, target))
  }
}
