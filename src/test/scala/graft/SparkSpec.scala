package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for engine specs.
  *
  * One session per JVM (tests fork once, sbt reuses it across suites via
  * getOrCreate) with the same confs the driver harness uses, so specs see
  * the plans Verify/Bench will see.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = s"${SparkSpec.testdataRoot}/sf0.001"
  def sf01 = s"${SparkSpec.testdataRoot}/sf0.01"
  def sf1 = s"${SparkSpec.testdataRoot}/sf0.1"
  /** Cancel (not fail) a live-testdata suite when the dir is absent — an
    * environment gap, not a schema drift (ADVICE r12). */
  def assumeTestdata(dir: String): Unit =
    assume(new java.io.File(dir).isDirectory,
      s"live testdata missing at $dir (set GRAFT_TESTDATA_ROOT) — skipping, NOT a pass")

  /** Runs `body` with the session confs `kv` set, restoring each key's
    * previous value (or unsetting it) afterwards. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Every node of an executed plan, descending through AQE stage
    * boundaries: AdaptiveSparkPlanExec, QueryStageExec, and
    * ReusedExchangeExec hold their subplans outside `children`, so a plain
    * TreeNode.collect stops at them (toString descends, collect does not).
    * Shared by the plan-pin specs.
    */
  def allPlanNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val here = p.collect { case n => n }
    here ++ here.flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allPlanNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allPlanNodes(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        allPlanNodes(r.child)
      case _ => Nil
    }
  }
}

object SparkSpec {
  /** Same root the driver harness points its SPARK_GRAFT_SF_DIR at; override
    * with GRAFT_TESTDATA_ROOT on machines that stage testdata elsewhere. */
  val testdataRoot: String =
    sys.env.get("GRAFT_TESTDATA_ROOT")
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR").map(d => new java.io.File(d).getParent))
      .getOrElse("/root/testdata")

  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", "4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
