package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.dedup.Hashing
import graft.functions.Hash60
import graft.queries.CatalogSweep
import graft.sampling.UniverseSampled

/** The hash-last rule: a universe keep filter's hash conjunct runs after
  * the cheap conjuncts that cannot throw, everything else keeps its place,
  * nondeterministic filters are left alone, and no sampled query's answer
  * changes.
  */
class HashLastSpec extends SparkSpec with PredicateHelper {

  private def hashes(e: Expression) = e.exists(_.isInstanceOf[Hash60])

  /** Conjuncts of the one optimized Filter that carries a hash60 call. */
  private def keepConjuncts(plan: LogicalPlan): Seq[Expression] = {
    val fs = plan.collect { case f: Filter if hashes(f.condition) => f }
    assert(fs.size == 1, plan.treeString)
    splitConjunctivePredicates(fs.head.condition)
  }

  private def withoutRule[T](body: => T): T =
    withConf("spark.sql.optimizer.excludedRules" -> HashLast.ruleName)(body)

  // ids 0..1999 with s = a positive integer string where the universe keep
  // predicate keeps the id, and "bad" (fails cast to int under ANSI) where
  // it drops it
  private lazy val fixture: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hashlast").toString + "/t.parquet"
    (0L until 2000L).map { id =>
      (id, if (Hashing.hash60(s"u:$id") % UniverseSampled.RangeMod < 10) (id + 1).toString else "bad")
    }.toDF("id", "s").write.parquet(dir)
    dir
  }
  private def table: DataFrame = spark.read.parquet(fixture)

  test("tpch_q6_sampled_u10 evaluates the hash after the date, discount and quantity checks") {
    assumeTestdata(sf001)
    val df = SparkEntry.queries("tpch_q6_sampled_u10")(spark, sf001)
    val cs = keepConjuncts(df.queryExecution.optimizedPlan)
    val h = cs.indexWhere(hashes)
    val q6 = cs.zipWithIndex.filter { case (c, _) =>
      c.references.exists(a => Set("l_shipdate", "l_discount", "l_quantity")(a.name)) &&
        c.isInstanceOf[org.apache.spark.sql.catalyst.expressions.BinaryComparison]
    }
    assert(q6.size == 5 && q6.forall(_._2 < h), cs.mkString("\n"))
    assert(cs.count(hashes) == 1)
  }

  test("a conjunct that can throw under ANSI keeps its place after the hash") {
    withConf("spark.sql.ansi.enabled" -> "true") {
      intercept[Exception](table.filter(col("s").cast("int") > 0).collect())
      val df = table.filter(UniverseSampled.keep(col("id"), 10))
        .filter(col("s").cast("int") > 0 && col("id") >= 0)
      val kept = (0L until 2000L).count(id => Hashing.hash60(s"u:$id") % UniverseSampled.RangeMod < 10)
      assert(df.count() == kept && kept > 100)
      val cs = keepConjuncts(df.queryExecution.optimizedPlan)
      val (h, cast, cheap) = (cs.indexWhere(hashes),
        cs.indexWhere(_.sql.contains("CAST(s AS INT)")), cs.indexWhere(_.sql.startsWith("(id >= 0")))
      assert(cheap >= 0 && cheap < h && h < cast, cs.mkString("\n"))
    }
  }

  test("a filter with a seeded rand Bernoulli conjunct is left untouched") {
    val cond = UniverseSampled.keep(col("id"), 10) && rand(7) < 0.5 && col("id") >= 0
    val plan = table.filter(cond).queryExecution.optimizedPlan
    assert(HashLast(plan) fastEquals plan)
    val cs = keepConjuncts(plan)
    assert(cs.indexWhere(hashes) < cs.indexWhere(_.sql.startsWith("(id >= 0")), cs.mkString("\n"))
    // the same filter without the rand conjunct is reordered
    val cs2 = keepConjuncts(table.filter(UniverseSampled.keep(col("id"), 10) && col("id") >= 0)
      .queryExecution.optimizedPlan)
    assert(cs2.indexWhere(_.sql.startsWith("(id >= 0")) < cs2.indexWhere(hashes), cs2.mkString("\n"))
  }

  test("every _u10 query returns the same rows with and without the rule (sf0.001)") {
    assumeTestdata(sf001)
    val names = SparkEntry.all.map(_.name).filter(_.contains("_u10")).sorted
    assert(names.size >= 20)
    val runs = names.map { n =>
      val build = SparkEntry.queries(n)
      def run() = {
        val df = build(spark, sf001)
        val order = df.queryExecution.optimizedPlan.collect {
          case f: Filter if hashes(f.condition) => splitConjunctivePredicates(f.condition).map(_.sql)
        }
        val out = (order, CatalogSweep.fingerprint(df))
        spark.catalog.clearCache()
        out
      }
      val ((orderWith, rowsWith), (orderWithout, rowsWithout)) = (run(), withoutRule(run()))
      (n, orderWith != orderWithout, rowsWith == rowsWithout)
    }
    assert(runs.forall(_._3), runs.filterNot(_._3).map(_._1).mkString(", "))
    // the rule did reorder keep filters here, so the row check compared two plans
    val reordered = runs.filter(_._2).map(_._1)
    info(s"reordered: ${reordered.mkString(", ")}")
    assert(reordered.contains("tpch_q6_sampled_u10"), reordered)
  }
}
