package graft.plans

import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables
import graft.sampling.{SampleKeep, Sampled, SamplingConfig}

/** The sample-pushdown rule: plan shape, row-set identity, and the
  * non-applicability guards.
  */
class SamplePushdownSpec extends SparkSpec {

  private def expensiveProjection(df: org.apache.spark.sql.DataFrame) =
    df.select(
      col("doc_id"),
      regexp_replace(lower(col("text")), "[aeiou]", "_").as("devoweled"))

  private def filterIsBelowProject(plan: LogicalPlan): Boolean = {
    // after pushdown nothing COMPUTED sits below the sample (a Filter, or a
    // Sampled's SampleKeep) — only the relation, possibly behind the
    // input-parallelism Repartition and column-pruning (attribute-only)
    // Projects
    def pierce(p: LogicalPlan): LogicalPlan = p match {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => pierce(r.child)
      case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        pierce(pr.child)
      case other => other
    }
    val samples = plan.collect { case f: Filter => f.child; case k: SampleKeep => k.child }
    samples.nonEmpty && samples.forall(pierce(_).isInstanceOf[LogicalRelation])
  }

  test("sample filter written above a projection is pushed below it") {
    val docs = Tables.documents(spark, sf001)
    val q = expensiveProjection(docs).filter(rand(42) < 0.1)
    assert(filterIsBelowProject(q.queryExecution.optimizedPlan),
      q.queryExecution.optimizedPlan.toString)
  }

  test("pushed plan keeps the IDENTICAL row set (not just a valid sample)") {
    val docs = Tables.documents(spark, sf001)
    // filter-above-projection (gets pushed) vs filter-at-source (manual)
    val pushed = expensiveProjection(docs).filter(rand(42) < lit(0.3))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val manual = expensiveProjection(docs.filter(rand(42) < lit(0.3)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pushed === manual)
    assert(pushed.nonEmpty && pushed.size < docs.count())
  }

  test("Sampled over a projected source benefits without behavior change") {
    val docs = Tables.documents(spark, sf001)
    val s = Sampled(expensiveProjection(docs), SamplingConfig(ratio = 0.2))
    assert(filterIsBelowProject(s.data.queryExecution.optimizedPlan))
    // accounting still agrees with the data filter
    assert(s.sampledCount === s.data.count())
  }

  test("Sampled over a projected source, filtered on a computed column: " +
    "the parse stays above the sample, same rows and counts as sampling first") {
    val docs = Tables.documents(spark, sf001)
    val cfg = SamplingConfig(ratio = 0.3)
    val s = Sampled(expensiveProjection(docs), cfg)
    val q = s.data.filter(col("devoweled").startsWith("th"))
    val plan = q.queryExecution.optimizedPlan
    val parsedBelow = plan.collect { case k: SampleKeep =>
      k.child.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.RegExpReplace])))
    }
    assert(parsedBelow === Seq(false), plan.toString)
    val manual = expensiveProjection(Sampled(docs, cfg).data).filter(col("devoweled").startsWith("th"))
    def ids(df: org.apache.spark.sql.DataFrame) = df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(q) === ids(manual) && ids(q).nonEmpty)
    val rpt = s.report()
    assert((rpt.total, rpt.sampled) === ((docs.count(), s.data.count())))
  }

  test("guard: predicates referencing columns are NOT touched") {
    val docs = Tables.documents(spark, sf001)
    val q = expensiveProjection(docs).filter(col("devoweled").startsWith("th"))
    // Catalyst may rewrite/push this itself (deterministic), but our rule's
    // concern is only that execution is correct:
    assert(q.count() > 0)
  }

  test("guard: nondeterministic projections block the push") {
    val docs = Tables.documents(spark, sf001)
    val q = docs.select(col("doc_id"), rand(7).as("r")).filter(rand(42) < 0.5)
    // Filter must stay above the nondeterministic projection
    val ok = q.queryExecution.optimizedPlan.collect {
      case Filter(_, _: Project) => true
    }
    assert(ok.nonEmpty, q.queryExecution.optimizedPlan.toString)
    q.count() // and it executes
  }
}
