package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, LessThan, LessThanOrEqual, Literal, Rand}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.sampling.SampleKeep

/** Sampling pushdown below projections — the Catalyst-native version of the
  * reference's "skip before parse" optimization (its XML reader seeks past
  * unsampled records without buffering them,
  * RandomizedXMLRecordReader.java:117-123; SURVEY.md §7.5 flagged this rule
  * as the principled Spark equivalent).
  *
  * Catalyst's own PushDownPredicate refuses to move ANY nondeterministic
  * predicate, so a seeded `rand(seed) < p` sample filter written above an
  * expensive parse projection stays above it — 100% of rows get parsed,
  * then 90% are thrown away. This rule adds the domain knowledge the
  * generic optimizer can't have:
  *
  *  - the sample predicate references NO input columns, and
  *  - `rand(seed)` is a function of (partition index, row offset), and
  *  - a deterministic `Project` is 1:1 and row-order-preserving,
  *
  * so `Filter(rand < p, Project(es, c))` ≡ `Project(es, Filter(rand < p, c))`
  * — not just statistically: the SAME physical rows are kept, because row
  * offsets under the projection are unchanged. Only the evaluation order
  * flips, and the parse work drops to the kept fraction. At a 100 TB scan
  * with ratio 0.1 that is 90% of the projection CPU gone.
  *
  * Deliberately NOT pushed below Filter/Generator/Join: those change row
  * offsets, which would select a different (equally valid, but not
  * identical) sample — determinism is part of this engine's contract.
  *
  * A [[graft.sampling.Sampled]] sample is a [[SampleKeep]] node (the same
  * predicate, plus its tally) and moves the same way, below a projection
  * that computes a column: `SampleKeep(Project(es, c))` ≡
  * `Project(es, SampleKeep(c))`. The node reads every row of `c` that it
  * read of the projection, so its counts are unchanged. A projection of
  * bare columns stays where it is: moving the node below the ones column
  * pruning puts under it would only undo them.
  */
object SamplePushdown extends Rule[LogicalPlan] {

  /** A pure Bernoulli sample predicate: `rand(seed) < lit` (or `<=`),
    * referencing no input columns.
    */
  private def isSamplePredicate(cond: Expression): Boolean = cond match {
    case LessThan(_: Rand, Literal(_, _)) => cond.references.isEmpty
    case LessThanOrEqual(_: Rand, Literal(_, _)) => cond.references.isEmpty
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Filter(cond, Project(exprs, child))
        if isSamplePredicate(cond) && exprs.forall(_.deterministic) =>
      Project(exprs, Filter(cond, child))
    case k @ SampleKeep(_, _, _, Project(exprs, child))
        if exprs.forall(_.deterministic) && exprs.exists(!_.isInstanceOf[Attribute]) =>
      Project(exprs, k.copy(child = child))
  }
}

/** `SparkSessionExtensions` hook:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Installs the engine's optimizer rules ([[SamplePushdown]],
  * [[HashLast]]) AND its native SQL functions (`hash60`, `dot_product_q`,
  * `sorted_intersect_count`, …), so plain-SQL users of the session get
  * them too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectOptimizerRule(_ => SamplePushdown)
    extensions.injectOptimizerRule(_ => HashLast)
    extensions.injectFunction(graft.functions.Hash60.descriptor)
    extensions.injectFunction(graft.functions.DotProductQ.descriptor)
    extensions.injectFunction(graft.functions.SortedIntersectCount.descriptor)
    extensions.injectFunction(graft.functions.CountInSet.descriptor)
    extensions.injectFunction(graft.functions.WordShingles.descriptor)
    extensions.injectFunction(graft.functions.BottomKDistinct.descriptor)
    extensions.injectFunction(graft.functions.WinnowMins.descriptor)
    extensions.injectFunction(graft.functions.IvfAssign.descriptor)
    extensions.injectFunction(graft.functions.BloomFilter.aggDescriptor)
    extensions.injectFunction(graft.functions.BloomFilter.containDescriptor)
    extensions.injectFunction(graft.functions.SortedIntersectDot.descriptor)
    extensions.injectFunction(graft.functions.SignBandKeys.descriptor)
    extensions.injectFunction(graft.functions.GramHashes.descriptor)
    extensions.injectFunction(graft.functions.RegexGroups.descriptor)
  }
}
