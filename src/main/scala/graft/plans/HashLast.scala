package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BinaryComparison, Expression, In, InSet, IsNotNull, IsNull, Literal, Not, Or, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.FILTER

import graft.functions.Hash60

/** Evaluate a filter's [[Hash60]] conjunct after its cheap, safe ones.
  *
  * A universe sample is a `Filter` on `hash60(unit) % 100 < pct`, and the
  * query's own predicates sit in a second `Filter` above it.
  * `CombineFilters` merges the two with the INNER (sample) conjunct first,
  * so every scanned row pays one md5 before the query's date/discount/
  * quantity checks — on TPC-H Q6 those keep about 2 % of rows, so 98 % of
  * the hashing is wasted. Conjuncts short-circuit left to right in
  * `FilterExec`, so moving those checks ahead of the hash conjunct makes
  * the hash run only on rows that pass them.
  *
  * Only conjuncts that cannot throw are moved: comparisons, `IsNull`/
  * `IsNotNull` and `In`/`InSet` whose operands are attributes and
  * literals, and `And`/`Or`/`Not` of these. Anything else (a cast that can
  * fail under ANSI, a UDF, a division) keeps its place after the hash, so
  * rows the hash drops are never handed to it. Every other conjunct keeps
  * its relative order, and the filter must be deterministic: reordering
  * a `rand` filter would change which rows it draws. The rewrite is
  * idempotent, so it is safe in the fixed-point operator batch.
  */
object HashLast extends Rule[LogicalPlan] with PredicateHelper {

  private def hashes(e: Expression): Boolean = e.exists(_.isInstanceOf[Hash60])

  private def operand(e: Expression): Boolean = e.isInstanceOf[Attribute] || e.isInstanceOf[Literal]

  private def safe(e: Expression): Boolean = e match {
    case And(l, r) => safe(l) && safe(r)
    case Or(l, r) => safe(l) && safe(r)
    case Not(c) => safe(c)
    case IsNull(c) => operand(c)
    case IsNotNull(c) => operand(c)
    case In(v, list) => operand(v) && list.forall(operand)
    case InSet(v, _) => operand(v)
    case c: BinaryComparison => operand(c.left) && operand(c.right)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformWithPruning(_.containsPattern(FILTER)) {
    case f @ Filter(cond, child) if cond.deterministic =>
      val conjuncts = splitConjunctivePredicates(cond)
      val h = conjuncts.indexWhere(hashes)
      val (moved, kept) = conjuncts.drop(h max 0).partition(safe)
      if (h < 0 || moved.isEmpty) f
      else Filter((conjuncts.take(h) ++ moved ++ kept).reduce(And), child)
  }
}
