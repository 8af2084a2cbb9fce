package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sampling.{HtTwin, Sampled, SamplingConfig, UniverseSampled}

class TpchSpec extends SparkSpec {

  private val Q1Additive =
    Seq("sum_qty", "sum_base_price_c", "sum_disc_price_e4", "sum_charge_e6", "cnt")

  test("q1: six groups, cutoff filters rows, integer sums positive") {
    val out = TpchQueries.q1(Tables.lineitem(spark, sf01)).collect()
    assert(out.length === 6) // 3 returnflags × 2 linestatuses
    assert(out.forall(_.getLong(2) > 0))
    val kept = Tables.lineitem(spark, sf01)
      .filter(col("l_shipdate") <= lit(TpchQueries.Q1Cutoff).cast("timestamp")).count()
    assert(out.map(_.getLong(6)).sum === kept)
    assert(kept < Tables.lineitem(spark, sf01).count())
  }

  test("sampled q1: HT estimates track exact within sampling noise per group") {
    val exact = TpchQueries.q1(Tables.lineitem(spark, sf01))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(6).toDouble).toMap
    val s = Sampled(Tables.lineitem(spark, sf01), SamplingConfig(ratio = 0.1))
    val est = HtTwin.scaled(TpchQueries.q1(s.data), s.htScale, Q1Additive)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(6))
    est.foreach { case (k, e) =>
      val x = exact(k)
      // per-group counts ~5k at ratio 0.1: rel-stddev ≈ sqrt((1-p)/(p·x)) ≈ 0.043 → 4σ
      assert(math.abs(e - x) / x < 0.18, s"group $k: est $e vs exact $x")
    }
  }

  test("universe-sampled q1: order-atomic keep-set, HT estimates track exact") {
    val li = Tables.lineitem(spark, sf01)
    // unit atomicity: the keep-predicate is a function of l_orderkey alone,
    // so every order is wholly in or wholly out of the sample
    val sampled = UniverseSampled.sample(li, col("l_orderkey"), 10)
    val perOrder = sampled.groupBy("l_orderkey").count()
      .join(li.groupBy("l_orderkey").count().withColumnRenamed("count", "full"),
        "l_orderkey")
    assert(perOrder.filter(col("count") =!= col("full")).count() === 0,
      "a sampled order is missing some of its lineitems")
    val exact = TpchQueries.q1(li)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(6).toDouble).toMap
    val est = HtTwin.scaled(TpchQueries.q1(sampled), UniverseSampled.htScale(10), Q1Additive)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(6))
    assert(est.length === 6)
    est.foreach { case (k, e) =>
      val x = exact(k)
      // order-level sampling clusters ~4 lineitems/order: design effect ≈ 4
      // over the row-level rel-stddev (~0.043 per group at sf0.1) → wide 4σ
      assert(math.abs(e - x) / x < 0.35, s"group $k: est $e vs exact $x")
    }
  }

  test("sampled q6: HT estimate tracks exact revenue within sampling noise") {
    val exact = TpchQueries.q6(Tables.lineitem(spark, sf01))
      .collect().head.getLong(0).toDouble
    val n = Tables.lineitem(spark, sf01)
      .filter(col("l_shipdate") >= lit(TpchQueries.Q6Start).cast("timestamp") &&
        col("l_shipdate") < lit(TpchQueries.Q6End).cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24).count()
    val s = Sampled(Tables.lineitem(spark, sf01), SamplingConfig(ratio = 0.1))
    val est = HtTwin.scaled(TpchQueries.q6(s.data), s.htScale, Seq("revenue_e4"))
      .collect().head.getDouble(0)
    // rel-stddev ≈ √((1−p)/(p·n)); 4σ bound on the seeded sample
    val bound = 4.0 * math.sqrt(0.9 / (0.1 * n))
    assert(math.abs(est - exact) / exact < bound,
      s"est $est vs exact $exact (n=$n, bound=$bound)")
  }

  test("q10: top-20 plans as TakeOrderedAndProject with a broadcast nation join") {
    val df = TpchQueries.q10(
      Tables.customer(spark, sf001), Tables.orders(spark, sf001),
      Tables.lineitem(spark, sf001), Tables.nation(spark, sf001))
    val out = df.collect()
    assert(out.length <= 20 && out.nonEmpty)
    // descending revenue with custkey tie-break — deterministic top-20
    val revs = out.map(_.getLong(4))
    assert(revs.sameElements(revs.sortBy(-_)))
    val plan = df.queryExecution.executedPlan.toString
    // per-partition heaps instead of a global sort, broadcast dimension
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("q2: every selected supplier hits its part's min cost; ties kept") {
    val out = TpchQueries.q2(
      Tables.part(spark, sf01), Tables.supplier(spark, sf01),
      Tables.lineitem(spark, sf01), Tables.nation(spark, sf01),
      Tables.region(spark, sf01)).collect()
    assert(out.nonEmpty)
    // one or more rows per part, all at the same (minimum) cost
    val byPart = out.groupBy(_.getLong(3))
    byPart.foreach { case (pk, rows) =>
      assert(rows.map(_.getLong(5)).distinct.length === 1,
        s"part $pk selected suppliers at different costs")
    }
    // acctbal-descending presentation order
    val bals = out.map(_.getLong(0))
    assert(bals.sameElements(bals.sortBy(-(_: Long))))
  }

  test("q11: threshold keeps exactly the above-K×-mean parts") {
    val df = TpchQueries.q11(
      Tables.supplier(spark, sf01), Tables.lineitem(spark, sf01),
      Tables.nation(spark, sf01))
    val out = df.collect()
    assert(out.nonEmpty)
    val vals = out.map(_.getLong(1))
    assert(vals.sameElements(vals.sortBy(-(_: Long))))
    // the one-row threshold must arrive by broadcast, not a shuffle
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"threshold not broadcast:\n$plan")
  }

  test("q12: high+low counts partition the late lineitems in the window") {
    val orders = Tables.orders(spark, sf01)
    val li = Tables.lineitem(spark, sf01)
    val out = TpchQueries.q12(orders, li).collect()
    assert(out.nonEmpty)
    val total = out.map(r => r.getLong(1) + r.getLong(2)).sum
    val expected = li
      .filter(col("l_shipdate") >= lit(TpchQueries.Q12Start).cast("timestamp") &&
        col("l_shipdate") < lit(TpchQueries.Q12End).cast("timestamp"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL ${TpchQueries.Q12LateDays} DAYS"))
      .count()
    assert(total === expected)
  }

  test("q13: distribution covers every customer exactly once, zeros included") {
    val out = TpchQueries.q13(
      Tables.customer(spark, sf01), Tables.orders(spark, sf01)).collect()
    val totalCustomers = out.map(_.getLong(1)).sum
    assert(totalCustomers === Tables.customer(spark, sf01).count())
    // the excluded-priority filter rides the join condition: zero-order
    // customers must still appear (c_count = 0 bucket present at this SF)
    assert(out.exists(_.getLong(0) === 0L))
  }

  test("q20: qualifying suppliers genuinely exceed K× the mean share") {
    val li = Tables.lineitem(spark, sf01)
    val part = Tables.part(spark, sf01)
    val out = TpchQueries.q20(
      part, Tables.supplier(spark, sf01), li, Tables.nation(spark, sf01)).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getString(0)).sameElements(out.map(_.getString(0)).sorted))
  }

  test("q21: semi/anti existence pair — no blamed order has a second late supplier") {
    val li = Tables.lineitem(spark, sf01)
    val orders = Tables.orders(spark, sf01)
    val out = TpchQueries.q21(
      Tables.supplier(spark, sf01), li, orders, Tables.nation(spark, sf01))
    val rows = out.collect()
    assert(rows.nonEmpty)
    val waits = rows.map(_.getLong(1))
    assert(waits.sameElements(waits.sortBy(-(_: Long))))
    // the inequality rides the equi-key: no cartesian in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian product:\n$plan")
  }
}
