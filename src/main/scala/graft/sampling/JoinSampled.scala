package graft.sampling

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Correlated JOIN sampling — the universe sample pushed through a join
  * (Kandula et al., "Quickr: Lazily Approximating Complex AdHoc Queries
  * in BigData Clusters", SIGMOD 2016 §4: sample join INPUTS on the join
  * key, not the join output). Both sides keep a row iff the SAME
  * deterministic hash of the join key lands in the sampled range
  * ([[UniverseSampled.keep]]), so for a kept key the join is COMPLETE —
  * every order travels with all its lineitems — and a joined row's
  * inclusion probability is `p`, not `p²`: one first-order
  * Horvitz–Thompson scale `1/p` unbiases any additive aggregate. This is
  * the multi-table face of the engine's sampling core, and the reason
  * [[UniverseSampled]]'s unit atomicity exists at all.
  *
  * Contrast with the per-row samplers: Bernoulli-sampling each side
  * independently keeps a joined row with probability `p²` (100× the
  * variance at p = 0.1) and BREAKS per-key completeness (a kept order
  * sees a ~p-thinned subset of its lineitems, so per-key structure is
  * destroyed); and the deliberate no-sampled-Q3 note
  * ([[graft.queries.TpchQueries.lineUnit]]) still stands — per-ORDER
  * estimates from ~4 lineitems are statistically useless. The estimator
  * offered here aggregates COARSELY (order months, each spanning ~1/84
  * of all orderkeys), where the per-group key population carries the
  * usual √((1−p)/(p·n)) relative error.
  *
  * Scale shape: the keep-predicate is a codegen'd scan-stage filter on
  * each side (one md5 per row, below the join's exchange on BOTH sides —
  * spec-pinned), so 1−p of both tables never reaches the shuffle; at
  * 100 TB the join moves 10× fewer bytes end-to-end. Determinism makes
  * the whole estimator oracle-gated: DuckDB replays keep-set, join, and
  * integer HT scale bit-for-bit.
  *
  * Fixture-scale honesty (the [[UniverseSampled]] decision rule applied
  * to joins): at sf0.1 the post-sample orders side fits a broadcast, so
  * the join moves no shuffle bytes either way and the md5 per row makes
  * the sampled twin CPU-lighter (2.3 vs 3.0 s) but not wall-faster —
  * the q6 scan-bound regime. The shuffle-side win this operator exists
  * for appears exactly when neither side broadcasts (the 100 TB case):
  * then the sample cuts BOTH exchanges ×(1/p), which no single-table
  * sampler can do for a join.
  */
object JoinSampled {

  /** The T4 err_bound chain over a kept-key count: delegates to the ONE
    * shared (N, n) spelling ([[Stats.errBoundCol]]/[[Stats.errBoundSql]],
    * r16 — three estimator-local copies had accumulated) with the join
    * estimator's N̂ = n_keys·m population.
    */
  private def errBoundCol(
      nKeys: org.apache.spark.sql.Column, m: Long,
      confidence: Double): org.apache.spark.sql.Column =
    Stats.errBoundCol(nKeys * m, nKeys, confidence)

  /** SQL twin of [[errBoundCol]] over a key-count expression. */
  private def errBoundSql(cnt: String, m: Long, confidence: Double): String =
    Stats.errBoundSql(s"$cnt * $m", cnt, confidence)

  /** Revenue in 1e4 integer units (cents × percent, the TPC-H convention of
    * [[graft.queries.TpchQueries.q3]]) — the Column twin of [[RevE4Sql]];
    * the two spellings must change in lockstep.
    */
  private def revE4: org.apache.spark.sql.Column = {
    val priceC = round(col("l_extendedprice") * 100).cast("long")
    val discP = round(col("l_discount") * 100).cast("long")
    priceC * (lit(100L) - discP)
  }

  /** Exact twin: revenue and item count per order month over
    * orders⋈lineitem.
    */
  def revenueMonthly(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    orders
      .select(col("o_orderkey"), date_trunc("month", col("o_orderdate")).as("month"))
      .join(
        lineitem.select(col("l_orderkey"), revE4.as("rev_e4")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("month"))
      .agg(
        sum(col("rev_e4")).as("revenue_e4"),
        count(lit(1)).as("n_items"))
      .orderBy(col("month"))
  }

  /** The correlated-sample estimator: both sides universe-sampled on the
    * JOIN KEY (orderkey — the same salted hash string on both sides, so
    * the keep-sets coincide), aggregated identically, HT-scaled ×(1/p)
    * with the integer-exact [[UniverseSampled.scaleFor]]. Months whose
    * entire key population missed the sample are absent (an estimator
    * reports what it saw; at p = 0.1 over ~hundreds of orders per month
    * that is a measure-zero event on real fixtures).
    */
  def revenueMonthlySampledU(
      orders: DataFrame, lineitem: DataFrame, pct: Int = 10): DataFrame = {
    val m = UniverseSampled.scaleFor(pct)
    val o = UniverseSampled.sample(orders, col("o_orderkey"), pct)
    val l = UniverseSampled.sample(lineitem, col("l_orderkey"), pct)
    o.select(col("o_orderkey"), date_trunc("month", col("o_orderdate")).as("month"))
      .join(
        l.select(col("l_orderkey"), revE4.as("rev_e4")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("month"))
      .agg(
        (sum(col("rev_e4")) * m).as("est_revenue_e4"),
        (count(lit(1)) * m).as("est_items"))
      .orderBy(col("month"))
  }

  /** [[revenueMonthlySampledU]] plus the reference's T4 achieved-error
    * machinery per GROUP ([[Stats.errorBound]] semantics, the
    * [[CongressionalSampled.estimateWithBounds]] discipline applied to
    * joins): the sampling UNIT is the join key (an order — rows ride
    * atomically with their key), so the per-month evidence is
    * `n_keys` = distinct kept orderkeys, the estimated key population is
    * `n_hat = n_keys · (1/p)` (integer-exact — [[UniverseSampled.scaleFor]]
    * requires pct | 100), and
    * `err_bound = z · sqrt(0.25/n_keys) · sqrt((n_hat−n_keys)/(n_hat−1))`
    * — the same double chain over two already-exact integers, evaluated
    * in one fixed order, so the bound replays bit-for-bit in DuckDB.
    * Unlike congressional (which derives rates from exact per-stratum
    * counts), a join sample never sees the true key population, so the
    * finite-population correction uses the HT-estimated `n_hat`; at
    * p = 0.1 the correction is ≈ sqrt(1−p) and the bound reduces to the
    * scaladoc's √((1−p)/(p·n)) per-group relative error with n = n_hat.
    * Every output column is a pure function of the kept rows — the whole
    * frame stays oracle-gated.
    */
  def revenueMonthlySampledUWithBounds(
      orders: DataFrame, lineitem: DataFrame, pct: Int = 10,
      confidence: Double = 0.95): DataFrame = {
    val m = UniverseSampled.scaleFor(pct)
    val o = UniverseSampled.sample(orders, col("o_orderkey"), pct)
    val l = UniverseSampled.sample(lineitem, col("l_orderkey"), pct)
    o.select(col("o_orderkey"), date_trunc("month", col("o_orderdate")).as("month"))
      .join(
        l.select(col("l_orderkey"), revE4.as("rev_e4")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("month"))
      .agg(
        (sum(col("rev_e4")) * m).as("est_revenue_e4"),
        (count(lit(1)) * m).as("est_items"),
        countDistinct(col("o_orderkey")).as("n_keys"))
      .withColumn("err_bound", errBoundCol(col("n_keys"), m, confidence))
      .orderBy(col("month"))
  }

  /** Exact twin of the CHAIN estimator: revenue and item count per market
    * segment over customer⋈orders⋈lineitem.
    */
  def revenueBySegment(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    customer.select(col("c_custkey"), col("c_mktsegment"))
      .join(
        orders.select(col("o_custkey"), col("o_orderkey")),
        col("o_custkey") === col("c_custkey"))
      .join(
        lineitem.select(col("l_orderkey"), revE4.as("rev_e4")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(col("rev_e4")).as("revenue_e4"),
        count(lit(1)).as("n_items"))
      .orderBy(col("c_mktsegment"))
  }

  /** The FK-CHAIN estimator (Quickr §4's chain rule): sample on the key of
    * the FIRST join — customer and orders both keep by the same hash of
    * CUSTKEY — and let the rest of the chain ride COMPLETE: every kept
    * order joins ALL its lineitems with no hash on the lineitem side at
    * all, because orderkeys are functionally contained in kept custkeys
    * through the o⋈l foreign key. Inclusion probability of a joined row
    * stays `p` (decided once, at the customer), so the same first-order
    * ×(1/p) HT scale unbiases the per-segment roll-up (5 segments, each
    * spanning ~1/5 of all custkeys — the coarse-aggregate discipline).
    *
    * Honest scale note: the sample cuts the customer⋈orders exchange
    * ×(1/p) but NOT the lineitem scan/exchange — lineitem carries no
    * custkey to hash. At execution Spark's own runtime row-level filter
    * (InjectRuntimeFilter, the engine's semi-join reduction) can thin it
    * against the sampled orderkey set, and a production layout buckets
    * lineitem by orderkey anyway; the operator's own guarantee is
    * correctness of the estimator, not a free third-table scan.
    */
  def revenueBySegmentChainSampledU(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      pct: Int = 10): DataFrame = {
    val m = UniverseSampled.scaleFor(pct)
    val c = UniverseSampled.sample(customer, col("c_custkey"), pct)
    val o = UniverseSampled.sample(orders, col("o_custkey"), pct)
    c.select(col("c_custkey"), col("c_mktsegment"))
      .join(
        o.select(col("o_custkey"), col("o_orderkey")),
        col("o_custkey") === col("c_custkey"))
      .join(
        lineitem.select(col("l_orderkey"), revE4.as("rev_e4")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        (sum(col("rev_e4")) * m).as("est_revenue_e4"),
        (count(lit(1)) * m).as("est_items"))
      .orderBy(col("c_mktsegment"))
  }

  /** [[revenueBySegmentChainSampledU]] plus per-segment T4 bounds — the
    * [[revenueMonthlySampledUWithBounds]] machinery with the CHAIN's
    * sampling unit: the custkey (decided once at the first join), so
    * `n_keys` counts distinct kept custkeys per segment and every order/
    * lineitem rides inside its key's atom. Same integer n_hat = n_keys/p
    * and fixed-order double chain, so the bound stays oracle-replayable.
    */
  def revenueBySegmentChainSampledUWithBounds(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      pct: Int = 10, confidence: Double = 0.95): DataFrame = {
    val m = UniverseSampled.scaleFor(pct)
    val c = UniverseSampled.sample(customer, col("c_custkey"), pct)
    val o = UniverseSampled.sample(orders, col("o_custkey"), pct)
    c.select(col("c_custkey"), col("c_mktsegment"))
      .join(
        o.select(col("o_custkey"), col("o_orderkey")),
        col("o_custkey") === col("c_custkey"))
      .join(
        lineitem.select(col("l_orderkey"), revE4.as("rev_e4")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        (sum(col("rev_e4")) * m).as("est_revenue_e4"),
        (count(lit(1)) * m).as("est_items"),
        countDistinct(col("c_custkey")).as("n_keys"))
      .withColumn("err_bound", errBoundCol(col("n_keys"), m, confidence))
      .orderBy(col("c_mktsegment"))
  }

  private val RevE4Sql =
    "CAST(round(l_extendedprice * 100) AS BIGINT) * " +
      "(100 - CAST(round(l_discount * 100) AS BIGINT))"

  /** DuckDB oracle for [[revenueMonthly]]. */
  val revenueMonthlyOracleSql: String =
    s"""SELECT date_trunc('month', o_orderdate) AS month,
       |       CAST(sum($RevE4Sql) AS BIGINT) AS revenue_e4,
       |       count(*) AS n_items
       |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB oracle for [[revenueBySegment]]. */
  val revenueBySegmentOracleSql: String =
    s"""SELECT c_mktsegment,
       |       CAST(sum($RevE4Sql) AS BIGINT) AS revenue_e4,
       |       count(*) AS n_items
       |FROM customer
       |JOIN orders ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB oracle for [[revenueBySegmentChainSampledU]] — both custkey
    * keep-sets, the complete lineitem ride-along, and the integer HT
    * scale replayed exactly.
    */
  def revenueBySegmentChainSampledUOracleSql(pct: Int = 10): String = {
    val m = UniverseSampled.scaleFor(pct)
    val keepC = UniverseSampled.keepSql("c_custkey", pct)
    val keepO = UniverseSampled.keepSql("o_custkey", pct)
    s"""SELECT c_mktsegment,
       |       CAST(sum($RevE4Sql) AS BIGINT) * $m AS est_revenue_e4,
       |       count(*) * $m AS est_items
       |FROM (SELECT * FROM customer WHERE $keepC) c
       |JOIN (SELECT * FROM orders WHERE $keepO) o ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB oracle for [[revenueMonthlySampledUWithBounds]] — keep-sets,
    * join, integer HT scale, AND the double err_bound chain replayed in
    * the same operation order ([[CongressionalSampled]]'s bounds-oracle
    * precedent: the z literal and left-to-right double products agree
    * across both engines).
    */
  def revenueMonthlySampledUWithBoundsOracleSql(
      pct: Int = 10, confidence: Double = 0.95): String = {
    val m = UniverseSampled.scaleFor(pct)
    val keepO = UniverseSampled.keepSql("o_orderkey", pct)
    val keepL = UniverseSampled.keepSql("l_orderkey", pct)
    s"""SELECT date_trunc('month', o_orderdate) AS month,
       |       CAST(sum($RevE4Sql) AS BIGINT) * $m AS est_revenue_e4,
       |       count(*) * $m AS est_items,
       |       count(DISTINCT o_orderkey) AS n_keys,
       |       ${errBoundSql("count(DISTINCT o_orderkey)", m, confidence)}
       |         AS err_bound
       |FROM (SELECT * FROM orders WHERE $keepO) o
       |JOIN (SELECT * FROM lineitem WHERE $keepL) l ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB oracle for [[revenueBySegmentChainSampledUWithBounds]]. */
  def revenueBySegmentChainSampledUWithBoundsOracleSql(
      pct: Int = 10, confidence: Double = 0.95): String = {
    val m = UniverseSampled.scaleFor(pct)
    val keepC = UniverseSampled.keepSql("c_custkey", pct)
    val keepO = UniverseSampled.keepSql("o_custkey", pct)
    s"""SELECT c_mktsegment,
       |       CAST(sum($RevE4Sql) AS BIGINT) * $m AS est_revenue_e4,
       |       count(*) * $m AS est_items,
       |       count(DISTINCT c_custkey) AS n_keys,
       |       ${errBoundSql("count(DISTINCT c_custkey)", m, confidence)}
       |         AS err_bound
       |FROM (SELECT * FROM customer WHERE $keepC) c
       |JOIN (SELECT * FROM orders WHERE $keepO) o ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB oracle for [[revenueMonthlySampledU]] — keep-sets, join, and
    * integer HT scale replayed exactly.
    */
  def revenueMonthlySampledUOracleSql(pct: Int = 10): String = {
    val m = UniverseSampled.scaleFor(pct)
    val keepO = UniverseSampled.keepSql("o_orderkey", pct)
    val keepL = UniverseSampled.keepSql("l_orderkey", pct)
    s"""SELECT date_trunc('month', o_orderdate) AS month,
       |       CAST(sum($RevE4Sql) AS BIGINT) * $m AS est_revenue_e4,
       |       count(*) * $m AS est_items
       |FROM (SELECT * FROM orders WHERE $keepO) o
       |JOIN (SELECT * FROM lineitem WHERE $keepL) l ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
