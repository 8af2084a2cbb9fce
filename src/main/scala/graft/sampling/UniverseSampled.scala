package graft.sampling

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Hashing

/** Universe (hash-range) sampling: keep a row iff a deterministic 60-bit
  * content hash of its sampling UNIT lands in the first `pct` of
  * [[RangeMod]] residues — the Quickr-style universe sample (Kandula et
  * al., "Quickr: Lazily Approximating Complex AdHoc Queries in BigData
  * Clusters", SIGMOD 2016 §4) beside the seeded Bernoulli sampler
  * ([[Sampled]]).
  *
  * Two properties the Bernoulli sampler cannot offer:
  *
  *  1. '''Replayability.''' The predicate is a pure function of the data
  *     (md5-prefix hash, no RNG), so an external engine can reproduce the
  *     EXACT sampled row set — these are the only sampled queries the
  *     DuckDB oracle fully hash-gates, converting the engine's AQP core
  *     from spec-trusted to oracle-proven
  *     ([[graft.dedup.DedupRate]] proved the pattern in r8; this module
  *     generalizes it to the word-count/wireless/TPC-H/stratified/token-
  *     budget families).
  *  2. '''Unit atomicity.''' All rows sharing a unit value are kept or
  *     dropped together, so per-unit structure (duplicate clusters, join
  *     keys) survives sampling intact — the reason [[graft.dedup.DedupRate]]
  *     samples by content hash and Quickr samples join inputs by key.
  *
  * Scale shape: identical to the Bernoulli path — the predicate is a
  * codegen'd scan-stage filter (the native [[graft.functions.Hash60]]
  * kernel: one md5 of a short key string per row it reaches), so 1−p of
  * a 100 TB corpus never leaves the scan loop, and Catalyst prunes
  * columns below it. [[graft.plans.HashLast]] evaluates the hash after
  * the query's own cheap comparisons in the same filter, so rows those
  * comparisons reject are never hashed. Horvitz–Thompson scale-up is the
  * same ×(1/p); the trade-off vs `rand(seed)` is paying one md5 per
  * surviving row for determinism.
  *
  * The unit hash is salted (`"u:"`) so this sampling decision is
  * independent of every other hash60 use of the same column (MinHash
  * seeds, token-budget ordering, DedupRate's content ranges).
  *
  * ==Which sampler should I use?==
  * Decision rule (measured with `graft.tools.Profile`, sf0.1, 4 cores,
  * two runs per side; PROFILE_HASH60.md): with the native kernel and
  * hash-last filters the universe (`_u10`) twin costs no more executor
  * CPU than its exact query on the scan-bound TPC-H shapes, and less
  * wall where its sample thins a downstream aggregate or join: q1 `_u10`
  * 0.66–0.77 s wall and 0.30 s stage CPU vs 0.85–0.96 s and 0.39–0.45 s
  * exact; q6 `_u10` 0.36–0.37 s and 0.12–0.13 s vs 0.25–0.35 s and
  * 0.08–0.10 s exact (before the kernel: 0.94–0.96 s and 0.77–0.80 s);
  * revenue-monthly `_u10` 0.84–0.86 s vs 0.99–1.28 s exact. On q6 the
  * remaining gap is the hash of the ~2 % of rows that pass the query's
  * own predicates plus the driver's fixed planning cost, so the seeded
  * Bernoulli [[Sampled]] `_r10` twin — one RNG draw per row, no hash —
  * is still the cheapest sampler there. When per-row DOWNSTREAM work
  * dominates — tokenize/explode/regex/join after the sample — the
  * universe family wins AND is oracle-proven (wordcount 0.67 vs 0.77 s
  * exact, text_quality 0.35 vs 0.97, text_tokens 0.23 vs 0.72 at sf0.1,
  * BASELINE.md r9 ledger, before the kernel). Pick Bernoulli for the
  * lowest per-row cost; pick universe for its extra properties (exact
  * replayability, unit atomicity, retry/re-split determinism), which now
  * cost about one hash per row that survives the query's own filters.
  */
object UniverseSampled {

  /** Residue modulus (percent granularity). */
  val RangeMod = 100L

  private val Salt = "u:"

  /** Integer Horvitz–Thompson scale 1/p = RangeMod/pct for the
    * integer-exact estimator paths. Valid ONLY for pct dividing
    * [[RangeMod]]: the exactness discipline demands an integer 1/p, and
    * an unchecked `RangeMod / pct` at, say, pct = 3 silently floors
    * 33.33→33 — a ~1 % systematic underestimate — while pct = 0 divides
    * by zero and pct > 100 scales by 0. Fail loudly at plan build.
    */
  def scaleFor(pct: Int): Long = {
    require(pct >= 1 && pct <= RangeMod && RangeMod % pct == 0,
      s"integer-exact HT scaling needs pct in [1, $RangeMod] dividing " +
        s"$RangeMod (got $pct); use the double-typed scale for other rates")
    RangeMod / pct
  }

  /** The salted unit hash's residue in [0, [[RangeMod]]) — [[keep]] is
    * `residue < pct`. Exposed so a multi-rung consumer (the ratio ladder)
    * can compute the residue ONCE per row and evaluate every rung as a
    * comparison against it, instead of one md5 per rung per row.
    */
  def residue(unit: Column): Column =
    Hashing.hash60(concat(lit(Salt), unit.cast("string"))) % RangeMod

  /** `pct` itself, once it lies in [1, [[RangeMod]]]. Outside that range
    * a sample is silently wrong: pct = 150 keeps every row while
    * [[scale]] reports 0.667, and pct = 0 keeps none and scales by
    * Infinity. Fail loudly at plan build instead.
    */
  private def checked(pct: Int): Int = {
    require(pct >= 1 && pct <= RangeMod,
      s"universe sample pct must be in [1, $RangeMod] (got $pct)")
    pct
  }

  /** Keep-predicate: hash of the salted unit in [0, pct). */
  def keep(unit: Column, pct: Int): Column =
    residue(unit) < checked(pct)

  /** DuckDB text of [[keep]] for oracle generation; `unitExpr` is a SQL
    * expression for the unit column (cast to VARCHAR here, mirroring the
    * Spark-side string cast).
    */
  def keepSql(unitExpr: String, pct: Int): String =
    s"${Hashing.hash60Sql(s"'$Salt' || CAST($unitExpr AS VARCHAR)")} % $RangeMod < ${checked(pct)}"

  /** The `pct`-percent universe sample of `df` by `unit`. */
  def sample(df: DataFrame, unit: Column, pct: Int): DataFrame =
    df.filter(keep(unit, pct))

  /** Horvitz–Thompson scale factor 1/p (exact in IEEE 754 for the divisors
    * of 100 used here).
    */
  def scale(pct: Int): Double = RangeMod.toDouble / checked(pct)

  /** Horvitz–Thompson scale-up of an additive aggregate over the
    * `pct`-percent sample: `aggregate * scale(pct)`, the
    * [[HtTwin.scaled]] argument.
    */
  def htScale(pct: Int): Column => Column = {
    val s = lit(scale(pct))
    aggregate => aggregate * s
  }

  /** SQL literal of [[scale]] — e.g. "10.0", so `count(*) * 10.0` is a
    * DOUBLE in DuckDB exactly like Spark's `cnt * lit(10.0)`.
    */
  def scaleSql(pct: Int): String = scale(pct).toString
}
