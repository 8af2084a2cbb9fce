package graft.sampling

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.compare.ResultComparator
import graft.queries.{ReferenceQueries => RQ, Tables}

/** End-to-end acceptance of the approximate path — the reference's own test
  * protocol (SURVEY.md §5, RSMRResultComparator.java:58-82): run a query
  * exact (ratio 1.0) and sampled, HT-scale the sampled aggregates, and
  * assert the achieved data error rate stays within the theoretical bound
  * from the reference's formula (RandomSamplingUtil.java:376-378).
  *
  * With seeded `rand` these are HARD, deterministic assertions — not flaky
  * statistical checks.
  */
class SampledSpec extends SparkSpec {

  /** Jobs started while `body` ran, and its result. */
  private def jobs[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.GraftListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.GraftListenerBridge.drain(sc)
      (started.get, r)
    } finally sc.removeSparkListener(listener)
  }

  /** `s.report()`'s counts, whether it ran a job, and the truth. */
  private def reported(s: Sampled) = {
    val (n, rpt) = jobs(s.report())
    ((rpt.total, rpt.sampled), n > 0, (s.source.count(), s.data.count()))
  }

  test("sampled accounting: single pass agrees with the data filter's row set") {
    val docs = Tables.documents(spark, sf01)
    val s = Sampled(docs, SamplingConfig(ratio = 0.1))
    // The accounting job's when(rand<p) tag must select exactly the rows
    // the data filter keeps — same seed, same scan partitioning.
    assert(s.sampledCount === s.data.count())
    assert(s.totalCount === docs.count())
    assert(s.sampledCount > 0 && s.sampledCount < s.totalCount)
    // achieved rate lands near the designed rate
    assert(math.abs(s.actualRatio - 0.1) < 0.05)
  }

  test("report before any action: one recount") {
    val s = Sampled(Tables.documents(spark, sf01), SamplingConfig(ratio = 0.1))
    val (counts, recounted, truth) = reported(s)
    assert(counts === truth && recounted)
  }

  test("report after a full action reads its tally: no job") {
    val s = Sampled(Tables.documents(spark, sf01), SamplingConfig(ratio = 0.1))
    RQ.wordCount(s.data).collect() // passes the parallelism floor first
    val (counts, recounted, truth) = reported(s)
    assert(counts === truth && !recounted)
  }

  test("report after a limit: partitions stopped early are not counted") {
    val s = Sampled(Tables.documents(spark, sf01).repartition(4), SamplingConfig(ratio = 0.1))
    s.data.limit(3).collect() // the driver stops reading partitions
    s.data.limit(3).count() // a limit in the sample's own codegen stage stops each one
    val (counts, recounted, truth) = reported(s)
    assert(counts === truth && recounted)
  }

  test("report after a floor pass alone: the floor runs nothing, so one recount") {
    val s = Sampled(Tables.documents(spark, sf01), SamplingConfig(ratio = 0.1))
    Tables.parallelismFloor(s.data)
    val (counts, recounted, truth) = reported(s)
    assert(counts === truth && recounted)
  }

  test("report after a self-join of data: the complete side is read, no job") {
    val s = Sampled(Tables.documents(spark, sf01), SamplingConfig(ratio = 0.1))
    s.data.join(s.data, "doc_id").count()
    val (counts, recounted, truth) = reported(s)
    assert(counts === truth && !recounted)
  }

  test("report after a cached read: the cache build read every partition, no job") {
    val s = Sampled(Tables.documents(spark, sf01), SamplingConfig(ratio = 0.1))
    s.data.cache()
    try {
      s.data.count()
      val (counts, recounted, truth) = reported(s)
      assert(counts === truth && !recounted)
    } finally s.data.unpersist()
  }

  test("a partition read twice (a re-run or resubmitted map task) is tallied once") {
    val t = SampleKeep.tally(spark)
    val update = t.copyAndReset().asInstanceOf[SampleTally]
    update.record(2, 0, 10L, 1L)
    t.merge(update)
    assert(t.complete === None)
    t.merge(update) // the same partition's second successful attempt
    update.reset()
    update.record(2, 1, 7L, 2L)
    t.merge(update)
    assert(t.complete === Some((17L, 3L)))
  }

  test("a report reads only its own Sampled's executions") {
    val docs = Tables.documents(spark, sf01)
    Sampled(docs, SamplingConfig(ratio = 0.1)).data.collect()
    val (counts, recounted, truth) = reported(Sampled(docs, SamplingConfig(ratio = 0.1)))
    assert(counts === truth && recounted)
  }

  test("per-partition accounting: roll-up equals the aggregate counts, " +
    "rates concentrate around the designed ratio (S3 reader-detail fidelity)") {
    val events = Tables.events(spark, sf01).repartition(8)
    val s = Sampled(events, SamplingConfig(ratio = 0.1))
    val parts = s.partitionCounts.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the reader-equivalent breakdown: one row per scan partition
    assert(parts.length === 8)
    assert(parts.map(_._1).distinct.length === 8)
    // roll-up identity vs the single-pass aggregate accounting
    assert(parts.map(_._2).sum === s.totalCount)
    assert(parts.map(_._3).sum === s.sampledCount)
    // every reader's achieved rate sits near the designed ratio — the
    // per-reader znode detail the reference reported; at ~12k rows per
    // partition the binomial sd of the rate is ~0.003, so ±0.05 is a
    // deterministic-seed formality, not a statistical gamble
    parts.foreach { case (pid, total, sampled) =>
      assert(total > 0, s"partition $pid empty")
      assert(math.abs(sampled.toDouble / total - 0.1) < 0.05,
        s"partition $pid rate ${sampled.toDouble / total}")
    }
    // exact mode: every partition reports sampled == total
    val ex = Sampled(events, SamplingConfig.Exact).partitionCounts
      .filter(col("sampled") =!= col("total")).count()
    assert(ex === 0L)
  }

  test("exact mode (ratio 1.0) degenerates to identity — no filter, counts equal") {
    val docs = Tables.documents(spark, sf001)
    val s = Sampled(docs, SamplingConfig.Exact)
    assert(s.data.queryExecution.optimizedPlan === docs.queryExecution.optimizedPlan)
    assert(s.totalCount === s.sampledCount)
  }

  test("sampling is reproducible: same seed same rows, different seed different rows") {
    val docs = Tables.documents(spark, sf01)
    val a = Sampled(docs, SamplingConfig(ratio = 0.2, seed = 7L)).data.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampled(docs, SamplingConfig(ratio = 0.2, seed = 7L)).data.select("doc_id").collect().map(_.getLong(0)).toSet
    val c = Sampled(docs, SamplingConfig(ratio = 0.2, seed = 8L)).data.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
    assert(a !== c)
  }

  /** The reference's acceptance protocol for one query at one ratio, with
    * the statistics done honestly at small scale:
    *
    *  - The T4 bound (RandomSamplingUtil.java:376-378) bounds the error of a
    *    single estimated PROPORTION at the stated confidence. So we assert
    *    that ≥ confidence-fraction of keys have |sample share − true share|
    *    within the bound — the statement the formula actually makes.
    *  - The comparator's L1 metric (Σ|exact − est|/Σexact,
    *    RSMRResultComparator.java:58-82) concentrates like
    *    Σ√(cnt_k·(1−p)/p) / Σcnt_k (per-key CLT); we assert it under a
    *    3σ-margin version of that. At GB scale (reference's corpus) this
    *    collapses to its <1% claim; at sf0.01 the honest bound is larger.
    *
    * Seeded rand makes both hard deterministic checks.
    */
  private def assertWithinBound(
      source: org.apache.spark.sql.DataFrame,
      query: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      keys: Seq[String],
      ratio: Double): Unit = {
    val exact = query(source)
    val s = Sampled(source, SamplingConfig(ratio = ratio))
    val est = HtTwin.scaled(query(s.data), s.htScale, Seq("cnt"))
    val err = ResultComparator.dataErrorRate(exact, est, keys)

    // CLT-derived bound on the L1 metric from the exact per-key counts.
    val cnts = exact.select(col("cnt").cast("double")).collect().map(_.getDouble(0))
    val l1Bound = 3.0 * math.sqrt((1 - ratio) / ratio) *
      cnts.map(math.sqrt).sum / cnts.sum
    assert(err >= 0.0)
    assert(
      err <= l1Bound,
      s"L1 data error rate $err exceeds 3-sigma CLT bound $l1Bound at ratio $ratio")

    // Per-key share coverage at the T4 bound: the proportion statement.
    val bound = Stats.errorBound(s.config.confidence, s.totalCount, s.sampledCount)
    val n = s.sampledCount.toDouble
    val N = s.totalCount.toDouble
    val joined = exact
      .withColumnRenamed("cnt", "__exact")
      .join(
        query(s.data).withColumnRenamed("cnt", "__samp"),
        keys,
        "full_outer")
      .select(
        coalesce(col("__exact").cast("double"), lit(0.0)).as("e"),
        coalesce(col("__samp").cast("double"), lit(0.0)).as("a"))
      .collect()
    val within = joined.count(r => math.abs(r.getDouble(1) / n - r.getDouble(0) / N) <= bound)
    val frac = within.toDouble / joined.length
    assert(
      frac >= s.config.confidence - 0.05,
      s"only $frac of per-key shares within the T4 bound $bound at ratio $ratio " +
        s"(expected ≥ ~${s.config.confidence})")
  }

  test("logHost sampled at 0.5 and 0.1: error within statistical bounds (sf0.01)") {
    val events = Tables.events(spark, sf01)
    assertWithinBound(events, RQ.logHost, Seq("host"), 0.5)
    assertWithinBound(events, RQ.logHost, Seq("host"), 0.1)
  }

  test("logSize sampled at 0.1: error within statistical bounds (sf0.01)") {
    val events = Tables.events(spark, sf01)
    assertWithinBound(events, RQ.logSize, Seq("bucket"), 0.1)
  }

  test("wordCount sampled at 0.1: HT-scaled totals within bound (sf0.01)") {
    val docs = Tables.documents(spark, sf01)
    val exact = RQ.wordCount(docs)
    val s = Sampled(docs, SamplingConfig(ratio = 0.1))
    val est = HtTwin.scaled(RQ.wordCount(s.data), s.htScale, Seq("cnt"))
    val err = ResultComparator.dataErrorRate(exact, est, Seq("word"))
    // Word counts are per-line-sampled (cluster sampling of tokens), so the
    // per-record iid bound doesn't strictly apply to token counts; the
    // reference accepts <1% data difference at GB scale — at sf0.01 we
    // assert the same order of magnitude.
    assert(err > 0.0 && err < 0.1, s"wordCount data error rate $err out of range")
  }

  test("sampling report carries the reference's exact field labels (T6)") {
    val docs = Tables.documents(spark, sf001)
    val s = Sampled(docs, SamplingConfig(ratio = 0.5))
    val rpt = s.report().toString
    for (label <- Seq(
        "[Job ID]", "[Total record]", "[Sampled record]", "[Designed sample rate]",
        "[Actual sample rate]", "[Confidence level]", "[Error rate]", "[Time cost]"))
      assert(rpt.contains(label), s"report missing $label\n$rpt")
  }

  test("ResultComparator: hand-computed golden case") {
    import spark.implicits._
    // exact: a=10, b=20; approx estimates: a=8, c=3  (b missing → 0)
    val exact = Seq(("a", 10L), ("b", 20L)).toDF("k", "cnt")
    val approx = Seq(("a", 8.0), ("c", 3.0)).toDF("k", "est_cnt")
    val err = ResultComparator.dataErrorRate(exact, approx, Seq("k"))
    // |10-8| + |20-0| + |0-3| = 25 over total 30
    assert(math.abs(err - 25.0 / 30.0) < 1e-12)
  }

  test("HT estimator is unbiased: mean over a deterministic seed set hits the total") {
    val docs = Tables.documents(spark, sf001)
    val total = docs.count().toDouble
    val p = 0.2
    val estimates = (1L to 20L).map { seed =>
      Sampled(docs, SamplingConfig(ratio = p, seed = seed)).sampledCount / p
    }
    val mean = estimates.sum / estimates.size
    // per-estimate sd = sqrt(N(1-p)/p) ≈ 44.7 at N=500, p=0.2 → sd of the
    // 20-seed mean ≈ 10 → assert 3σ
    assert(math.abs(mean - total) < 30, s"mean HT estimate $mean vs true $total")
    // and individual estimates actually vary (it's a real sample, not a constant)
    assert(estimates.distinct.size > 5)
  }

  test("identical inputs give zero error") {
    import spark.implicits._
    val exact = Seq(("a", 10L), ("b", 20L)).toDF("k", "cnt")
    val approx = exact.withColumnRenamed("cnt", "est_cnt")
    assert(ResultComparator.dataErrorRate(exact, approx, Seq("k")) === 0.0)
  }
}
