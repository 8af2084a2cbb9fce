package graft.sampling

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.{ReferenceQueries => RQ, Tables}

class UniverseSampledSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf01)
  private lazy val events = Tables.events(spark, sf01)

  test("deterministic: the keep-set is a pure function of the data") {
    val a = UniverseSampled.sample(docs, col("doc_id"), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = UniverseSampled.sample(docs, col("doc_id"), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("a pct outside [1, 100] fails at plan build, naming the argument") {
    for (bad <- Seq(0, -10, 101, 150)) {
      val errors = Seq(
        intercept[IllegalArgumentException](UniverseSampled.sample(docs, col("doc_id"), bad)),
        intercept[IllegalArgumentException](UniverseSampled.keep(col("doc_id"), bad)),
        intercept[IllegalArgumentException](UniverseSampled.keepSql("doc_id", bad)),
        intercept[IllegalArgumentException](UniverseSampled.scale(bad)),
        intercept[IllegalArgumentException](UniverseSampled.scaleSql(bad)))
      errors.foreach(e => assert(e.getMessage.contains(s"pct must be in [1, 100] (got $bad)")))
    }
    // the range ends stay valid
    assert(UniverseSampled.scale(1) === 100.0)
    assert(UniverseSampled.scaleSql(100) === "1.0")
    assert(UniverseSampled.keepSql("doc_id", 100).endsWith("% 100 < 100"))
  }

  test("achieved rate ≈ pct and HT estimate tracks the exact total") {
    val n = docs.count()
    val kept = UniverseSampled.sample(docs, col("doc_id"), 10).count()
    val achieved = kept.toDouble / n
    assert(math.abs(achieved - 0.10) < 0.03, s"achieved $achieved")
    // HT-scaled word-count total vs the exact total (corpus-level sums
    // concentrate; per-word counts are checked by the DuckDB oracle)
    val exact = RQ.wordCount(docs).agg(sum("cnt")).head().getLong(0).toDouble
    val est = HtTwin.scaled(RQ.wordCount(UniverseSampled.sample(docs, col("doc_id"), 10)),
      UniverseSampled.htScale(10), Seq("cnt"))
      .agg(sum("est_cnt")).head().getDouble(0)
    assert(math.abs(est - exact) / exact < 0.1, s"est $est vs exact $exact")
  }

  test("unit atomicity: all rows of a sampled unit survive together") {
    // sample events by user_id: every kept user keeps ALL their events
    val s = UniverseSampled.sample(events, col("user_id"), 10)
    val keptPerUser = s.groupBy("user_id").count()
    val totalPerUser = events.groupBy("user_id").count()
      .withColumnRenamed("count", "total")
    val partial = keptPerUser.join(totalPerUser, "user_id")
      .filter(col("count") =!= col("total")).count()
    assert(partial === 0L)
  }

  test("universe-stratified: exact integer HT weights, unbiased-ish estimates") {
    val base = events.select(
      col("event_type"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val s = StratifiedSampled.sampleUniverse(
      base, "event_type", col("event_id"), ratesBp = Map("view" -> 500, "click" -> 2000))
    val weights = s.select("event_type", "ht_weight").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(weights("view") === 20.0)
    assert(weights("click") === 5.0)
    assert(weights.filterNot(w => Set("view", "click")(w._1)).values.forall(_ === 1.0))
    val est = StratifiedSampled.estimateCounts(s, "event_type", "cents")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val truth = base.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    // default-rate strata are kept whole → exact; sampled strata within noise
    assert(est("purchase") === truth("purchase"))
    assert(math.abs(est("view") - truth("view")) / truth("view") < 0.35)
    // determinism: the same call returns the same surviving rows
    val ids1 = s.select("event_id").collect().map(_.getLong(0)).toSet
    val ids2 = StratifiedSampled.sampleUniverse(
      base, "event_type", col("event_id"), ratesBp = Map("view" -> 500, "click" -> 2000))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2)
  }

  test("sampled token budget: prefix property and budget accuracy vs exact") {
    val sel = TokenBudget.selectSampled(docs).collect()
    assert(sel.nonEmpty)
    // the selection is a prefix in cum order: est_cum = cum×10 everywhere
    assert(sel.forall(r => r.getLong(3) === r.getLong(2) * 10))
    // budget accounting: the estimated selected token mass must be ~40 %
    // of the estimated corpus mass (the den=5,num=2 default), and the
    // estimate of the corpus mass must track the true mass
    val sampleTok = TokenBudget
      .selectSampled(docs, num = 1, den = 1).agg(sum("tok")).head().getLong(0)
    val estCorpus = sampleTok * 10.0
    val trueCorpus = docs
      .select(size(split(trim(col("text")), "\\s+")).cast("long").as("tok"))
      .agg(sum("tok")).head().getLong(0).toDouble
    assert(math.abs(estCorpus - trueCorpus) / trueCorpus < 0.1,
      s"est corpus $estCorpus vs true $trueCorpus")
    val selectedEst = sel.map(_.getLong(1)).sum * 10.0
    val ratio = selectedEst / estCorpus
    // ≤ 0.4 by construction; close to it unless doc granularity intervenes
    assert(ratio <= 0.4 + 1e-9, s"selected ratio $ratio")
    assert(ratio > 0.3, s"selected ratio $ratio")
  }
}
