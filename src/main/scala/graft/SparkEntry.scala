package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.dedup.{CosinePairs, DedupClusters, DedupCorpus, JaccardPairs, MinHashLSH, SimHash}
import graft.similarity.SimilaritySearch
import graft.multimodal.Multimodal
import graft.text.TextAnalysis
import graft.queries.{ReferenceQueries => RQ, Tables, TpchQueries}
import graft.sampling.{HtTwin, Sampled, SamplingConfig, UniverseSampled}

/** How a declared query's result is judged against an independent engine. */
sealed trait Oracle

/** DuckDB SQL over the same parquet tables, whose result must hash-match
  * the query's. */
final case class Sql(sql: String) extends Oracle

/** No SQL replay exists, for the stated `reason`; the correctness gate
  * checks rows only and a spec pins the result. `layoutSensitive` marks the queries
  * whose answer legitimately depends on the input file layout — only a
  * query without an oracle can be one.
  */
final case class NoOracle(reason: String, layoutSensitive: Boolean = false) extends Oracle

/** One declared query: its name, how to build it over a scale-factor
  * directory, and its oracle. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame, oracle: Oracle)

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Naming discipline: every aggregate/computed column is aliased identically
  * in the Spark pipeline and the DuckDB oracle SQL (the driver's compare
  * sorts columns by name before hashing values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's flagship: sampled word count with HT scale-up
    * (SURVEY.md §7.3).
    */
  def entry(spark: SparkSession): DataFrame = {
    val r10 = Sampled(Tables.documents(spark, "/root/testdata/sf0.001"), SamplingConfig(ratio = 0.1))
    HtTwin.scaled(RQ.wordCount(r10.data), r10.htScale, Seq("cnt"))
  }

  /** Every declared query, each stated once with its oracle — one entry
    * per implemented operator from SURVEY.md §2. Built on first use, so
    * the oracle strings are rendered once per JVM.
    */
  lazy val all: Seq[Query] = unique(Seq(
    // --- reference parity (exact mode, ratio = 1.0) ---
    Query("wordcount", (s, dir) => RQ.wordCount(Tables.documents(s, dir)).orderBy("word"),
      Sql(WordCountSql)),
    Query("charcount", (s, dir) => RQ.charCount(Tables.documents(s, dir)).orderBy("ch"),
      Sql("""SELECT ch, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, '')) AS ch FROM documents)
        |WHERE ch <> '' GROUP BY ch ORDER BY ch""".stripMargin)),
    // The seven log tasks run on parse(synthesize(events)) — raw CLF lines
    // through the real regexp parse + prefix match + path extraction
    // (P5/P6/P9), so the oracle checks the string processing itself. Their
    // oracle SQL states the *semantic* result of that round trip directly
    // over events (corrupt lines are event_id % 97 = 0, attack probes
    // event_id % 20 = 0, bytes = round(value*100)).
    Query("log_hack", (s, dir) => RQ.clfHack(RQ.clfParsed(Tables.events(s, dir))).orderBy("host"),
      Sql("""SELECT 'h' || CAST(user_id AS VARCHAR) || '.example.com' AS host, count(*) AS cnt
        |FROM events WHERE event_id % 97 <> 0 AND event_id % 20 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("log_host", (s, dir) => RQ.clfHost(RQ.clfParsed(Tables.events(s, dir))).orderBy("host"),
      Sql("""SELECT 'h' || CAST(user_id AS VARCHAR) || '.example.com' AS host, count(*) AS cnt
        |FROM events WHERE event_id % 97 <> 0 GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("log_dateweek", (s, dir) => RQ.clfDateweek(RQ.clfParsed(Tables.events(s, dir))).orderBy("dateweek"),
      Sql("""SELECT strftime(ts, '%a %H') AS dateweek, count(*) AS cnt
        |FROM events WHERE event_id % 97 <> 0 GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("log_size", (s, dir) => RQ.clfSize(RQ.clfParsed(Tables.events(s, dir))).orderBy("bucket"),
      Sql("""SELECT CAST(floor(CAST(round(value * 100) AS BIGINT) / 100) * 100 AS BIGINT) AS bucket,
        |       count(*) AS cnt
        |FROM events WHERE event_id % 97 <> 0 GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("log_totalsize", (s, dir) => RQ.clfTotalsize(RQ.clfParsed(Tables.events(s, dir))),
      Sql("""SELECT 'Total' AS key, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total
        |FROM events WHERE event_id % 97 <> 0 GROUP BY 1""".stripMargin)),
    Query("log_pagesize", (s, dir) => RQ.clfPagesize(RQ.clfParsed(Tables.events(s, dir))).orderBy("page"),
      Sql("""SELECT CASE WHEN event_id % 20 = 0 THEN
        |  ['/w00tw00t','/phpMyAdmin','/pma','/myadmin','/MyAdmin','/phpTest','/cgi-bin/php','/cgi-bin/php5','/cgi-bin/php-cgi'][CAST(event_id % 9 AS INT) + 1] || '/x'
        |  ELSE '/' || event_type || '/item' || CAST(event_id % 50 AS VARCHAR) END AS page,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total
        |FROM events WHERE event_id % 97 <> 0 GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("log_page", (s, dir) => RQ.clfPage(RQ.clfParsed(Tables.events(s, dir))).orderBy("page"),
      Sql("""SELECT CASE WHEN event_id % 20 = 0 THEN
        |  ['/w00tw00t','/phpMyAdmin','/pma','/myadmin','/MyAdmin','/phpTest','/cgi-bin/php','/cgi-bin/php5','/cgi-bin/php-cgi'][CAST(event_id % 9 AS INT) + 1] || '/x'
        |  ELSE '/' || event_type || '/item' || CAST(event_id % 50 AS VARCHAR) END AS page,
        |  count(*) AS cnt
        |FROM events WHERE event_id % 97 <> 0 GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("wireless_links", (s, dir) => RQ.wirelessLinks(Tables.events(s, dir)).orderBy("link"),
      Sql(RQ.wirelessLinksOracleSql())),
    // --- graph analytics over the P10 link graph: integer fixed-point
    // --- PageRank (bit-exact across engines — no floating point anywhere)
    // --- and the degree-distribution profile ---
    // triangle census via degree-ordered orientation (Suri-Vassilvitskii
    // WWW'11): oriented out-degrees are O(sqrt m), so no hub ever owns a
    // quadratic wedge set — the "last reducer" stays bounded
    Query("graph_triangles", (s, dir) =>
      graft.graphs.Triangles.stats(Tables.events(s, dir)),
      Sql(graft.graphs.Triangles.statsOracleSql)),
    // per-vertex triangle counts + local clustering coefficients
    // (Watts-Strogatz): the census pipeline plus one |V|-bounded
    // aggregate over exploded triangle vertices
    Query("graph_clustering", (s, dir) =>
      graft.graphs.Triangles.localClustering(Tables.events(s, dir))
        .orderBy("v"),
      Sql(graft.graphs.Triangles.localClusteringOracleSql)),
    // bounded-round k-core peel (r17): k derived in-plan (m div n + 1),
    // five unrolled rounds replayed by MATERIALIZED oracle CTEs; per
    // round one degree aggregate + two node-keyed semi-joins, edge frame
    // localCheckpoint'd (the CC lineage discipline)
    Query("graph_kcore", (s, dir) =>
      graft.graphs.KCore.core(Tables.events(s, dir)).orderBy("node"),
      Sql(graft.graphs.KCore.coreOracleSql)),
    Query("graph_kcore_summary", (s, dir) =>
      graft.graphs.KCore.summary(Tables.events(s, dir)),
      Sql(graft.graphs.KCore.summaryOracleSql)),
    // DOULION sampled census (KDD'09): edge-atomic universe keep at 10%,
    // HT scale 1/p per edge and (1/p)^3 per triangle — wedge cost drops
    // ~p^1.5 and the deterministic sample makes the estimate hash-gated
    Query("graph_triangles_sampled_u10", (s, dir) =>
      graft.graphs.Triangles.statsSampledU(Tables.events(s, dir)),
      Sql(graft.graphs.Triangles.statsSampledUOracleSql())),
    Query("graph_pagerank", (s, dir) =>
      graft.graphs.PageRank.ranks(Tables.events(s, dir)).orderBy("node"),
      Sql(graft.graphs.PageRank.ranksOracleSql())),
    Query("graph_degree_hist", (s, dir) =>
      graft.graphs.PageRank.degreeHistogram(Tables.events(s, dir)).orderBy("degree"),
      Sql(graft.graphs.PageRank.degreeHistogramOracleSql)),
    // sampled twins of the graph family (edge-atomic universe sample,
    // md5 keep-predicate → fully oracle-gated): first-order HT degree
    // estimates, and the mixed-order 1/p,1/p² moment ladder (sum_deg,
    // wedges). Rank itself is deliberately NOT estimated — PageRank is a
    // nonlinear fixed point, no HT weighting unbiases it (PageRank
    // .graphMomentsSampledU scaladoc has the decision)
    Query("graph_degree_hist_sampled_u10", (s, dir) =>
      graft.graphs.PageRank.degreeHistogramSampledU(Tables.events(s, dir))
        .orderBy("est_degree"),
      Sql(graft.graphs.PageRank.degreeHistogramSampledUOracleSql())),
    Query("graph_moments", (s, dir) =>
      graft.graphs.PageRank.graphMoments(Tables.events(s, dir)),
      Sql(graft.graphs.PageRank.graphMomentsOracleSql)),
    Query("graph_moments_sampled_u10", (s, dir) =>
      graft.graphs.PageRank.graphMomentsSampledU(Tables.events(s, dir)),
      Sql(graft.graphs.PageRank.graphMomentsSampledUOracleSql())),
    // --- approximate mode: every single-table sampled twin is its exact
    // --- query over the keep-set, HT-scaled by graft.sampling.HtTwin.
    // --- Seeded Bernoulli (r10) twins have no SQL oracle: an external
    // --- engine can't reproduce Spark's RNG stream ---
    Query("wordcount_sampled_r10", (s, dir) => {
      val r10 = Sampled(Tables.documents(s, dir), SamplingConfig(ratio = 0.1))
      HtTwin.scaled(RQ.wordCount(r10.data), r10.htScale, Seq("cnt")).orderBy("word")
    }, SeededDraws),
    Query("wireless_sampled_r10", (s, dir) => {
      val r10 = Sampled(Tables.events(s, dir), SamplingConfig(ratio = 0.1))
      HtTwin.scaled(RQ.wirelessLinks(r10.data), r10.htScale, Seq("cnt")).orderBy("link")
    }, SeededDraws),
    // the AQP core applied to the LLM-curation layer (VERDICT r7 gap 1):
    // quality distribution + corpus token budget on a 10 % seeded sample,
    // HT-scaled — the "survey the corpus before the full 100 TB pass" shape
    Query("text_quality_sampled_r10", (s, dir) => {
      val r10 = Sampled(Tables.documents(s, dir), SamplingConfig(ratio = 0.1))
      HtTwin.scaled(TextAnalysis.qualityDistribution(r10.data), r10.htScale, Seq("cnt"))
        .orderBy("bucket")
    }, SeededDraws),
    Query("text_tokens_sampled_r10", (s, dir) => {
      val r10 = Sampled(Tables.documents(s, dir), SamplingConfig(ratio = 0.1))
      HtTwin.scaled(TextAnalysis.tokenTotals(r10.data), r10.htScale, Seq("total"))
    }, SeededDraws),
    // --- universe-sampled (hash-range) AQP twins: the keep-predicate is a
    // --- deterministic md5-range test on the sampling unit, so unlike the
    // --- rand(seed) r10 twins these replay bit-exactly in DuckDB — the
    // --- fully ORACLE-GATED sampled family (the DedupRate pattern,
    // --- VERDICT r8 next-1, generalized via sampling/UniverseSampled) ---
    Query("wordcount_sampled_u10", (s, dir) =>
      HtTwin.scaled(RQ.wordCount(UniverseSampled.sample(Tables.documents(s, dir), col("doc_id"), 10)),
        UniverseSampled.htScale(10), Seq("cnt")).orderBy("word"),
      Sql(WordCountU10Sql)),
    // the reference's FULL experiment protocol as one gated query: the
    // universe-sampling ladder with per-rung comparator error (integer
    // basis points) and T4 bound (VERDICT r15 item 6)
    Query("wordcount_ladder_u", (s, dir) =>
      graft.RatioLadder.wordcountLadderU(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .orderBy(col("pct").desc),
      Sql(graft.RatioLadder.wordcountLadderUOracleSql)),
    // the SAME declared ladder over the reference's apachelog family
    // (randApacheLogAnalysis.sh ran the identical protocol): host counts
    // over raw CLF lines, sampled by line
    Query("log_host_ladder_u", (s, dir) =>
      graft.RatioLadder.logHostLadderU(Tables.events(s, dir))
        .orderBy(col("pct").desc),
      Sql(graft.RatioLadder.logHostLadderUOracleSql)),
    // charcount completes the reference's ladder trio (randCharCount.sh)
    Query("charcount_ladder_u", (s, dir) =>
      graft.RatioLadder.charcountLadderU(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .orderBy(col("pct").desc),
      Sql(graft.RatioLadder.charcountLadderUOracleSql)),
    Query("wireless_sampled_u10", (s, dir) =>
      HtTwin.scaled(RQ.wirelessLinks(UniverseSampled.sample(Tables.events(s, dir), col("event_id"), 10)),
        UniverseSampled.htScale(10), Seq("cnt")).orderBy("link"),
      Sql(HtTwin.sql(RQ.wirelessLinksOracleSql, "events", "event_id", 10, Seq("cnt")))),
    Query("text_quality_sampled_u10", (s, dir) =>
      HtTwin.scaled(
        TextAnalysis.qualityDistribution(UniverseSampled.sample(Tables.documents(s, dir), col("doc_id"), 10)),
        UniverseSampled.htScale(10), Seq("cnt")).orderBy("bucket"),
      Sql(HtTwin.sql(
        TextAnalysis.qualityDistributionOracleSql, "documents", "doc_id", 10, Seq("cnt")))),
    Query("text_tokens_sampled_u10", (s, dir) =>
      HtTwin.scaled(
        TextAnalysis.tokenTotals(UniverseSampled.sample(Tables.documents(s, dir), col("doc_id"), 10)),
        UniverseSampled.htScale(10), Seq("total")),
      Sql(HtTwin.sql(TextAnalysis.tokenTotalsOracleSql, "documents", "doc_id", 10, Seq("total")))),
    // unit = the lineitem row identity (TpchQueries.lineUnit)
    Query("tpch_q6_sampled_u10", (s, dir) =>
      HtTwin.scaled(
        TpchQueries.q6(UniverseSampled.sample(Tables.lineitem(s, dir), TpchQueries.lineUnit, 10)),
        UniverseSampled.htScale(10), Seq("revenue_e4")),
      Sql(HtTwin.sql(
        TpchQueries.q6OracleSql, "lineitem", TpchQueries.LineUnitSql, 10, Seq("revenue_e4")))),
    // correlated JOIN sampling (Quickr §4): both sides universe-sampled on
    // the JOIN KEY, so kept orders travel with ALL their lineitems and one
    // first-order ×(1/p) HT scale unbiases the monthly roll-up —
    // deterministic keep-sets → the multi-table estimator is oracle-gated
    Query("tpch_revenue_monthly", (s, dir) =>
      graft.sampling.JoinSampled.revenueMonthly(
        Tables.orders(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.sampling.JoinSampled.revenueMonthlyOracleSql)),
    Query("tpch_revenue_monthly_sampled_u10", (s, dir) =>
      graft.sampling.JoinSampled.revenueMonthlySampledU(
        Tables.orders(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.sampling.JoinSampled.revenueMonthlySampledUOracleSql())),
    // the estimator plus T4-style per-month error bounds from the kept
    // KEY count (n_keys, n_hat = n_keys/p) — the congressional
    // estimateWithBounds discipline for joins, fully oracle-replayable
    Query("tpch_revenue_monthly_bounds_u10", (s, dir) =>
      graft.sampling.JoinSampled.revenueMonthlySampledUWithBounds(
        Tables.orders(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.sampling.JoinSampled.revenueMonthlySampledUWithBoundsOracleSql())),
    // the FK-CHAIN form: sample on the FIRST join's key (custkey, both
    // sides), lineitem rides COMPLETE through the o⋈l foreign key — one
    // ×(1/p) scale, per-segment roll-up, fully replayable
    Query("tpch_revenue_segment", (s, dir) =>
      graft.sampling.JoinSampled.revenueBySegment(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.sampling.JoinSampled.revenueBySegmentOracleSql)),
    Query("tpch_revenue_segment_sampled_u10", (s, dir) =>
      graft.sampling.JoinSampled.revenueBySegmentChainSampledU(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.sampling.JoinSampled.revenueBySegmentChainSampledUOracleSql())),
    // chain estimator + per-segment T4 bounds from the kept custkey count
    Query("tpch_revenue_segment_bounds_u10", (s, dir) =>
      graft.sampling.JoinSampled.revenueBySegmentChainSampledUWithBounds(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.sampling.JoinSampled.revenueBySegmentChainSampledUWithBoundsOracleSql())),
    // hash-range stratified: integer basis-point thresholds per stratum,
    // deterministic keep-set, exact HT weights (10000/500 = 20.0) → the
    // stratified estimator is oracle-gated end to end
    Query("events_stratified_sum_u", (s, dir) => {
      val sampled = graft.sampling.StratifiedSampled.sampleUniverse(
        Tables.events(s, dir)
          .select(col("event_type"), col("event_id"),
            Tables.cents.as("cents")),
        "event_type",
        col("event_id"),
        ratesBp = Map("view" -> 500, "click" -> 2000))
      graft.sampling.StratifiedSampled.estimateCounts(sampled, "event_type", "cents")
        .orderBy("event_type")
    },
      Sql(stratifiedSumUSql)),
    // congressional allocation (Acharya et al. SIGMOD'00): per-stratum
    // rates derived IN-PLAN from the live counts so every stratum keeps
    // ~targetK rows — small strata ride complete (exact estimates), the
    // bulk is sampled hard; stratum = event_type × user-id digit band
    // (naturally skewed: 135–1205 rows per stratum at sf0.01)
    Query("events_congressional_sum_u", (s, dir) => {
      import org.apache.spark.sql.functions.{concat, length, lit, round}
      graft.sampling.CongressionalSampled.estimate(
        Tables.events(s, dir),
        stratum = concat(col("event_type"), lit(":"),
          length(col("user_id").cast("string")).cast("string")),
        unit = col("event_id"),
        value = Tables.cents,
        targetK = 300)
    },
      Sql(graft.sampling.CongressionalSampled.estimateOracleSql(
        fromSql = "events",
        stratumSql =
          "event_type || ':' || CAST(length(CAST(user_id AS VARCHAR)) AS VARCHAR)",
        unitSql = "event_id",
        valueSql = Tables.centsSql,
        targetK = 300))),
    // ...plus the reference's achieved-error bound (T4,
    // RandomSamplingUtil.java:376-378) PER STRATUM: complete strata report
    // 0, sampled strata all ~z*sqrt(0.25/k) — uniform error across groups
    // of any size, the allocation's point made visible as a column
    Query("events_congressional_bounds_u", (s, dir) => {
      import org.apache.spark.sql.functions.{concat, length, lit, round}
      graft.sampling.CongressionalSampled.estimateWithBounds(
        Tables.events(s, dir),
        stratum = concat(col("event_type"), lit(":"),
          length(col("user_id").cast("string")).cast("string")),
        unit = col("event_id"),
        value = Tables.cents,
        targetK = 300)
    },
      Sql(graft.sampling.CongressionalSampled.estimateWithBoundsOracleSql(
        fromSql = "events",
        stratumSql =
          "event_type || ':' || CAST(length(CAST(user_id AS VARCHAR)) AS VARCHAR)",
        unitSql = "event_id",
        valueSql = Tables.centsSql,
        targetK = 300))),
    // batch replay of the STREAMING congressional form (static rate table
    // derived from the snapshot, stateless stream-static keep per row):
    // same keep set as the batch sampler, gated by an independent keep-set
    // oracle, so the two spellings agree through DuckDB
    Query("events_congressional_stream_replay", (s, dir) => {
      import org.apache.spark.sql.functions.{concat, length, lit}
      val events = Tables.events(s, dir)
      val stratum = concat(col("event_type"), lit(":"),
        length(col("user_id").cast("string")).cast("string"))
      val rates = graft.sampling.CongressionalSampled.rates(
        events.filter(stratum.isNotNull && col("event_id").isNotNull),
        stratum, targetK = 300)
      graft.streaming.StreamingCongressional.sample(
        events, stratum, col("event_id"), rates)
        .select(col("event_id").as("id"), col("stratum"),
          col("n_exact"), col("bp"))
        .orderBy("id")
    },
      Sql(graft.sampling.CongressionalSampled.keepSetOracleSql(
        fromSql = "events",
        stratumSql =
          "event_type || ':' || CAST(length(CAST(user_id AS VARCHAR)) AS VARCHAR)",
        unitSql = "event_id",
        idSql = "event_id",
        targetK = 300))),
    // token-budget selection from a 10 % scan with HT-scaled budget
    // accounting ("select ~40 % of the corpus tokens, from a 10 % sample")
    Query("docs_token_budget_sampled_u10", (s, dir) =>
      graft.sampling.TokenBudget.selectSampled(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.sampling.TokenBudget.selectSampledOracleSql())),
    // stratified AQP: rare event types kept at full rate, the bulk sampled
    // hard, per-row HT weights → unbiased per-stratum count/sum estimates
    // (the curation shape: over-sample rare strata, under-sample the bulk)
    Query("events_stratified_sum", (s, dir) => {
      val sampled = graft.sampling.StratifiedSampled.sample(
        Tables.events(s, dir)
          .select(col("event_type"),
            Tables.cents.as("cents")),
        "event_type",
        rates = Map("view" -> 0.05, "click" -> 0.2),
        defaultRatio = 1.0)
      graft.sampling.StratifiedSampled.estimateCounts(sampled, "event_type", "cents")
        .orderBy("event_type")
    },
      SeededDraws),
    // --- LLM-data-pipeline: deduplication over the augmented documents
    // --- corpus (deterministic injected exact/near duplicates) ---
    Query("dedup_exact", (s, dir) =>
      DedupCorpus.exactDedup(DedupCorpus.augment(Tables.documents(s, dir))).orderBy("doc_id"),
      Sql(s"""WITH corpus AS (${DedupCorpus.augmentSql})
         |SELECT min(doc_id) AS doc_id, md5(text) AS content_hash, count(*) AS dup_cnt
         |FROM corpus GROUP BY md5(text) ORDER BY doc_id""".stripMargin)),
    Query("dedup_minhash_sig", (s, dir) =>
      MinHashLSH.signatures(DedupCorpus.augment(Tables.documents(s, dir))).orderBy("doc_id"),
      Sql(MinHashLSH.signaturesOracleSql)),
    Query("dedup_minhash_pairs", (s, dir) =>
      MinHashLSH.nearDupPairs(MinHashLSH.signatures(DedupCorpus.augment(Tables.documents(s, dir))))
        .orderBy("doc_a", "doc_b"),
      Sql(MinHashLSH.nearDupPairsOracleSql())),
    // exact Levenshtein confirmation of the LSH candidates — O(n·m) DP
    // paid only on the banding-filtered pair table, never corpus-wide
    Query("dedup_pairs_editdist", (s, dir) =>
      graft.dedup.EditVerify.verifiedMinHashPairs(Tables.documents(s, dir)),
      Sql(graft.dedup.EditVerify.verifiedMinHashPairsOracleSql)),
    Query("dedup_simhash", (s, dir) =>
      SimHash.fingerprints(DedupCorpus.augment(Tables.documents(s, dir))).orderBy("doc_id"),
      Sql(SimHash.fingerprintsOracleSql)),
    Query("dedup_simhash_pairs", (s, dir) =>
      SimHash.nearDupPairs(SimHash.fingerprints(DedupCorpus.augment(Tables.documents(s, dir))))
        .orderBy("doc_a", "doc_b"),
      Sql(SimHash.nearDupPairsOracleSql())),
    Query("dedup_ngram_pairs", (s, dir) =>
      JaccardPairs.nearDupPairs(DedupCorpus.augment(Tables.documents(s, dir)))
        .orderBy("doc_a", "doc_b"),
      Sql(JaccardPairs.nearDupPairsOracleSql())),
    // weighted-cosine all-pairs over sparse tf-idf word vectors (the
    // Bayardo'07 problem): L2-prefix-filtered candidates, codegen'd
    // merge-dot verification, integer weights so the oracle replays
    Query("dedup_cosine_pairs", (s, dir) =>
      CosinePairs.nearDupPairs(DedupCorpus.augment(Tables.documents(s, dir)))
        .orderBy("doc_a", "doc_b"),
      Sql(CosinePairs.nearDupPairsOracleSql())),
    // span-granular cross-doc dedup: winnowing-fingerprint collision pairs
    // (the exact-substring-overlap layer between paragraph and whole-doc)
    Query("dedup_shared_spans", (s, dir) =>
      graft.text.SharedSpans.pairs(Tables.documents(s, dir))
        .orderBy("doc_a", "doc_b"),
      Sql(graft.text.SharedSpans.pairsOracleSql)),
    // exact-substring EXCISION (Lee et al. 2022, the suffix-array
    // modality's distributed k-gram form): per-doc maximal repeated spans
    // and the per-doc cut/kept summary — no pair table at any point
    Query("docs_substring_spans", (s, dir) =>
      graft.dedup.SubstringDedup.spans(DedupCorpus.augment(Tables.documents(s, dir)))
        .orderBy("doc_id", "span_start"),
      Sql(graft.dedup.SubstringDedup.spansOracleSql)),
    Query("docs_substring_dedup", (s, dir) =>
      graft.dedup.SubstringDedup.summary(DedupCorpus.augment(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      Sql(graft.dedup.SubstringDedup.summaryOracleSql)),
    Query("docs_substring_cleaned", (s, dir) =>
      graft.dedup.SubstringDedup.cleaned(DedupCorpus.augment(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      Sql(graft.dedup.SubstringDedup.cleanedOracleSql)),
    // base-atomic universe-sampled twin: the position pipeline over 10 %
    // of base docs (copies ride with their originals), fully gated
    Query("docs_substring_dedup_sampled_u10", (s, dir) =>
      graft.dedup.SubstringDedup.summarySampledU(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.dedup.SubstringDedup.summarySampledUOracleSql())),
    // incremental ingest: the delta batch excised against the SAVED base
    // gram index (the suffix-array-class artifact) — the existing corpus
    // is never re-scanned in the query path
    Query("docs_substring_incremental", (s, dir) =>
      graft.dedup.SubstringDedup.summaryIncremental(s, dir).orderBy("doc_id"),
      Sql(graft.dedup.SubstringDedup.summaryIncrementalOracleSql)),
    // the byte-exact ingest twin: any index hit must ALSO match the
    // keeper's verbatim gram (located via the v2 index coordinates, one
    // pruned base-text read) before cutting — the batch operator's
    // confirm contract at ingest; the hash-only twin above stays the
    // zero-base-IO path
    Query("docs_substring_incremental_confirmed", (s, dir) =>
      graft.dedup.SubstringDedup.summaryIncrementalConfirmed(s, dir)
        .orderBy("doc_id"),
      Sql(graft.dedup.SubstringDedup.summaryIncrementalConfirmedOracleSql)),
    // BATCH REPLAY of the streaming bloom excision: the SAME stateless
    // per-row form (gram hashes → bloom-probed cuts → in-row island fold)
    // over the batch delta frame, bits from the saved index — bloom false
    // positives replay bit-for-bit in the oracle
    Query("docs_substring_stream_replay", (s, dir) => {
      val bits = graft.dedup.SubstringDedup.indexBloomBits(
        s.read.parquet(graft.dedup.SubstringDedup.ensureSavedGramIndex(s, dir)))
      graft.dedup.SubstringDedup.summaryPerRowBloom(
        graft.dedup.IncrementalDedup.deltaCorpus(Tables.documents(s, dir)), bits)
        .orderBy("doc_id")
    },
      Sql(graft.dedup.SubstringDedup.summaryStreamReplayOracleSql)),
    // incremental ingest: delta batch probed against the SAVED base-corpus
    // signature index (no base re-shingling in the query path)
    Query("dedup_incremental", (s, dir) =>
      graft.dedup.IncrementalDedup.matches(s, dir).orderBy("doc_id"),
      Sql(graft.dedup.IncrementalDedup.matchesOracleSql)),
    Query("dedup_incremental_novel", (s, dir) =>
      graft.dedup.IncrementalDedup.novel(s, dir).orderBy("doc_id"),
      Sql(graft.dedup.IncrementalDedup.novelOracleSql)),
    // BATCH REPLAY of the stream-static dedup join: the SAME
    // nearDupsAgainstIndex call (stateless, so batch ≡ stream per
    // micro-batch) over the base/delta split — the streaming ingest path's
    // band-meeting + signature-similarity math, oracle-gated
    Query("dedup_stream_replay", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.streaming.StreamingDedup.nearDupsAgainstIndex(
        graft.dedup.IncrementalDedup.deltaCorpus(docs),
        MinHashLSH.signatures(graft.dedup.IncrementalDedup.baseCorpus(docs)),
        minSim = 0.5)
        .orderBy("doc_id", "index_doc", "band")
    },
      Sql(graft.dedup.IncrementalDedup.streamReplayOracleSql())),
    Query("dedup_clusters", (s, dir) => {
      val corpus = DedupCorpus.augment(Tables.documents(s, dir))
      DedupClusters.decisions(corpus, MinHashLSH.nearDupPairs(MinHashLSH.signatures(corpus)))
        .orderBy("doc_id")
    },
      Sql(DedupClusters.decisionsOracleSql)),
    // leakage-free train/val/test split: the verdict is cluster-atomic
    // (salted hash of the CC representative), so no near-dup pair ever
    // straddles train/eval — deterministic, hence fully oracle-gated
    Query("docs_split", (s, dir) =>
      graft.dedup.DataSplit.assign(DedupCorpus.augment(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      Sql(graft.dedup.DataSplit.assignOracleSql)),
    // the per-split audit roll-up a pipeline logs next to the shipped corpus
    Query("docs_split_summary", (s, dir) =>
      graft.dedup.DataSplit.summary(DedupCorpus.augment(Tables.documents(s, dir))),
      Sql(graft.dedup.DataSplit.summaryOracleSql)),
    // cross-snapshot split with a PERSISTED prior (the IncrementalDedup
    // base/delta decomposition applied to assignment): saved docs keep
    // their verdict verbatim, newcomers inherit via any saved member of
    // their cluster, only never-seen clusters hash fresh — so a re-keyed
    // representative can never flip a shipped verdict
    Query("docs_split_incremental", (s, dir) => {
      val saved = s.read.parquet(graft.dedup.DataSplit.ensureSavedAssignment(s, dir))
      graft.dedup.DataSplit.assignIncremental(
        DedupCorpus.augment(Tables.documents(s, dir)), saved)
        .orderBy("doc_id")
    },
      Sql(graft.dedup.DataSplit.assignIncrementalOracleSql)),
    // the full pipeline a training-data job ships: signatures → pairs →
    // components → surviving corpus
    Query("dedup_cleaned", (s, dir) =>
      DedupClusters.cleaned(DedupCorpus.augment(Tables.documents(s, dir))).orderBy("doc_id"),
      Sql(DedupClusters.cleanedOracleSql)),
    // quality-aware canonical selection: keep the BEST-quality member of
    // each near-dup cluster (not min-id) — what a production dedup ships
    Query("dedup_canonical_quality", (s, dir) =>
      DedupClusters.canonicalByQuality(DedupCorpus.augment(Tables.documents(s, dir)))
        .orderBy("cluster_rep"),
      Sql(DedupClusters.canonicalByQualityOracleSql)),
    // end-to-end quality-keep dedup: cleaned corpus where each cluster
    // surfaces its BEST-quality member (the pipeline a production job ships)
    Query("dedup_cleaned_quality", (s, dir) =>
      DedupClusters.cleanedByQuality(DedupCorpus.augment(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      Sql(DedupClusters.cleanedByQualityOracleSql)),
    // cross-source near-dup matrix: the train/eval-leakage / provenance
    // audit over the same banded-LSH pair table
    Query("dedup_source_overlap", (s, dir) =>
      graft.dedup.SourceOverlap.pairsBySource(Tables.documents(s, dir))
        .orderBy("source_lo", "source_hi"),
      Sql(graft.dedup.SourceOverlap.pairsBySourceOracleSql)),
    // pair-level HT estimator of the overlap matrix from a 10 % doc-atomic
    // universe sample — mixed first/second-order inclusion weights (same-
    // base pairs ×10, cross-base ×100), deterministic → fully oracle-gated
    Query("dedup_source_overlap_sampled_u10", (s, dir) =>
      graft.dedup.SourceOverlap.pairsBySourceSampled(Tables.documents(s, dir))
        .orderBy("source_lo", "source_hi"),
      Sql(graft.dedup.SourceOverlap.pairsBySourceSampledOracleSql())),
    // duplicate-rate estimation: exact twin + UNIVERSE (hash-range) sampled
    // estimator — deterministic content-hash predicate, so the sampled run
    // is fully oracle-gated (a Bernoulli row sample would understate the
    // rate ~p×; cluster-atomic sampling is the honest estimator)
    Query("dedup_rate", (s, dir) =>
      graft.dedup.DedupRate.rateStats(DedupCorpus.augment(Tables.documents(s, dir))),
      Sql(graft.dedup.DedupRate.rateStatsOracleSql)),
    Query("dedup_rate_sampled_u10", (s, dir) =>
      graft.dedup.DedupRate.rateStatsSampled(DedupCorpus.augment(Tables.documents(s, dir))),
      Sql(graft.dedup.DedupRate.rateStatsSampledOracleSql())),
    // cluster-size histogram: the dedup planner's sizing curve
    Query("dedup_cluster_hist", (s, dir) =>
      graft.dedup.DedupRate.clusterSizeHist(DedupCorpus.augment(Tables.documents(s, dir)))
        .orderBy("cluster_size"),
      Sql(graft.dedup.DedupRate.clusterSizeHistOracleSql)),
    // doc-atomic sampled twin: binomial-inversion HT weights (1/p^k for a
    // fully-surviving size-k cluster) — every inclusion order at once,
    // integer arithmetic end to end, fully oracle-gated
    Query("dedup_cluster_hist_sampled_u10", (s, dir) =>
      graft.dedup.DedupRate.clusterSizeHistSampledU(
        DedupCorpus.augment(Tables.documents(s, dir)))
        .orderBy("cluster_size"),
      Sql(graft.dedup.DedupRate.clusterSizeHistSampledUOracleSql())),
    // --- LLM-data-pipeline: similarity search over embeddings ---
    Query("simsearch_topk", (s, dir) =>
      SimilaritySearch.topK(Tables.embeddings(s, dir))
        .orderBy(col("query_id"), col("sim").desc, col("neighbor_id")),
      Sql(SimilaritySearch.topKOracleSql())),
    Query("simsearch_ann", (s, dir) =>
      SimilaritySearch.topKAnn(Tables.embeddings(s, dir))
        .orderBy(col("query_id"), col("sim").desc, col("neighbor_id")),
      Sql(SimilaritySearch.topKAnnOracleSql())),
    // every vector's top-k neighbors via banded sign-LSH — the SemDeDup /
    // diversity-sampling building block, never all-pairs
    Query("simsearch_knn_graph", (s, dir) =>
      graft.similarity.KnnGraph.graph(Tables.embeddings(s, dir)),
      Sql(graft.similarity.KnnGraph.graphOracleSql())),
    // hardest cross-label bucket-mate per vector — contrastive mining
    Query("simsearch_hard_negatives", (s, dir) =>
      graft.similarity.KnnGraph.hardNegatives(Tables.embeddings(s, dir)),
      Sql(graft.similarity.KnnGraph.hardNegativesOracleSql())),
    // majority-vote label over the k-NN graph — semi-supervised labeling
    Query("simsearch_knn_classify", (s, dir) =>
      graft.similarity.KnnGraph.classify(Tables.embeddings(s, dir)),
      Sql(graft.similarity.KnnGraph.classifyOracleSql())),
    // IVF variant: k-means index is not replayable in DuckDB → rows-only
    // driver check; recall/consistency pinned by IvfIndexSpec. Named
    // `_build` because the timed path IS fit (k-means) + search — the
    // production search-only path is `simsearch_ivf_saved` below
    // (VERDICT r5 §wrong 4: the old `simsearch_ivf` name read like a
    // search benchmark while measuring index build).
    Query("simsearch_ivf_build", (s, dir) =>
      graft.similarity.IvfIndex.topK(s, Tables.embeddings(s, dir))
        .orderBy(col("query_id"), col("sim").desc, col("neighbor_id")),
      SeededFit),
    // the production IVF shape: load a prebuilt saved index (digest-keyed
    // artifact, built on first use) and search its partition-pruned lists —
    // the benched time is load+search, never k-means. Spec-pinned equal to
    // the in-memory fit+search result; rows-only for the driver.
    Query("simsearch_ivf_saved", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.similarity.IvfIndex.load(
        s, graft.similarity.IvfIndex.ensureSaved(s, emb, dir))
      graft.similarity.IvfIndex.search(s, model, emb)
        .orderBy(col("query_id"), col("sim").desc, col("neighbor_id"))
    },
      SeededFit),
    // deterministic-centroid IVF: fixed md5-family seeds instead of a
    // k-means fit, so the ENTIRE inverted-file search path (nlist DERIVED
    // in-plan from the corpus count — IvfIndex.nlistFor, the PlaneBudget
    // discipline — then seed selection, codegen'd ivf_assign integer-L2
    // assignment, probing, quantized-cosine top-k) replays in DuckDB —
    // the oracle-gated member of the IVF family
    Query("simsearch_ivf_det", (s, dir) =>
      graft.similarity.IvfIndex.detTopK(Tables.embeddings(s, dir))
        .orderBy(col("query_id"), col("sim").desc, col("neighbor_id")),
      Sql(graft.similarity.IvfIndex.detTopKOracleSql())),
    Query("simsearch_centroids", (s, dir) =>
      graft.similarity.EmbeddingCentroids.centroids(Tables.embeddings(s, dir))
        .orderBy("label", "dim"),
      Sql(graft.similarity.EmbeddingCentroids.centroidsOracleSql())),
    Query("dedup_embedding_pairs", (s, dir) =>
      SimilaritySearch.nearDupPairs(Tables.embeddings(s, dir))
        .orderBy("vec_a", "vec_b"),
      Sql(SimilaritySearch.nearDupPairsOracleSql())),
    // the 100 TB configuration: 4 OR-bands whose key width is DERIVED
    // IN-PLAN from the corpus count (PlaneBudget.bandBits — bucket
    // occupancy stays constant at any population), oracle-gated via the
    // dynamic count→width→signs replay
    Query("dedup_embedding_pairs_banded", (s, dir) =>
      SimilaritySearch.nearDupPairsDerived(
        Tables.embeddings(s, dir), minSim = 0.15, numBands = 4)
        .orderBy("vec_a", "vec_b"),
      Sql(SimilaritySearch.nearDupPairsDerivedOracleSql(0.15, 4))),
    // --- LLM-data-pipeline: text analysis over documents ---
    Query("text_langid", (s, dir) =>
      TextAnalysis.languageId(Tables.documents(s, dir)).orderBy("doc_id"),
      Sql(TextAnalysis.languageIdOracleSql)),
    Query("text_quality", (s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir)).orderBy("doc_id"),
      Sql(TextAnalysis.qualityScoreOracleSql())),
    Query("text_tokens", (s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir)).orderBy("doc_id"),
      Sql(TextAnalysis.tokenCountsOracleSql)),
    Query("text_fingerprint", (s, dir) =>
      TextAnalysis.fingerprints(Tables.documents(s, dir)).orderBy("doc_id"),
      Sql(TextAnalysis.fingerprintsOracleSql)),
    Query("text_pii", (s, dir) =>
      graft.text.PiiScrub.scrub(Tables.documents(s, dir)).orderBy("doc_id"),
      Sql(graft.text.PiiScrub.OracleSql)),
    // corpus-trained bigram LM likelihood (the CCNet perplexity-filter
    // shape) in integer fixed-point — two count aggregates + 1:1 joins
    Query("text_lm_bigram", (s, dir) =>
      graft.text.BigramLm.scores(Tables.documents(s, dir)).orderBy("doc_id"),
      Sql(graft.text.BigramLm.scoresOracleSql)),
    // distributed BPE vocabulary induction: corpus-scale work is ONE
    // word-count shuffle; 8 merge rounds run on the frequency dict
    // (pair partial-agg + TakeOrdered(1) + broadcast 1-row merge apply)
    Query("bpe_merges", (s, dir) =>
      graft.text.BpeVocab.merges(Tables.documents(s, dir)),
      Sql(graft.text.BpeVocab.mergesOracleSql())),
    // corpus token frequencies under the learned vocab — applying BPE at
    // scale = the dict join carries the segmentation, never re-tokenizing
    Query("bpe_token_counts", (s, dir) =>
      graft.text.BpeVocab.tokenCounts(Tables.documents(s, dir)).orderBy("token"),
      Sql(graft.text.BpeVocab.tokenCountsOracleSql())),
    // BPE APPLY against the SAVED merges artifact: per-doc REAL tokenizer
    // counts (encode runs once per distinct word, the dict join carries
    // the segmentation to every occurrence)
    Query("docs_bpe_tokens", (s, dir) =>
      graft.text.BpeVocab.perDocTokensSaved(s, dir).orderBy("doc_id"),
      Sql(graft.text.BpeVocab.perDocTokensOracleSql())),
    // the token-budget twin re-based on real tokenizer counts — same
    // hash-order prefix selection, honest token unit (whitespace-proxy vs
    // BPE budgets provably differ on the fixture, spec-pinned)
    Query("docs_token_budget_bpe", (s, dir) =>
      graft.text.BpeVocab.tokenBudgetBpe(s, dir).orderBy("doc_id"),
      Sql(graft.text.BpeVocab.tokenBudgetBpeOracleSql())),
    // sequence packing on real tokenizer counts — the ~2k pack budget
    // means model tokens, not whitespace words
    Query("docs_packed_bpe", (s, dir) =>
      graft.text.BpeVocab.packsBpe(s, dir).orderBy("doc_id"),
      Sql(graft.text.BpeVocab.packsBpeOracleSql())),
    // Count-Min sketch heavy hitters: d·w-bounded aggregation state per
    // partition (vs vocabulary-sized exact counting), merge-order-invariant
    // counters → the sketch family's first fully oracle-gated member
    Query("text_heavy_hitters_cm", (s, dir) =>
      graft.sampling.CountMin.heavyHitters(Tables.documents(s, dir)).orderBy("token"),
      Sql(graft.sampling.CountMin.heavyHittersOracleSql())),
    // Gopher-style repetition quality signals (dup-word / top-word /
    // dup-bigram fractions) — the standard degenerate-text filters
    Query("text_repetition", (s, dir) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, dir)).orderBy("doc_id"),
      Sql(TextAnalysis.repetitionSignalsOracleSql)),
    // corpus df stats + per-doc top terms by integer df-normalized
    // prominence (the tf-idf feature layer curation heuristics build on);
    // WindowGroupLimit keeps k rows per partition before the shuffle
    Query("text_tfidf_topk", (s, dir) =>
      graft.text.TfIdf.topTerms(Tables.documents(s, dir)).orderBy("doc_id", "rn"),
      Sql(graft.text.TfIdf.topTermsOracleSql())),
    // boilerplate/stopword discovery: terms in ≥50 % of documents — the df
    // table's curation-rule-authoring use case (VERDICT r10 next-5);
    // result bounded by the high-df vocabulary, tiny by Zipf
    Query("text_boilerplate_terms", (s, dir) =>
      graft.text.TfIdf.boilerplateTerms(Tables.documents(s, dir))
        .orderBy(col("df").desc, col("word")),
      Sql(graft.text.TfIdf.boilerplateTermsOracleSql())),
    // fastText-style linear quality classifier over hashed uni+bigram
    // features with a deterministic integer weight table (oracle-gated;
    // a trained model swaps in a broadcast weight array, same plan)
    Query("text_quality_model", (s, dir) =>
      TextAnalysis.qualityModel(Tables.documents(s, dir)).orderBy("doc_id"),
      Sql(TextAnalysis.qualityModelOracleSql)),
    // the production shape: score against a SAVED weight artifact (parquet
    // → broadcast array literal → element_at inside the same codegen'd
    // explode+agg) — and still oracle-gated, because the persisted table is
    // itself a deterministic function of the bucket index
    Query("text_quality_model_saved", (s, dir) =>
      TextAnalysis.qualityModelSaved(s, Tables.documents(s, dir)).orderBy("doc_id"),
      Sql(TextAnalysis.qualityModelSavedOracleSql)),
    // --- LLM-data-pipeline: multimodal binary columns — manifest-metadata
    // --- plumbing (mm_meta/mm_features) + REAL JDK-native codecs for all
    // --- three media families (GIF video / WAV audio / PNG stills) ---
    Query("mm_meta", (s, dir) =>
      Multimodal.metaQuery(Tables.documents(s, dir)).orderBy("asset_id"),
      Sql(Multimodal.metaOracleSql)),
    // REAL multi-frame decode (javax.imageio GIF) over deterministic
    // synthesized animated GIFs: frame sampling on the TRUE container
    // frame count, oracle-exact because the synthesis makes frame counts
    // closed-form in asset_id (the WavCodec precedent; no stub remains)
    Query("mm_frames", (s, _) =>
      Multimodal.frameSample(
        Multimodal.decodePartitions(s, Multimodal.synthesizeVideo(s), Multimodal.GifCodec))
        .orderBy("asset_id", "frame_idx"),
      Sql(Multimodal.videoFramesOracleSql())),
    Query("mm_features", (s, dir) =>
      Multimodal.features(Multimodal.assets(Tables.documents(s, dir))).orderBy("asset_id"),
      Sql(Multimodal.featuresOracleSql())),
    // REAL audio decode (javax.sound.sampled) over deterministic synthesized
    // WAVs: sample rate / sample count / duration / RMS, all oracle-exact
    // because the square-wave synthesis makes each a closed-form function
    // of asset_id (see Multimodal.wavBytes)
    Query("mm_audio_features", (s, _) =>
      Multimodal.audioFeatures(s, Multimodal.synthesizeAudio(s)).orderBy("asset_id"),
      Sql(Multimodal.audioFeaturesOracleSql())),
    // perceptual-hash (aHash) image near-dup pairs over REAL PNG decode +
    // banded Hamming search; no SQL oracle can replay a PNG codec → rows-only
    // driver check, banded==brute-force pinned by ImageDedupSpec
    Query("mm_dedup_pairs", (s, _) =>
      graft.multimodal.ImageDedup.nearDupPairs(
        graft.multimodal.ImageDedup.hashes(
          s, graft.multimodal.ImageDedup.synthesizeVariants(s, nGroups = 100)))
        .orderBy("asset_a", "asset_b"),
      NoOracle("PNG decode: no SQL engine replays the codec")),
    // the GATED twin: the codec step (the one thing DuckDB cannot run) is
    // published once as a digest-keyed (asset_id, ahash) artifact, and
    // banding + skew cap + star fallback + Hamming verify replay
    // bit-for-bit from that parquet (VERDICT r15 item 2)
    Query("mm_dedup_pairs_gated", (s, _) =>
      graft.multimodal.ImageDedup.nearDupPairsSaved(s, nGroups = 100)
        .orderBy("asset_a", "asset_b"),
      Sql(graft.multimodal.ImageDedup.nearDupPairsSavedOracleSql(nGroups = 100))),
    // --- native source formats: the reference reads text/XML files, not
    // --- parquet; these queries ingest through those sources (fixtures
    // --- rendered deterministically from documents) ---
    Query("wordcount_text", (s, dir) =>
      RQ.wordCountLines(
        graft.sources.TextLines.readLines(s, graft.sources.TextLines.fixturePath(s, dir)))
        .orderBy("word"),
      Sql(WordCountSql)),
    Query("wordcount_xml", (s, dir) =>
      RQ.wordCount(
        graft.sources.XmlSource.readPages(s, graft.sources.XmlSource.fixturePath(s, dir)))
        .orderBy("word"),
      Sql(WordCountSql)),
    // sample-below-parse XML (exact mode): raw spans split on </page>,
    // from_xml only after the (here trivially-true) keep filter — must
    // hash-match the post-parse wordcount
    Query("wordcount_xml_presample", (s, dir) =>
      RQ.wordCount(
        graft.sources.XmlSource.readPagesPresampled(
          s, graft.sources.XmlSource.fixturePath(s, dir)))
        .orderBy("word"),
      Sql(WordCountSql)),
    // sample-below-parse XML at 10%: parse CPU scales with the keep ratio,
    // and the hash-range sample replays in DuckDB → fully oracle-gated
    Query("wordcount_xml_presample_u10", (s, dir) =>
      HtTwin.scaled(
        RQ.wordCount(graft.sources.XmlSource.readPagesPresampled(
          s, graft.sources.XmlSource.fixturePath(s, dir), Some(10))),
        UniverseSampled.htScale(10), Seq("cnt")).orderBy("word"),
      Sql(WordCountU10Sql)),
    // gzip-compressed text ingestion (non-splittable codec path) — must
    // hash-match wordcount
    Query("wordcount_text_gz", (s, dir) =>
      RQ.wordCountLines(
        graft.sources.TextLines.readLines(s, graft.sources.TextLines.fixtureGzPath(s, dir)))
        .orderBy("word"),
      Sql(WordCountSql)),
    // bzip2 ingestion — the SPLITTABLE compressed codec (one big file still
    // scans as parallel splits; Bzip2SplitSpec pins >1 split on a
    // multi-block file) — must hash-match wordcount
    Query("wordcount_text_bz2", (s, dir) =>
      RQ.wordCountLines(
        graft.sources.TextLines.readLines(s, graft.sources.TextLines.fixtureBz2Path(s, dir)))
        .orderBy("word"),
      Sql(WordCountSql)),
    // ORC ingestion — the second columnar format (full-width fixture, so
    // the scan must COLUMN-PRUNE to text; OrcSourceSpec pins ReadSchema)
    Query("wordcount_orc", (s, dir) =>
      RQ.wordCount(
        graft.sources.OrcSource.readDocuments(
          s, graft.sources.OrcSource.fixtureOrcPath(s, dir)))
        .orderBy("word"),
      Sql(WordCountSql)),
    // P2 urlDecode on an oracle path: escape deterministically, decode in
    // the query — the round trip must hash-match wordcount
    Query("wordcount_urldecode", (s, dir) =>
      RQ.wordCount(RQ.urlEscape(Tables.documents(s, dir)), urlDecode = true)
        .orderBy("word"),
      Sql(WordCountSql)),
    // schema-declared JSONL / CSV ingestion of the identical corpus
    Query("wordcount_jsonl", (s, dir) =>
      RQ.wordCount(
        graft.sources.TextLines.readJsonl(s, graft.sources.TextLines.fixtureJsonlPath(s, dir)))
        .orderBy("word"),
      Sql(WordCountSql)),
    Query("wordcount_csv", (s, dir) =>
      RQ.wordCount(
        graft.sources.TextLines.readCsv(s, graft.sources.TextLines.fixtureCsvPath(s, dir)))
        .orderBy("word"),
      Sql(WordCountSql)),
    // --- relational analytics: the sampling layer on TPC-H-style data ---
    Query("tpch_q1", (s, dir) =>
      graft.queries.TpchQueries.q1(Tables.lineitem(s, dir))
        .orderBy("l_returnflag", "l_linestatus"),
      Sql(graft.queries.TpchQueries.Q1OracleSql)),
    Query("tpch_q1_sampled_r10", (s, dir) => {
      val r10 = Sampled(Tables.lineitem(s, dir), SamplingConfig(ratio = 0.1))
      HtTwin.scaled(TpchQueries.q1(r10.data), r10.htScale, Q1Additive)
        .orderBy("l_returnflag", "l_linestatus")
    }, SeededDraws),
    // order-atomic universe sample (unit = l_orderkey): all lineitems of an
    // order are kept or dropped together (the Quickr join-key discipline),
    // and every HT estimate is oracle-gated
    Query("tpch_q1_sampled_u10", (s, dir) =>
      HtTwin.scaled(TpchQueries.q1(UniverseSampled.sample(Tables.lineitem(s, dir), col("l_orderkey"), 10)),
        UniverseSampled.htScale(10), Q1Additive).orderBy("l_returnflag", "l_linestatus"),
      Sql(HtTwin.sql(TpchQueries.q1OracleSql, "lineitem", "l_orderkey", 10, Q1Additive))),
    Query("tpch_q6", (s, dir) => graft.queries.TpchQueries.q6(Tables.lineitem(s, dir)),
      Sql(graft.queries.TpchQueries.Q6OracleSql)),
    // seeded Bernoulli sample + HT scale-up; no external oracle by design
    // (rows-only driver check, statistical spec in TpchSpec)
    Query("tpch_q6_sampled_r10", (s, dir) => {
      val r10 = Sampled(Tables.lineitem(s, dir), SamplingConfig(ratio = 0.1))
      HtTwin.scaled(TpchQueries.q6(r10.data), r10.htScale, Seq("revenue_e4"))
    }, SeededDraws),
    Query("tpch_q3", (s, dir) =>
      graft.queries.TpchQueries.q3(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.queries.TpchQueries.Q3OracleSql)),
    // physical-strategy twins of q3, oracle-gated against the SAME SQL:
    // the salted customer⋈orders join (skew spreading) and the pre-bucketed
    // zero-exchange orders⋈lineitem join
    Query("tpch_q3_skewjoin", (s, dir) =>
      graft.queries.TpchQueries.q3SkewJoin(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.queries.TpchQueries.Q3OracleSql)),
    Query("tpch_q3_bucketed", (s, dir) => graft.queries.TpchQueries.q3Bucketed(s, dir),
      Sql(graft.queries.TpchQueries.Q3OracleSql)),
    Query("tpch_q10", (s, dir) =>
      graft.queries.TpchQueries.q10(
        Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), Tables.nation(s, dir)),
      Sql(graft.queries.TpchQueries.Q10OracleSql)),
    // conditional-aggregate ratio (promotion share) — both sums one pass
    Query("tpch_q14", (s, dir) =>
      graft.queries.TpchQueries.q14(Tables.lineitem(s, dir), Tables.part(s, dir)),
      Sql(graft.queries.TpchQueries.Q14OracleSql)),
    // aggregate-then-HAVING whales query — heavy groupBy on lineitem alone
    Query("tpch_q18", (s, dir) =>
      graft.queries.TpchQueries.q18(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.queries.TpchQueries.Q18OracleSql)),
    // existence semi-join with a mixed equi + range condition
    Query("tpch_q4_late", (s, dir) =>
      graft.queries.TpchQueries.q4Late(
        Tables.orders(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.queries.TpchQueries.Q4LateOracleSql)),
    Query("tpch_q5", (s, dir) =>
      graft.queries.TpchQueries.q5Regional(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir)).orderBy("n_name"),
      Sql(graft.queries.TpchQueries.q5OracleSql())),
    // nation-pair bilateral volume — broadcast-dim pair filter, OR'd on
    // two broadcast-joined name columns
    Query("tpch_q7", (s, dir) =>
      graft.queries.TpchQueries.q7(
        Tables.supplier(s, dir), Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.nation(s, dir)),
      Sql(graft.queries.TpchQueries.Q7OracleSql)),
    // national market share — one-pass conditional/total ratio through a
    // 7-table broadcast-dim tree + region semi-join
    Query("tpch_q8", (s, dir) =>
      graft.queries.TpchQueries.q8(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir)),
      Sql(graft.queries.TpchQueries.Q8OracleSql)),
    // product-type profit by nation × year (partsupp-less Q9 shape)
    Query("tpch_q9", (s, dir) =>
      graft.queries.TpchQueries.q9(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.nation(s, dir)),
      Sql(graft.queries.TpchQueries.Q9OracleSql)),
    // top supplier: groupBy + one-row broadcast max join-back, ties kept
    Query("tpch_q15", (s, dir) =>
      graft.queries.TpchQueries.q15(
        Tables.supplier(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.queries.TpchQueries.Q15OracleSql)),
    // distinct-supplier count per (brand, type) — two-level distinct agg
    Query("tpch_q16", (s, dir) =>
      graft.queries.TpchQueries.q16(
        Tables.part(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.queries.TpchQueries.Q16OracleSql)),
    // decorrelated per-part-average threshold, integer comparison
    Query("tpch_q17", (s, dir) =>
      graft.queries.TpchQueries.q17(
        Tables.part(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.queries.TpchQueries.Q17OracleSql)),
    // disjunctive brand/size/quantity bundles over the part join
    Query("tpch_q19", (s, dir) =>
      graft.queries.TpchQueries.q19(
        Tables.part(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.queries.TpchQueries.Q19OracleSql)),
    // above-average-balance never-ordered customers — anti join + one-row
    // broadcast threshold in integer cents
    Query("tpch_q22", (s, dir) =>
      graft.queries.TpchQueries.q22(
        Tables.customer(s, dir), Tables.orders(s, dir)),
      Sql(graft.queries.TpchQueries.Q22OracleSql)),
    // min-cost supplier per part — correlated-min decorrelation with ties
    // kept, integer unit cost, both dims broadcast
    Query("tpch_q2", (s, dir) =>
      graft.queries.TpchQueries.q2(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir)),
      Sql(graft.queries.TpchQueries.Q2OracleSql)),
    // important-stock HAVING over a one-row broadcast threshold,
    // mean-relative so it survives scale-up
    Query("tpch_q11", (s, dir) =>
      graft.queries.TpchQueries.q11(
        Tables.supplier(s, dir), Tables.lineitem(s, dir), Tables.nation(s, dir)),
      Sql(graft.queries.TpchQueries.Q11OracleSql)),
    // late-shipment priority split — conditional-sum pair over an IN-list
    Query("tpch_q12", (s, dir) =>
      graft.queries.TpchQueries.q12(
        Tables.orders(s, dir), Tables.lineitem(s, dir)),
      Sql(graft.queries.TpchQueries.Q12OracleSql)),
    // orders-per-customer histogram — filter inside the outer-join
    // condition, two-level aggregation
    Query("tpch_q13", (s, dir) =>
      graft.queries.TpchQueries.q13(
        Tables.customer(s, dir), Tables.orders(s, dir)),
      Sql(graft.queries.TpchQueries.Q13OracleSql)),
    // excess-share suppliers — nested IN-subquery chain as broadcast
    // semi-joins
    Query("tpch_q20", (s, dir) =>
      graft.queries.TpchQueries.q20(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir),
        Tables.nation(s, dir)),
      Sql(graft.queries.TpchQueries.Q20OracleSql)),
    // sole-late-supplier blame — EXISTS/NOT-EXISTS pair as semi/anti
    // joins with an inequality riding the equi-key
    Query("tpch_q21", (s, dir) =>
      graft.queries.TpchQueries.q21(
        Tables.supplier(s, dir), Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.nation(s, dir)),
      Sql(graft.queries.TpchQueries.Q21OracleSql)),
    // BATCH REPLAY of the streaming universe-sampled windowed counts: the
    // exact frame StreamingSampled.windowedCountsUniverse builds (same
    // function — the watermark is a no-op on a batch frame), so the
    // streaming sampler's HT math gets an oracle-gated CORRECTNESS row;
    // StreamingSampledSpec separately pins the triggered run row-identical
    // to this batch twin. win_start carried as epoch micros (the
    // operators' integer-time convention).
    Query("events_windowed_u10", (s, dir) =>
      graft.streaming.StreamingSampled.windowedCountsUniverse(
        Tables.events(s, dir), "ts", "event_type", col("event_id"), 10,
        "1 hour", "1 hour")
        .select(
          org.apache.spark.sql.functions.unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("cnt"), col("est_cnt"))
        .orderBy("win_start_us", "event_type"),
      Sql {
        val winUs = 3600000000L // 1 hour, matching the declared windowDur
        s"""SELECT CAST((epoch_us(ts) // $winUs) * $winUs AS BIGINT) AS win_start_us,
           |       event_type, count(*) AS cnt,
           |       count(*) * ${graft.sampling.UniverseSampled.scaleSql(10)} AS est_cnt
           |FROM events
           |WHERE ${graft.sampling.UniverseSampled.keepSql("event_id", 10)}
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),
    // declarative data-quality validation (Deequ-shaped, r17): one report
    // row per constraint, all metrics exact integers; single-column
    // checks fold into ONE aggregate per table scan (spec-pinned),
    // uniqueness is a two-level agg, referential integrity a broadcast
    // LEFT-ANTI count — the suite mixes passing and failing checks
    Query("data_quality_report", (s, dir) =>
      graft.operators.DataQuality.report(s, dir)
        .orderBy("tbl", "chk", "col"),
      Sql(graft.operators.DataQuality.reportOracleSql)),
    // skew-safe two-stage aggregation, on integer cents so the two-stage
    // sum is order-independent and engine-exact
    Query("events_salted_sum", (s, dir) =>
      graft.operators.SaltedAggregate.sumCount(
        Tables.events(s, dir)
          .select(col("user_id"),
            Tables.cents.as("cents")),
        "user_id", "cents").orderBy("user_id"),
      Sql("""SELECT user_id,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       count(*) AS cnt
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Query("events_quantiles", (s, dir) =>
      RQ.eventQuantiles(Tables.events(s, dir)).orderBy("event_type"),
      Sql(RQ.eventQuantilesOracleSql())),
    Query("events_distinct_users", (s, dir) =>
      RQ.eventDistinctUsers(Tables.events(s, dir)).orderBy("event_type"),
      Sql("""SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // the 100 TB twins: t-digest-style percentile sketch and HLL++ distinct
    // sketch — mergeable bounded-memory state instead of per-group value
    // buffers. Engine-specific sketches → no external oracle (rows-only
    // driver check); QuantilesSpec pins both against the exact twins.
    Query("events_quantiles_approx", (s, dir) =>
      RQ.eventQuantilesApprox(Tables.events(s, dir)).orderBy("event_type"),
      EngineSketch),
    // sampled quantiles via the deterministic hash-range keep-set: the
    // approximate percentiles themselves replay in DuckDB (unlike the
    // t-digest twin) — quantiles need no HT scaling, just the sample
    Query("events_quantiles_sampled_u10", (s, dir) =>
      RQ.eventQuantiles(UniverseSampled.sample(
        Tables.events(s, dir), col("event_id"), 10)).orderBy("event_type"),
      Sql(HtTwin.sql(RQ.eventQuantilesOracleSql, "events", "event_id", 10, Nil))),
    // the DETERMINISTIC sketch twin (VERDICT r15 item 8): base-2
    // log-histogram quantiles — merge is per-bucket sum (order-free,
    // unlike the t-digest), so this one IS hash-gated; ≤ 2^-4 relative
    // error by construction, estimates as exact integer cents
    Query("events_quantiles_hist", (s, dir) =>
      graft.sampling.LogHistogram.quantiles(
        Tables.events(s, dir), col("event_type"), Tables.cents)
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type"),
      Sql(graft.sampling.LogHistogram.quantilesOracleSql(
        "events", "event_type", Tables.centsSql, groupAlias = "event_type"))),
    // first-activity-week cohorts × return-week offsets — the retention
    // triangle; distinct-collapsed (user, week) pairs bound all state
    Query("events_retention_cohorts", (s, dir) =>
      graft.operators.RetentionCohorts.matrix(Tables.events(s, dir)),
      Sql(graft.operators.RetentionCohorts.matrixOracleSql)),
    // per-group p01/p99 clipping: broadcast threshold table, scan-fused
    // greatest/least — values pass through bit-unchanged unless clipped
    Query("events_winsorized", (s, dir) =>
      graft.operators.Winsorize.clipped(Tables.events(s, dir)),
      Sql(graft.operators.Winsorize.clippedOracleSql)),
    // reproducible 3-per-stratum examples via salted-hash rank — the
    // rand() eyeballing query made deterministic and oracle-gateable
    Query("events_examples_per_group", (s, dir) =>
      graft.operators.GroupSample.examples(
        Tables.events(s, dir), col("event_type"), col("event_id"), 3,
        Seq("event_id", "user_id")),
      Sql(graft.operators.GroupSample.examplesOracleSql(
        "SELECT event_type, event_id, user_id FROM events", "event_type",
        "CAST(event_id AS VARCHAR)", 3, Seq("event_id", "user_id")))),
    // per-word counts of two sources FULL-OUTER joined (the engine's one
    // declared full-outer shape) — the corpus drift report
    Query("text_vocab_diff", (s, dir) =>
      graft.text.VocabDiff.diff(Tables.documents(s, dir)),
      Sql(graft.text.VocabDiff.diffOracleSql())),
    Query("events_distinct_users_approx", (s, dir) =>
      RQ.eventDistinctUsersApprox(Tables.events(s, dir)).orderBy("event_type"),
      EngineSketch),
    // KMV bottom-k distinct sketch: deterministic md5 order statistics →
    // the approximate ANSWER itself passes the DuckDB gate (unlike HLL)
    Query("events_distinct_users_kmv", (s, dir) =>
      graft.sampling.KmvSketch.distinctEstimate(
        Tables.events(s, dir), col("event_type"), col("user_id"),
        graft.sampling.KmvSketch.GroupK)
        .select(col("grp").as("event_type"), col("est_distinct")),
      Sql(graft.sampling.KmvSketch.distinctEstimateOracleSql(
        "SELECT event_type, user_id FROM events", "event_type",
        "CAST(user_id AS VARCHAR)", graft.sampling.KmvSketch.GroupK,
        groupAlias = "event_type"))),
    // the same KMV estimate through the native bottom_k
    // TypedImperativeAggregate — one pass, ≤ k longs per group per map
    // task, no pre-distinct shuffle; identical rows, same oracle
    Query("events_distinct_users_kmv_agg", (s, dir) =>
      graft.sampling.KmvSketch.distinctEstimateAgg(
        Tables.events(s, dir), col("event_type"), col("user_id"),
        graft.sampling.KmvSketch.GroupK)
        .select(col("grp").as("event_type"), col("est_distinct")),
      Sql(graft.sampling.KmvSketch.distinctEstimateOracleSql(
        "SELECT event_type, user_id FROM events", "event_type",
        "CAST(user_id AS VARCHAR)", graft.sampling.KmvSketch.GroupK,
        groupAlias = "event_type"))),
    // corpus vocabulary size estimated from the 256 smallest token hashes
    Query("text_vocab_kmv", (s, dir) => {
      import org.apache.spark.sql.functions.{explode, lit}
      val toks = Tables.documents(s, dir)
        .select(explode(graft.dedup.Hashing.words(col("text"))).as("w"))
        .filter(col("w") =!= "")
      graft.sampling.KmvSketch.distinctEstimate(
        toks, lit("all"), col("w"), graft.sampling.KmvSketch.VocabK)
    },
      Sql(graft.sampling.KmvSketch.distinctEstimateOracleSql(
        """SELECT 'all' AS g, t AS w
          |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
          |        FROM documents)
          |  WHERE t <> ''""".stripMargin,
        "g", "w", graft.sampling.KmvSketch.VocabK))),
    // token frequency-of-frequencies (Zipf/Good-Turing spectrum): the
    // corpus-QA readout whose boilerplate spike / singleton depletion
    // flags template floods and over-aggressive dedup
    Query("text_freq_spectrum", (s, dir) =>
      graft.text.FrequencySpectrum.spectrum(Tables.documents(s, dir))
        .orderBy("freq"),
      Sql(graft.text.FrequencySpectrum.spectrumOracleSql())),
    // incremental vocab maintenance: saved base-snapshot sketches merged
    // with a delta-only sketch (old corpus never rescanned); merge ==
    // full recompute bit-for-bit, so the incremental path hash-gates
    // against the full-corpus oracle
    Query("text_vocab_kmv_incremental", (s, dir) =>
      graft.sampling.KmvSketch.vocabIncremental(s, dir),
      Sql(graft.sampling.KmvSketch.distinctEstimateOracleSql(
        """SELECT source AS g, t AS w
          |  FROM (SELECT source,
          |               unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
          |        FROM documents)
          |  WHERE t <> ''""".stripMargin,
        "g", "w", graft.sampling.KmvSketch.VocabK, groupAlias = "source"))),
    // cross-source vocabulary overlap (union/intersection/Jaccard) from
    // the per-source bottom-k sketches alone — KMV set algebra (Beyer'07
    // §5): the corpus is touched once; the pairwise math runs on the
    // |sources|-row sketch frame
    Query("text_source_jaccard_kmv", (s, dir) => {
      import org.apache.spark.sql.functions.explode
      val toks = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.dedup.Hashing.words(col("text"))).as("w"))
        .filter(col("w") =!= "")
      graft.sampling.KmvSketch.pairwiseOverlap(
        toks, col("source"), col("w"), graft.sampling.KmvSketch.VocabK)
        .orderBy("src_a", "src_b")
    },
      Sql(graft.sampling.KmvSketch.pairwiseOverlapOracleSql(
        """SELECT source AS g, t AS w
          |  FROM (SELECT source,
          |               unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
          |        FROM documents)
          |  WHERE t <> ''""".stripMargin,
        "g", "w", graft.sampling.KmvSketch.VocabK))),
    Query("events_cube", (s, dir) =>
      RQ.eventCube(Tables.events(s, dir))
        .orderBy(col("event_type").asc_nulls_first, col("user_bucket").asc_nulls_first),
      Sql("""SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket, count(*) AS cnt
        |FROM events GROUP BY CUBE(1, 2)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin)),
    Query("events_props_sum", (s, dir) =>
      RQ.eventPropsSum(Tables.events(s, dir)).orderBy("event_type"),
      Sql("""SELECT event_type,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("events_pivot", (s, dir) =>
      RQ.eventPivot(Tables.events(s, dir)).orderBy("dow"),
      Sql("""SELECT strftime(ts, '%a') AS dow, """ +
        graft.queries.ReferenceQueries.EventTypes.map(t =>
          s"CAST(sum(CASE WHEN event_type = '$t' THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS $t")
          .mkString(", ") +
        """ FROM events GROUP BY 1 ORDER BY 1""")),
    // --- window-function family: one user_id shuffle each, no state on
    // the driver (Sessionize/AsofJoin scaladoc has the 100 TB argument) ---
    Query("events_sessions", (s, dir) =>
      graft.operators.Sessionize.sessions(Tables.events(s, dir))
        .orderBy("user_id", "session_id"),
      Sql(graft.operators.Sessionize.sessionsOracleSql())),
    // BATCH REPLAY of the streaming sessionize sweep (the
    // events_windowed_u10 pattern): the SAME flatMapGroupsWithState
    // lambda over the batch frame, per-user sentinels closing each final
    // session (batch never fires timeouts) — oracle-gated by the batch
    // operator's SQL; StreamingSessionizeSpec pins the triggered run
    Query("events_sessions_stream_replay", (s, dir) =>
      graft.streaming.StreamingSessionize.sessionsBatchReplay(s, Tables.events(s, dir))
        .orderBy("user_id", "session_id"),
      Sql(graft.operators.Sessionize.sessionsOracleSql())),
    // STREAM-STREAM windowed attribution (r17): the two-live-streams join
    // shape the streaming surface lacked — clicks ⋈ purchases per user
    // within a 4 h window, both sides watermarked, the range bound in the
    // join condition so state stays (delay + window)-bounded. The batch
    // replay runs the IDENTICAL pairs() plan (watermarks inert in batch);
    // StreamingAttributionSpec pins triggered ≡ batch and late-input drop
    Query("events_attribution_stream_replay", (s, dir) =>
      graft.streaming.StreamingAttribution.pairsBatchReplay(Tables.events(s, dir))
        .orderBy("purchase_id", "click_id"),
      Sql(graft.streaming.StreamingAttribution.pairsOracleSql)),
    // last-touch attribution over the pair table: one map-side-combining
    // min(struct(gap, click)) argmax per purchase — no per-user ordered
    // window scan at any history length
    Query("events_attribution_last_touch", (s, dir) =>
      graft.streaming.StreamingAttribution.lastTouch(Tables.events(s, dir))
        .orderBy("purchase_id"),
      Sql(graft.streaming.StreamingAttribution.lastTouchOracleSql)),
    // ORGANIC purchases (no in-window click): the batch LEFT-ANTI spelling
    // of the streaming LEFT-OUTER join's null rows — spec pins anti ≡
    // outer-nulls ≡ the triggered stream's watermark-released rows
    Query("events_attribution_organic", (s, dir) =>
      graft.streaming.StreamingAttribution.organic(Tables.events(s, dir))
        .orderBy("purchase_id"),
      Sql(graft.streaming.StreamingAttribution.organicOracleSql)),
    // USER-atomic universe-sampled pair estimator: both ends of a pair
    // share the sampling unit, so the HT scale is first-order 1/p (the
    // JoinSampled argument); keep-filter below both join sides, T4 bound
    // over (users, kept users) via the shared Stats chain
    Query("events_attribution_sampled_u10", (s, dir) =>
      graft.streaming.StreamingAttribution.pairsSampledU(Tables.events(s, dir)),
      Sql(graft.streaming.StreamingAttribution.pairsSampledUOracleSql())),
    Query("events_topk_group", (s, dir) =>
      graft.operators.GroupTopK.topK(Tables.events(s, dir))
        .orderBy("event_type", "rn"),
      Sql(graft.operators.GroupTopK.topKOracleSql())),
    Query("events_asof", (s, dir) =>
      graft.operators.AsofJoin.asof(Tables.events(s, dir))
        .orderBy("event_id"),
      Sql(graft.operators.AsofJoin.asofOracleSql())),
    // offset + bounded-frame windows: per-user inter-event gap and a
    // rolling last-4-events aggregate (integer cents — a double rolling
    // sum would not replay: DuckDB's segment-tree frame evaluation sums
    // in a different order than Spark's running accumulation)
    Query("events_rolling", (s, dir) =>
      graft.operators.RollingWindow.eventsRolling(Tables.events(s, dir))
        .orderBy("user_id", "ts_us", "event_id"),
      Sql(graft.operators.RollingWindow.eventsRollingOracleSql())),
    Query("events_value_tier", (s, dir) =>
      graft.operators.RangeJoin.eventsByTier(s, Tables.events(s, dir))
        .orderBy("tier"),
      Sql(graft.operators.RangeJoin.eventsByTierOracleSql)),
    // Morton-grid density histogram over (l_partkey, l_suppkey) — the
    // oracle-gated arithmetic core of the z-order layout operator
    // (ZOrder.layoutByZ; per-file span shrinkage pinned by ZOrderSpec)
    Query("lineitem_zorder_hist", (s, dir) =>
      graft.operators.ZOrder.zHistogram(
        Tables.lineitem(s, dir), "l_partkey", "l_suppkey"),
      Sql(graft.operators.ZOrder.zHistogramLineitemOracleSql())),
    // --- corpus curation: benchmark decontamination + token-budget mix ---
    Query("docs_decontaminated", (s, dir) =>
      graft.text.Decontaminate.clean(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.text.Decontaminate.cleanOracleSql())),
    // quantified contamination: per-doc shared-gram counts + basis-point
    // dirtiness (the threshold-picking report BEFORE the binary drop) —
    // same broadcast probe, two partial-agg'd aggregates, text never
    // shuffles
    Query("docs_contamination_report", (s, dir) =>
      graft.text.Decontaminate.overlapReport(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.text.Decontaminate.overlapReportOracleSql())),
    // inverted-index retrieval (r17): conjunctive keyword search against
    // the SAVED bucket-partitioned posting artifact — the query's bucket
    // IN-list prunes the scan to ≤ |terms| of 64 directories at plan time
    // (PartitionFilters, spec-pinned); the oracle recomputes the
    // deterministic index content from the corpus, so the saved path
    // itself gates (the incremental-dedup artifact discipline)
    Query("docs_search_and", (s, dir) =>
      graft.text.InvertedIndex.searchAnd(s, Tables.documents(s, dir), dir)
        .orderBy("doc_id"),
      Sql(graft.text.InvertedIndex.searchOracleSql())),
    // index observability: per-bucket term/posting/tf mass off the same
    // saved artifact (bucket-balance check before shipping an index)
    Query("docs_search_index_stats", (s, dir) =>
      graft.text.InvertedIndex.bucketStats(s, Tables.documents(s, dir), dir)
        .orderBy("b"),
      Sql(graft.text.InvertedIndex.bucketStatsOracleSql)),
    // ranked OR search: integer tf-idf prominence (tf·10⁶ div df) over the
    // pruned buckets, top-20 as TakeOrderedAndProject (plan-pinned — no
    // global sort at any corpus size)
    Query("docs_search_ranked", (s, dir) =>
      graft.text.InvertedIndex.searchRanked(s, Tables.documents(s, dir), dir),
      Sql(graft.text.InvertedIndex.rankedOracleSql())),
    // PHRASE search off the positional payload: conditional-aggregate
    // pivot of the queried terms' position arrays (no per-term self-join)
    // + an in-row alignment HOF — per-doc cost bounded by the doc itself
    Query("docs_search_phrase", (s, dir) =>
      graft.text.InvertedIndex.searchPhrase(s, Tables.documents(s, dir), dir)
        .orderBy("doc_id"),
      Sql(graft.text.InvertedIndex.phraseOracleSql())),
    // incremental ingest: saved base index + delta-only postings (base
    // never re-tokenized, spec-pinned); doc-disjoint slices make the
    // union exactly the full index, so this gates against the SAME
    // full-recompute oracle as docs_search_and (merge ≡ recompute)
    Query("docs_search_incremental", (s, dir) =>
      graft.text.InvertedIndex.searchAndIncremental(s, Tables.documents(s, dir), dir)
        .orderBy("doc_id"),
      Sql(graft.text.InvertedIndex.searchOracleSql())),
    // proximity search (A NEAR B within 4 tokens): pruned pivot + in-row
    // exists HOF — exact for the two-term form, per-doc-bounded cost
    Query("docs_search_near", (s, dir) =>
      graft.text.InvertedIndex.searchNear(s, Tables.documents(s, dir), dir)
        .orderBy("doc_id"),
      Sql(graft.text.InvertedIndex.nearOracleSql())),
    // faceted search: conjunctive hit set rolled up per source (id-keyed
    // join back, text never moves)
    Query("docs_search_facets", (s, dir) =>
      graft.text.InvertedIndex.searchFacets(s, Tables.documents(s, dir), dir)
        .orderBy("source"),
      Sql(graft.text.InvertedIndex.facetsOracleSql())),
    // collocation mining: adjacent-bigram lift c_xy·10⁶ div (c_x·c_y) —
    // monotone in PMI without a float log; top-50 as TakeOrderedAndProject
    Query("text_collocations", (s, dir) =>
      graft.text.CorpusStats.collocations(Tables.documents(s, dir)),
      Sql(graft.text.CorpusStats.collocationsOracleSql)),
    // per-source lexical diversity: Gini–Simpson 1−Σp² in ppm, all
    // decimal(38,0) (hugeint) arithmetic with one floored DIV
    Query("text_diversity_by_source", (s, dir) =>
      graft.text.CorpusStats.diversityBySource(Tables.documents(s, dir))
        .orderBy("source"),
      Sql(graft.text.CorpusStats.diversityOracleSql)),
    // snapshot drift: per-source before/after/added/removed between the
    // base slice and the full corpus (removed via an honest id anti-join)
    Query("docs_snapshot_drift", (s, dir) =>
      graft.text.CorpusStats.snapshotDrift(Tables.documents(s, dir))
        .orderBy("source"),
      Sql(graft.text.CorpusStats.snapshotDriftOracleSql)),
    // Bloom-filter decontamination twin: the benchmark gram set compressed
    // 16x into a 2^mLog-bit table (width derived in-plan from the live
    // gram count) built by the mergeable bloom_agg aggregate and probed
    // map-side by the codegen'd bloom_might_contain — false positives drop
    // clean docs (the conservative direction) at ~7e-4 and replay
    // bit-for-bit in the oracle's distinct-positions arithmetic
    Query("docs_decontaminated_bloom", (s, dir) =>
      graft.text.Decontaminate.cleanBloom(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.text.Decontaminate.cleanBloomOracleSql())),
    // FUZZY decontamination (GPT-3 App. C / PaLM practice): a train doc
    // that MinHash-near-duplicates a benchmark doc is dropped even with
    // zero literal 8-grams shared — pure composition over the probed
    // near-dup pair family; runs on the augmented corpus where injected
    // copies of benchmark docs are exactly the paraphrased-leak shape
    Query("docs_decontaminated_fuzzy", (s, dir) =>
      graft.text.Decontaminate.cleanFuzzy(
        DedupCorpus.augment(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      Sql(graft.text.Decontaminate.cleanFuzzyOracleSql())),
    // batch replay of the STREAMING per-row bloom form (exists over the
    // in-row shingle array — stateless, append-mode-legal): same clean set
    // as the explode path, pinned through the SAME oracle SQL, so the two
    // spellings agree through DuckDB rather than only against each other
    Query("docs_decontaminated_stream_replay", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bits = graft.text.Decontaminate.benchBloomBits(docs)
      graft.text.Decontaminate.cleanBloomPerRow(
        docs.filter(col("doc_id") % graft.text.Decontaminate.BenchEvery =!= 0), bits)
        .orderBy("doc_id")
    },
      Sql(graft.text.Decontaminate.cleanBloomOracleSql())),
    // context-window chunking (the split dual of sequence packing) —
    // shuffle-free per-row explode
    Query("docs_chunks", (s, dir) =>
      graft.text.Chunker.chunks(Tables.documents(s, dir))
        .orderBy("doc_id", "chunk_id"),
      Sql(graft.text.Chunker.chunksOracleSql())),
    // ordered view→click→purchase conversion funnel (stage frames shrink,
    // user-keyed joins — no per-user ordered scan)
    Query("events_seq_funnel", (s, dir) =>
      graft.operators.SequenceFunnel.funnel(Tables.events(s, dir))
        .orderBy("stage"),
      Sql(graft.operators.SequenceFunnel.funnelOracleSql)),
    // per-source quality deciles for cutoff ablations (distributed rank,
    // not per-source NTILE sorts)
    Query("docs_quality_deciles", (s, dir) =>
      graft.text.QualityDeciles.profile(Tables.documents(s, dir))
        .orderBy("source", "decile"),
      Sql(graft.text.QualityDeciles.profileOracleSql)),
    // DSIR-style importance scoring + deterministic resample toward the
    // target-language hashed-ngram distribution (Xie et al. 2023)
    Query("docs_importance_scores", (s, dir) =>
      graft.sampling.ImportanceResample.scores(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.sampling.ImportanceResample.scoresOracleSql)),
    Query("docs_importance_resampled", (s, dir) =>
      graft.sampling.ImportanceResample.resample(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.sampling.ImportanceResample.resampleOracleSql)),
    // fixed-size weighted sampling without replacement (Efraimidis-
    // Spirakis A-ES via integer max-of-w-uniforms keys; distributed
    // two-level rank, in-plan k — no GlobalLimit funnel)
    Query("docs_weighted_sample", (s, dir) =>
      graft.sampling.WeightedSampled.sample(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.sampling.WeightedSampled.sampleOracleSql())),
    Query("docs_weighted_sample_summary", (s, dir) =>
      graft.sampling.WeightedSampled.summary(Tables.documents(s, dir))
        .orderBy("source"),
      Sql(graft.sampling.WeightedSampled.summaryOracleSql())),
    // the streaming reservoir's ingest math replayed in batch: per-shard
    // top-k then the bounded global merge — equals the plain fixed-k A-ES
    // selection, so the oracle is the literal-k rank cut
    Query("docs_weighted_sample_stream_replay", (s, dir) =>
      graft.streaming.StreamingWeightedReservoir.replay(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.sampling.WeightedSampled.sampleKOracleSql(
        graft.streaming.StreamingWeightedReservoir.ReservoirK))),
    // stratified A-ES: per-source quotas derived in-plan from live group
    // counts (congressional discipline), ranked by ONE global RangeRank —
    // no per-source single-task sort at any skew
    Query("docs_weighted_sample_by_source", (s, dir) =>
      graft.sampling.WeightedSampled.sampleBySource(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.sampling.WeightedSampled.sampleBySourceOracleSql())),
    // deterministic global training-order shuffle (range-partitioned
    // two-level rank — no single-task sort/window) + its shard manifest
    Query("docs_global_shuffle", (s, dir) =>
      graft.text.GlobalShuffle.positions(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.text.GlobalShuffle.positionsOracleSql())),
    Query("docs_shuffle_manifest", (s, dir) =>
      graft.text.GlobalShuffle.shardManifest(Tables.documents(s, dir))
        .orderBy("shard"),
      Sql(graft.text.GlobalShuffle.shardManifestOracleSql())),
    Query("docs_token_budget", (s, dir) =>
      graft.sampling.TokenBudget.select(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.sampling.TokenBudget.selectOracleSql())),
    Query("docs_packed", (s, dir) =>
      graft.text.SequencePacking.packs(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.text.SequencePacking.packsOracleSql())),
    // per-pack member offsets — the attention document-mask manifest;
    // one pack-keyed window over the existing prefix-sum frame
    Query("docs_pack_boundaries", (s, dir) =>
      graft.text.SequencePacking.packBoundaries(Tables.documents(s, dir)),
      Sql(graft.text.SequencePacking.packBoundariesOracleSql())),
    // per-pack fill histogram — the shard-utilization report a training-
    // data engineer reads before shipping; two aggregates over the packs
    // frame, output bounded by the fill_pct range
    Query("docs_pack_fill", (s, dir) =>
      graft.text.SequencePacking.packFillHistogram(Tables.documents(s, dir))
        .orderBy("fill_pct"),
      Sql(graft.text.SequencePacking.packFillHistogramOracleSql())),
    // mixture-aware packing: the resample manifest's (doc_id, copy) is the
    // position-hash unit, so replicas of an up-weighted doc pack into
    // distinct sequences — the manifest's copy index finally consumed
    Query("docs_packed_mixture", (s, dir) =>
      graft.text.SequencePacking.packsMixture(Tables.documents(s, dir))
        .orderBy("doc_id", "copy"),
      Sql(graft.text.SequencePacking.packsMixtureOracleSql())),
    // intra-document repetition removal: per-row paragraph dedup keeping
    // first occurrences (deterministic paragraph synthesis per the
    // DedupCorpus.augment protocol — fixture docs have no blank lines)
    Query("docs_derepeated", (s, dir) =>
      graft.text.Derepeat.derepeated(
        graft.text.Derepeat.withParagraphs(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      Sql(graft.text.Derepeat.derepeatOracleSql())),
    // cross-document paragraph dedup: global first-occurrence keep over the
    // duplicate-injected corpus — the middle dedup granularity between
    // Derepeat (within one doc) and the whole-document dedup family
    Query("dedup_paragraphs", (s, dir) =>
      graft.text.CrossDocDedup.pipeline(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.text.CrossDocDedup.oracleSql)),
    // domain-mixture resampling: materialize a training mixture from
    // per-source weights (×2.5 / ×0.3 / drop / pass-through) — whole copies
    // + a hash-range fractional copy, deterministic → fully oracle-gated
    Query("docs_mixture_u", (s, dir) =>
      graft.sampling.MixtureResample.resample(Tables.documents(s, dir))
        .orderBy("doc_id", "copy"),
      Sql(graft.sampling.MixtureResample.resampleOracleSql())),
    // temperature-scaled (α=1/2) mixture: weights computed in-plan from
    // per-source counts via IEEE-exact floor-sqrt, then the same
    // deterministic copy explode — fully oracle-gated
    Query("docs_mixture_temp", (s, dir) =>
      graft.sampling.MixtureResample.resampleTemperature(Tables.documents(s, dir)),
      Sql(graft.sampling.MixtureResample.resampleTemperatureOracleSql)),
    // SemDeDup-style semantic dedup: sign-LSH cluster buckets, keep the
    // representative (min vec_id) and everything below the cosine threshold
    // to it — deterministic clustering → fully oracle-gated, unlike k-means
    Query("dedup_semantic", (s, dir) =>
      graft.similarity.SemanticDedup.decisions(Tables.embeddings(s, dir))
        .orderBy("vec_id"),
      Sql(graft.similarity.SemanticDedup.decisionsOracleSql())),
    // the composed curation filter chain with first-failing-rule verdicts
    // and the per-rule loss funnel (Gopher/RefinedWeb reporting shape)
    Query("docs_curated", (s, dir) =>
      graft.text.CurationPipeline.verdicts(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Sql(graft.text.CurationPipeline.verdictsOracleSql())),
    Query("docs_curated_funnel", (s, dir) =>
      graft.text.CurationPipeline.funnel(Tables.documents(s, dir))
        .orderBy("verdict"),
      Sql(graft.text.CurationPipeline.funnelOracleSql)),
    // the funnel per corpus component — the Gopher/RefinedWeb published
    // reporting shape; source rides the fused projection for free
    Query("docs_curated_funnel_by_source", (s, dir) =>
      graft.text.CurationPipeline.funnelBySource(Tables.documents(s, dir))
        .orderBy("source", "verdict"),
      Sql(graft.text.CurationPipeline.funnelBySourceOracleSql)),
    // the whole curation story composed: curate → exact-dedup → mixture →
    // pack, raw corpus to training-sequence manifest in ONE plan — each
    // stage individually oracle-gated, and the composition stays gated
    Query("docs_training_shard", (s, dir) =>
      graft.text.TrainingShard.manifest(Tables.documents(s, dir))
        .orderBy("doc_id", "copy"),
      Sql(graft.text.TrainingShard.manifestOracleSql())),
    // the FUZZY-dedup production variant: curate → near-dup CC with the
    // quality-keep winner → mixture → pack, over the source-carrying
    // augmented corpus (non-vacuous dedup work, like the standalone
    // dedup queries) — the full RefinedWeb-style pipeline shape
    Query("docs_training_shard_neardup", (s, dir) =>
      graft.text.TrainingShard.manifestNearDup(Tables.documents(s, dir))
        .orderBy("doc_id", "copy"),
      Sql(graft.text.TrainingShard.manifestNearDupOracleSql())),
    // the full Lee-et-al.-plus-RefinedWeb chain: curate → byte-exact
    // substring EXCISION → near-dup quality-keep → mixture → pack — the
    // strongest dedup modality as a stage of the production pipeline
    Query("docs_training_shard_substring", (s, dir) =>
      graft.text.TrainingShard.manifestSubstring(Tables.documents(s, dir))
        .orderBy("doc_id", "copy"),
      Sql(graft.text.TrainingShard.manifestSubstringOracleSql())),
    // the AQP twin of the composed pipeline: the same 4-stage chain over a
    // 10 % doc-atomic universe sample, HT-scaled to the one-row summary a
    // planner reads ("how many kept docs / tokens / packs would the full
    // corpus produce") — a 100 TB estimate priced at a 10 % scan
    Query("docs_training_shard_sampled_u10", (s, dir) =>
      graft.text.TrainingShard.manifestSampled(Tables.documents(s, dir)),
      Sql(graft.text.TrainingShard.manifestSampledOracleSql())),
    // shard-level roll-up of the composed layout — the config a data
    // loader streams shards from, and the summary ShardSink returns after
    // shipping the bytes (sink write itself is spec-pinned: ShardSinkSpec)
    Query("docs_shard_summary", (s, dir) =>
      graft.text.TrainingShard.shardSummary(Tables.documents(s, dir))
        .orderBy("shard_id"),
      Sql(graft.text.TrainingShard.shardSummaryOracleSql()))))

  /** The registry's name → build view. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** The registry's name → DuckDB SQL view, oracle-gated queries only. */
  lazy val oracleSql: Map[String, String] =
    all.collect { case Query(name, _, Sql(sql)) => name -> sql }.toMap

  private lazy val byName: Map[String, Query] = all.map(q => q.name -> q).toMap

  /** The declared query `name`; the one "unknown query" error every
    * name-taking main reports. */
  def query(name: String): Query = byName.getOrElse(name,
    throw new IllegalArgumentException(
      s"unknown query: $name (${all.size} declared in SparkEntry.all)"))

  /** `qs` unchanged, after checking that no name is declared twice. */
  private[graft] def unique(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** rand(seed) Bernoulli twins: Spark's RNG stream has no SQL replay, and
    * the draws are a function of (seed, partition index), so a different
    * file layout is a different draw by contract (the deterministic `_u10`
    * universe twins exist to be layout-free). */
  private val SeededDraws = NoOracle(
    "rand(seed) draws: no SQL engine replays Spark's RNG stream", layoutSensitive = true)

  /** The seeded k-means fit consumes vectors in partition order, so other
    * file splits converge to other (equally valid) centroid sets; the
    * deterministic end-to-end twin is `simsearch_ivf_det`. IvfIndexSpec
    * pins recall and fit/saved consistency. */
  private val SeededFit = NoOracle(
    "seeded k-means fit: no SQL replay, and the fit reads rows in partition order",
    layoutSensitive = true)

  /** t-digest / HLL++ state is engine-specific; QuantilesSpec pins both
    * sketches against their exact twins. */
  private val EngineSketch = NoOracle("engine-specific sketch: no SQL replay of its state")

  /** Shared by every query whose semantic result is the plain word count
    * (parquet, text-file, gzipped-text, and escape→url_decode round-trip
    * ingestion of the identical corpus).
    */
  private val WordCountSql: String =
    RQ.wordCountOracleSql() + "\nORDER BY word"

  /** The word-count universe twins' oracle (unit = doc_id), shared by the
    * parquet and the XML presample twin. */
  private val WordCountU10Sql: String =
    HtTwin.sql(from => RQ.wordCountOracleSql(from = from), "documents", "doc_id", 10, Seq("cnt"))

  /** TPC-H Q1's additive columns, HT-scaled by both Q1 twins. */
  private val Q1Additive =
    Seq("sum_qty", "sum_base_price_c", "sum_disc_price_e4", "sum_charge_e6", "cnt")

  /** Universe-stratified estimate oracle (integer bp thresholds, exact HT
    * weights).
    */
  private def stratifiedSumUSql: String = {
    val (thrSql, keepSql) = graft.sampling.StratifiedSampled.universeSqlParts(
      "event_type", "event_id", Map("view" -> 500, "click" -> 2000))
    val mod = graft.sampling.StratifiedSampled.FineMod
    s"""WITH s AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents, $thrSql AS thr
       |  FROM events WHERE $keepSql
       |)
       |SELECT event_type,
       |       sum($mod.0 / thr) AS est_cnt,
       |       sum(cents * ($mod.0 / thr)) AS est_sum
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin
  }

}
