package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.AccessLog

/** The reference's analytics queries, re-expressed as declarative DataFrame
  * pipelines (SURVEY.md §2.2-2.3 operators P1-P10 / A1-A3).
  *
  * Every pipeline is pure built-in `functions._` — fully codegen'd, map-side
  * partial aggregation for free (the reference wired its reducer as a
  * combiner by hand: RandomizedWordCount.java:92), and filters/projections
  * that Catalyst pushes into the parquet scan. Each takes the source
  * DataFrame so it composes with any sampler: its sampled twin is
  * [[graft.sampling.HtTwin.scaled]] over `query(sample.data)`.
  *
  * Input mapping (FIXTURES.md §2): gutenberg/wiki text → `documents.text`;
  * the Apache access log → `events` (`user_id`≈host, `ts`≈datetime,
  * `value`≈bytes, `event_type`≈page); the wireless CSV's (sender, receiver)
  * → (`user_id`, `props.k`).
  */
object ReferenceQueries {

  /** Word tokenizer: lower-case then split on non-alphanumerics — the moral
    * equivalent of the reference's 30+-char delimiter set
    * (RandomizedWordCount.java:31) over `[a-z0-9]` words.
    */
  val WordDelims = "[^a-z0-9]+"

  /** The ONE DuckDB spelling of [[wordCount]]'s token pipeline (tokenize,
    * digit-doc drop, empty/numeric token drop, group) — every word-count
    * oracle composes THIS (review r16: four hand-copies had accumulated
    * across the plain, sampled-universe, and ladder oracles; an edit to
    * the convention applied to one would silently desynchronize gates).
    * `docCond` filters the corpus (a keep-predicate or TRUE);
    * `countSelect` is the aggregate projection; `from` is the documents
    * relation; no ORDER BY — callers append their own.
    */
  def wordCountOracleSql(
      docCond: String = "TRUE",
      countSelect: String = "count(*) AS cnt",
      from: String = "documents"): String =
    s"""SELECT word, $countSelect
       |FROM (SELECT unnest(regexp_split_to_array(lower(text), '$WordDelims')) AS word
       |      FROM $from
       |      WHERE ($docCond) AND NOT regexp_matches(lower(text), '[0-9]'))
       |WHERE word <> '' AND NOT regexp_matches(word, '^[0-9]+$$')
       |GROUP BY word""".stripMargin

  /** P1+P2+P3 → A1: word count.
    * Faithful to the reference pipeline (RandomizedWordCount.java:31-53):
    * lowercase, drop lines containing digits, tokenize, drop empty and
    * numeric-only tokens, count by word.
    * `urlDecode` adds the reference's URL-unescaping step (`url_decode`,
    * RandomizedWordCount.java:44-52); off by default since the oracle
    * corpus contains no percent-escapes.
    */
  def wordCount(docs: DataFrame, urlDecode: Boolean = false): DataFrame =
    wordItems(docs, urlDecode)
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** The pre-aggregation word stream of [[wordCount]] — one row per counted
    * word, with `carry` columns of the input riding alongside (the
    * single-pass ladder carries the sampling-unit residue through it, so
    * every rung is a conditional count over ONE scan). One spelling, so the
    * exact query and the ladder's per-rung semantics can never drift.
    */
  def wordItems(
      docs: DataFrame, urlDecode: Boolean = false,
      carry: Seq[String] = Nil): DataFrame = {
    val line0 = lower(col("text"))
    val line =
      if (urlDecode)
        url_decode(regexp_replace(regexp_replace(line0, "%(?![0-9a-f]{2})", "%25"), "\\+", "%2b"))
      else line0
    val c = carry.map(col)
    graft.queries.Tables.parallelismFloor(docs)
      .select(line.as("line") +: c: _*)
      .filter(!col("line").rlike("[0-9]"))
      .select(explode(split(col("line"), WordDelims)).as("word") +: c: _*)
      .filter(col("word") =!= "" && !col("word").rlike("^[0-9]+$"))
  }

  /** [[wordCount]] over raw text lines (`value` column from
    * `spark.read.text`) — the reference's actual input shape (S1).
    */
  def wordCountLines(lines: DataFrame, urlDecode: Boolean = false): DataFrame =
    wordCount(lines.withColumnRenamed("value", "text"), urlDecode)

  /** Deterministic percent-escaping of a documents corpus: literal '%' →
    * `%25` FIRST (so every escape in the output is valid), then ' ' → `%20`
    * and 'e' → `%65`. URL-decoding the result restores the original text
    * exactly, which puts the P2 decode branch on an oracle-checked path:
    * `wordCount(urlEscape(docs), urlDecode = true)` must hash-match plain
    * `wordCount(docs)` — any decode deviation changes the words.
    */
  def urlEscape(docs: DataFrame): DataFrame =
    docs.select(
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), "%", "%25"),
          " ", "%20"),
        "e", "%65").as("text"))

  /** [[charCount]] over raw text lines (S1 input shape). */
  def charCountLines(lines: DataFrame): DataFrame =
    charCount(lines.withColumnRenamed("value", "text"))

  /** Wireless link analysis over RAW comma-separated lines — the
    * reference's actual input (first two CSV fields as STRING ids,
    * lexicographically ordered pair, malformed lines dropped:
    * RandomizedWirelessLogAnalysis.java:25-43).
    */
  def wirelessLinksLines(lines: DataFrame): DataFrame = {
    val p = split(col("value"), ",")
    graft.queries.Tables.parallelismFloor(lines)
      // get() (not getItem): a line with <2 fields must yield null → drop,
      // like the reference's try/catch — ANSI getItem would throw instead
      .select(get(p, lit(0)).as("snd"), get(p, lit(1)).as("rcv"))
      .filter(col("snd").isNotNull && col("rcv").isNotNull &&
        col("snd") =!= "" && col("rcv") =!= "")
      .groupBy(
        concat(greatest(col("snd"), col("rcv")), lit("->"),
          least(col("snd"), col("rcv"))).as("link"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** P4 → A1: character count (RandomizedCharacterCount.java:27-48). */
  def charCount(docs: DataFrame): DataFrame =
    charItems(docs)
      .groupBy("ch")
      .agg(count(lit(1)).as("cnt"))

  /** Pre-aggregation character stream of [[charCount]] (see [[wordItems]]). */
  def charItems(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    graft.queries.Tables.parallelismFloor(docs)
      .select(explode(split(col("text"), "")).as("ch") +: carry.map(col): _*)
      .filter(col("ch") =!= "")

  // --- Apache-log analysis tasks (RandomizedApacheLogAnalysis.java:53-112),
  // --- on the events analog. One parsed source, seven pipelines — the
  // --- reference's "one job template × 7 logical queries" catalog (§3.2).

  // The other five log tasks live exclusively in their CLF form (clf*
  // below) — the round-1 column analogs were removed once the real
  // parse-based pipelines landed. logHost/logSize analogs are kept as the
  // simple aggregate shapes the sampling specs and RatioLadder exercise.

  /** A2 `host`: request count per host analog (RandomizedApacheLogAnalysis.java:77-80). */
  def logHost(events: DataFrame): DataFrame =
    events.groupBy(col("user_id").as("host")).agg(count(lit(1)).as("cnt"))

  /** P8 → A2 `size`: 100-byte histogram buckets of the size analog
    * (RandomizedApacheLogAnalysis.java:88-91: floor(bytes/100)*100).
    */
  def logSize(events: DataFrame): DataFrame =
    events
      .groupBy((floor(col("value") / 100) * 100).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** P10 → A1: wireless link analysis — order-normalized link pair so A→B
    * and B→A aggregate together (RandomizedWirelessLogAnalysis.java:31-40).
    * Sender = `user_id`, receiver = `props.k` (FIXTURES.md §2).
    */
  def wirelessLinks(events: DataFrame): DataFrame = {
    // One typed JSON parse per row via from_json with an explicit schema
    // (codegen-friendly, single parse) — not per-field get_json_object
    // string-poking (VERDICT r1 §wrong 3).
    val propsSchema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
    val sender = col("user_id")
    val receiver = col("__p").getField("k")
    graft.queries.Tables.parallelismFloor(events)
      .withColumn("__p", from_json(col("props"), propsSchema))
      .filter(receiver.isNotNull) // malformed-record tolerance (P5 semantics)
      .groupBy(
        concat(
          greatest(sender, receiver).cast("string"),
          lit("->"),
          least(sender, receiver).cast("string")).as("link"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** DuckDB oracle of [[wirelessLinks]] over the events relation `from`. */
  def wirelessLinksOracleSql(from: String = "events"): String =
    s"""SELECT concat(greatest(user_id, k), '->', least(user_id, k)) AS link, count(*) AS cnt
       |FROM (SELECT user_id, CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k FROM $from)
       |WHERE k IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin

  // --- CLF pipelines: the reference's actual string processing. Raw log
  // --- lines (synthesized deterministically from `events`) → regexp CLF
  // --- parse (P5) → the seven log tasks, so the parse/extract/prefix logic
  // --- is on the oracle-checked path (VERDICT r1 Missing #1).

  /** events → raw CLF lines → parsed typed columns; `carry` columns of the
    * events input ride through synthesize+parse (see [[wordItems]]).
    */
  def clfParsed(events: DataFrame, carry: Seq[String] = Nil): DataFrame =
    AccessLog.parse(AccessLog.synthesize(events, carry), carry)

  /** P6 → A2 `hack` on parsed CLF: 9-prefix attack-probe path match,
    * request count per hostname (RandomizedApacheLogAnalysis.java:56-75).
    */
  def clfHack(parsed: DataFrame): DataFrame =
    parsed
      // single fused prefix-alternation regex: path-extract + 9 startsWith
      // branches would re-run the extraction per branch after predicate
      // pushdown (measured 6 s vs 0.8 s at sf0.1)
      .filter(AccessLog.isHackRequest(col("request")))
      .groupBy(col("hostname").as("host"))
      .agg(count(lit(1)).as("cnt"))

  /** A2 `host` on parsed CLF (RandomizedApacheLogAnalysis.java:77-80). */
  def clfHost(parsed: DataFrame): DataFrame =
    parsed.groupBy(col("hostname").as("host")).agg(count(lit(1)).as("cnt"))

  /** P7 → A2 `dateweek` on parsed CLF: the datetime string is re-parsed with
    * the reference's format then re-formatted "EEE HH"
    * (RandomizedApacheLogAnalysis.java:82-86).
    */
  def clfDateweek(parsed: DataFrame): DataFrame =
    parsed
      .groupBy(date_format(col("ts"), "EEE HH").as("dateweek"))
      .agg(count(lit(1)).as("cnt"))

  /** P8 → A2 `size` on parsed CLF (RandomizedApacheLogAnalysis.java:88-91). */
  def clfSize(parsed: DataFrame): DataFrame =
    parsed
      .groupBy((floor(col("bytes") / 100) * 100).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** A3 `totalsize` on parsed CLF (RandomizedApacheLogAnalysis.java:93-95). */
  def clfTotalsize(parsed: DataFrame): DataFrame =
    parsed
      .groupBy(lit("Total").as("key"))
      .agg(sum(col("bytes")).as("total"))

  /** P9 → A2 `pagesize` on parsed CLF: `?`-aware path extraction then
    * byte totals per page (RandomizedApacheLogAnalysis.java:97-101).
    */
  def clfPagesize(parsed: DataFrame): DataFrame =
    parsed
      .groupBy(AccessLog.pagePath(col("request")).as("page"))
      .agg(sum(col("bytes")).as("total"))

  /** P9 → A2 `page` on parsed CLF (RandomizedApacheLogAnalysis.java:103-107). */
  def clfPage(parsed: DataFrame): DataFrame =
    parsed
      .groupBy(AccessLog.pagePath(col("request")).as("page"))
      .agg(count(lit(1)).as("cnt"))

  // --- general analytics beyond the reference's surface: quantiles and
  // --- grouping sets, the aggregate shapes any warehouse user expects ---

  /** Exact linear-interpolation percentiles of `value` per event type —
    * Spark's `percentile` and DuckDB's `quantile_cont` share the
    * definition, so this is oracle-exact. At scale, swap to
    * `percentile_approx` (t-digest sketch, mergeable, bounded memory) and
    * the plan shape stays identical.
    */
  def eventQuantiles(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.9)).as("p90"),
        percentile(col("value"), lit(0.99)).as("p99"))

  /** DuckDB oracle of [[eventQuantiles]] over the events relation `from`. */
  def eventQuantilesOracleSql(from: String = "events"): String =
    s"""SELECT event_type,
       |       quantile_cont(value, 0.5) AS p50,
       |       quantile_cont(value, 0.9) AS p90,
       |       quantile_cont(value, 0.99) AS p99
       |FROM $from GROUP BY 1 ORDER BY 1""".stripMargin

  /** The 100 TB twin of [[eventQuantiles]]: `approx_percentile` (t-digest
    * style sketch — mergeable, bounded memory per group, one pass) instead
    * of exact `percentile` (which buffers every value per group). Plan
    * shape is identical; accuracy is bounded by `acc` (10000 ≈ 0.01%%-ile
    * resolution).
    *
    * PERMANENTLY no_oracle BY DESIGN: the t-digest's centroids depend on
    * sketch MERGE ORDER, which varies with task scheduling, so no external
    * engine (nor a second Spark run) is guaranteed the same bits — the
    * spec pins it against the exact result in RANK instead. The gated
    * deterministic story is three-fold: this query's exact twin
    * (`events_quantiles`), the hash-range sampled twin
    * (`events_quantiles_sampled_u10`), and the order-free log-histogram
    * sketch ([[graft.sampling.LogHistogram]], `events_quantiles_hist`) —
    * the last giving the same one-pass bounded-memory shape WITH a
    * bit-exact DuckDB gate.
    */
  def eventQuantilesApprox(events: DataFrame, acc: Int = 10000): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(acc)).as("p50"),
        percentile_approx(col("value"), lit(0.9), lit(acc)).as("p90"),
        percentile_approx(col("value"), lit(0.99), lit(acc)).as("p99"))

  /** Exact distinct users per event type — the expand-based distinct
    * aggregation shape (Catalyst rewrites it to a two-level aggregate:
    * partial distinct per map task, exact merge after one shuffle).
    */
  def eventDistinctUsers(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_users"))

  /** The 100 TB twin of [[eventDistinctUsers]]: HyperLogLog++ sketch —
    * fixed-size mergeable state per group instead of a distinct-value
    * hash set; `rsd` bounds the relative error. Spec-pinned against the
    * exact count (sketches are engine-specific, no external oracle).
    */
  def eventDistinctUsersApprox(events: DataFrame, rsd: Double = 0.02): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users"))

  /** CUBE over (event type, user bucket): all four grouping-set combinations
    * in ONE pass — Catalyst expands the cube before the aggregate, so the
    * shuffle carries each row once per grouping set with map-side partials.
    */
  def eventCube(events: DataFrame): DataFrame =
    events
      .cube(col("event_type"), (col("user_id") % 10).cast("long").as("user_bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Semi-structured extraction: the `props` column is a JSON string; pull
    * the `k` property and aggregate it per event type. `get_json_object`
    * is a codegen'd path expression evaluated inside the scan stage — no
    * UDF, no schema inference pass over the data (contrast
    * `spark.read.json`'s sampling job; at 100 TB you extract the fields
    * you need, you don't infer a schema you won't use).
    */
  def eventPropsSum(events: DataFrame): DataFrame =
    events
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))

  /** All event-type values, fixed for [[eventPivot]]'s column set. */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** PIVOT day-of-week × event type → revenue cents: the OLAP reshape.
    * The value list is EXPLICIT — without it Spark runs a driver-side
    * distinct job over the pivot column before it can even plan, and the
    * output width is unbounded; with it the pivot compiles to one grouped
    * aggregate of CASE-filtered sums (exactly what the oracle SQL spells),
    * one shuffle with map-side partials.
    */
  def eventPivot(events: DataFrame): DataFrame =
    events
      .select(
        date_format(col("ts"), "EEE").as("dow"),
        col("event_type"),
        Tables.cents.as("cents"))
      .groupBy(col("dow"))
      .pivot("event_type", EventTypes)
      .agg(sum(col("cents")))
}
