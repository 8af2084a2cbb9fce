package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.sampling.{Sampled, SamplingConfig}

/** The sampling/AQP layer on Structured Streaming — the natural extension
  * the reference never had (its "state" was job metadata in ZooKeeper, not
  * stream state; SURVEY.md §2.6).
  *
  * Composition is identical to batch: the seeded Bernoulli filter sits
  * directly above the source, the windowed aggregation runs on the
  * surviving fraction, and every additive aggregate is HT-scaled by 1/p.
  * Watermarks bound state exactly as in unsampled streaming — sampling
  * SHRINKS state (fewer distinct keys survive), which is the point at
  * 100 TB/day ingest: the approximate stream costs p of the exact one in
  * both CPU and state store.
  */
object StreamingSampled {

  /** Sampled tumbling-window counts per key with HT-scaled estimates.
    *
    * @param events    streaming DataFrame with an event-time column
    * @param tsCol     event-time column name (used for window + watermark)
    * @param keyCol    grouping key column name
    * @param cfg       sampling config (seeded; ratio 1.0 → exact identity)
    * @param windowDur tumbling window duration, e.g. "10 minutes"
    * @param watermark lateness bound, e.g. "20 minutes"
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      cfg: SamplingConfig,
      windowDur: String,
      watermark: String): DataFrame = {
    val p = cfg.resolvedRatio
    val sampled =
      if (p >= 1.0) events
      else events.filter(Sampled.keep(cfg))
    sampled
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("window.start").as("win_start"),
        col(keyCol),
        col("cnt"),
        (col("cnt") / lit(p)).as("est_cnt"))
  }

  /** Universe-sampled (hash-range) tumbling-window counts — the streaming
    * form of [[graft.sampling.UniverseSampled]], and the CORRECT sampler
    * for exactly-once pipelines: `rand(seed)` draws per (partition, row
    * position), so a replayed/retried micro-batch or a re-partitioned
    * recovery run keeps a DIFFERENT row set (the sampled stream is not
    * reproducible under failure recovery), while a deterministic hash of
    * the row's unit keeps the SAME rows on every replay — sampling commutes
    * with retries. Corollary (pinned by the spec): the streaming result is
    * row-IDENTICAL to its batch twin, not just statistically close.
    */
  def windowedCountsUniverse(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      unit: Column,
      pct: Int,
      windowDur: String,
      watermark: String): DataFrame =
    graft.sampling.UniverseSampled.sample(events, unit, pct)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("window.start").as("win_start"),
        col(keyCol),
        col("cnt"),
        (col("cnt") * lit(graft.sampling.UniverseSampled.scale(pct))).as("est_cnt"))

  /** Streaming exact dedup by id within the watermark horizon — built on
    * `dropDuplicatesWithinWatermark`, so the state store holds ids only as
    * long as late data could still arrive (bounded state, the only kind
    * that survives an unbounded stream).
    */
  def dedupWithinWatermark(
      events: DataFrame,
      tsCol: String,
      idCols: Seq[String],
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Per-reader running (total, sampled) accounting as CUSTOM STREAM STATE.
    *
    * The reference persisted each record reader's `"sampled/total"` counters
    * in a ZooKeeper tree so the client could report the achieved rate after
    * the job (RandomSamplingUtil.java:296-315). On an unbounded stream that
    * becomes keyed state in `mapGroupsWithState`: per reader key, a pair of
    * longs accumulated across triggers, with the LIVE achieved rate emitted
    * on every batch — the streaming analogue of the post-job report. State
    * is 2 longs per reader: bounded by the reader population, not the data.
    */
  final case class ReaderCounts(total: Long, sampled: Long)

  def runningAccounting(
      spark: SparkSession,
      events: DataFrame,
      keyCol: String,
      cfg: SamplingConfig): Dataset[(String, Long, Long, Double)] = {
    import spark.implicits._
    // the keep decision is TAGGED (not filtered) so total and sampled come
    // from the same pass — the streaming twin of the counts Sampled.data
    // tallies per partition
    val tagged = events
      .select(
        col(keyCol).cast("string").as("key"),
        when(Sampled.keep(cfg), 1L).otherwise(0L).as("kept"))
      .as[(String, Long)]
    tagged
      .groupByKey(_._1)
      .mapGroupsWithState[ReaderCounts, (String, Long, Long, Double)](
        GroupStateTimeout.NoTimeout) { (key, rows, state) =>
        var t = 0L
        var s = 0L
        rows.foreach { case (_, kept) => t += 1; s += kept }
        val prev = state.getOption.getOrElse(ReaderCounts(0L, 0L))
        val next = ReaderCounts(prev.total + t, prev.sampled + s)
        state.update(next)
        val rate = if (next.total == 0) 0.0 else next.sampled.toDouble / next.total
        (key, next.total, next.sampled, rate)
      }
      .toDF("key", "total", "sampled", "actual_rate")
      .as[(String, Long, Long, Double)]
  }
}
