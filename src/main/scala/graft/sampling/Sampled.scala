package graft.sampling

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** Post-run sampling report — same fields and formatting as the reference's
  * ZooKeeper/stdout report (RandomSamplingUtil.java:306-328), including the
  * exact field labels its comparator machine-parses
  * (RSMRResultComparator.java:100-102 parses "[Designed sample rate]").
  */
final case class SamplingReport(
    jobId: Int,
    total: Long,
    sampled: Long,
    designedRate: Double,
    confidence: Double,
    timeCostSec: Double) {

  def actualRate: Double = if (total == 0) 0.0 else sampled.toDouble / total

  /** Achieved error bound (T4, finite-population corrected). */
  def errorRate: Double = Stats.errorBound(confidence, total, sampled)

  override def toString: String =
    s"[Job ID] $jobId\n" +
      s"[Total record] $total\n" +
      s"[Sampled record] $sampled\n" +
      f"[Designed sample rate] ${designedRate * 100}%.2f%%\n" +
      f"[Actual sample rate] ${actualRate * 100}%.2f%%\n" +
      s"[Confidence level] $confidence\n" +
      f"[Error rate] ${errorRate * 100}%.2f%%\n" +
      f"[Time cost] $timeCostSec%.2fs"
}

object SamplingReport {

  /** Parse a report back from its stdout/result.txt text form — the
    * reference's comparator machine-parsed prior runs' result.txt exactly
    * like this (RSMRResultComparator.java:91-109), so the report text is a
    * cross-run PROTOCOL, not just logging. Percent-formatted fields come
    * back at their printed 2-decimal precision (as in the reference).
    */
  def parse(text: String): SamplingReport = {
    val fields = text.linesIterator.collect {
      case l if l.startsWith("[") && l.contains("]") =>
        val i = l.indexOf(']')
        l.substring(1, i) -> l.substring(i + 1).trim
    }.toMap
    def pct(label: String): Double = fields(label).stripSuffix("%").toDouble / 100
    SamplingReport(
      jobId = fields("Job ID").toInt,
      total = fields("Total record").toLong,
      sampled = fields("Sampled record").toLong,
      designedRate = pct("Designed sample rate"),
      confidence = fields("Confidence level").toDouble,
      timeCostSec = fields("Time cost").stripSuffix("s").toDouble)
  }
}

/** Seeded Bernoulli sample over a DataFrame, with exact record accounting and
  * Horvitz–Thompson scale-up — the Spark-native replacement for the
  * reference's sampled RecordReaders + ZooKeeper counter tree
  * (RandomizedLineRecordReader.java:67-94, RandomSamplingUtil.java:264-328).
  *
  * Design notes for scale (100 TB / 1000 executors):
  *  - The keep/drop decision is `rand(seed) < p` — a codegen'd Catalyst
  *    expression evaluated inside the scan stage by a [[SampleKeep]] node,
  *    so rejected rows never leave the scan's whole-stage-codegen loop (the
  *    moral equivalent of the reference's read-and-discard loop,
  *    RandomizedLineRecordReader.java:67-81). Catalyst pushes column
  *    pruning below it, so a sampled count scans zero parquet columns.
  *  - Accounting rides on the data job, as the reference's counters rode
  *    inside its record readers (RandomizedLineRecordReader.java:86-94):
  *    the node counts the rows it reads and keeps, and each partition read
  *    to its end adds its `(total, kept)` to a [[SampleTally]] (an
  *    accumulator keyed by partition, so a re-run of a partition replaces
  *    its entry instead of adding to it). [[report]] sums the tally once
  *    every partition of the data has been read; until then (no action
  *    yet, only a limit, data served from a cache built elsewhere) it runs
  *    one aggregate over the source instead: a zero-column pass computing
  *    `count(*)` and the rows the same keep-predicate accepts.
  *  - `rand(seed)` is deterministic per (seed, partition index, row position),
  *    so the sampled row-set is reproducible run-to-run — an intentional fix
  *    of the reference's unseeded Random.
  *
  * Which sampler to use: see [[UniverseSampled]].
  */
final class Sampled private (
    val source: DataFrame,
    val config: SamplingConfig,
    val jobId: Int,
    startNanos: Long) {

  /** Effective designed probability after T5 resolution. */
  val ratio: Double = config.resolvedRatio

  // one tally per instance, so a report reads only runs of this Sampled's
  // own data
  private val tally = if (ratio >= 1.0) None else Some(SampleKeep.tally(source.sparkSession))

  /** The sampled relation. Ratio 1.0 degenerates to the identity (no filter
    * node at all, so exact mode pays zero overhead).
    */
  val data: DataFrame = tally match {
    case None => source
    case Some(t) => SampleKeep(source, config.seed, ratio, t)
  }

  /** Exact (total, sampled) cardinalities in ONE pass over the source,
    * when the data has not been read in full: a single zero-column scan
    * computes `count(*)` and the number of rows the seeded keep-predicate
    * accepts. The `when(rand(seed) < p, …)` tag selects the same row set as
    * [[data]] because `rand(seed)` is deterministic per (seed, partition
    * index, row position) and both jobs scan the same source with the same
    * partitioning. This is asserted by SampledSpec.
    */
  private lazy val recounted: (Long, Long) = {
    if (ratio >= 1.0) { val n = source.count(); (n, n) }
    else {
      // The nondeterministic tag must live in a projection (Catalyst rejects
      // rand() inside aggregate arguments); the projection fuses into the
      // scan stage, so this is still one pass.
      val row = source
        .select(when(Sampled.keep(config), 1L).otherwise(0L).as("__kept"))
        .agg(count(lit(1)).as("total"), sum(col("__kept")).as("sampled"))
        .head()
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    }
  }

  /** Exact (total, sampled): the tally of a full read of [[data]], or the recount. */
  private def counts: (Long, Long) = tally.flatMap(_.complete).getOrElse(recounted)

  /** Per-partition accounting detail — S3 at full fidelity: the reference
    * persisted a `(sampled, total)` pair PER RECORD READER (one znode per
    * reader, RandomizedLineRecordReader.java:86-94 /
    * RandomSamplingUtil.java:296-304); a Spark scan partition is the
    * reader-equivalent unit, keyed here by `spark_partition_id()` (the
    * TaskContext partition id as a codegen'd column). One zero-column
    * pass, partial-agg'd map-side to |partitions| rows — the roll-up
    * equals [[totalCount]]/[[sampledCount]] exactly (same seed, same
    * partitioning, same keep predicate; pinned by SampledSpec).
    */
  def partitionCounts: DataFrame = {
    val kept =
      if (ratio >= 1.0) lit(1L)
      else when(Sampled.keep(config), 1L).otherwise(0L)
    source
      .select(
        spark_partition_id().cast("long").as("partition_id"),
        kept.as("__kept"))
      .groupBy("partition_id")
      .agg(count(lit(1)).as("total"), sum(col("__kept")).as("sampled"))
  }

  /** Exact input cardinality. */
  def totalCount: Long = counts._1

  /** Exact sampled cardinality. */
  def sampledCount: Long = counts._2

  /** Actual achieved sampling rate (what the reference computed from its
    * per-reader ZooKeeper counters, RandomSamplingUtil.java:306-315).
    */
  def actualRatio: Double = { val (t, k) = counts; if (t == 0) 0.0 else k.toDouble / t }

  /** Horvitz–Thompson scale-up (Horvitz & Thompson, JASA 1952) of an
    * additive aggregate (count/sum) computed on the sampled data:
    * estimate = aggregate / ratio, with ratio the designed rate (the
    * reference's choice; building the estimate runs no counting job).
    * This is the estimator the reference's comparator applies when judging
    * sampled output (RSMRResultComparator.java:58-71, T7).
    */
  def htScale(aggregate: Column): Column = aggregate / lit(ratio)

  /** Post-run report (T6). Runs no job when [[data]] has already been
    * read in full; otherwise the one-pass recount.
    */
  def report(): SamplingReport = {
    val (total, sampled) = counts
    SamplingReport(
      jobId = jobId,
      total = total,
      sampled = sampled,
      designedRate = ratio,
      confidence = config.confidence,
      timeCostSec = (System.nanoTime() - startNanos) / 1e9)
  }
}

object Sampled {
  // Driver-local monotone job counter — replaces the reference's ZooKeeper
  // `{root}/jobs` znode (RandomSamplingUtil.java:270-276) and is atomic,
  // unlike its read-increment-write.
  private val jobIds = new AtomicInteger(0)

  /** The seeded Bernoulli keep-predicate `rand(seed) < p`: the
    * [[SampleKeep]] of [[Sampled.data]] and every accounting tag evaluate
    * this one expression, so they select the same rows.
    */
  private[graft] def keep(config: SamplingConfig): Column =
    GraftColumnBridge.column(SampleKeep.predicate(config.seed, config.resolvedRatio))

  def apply(source: DataFrame, config: SamplingConfig): Sampled =
    new Sampled(source, config, jobIds.incrementAndGet(), System.nanoTime())

  def apply(source: DataFrame, ratio: Double, seed: Long = SamplingConfig.DefaultSeed): Sampled =
    apply(source, SamplingConfig(ratio = ratio, seed = seed))
}
