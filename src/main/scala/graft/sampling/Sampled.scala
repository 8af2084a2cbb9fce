package graft.sampling

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame}
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
  *    expression evaluated inside the scan stage, so rejected rows never
  *    leave the scan's whole-stage-codegen loop (the moral equivalent of the
  *    reference's read-and-discard loop, RandomizedLineRecordReader.java:67-81).
  *    Catalyst pushes column pruning below it, so a sampled count scans zero
  *    parquet columns.
  *  - Accounting is ONE zero-column pass computing `(count(*), count kept)`
  *    together — this replaces the reference's per-reader total counters
  *    (and round 1's two separate counting jobs).
  *  - Accounting deliberately does NOT use accumulators inside the data path:
  *    task retries and speculative execution double-count accumulator updates
  *    inside transformations; separate deterministic counting jobs cannot
  *    (SURVEY.md §7.5).
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

  /** The sampled relation. Ratio 1.0 degenerates to the identity (no filter
    * node at all, so exact mode pays zero overhead).
    */
  val data: DataFrame =
    if (ratio >= 1.0) source
    else source.filter(Sampled.keep(config))

  /** Exact (total, sampled) cardinalities in ONE pass over the source: a
    * single zero-column scan computes `count(*)` and the number of rows the
    * seeded keep-predicate accepts (SURVEY.md §7.5's single-pass plan —
    * halves the accounting input cost vs two scans at 100 TB).
    *
    * The `when(rand(seed) < p, …)` tag here selects the same row set as the
    * filter in [[data]] because `rand(seed)` is deterministic per
    * (seed, partition index, row position) and both jobs scan the same
    * source with the same partitioning. This is asserted by SampledSpec.
    */
  private lazy val counts: (Long, Long) = {
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
  def actualRatio: Double = if (totalCount == 0) 0.0 else sampledCount.toDouble / totalCount

  /** Horvitz–Thompson scale-up (Horvitz & Thompson, JASA 1952) of an
    * additive aggregate (count/sum) computed on the sampled data:
    * estimate = aggregate / ratio, with ratio the designed rate (the
    * reference's choice; building the estimate runs no counting job).
    * This is the estimator the reference's comparator applies when judging
    * sampled output (RSMRResultComparator.java:58-71, T7).
    */
  def htScale(aggregate: Column): Column = aggregate / lit(ratio)

  /** Post-run report (T6). Triggers the single accounting job. */
  def report(): SamplingReport = SamplingReport(
    jobId = jobId,
    total = totalCount,
    sampled = sampledCount,
    designedRate = ratio,
    confidence = config.confidence,
    timeCostSec = (System.nanoTime() - startNanos) / 1e9)
}

object Sampled {
  // Driver-local monotone job counter — replaces the reference's ZooKeeper
  // `{root}/jobs` znode (RandomSamplingUtil.java:270-276) and is atomic,
  // unlike its read-increment-write.
  private val jobIds = new AtomicInteger(0)

  /** The seeded Bernoulli keep-predicate `rand(seed) < p`: the data filter
    * and every accounting tag are built from it, so they select the same
    * rows, and [[graft.plans.SamplePushdown]] matches its shape.
    */
  private[graft] def keep(config: SamplingConfig): Column =
    rand(config.seed) < lit(config.resolvedRatio)

  def apply(source: DataFrame, config: SamplingConfig): Sampled =
    new Sampled(source, config, jobIds.incrementAndGet(), System.nanoTime())

  def apply(source: DataFrame, ratio: Double, seed: Long = SamplingConfig.DefaultSeed): Sampled =
    apply(source, SamplingConfig(ratio = ratio, seed = seed))
}
