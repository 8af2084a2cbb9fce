package graft.sampling

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** File-list-level Bernoulli sampling: decide per FILE (deterministic hash
  * of the file name + seed), then read only the chosen files.
  *
  * This is the scale path the row-level sampler can't reach: a
  * `rand() < p` filter still reads and decompresses 100% of the bytes —
  * fine when compute dominates, useless when the scan dominates. Sampling
  * the file list before `read.parquet` means unchosen files are NEVER
  * OPENED, so I/O, decode, and scheduling all shrink by ~(1-p) — this is
  * where the reference's headline runtime reduction actually comes from at
  * 100 TB (its readers at least had to stream every byte;
  * RandomizedLineRecordReader.java:67-81 reads-and-discards).
  *
  * Statistics: files are sampling CLUSTERS. Horvitz–Thompson still applies
  * (each file's inclusion probability is `ratio`, so estimate = agg/ratio,
  * unbiased), but the variance now carries the between-file variance — fine
  * when files are many and row counts are balanced (the usual parquet
  * layout), and reported honestly via [[FileSamplingReport]]. Row-level
  * sampling within chosen files composes for two-stage designs.
  */
final class SampledFiles private (
    val spark: SparkSession,
    val config: SamplingConfig,
    val allFiles: Seq[String],
    val selectedFiles: Seq[String],
    format: String,
    options: Map[String, String]) {

  val ratio: Double = config.resolvedRatio

  /** The sampled relation: a scan over ONLY the selected files. */
  lazy val data: DataFrame =
    if (selectedFiles.isEmpty)
      spark.read.format(format).options(options).load(allFiles: _*).limit(0)
    else spark.read.format(format).options(options).load(selectedFiles: _*)

  def actualFileRatio: Double =
    if (allFiles.isEmpty) 0.0 else selectedFiles.size.toDouble / allFiles.size

  /** HT scale-up on the designed ratio (unbiased; see class doc). */
  def htScale(aggregate: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate / org.apache.spark.sql.functions.lit(ratio)

  def report(): FileSamplingReport =
    FileSamplingReport(allFiles.size, selectedFiles.size, ratio, actualFileRatio)
}

final case class FileSamplingReport(
    totalFiles: Int,
    selectedFiles: Int,
    designedRate: Double,
    actualRate: Double)

object SampledFiles {

  /** Deterministic keep decision for a file: 60-bit md5 fraction of
    * (name, seed) < ratio. Name-based (not full path) so the decision
    * survives directory moves/replication.
    */
  private[sampling] def keep(fileName: String, seed: Long, ratio: Double): Boolean =
    graft.dedup.Hashing.hash60(s"$fileName#$seed").toDouble / (1L << 60).toDouble < ratio

  /** Sample the parquet part-file list of `dir`. */
  def apply(spark: SparkSession, dir: String, config: SamplingConfig): SampledFiles =
    build(spark, dir, config, "parquet")

  /** Sample a raw text-file directory — the reference's actual corpus shape
    * (one big dir of .txt/.gz shards). Unchosen files are never opened; for
    * gzip (non-splittable) this is the only sampling that also skips the
    * decompression cost, since a row-level `rand() < p` must still inflate
    * every byte. Lines land in the standard `value` column, so
    * [[graft.queries.ReferenceQueries.wordCountLines]] composes directly.
    */
  def text(spark: SparkSession, dir: String, config: SamplingConfig): SampledFiles =
    build(spark, dir, config, "text")

  /** Sample an XML shard directory of `<page>` records — the reference's
    * flagship corpus shape (its sampled XML RecordReader skipped records
    * inside one giant file; a sharded corpus lets Spark skip whole FILES,
    * which is strictly cheaper: skipped shards are never parsed at all).
    */
  def xml(
      spark: SparkSession,
      dir: String,
      config: SamplingConfig,
      rowTag: String = "page"): SampledFiles =
    build(spark, dir, config, "xml", Map("rowTag" -> rowTag))

  private def build(
      spark: SparkSession,
      dir: String,
      config: SamplingConfig,
      format: String,
      options: Map[String, String] = Map.empty): SampledFiles = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(path).isFile) Seq(path.toString)
      else
        fs.listStatus(path)
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
          .map(_.getPath.toString)
          .toSeq
          .sorted
    val ratio = config.resolvedRatio
    val selected =
      if (ratio >= 1.0) files
      else files.filter(f => keep(new Path(f).getName, config.seed, ratio))
    new SampledFiles(spark, config, files, selected, format, options)
  }
}
