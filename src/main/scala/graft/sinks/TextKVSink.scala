package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's output contracts (operators K1 + K2).
  *
  * K1: key-sorted `key\tvalue` text lines — the `part-r-00000` format its
  * comparator merge-joins on (RandomizedWordCount.java:96;
  * RSMRResultComparator.java:35,47 relies on the key sort). Sortedness is
  * part of the observable contract, so the writer sorts explicitly —
  * MapReduce got it from the shuffle, Spark must ask.
  *
  * K2: the run report, printed to stdout and persisted (the reference wrote
  * it to a ZooKeeper znode and stdout, RandomSamplingUtil.java:318-327; we
  * write a JSON file next to stdout).
  */
object TextKVSink {

  /** Write `keyCol\tvalueCol` lines, key-sorted ascending. */
  def write(df: DataFrame, keyCol: String, valueCol: String, path: String): Unit =
    df.orderBy(keyCol)
      .select(concat_ws("\t", col(keyCol).cast("string"), col(valueCol).cast("string"))
        .as("value"))
      .coalesce(1) // one part file, like one reducer; at scale keep N sorted parts
      .write.mode("overwrite").text(path)

  /** Read a K1 sink back into (key, value string) columns. The split is
    * FIRST-tab only (limit-2), so a value containing tabs round-trips
    * intact — the former first/last-tab pair silently truncated
    * everything between a value's first and last tab. A line with no tab
    * (a null value was skipped by concat_ws) reads back as value = NULL
    * rather than misparsing the key as its own value.
    */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.text(paths: _*)
      .select(split(col("value"), "\t", 2).as("__p"))
      .select(
        element_at(col("__p"), 1).as("key"),
        // try_element_at, not element_at: under Spark 4's default ANSI
        // mode element_at on a 1-element array at index 2 THROWS
        // (INVALID_ARRAY_INDEX_IN_ELEMENT_AT), and a no-tab line is
        // exactly what write() emits for a NULL value (concat_ws skips
        // nulls) — the null-safe form is what makes the scaladoc's
        // "reads back as value = NULL" true (ADVICE r14).
        try_element_at(col("__p"), lit(2)).as("value"))

  /** [[read]] for a RUN directory, excluding a K2 `result.txt` the
    * reference layout keeps INSIDE the dir beside the part files
    * (RSMRResultComparator.java:93). Reading it as K1 rows is mostly
    * harmless (report lines have no tab → value casts to null and drops
    * out of the sums) but pollutes the join input, and a report line that
    * ever contained a tab would parse as a real key (ADVICE r5). Spark
    * already skips `_`/`.`-prefixed files; `result.txt` needs the explicit
    * filter. Listing goes through the Hadoop FS API so non-local run dirs
    * (hdfs://, s3a://) get the same exclusion instead of silently falling
    * back to the polluted whole-dir read (review finding).
    */
  def readParts(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts =
      if (fs.isDirectory(p))
        fs.listStatus(p)
          .filter(s => s.isFile && s.getPath.getName != "result.txt" &&
            !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
          .map(_.getPath.toString).sorted.toSeq
      else Seq.empty
    if (parts.isEmpty) read(spark, dir) else read(spark, parts: _*)
  }
}

/** K2: sampling-report emission. */
object ReportSink {

  /** NaN/Infinity are not valid JSON number literals (a 0-row sample makes
    * errorRate's `sqrt(0.25 / sampled)` infinite) — emit null so downstream
    * parsers never see a broken file.
    */
  private def num(d: Double): String = if (java.lang.Double.isFinite(d)) d.toString else "null"

  /** Print the report (reference stdout contract) and persist it as JSON. */
  def emit(report: graft.sampling.SamplingReport, path: String): Unit = {
    println(report.toString)
    val json =
      s"""{"jobId":${report.jobId},"total":${report.total},"sampled":${report.sampled},
         |"designedRate":${num(report.designedRate)},"actualRate":${num(report.actualRate)},
         |"confidence":${num(report.confidence)},"errorRate":${num(report.errorRate)},
         |"timeCostSec":${num(report.timeCostSec)}}""".stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }
}
