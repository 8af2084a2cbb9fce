package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.queries.{ReferenceQueries => RQ, Tables}
import graft.sampling.{Sampled, SamplingConfig, SamplingReport}
import graft.sinks.TextKVSink
import graft.sources.AccessLog

/** The reference's CLI surface, job names and argument shapes included
  * (ExampleDriver.java:39-46; per-job usage strings in each example's
  * `main`) — a user of the reference can run the same command lines
  * against this engine:
  *
  * {{{
  *   runMain graft.Main randwordcount <in> <out> [ratio|conf,err,bits]
  *   runMain graft.Main randcharcount <in> <out> [ratio|conf,err,bits]
  *   runMain graft.Main randapachelog <in> <out> <task> [ratio|conf,err,bits]
  *   runMain graft.Main randwireless <in> <out> [ratio|conf,err,bits]
  * }}}
  *
  * `<in>` is either a testdata scale-factor directory (parquet tables —
  * documents for word/char count, events for log/wireless) or a RAW
  * file/directory in the reference's own input format: plain text for
  * word/char count, Apache CLF lines for randapachelog, comma-separated
  * sender/receiver lines for randwireless.
  *
  * Output mirrors the reference: key-sorted `key\tvalue` text (K1, the
  * UNSCALED sampled aggregate — HT scaling is the comparator's job, as in
  * the reference) plus the sampling report on stdout and `result.txt` (K2).
  * The sampling argument uses the reference's exact format
  * (RandomSamplingUtil.java:129-143), default ratio 0.1.
  */
object Main {

  /** The seven `randapachelog` tasks: query, key column, value column
    * (declaration order kept — the ratio ladder runs them in this order).
    */
  val LogTasks: Map[String, (DataFrame => DataFrame, String, String)] = ListMap(
    "hack" -> ((p: DataFrame) => RQ.clfHack(p), "host", "cnt"),
    "host" -> ((p: DataFrame) => RQ.clfHost(p), "host", "cnt"),
    "dateweek" -> ((p: DataFrame) => RQ.clfDateweek(p), "dateweek", "cnt"),
    "size" -> ((p: DataFrame) => RQ.clfSize(p), "bucket", "cnt"),
    "totalsize" -> ((p: DataFrame) => RQ.clfTotalsize(p), "key", "total"),
    "pagesize" -> ((p: DataFrame) => RQ.clfPagesize(p), "page", "total"),
    "page" -> ((p: DataFrame) => RQ.clfPage(p), "page", "cnt"))

  private def isTableDir(in: String, table: String): Boolean =
    new java.io.File(in, s"$table.parquet").exists()

  private def buildSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run one job; returns the sampling report (also printed + persisted). */
  def runJob(
      spark: SparkSession,
      job: String,
      in: String,
      out: String,
      task: Option[String],
      cfg: SamplingConfig): SamplingReport = {
    val (source, query, keyCol, valCol): (DataFrame, DataFrame => DataFrame, String, String) =
      job match {
        case "randwordcount" =>
          if (isTableDir(in, "documents"))
            (Tables.documents(spark, in), RQ.wordCount(_), "word", "cnt")
          else (graft.sources.TextLines.readLines(spark, in),
            RQ.wordCountLines(_), "word", "cnt")
        case "randcharcount" =>
          if (isTableDir(in, "documents"))
            (Tables.documents(spark, in), RQ.charCount(_), "ch", "cnt")
          else (graft.sources.TextLines.readLines(spark, in),
            RQ.charCountLines(_), "ch", "cnt")
        case "randapachelog" =>
          val t = task.getOrElse(
            throw new IllegalArgumentException(s"randapachelog needs a task: ${LogTasks.keys}"))
          val (q, k, v) = LogTasks.getOrElse(t,
            throw new IllegalArgumentException(s"unknown task $t (${LogTasks.keys})"))
          if (isTableDir(in, "events"))
            (Tables.events(spark, in), (e: DataFrame) => q(RQ.clfParsed(e)), k, v)
          else
            // raw CLF lines, exactly what the reference's mapper consumed
            (graft.sources.TextLines.readLines(spark, in).withColumnRenamed("value", "line"),
              (l: DataFrame) => q(AccessLog.parse(l)), k, v)
        case "randwireless" =>
          if (isTableDir(in, "events"))
            (Tables.events(spark, in), RQ.wirelessLinks(_), "link", "cnt")
          else (graft.sources.TextLines.readLines(spark, in),
            RQ.wirelessLinksLines(_), "link", "cnt")
        case other =>
          throw new IllegalArgumentException(
            s"unknown job $other (randwordcount|randcharcount|randapachelog|randwireless)")
      }
    // reference semantics: the job writes the UNSCALED aggregate computed on
    // the sample; the report carries the achieved rate for the comparator
    val s = Sampled(source, cfg)
    TextKVSink.write(query(s.data), keyCol, valCol, out)
    val rpt = s.report()
    // sibling file, not inside the sink dir — K1 readers must see only
    // key\tvalue lines (the reference's scripts appended result.txt in the
    // working dir for the same reason, randWordCount.sh:25)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out.result.txt"), rpt.toString)
    rpt
  }

  private val Usage =
    "Usage: graft.Main <randwordcount|randcharcount|randapachelog|randwireless> " +
      "<in> <out> [task] [ratio|confLevel,errorRate,bitsOfInputLength]\n" +
      "   or: graft.Main compare <commonPath> <run0> <run1> […runN]"

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val job = args(0)
    if (job == "compare") {
      // the reference's standalone cross-run comparator
      // (RSMRResultComparator.java:35-88) — first run is the baseline.
      // Needs ≥2 runs: 3 args passed the generic guard but died in a bare
      // require stack trace instead of the usage text (ADVICE r5)
      if (args.length < 4) {
        System.err.println("Usage: graft.Main compare <commonPath> <run0> <run1> […runN]")
        sys.exit(2)
      }
      val spark = buildSession()
      println(graft.compare.CompareRuns.render(
        graft.compare.CompareRuns.compare(spark, args(1), args.drop(2).toSeq)))
      spark.stop()
      return
    }
    val (task, samplingArg) =
      if (job == "randapachelog") (args.lift(3), args.lift(4))
      else (None, args.lift(3))
    val cfg = samplingArg.map { a =>
      try SamplingConfig.parse(a)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage)
          System.err.println(Usage)
          sys.exit(2)
      }
    }.getOrElse(SamplingConfig())
    val spark = buildSession()
    val rpt = runJob(spark, job, args(1), args(2), task, cfg)
    println(rpt.toString)
    spark.stop()
  }
}
