package aqpbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.compare.{CompareRuns, ResultComparator}
import graft.queries.{ReferenceQueries => RQ, Tables}
import graft.sampling.{Sampled, SampledFiles, SamplingConfig, UniverseSampled}
import graft.sinks.TextKVSink

/** `wordcount-ladder`: the paper's flagship experiment. `ReferenceQueries.
  * wordCount` over a seeded Zipf-like corpus, exact and under the three
  * samplers. Per-row tokenize and aggregate work dominates, the shape where
  * sampling pays; the long tail of rare words makes the data error real.
  */
final class WordcountLadder(ctx: Ctx) extends Workload {
  val name = "wordcount-ladder"
  val warmupPasses = 3
  private val lines = if (ctx.tiny) 20000 else 250000
  private val files = 64
  private val cfg = SamplingConfig(ratio = 0.1)
  private def dataDir = ctx.data
  private var corpus: Corpus = _
  private var docs: DataFrame = _
  private val stable = new Check.Stable

  def generate(): Unit =
    corpus = CorpusGen.generate(s"$dataDir/documents.parquet", ctx.seed, lines, files)

  def register(spark: SparkSession): Unit =
    docs = ctx.t("sources", "Tables.read")(Tables.documents(spark, dataDir))

  def inputRows: Long = corpus.lines
  def inputBytes: Long = corpus.bytes

  private def expect(m: Map[String, Long]) = if (ctx.corrupt) Check.corrupt(m) else m

  private def collect(df: DataFrame) = ctx.t("exec", "collect")(df.collect())

  // the last exact and Bernoulli answers, for the data error
  private var exactRows, estRows: Array[Row] = _

  private def exact(run: PhaseRun): Unit =
    run.op("wordCount exact") {
      collect(ctx.t("queries", "ReferenceQueries.wordCount")(RQ.wordCount(docs)))
    } { rows => exactRows = rows; Check.counts(rows) == expect(corpus.exact) }

  def cold(run: PhaseRun): Unit = exact(run)

  def phase(phase: String, pass: Int, run: PhaseRun): Unit = phase match {
    case "exact" => exact(run)
    case "bernoulli" =>
      run.op("wordCount bernoulli") {
        val s = ctx.t("sampling", "Sampled.apply")(Sampled(docs, cfg))
        val d = ctx.t("sampling", "Sampled.data")(s.data)
        val q = ctx.t("queries", "ReferenceQueries.wordCount")(RQ.wordCount(d))
        val rows = collect(q.withColumn("est_cnt", s.htScale(col("cnt"))).drop("cnt"))
        (rows, ctx.t("sampling", "Sampled.report")(s.report()))
      } { case (rows, rpt) =>
        estRows = rows
        rpt.total == lines && rpt.sampled > 0 &&
          stable("bernoulli", Check.fingerprint(rows)) &&
          rows.forall(r => corpus.exact.contains(r.getString(0)))
      }
    case "universe" =>
      run.op("wordCount universe") {
        val d = ctx.t("sampling", "UniverseSampled.sample")(UniverseSampled.sample(docs, col("doc_id"), 10))
        collect(ctx.t("queries", "ReferenceQueries.wordCount")(RQ.wordCount(d)))
      }(rows => Check.counts(rows) == expect(corpus.universe10))
    case "filesample" =>
      run.op("wordCount filesample") {
        val sf = ctx.t("sampling", "SampledFiles.apply")(SampledFiles(ctx.spark, corpus.dir, cfg))
        val rows = collect(ctx.t("queries", "ReferenceQueries.wordCount")(RQ.wordCount(sf.data)))
        (rows, sf.selectedFiles.map(f => new java.io.File(f).getName))
      } { case (rows, names) =>
        Check.counts(rows) == expect(Counts.merge(names.map(n => Counts.empty ++= corpus.perFile(n))))
      }
  }

  def source: DataFrame = docs

  def selfCheck(run: PhaseRun): Unit =
    run.op("report accounts for the sample") {
      val s = Sampled(docs, cfg)
      (s.report(), s.data.count())
    } { case (rpt, kept) => rpt.total == lines && rpt.sampled == kept }

  /** Over the answers the last pass collected (exact counts, HT estimates). */
  def dataError(): Double = {
    def local(rows: Array[Row]) = ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
    ctx.t("compare", "ResultComparator.dataErrorRate")(
      ResultComparator.dataErrorRate(local(exactRows), local(estRows), Seq("word")))
  }

  def levels(phase: String): Seq[Level] = {
    val src: () => DataFrame = phase match {
      case "exact" => () => docs
      case "bernoulli" => () => Sampled(docs, cfg).data
      case "universe" => () => UniverseSampled.sample(docs, col("doc_id"), 10)
      case "filesample" => () => SampledFiles(ctx.spark, corpus.dir, cfg).data
    }
    val below =
      if (phase == "exact") Level("rowwork", () => RQ.wordItems(docs))
      else Level("keep", () => src().select("text"))
    Seq(Level("scan", () => docs.select("text")), below, Level("query", () => RQ.wordCount(src())))
  }

  /** The reference ladder: wall time, kept rows, data error and T4 bound
    * per rung. Each rung's unscaled output and report are written in the
    * reference's layout and scored against the p = 1.0 rung by
    * `CompareRuns`. The p = 1.0 rung must equal the exact answer, so its
    * data error is 0 (an operation of the run).
    */
  override def traced(run: PhaseRun): Seq[(String, String)] = {
    val base = s"${ctx.work}/ladder/r"
    val rungs = Seq(1.0, 0.5, 0.25, 0.1, 0.01, 0.001)
    val timed = rungs.map { p =>
      ctx.tracer.newTrace()
      val t0 = System.nanoTime()
      val s = ctx.t("sampling", "Sampled.apply")(Sampled(docs, SamplingConfig(ratio = p)))
      val q = ctx.t("queries", "ReferenceQueries.wordCount")(RQ.wordCount(ctx.t("sampling", "Sampled.data")(s.data)))
      ctx.t("sinks", "TextKVSink.write")(TextKVSink.write(q, "word", "cnt", s"$base$p"))
      val rpt = ctx.t("sampling", "Sampled.report")(s.report())
      val wall = (System.nanoTime() - t0) / 1e9
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base$p.result.txt"), rpt.toString)
      (p, wall, rpt)
    }
    run.op("p = 1.0 rung is the exact answer")(Files.readKv(s"${base}1.0"))(_ == expect(corpus.exact))
    // CompareRuns scores every run after the first against the first
    val scored = ctx.t("compare", "CompareRuns.compare")(CompareRuns.compare(ctx.spark, base, rungs.map(_.toString)))
    val errors = 0.0 +: scored.tail.map(_.dataErrorRate.get)
    val curve = timed.zip(errors).map { case ((p, wall, rpt), err) =>
      Json.obj(Seq(
        "p" -> Json.num(p), "wall_s" -> Json.num(wall), "kept_rows" -> rpt.sampled.toString,
        "data_error" -> Json.num(err), "err_bound" -> Json.num(rpt.errorRate)))
    }
    Seq("ladder" -> curve.mkString("[", ",", "]"))
  }
}
