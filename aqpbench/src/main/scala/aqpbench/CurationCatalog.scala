package aqpbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.compare.ResultComparator
import graft.dedup.{DedupClusters, DedupCorpus, MinHashLSH}
import graft.queries.{Tables, TpchQueries}
import graft.sampling.{Sampled, SampledFiles, SamplingConfig, UniverseSampled}
import graft.sinks.ParquetSink

/** `curation-catalog`: declared `SparkEntry.queries` over fixed
  * `documents` and `lineitem` tables (written by the benchmark's runner
  * with DuckDB before the engine starts). It covers iterative connected
  * components over MinHash near-duplicate pairs (`dedup_clusters`: shuffle,
  * joins, loop rounds, `hash60` per shingle), the duplicate rate with its
  * universe twin, and the scan-bound TPC-H Q1/Q6 with their sampled twins —
  * including the case where universe sampling costs more than the exact
  * query. The tables are the same in every run; the seed permutes the
  * query order of every pass.
  *
  * Every oracle-gated result is saved and checked against DuckDB after the
  * run; the no-oracle `_r10` twins must reproduce their first fingerprint.
  */
final class CurationCatalog(ctx: Ctx) extends Workload {
  val name = "curation-catalog"
  val warmupPasses = 2
  private def dataDir = ctx.data
  private val cfg = SamplingConfig(ratio = 0.1)

  private val queries: Map[String, Seq[String]] = Map(
    "exact" -> Seq("tpch_q1", "tpch_q6", "dedup_rate", "dedup_clusters"),
    "bernoulli" -> Seq("tpch_q1_sampled_r10", "tpch_q6_sampled_r10"),
    "universe" -> Seq("tpch_q1_sampled_u10", "tpch_q6_sampled_u10", "dedup_rate_sampled_u10"),
    "filesample" -> Seq("filesample_q1", "filesample_q6"))

  private var docs: DataFrame = _
  private var lineitem: DataFrame = _
  private val stable = new Check.Stable
  private val executions = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val saved = mutable.LinkedHashMap.empty[String, (String, Seq[String])] // name -> (sql, lineitem files)

  private def lineitemDir = s"$dataDir/lineitem.parquet"
  private def partFiles(dir: String) =
    new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq

  def generate(): Unit =
    require(partFiles(lineitemDir).nonEmpty && partFiles(s"$dataDir/documents.parquet").nonEmpty,
      s"catalog tables missing under $dataDir")

  def register(spark: SparkSession): Unit = {
    docs = ctx.t("sources", "Tables.read")(Tables.documents(spark, dataDir))
    lineitem = ctx.t("sources", "Tables.read")(Tables.lineitem(spark, dataDir))
  }

  def inputRows: Long = Seq("documents", "lineitem").map { t =>
    ctx.spark.read.parquet(s"$dataDir/$t.parquet").count()
  }.sum
  def inputBytes: Long =
    Files.bytesUnder(new java.io.File(lineitemDir)) + Files.bytesUnder(new java.io.File(s"$dataDir/documents.parquet"))

  private def build(q: String): (DataFrame, String, Seq[String]) = q match {
    case "filesample_q1" | "filesample_q6" =>
      val sf = ctx.t("sampling", "SampledFiles.apply")(SampledFiles(ctx.spark, lineitemDir, cfg))
      val files = sf.selectedFiles.map(f => new java.io.File(f).getName)
      if (q.endsWith("q1"))
        (ctx.t("queries", "TpchQueries.q1")(TpchQueries.q1(sf.data)), TpchQueries.Q1OracleSql, files)
      else (ctx.t("queries", "TpchQueries.q6")(TpchQueries.q6(sf.data)), TpchQueries.Q6OracleSql, files)
    case _ =>
      val module = if (q.startsWith("tpch")) "queries" else "dedup"
      val df = ctx.t(module, s"SparkEntry.queries($q)")(SparkEntry.queries(q)(ctx.spark, dataDir))
      (df, SparkEntry.oracleSql.getOrElse(q, null), partFiles(lineitemDir))
  }

  private def run1(run: PhaseRun, q: String): Unit =
    run.op(q) {
      val (df, sql, files) = build(q)
      (ctx.t("exec", "collect")(df.collect()), df.schema, sql, files)
    } { case (rows, schema, sql, files) =>
      executions(q) += 1
      if (!saved.contains(q) && sql != null) {
        // saved once, for the DuckDB comparison after the run
        ctx.t("sinks", "ParquetSink.write")(ParquetSink.write(
          ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1),
          s"${ctx.work}/oracle/$q", Nil))
        saved(q) = (sql, files)
      }
      stable(q, Check.fingerprint(rows))
    }

  def cold(run: PhaseRun): Unit = run1(run, "tpch_q1")

  def phase(phase: String, pass: Int, run: PhaseRun): Unit =
    new scala.util.Random(ctx.seed * 31 + pass).shuffle(queries(phase)).foreach(q => run1(run, q))

  def source: DataFrame = lineitem

  def selfCheck(run: PhaseRun): Unit =
    run.op("report accounts for the sample") {
      val s = Sampled(lineitem, cfg)
      (s.report(), s.data.count(), lineitem.count())
    } { case (rpt, kept, n) => rpt.total == n && rpt.sampled == kept }

  def dataError(): Double = ctx.t("compare", "ResultComparator.dataErrorRate") {
    ResultComparator.dataErrorRate(
      SparkEntry.queries("tpch_q1")(ctx.spark, dataDir),
      SparkEntry.queries("tpch_q1_sampled_r10")(ctx.spark, dataDir),
      Seq("l_returnflag", "l_linestatus"), "cnt", "est_cnt")
  }

  def levels(phase: String): Seq[Level] = phase match {
    case "exact" =>
      // the dedup chain over its own input: the layer split of dedup_clusters
      Seq(
        Level("scan", () => docs.select("doc_id", "text")),
        Level("rowwork", () => MinHashLSH.signatures(DedupCorpus.augment(docs))),
        Level("query", () => {
          val corpus = DedupCorpus.augment(docs)
          DedupClusters.decisions(corpus, MinHashLSH.nearDupPairs(MinHashLSH.signatures(corpus)))
        }))
    case p =>
      val keep: () => DataFrame = p match {
        case "bernoulli" => () => Sampled(lineitem, cfg).data
        case "universe" => () => UniverseSampled.sample(lineitem, col("l_orderkey"), 10)
        case "filesample" => () => SampledFiles(ctx.spark, lineitemDir, cfg).data
      }
      Seq(Level("scan", () => lineitem), Level("keep", keep), Level("query", () => TpchQueries.q1(keep())))
  }

  /** The saved results and oracle SQL for the runner's DuckDB check. */
  def oracleJson: String =
    saved.map { case (q, (sql, files)) =>
      Json.obj(Seq(
        "name" -> Json.str(q), "sql" -> Json.str(sql), "dir" -> Json.str(s"${ctx.work}/oracle/$q"),
        "executions" -> executions(q).toString,
        "lineitem" -> files.map(f => Json.str(s"$lineitemDir/$f")).mkString("[", ",", "]")))
    }.mkString("[", ",\n", "]")
}
