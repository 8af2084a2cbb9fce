package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.compare.ResultComparator
import graft.queries.{ReferenceQueries => RQ, Tables}
import graft.sampling.{HtTwin, SamplingConfig, SamplingReport}
import graft.sinks.{ReportSink, TextKVSink}

/** The reference's end-to-end experiment protocol as a runnable harness:
  * run a query exact (ratio 1.0) and at a ladder of sampling ratios, write
  * each run's key-sorted K1 output + K2 report, and measure each sampled
  * run's data error rate against the exact run — exactly what
  * `randWordCount.sh:22-26` + `RSMRResultComparator.java:43-88` did with
  * shell scripts and a standalone JVM tool, here as one Spark driver
  * program.
  *
  * Usage: `runMain graft.RatioLadder <sfDir> <outDir> [r1,r2,…]`
  * (default ladder 1.0,0.5,0.25,0.1,0.01 — the reference's published
  * ladder, README.md:48).
  */
object RatioLadder {

  final case class Rung(
      ratio: Double,
      report: SamplingReport,
      dataErrorRate: Double,
      wallSec: Double)

  /** Run the ladder for one count-shaped query. */
  def run(
      source: DataFrame,
      query: DataFrame => DataFrame,
      keys: Seq[String],
      ratios: Seq[Double],
      outDir: String,
      countCol: String = "cnt"): Seq[Rung] = {
    val exact = query(source)
    TextKVSink.write(exact, keys.head, countCol, s"$outDir/exact")
    ratios.filter(_ < 1.0).map { r =>
      val t0 = System.nanoTime()
      val s = graft.sampling.Sampled(source, SamplingConfig(ratio = r))
      val raw = query(s.data)
      // K1 lines go under out/ so the sink directory stays pure key\tvalue
      // (report.json / result.txt live beside it, not inside it). The sink
      // carries the UNSCALED sampled aggregate — the reference's jobs wrote
      // raw sample counts and left HT scaling to the comparator
      // (RSMRResultComparator.java:69-71), so the on-disk protocol must too
      // (graft.Main compare replays it).
      TextKVSink.write(raw, keys.head, countCol, s"$outDir/ratio_$r/out")
      val est = HtTwin.scaled(raw, s.htScale, Seq(countCol))
      val err = ResultComparator.dataErrorRate(exact, est, keys, countCol, s"est_$countCol")
      val rpt = s.report()
      ReportSink.emit(rpt, s"$outDir/ratio_$r/report.json")
      // the reference's cross-run protocol: the text report is persisted
      // (randWordCount.sh:25 `| tail >> result.txt`) and machine-parsed by
      // later comparator runs — SamplingReport.parse reads this back
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/ratio_$r/result.txt"), rpt.toString)
      Rung(r, rpt, err, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** One ladder family: (name, source, query, key column, count column). */
  final case class Family(
      name: String,
      source: DataFrame,
      query: DataFrame => DataFrame,
      key: String,
      countCol: String = "cnt")

  /** Every job family the reference ran its ladder over: word count
    * (randWordCount.sh:22-26), char count (randCharCount.sh:22-26), the
    * seven Apache-log tasks (randApacheLogAnalysis.sh:22-26 — here in their
    * honest synthesize→parse CLF form), and the wireless link analysis.
    */
  def families(spark: SparkSession, sfDir: String): Seq[Family] = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val events = Tables.events(spark, sfDir)
    val logTasks = Main.LogTasks.toSeq.map { case (task, (q, key, countCol)) =>
      Family(s"log_$task", events, e => q(RQ.clfParsed(e)), key, countCol)
    }
    Seq(
      Family("wordcount", docs, RQ.wordCount(_), "word"),
      Family("charcount", docs, RQ.charCount(_), "ch")) ++ logTasks ++ Seq(
      Family("wireless", events, RQ.wirelessLinks(_), "link"),
      // the curation-layer AQP families (beyond the reference's surface):
      // quality histogram + corpus token total under the same ladder
      // protocol, so the T4 bound is proven on the LLM-pipeline shapes too
      Family("text_quality", docs, graft.text.TextAnalysis.qualityDistribution(_), "bucket"),
      Family("text_tokens", docs, graft.text.TextAnalysis.tokenTotals(_), "key",
        countCol = "total"))
  }

  /** Run the full ladder for one family into `outDir/<family>/`. */
  def runFamily(f: Family, ratios: Seq[Double], outDir: String): Seq[Rung] =
    run(f.source, f.query, Seq(f.key), ratios, s"$outDir/${f.name}", f.countCol)

  /** The ladder rungs of the DECLARED query form, as keep-percentages. */
  val DeclaredPcts: Seq[Int] = Seq(100, 50, 25, 10)

  /** The reference's full experiment protocol as ONE declared, oracle-
    * gated query (VERDICT r15 item 6): the word-count family run at the
    * published ladder p ∈ {1.0, 0.5, 0.25, 0.1} under UNIVERSE sampling
    * (hash-range keeps — deterministic, so unlike the seeded-RNG harness
    * above, every rung replays bit-for-bit in DuckDB), each rung emitting
    * the comparator's error measure (`RSMRResultComparator.java:58-82`:
    * Σ|exact − HT-scaled| / Σ exact, absent keys as 0 — here as exact
    * integers sum_abs_diff / sum_exact plus a basis-point division) and
    * the T4 achieved-error bound over the (corpus docs, kept docs) pair.
    *
    * Scale shape: the exact word count is computed once and checkpointed
    * (three rung joins consume it); each rung adds one sampled aggregate
    * (the keep-filter is a codegen'd scan predicate — 1−p of the corpus
    * never leaves the scan loop) and one broadcast-sized full-outer join
    * on the group key (AQE: the sampled side is an aggregate). The
    * one-row count frames ride broadcast crossJoins.
    */
  def wordcountLadderU(docs: DataFrame): DataFrame =
    ladderU(docs, d => RQ.wordItems(d, carry = Seq("__res")),
      "word", col("doc_id"), "n_docs")

  /** The SAME declared ladder protocol over the reference's apachelog
    * family (VERDICT r16 item 4 — `randApacheLogAnalysis.sh:22-26` ran the
    * identical ladder the wordcount/charcount scripts did): the `host`
    * task over raw CLF lines, sampled by LINE (the reference's sampling
    * unit is the input line, so n/N count raw events incl. the malformed
    * ones the parse drops on both the exact and sampled sides).
    */
  def logHostLadderU(events: DataFrame): DataFrame =
    ladderU(events,
      e => RQ.clfParsed(e, carry = Seq("__res"))
        .select(col("hostname").as("host"), col("__res")),
      "host", col("event_id"), "n_lines")

  /** The third and last reference ladder family — `randCharCount.sh` ran
    * the same protocol over character counts.
    */
  def charcountLadderU(docs: DataFrame): DataFrame =
    ladderU(docs, d => RQ.charItems(d, carry = Seq("__res")),
      "ch", col("doc_id"), "n_docs")

  /** The generic declared-ladder core shared by the families above —
    * SINGLE-PASS form (r18, guide §2.4/§6): the old shape ran `query`
    * exact plus once per rung and counted the kept units per rung — ~10
    * corpus scans and four full-outer joins for a 4-row answer. Universe
    * keep-sets NEST (`residue < 10 ⊂ < 25 ⊂ < 50 ⊂ < 100`), so a rung's
    * sampled aggregate is a CONDITIONAL count over the exact pass's own
    * item stream, and a sampled key set can never contain a key the exact
    * side lacks — the full-outer join was always a left-total join. Now:
    * ONE scan of the item stream computes, per key, the exact count and
    * every rung's kept count (`count(when(residue < p, 1))`, all
    * map-side-combined in the same aggregate); one narrow scan of the
    * unit column yields n/n_kept per rung the same way; the 4 output rows
    * explode from a literal struct array over the two 1-row frames. 16
    * parquet scans → 2 in the physical plan (before/after in plans/r18),
    * zero joins, zero checkpoints.
    *
    * `items` must yield the pre-aggregation stream of the family's
    * count-shaped query — one row per counted item, key column `keyCol`,
    * with the input's `__res` sampling-residue column carried through
    * (the [[graft.queries.ReferenceQueries.wordItems]] seam, so exact
    * query and ladder share one spelling). Rung semantics are unchanged
    * and the oracle SQL is untouched: `query(sample(source, p))` ≡
    * filtering the item stream by `__res < p` because the keep predicate
    * is row-local and `query` is a per-item groupBy-count.
    */
  private def ladderU(
      source: DataFrame,
      items: DataFrame => DataFrame,
      keyCol: String,
      unitId: org.apache.spark.sql.Column,
      nCol: String): DataFrame = {
    import graft.sampling.{Stats, UniverseSampled}
    import org.apache.spark.sql.functions._
    val nKeptCol = s"${nCol}_kept"
    val withRes = source.withColumn("__res", UniverseSampled.residue(unitId))
    // scan 1: the item stream; per key the exact count and each rung's
    // conditional count (count(when) = 0 for a key the rung never saw —
    // exactly the old full-outer join's coalesce-to-0)
    val perKey = items(withRes)
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("cnt"),
        DeclaredPcts.map(p =>
          count(when(col("__res") < p, lit(1))).as(s"__c$p")): _*)
    val diff = perKey.agg(
      sum(col("cnt")).as("sum_exact"),
      DeclaredPcts.map(p =>
        sum(abs(col("cnt") - col(s"__c$p") * lit(UniverseSampled.scaleFor(p))))
          .as(s"__sad$p")): _*)
    // scan 2 (unit column only — column pruning keeps it narrow): total
    // units and kept units per rung
    val counts = withRes.agg(
      count(lit(1)).as(nCol),
      DeclaredPcts.map(p =>
        count(when(col("__res") < p, lit(1))).as(s"__k$p")): _*)
    diff.crossJoin(counts)
      .select(explode(array(DeclaredPcts.map { pct =>
        struct(
          lit(pct.toLong).as("pct"),
          col("sum_exact"),
          col(s"__sad$pct").as("sum_abs_diff"),
          // nullif: a degenerate corpus (sum_exact = 0) must report NULL in
          // BOTH engines — DuckDB's // would raise where Spark's div yields
          // NULL (ADVICE r16), so the zero case is made explicit lockstep
          expr(s"(10000 * __sad$pct) div nullif(sum_exact, 0)").as("data_error_bp"),
          col(nCol),
          col(s"__k$pct").as(nKeptCol),
          Stats.errBoundCol(col(nCol), col(s"__k$pct"), 0.95).as("err_bound"))
      }: _*)).as("__r"))
      .select(col("__r.*"))
  }

  /** DuckDB replay of [[wordcountLadderU]]. */
  def wordcountLadderUOracleSql: String =
    ladderUOracleSql(RQ.wordCountOracleSql(_, "CAST(count(*) AS BIGINT) AS cnt"),
      "word", "documents", "doc_id", "n_docs")

  /** DuckDB replay of [[charcountLadderU]] — the `charcount` oracle's
    * char-explode convention.
    */
  def charcountLadderUOracleSql: String =
    ladderUOracleSql(cond =>
      s"""SELECT ch, CAST(count(*) AS BIGINT) AS cnt
         |FROM (SELECT unnest(string_split(text, '')) AS ch
         |      FROM documents WHERE ($cond))
         |WHERE ch <> '' GROUP BY ch""".stripMargin,
      "ch", "documents", "doc_id", "n_docs")

  /** DuckDB replay of [[logHostLadderU]] — the `log_host` oracle's CLF
    * convention (events synthesize to lines, `event_id % 97 = 0` lines
    * are malformed and drop at parse); n/N count RAW events like the
    * engine side.
    */
  def logHostLadderUOracleSql: String =
    ladderUOracleSql(cond =>
      s"""SELECT 'h' || CAST(user_id AS VARCHAR) || '.example.com' AS host,
         |       CAST(count(*) AS BIGINT) AS cnt
         |FROM events WHERE event_id % 97 <> 0 AND ($cond) GROUP BY 1""".stripMargin,
      "host", "events", "event_id", "n_lines")

  /** The DuckDB replay of [[ladderU]] — same keeps, same integer
    * comparator arithmetic, same T4 chain, one rung per UNION branch.
    * `counts(cond)` is the family's per-key count (`keyCol`, `cnt`) over
    * the rows of `table` passing `cond`; `unitCol` is the sampling unit
    * and `nCol` names the unit totals, as in [[ladderU]].
    */
  private def ladderUOracleSql(
      counts: String => String,
      keyCol: String,
      table: String,
      unitCol: String,
      nCol: String): String = {
    import graft.sampling.{Stats, UniverseSampled}
    val nKeptCol = s"${nCol}_kept"
    val rungs = DeclaredPcts.map { pct =>
      val keep = UniverseSampled.keepSql(unitCol, pct)
      s"""SELECT CAST($pct AS BIGINT) AS pct, d.sum_exact, d.sum_abs_diff,
         |       (10000 * d.sum_abs_diff) // nullif(d.sum_exact, 0) AS data_error_bp,
         |       nt.$nCol, nk.$nKeptCol,
         |       ${Stats.errBoundSql(s"nt.$nCol", s"nk.$nKeptCol", 0.95)} AS err_bound
         |FROM (
         |  SELECT CAST(sum(abs(coalesce(e.cnt, 0) - coalesce(s.est, 0))) AS BIGINT) AS sum_abs_diff,
         |         CAST(sum(coalesce(e.cnt, 0)) AS BIGINT) AS sum_exact
         |  FROM (${counts("TRUE")}) e
         |  FULL OUTER JOIN (
         |    SELECT $keyCol, cnt * ${UniverseSampled.scaleFor(pct)} AS est
         |    FROM (${counts(keep)})) s USING ($keyCol)
         |) d,
         |(SELECT CAST(count(*) AS BIGINT) AS $nCol FROM $table) nt,
         |(SELECT CAST(count(*) AS BIGINT) AS $nKeptCol
         | FROM $table WHERE $keep) nk""".stripMargin
    }
    rungs.mkString("", "\nUNION ALL\n", "\nORDER BY pct DESC")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_ladder")
    val ratios = args.lift(2)
      .map(_.split(",").map(_.toDouble).toSeq)
      .getOrElse(Seq(1.0, 0.5, 0.25, 0.1, 0.01))
    val only = args.lift(3).map(_.split(",").toSet) // optional family filter
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    families(spark, sfDir)
      .filter(f => only.forall(_.contains(f.name)))
      .foreach { f =>
        println(s"=== ${f.name} ===")
        runFamily(f, ratios, outDir).foreach { r =>
          println(r.report.toString)
          // the comparator's terminal line (RSMRResultComparator.java:80-88)
          println(f"[Data error rate] ${r.dataErrorRate * 100}%.2f%%\n")
        }
      }
    spark.stop()
  }
}
