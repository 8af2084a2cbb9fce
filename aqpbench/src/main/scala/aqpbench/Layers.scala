package aqpbench

import org.apache.spark.sql.DataFrame

import graft.sampling.SamplingReport

/** The traced run's per-layer numbers. */
object Layers {
  private val Reps = 2

  /** Wall seconds to build `df` and run it into the noop sink: the whole
    * plan executes, nothing is written. Building counts, because some
    * operators (the iterative loops) run jobs while the plan is built.
    */
  def noop(df: () => DataFrame): Double = {
    val t0 = System.nanoTime()
    df().write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** `<phase>.<layer>` -> seconds: each level's noop time (best of
    * [[Reps]]) minus the level below it.
    */
  def split(w: Workload): Map[String, Double] =
    Phases.All.flatMap { phase =>
      val t = w.levels(phase).map(l => l.layer -> (1 to Reps).map(_ => noop(l.df)).min)
      t.indices.map(i => s"$phase.${t(i)._1}" -> (t(i)._2 - (if (i == 0) 0.0 else t(i - 1)._2)))
    }.toMap

  def metrics(
      ctx: Ctx, w: Workload, l: PhaseListener, executions: Map[String, Int],
      layers: Map[String, Double], report: SamplingReport, setups: Int,
      overheadS: Double, gcPerPass: Double, failedFrac: Double): Seq[(String, Double, String)] = {
    val spans = ctx.tracer.all
    def durs(p: Span => Boolean) = spans.filter(p).map(_.durNs / 1e9)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val self = ctx.tracer.selfNs
    def selfSum(module: String) = spans.filter(_.module == module).map(s => self(s.id)).sum / 1e9
    val mb = 1048576.0
    val sinkDirs = Seq("out", "ladder", "oracle").map(d => new java.io.File(s"${ctx.work}/$d"))
    val exact = l.stats("exact")
    val nExact = executions("exact").max(1)
    val perPhase = Phases.All.flatMap { p =>
      val s = l.stats(p)
      val n = executions(p).toDouble.max(1)
      Seq(
        (s"driver.$p.analysis_ms", s.analysisMs / n, "ms"),
        (s"driver.$p.optimization_ms", s.optimizationMs / n, "ms"),
        (s"driver.$p.planning_ms", s.planningMs / n, "ms"),
        (s"driver.$p.codegen_ms", s.codegenNs / 1e6 / n, "ms"),
        (s"exec.$p.jobs", s.jobs / n, "count"),
        (s"exec.$p.stages", s.stages / n, "count"),
        (s"exec.$p.tasks", s.tasks / n, "count"),
        (s"exec.$p.stage_cpu_s", s.stageCpuNs / 1e9 / n, "s"),
        (s"exec.$p.shuffle_write_mb", s.shuffleWriteBytes / mb / n, "MB"),
        (s"exec.$p.shuffle_read_mb", s.shuffleReadBytes / mb / n, "MB"),
        (s"exec.$p.spill_mb", s.spillBytes / mb / n, "MB"),
        (s"exec.$p.failed_tasks", s.failedTasks / n, "count"),
        (s"queries.${p}_s", layers(s"$p.query"), "s"))
    }
    Seq(
      ("session.build_s", BenchMain.median(durs(_.name == "GraftSession.builder")), "s"),
      ("sources.list_s", durs(s => s.module == "sources").sum / setups, "s"),
      ("sources.scan_s", layers("exact.scan"), "s"),
      ("sources.input_rows", exact.inputRows.toDouble / nExact, "count"),
      ("sources.input_mb", w.inputBytes / mb, "MB"),
      ("queries.rowwork_s", layers("exact.rowwork"), "s"),
      ("sampling.keep_bernoulli_s", layers("bernoulli.keep"), "s"),
      ("sampling.keep_universe_s", layers("universe.keep"), "s"),
      ("sampling.filelist_s", mean(durs(_.name.startsWith("SampledFiles."))), "s"),
      ("sampling.kept_rows", report.sampled.toDouble, "count"),
      ("sampling.rows_decoded_per_kept",
        l.stats("bernoulli").inputRows.toDouble / executions("bernoulli").max(1) / report.sampled, "ratio"),
      ("sampling.report_s", mean(durs(_.name == "Sampled.report")), "s"),
      ("sampling.accounting_scans", l.stats("accounting").jobs.toDouble, "count"),
      ("sinks.write_s", mean(durs(_.module == "sinks")), "s"),
      ("sinks.files_written", sinkDirs.map(Files.filesUnder).sum.toDouble, "count"),
      ("sinks.written_mb", sinkDirs.map(Files.bytesUnder).sum / mb, "MB"),
      ("compare.self_s", selfSum("compare"), "s"),
      ("trace.spans", spans.size.toDouble, "count"),
      ("trace.overhead_s", overheadS, "s"),
      ("jvm.gc_s", gcPerPass, "s"),
      ("failed_frac", failedFrac, "ratio")) ++ perPhase
  }
}
