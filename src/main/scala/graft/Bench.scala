package graft

import graft.tools.Measure

/** Benchmark main — one JSON line on stdout per the driver contract.
  *
  * Harness discipline (VERDICT r1 §wrong 4-5): one warmup pass per query
  * (absorbs first-touch scan costs and codegen), then median of 3 timed
  * trials — interleaved round-robin across queries, with process-CPU time
  * recorded next to wall time (VERDICT r7 §wrong 2, contention
  * de-confounding); failures are never swallowed — a crashing query is
  * reported in an `errors` field and the process exits non-zero.
  *
  * The warm-up absorbs codegen only because [[GraftSession]] sizes Spark's
  * codegen cache to the catalog: at sf0.001 the warm-up pass compiles
  * about 2,680 classes and each timed pass 15 to 80. With Spark's default
  * 100-class cache the round-robin evicts every class before its reuse,
  * and each timed pass recompiles about 4,550 classes (66–89 s of Janino).
  * `BENCH_SELF.json` carries the counts: `classes_per_pass` (warm-up
  * first), `trial_classes` per query and trial, and the per-query median
  * compile seconds in `queries_codegen`.
  *
  * Timed action: [[graft.tools.Measure.trial]], a noop-sink write, which
  * executes the FULL plan including each query's final orderBy (a
  * `count()` would let Catalyst drop the sort, systematically
  * under-measuring sink cost — VERDICT r3 §wrong 7).
  */
object Bench {

  /** The headline subset carried on the compact final stdout line (the
    * full map rides the previous line + BENCH_SELF.json). Spec-pinned to
    * declared query names — a renamed query must fail the suite,
    * not silently vanish from the driver's parsed line (the
    * tinyRowParts dead-key discipline; review finding).
    */
  val HeadlineNames: Seq[String] = Seq(
    "wordcount", "charcount", "log_host", "tpch_q1", "tpch_q6",
    "dedup_rate", "dedup_minhash_pairs", "simsearch_topk",
    "text_quality", "events_sessions")

  def main(args: Array[String]): Unit = {
    // Quiet the stream BEFORE the session exists: SparkContext startup
    // logs ~40 INFO lines ahead of any setLogLevel call, and the
    // post-clearCache "Failed to update accumulator" DAGScheduler ERROR
    // flood (a known-benign race between AQE metric updates and cache
    // release) added ~100 KB per run — both noise between the driver's
    // capture window and the one summary line it must parse. Real query
    // failures still surface through the errors field and the exit code.
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler", org.apache.logging.log4j.Level.OFF)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .getOrCreate()
    // ERROR, not WARN: the deliberate 32-256-row bucket-offset windows
    // (TokenBudget/RangeRank/GlobalShuffle/QualityDeciles scaladoc) emit a
    // WindowExec warning PER STAGE, which flooded r13's driver capture with
    // ~200 KB of noise and clipped the summary line mid-JSON. The bench is
    // a measurement harness — plan-shape assertions live in the specs and
    // the scale probe, not in its log stream.
    spark.sparkContext.setLogLevel("ERROR")

    val names = SparkEntry.all.map(_.name).sorted
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    // Warmup failures are NOT errors (transient first-touch issues would
    // otherwise fail the whole bench even when all timed trials pass);
    // only timed-trial failures count, and the per-query trial count is
    // reported so a median over <3 samples is visible in the JSON.
    def run(name: String, recordError: Boolean): Option[Measure.Trial] =
      try Some(Measure.trial(spark)(SparkEntry.query(name).build(spark, sfDir)))
      catch {
        case e: Throwable =>
          if (recordError)
            errors.getOrElseUpdate(
              name, Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          None
      }

    // classes compiled and compile seconds of one pass, summed over its queries
    def passCodegen(trials: Seq[Measure.Trial]): (Long, Double) =
      trials.map(_.classesCompiled).sum -> trials.map(_.codegenS).sum
    val passes = scala.collection.mutable.ArrayBuffer(
      passCodegen(names.flatMap(run(_, recordError = false)))) // warmup
    // Trials interleave round-robin (pass 1 over every query, then pass 2,
    // pass 3) instead of 3 back-to-back per query: a multi-minute host
    // contention window then costs each query at most one of its three
    // trials — the median survives — rather than landing on a contiguous
    // alphabetical block and reading as a family-wide regression (r6 hit
    // log_size/log_totalsize, r7 hit the whole events_* block this way).
    // Every query is pre-seeded with an empty trial list so the JSON key
    // set is stable even when all trials of a query fail (ADVICE r8: a
    // vanished key is silent schema drift for cross-round diff tooling;
    // trialCounts=0 still flags the failure).
    val trialTimes = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val trialCpu = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val trialGc = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val trialCodegen = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val trialClasses = scala.collection.mutable.LinkedHashMap[String, Seq[Long]]()
    names.foreach { n =>
      trialTimes(n) = Seq.empty; trialCpu(n) = Seq.empty; trialGc(n) = Seq.empty
      trialCodegen(n) = Seq.empty; trialClasses(n) = Seq.empty
    }
    for (_ <- 1 to 3) passes += passCodegen(names.flatMap { name =>
      val trial = run(name, recordError = true)
      trial.foreach { t =>
        trialTimes(name) = trialTimes(name) :+ t.wallS
        t.cpuS.foreach(c => trialCpu(name) = trialCpu(name) :+ c)
        trialGc(name) = trialGc(name) :+ t.gcS
        trialCodegen(name) = trialCodegen(name) :+ t.codegenS
        trialClasses(name) = trialClasses(name) :+ t.classesCompiled
      }
      trial
    })
    val trialCounts = scala.collection.mutable.LinkedHashMap[String, Int]()
    names.foreach(n => trialCounts(n) = trialTimes.getOrElse(n, Seq.empty).size)
    def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)
    val results = names.flatMap { name =>
      val trials = trialTimes.getOrElse(name, Seq.empty)
      if (trials.isEmpty) None else Some(name -> median(trials))
    }

    def jq(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    // The driver captures a bounded tail of stdout (2000 chars in r4, which
    // clipped the full-precision line, VERDICT r4 §wrong/next 7). The stdout
    // line is kept compact — ms-rounded times, trials map omitted — and the
    // FULL precision object (every individual trial time included, so a
    // round-over-round drift is diagnosable from spread vs shift) goes to
    // BENCH_SELF.json in the working directory.
    // Locale.ROOT, not the f interpolator: String.format under a
    // comma-decimal default locale (de_DE et al.) would render 1,234 and
    // break the driver's JSON parse (ADVICE r5).
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Driver capture semantics, established over six rounds (VERDICT r14
    // §missing 1 has the root cause): the driver stores and parses only the
    // LAST 2000 CHARACTERS of stdout. r13's full-map final line was ~6 KB,
    // so its head `{"metric":...` fell outside that window and the parse
    // failed even though the line itself was valid JSON. Therefore the
    // FINAL line must be SHORT (<1.5 KB, comfortably inside the tail with
    // shutdown noise margin): totals, a bounded headline-query subset, a
    // bounded errors map, and a pointer to BENCH_SELF.json. The full
    // 177-query map is printed on an EARLIER line (useful to a human
    // scrolling the log) and lives in full precision in BENCH_SELF.json.
    val resultMap = results.toMap
    val qs = HeadlineNames.filter(resultMap.contains)
      .map { k => jq(k) + ":" + fmt(resultMap(k)) }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jq(k) + ":" + jq(v) }.mkString("{", ",", "}")
    // stdout errors are bounded the same way (5 × ~100 chars max): a
    // mass-failure round must still leave the line head inside the tail.
    val errJsonStdout = errors.take(5)
      .map { case (k, v) => jq(k) + ":" + jq(v.take(80)) }
      .mkString("{", ",", if (errors.size > 5) s""","_more":${errors.size - 5}}""" else "}")
    val trialsJson = trialCounts.map { case (k, v) => jq(k) + ":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val qsFull = results.map { case (k, v) => jq(k) + ":" + v }.mkString("{", ",", "}")
    val perTrialJson = trialTimes
      .map { case (k, ts) => jq(k) + ":" + ts.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val cpuJson = trialCpu
      .collect { case (k, ts) if ts.nonEmpty => jq(k) + ":" + median(ts) }
      .mkString("{", ",", "}")
    val perTrialCpuJson = trialCpu
      .map { case (k, ts) => jq(k) + ":" + ts.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // GC columns (VERDICT r13 item 4): per-trial stop-the-world seconds,
    // the per-query median, and the per-query median of (cpu - gc) PAIRED
    // PER TRIAL (a trial's own cpu minus its own gc — medians of the two
    // series separately could pair different trials). cpu_minus_gc is the
    // catalog-size-independent work signal for cross-round ledgers.
    val gcJson = trialGc
      .collect { case (k, ts) if ts.nonEmpty => jq(k) + ":" + median(ts) }
      .mkString("{", ",", "}")
    val perTrialGcJson = trialGc
      .map { case (k, ts) => jq(k) + ":" + ts.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val cpuMinusGcJson = names
      .flatMap { k =>
        val pairs = trialCpu(k).zip(trialGc(k))
        if (pairs.isEmpty) None
        else Some(jq(k) + ":" + median(pairs.map { case (c, g) => c - g }))
      }
      .mkString("{", ",", "}")
    // Codegen columns: the per-query median of Janino compile seconds and
    // each trial's count of classes compiled (0 where every generated class
    // was still in Spark's codegen cache), plus the catalog-wide count per
    // pass and their compile seconds, warm-up first.
    val codegenJson = trialCodegen
      .collect { case (k, ts) if ts.nonEmpty => jq(k) + ":" + median(ts) }
      .mkString("{", ",", "}")
    val perTrialClassesJson = trialClasses
      .map { case (k, ns) => jq(k) + ":" + ns.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val passClassesJson = passes.map(_._1).mkString("[", ",", "]")
    val passCodegenJson = passes.map(_._2).mkString("[", ",", "]")
    // "cpus" on both artifacts (VERDICT r17 scaling block): the driver's
    // low-core scaling check can verify the $SPARK_GRAFT_CPUS contract
    // directly instead of inferring it from flat ratios
    // (suspect_cpus_ignored false-positived in r17).
    val cpusJson = scala.util.Try(cpus.trim.toInt).getOrElse(-1)
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpusJson,"queries":$qsFull,"queries_cpu":$cpuJson,"queries_gc":$gcJson,"queries_cpu_minus_gc":$cpuMinusGcJson,"trials":$trialsJson,"trial_times":$perTrialJson,"trial_cpu":$perTrialCpuJson,"trial_gc":$perTrialGcJson,"queries_codegen":$codegenJson,"trial_classes":$perTrialClassesJson,"classes_per_pass":$passClassesJson,"codegen_s_per_pass":$passCodegenJson,"errors":$errJson,"sf":"$sfDir"}"""
    // Self-contained archive of THIS bench invocation at the repo root
    // (VERDICT r10 §missing-3): the driver's BENCH_r{N}.json captures a
    // bounded stdout tail, which the 95-query stdout line outgrew twice
    // (r3, r10) — the committed artifact must never depend on a capture
    // window. Sole full-precision artifact (BENCH_LOCAL.json was a
    // byte-identical duplicate of this file and was dropped, ADVICE r11).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_SELF.json"), fullJson)
    val stdoutLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpus":$cpusJson,"n_queries":${results.size},"n_errors":${errors.size},"queries":$qs,"full":"BENCH_SELF.json","errors":$errJsonStdout,"sf":"$sfDir"}"""
    // Full per-query map FIRST (a human scrolling the log gets everything;
    // so does any capture longer than 2000 chars), then the compact
    // summary as the FINAL line — the only line guaranteed to sit whole
    // inside the driver's 2000-char stdout tail. Both flushed before
    // spark.stop() can interleave shutdown noise.
    val fullStdoutLine = results
      .map { case (k, v) => jq(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"queries_full","queries":$fullStdoutLine,"sf":"$sfDir"}""")
    println(stdoutLine)
    Console.out.flush()
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
