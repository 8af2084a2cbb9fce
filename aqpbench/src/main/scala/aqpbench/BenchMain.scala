package aqpbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sampling.{Sampled, SamplingConfig}

/** The benchmark's engine-side driver: one JVM, `local[N]` with N = the
  * host's cores, one closed-loop client (this thread).
  *
  * {{{
  *   BenchMain --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --data <dir> --out <dir> [--tiny 1] [--corrupt-expected 1]
  * }}}
  *
  * Order of a run: make the seeded inputs (plain Scala, no Spark; the
  * catalog's tables come from the runner); set up five fresh sessions
  * (setup_s is their median); the first exact operation (cold_exact_s);
  * the workload's untimed warm-up passes over the four phases; one-time
  * checks; then passes over the four phases until `--seconds` have gone
  * by. With `--trace 1`, passes alternate between traced and untraced,
  * then the layer split and the workload's traced extras run, and the
  * spans are written to the artifact. The last stdout line is the result JSON.
  */
object BenchMain {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = args.getOrElse("trace", "0") == "1"
    val seconds = args("seconds").toDouble
    val tracer = new Tracer(trace)
    val ctx = new Ctx(args("work"), args("data"), args("out"), args("seed").toLong,
      args.get("tiny").contains("1"), args.get("corrupt-expected").contains("1"), tracer)
    val w: Workload = args("workload") match {
      case "wordcount-ladder" => new WordcountLadder(ctx)
      case "curation-catalog" => new CurationCatalog(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val cores = Runtime.getRuntime.availableProcessors
    def session(): SparkSession = {
      val s = GraftSession.builder(s"local[$cores]", cores.toString)
        .appName("aqpbench")
        .config("spark.local.dir", s"${ctx.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    w.generate()
    ctx.log("inputs generated")

    val setups = (1 to 5).map { k =>
      if (k > 1) ctx.spark.stop()
      val t0 = System.nanoTime()
      ctx.spark = ctx.t("session", "GraftSession.builder")(session())
      w.register(ctx.spark)
      (System.nanoTime() - t0) / 1e9
    }
    val spark = ctx.spark
    val listener = new PhaseListener
    if (trace) listener.install(spark)

    var attempted = 0L
    var failed = 0L
    val executions = mutable.Map.empty[String, Int].withDefaultValue(0)
    def runPhase(bucket: String, traced: Boolean)(f: PhaseRun => Unit): Double = {
      val r = new PhaseRun(ctx)
      tracer.enabled = trace && traced
      if (trace) listener.enter(spark, if (traced) bucket else "off")
      tracer.newTrace()
      f(r)
      if (trace && traced) executions(bucket) += 1
      attempted += r.attempted
      failed += r.failed
      r.ns / 1e9
    }

    ctx.log(f"setup done: ${setups.mkString(" ")}")
    val coldS = runPhase("exact", traced = true)(w.cold)
    ctx.log(f"cold done: $coldS%.3f")
    // the JIT keeps speeding passes up for a while; time only what follows
    for (_ <- 1 to w.warmupPasses) Phases.All.foreach(p => runPhase(p, traced = true)(w.phase(p, 0, _)))
    ctx.log("warm-up done")
    runPhase("checks", traced = true)(w.selfCheck)
    ctx.log("checks done")

    // the timed section: whole passes over the four phases
    val times = Phases.All.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val passTotal = Map(true -> mutable.ArrayBuffer.empty[Double], false -> mutable.ArrayBuffer.empty[Double])
    System.gc()
    Resources.resetHeapPeak()
    val gc0 = Resources.gcMs
    val steal0 = Resources.stealTicks
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (pass < 2 || System.nanoTime() < end) {
      pass += 1
      // traced runs alternate: odd passes traced, even passes untraced
      val traced = trace && pass % 2 == 1
      val cpu0 = Resources.cpuNs
      val ts = Phases.All.map { p =>
        val s = runPhase(p, traced)(w.phase(p, pass, _))
        if (!trace || traced) times(p) += s
        s
      }
      passTotal(traced) += ts.sum
      passCpu += (Resources.cpuNs - cpu0) / 1e9
    }
    val heapPeak = Resources.heapPeakMb
    val gcPerPass = (Resources.gcMs - gc0) / 1e3 / pass
    val steal = for ((s0, t0) <- steal0; (s1, t1) <- Resources.stealTicks) yield (s1 - s0).toDouble / (t1 - t0)
    tracer.enabled = trace
    if (trace) listener.enter(spark, "after")

    ctx.log(s"timed section done: $pass passes")
    val report = ctx.t("sampling", "Sampled.report")(Sampled(w.source, SamplingConfig(ratio = 0.1)).report())
    val dataError = w.dataError()
    // Each phase metric is the mean over the timed passes. A run's figure
    // then follows the host's load over the whole timed section; the mean
    // of a run's passes spread less from run to run than their median.
    val perPass = Phases.All.map(p => p -> times(p).sum / times(p).size).toMap
    val info = mutable.LinkedHashMap[String, String](
      "workload" -> Json.str(w.name), "seed" -> ctx.seed.toString, "cores" -> cores.toString,
      "passes" -> pass.toString, "input_rows" -> w.inputRows.toString, "input_bytes" -> w.inputBytes.toString,
      "phase_samples_s" -> Json.obj(Phases.All.map(p => p -> times(p).map(Json.num).mkString("[", ",", "]"))),
      "speedup" -> Json.obj(Phases.All.tail.map(p => p -> Json.num(perPass("exact") / perPass(p)))),
      "host_steal_frac" -> steal.map(Json.num).getOrElse("null"))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(setups), "s"),
        ("cold_exact_s", coldS, "s"),
        ("exact_s", perPass("exact"), "s"),
        ("bernoulli_s", perPass("bernoulli"), "s"),
        ("universe_s", perPass("universe"), "s"),
        ("filesample_s", perPass("filesample"), "s"),
        ("cpu_s", passCpu.sum / passCpu.size, "s"),
        ("heap_peak_mb", heapPeak, "MB"),
        ("data_error", dataError, "ratio"),
        ("err_bound", report.errorRate, "ratio"))
      else {
        // accounting scans of one report, counted by the listener
        listener.enter(spark, "accounting")
        Sampled(w.source, SamplingConfig(ratio = 0.1)).report()
        listener.enter(spark, "layers")
        val layers = Layers.split(w)
        runPhase("extras", traced = true)(r => info ++= w.traced(r))
        listener.enter(spark, "done")
        info("layers") = Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
        Layers.metrics(ctx, w, listener, executions.toMap, layers, report, setups.size,
          overheadS = median(passTotal(true).toSeq) - median(passTotal(false).toSeq), gcPerPass,
          failedFrac = failed.toDouble / attempted)
      }

    ctx.log("metrics done")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ctx.out))
    val artifact = s"${ctx.out}/${w.name}-seed${ctx.seed}-trace${if (trace) 1 else 0}.json"
    info("metrics") = Json.obj(metrics.map { case (k, v, u) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    if (trace) {
      info("self_s_by_call") = Json.obj(tracer.selfSeconds(s => s"${s.module}.${s.name}").toSeq.sorted.map {
        case (k, v) => k -> Json.num(v)
      })
      info("spans") = tracer.toJson
    }
    w match {
      case c: CurationCatalog => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${ctx.work}/oracle.json"), c.oracleJson)
      case _ =>
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), Json.obj(info.toSeq))
    spark.stop()

    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(s"artifact: $artifact")
    println(result)
  }
}
