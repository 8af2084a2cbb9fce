package graft.tools

/** Where a query's time goes (dev tool). Each name — and, for a probe
  * family, each factor — is warmed up once, then run for three trials
  * under [[Measure.stages]]. Printed per run:
  *  - the median trial's wall, process CPU and GC, with all three walls,
  *    and each trial's codegen compile seconds and classes compiled;
  *  - that trial's job timeline: start and end offsets from the query
  *    start and the gap before each job, which tells many small sequential
  *    jobs apart from one CPU-bound stage;
  *  - its stage table: tasks, executor CPU, deserialization CPU, summed
  *    task run time, stage wall, end offset, input and shuffle records,
  *    shuffle read and write MB;
  *  - the driver-side gap: process CPU minus stage CPU, deserialization
  *    CPU and codegen compile time, i.e. planning, AQE re-optimization,
  *    JIT, GC and other driver work. Codegen is its own term; a class
  *    compiled inside a task is in stage CPU as well, so the rest is a
  *    lower bound.
  *
  * Looping one query hides codegen cache thrash: its classes stay
  * resident unless it alone needs more than the cache holds, so a warm
  * trial here reads 0 classes even where a round-robin over the catalog
  * (as in [[graft.Bench]]) would evict and recompile them on every pass.
  *
  * A [[ScaleProbe.Families]] name runs the probe's ×k fixture through
  * [[ScaleProbe.runAt]], so shuffle width and per-family confs are those
  * the sweep times. Any other name is a declared query
  * ([[graft.SparkEntry.query]]) and runs once at the fixture's own size:
  * factors apply to families only.
  *
  * Usage: `runMain graft.tools.Profile <query|family>… [factor…]`
  * (factor default 1); env SPARK_GRAFT_SF_DIR names the fixture (required),
  * SPARK_GRAFT_CPUS the core count (default: the host's available
  * processors).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val (factorArgs, names) = args.toSeq.partition(a => a.nonEmpty && a.forall(_.isDigit))
    require(names.nonEmpty, "usage: Profile <query|family>... [factor...]")
    val factors = if (factorArgs.isEmpty) Seq(1) else factorArgs.map(_.toInt)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a testdata scale-factor directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fx = new ScaleProbe.Fixtures(spark, sfDir)

    // every name resolves before anything runs: a typo fails at once
    val runs: Seq[(String, () => Measure.Trial)] = names.flatMap { name =>
      if (ScaleProbe.Families.contains(name))
        factors.map(k => s"$name x$k" -> (() => ScaleProbe.runAt(fx, name, k)))
      else {
        val query = graft.SparkEntry.query(name)
        Seq(name -> (() => Measure.trial(spark)(query.build(spark, sfDir))))
      }
    }
    runs.foreach { case (label, run) =>
      run() // warmup: codegen, first-touch scan, saved artifacts
      val recs = (1 to 3).map(_ => Measure.stages(spark)(run()))
      report(label, recs.sortBy(_.result.wallS).apply(1), recs.map(_.result))
    }
    spark.stop()
  }

  private def report(label: String, rec: Measure.Recording[Measure.Trial], trials: Seq[Measure.Trial]): Unit = {
    val t = rec.result
    def secs(v: Option[Double]) = v.fold("n/a")(c => f"$c%.2fs")
    println(f"##### $label wall=${t.wallS}%.2fs cpu=${secs(t.cpuS)} gc=${t.gcS}%.2fs " +
      s"(trials ${trials.map(r => f"${r.wallS}%.2f").mkString("/")}; " +
      s"codegen ${trials.map(r => f"${r.codegenS}%.2f").mkString("/")}s, " +
      s"classes ${trials.map(_.classesCompiled).mkString("/")})")
    val stageCpu = rec.stages.map(_.cpuS).sum
    val deserCpu = rec.stages.map(_.deserCpuS).sum
    println(f"  jobs=${rec.jobs.size} stages=${rec.stages.size} " +
      f"tasks=${rec.stages.map(_.tasks).sum} stageCpu=$stageCpu%.2fs deserCpu=$deserCpu%.2fs " +
      f"stageWallSum=${rec.stages.map(_.wallS).sum}%.2fs")
    def at(ms: Long): Double = (ms - rec.startMs) / 1e3
    var prevEnd = rec.startMs
    rec.jobs.foreach { j =>
      println(f"  job ${j.jobId}%4d [${at(j.startMs)}%7.2f -> ${at(j.endMs)}%7.2f] " +
        f"dur=${(j.endMs - j.startMs) / 1e3}%6.2f gapBefore=${(j.startMs - prevEnd) / 1e3}%6.2f")
      prevEnd = math.max(prevEnd, j.endMs)
    }
    rec.stages.foreach { r =>
      println(f"  stage ${r.stageId}%4d tasks=${r.tasks}%4d cpu=${r.cpuS}%7.2fs " +
        f"deser=${r.deserCpuS}%6.2fs run=${r.runS}%7.2fs wall=${r.wallS}%6.2fs " +
        f"end=${at(r.endMs)}%7.2f in=${r.inputRecords}%10d shufIn=${r.shuffleRecords}%10d " +
        f"sR=${r.shuffleReadMB}%7.2fMB sW=${r.shuffleWriteMB}%7.2fMB  ${r.name.take(60)}")
    }
    println("  driver-side gap: " + t.cpuS.fold("n/a (no process CPU on this JVM)") { c =>
      f"process cpu $c%.2fs - stage cpu $stageCpu%.2fs - deser cpu $deserCpu%.2fs - " +
        f"codegen ${t.codegenS}%.2fs (${t.classesCompiled} classes) = " +
        f"${c - stageCpu - deserCpu - t.codegenS}%.2fs"
    })
  }
}
