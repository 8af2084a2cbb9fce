package graft.tools


/** Single-query micro-bench (dev tool): time named declared queries with
  * the Bench harness discipline (noop sink, warmup + median-of-3, process
  * CPU next to wall) without paying for the whole 90-query sweep — for
  * before/after checks on one operator.
  *
  * Usage: `runMain graft.tools.TimeQuery <query> [<query> ...]`;
  * env SPARK_GRAFT_SF_DIR picks the fixture (default sf0.1).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass at least one declared query name")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    def cpuNow(): Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)
    args.foreach { name =>
      val build = graft.SparkEntry.query(name).build
      def once(): (Double, Double) = {
        val c0 = cpuNow(); val t0 = System.nanoTime()
        build(spark, sfDir).write.format("noop").mode("overwrite").save()
        val w = (System.nanoTime() - t0) / 1e9
        val c = if (c0 < 0) -1.0 else (cpuNow() - c0) / 1e9
        spark.catalog.clearCache()
        (w, c)
      }
      once() // warmup
      val ts = (1 to 3).map(_ => once())
      val wall = ts.map(_._1).sorted.apply(1)
      val cpu = ts.map(_._2).sorted.apply(1)
      println(f"[timeq] $name%-32s wall=$wall%.2fs cpu=$cpu%.1fs " +
        f"(trials ${ts.map(t => f"${t._1}%.2f").mkString("/")})")
    }
    spark.stop()
  }
}
