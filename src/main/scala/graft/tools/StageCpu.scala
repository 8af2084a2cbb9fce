package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.dedup.{DedupCorpus, JaccardPairs, MinHashLSH}

/** Per-stage CPU attribution for a scale-probe family (dev diagnostic):
  * run one family at chosen factors and print, for every stage, task
  * count, executor CPU seconds, run time, and shuffle volume — to find
  * WHICH stage's per-row cost grows between factors when the whole-plan
  * CPU ratio reads super-linear.
  *
  * Usage: `runMain graft.tools.StageCpu <family> <factor> [<factor>...]`
  * env SPARK_GRAFT_SF_DIR picks the fixture (default sf0.1).
  */
object StageCpu {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageCpu <family> <factor> [<factor>...]")
    val family = args.head
    val factors = args.tail.map(_.toInt).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", "32")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs0 = graft.queries.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    // probe families take the explode factor; any other name resolves as a
    // declared SparkEntry query (factor ignored — pass 1) so the stage-vs-
    // process CPU gap (driver-side planning cost) is measurable per query
    val build: Int => org.apache.spark.sql.DataFrame = family match {
      case "dedup_minhash_pairs" => k =>
        MinHashLSH.nearDupPairs(
          MinHashLSH.signatures(DedupCorpus.augment(ScaleProbe.explodeDocs(docs0, k))))
      case "dedup_minhash_sig" => k =>
        MinHashLSH.signatures(DedupCorpus.augment(ScaleProbe.explodeDocs(docs0, k)))
      case "dedup_ngram_pairs" => k =>
        JaccardPairs.nearDupPairs(DedupCorpus.augment(ScaleProbe.explodeDocs(docs0, k)))
      case "dedup_cosine_pairs" => k =>
        graft.dedup.CosinePairs.nearDupPairs(
          DedupCorpus.augment(ScaleProbe.explodeDocs(docs0, k)))
      case "dedup_embedding_pairs_banded" => k =>
        graft.similarity.SimilaritySearch.nearDupPairsDerived(
          ScaleProbe.explodeEmbeddings(
            graft.queries.Tables.embeddings(spark, sfDir), k),
          minSim = 0.15, numBands = 4)
      case "events_sessions" => k => {
        // match the probe's tiny-row partition regime (ADVICE r13): the
        // fixture AND the shuffle run at ScaleProbe.partsFor, so a stage
        // diagnosis reproduces the configuration the sweep actually timed
        val parts = ScaleProbe.partsFor("events_sessions", k)
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        graft.operators.Sessionize.sessions(
          ScaleProbe.explodeEvents(graft.queries.Tables.events(spark, sfDir), k, parts))
      }
      case "graph_triangles" => k => {
        val parts = ScaleProbe.partsFor("graph_triangles", k)
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        ScaleProbe.trianglesAt(graft.queries.Tables.events(spark, sfDir), k)
      }
      case "docs_substring_dedup" => k => {
        // the probe runs every family at partsFor's shuffle width (32·k
        // here) — a 32-partition diagnosis would time growing per-task
        // agg state the sweep never had
        spark.conf.set("spark.sql.shuffle.partitions",
          ScaleProbe.partsFor("docs_substring_dedup", k).toString)
        graft.dedup.SubstringDedup.summary(
          DedupCorpus.augment(ScaleProbe.explodeDocs(docs0, k)))
      }
      case "docs_split_incremental" => k =>
        // the ONE shared pipeline definition (review r15): diagnosing a
        // re-spelled copy could silently measure a different plan than
        // the sweep it attributes
        ScaleProbe.splitIncrementalAt(docs0, k)
      case q =>
        val query = graft.SparkEntry.query(q)
        _ => query.build(spark, sfDir)
    }

    case class Row(
        id: Int, name: String, tasks: Int, cpuS: Double, runS: Double,
        deserCpuS: Double, srMb: Double, swMb: Double, recIn: Long, recShufIn: Long)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        rows += Row(
          si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
          m.executorCpuTime / 1e9, m.executorRunTime / 1e3,
          m.executorDeserializeCpuTime / 1e9,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead)
      }
    }

    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    def cpuNow(): Double = osBean.map(_.getProcessCpuTime / 1e9).getOrElse(-1.0)

    factors.foreach { k =>
      // warmup to absorb codegen, then one measured run per factor with
      // the probe's scaled shuffle partitions — partsFor, not a flat 32·k,
      // so tiny-row-regime families (events_sessions, graph_pagerank,
      // dedup_minhash_pairs) are diagnosed in the SAME configuration the
      // sweep timed (ADVICE r13; the r14 minhash attribution note was
      // measured under partsFor and a diagnosis must reproduce it)
      spark.conf.set("spark.sql.shuffle.partitions",
        ScaleProbe.partsFor(family, k).toString)
      // and the probe's per-family conf overrides (forced-regime families:
      // the diagnosis must reproduce the configuration the sweep timed)
      ScaleProbe.familyConf.getOrElse(family, Nil)
        .foreach { case (key, v) => spark.conf.set(key, v) }
      build(k).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      rows.clear()
      spark.sparkContext.addSparkListener(listener)
      val c0 = cpuNow()
      build(k).write.format("noop").mode("overwrite").save()
      val procCpu = cpuNow() - c0
      Thread.sleep(1500) // let the listener bus drain stage-completed events
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
      val total = rows.map(_.cpuS).sum
      val deser = rows.map(_.deserCpuS).sum
      println(f"== $family x$k  total stage cpu=$total%.1fs (deser cpu=$deser%.1fs)  " +
        f"process cpu=$procCpu%.1fs (driver-side gap=${procCpu - total - deser}%.1fs) ==")
      rows.sortBy(-_.cpuS).take(12).foreach { r =>
        println(f"  [${r.id}%3d] cpu=${r.cpuS}%7.1fs deser=${r.deserCpuS}%6.1fs run=${r.runS}%7.1fs tasks=${r.tasks}%4d " +
          f"in=${r.recIn}%10d shufIn=${r.recShufIn}%10d srMB=${r.srMb}%8.1f swMB=${r.swMb}%8.1f ${r.name.take(60)}")
      }
    }
    spark.stop()
  }
}
