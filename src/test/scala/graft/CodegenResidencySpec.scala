package graft

import org.apache.spark.sql.DataFrame

import graft.queries.TpchQueries
import graft.sampling.{SampledFiles, SamplingConfig}
import graft.tools.Measure

/** The codegen cache [[GraftSession]] sizes holds a catalog mix's generated
  * classes across passes: once every plan of the mix has run, running the
  * mix again compiles nothing. With Spark's default of 100 entries the
  * round-robin evicts each class before its reuse and every pass compiles
  * again.
  */
class CodegenResidencySpec extends SparkSpec {

  /** The AQP benchmark's `curation-catalog` mix: the exact queries, their
    * Bernoulli and universe twins, and Q1/Q6 over a file-level sample. */
  private def mix(sfDir: String): Seq[(String, () => DataFrame)] = {
    val declared = Seq(
      "tpch_q1", "tpch_q6", "dedup_rate", "dedup_clusters",
      "tpch_q1_sampled_r10", "tpch_q6_sampled_r10",
      "tpch_q1_sampled_u10", "tpch_q6_sampled_u10", "dedup_rate_sampled_u10")
      .map(n => n -> (() => SparkEntry.query(n).build(spark, sfDir)))
    def files = SampledFiles(spark, s"$sfDir/lineitem.parquet", SamplingConfig(ratio = 0.1)).data
    declared ++ Seq(
      "filesample_q1" -> (() => TpchQueries.q1(files)),
      "filesample_q6" -> (() => TpchQueries.q6(files)))
  }

  test("the second pass over the catalog mix compiles no class") {
    assumeTestdata(sf001)
    val queries = mix(sf001)
    def pass(): Seq[(String, Long)] =
      queries.map { case (name, df) => name -> Measure.trial(spark)(df()).classesCompiled }
    pass()
    val second = pass()
    assert(second.forall(_._2 == 0),
      s"classes compiled on the second pass: ${second.filter(_._2 > 0).mkString(", ")}")
  }
}
