package graft.sampling

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** The one Horvitz–Thompson twin builder (Horvitz & Thompson, JASA 1952):
  * a sampled twin is its exact query run over the sample's keep-set, with
  * each additive result column `c` (count, sum) replaced by
  * `est_c = c / p` — the estimator the reference's comparator applies
  * (RSMRResultComparator.java:58-71). Non-additive columns (group keys,
  * quantiles) pass through unscaled.
  *
  * The Spark side takes the sampler's own scale function
  * ([[Sampled.htScale]], [[SampledFiles.htScale]],
  * [[UniverseSampled.htScale]]), so each twin keeps its sampler's exact
  * arithmetic and output type. The SQL side replays a universe twin in
  * DuckDB: the exact oracle, written as a function of its source relation,
  * runs over the keep-set and is wrapped by the same scaling.
  */
object HtTwin {

  /** `exact` with each column of `cols` replaced, in place, by
    * `est_<c> = htScale(c)`; every other column and the column order are
    * unchanged. A listed column `exact` lacks fails here, at plan build.
    */
  def scaled(exact: DataFrame, htScale: Column => Column, cols: Seq[String]): DataFrame = {
    val missing = cols.filterNot(exact.columns.contains)
    require(missing.isEmpty,
      s"HT twin: no column ${missing.mkString(", ")} to scale in " +
        exact.columns.mkString("[", ", ", "]"))
    exact.select(exact.columns.toSeq.map(c =>
      if (cols.contains(c)) htScale(col(c)).as(s"est_$c") else col(c)): _*)
  }

  /** DuckDB twin of [[scaled]] for a universe twin, the sampled twins an
    * external engine can replay: `exactSql` rendered over the `pct`-percent
    * keep-set `(SELECT * FROM <table> WHERE <keep>)` of the unit expression
    * `unitSql` ([[UniverseSampled.keepSql]]), each column `c` of `cols`
    * replaced by `c * <scale> AS est_c` ([[UniverseSampled.scaleSql]]).
    * With no `cols` it is the exact oracle over the keep-set.
    */
  def sql(
      exactSql: String => String,
      table: String,
      unitSql: String,
      pct: Int,
      cols: Seq[String]): String = {
    val exact = exactSql(s"(SELECT * FROM $table WHERE ${UniverseSampled.keepSql(unitSql, pct)})")
    val scale = UniverseSampled.scaleSql(pct)
    if (cols.isEmpty) exact
    else
      s"""SELECT * EXCLUDE (${cols.mkString(", ")}),
         |       ${cols.map(c => s"$c * $scale AS est_$c").mkString(", ")}
         |FROM ($exact)""".stripMargin
  }
}
