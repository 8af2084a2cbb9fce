package graft.sampling

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.{ReferenceQueries => RQ, Tables, TpchQueries}

class HtTwinSpec extends SparkSpec {

  private lazy val lineitem = Tables.lineitem(spark, sf001)

  private val Q1Additive =
    Seq("sum_qty", "sum_base_price_c", "sum_disc_price_e4", "sum_charge_e6", "cnt")

  /** `HtTwin.scaled(exact, htScale, cols)` renames each listed column `c`
    * to `est_c` in place and holds `scale(c)`; every other column keeps its
    * name, position and value. */
  private def assertTwin(
      exact: DataFrame,
      htScale: Column => Column,
      cols: Seq[String],
      scale: Double => Double): Unit = {
    val est = HtTwin.scaled(exact, htScale, cols)
    val names = exact.columns.toSeq
    assert(est.columns.toSeq === names.map(c => if (cols.contains(c)) s"est_$c" else c))
    val keys = names.filterNot(cols.contains)
    val x = exact.orderBy(keys.map(col): _*).collect()
    val y = est.orderBy(keys.map(col): _*).collect()
    assert(x.nonEmpty && x.length === y.length)
    x.zip(y).foreach { case (a, b) =>
      names.indices.foreach { i =>
        if (cols.contains(names(i)))
          assert(b.getDouble(i) === scale(a.getAs[Number](i).doubleValue), names(i))
        else assert(b.get(i) === a.get(i), names(i))
      }
    }
  }

  test("Bernoulli twin: est_c = c / p in place, keys untouched") {
    val s = Sampled(lineitem, SamplingConfig(ratio = 0.1))
    assertTwin(TpchQueries.q1(s.data), s.htScale, Q1Additive, _ / 0.1)
  }

  test("universe twin: est_c = c * scale(pct) in place, unlisted columns untouched") {
    val sample = UniverseSampled.sample(lineitem, col("l_orderkey"), 10)
    // a listed column between unlisted ones keeps its position
    assertTwin(TpchQueries.q1(sample), UniverseSampled.htScale(10), Seq("sum_qty", "cnt"), _ * 10.0)
  }

  test("file-sample twin: est_c = c / p over the selected files") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_httwin_multifile_parquet"
    if (!new java.io.File(dir, "_SUCCESS").exists())
      Tables.documents(spark, sf001).repartition(8, col("doc_id")).write.mode("overwrite").parquet(dir)
    // part-file names carry a write id, so pick the first seed whose
    // selection is a proper, non-empty subset
    val s = Iterator.from(1).take(20)
      .map(seed => SampledFiles(spark, dir, SamplingConfig(ratio = 0.5, seed = seed.toLong)))
      .find(f => f.selectedFiles.nonEmpty && f.selectedFiles.size < f.allFiles.size).get
    assertTwin(RQ.wordCount(s.data), s.htScale, Seq("cnt"), _ / 0.5)
  }

  test("a ratio-1.0 Bernoulli twin equals the exact answer") {
    val s = Sampled(lineitem, SamplingConfig(ratio = 1.0))
    val keys = Seq("l_returnflag", "l_linestatus")
    val exact = TpchQueries.q1(lineitem).orderBy(keys.map(col): _*).collect()
    val twin = HtTwin.scaled(TpchQueries.q1(s.data), s.htScale, Q1Additive)
      .orderBy(keys.map(col): _*).collect()
    assert(exact.length === 6 && twin.length === 6)
    exact.zip(twin).foreach { case (a, b) =>
      assert(b.getString(0) === a.getString(0) && b.getString(1) === a.getString(1))
      (2 until 7).foreach(i => assert(b.getDouble(i) === a.getLong(i).toDouble))
    }
  }

  test("a listed column the frame lacks fails at plan build, named") {
    val s = Sampled(lineitem, SamplingConfig(ratio = 0.1))
    val e = intercept[IllegalArgumentException](
      HtTwin.scaled(TpchQueries.q1(s.data), s.htScale, Seq("cnt", "no_such_col")))
    assert(e.getMessage.contains("no_such_col"))
    assert(!e.getMessage.contains("column cnt"))
  }

  test("sql: the exact oracle over the keep-set, listed columns scaled as est_c") {
    val exact = (from: String) => s"SELECT k, v, count(*) AS cnt FROM $from GROUP BY 1, 2"
    val keep = UniverseSampled.keepSql("id", 10)
    assert(HtTwin.sql(exact, "t", "id", 10, Seq("cnt")) ===
      s"""SELECT * EXCLUDE (cnt),
         |       cnt * 10.0 AS est_cnt
         |FROM (SELECT k, v, count(*) AS cnt FROM (SELECT * FROM t WHERE $keep) GROUP BY 1, 2)"""
        .stripMargin)
    // no additive column: the exact oracle over the keep-set, unwrapped
    assert(HtTwin.sql(exact, "t", "id", 10, Nil) ===
      s"SELECT k, v, count(*) AS cnt FROM (SELECT * FROM t WHERE $keep) GROUP BY 1, 2")
  }
}
