package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.DedupCorpus
import graft.queries.Tables

/** Every one-branch ×k fixture of [[ScaleProbe]] equals, as a multiset of
  * rows, a k-branch `unionAll` of per-copy frames spelled here apart from
  * the probe's primitive, at k = 3.
  */
class ScaleProbeFixtureSpec extends SparkSpec {

  private val K = 3
  private val Block = DedupCorpus.IdBlock

  private def unionOf(copy: Int => DataFrame): DataFrame =
    (0 until K).map(copy).reduce(_ unionAll _)

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) === want.schema.map(f => f.name -> f.dataType))
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toString).sorted
    val (g, w) = (rows(got), rows(want))
    assert(w.nonEmpty)
    val (onlyGot, onlyWant) = (g.diff(w), w.diff(g))
    assert(onlyGot.isEmpty && onlyWant.isEmpty,
      s"only in fixture: ${onlyGot.take(3)}; only in reference: ${onlyWant.take(3)}")
  }

  private def suffixed(i: Int) =
    (if (i == 0) col("text") else regexp_replace(col("text"), "(?i)([a-z0-9]+)", s"$$1q$i")).as("text")

  test("documents, with and without carried columns, and narrow documents") {
    assumeTestdata(sf001)
    val docs = Tables.documents(spark, sf001)
    val plain = docs.select(col("doc_id"), col("text"))
    assertSameRows(ScaleProbe.explodeDocs(plain, K),
      unionOf(i => plain.select((col("doc_id") + i * Block).as("doc_id"), suffixed(i))))
    val withSource = docs.select(col("doc_id"), col("source"), col("text"))
    assertSameRows(ScaleProbe.explodeDocs(withSource, K, carry = Seq("source")),
      unionOf(i => withSource.select((col("doc_id") + i * Block).as("doc_id"), col("source"), suffixed(i))))
    assertSameRows(ScaleProbe.explodeDocsNarrow(docs, K, 8, carry = Seq("source", "n_chars")),
      unionOf(i => docs.select((col("doc_id") + i * Block).as("doc_id"), col("source"), col("n_chars"))))
  }

  test("events, orders and lineitem") {
    assumeTestdata(sf001)
    val events = Tables.events(spark, sf001)
    assertSameRows(ScaleProbe.explodeEvents(events, K, 8),
      unionOf(i => events
        .withColumn("user_id", col("user_id") + i * 100000000L)
        .withColumn("event_id", col("event_id") + i * 1000000000L)))
    val orders = Tables.orders(spark, sf001)
    assertSameRows(ScaleProbe.explodeOrders(orders, K, 8),
      unionOf(i => orders.select((col("o_orderkey") + i * 1000000000L).as("o_orderkey"), col("o_orderdate"))))
    val lineitem = Tables.lineitem(spark, sf001)
    assertSameRows(ScaleProbe.explodeLineitem(lineitem, K, 8),
      unionOf(i => lineitem.select((col("l_orderkey") + i * 1000000000L).as("l_orderkey"),
        col("l_extendedprice"), col("l_discount"))))
  }

  test("embeddings and the triangle edge set") {
    assumeTestdata(sf001)
    val emb = Tables.embeddings(spark, sf001)
    assertSameRows(ScaleProbe.explodeEmbeddings(emb, K),
      unionOf(i => emb.select((col("vec_id") + i * 100000000L).as("vec_id"), col("label"),
        (if (i == 0) col("embedding")
         else concat(slice(col("embedding"), i + 1, 1 << 20), slice(col("embedding"), 1, i))).as("embedding"))))
    val edges = graft.graphs.Triangles.canonicalEdges(Tables.events(spark, sf001))
    assertSameRows(ScaleProbe.explodeEdges(Tables.events(spark, sf001), K),
      unionOf(i => edges.select((col("a") + i * Block).as("a"), (col("b") + i * Block).as("b"))))
  }

  test("a fixture is one plan branch at every factor") {
    assumeTestdata(sf001)
    val docs = Tables.documents(spark, sf001).select(col("doc_id"), col("text"))
    for (k <- Seq(1, 8, 32)) {
      val plan = ScaleProbe.explodeDocs(docs, k).queryExecution.optimizedPlan
      assert(plan.collect { case u: Union => u }.isEmpty, s"x$k fixture plan has a union:\n$plan")
    }
  }

  test("the id guard rejects a base id at or above its block") {
    val one = spark.range(1)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "docs" -> (() => ScaleProbe.explodeDocs(
        one.select(lit(Block).as("doc_id"), lit("a b").as("text")), K)),
      "events" -> (() => ScaleProbe.explodeEvents(
        one.select(lit(1L).as("user_id"), lit(10 * Block).as("event_id")), K, 8)),
      "orders" -> (() => ScaleProbe.explodeOrders(
        one.select(lit(1000000000L).as("o_orderkey"), current_date().as("o_orderdate")), K, 8)))
    cases.foreach { case (what, build) =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains("shift block"), s"$what: ${e.getMessage}")
    }
    // one below the block passes
    assert(ScaleProbe.explodeDocs(
      one.select(lit(Block - 1).as("doc_id"), lit("a b").as("text")), K).count() === K)
  }
}
