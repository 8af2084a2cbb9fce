package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.compare.ResultComparator
import graft.queries.{ReferenceQueries => RQ, Tables}
import graft.sampling.{Sampled, SamplingConfig}
import graft.sinks.{ReportSink, TextKVSink}

/** Source/sink contracts: XML and text ingestion round-trips, the K1
  * key-sorted tab-separated sink, and the K2 report sink.
  */
class SourcesSinksSpec extends SparkSpec {

  test("XML source round-trips every document through <page> records") {
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
    val pages = XmlSource.readPages(spark, XmlSource.fixturePath(spark, sf001))
    assert(pages.count() === docs.count())
    // content identical after the round trip
    val diff = docs.join(pages, Seq("doc_id"))
      .filter(docs("text") =!= pages("text"))
    assert(diff.count() === 0)
  }

  test("XML escaping survives special characters") {
    import spark.implicits._
    val tricky = Seq((1L, "a < b && c > d")).toDF("doc_id", "text")
    val xml = XmlSource.toPageXml(tricky).head().getString(0)
    assert(xml.contains("&lt;") && xml.contains("&amp;") && xml.contains("&gt;"))
    assert(!xml.replaceAll("</?page>|</?id>|</?text>", "").contains("<"))
  }

  test("XML presample (exact mode) equals the post-parse reader row for row") {
    val path = XmlSource.fixturePath(spark, sf001)
    val parsed = XmlSource.readPages(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val pre = XmlSource.readPagesPresampled(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(pre === parsed)
  }

  test("XML presample at 10% equals post-parse reader filtered by the same keep predicate") {
    val path = XmlSource.fixturePath(spark, sf001)
    val expected = XmlSource.readPages(spark, path)
      .filter(graft.sampling.UniverseSampled.keep(col("doc_id"), 10))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val pre = XmlSource.readPagesPresampled(spark, path, Some(10))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(pre.nonEmpty && pre === expected)
  }

  test("XML presample plan parses BELOW the sample: from_xml sits above the keep filter") {
    val path = XmlSource.fixturePath(spark, sf001)
    val plan = XmlSource.readPagesPresampled(spark, path, Some(10))
      .queryExecution.optimizedPlan.toString
    val parseAt = plan.indexOf("from_xml")
    val filterAt = plan.indexOf("Filter")
    assert(parseAt >= 0 && filterAt >= 0)
    // toString prints top-down: the from_xml Project must appear ABOVE the
    // Filter carrying the hash-range keep predicate — i.e. rejected spans
    // are never parsed, the reference's skip-before-parse semantics
    assert(parseAt < filterAt, plan.take(2000))
    assert(plan.substring(filterAt).contains("hash60"), plan.take(2000))
  }

  test("text source yields one line per document") {
    val lines = TextLines.readLines(spark, TextLines.fixturePath(spark, sf001))
    assert(lines.count() === Tables.documents(spark, sf001).count())
    assert(lines.columns.toSeq === Seq("value"))
  }

  test("sampling composes over the text source like the reference's sampled reader") {
    val lines = TextLines.readLines(spark, TextLines.fixturePath(spark, sf001))
    val s = Sampled(lines, SamplingConfig(ratio = 0.2))
    assert(s.sampledCount > 0 && s.sampledCount < s.totalCount)
    assert(math.abs(s.actualRatio - 0.2) < 0.1)
  }

  test("K1 sink: key-sorted key\\tvalue lines, round-trip equals the aggregate") {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_k1_test"
    val wc = RQ.wordCount(Tables.documents(spark, sf001))
    TextKVSink.write(wc, "word", "cnt", out)
    val back = TextKVSink.read(spark, out)
    // sortedness contract: file order is key order
    val keys = spark.read.text(out).collect().map(_.getString(0).split("\t")(0))
    assert(keys.sameElements(keys.sorted))
    // round-trip: values survive exactly (ResultComparator sees zero error)
    val backTyped = back.select(col("key").as("word"), col("value").cast("long").as("est_cnt"))
    val err = ResultComparator.dataErrorRate(wc, backTyped, Seq("word"))
    assert(err === 0.0)
  }

  test("K1 sink: a NULL value (no-tab line) reads back as value = NULL, not an ANSI error") {
    import spark.implicits._
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_k1_null_test"
    // concat_ws skips NULLs, so the "b" row is written as a tab-less line;
    // under ANSI mode element_at(arr, 2) on the resulting 1-element split
    // THROWS — read() must use the null-safe form (ADVICE r14).
    val df = Seq(("a", Some("1")), ("b", None), ("c", Some("3")))
      .toDF("key", "value")
    TextKVSink.write(df, "key", "value", out)
    val back = TextKVSink.read(spark, out).orderBy("key").collect()
    assert(back.map(_.getString(0)).toSeq === Seq("a", "b", "c"))
    assert(back.map(r => Option(r.getString(1))).toSeq ===
      Seq(Some("1"), None, Some("3")))
  }

  test("compressed text ingestion: gzip lines read transparently (S2's codec support)") {
    import java.util.zip.GZIPOutputStream
    val dir = new java.io.File(s"${System.getProperty("java.io.tmpdir")}/graft_gz_test")
    dir.mkdirs()
    val f = new java.io.File(dir, "lines.txt.gz")
    val out = new java.io.PrintWriter(new GZIPOutputStream(new java.io.FileOutputStream(f)))
    try (1 to 100).foreach(i => out.println(s"line number $i"))
    finally out.close()
    val lines = TextLines.readLines(spark, dir.getAbsolutePath)
    assert(lines.count() === 100)
    // the sampled pipeline composes over the compressed source too
    val s = Sampled(lines, SamplingConfig(ratio = 0.3))
    assert(s.totalCount === 100 && s.sampledCount > 0 && s.sampledCount < 100)
  }

  test("K2 report sink: stdout format + JSON persistence") {
    val docs = Tables.documents(spark, sf001)
    val s = Sampled(docs, SamplingConfig(ratio = 0.5))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_report_test.json"
    ReportSink.emit(s.report(), path)
    val json = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    assert(json.contains("\"designedRate\":0.5"))
    assert(json.contains("\"total\":" + s.totalCount))
  }
}
