package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The one-match multi-group kernel must be value-identical to the N
  * independent `regexp_extract` calls it replaced (per group, on matching
  * rows), yield an EMPTY array on non-matching rows (the caller's
  * size-based malformed filter), return "" for null groups, and propagate
  * a null input. A bad regex or group list fails analysis, naming the
  * argument, before any row is read.
  */
class RegexGroupsSpec extends SparkSpec {
  import spark.implicits._

  private val Clf = graft.sources.AccessLog.ClfRegex

  test("equals the regexp_extract spelling group-for-group on CLF lines") {
    val lines = Seq(
      """h7.example.com - - [01/Feb/2031:10:00:00 +0000] "GET /a/item1?q=2 HTTP/1.1" 200 1234""",
      """h9.example.com - - [02/Feb/2031:11:30:00 +0000] "GET /w00tw00t/x HTTP/1.1" 404 77""",
      "corrupt 1234",
      "").toDF("line")
    val both = lines.select(
      RegexGroups.regexGroups(col("line"), Clf, Seq(1, 4, 5, 6, 7)).as("k"),
      array(Seq(1, 4, 5, 6, 7).map(g => regexp_extract(col("line"), Clf, g)): _*).as("e"))
      .collect()
    both.foreach { r =>
      val k = r.getSeq[String](0)
      val e = r.getSeq[String](1)
      if (k.nonEmpty) assert(k === e)       // matched: identical groups
      else assert(e.forall(_ == ""))        // unmatched: old spelling was all-""
    }
    assert(both.count(_.getSeq[String](0).nonEmpty) === 2)
  }

  test("null group yields empty string; null input propagates; codegen path") {
    val df = Seq(Some("ab"), Some("zz"), None).toDF("s")
    val out = df.select(
      RegexGroups.regexGroups(col("s"), "a(b)?(c)?", Seq(1, 2)).as("k")).collect()
    assert(out(0).getSeq[String](0) === Seq("b", "")) // group 2 unmatched -> ""
    assert(out(1).getSeq[String](0) === Seq())        // no match -> empty array
    assert(out(2).isNullAt(0))                        // null in -> null out
  }

  test("find semantics match regexp_extract (unanchored substring match)") {
    val df = Seq("xx key=42 yy").toDF("s")
    val out = df.select(
      RegexGroups.regexGroups(col("s"), "key=([0-9]+)", Seq(1)).as("k"),
      regexp_extract(col("s"), "key=([0-9]+)", 1).as("e")).head()
    assert(out.getSeq[String](0) === Seq(out.getString(1)))
  }

  /** The analysis error of `regex_groups(s, regex, groups)`, called by
    * name so a raw group-list string reaches the analyzer unparsed. */
  private def analysisError(regex: String, groups: String): String = {
    val df = Seq("ab").toDF("s")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("regex_groups", col("s"), lit(regex), lit(groups))).schema
    }.getMessage
  }

  test("a group index past groupCount fails at analysis, naming the index") {
    val msg = analysisError("a(b)", "1,2")
    assert(msg.contains("group index 2 is outside 0..1"), msg)
  }

  test("a non-integer group list entry fails at analysis, naming the entry") {
    val msg = analysisError("a(b)", "1,x")
    assert(msg.contains("group list entry 'x' is not an integer"), msg)
  }

  test("an invalid regex fails at analysis, naming the regex") {
    val msg = analysisError("a(b", "1")
    assert(msg.contains("invalid regex 'a(b'"), msg)
  }
}
