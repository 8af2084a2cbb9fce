package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Hashing

/** The native `hash60` kernel must equal the built-in spelling it
  * replaces — `conv(substring(md5(x), 1, 15), 16, 10).cast("long")`, the
  * one the DuckDB oracle text mirrors — on string and binary input, under
  * generated code and under interpreted evaluation, inside a higher-order
  * `transform` lambda, and against the driver-side twin.
  */
class Hash60Spec extends SparkSpec {
  import spark.implicits._

  private def builtin(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private val inputs: Seq[String] = {
    val rng = new scala.util.Random(23)
    val ascii = (0 until 300).map(_ => (0 until rng.nextInt(60)).map(_ => (32 + rng.nextInt(95)).toChar).mkString)
    // the HashingSpec alphabet: accents, CJK, a surrogate pair, NUL and VT
    val alphabet = "aé中😀Ωß\u0000\u000b".codePoints().toArray
    val nonAscii = (0 until 300).map { _ =>
      val cps = Array.fill(1 + rng.nextInt(20))(alphabet(rng.nextInt(alphabet.length)))
      new String(cps, 0, cps.length)
    }
    (ascii ++ nonAscii :+ "").distinct
  }

  // (i, s) rows plus one null s; repartitioned so the optimizer cannot fold
  // the projection into a local relation and evaluation happens in tasks
  private def frame: DataFrame =
    (inputs.zipWithIndex.map { case (s, i) => (i, Option(s)) } :+ ((inputs.size, None: Option[String])))
      .toDF("i", "s").repartition(3)

  private def inMode[T](mode: String)(body: => T): T =
    withConf("spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString)(body)

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
    test(s"$mode: equals the built-in md5 spelling on string, binary and null input") {
      inMode(mode) {
        val rows = frame.select(
          col("i"),
          Hashing.hash60(col("s")).as("k"), builtin(col("s")).as("b"),
          Hashing.hash60(col("s").cast("binary")).as("kb"), builtin(col("s").cast("binary")).as("bb"))
          .collect()
        assert(rows.length == inputs.size + 1)
        rows.foreach { r =>
          assert(r.get(1) == r.get(2) && r.get(3) == r.get(4), s"hash60 drift on row ${r.getInt(0)}")
          if (r.getInt(0) < inputs.size) assert(r.getLong(1) == Hashing.hash60(inputs(r.getInt(0))))
          else assert(r.isNullAt(1) && r.isNullAt(3))
        }
      }
    }

    test(s"$mode: equals the built-in spelling inside a transform lambda") {
      inMode(mode) {
        val arrays = frame.groupBy(col("i") % 7).agg(collect_list(col("s")).as("a"))
        val diff = arrays.select(
          transform(col("a"), s => Hashing.hash60(s)).as("k"),
          transform(col("a"), s => builtin(s)).as("b"))
          .filter(not(col("k") <=> col("b")))
        assert(arrays.count() == 7 && diff.isEmpty)
      }
    }
  }

  test("generated code carries the kernel, not the md5 string chain") {
    val df = frame.select(Hashing.hash60(col("s")).as("k"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hash60(") && !plan.contains("md5"), plan.take(2000))
  }

  test("a type other than string or binary is rejected at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(Hashing.hash60(col("id"))).collect())
    assert(e.getMessage.contains("hash60 requires a string or binary input"), e.getMessage)
  }
}
