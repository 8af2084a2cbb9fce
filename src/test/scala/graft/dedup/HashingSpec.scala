package graft.dedup

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class HashingSpec extends SparkSpec {

  test("driver-side hash60(String) equals the Column hash60 on ASCII, non-ASCII and empty strings") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val ascii = (0 until 200).map(_ => (0 until rng.nextInt(40)).map(_ => (32 + rng.nextInt(95)).toChar).mkString)
    // BMP letters, accents, CJK and a surrogate pair: multi-byte UTF-8
    val alphabet = "aé中😀Ωß\u0000\u000b".codePoints().toArray
    val nonAscii = (0 until 200).map { _ =>
      val cps = Array.fill(1 + rng.nextInt(20))(alphabet(rng.nextInt(alphabet.length)))
      new String(cps, 0, cps.length)
    }
    val inputs = (ascii ++ nonAscii :+ "").distinct
    val got = inputs.toDF("s").select(col("s"), Hashing.hash60(col("s")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == inputs.size)
    inputs.foreach(s => assert(Hashing.hash60(s) == got(s), s"hash60 drift on '$s'"))
  }
}
