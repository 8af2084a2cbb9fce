package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each selected query's result ([[SparkEntry.all]]
  * by default) → parquet, plus its oracle SQL in oracle_sql.json, for the
  * DuckDB compare (`tools/check_oracle.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names restrict the
    // dump to those queries (local iteration); the driver passes only two.
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    val selected = if (only.isEmpty) SparkEntry.all else only.toSeq.map(SparkEntry.query)
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failing query must leave a TRACE, not a hole: in round 11 two broken
    // families simply vanished from the driver's CORRECTNESS record because
    // their parquet dirs were never written, and the round read as fully
    // green (ADVICE r11). Now every failure is collected, dumped to
    // verify_errors.json beside the outputs, echoed in one summary line,
    // and the process exits non-zero so the round record can't look clean.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case Query(name, build, _) =>
      try build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg.take(500)
        System.err.println(s"[verify] $name failed: $msg")
      }
      finally spark.catalog.clearCache() // release per-query persist()s
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the selected queries' oracles only: tools/check_oracle.py fails on
    // any oracle key without an output dir
    val json = selected
      .collect { case Query(name, _, Sql(sql)) => s"${q(name)}: ${q(sql)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size}/${selected.size} queries FAILED: " +
          errors.keys.mkString(", "))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
