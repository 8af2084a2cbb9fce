package graft.tools


/** Plan-audit helper: print the formatted physical plan of the named
  * declared queries (all of them when none are named) — the `.explain`
  * loop the build discipline calls for after each operator lands.
  * Usage: runMain graft.tools.ExplainQueries <sfDir> [queryName...]
  */
object ExplainQueries {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val queries =
      if (args.length > 1) args.drop(1).toSeq.map(graft.SparkEntry.query)
      else graft.SparkEntry.all.sortBy(_.name)
    val spark = graft.GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    queries.foreach { q =>
      println(s"===== ${q.name} =====")
      q.build(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
