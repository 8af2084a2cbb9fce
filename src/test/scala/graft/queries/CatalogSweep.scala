package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Window

import graft.{SparkEntry, SparkSpec}

/** The one whole-catalog pass shared by the three catalog-wide specs
  * ([[SchemaContractSpec]], [[GlobalWindowTripwireSpec]],
  * [[LayoutInvarianceSpec]]): each declared query is built ONCE at
  * sf0.001, analyzed (its schema), its optimized plan walked for
  * partition-less windows, and its result fingerprinted — then built
  * again over a `repartition(7)` copy of the fixture and fingerprinted
  * there. Each spec asserts its own contract over these rows; the pass
  * runs on first use and is shared by every suite in the test JVM.
  *
  * Every step's failure is recorded per query rather than thrown, so the
  * schema contract can still report ALL failing queries at once.
  */
object CatalogSweep {

  /** One query's observations. A `Left` holds the failure message of the
    * step, or of the build it depended on.
    */
  final case class Row(
      name: String,
      analysis: Either[String, Unit],
      globalWindow: Either[String, Boolean],
      pristine: Either[String, String],
      repartitioned: Either[String, String])

  lazy val rows: Seq[Row] = {
    val spark = SparkSpec.session
    val sf001 = s"${SparkSpec.testdataRoot}/sf0.001"
    val alt = altLayoutDir(spark, sf001)
    SparkEntry.all.sortBy(_.name).map { q =>
      val built = attempt(q.build(spark, sf001))
      // Forcing .schema runs full analysis (resolution + type checking)
      val analysis = built.flatMap(df => attempt { df.schema; () })
      val globalWindow = built.flatMap(df => attempt(
        df.queryExecution.optimizedPlan
          .collect { case w: Window if w.partitionSpec.isEmpty => w }.nonEmpty))
      val pristine = built.flatMap(df => attempt(fingerprint(df)))
      spark.catalog.clearCache()
      val repartitioned = attempt(fingerprint(q.build(spark, alt)))
      spark.catalog.clearCache()
      Row(q.name, analysis, globalWindow, pristine, repartitioned)
    }
  }

  private def attempt[T](body: => T): Either[String, T] =
    try Right(body)
    catch { case e: Throwable => Left(Option(e.getMessage).getOrElse(e.getClass.getName)) }

  /** Canonical multiset fingerprint of a query result: every row
    * rendered field-by-field (floats rounded to 6 dp — the oracle gate's
    * own tolerance — so aggregation-order ulps don't read as layout
    * sensitivity), sorted, digested.
    */
  private[graft] def fingerprint(df: DataFrame): String = {
    val rows = df.collect().map { r =>
      (0 until r.length).map { i =>
        r.get(i) match {
          case null => "<null>"
          case d: Double => f"$d%.6f"
          case f: Float => f"${f.toDouble}%.6f"
          case d: java.math.BigDecimal => d.setScale(6, java.math.RoundingMode.HALF_UP).toPlainString
          case s: Seq[_] => s.mkString("[", ",", "]")
          case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
          case v => v.toString
        }
      }.mkString("")
    }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** One-time repartition(7) rewrite of the sf0.001 fixture under the JVM
    * tmpdir, keyed on the source fixture's content digest so a testdata
    * regeneration rebuilds the copy instead of comparing against a stale
    * layout.
    */
  private def altLayoutDir(spark: SparkSession, sf001: String): String = {
    val tables = Seq("documents", "events", "lineitem", "orders", "customer",
      "supplier", "part", "nation", "region", "embeddings")
    val digest = Tables.contentDigest(tables.map(t => Tables.path(sf001, t)): _*)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_layout7_$digest"
    val marker = new java.io.File(s"$dir/_ALL_TABLES_OK")
    if (!marker.exists()) {
      tables.foreach { t =>
        spark.read.parquet(Tables.path(sf001, t))
          .repartition(7)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      marker.createNewFile()
    }
    dir
  }
}
