package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}

import graft.sampling.SampleKeep

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * All engine queries read these via plain parquet scans so Catalyst's
  * column pruning / predicate pushdown reach the file footers — at 100 TB a
  * scan that doesn't prune is the whole ballgame, so nothing here caches or
  * materializes eagerly.
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  // Session-scoped scan-plan memo (guide §6 file listing / r18): every
  // `spark.read.parquet` builds a fresh InMemoryFileIndex and re-reads a
  // footer for schema inference — ~30-60 ms of driver metadata work PLUS a
  // one-task schema job per call, paid by EVERY query build on EVERY bench
  // trial (225 queries × 4 runs ≈ half a minute of pure re-listing at
  // sf0.1; at 100 TB a large table's listing is minutes, which is why
  // warehouses cache file indexes for catalog tables). Memoizing the
  // DataFrame per (session, path) gives every consumer the SAME immutable
  // LogicalRelation: one listing + one schema read per session. This
  // caches METADATA only — every action still scans the parquet data
  // (nothing survives `clearCache()`, because nothing is entered in the
  // CacheManager). Granularity is session-lifetime like [[floorDecisions]]:
  // inputs are immutable per run (TESTDATA.md); a path rewritten in-place
  // mid-session would serve a stale file list — batch contract, documented.
  // A stopped session's entries are dropped (see [[graft.SessionMemo]]).
  private[graft] val readCache = new graft.SessionMemo[String, DataFrame](256)

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    readCache.getOrElseUpdate(spark, path(dir, name))(spark.read.parquet(path(dir, name)))

  /** Parallelism floor for CPU-heavy NARROW pipelines. A parquet split can
    * never be finer than a row group, so a single-row-group file arrives as
    * ONE scan task and serializes every narrow transformation above it (at
    * test scale: the whole CLF synthesize+parse, gram hashing, shingling of
    * the corpus on one core). When the input has fewer partitions than half
    * the session's default parallelism, round-robin repartition up to it.
    *
    * Applied at OPERATOR ENTRY — not in the table loaders — and therefore
    * ABOVE any sampling filter the caller composed: sample-then-parallelize,
    * so the exchange carries only surviving rows and a seeded `rand(seed)<p`
    * keep filter still runs in the scan stage. At production scale a big table
    * arrives as thousands of splits and this is a no-op.
    */
  def parallelismFloor(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (inputDeficient(df, target)) df.repartition(target) else df
  }

  // Deciding the floor needs the scan's partition count, which costs a full
  // physical planning pass (`queryExecution.toRdd`: it plans but neither
  // runs the final stage nor posts a SQL execution, so no
  // QueryExecutionListener sees a plan that never ran); memoized on the
  // canonicalized logical plan so each distinct source shape pays it once
  // per session. A sample's tally is left out of the key (its node is keyed
  // as a filter on the same predicate): it does not change partitioning,
  // and every Sampled carries its own, which would otherwise make each
  // sampled run a miss.
  // Granularity is session-lifetime: a source that GROWS 16×+ while the
  // session lives keeps its original verdict until restart — acceptable
  // for batch jobs (sources are immutable per run); a long-lived service
  // over mutating tables should size inputs at ingest instead.
  private[graft] val floorDecisions = new graft.SessionMemo[(LogicalPlan, Int), Boolean](1024)

  private[graft] def floorKey(df: DataFrame, target: Int): (LogicalPlan, Int) =
    (df.queryExecution.logical.transform { case k: SampleKeep => Filter(k.cond, k.child) }.canonicalized, target)

  private[graft] def inputDeficient(df: DataFrame, target: Int): Boolean =
    floorDecisions.getOrElseUpdate(df.sparkSession, floorKey(df, target))(
      df.queryExecution.toRdd.getNumPartitions < math.max(2, target / 2))

  /** 12-hex digest of `paths` AND the (relative name, length, mtime) of
    * every file under them — the cache key for derived artifacts (bucketed
    * catalog tables, saved ANN indexes, rendered source fixtures). Keying
    * on the path alone silently reuses a stale artifact when the data at
    * that path is regenerated in place (ADVICE r5); folding the file
    * listing in makes any rewrite produce a new key. Driver-side metadata
    * IO only — one recursive listing per artifact ensure, never file
    * contents.
    */
  def contentDigest(paths: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(f: java.io.File, rel: String): Unit = {
      md.update(s"$rel|${f.length}|${f.lastModified}\n".getBytes("UTF-8"))
      if (f.isDirectory)
        f.listFiles().sortBy(_.getName).foreach(c => walk(c, s"$rel/${c.getName}"))
    }
    paths.foreach { p =>
      md.update(p.getBytes("UTF-8"))
      val f = new java.io.File(p)
      if (f.exists()) walk(f, f.getName)
    }
    md.digest().map("%02x".format(_)).mkString.take(12)
  }

  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")

  /** `events.ts` normalized to session-zoned TimestampType regardless of
    * how the driver generated the parquet — the physical type has already
    * changed once between rounds (TIMESTAMP(NANOS) through r10,
    * TIMESTAMP(MICROS)/no-tz from r11), and downstream operators do integer
    * epoch arithmetic via `unix_micros`, which rejects TIMESTAMP_NTZ
    * outright (ADVICE r11: events_asof/events_sessions regressed on the
    * regeneration). Three generations handled:
    *   - TIMESTAMP(NANOS): Spark 4 refuses it natively
    *     (PARQUET_TYPE_ILLEGAL); read as raw nanos via the legacy conf and
    *     convert with integer division (`DIV`, not `/`: epoch-nanos ~1.7e18
    *     overflow double's 2^53 mantissa, and a microsecond of drift would
    *     break oracle parity).
    *   - TIMESTAMP(MICROS) without isAdjustedToUTC: Spark reads
    *     TIMESTAMP_NTZ; cast to TimestampType under the harness-pinned UTC
    *     session timezone, which reinterprets the naive wall time as UTC —
    *     exactly what DuckDB's `epoch_us` does on the same file, so oracle
    *     parity is preserved instant-for-instant.
    *   - TIMESTAMP(MICROS) adjusted to UTC: already TimestampType, no-op.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // The nanosAsLong conf itself is set once at session build (Verify/Bench
    // builders and the test harness) — mutating session conf per table load
    // is unsafe under concurrent queries (VERDICT r1 §wrong 6). The check
    // here only guards against a session that forgot it.
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  /** The events money convention — `value` in exact integer cents, the
    * fixed-point projection every events oracle replays. One Column
    * spelling and one SQL twin ([[centsSql]]), changed in lockstep (the
    * [[graft.dedup.Hashing.hash60]]/`hash60Sql` paired-expression
    * pattern); before this helper the pair was hand-copied at 10+ sites.
    */
  def cents: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, round}
    round(col("value") * 100).cast("long")
  }

  /** DuckDB twin of [[cents]]. */
  val centsSql: String = "CAST(round(value * 100) AS BIGINT)"

  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
}
