package graft

import org.apache.spark.sql.SparkSession

/** The ONE spelling of the engine's standard local SparkSession config —
  * previously hand-copied across eleven mains/harnesses (Bench, Verify,
  * Main, RatioLadder, the tools, SparkSpec), the same keep-in-lockstep
  * hazard the SavedArtifact review finding removed for artifact publish.
  * Callers chain further `.appName`/`.config` before `.getOrCreate()`.
  *
  * Why each setting (history in the round ledgers):
  *  - GraftExtensions: the engine's Catalyst rules/strategies
  *    (SamplePushdown et al.) must be present in EVERY entry point, or a
  *    harness measures different plans than the driver runs.
  *  - shuffle.partitions: sized by the caller (the core count for every
  *    main, see [[local]]) — never Spark's default 200 on a few cores.
  *  - UTC session timezone: the oracle (DuckDB) computes date_trunc in
  *    UTC; a host-zone session diverges on every timestamp column.
  *  - bypassMergeThreshold=1: always the serialized sort shuffle writer —
  *    bypass-merge opens and merges R files PER MAP TASK, a syscall storm
  *    at small R that measured 6x the CPU of the aggregation it served;
  *    at real scale R > 200 disables bypass anyway, so this makes local
  *    behavior match the cluster path (one file + index per map task).
  *  - ICU case mappings off: lower() via ICU full case mapping was the
  *    hottest sampled frame across the text family; every tokenizer here
  *    discards non-[a-z0-9] right after lowercasing, so the mappings
  *    agree wherever the engine looks, and ASCII corpora take
  *    UTF8String's vectorized fast path only with ICU off.
  *  - nanosAsLong: the driver has regenerated events.ts as
  *    TIMESTAMP(NANOS) in past rounds — keep reading either generation.
  *  - codegen cache of 4096 classes: Spark's default LRU of 100 generated
  *    classes is smaller than one pass over the AQP benchmark's catalog
  *    mix (158 classes) or over the declared catalog (2,681 classes at
  *    sf0.001), so it evicted every class before its reuse and Janino
  *    recompiled each plan on every pass. 4096 holds the catalog's working
  *    set with headroom; a resident class costs metaspace, not heap. The
  *    cache is JVM-global: `CodeGenerator` builds it once, sized from the
  *    first session that generates code, and every entry point builds that
  *    session here. A later session's value is ignored.
  *  - broadcast pieces of 512 KB: TorrentBroadcast writes every broadcast,
  *    each stage's task binary included, through heap chunks of
  *    `spark.broadcast.blockSize`. At the 4 MB default each chunk is a G1
  *    humongous allocation (half a region or more: 1 MB at 2 MB regions),
  *    and these piled up between young collections as the largest
  *    humongous allocator of the benchmark's catalog runs (JFR allocation
  *    profile); with the compile churn gone the collections came later and
  *    the heap peak rose. 512 KB chunks are ordinary eden objects. Safe at
  *    cluster scale: a piece is the unit executors fetch from the driver
  *    and from each other, so a broadcast has 8x as many pieces (a 64 MB
  *    one, the AQE broadcast threshold below, has 128 instead of 16). Each
  *    piece costs one block-manager entry and one fetch, small beside
  *    512 KB of payload, and more pieces give an executor more peers to
  *    fetch from in parallel.
  *  - UI off: headless harness processes.
  */
object GraftSession {

  private val CpusVar = "SPARK_GRAFT_CPUS"

  /** The core count of every main: `SPARK_GRAFT_CPUS`, or the host's
    * available processors when it is unset. */
  def cpus(): Int = parseCpus(sys.env.get(CpusVar))

  /** [[cpus]]' rule over the variable's value; a non-integer or
    * non-positive value fails with a message naming the variable. */
  def parseCpus(value: Option[String]): Int = value match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$CpusVar must be a positive integer, got '$v'"))
  }

  /** [[builder]] for `local[n]` with `n` shuffle partitions — the session
    * of every main, at `n` = [[cpus]] unless the caller passes it. */
  def local(n: Int = cpus()): SparkSession.Builder = builder(s"local[$n]", n.toString)

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE broadcast threshold (r18, guide §3.1): AQE decides from
      // MEASURED post-shuffle sizes, so raising it is safe where the
      // static 10 MB estimate-based default must be conservative. 64 MB
      // is far under any batch executor's memory at production scale
      // (guide: "a few hundred MB is usually fine") and fixes a measured
      // plan flip — the substring position⋈dup-set join broadcast-probes
      // standalone (dup side ~11 MB) but fell to a both-sides shuffle
      // join inside the composed training-shard pipeline (dup side
      // ~19 MB), tripling that stage's CPU. Static threshold untouched.
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.broadcast.blockSize", "512k")
      .config("spark.ui.enabled", "false")
}
