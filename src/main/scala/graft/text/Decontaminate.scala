package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Hashing

/** Benchmark decontamination: drop every training document that shares an
  * 8-word n-gram with the benchmark (eval) set — the standard guard against
  * test-set leakage into a training corpus.
  *
  * Scale design (100 TB): benchmark suites are tiny (MBs of text) next to
  * the corpus, so the benchmark's distinct gram-hash set is BROADCAST and
  * the corpus-side probe is a map-side semi-join — the corpus is scanned
  * ONCE, shuffles nothing for the probe, and only the matched doc_ids
  * (a doc_id-only table, orders of magnitude smaller than the corpus)
  * reach the final anti-join. Grams travel as 60-bit md5 hashes
  * ([[Hashing.hash60]]), never as text.
  *
  * The benchmark set here is carved deterministically out of the documents
  * table (`doc_id % benchEvery = 0`) so the oracle can reproduce it; a real
  * pipeline would pass an external eval corpus as `bench`.
  */
object Decontaminate {

  /** 8-gram overlap is the common contamination test (docs shorter than 8
    * words produce no grams and are never flagged).
    */
  val GramK = 8

  /** Every 50th doc_id plays the benchmark role at test scale. */
  val BenchEvery = 50L

  /** The surviving (clean) training documents: non-benchmark docs sharing
    * no `k`-gram with the benchmark slice. Output: doc_id, n_chars.
    */
  def clean(docs: DataFrame, benchEvery: Long = BenchEvery, k: Int = GramK): DataFrame = {
    val bench = docs.filter(col("doc_id") % benchEvery === 0)
    val corpus = docs.filter(col("doc_id") % benchEvery =!= 0)
    val benchGrams = Hashing.explodeShingles(bench, k)
      .select(Hashing.hash60(col("shingle")).as("g"))
      .distinct()
    val contaminated = Hashing.explodeShingles(corpus, k)
      .select(col("doc_id"), Hashing.hash60(col("shingle")).as("g"))
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select("doc_id")
      .distinct()
    corpus
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
  }

  /** Bloom bits-per-key budget: `m = 2^mLog ≥ BitsPerKey·n` with
    * [[BloomJ]] = 7 probes gives a false-positive rate ≈ 7·10⁻⁴ —
    * comfortably below any decontamination over-drop budget.
    */
  val BitsPerKey = 16L
  val BloomJ = 7

  /** Bloom table width floor/cap (log2 bits). The cap (2^30 bits =
    * 128 MB) carries ~67 M benchmark grams at [[BitsPerKey]] — an order
    * beyond any real eval-suite union; past it, raise the cap or shard
    * the benchmark set.
    */
  val MinMLog = 10
  val MaxMLog = 30

  /** In-plan Bloom width derivation (the
    * [[graft.similarity.PlaneBudget]] discipline): smallest `mLog` in
    * `[MinMLog, MaxMLog]` with `2^mLog ≥ BitsPerKey·n`, pure integer
    * shift/compare, replayed by [[mLogSql]] over the same live count.
    */
  def mLogFor(n: Long): Int = {
    var m = MinMLog
    while (m < MaxMLog && (1L << m) < BitsPerKey * n) m += 1
    m
  }

  /** DuckDB expression replaying [[mLogFor]] over `countSql`. */
  def mLogSql(countSql: String): String =
    s"""CAST(coalesce((SELECT min(m) FROM range($MinMLog, $MaxMLog) t(m)
       |    WHERE (CAST(1 AS BIGINT) << m) >= $BitsPerKey * ($countSql)), $MaxMLog) AS INT)"""
      .stripMargin

  /** BLOOM-FILTER decontamination — the 100 TB twin of [[clean]]: instead
    * of broadcasting the benchmark's exact distinct gram-hash set (8
    * bytes/gram — ~1 GB at a 10⁸-gram eval-suite union, past comfortable
    * broadcast range), build a `2^mLog`-bit Bloom table over it with the
    * mergeable [[graft.functions.BloomAgg bloom_agg]] aggregate (each map
    * task ships `m/8` bytes, the ONE result row is driver metadata at
    * [[BitsPerKey]]/8 bytes per gram — 16× smaller than the exact set)
    * and probe the corpus map-side with the codegen'd
    * `bloom_might_contain`. False positives DROP CLEAN DOCUMENTS — the
    * conservative direction for decontamination (never keeps a
    * contaminated doc: no false negatives, spec-pinned) at rate
    * ≈ 7·10⁻⁴ per gram. The width is derived in-plan from the live
    * benchmark gram count ([[mLogFor]]) and the whole filter — width
    * derivation, double-hash positions, membership — replays in DuckDB
    * as plain integer arithmetic over a distinct-positions table, so even
    * the false positives hash-match.
    */
  def cleanBloom(docs: DataFrame, benchEvery: Long = BenchEvery, k: Int = GramK): DataFrame = {
    val corpus = docs.filter(col("doc_id") % benchEvery =!= 0)
    val bits = benchBloomBits(docs, benchEvery, k)
    val contaminated = Hashing.explodeShingles(corpus, k)
      .select(col("doc_id"), Hashing.hash60(col("shingle")).as("g"))
      .filter(graft.functions.BloomFilter.mightContain(col("g"), bits, BloomJ))
      .select("doc_id")
      .distinct()
    corpus
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
  }

  /** FUZZY decontamination — the NEAR-DUPLICATE twin of [[clean]] (the
    * GPT-3 Appendix-C / PaLM practice): an exact shared n-gram catches
    * verbatim leakage, but a lightly paraphrased or truncated copy of an
    * eval document slips through with zero literal 8-grams in common —
    * and still leaks the answer. Here a training document is contaminated
    * when it MinHash-NEAR-DUPLICATES a benchmark document
    * ([[graft.dedup.MinHashLSH.nearDupPairs]], Jaccard ≥ 0.5 estimated
    * over 16 signature components), the same banded-LSH machinery the
    * dedup family runs — so this query is pure composition: pair table →
    * keep only pairs CROSSING the bench/train boundary → anti-join the
    * flagged train side out.
    *
    * Contamination is decided by CLUSTER, not by direct pair: a training
    * document is dropped when its near-dup CONNECTED COMPONENT contains
    * any benchmark document. This matters at scale (review finding): the
    * pair family's over-cap star fallback guarantees CONNECTIVITY of a
    * hot bucket, not pairwise completeness — in a >MaxBucket cluster of a
    * benchmark doc, only the min-id representative gets a direct
    * bench-crossing pair, and a direct-pair test would silently keep
    * every other contaminated member. Cluster membership is transitively
    * closed, so the star topology (and any chain of paraphrases
    * bench → copy → copy-of-copy) is caught — also the conservative
    * standard: a doc near-dupping a contaminated doc is contaminated.
    *
    * Input is the AUGMENTED corpus (the dedup fixture convention), where
    * the benchmark slice is the ORIGINALS with `doc_id % benchEvery = 0`
    * — copies always play the training role, so injected copies of
    * benchmark docs are exactly the paraphrased-leak shape this operator
    * exists to catch. The "is an original" test is shift-aware
    * (`id mod 1e8`, the [[graft.tools.ScaleProbe.isBaseSnapshot]]
    * convention) so the bench-slice definition survives the probe's
    * id-block explosion.
    *
    * Scale shape: the probed pair family end-to-end, then the probed CC
    * machinery ([[graft.dedup.DedupClusters.components]]); everything
    * after is id-only (a distinct rep set anti-joined back). The corpus
    * is materialized once for its two consumers (signatures, final
    * projection).
    */
  def cleanFuzzy(corpus: DataFrame, benchEvery: Long = BenchEvery): DataFrame = {
    import graft.dedup.MinHashLSH
    val c = corpus.localCheckpoint(false)
    cleanFuzzyWithPairs(
      c, MinHashLSH.nearDupPairs(MinHashLSH.signatures(c)), benchEvery)
  }

  /** [[cleanFuzzy]] with an injected pair graph (the
    * [[graft.dedup.DedupClusters.cleanedWithPairs]] seam): the decision
    * layer is pair-source-agnostic, and the spec drives it with the exact
    * over-cap star topology the cluster semantics exist for.
    */
  def cleanFuzzyWithPairs(
      corpus: DataFrame, pairs: DataFrame, benchEvery: Long = BenchEvery): DataFrame = {
    import graft.dedup.DedupClusters
    val comps = DedupClusters.components(corpus, pairs) // (doc_id, rep), total
    val badReps = comps.filter(isBenchCol(col("doc_id"), benchEvery))
      .select(col("rep")).distinct()
    comps
      .filter(!isBenchCol(col("doc_id"), benchEvery))
      .join(badReps, Seq("rep"), "left_anti")
      .join(corpus.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars")), Seq("doc_id"))
      .select(col("doc_id"), col("n_chars"))
  }

  /** Shift-aware benchmark predicate (Column / SQL twins): an ORIGINAL
    * (base id mod [[graft.dedup.DedupCorpus.IdBlock]] below the augment
    * offsets) whose BASE id hits the benchEvery stride. The stride is
    * taken on the base id, not the raw id: a raw-id stride only keeps a
    * consistent bench slice across the probe's id blocks when benchEvery
    * divides the block size (true of the default 50, but the parameter is
    * public API — review r15).
    */
  private def isBenchCol(
      id: org.apache.spark.sql.Column, benchEvery: Long): org.apache.spark.sql.Column = {
    val base = id % graft.dedup.DedupCorpus.IdBlock
    base < graft.dedup.DedupCorpus.ExactDupOffset && base % benchEvery === 0
  }
  private def isBenchSql(id: String, benchEvery: Long): String =
    s"(($id % ${graft.dedup.DedupCorpus.IdBlock}) < ${graft.dedup.DedupCorpus.ExactDupOffset} " +
      s"AND ($id % ${graft.dedup.DedupCorpus.IdBlock}) % $benchEvery = 0)"

  /** DuckDB oracle for [[cleanFuzzy]] over the augmented corpus: the
    * shared recursive-reachability clusters, the same shift-aware bench
    * predicate, the same contaminated-rep anti-join.
    */
  def cleanFuzzyOracleSql(benchEvery: Long = BenchEvery): String =
    graft.dedup.DedupClusters.clusterCtes +
      s""",
         |bad AS (SELECT DISTINCT rep FROM dec WHERE ${isBenchSql("doc_id", benchEvery)})
         |SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS n_chars
         |FROM corpus c JOIN dec ON dec.doc_id = c.doc_id
         |WHERE NOT ${isBenchSql("c.doc_id", benchEvery)}
         |  AND dec.rep NOT IN (SELECT rep FROM bad)
         |ORDER BY c.doc_id""".stripMargin

  /** The benchmark slice's Bloom bit table — the STATIC ARTIFACT half of
    * the bloom path (built once by the batch pipeline; `m/8` bytes of
    * driver metadata), shared by [[cleanBloom]] and the streaming twin.
    */
  def benchBloomBits(docs: DataFrame, benchEvery: Long = BenchEvery, k: Int = GramK): Array[Long] = {
    val bench = docs.filter(col("doc_id") % benchEvery === 0)
    val benchGrams = Hashing.explodeShingles(bench, k)
      .select(Hashing.hash60(col("shingle")).as("g"))
      .distinct()
      .localCheckpoint(false) // feeds the count AND the bits build
    val mLog = mLogFor(benchGrams.count())
    benchGrams
      .agg(graft.functions.BloomFilter.bloomAgg(col("g"), mLog, BloomJ).as("bits"))
      .head().getSeq[Long](0).toArray
  }

  /** PER-ROW bloom decontamination over a prebuilt bit table: a document
    * is clean iff NO gram probes positive — spelled as `exists` over the
    * in-row shingle array instead of explode+anti-join, so the whole
    * check is ONE stateless projection+filter. This is the streaming form
    * ([[graft.streaming.StreamingDecontaminate]]): no aggregation, no
    * join, no state — legal in append mode at any trigger. Semantically
    * identical to [[cleanBloom]]'s explode path (same grams, same bloom),
    * which the shared oracle pins through DuckDB.
    */
  def cleanBloomPerRow(corpus: DataFrame, bits: Array[Long], k: Int = GramK): DataFrame =
    corpus
      // coalesce: a NULL text yields a NULL shingle array and exists()
      // returns NULL — the explode path produces no gram rows for such a
      // doc and KEEPS it, so the per-row form must too (filter(NULL)
      // would silently drop it and break the per-row ≡ explode law)
      .filter(coalesce(
        !exists(
          Hashing.shingles(Hashing.words(col("text")), k),
          s => graft.functions.BloomFilter.mightContain(
            Hashing.hash60(s), bits, BloomJ)),
        lit(true)))
      .select(col("doc_id"), col("n_chars"))

  /** DuckDB oracle for [[cleanBloom]]: replays the width derivation
    * (count → [[mLogSql]]), the Kirsch–Mitzenmacher double-hash positions
    * (`h1 = g mod 2^30`, `h2 = 2·(g div 2^30)+1`, `p_i = (h1+i·h2) mod m`)
    * and bit membership — set-of-positions containment over a DISTINCT
    * positions table is exactly bit-table membership, so the Bloom's
    * false positives reproduce bit-for-bit. A corpus gram is flagged iff
    * ALL [[BloomJ]] of its positions are present (`HAVING count(*) = j`:
    * the `i`-rows are distinct, so the join counts qualifying probes even
    * when two probes land on one position).
    */
  def cleanBloomOracleSql(benchEvery: Long = BenchEvery, k: Int = GramK): String = {
    val m = s"(CAST(1 AS BIGINT) << (SELECT ml FROM ml))"
    def pos(g: String, i: String): String =
      s"(($g % 1073741824) + $i * (2 * ($g // 1073741824) + 1)) % $m"
    s"""WITH bench AS (SELECT * FROM documents WHERE doc_id % $benchEvery = 0),
       |corpus AS (SELECT * FROM documents WHERE doc_id % $benchEvery <> 0),
       |bg AS (
       |  SELECT DISTINCT ${Hashing.hash60Sql("shingle")} AS g
       |  FROM (
       |    SELECT unnest([array_to_string(w[i:i+${k - 1}], ' ')
       |                   for i in range(1, len(w) - ${k - 2})]) AS shingle
       |    FROM (SELECT regexp_split_to_array(lower(text), '[^a-z0-9]+') AS w
       |          FROM bench)
       |  )
       |),
       |ml AS (SELECT ${mLogSql("SELECT count(*) FROM bg")} AS ml),
       |bpos AS (
       |  SELECT DISTINCT ${pos("g", "i")} AS p
       |  FROM bg CROSS JOIN range(0, $BloomJ) t(i)
       |),
       |cg AS (
       |  SELECT DISTINCT doc_id, ${Hashing.hash60Sql("shingle")} AS g
       |  FROM (
       |    SELECT doc_id,
       |           unnest([array_to_string(w[i:i+${k - 1}], ' ')
       |                   for i in range(1, len(w) - ${k - 2})]) AS shingle
       |    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS w
       |          FROM corpus)
       |  )
       |),
       |cpos AS (
       |  SELECT doc_id, g, i, ${pos("g", "i")} AS p
       |  FROM cg CROSS JOIN range(0, $BloomJ) t(i)
       |),
       |contaminated AS (
       |  SELECT DISTINCT doc_id
       |  FROM (SELECT doc_id, g FROM cpos JOIN bpos USING (p)
       |        GROUP BY doc_id, g HAVING count(*) = $BloomJ)
       |)
       |SELECT doc_id, n_chars FROM corpus
       |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB oracle for [[clean]] (k = [[GramK]] grams; slice bounds follow
    * the [[graft.dedup.JaccardPairs]] oracle pattern: `w[i:i+k-1]` is the
    * inclusive 1-based k-slice, `range(1, len(w)-k+2)` is empty for docs
    * shorter than k words).
    */
  /** Per-document contamination OVERLAP report — the quantified form of
    * [[clean]]'s binary verdict (the GPT-3 App. C "dirtiness" measurement):
    * for every training doc, how many of its distinct `k`-gram hashes
    * appear in the benchmark set, as exact integers plus a basis-point
    * fraction (`n_shared·10⁴ div n_grams`; docs with < k words report
    * 0/0/0). A curation team reads this to pick the drop threshold BEFORE
    * committing to [[clean]]'s drop-on-any-overlap rule.
    *
    * Scale shape: same broadcast probe as [[clean]] — the corpus-side
    * distinct (doc, gram) collapse is one partial-agg'd aggregate, the
    * benchmark set rides broadcast with a hit flag, and the per-doc
    * roll-up is a second partial-agg'd aggregate; text never shuffles.
    * Output: (doc_id, n_grams, n_shared, dirt_bp), one row per corpus doc.
    */
  def overlapReport(docs: DataFrame, benchEvery: Long = BenchEvery, k: Int = GramK): DataFrame = {
    val bench = docs.filter(col("doc_id") % benchEvery === 0)
    val corpus = docs.filter(col("doc_id") % benchEvery =!= 0)
    val benchGrams = Hashing.explodeShingles(bench, k)
      .select(Hashing.hash60(col("shingle")).as("g"))
      .distinct()
      .withColumn("__hit", lit(1L))
    val perDoc = Hashing.explodeShingles(corpus, k)
      .select(col("doc_id"), Hashing.hash60(col("shingle")).as("g"))
      .distinct()
      .join(broadcast(benchGrams), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_shared"))
    corpus.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("dirt_bp",
        expr("CASE WHEN n_grams = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_shared * 10000 DIV n_grams END"))
  }

  def overlapReportOracleSql(benchEvery: Long = BenchEvery, k: Int = GramK): String =
    s"""WITH bench AS (SELECT * FROM documents WHERE doc_id % $benchEvery = 0),
       |corpus AS (SELECT * FROM documents WHERE doc_id % $benchEvery <> 0),
       |bg AS (
       |  SELECT DISTINCT ${Hashing.hash60Sql("shingle")} AS g
       |  FROM (
       |    SELECT unnest([array_to_string(w[i:i+${k - 1}], ' ')
       |                   for i in range(1, len(w) - ${k - 2})]) AS shingle
       |    FROM (SELECT regexp_split_to_array(lower(text), '[^a-z0-9]+') AS w
       |          FROM bench)
       |  )
       |),
       |cg AS (
       |  SELECT DISTINCT doc_id, ${Hashing.hash60Sql("shingle")} AS g
       |  FROM (
       |    SELECT doc_id,
       |           unnest([array_to_string(w[i:i+${k - 1}], ' ')
       |                   for i in range(1, len(w) - ${k - 2})]) AS shingle
       |    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS w
       |          FROM corpus)
       |  )
       |),
       |per AS (
       |  SELECT cg.doc_id,
       |         CAST(count(*) AS BIGINT) AS n_grams,
       |         CAST(sum(CASE WHEN bg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_shared
       |  FROM cg LEFT JOIN bg USING (g)
       |  GROUP BY cg.doc_id
       |)
       |SELECT c.doc_id,
       |       coalesce(n_grams, 0) AS n_grams,
       |       coalesce(n_shared, 0) AS n_shared,
       |       CASE WHEN coalesce(n_grams, 0) = 0 THEN CAST(0 AS BIGINT)
       |            ELSE coalesce(n_shared, 0) * 10000 // n_grams END AS dirt_bp
       |FROM corpus c LEFT JOIN per USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  def cleanOracleSql(benchEvery: Long = BenchEvery, k: Int = GramK): String =
    s"""WITH bench AS (SELECT * FROM documents WHERE doc_id % $benchEvery = 0),
       |corpus AS (SELECT * FROM documents WHERE doc_id % $benchEvery <> 0),
       |bg AS (
       |  SELECT DISTINCT ${Hashing.hash60Sql("shingle")} AS g
       |  FROM (
       |    SELECT unnest([array_to_string(w[i:i+${k - 1}], ' ')
       |                   for i in range(1, len(w) - ${k - 2})]) AS shingle
       |    FROM (SELECT regexp_split_to_array(lower(text), '[^a-z0-9]+') AS w
       |          FROM bench)
       |  )
       |),
       |contaminated AS (
       |  SELECT DISTINCT doc_id
       |  FROM (
       |    SELECT doc_id, ${Hashing.hash60Sql("shingle")} AS g
       |    FROM (
       |      SELECT doc_id,
       |             unnest([array_to_string(w[i:i+${k - 1}], ' ')
       |                     for i in range(1, len(w) - ${k - 2})]) AS shingle
       |      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS w
       |            FROM corpus)
       |    )
       |  )
       |  JOIN bg USING (g)
       |)
       |SELECT doc_id, n_chars FROM corpus
       |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
       |ORDER BY doc_id""".stripMargin
}
