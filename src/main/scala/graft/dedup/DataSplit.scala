package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Leakage-free train/validation/test splitting — CLUSTER-ATOMIC by the
  * near-dup component, not per document.
  *
  * The standard failure a per-doc split ships at 100 TB: a validation
  * document's near-duplicate (boilerplate-wrapped copy, truncated mirror,
  * republished scrape) lands in train, and the eval silently measures
  * memorization. The fix is to make the split decision a function of the
  * near-dup CLUSTER: every member of a connected component inherits one
  * verdict, so no [[MinHashLSH.nearDupPairs]] edge can ever straddle a
  * split boundary (pinned by DataSplitSpec over the full pair table; the
  * same discipline as deduplicate-then-split, but it also covers
  * pipelines that keep all near-dup members, e.g. for dedup-rate studies).
  *
  * The verdict itself is a deterministic salted hash of the cluster
  * representative against basis-point thresholds ([[TrainBp]]/[[ValBp]]
  * out of [[Mod]]) — the [[graft.sampling.UniverseSampled]] discipline
  * applied to assignment rather than sampling. Consequences: re-runs,
  * re-shards, and retries over the SAME snapshot reproduce the same
  * split, and the whole assignment replays bit-exactly in the DuckDB
  * oracle.
  *
  * Cross-snapshot stability is conditional and must be stated precisely:
  * a new member JOINING a cluster inherits its verdict only while the
  * cluster's min-id representative is unchanged. A newcomer with a
  * smaller id (or a bridging document merging two clusters) RE-KEYS the
  * representative and can flip the whole cluster's verdict — so a
  * production pipeline that has already shipped an eval set must not
  * re-derive the split from scratch on the next snapshot; it PERSISTS the
  * assignment table and lets new documents inherit by joining any saved
  * member of their cluster ([[graft.dedup.IncrementalDedup]]'s saved-index
  * discipline), hashing only clusters with no saved member. Within one
  * snapshot the leakage-free property is unconditional (no pair straddles
  * a boundary — spec-pinned).
  *
  * Scale shape: the components come from the probed CC machinery
  * ([[DedupClusters.components]], id-keyed joins, lineage-truncated
  * iterations); the verdict is ONE md5 on the representative id — a
  * scan-fused projection, no extra shuffle; the summary is a 3-row
  * aggregate. Nothing here shuffles text.
  */
object DataSplit {

  /** Basis points (out of [[Mod]]) routed to train; the next [[ValBp]] to
    * validation; the remainder to test — 90/5/5.
    */
  val TrainBp = 9000
  val ValBp = 500
  val Mod = 10000L

  private val Salt = "split:"

  /** The deterministic verdict for a cluster representative id. */
  def splitCol(rep: Column): Column = {
    val h = Hashing.hash60(concat(lit(Salt), rep.cast("string"))) % Mod
    when(h < TrainBp, "train")
      .when(h < TrainBp + ValBp, "val")
      .otherwise("test")
  }

  /** SQL text of [[splitCol]] over a representative-id expression. */
  def splitSql(repExpr: String): String = {
    val h = s"${Hashing.hash60Sql(s"'$Salt' || CAST($repExpr AS VARCHAR)")} % $Mod"
    s"CASE WHEN $h < $TrainBp THEN 'train' " +
      s"WHEN $h < ${TrainBp + ValBp} THEN 'val' ELSE 'test' END"
  }

  /** Cluster-atomic assignment over the corpus's MinHash near-dup graph.
    * Output: doc_id, cluster_rep, split.
    */
  def assign(corpus: DataFrame): DataFrame =
    assignWithPairs(corpus, MinHashLSH.nearDupPairs(MinHashLSH.signatures(corpus)))

  /** [[assign]] with an injected pair graph (the
    * [[DedupClusters.cleanedWithPairs]] seam: the split layer is
    * pair-source-agnostic, and the scale probe can drive it with synthetic
    * skew).
    */
  def assignWithPairs(corpus: DataFrame, pairs: DataFrame): DataFrame =
    DedupClusters.components(corpus, pairs)
      .select(
        col("doc_id"),
        col("rep").as("cluster_rep"),
        splitCol(col("rep")).as("split"))

  /** Cross-snapshot assignment with a PERSISTED prior — the inherit path
    * the object doc prescribes, now as code (VERDICT r14 item 3): a doc
    * present in `saved` keeps its saved verdict VERBATIM (a shipped eval
    * set is immutable); a new doc whose cluster contains any saved member
    * INHERITS — deterministically, the verdict of the smallest saved
    * member id (min-of-struct here, `arg_min` in the oracle: the "join
    * any saved member" rule with a total tie-break, which also decides
    * bridged clusters whose saved members disagree); only clusters with
    * NO saved member are hashed fresh. Consequence, spec-pinned: a
    * bridging or smaller-id newcomer that re-keys a cluster's
    * representative can never flip a saved doc's verdict — the fresh
    * hash applies exclusively to never-seen clusters.
    *
    * The `origin` column ('saved' | 'inherited' | 'fresh') is the audit
    * trail a pipeline logs: count(origin='saved') must equal the saved
    * table's surviving membership, and train/eval movement can only come
    * from 'fresh' rows. NOTE the leakage guarantee is now CONDITIONAL
    * where verdicts were pinned before clusters merged: a bridged cluster
    * with saved 'train' and saved 'test' members keeps BOTH (the shipped
    * sets cannot be rewritten) — rows where members of one cluster carry
    * different splits are exactly the leak audit `SELECT cluster_rep
    * HAVING count(DISTINCT split) > 1` surfaces for quarantine.
    *
    * Scale shape: everything after the (probed) CC is id-keyed — one
    * left join to the saved table on doc_id, one narrow groupBy(rep)
    * argmin over the saved members only, one left join back on rep.
    * Text never shuffles; the saved table is (id, verdict) — the
    * assignment artifact a production pipeline already persists.
    */
  def assignIncrementalWithPairs(
      corpus: DataFrame, pairs: DataFrame, saved: DataFrame): DataFrame = {
    val comps = DedupClusters.components(corpus, pairs)
    // two consumers (the inherit argmin and the final select) — lazy
    // localCheckpoint so the corpus-wide comps⋈saved join runs ONCE (the
    // MinHashLSH.nearDupPairs multi-consumer discipline; review finding:
    // the scaladoc promises "one left join to the saved table")
    val withSaved = comps.join(
      saved.select(col("doc_id"), col("split").as("__saved")),
      Seq("doc_id"), "left").localCheckpoint(false)
    val inherit = withSaved
      .filter(col("__saved").isNotNull)
      .groupBy(col("rep"))
      .agg(min(struct(col("doc_id"), col("__saved"))).as("__m"))
      .select(col("rep"), col("__m").getField("__saved").as("__inherit"))
    withSaved.join(inherit, Seq("rep"), "left")
      .select(
        col("doc_id"),
        col("rep").as("cluster_rep"),
        when(col("__saved").isNotNull, col("__saved"))
          .when(col("__inherit").isNotNull, col("__inherit"))
          .otherwise(splitCol(col("rep"))).as("split"),
        when(col("__saved").isNotNull, lit("saved"))
          .when(col("__inherit").isNotNull, lit("inherited"))
          .otherwise(lit("fresh")).as("origin"))
  }

  /** [[assignIncrementalWithPairs]] over the corpus's own MinHash pair
    * graph.
    */
  def assignIncremental(corpus: DataFrame, saved: DataFrame): DataFrame =
    assignIncrementalWithPairs(
      corpus, MinHashLSH.nearDupPairs(MinHashLSH.signatures(corpus)), saved)

  /** The PRIOR snapshot of the declared incremental query: the
    * [[IncrementalDedup]] base/delta decomposition applied to assignment —
    * augmented originals outside the delta batch.
    */
  def snapshotCorpus(documents: DataFrame): DataFrame =
    IncrementalDedup.baseCorpus(documents)

  /** Build-once persisted assignment of the prior snapshot — the
    * [[IncrementalDedup.ensureSavedSignatures]] artifact discipline
    * applied to the split table: keyed on the input's content digest AND
    * every parameter the assignment derives from (the MinHash family, the
    * snapshot split rule, and the verdict thresholds), so a constant
    * change invalidates the cache instead of silently serving
    * old-parameter verdicts.
    */
  def ensureSavedAssignment(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    SavedArtifact.ensure(
      "graft_splitasg",
      graft.queries.Tables.contentDigest(
        graft.queries.Tables.path(dir, "documents")),
      // every constant the assignment derives from: the signature family,
      // the PAIR-GRAPH parameters (banding width, bucket cap, similarity
      // floor — review: the first cut omitted these, so a NumBands change
      // would have served stale verdicts), the snapshot split rule, and
      // the verdict thresholds
      Seq(MinHashLSH.NumHashes, MinHashLSH.ShingleK, MinHashLSH.Prime,
        MinHashLSH.NumBands, MinHashLSH.MaxBucket, 0.5 /* nearDupPairs minSim */,
        IncrementalDedup.DeltaMod, TrainBp, ValBp, Mod, Salt) ++
        MinHashLSH.Coeffs.map { case (a, b) => s"$a,$b" }) { tmp =>
      assign(snapshotCorpus(graft.queries.Tables.documents(spark, dir)))
        .write.mode("overwrite").parquet(tmp)
    }

  /** Per-split audit roll-up a pipeline logs next to the shipped corpus:
    * split, n_docs, n_clusters, n_chars. The char mass rides an id-keyed
    * join of the (id, length) projection to the assignment — text itself
    * never shuffles.
    */
  def summary(corpus: DataFrame): DataFrame =
    assign(corpus)
      .join(
        corpus.select(col("doc_id"), length(col("text")).cast("long").as("__len")),
        Seq("doc_id"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_rep")).as("n_clusters"),
        sum(col("__len")).as("n_chars"))
      .orderBy(col("split"))

  /** DuckDB oracle for [[assign]] over the augmented corpus: the shared
    * recursive-reachability clusters + the same salted-hash verdict.
    */
  def assignOracleSql: String =
    DedupClusters.clusterCtes +
      s"""
         |SELECT doc_id, rep AS cluster_rep, ${splitSql("rep")} AS split
         |FROM dec ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for [[assignIncremental]] over the augmented corpus
    * with the [[snapshotCorpus]] prior: the saved assignment is replayed
    * as a NESTED full query (the artifact is deterministic — the
    * [[IncrementalDedup]] saved-index oracle pattern), the new snapshot's
    * clusters come from the shared reachability CTEs, and the
    * keep/inherit/fresh cascade replays with `arg_min` mirroring the
    * Scala side's min-of-struct tie-break.
    */
  def assignIncrementalOracleSql: String = {
    val snapshotSql =
      s"""SELECT doc_id, text FROM (${DedupCorpus.augmentSql})
         |WHERE doc_id < ${DedupCorpus.ExactDupOffset}
         |  AND doc_id % ${IncrementalDedup.DeltaMod} <> 0""".stripMargin
    val savedQuery = DedupClusters.reachCtesFor(snapshotSql) +
      s""",
         |sdec AS (SELECT node AS doc_id, min(label) AS rep FROM reach GROUP BY node)
         |SELECT doc_id, ${splitSql("rep")} AS split FROM sdec""".stripMargin
    DedupClusters.clusterCtes +
      s""",
         |saved AS (
         |$savedQuery
         |),
         |sv AS (SELECT dec.doc_id, dec.rep, s.split AS saved_split
         |       FROM dec LEFT JOIN saved s ON s.doc_id = dec.doc_id),
         |ci AS (SELECT rep, arg_min(saved_split, doc_id) AS inherit_split
         |       FROM sv WHERE saved_split IS NOT NULL GROUP BY rep)
         |SELECT sv.doc_id, sv.rep AS cluster_rep,
         |       CASE WHEN sv.saved_split IS NOT NULL THEN sv.saved_split
         |            WHEN ci.inherit_split IS NOT NULL THEN ci.inherit_split
         |            ELSE ${splitSql("sv.rep")} END AS split,
         |       CASE WHEN sv.saved_split IS NOT NULL THEN 'saved'
         |            WHEN ci.inherit_split IS NOT NULL THEN 'inherited'
         |            ELSE 'fresh' END AS origin
         |FROM sv LEFT JOIN ci ON ci.rep = sv.rep
         |ORDER BY sv.doc_id""".stripMargin
  }

  /** DuckDB oracle for [[summary]]. */
  def summaryOracleSql: String =
    DedupClusters.clusterCtes +
      s""",
         |a AS (SELECT dec.doc_id, dec.rep, ${splitSql("rep")} AS split,
         |             CAST(length(c.text) AS BIGINT) AS len
         |      FROM dec JOIN corpus c ON c.doc_id = dec.doc_id)
         |SELECT split, count(*) AS n_docs,
         |       count(DISTINCT rep) AS n_clusters,
         |       CAST(sum(len) AS BIGINT) AS n_chars
         |FROM a GROUP BY split ORDER BY split""".stripMargin
}
