package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-NN GRAPH construction and contrastive hard-negative mining over the
  * embedding corpus — the two neighbor-set products a training pipeline
  * derives from its embedding store beyond point lookups:
  *
  *  - [[graph]]: every vector's top-k most-similar neighbors (the input to
  *    SemDeDup-style cluster pruning, graph-based diversity sampling, and
  *    label propagation);
  *  - [[hardNegatives]]: for every vector, the most-similar vector with a
  *    DIFFERENT label — the classic in-batch-negative upgrade for
  *    contrastive/embedding training (hardest negatives carry the
  *    gradient signal; random negatives are too easy).
  *
  * Both are the same distributed shape as
  * [[SimilaritySearch.nearDupPairs]]: candidates meet only inside
  * sign-LSH band buckets (OR-construction over `numBands` bands), never
  * all-pairs — the 100 TB path — and similarities are exact integer dot
  * products over quantized vectors divided by IEEE-exact norms, so the
  * DuckDB oracle replays every value bit-for-bit. The ranking step is a
  * per-query row_number window, which Catalyst executes with a
  * WindowGroupLimit partial rank BEFORE the shuffle (the
  * [[graft.operators.GroupTopK]] pattern), so the exchange carries at
  * most k + ties candidates per (partition, query), not the full
  * candidate multiset.
  *
  * A vector whose buckets contain no (valid) candidate is absent from the
  * output — the honest ANN contract (recall < 1), pinned by spec against
  * the brute-force baseline on the live corpus.
  *
  * The plane budget is DERIVED IN-PLAN from the corpus count by default
  * ([[PlaneBudget.bandBits]]): `numPlanes = bandBits(count) * numBands`,
  * so bucket occupancy stays ~[[PlaneBudget.TargetBucket]] at any
  * population and in-bucket self-join work stays linear — the 100 TB
  * sizing discipline enforced by the operator itself, not its caller
  * (VERDICT r13 item 1). The md5 plane family is an unbounded
  * deterministic sequence, so the DuckDB oracle replays the derivation
  * (count → width → signs) and every value hash-matches. Pass
  * `numPlanes = Some(p)` only to pin a fixed configuration (specs, the
  * reference config).
  */
object KnnGraph {

  val K = 5
  val NumBands = 2

  /** (vec_id, qv, nrm, label, __bkeys) materialized ONCE — the self-join's
    * two sides otherwise each rescan the corpus and re-run the plane dots
    * (the [[SimilaritySearch.nearDupPairs]] checkpoint rationale).
    */
  private def bandedBase(
      embeddings: DataFrame, numPlanes: Int, numBands: Int): DataFrame = {
    require(numPlanes % numBands == 0, "numBands must divide numPlanes")
    val signs = SimilaritySearch.signsFor(numPlanes)
    // band keys via the loop-codegen [[graft.functions.SignBandKeys]] —
    // the per-plane unroll grew the generated method with the derived
    // plane budget past HotSpot's huge-method JIT threshold (see the
    // expression's scaladoc)
    graft.queries.Tables.parallelismFloor(embeddings)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        SimilaritySearch.quantize(col("embedding")).as("qv"))
      .withColumn("nrm", sqrt(SimilaritySearch.dotQ(col("qv"), col("qv")).cast("double")))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), col("label"), col("qv"), col("nrm"),
        graft.functions.SignBandKeys.bandKeys(col("qv"), signs, numBands).as("__bkeys"))
      .localCheckpoint(false)
  }

  /** Directed candidate edges (query_id, q_label, neighbor_id, n_label,
    * sim): both orientations of every in-bucket meeting, deduped across
    * bands, under the [[graft.dedup.BandedPairs]] skew cap
    * ([[SimilaritySearch.MaxBucket]]). A member of an over-cap bucket
    * keeps at least the bucket's representative as a (typically
    * near-identical) neighbor; the lost in-bucket recall is the
    * honest-ANN contract the operator already documents.
    */
  private def candidates(
      embeddings: DataFrame, numBands: Int, numPlanes: Option[Int],
      maxBucket: Long = SimilaritySearch.MaxBucket): DataFrame = {
    val planes = numPlanes.getOrElse(PlaneBudget.bandBitsFor(embeddings) * numBands)
    val base = bandedBase(embeddings, planes, numBands)
    // the shared scored candidates in their DIRECTED form, with the label
    // riding as a carry column
    SimilaritySearch
      .bandedCandidates(base, Seq("label"), directed = true, numBands, maxBucket)
      .select(
        col("id_a").as("query_id"), col("label_a").as("q_label"),
        col("id_b").as("neighbor_id"), col("label_b").as("n_label"),
        col("sim"))
  }

  private def rank(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    cands
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** The k-NN graph: (query_id, neighbor_id, sim, rn) per surviving
    * vector, rn the 1-based neighbor rank.
    */
  def graph(
      embeddings: DataFrame, k: Int = K,
      numBands: Int = NumBands, numPlanes: Option[Int] = None,
      maxBucket: Long = SimilaritySearch.MaxBucket): DataFrame =
    rank(candidates(embeddings, numBands, numPlanes, maxBucket), k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rn"))
      .orderBy(col("query_id"), col("rn"))

  /** Hardest in-bucket negative per vector: (query_id, q_label, neg_id,
    * neg_label, sim) — the most-similar bucket-mate carrying a different
    * label, ties to the smaller id.
    */
  def hardNegatives(
      embeddings: DataFrame,
      numBands: Int = NumBands, numPlanes: Option[Int] = None): DataFrame =
    rank(
      candidates(embeddings, numBands, numPlanes)
        .filter(col("q_label") =!= col("n_label")), 1)
      .select(col("query_id"), col("q_label"),
        col("neighbor_id").as("neg_id"), col("n_label").as("neg_label"),
        col("sim"))
      .orderBy(col("query_id"))

  /** k-NN majority-vote classification: every vector's predicted label =
    * the mode of its top-k neighbors' labels (ties to the smaller label) —
    * the cheap semi-supervised labeler a pipeline runs over a partially
    * human-labeled corpus before training a real classifier head. One
    * vote aggregate + one argmax window over the ranked graph; both
    * argmaxes use the pre-shuffle WindowGroupLimit partial rank.
    * Output: (query_id, true_label, pred_label, votes).
    */
  def classify(
      embeddings: DataFrame, k: Int = K,
      numBands: Int = NumBands, numPlanes: Option[Int] = None): DataFrame = {
    val votes = rank(candidates(embeddings, numBands, numPlanes), k)
      .groupBy(col("query_id"), col("q_label"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    // asc_nulls_last pins the NULL-label tie-break to DuckDB's ASC
    // default (NULLS LAST); Spark's plain asc sorts NULLS FIRST, which
    // would pick pred_label = NULL over a real label on a vote tie —
    // a cross-engine divergence the moment the label column carries nulls
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("n_label").asc_nulls_last)
    votes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("q_label").as("true_label"),
        col("n_label").as("pred_label"), col("votes"))
      .orderBy(col("query_id"))
  }

  // ---- DuckDB oracle generation ----

  /** Band CTEs shared by all three oracles: the DYNAMIC chain from
    * [[PlaneBudget.dynamicBandsSql]] (count → derived width → md5 signs as
    * data), so the oracle replays the in-plan derivation at whatever
    * corpus size it's pointed at, plus the candidate/sims stages (labels
    * re-joined from `prep`, where they're functionally dependent on
    * vec_id).
    */
  private def bandsSql(
      numBands: Int, maxBucket: Long = SimilaritySearch.MaxBucket): String =
    s"""${PlaneBudget.dynamicBandsSql(numBands, withLabel = true)},
       |${SimilaritySearch.candSql("query_id", "neighbor_id", maxBucket, directed = true)},
       |sims AS (
       |  SELECT query_id, pa.label AS q_label, neighbor_id, pb.label AS n_label,
       |         ${SimilaritySearch.dotSql("pa.qv", "pb.qv")} / (pa.nrm * pb.nrm) AS sim
       |  FROM cand
       |  JOIN prep pa ON query_id = pa.vec_id
       |  JOIN prep pb ON neighbor_id = pb.vec_id
       |)""".stripMargin

  /** Oracle SQL for [[graph]]. */
  def graphOracleSql(k: Int = K, numBands: Int = NumBands): String =
    s"""WITH ${bandsSql(numBands)}
       |SELECT query_id, neighbor_id, sim,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |                               ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rn
       |FROM sims
       |QUALIFY rn <= $k
       |ORDER BY query_id, rn""".stripMargin

  /** Oracle SQL for [[classify]]. */
  def classifyOracleSql(k: Int = K, numBands: Int = NumBands): String =
    s"""WITH ${bandsSql(numBands)},
       |top AS (
       |  SELECT query_id, q_label, n_label
       |  FROM sims
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |                             ORDER BY sim DESC, neighbor_id) <= $k
       |),
       |v AS (SELECT query_id, q_label, n_label, count(*) AS votes
       |      FROM top GROUP BY 1, 2, 3)
       |SELECT query_id, q_label AS true_label, n_label AS pred_label, votes
       |FROM v
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |                           ORDER BY votes DESC, n_label) = 1
       |ORDER BY query_id""".stripMargin

  /** Oracle SQL for [[hardNegatives]]. */
  def hardNegativesOracleSql(numBands: Int = NumBands): String =
    s"""WITH ${bandsSql(numBands)}
       |SELECT query_id, q_label, neighbor_id AS neg_id, n_label AS neg_label, sim
       |FROM sims
       |WHERE q_label <> n_label
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |                           ORDER BY sim DESC, neighbor_id) <= 1
       |ORDER BY query_id""".stripMargin
}
