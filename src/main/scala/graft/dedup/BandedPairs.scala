package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-capped banded candidate pairs: the one candidate policy every
  * banded-LSH pair operator shares — [[MinHashLSH.nearDupPairs]],
  * [[SimHash.nearDupPairs]], [[graft.multimodal.ImageDedup.nearDupPairs]],
  * [[graft.similarity.SimilaritySearch.nearDupPairs]] and
  * [[graft.similarity.KnnGraph]] — in Spark ([[apply]]) and as DuckDB
  * oracle text ([[candidatesSql]]).
  *
  * Two items are candidates only when they share a (band, key) bucket, so
  * candidate generation is a shuffle on the bucket, never all-pairs
  * (banding OR-construction, Leskovec/Rajaraman/Ullman, MMDS ch. 3).
  *
  * Skew guard with recall fallback. A bucket of b members costs b² rows in
  * its self-join, and no band width or plane budget splits IDENTICAL items:
  * one degenerate key shared by masses of boilerplate pages, constant
  * embeddings or identical images (routine at 100 TB) makes that bucket
  * quadratic. So a bucket with more than `maxBucket` members does not
  * self-join; each of its members pairs with the bucket's min-id
  * representative instead (a STAR, linear in b). Dropping such buckets
  * outright would delete every pair of a near-duplicate mega-cluster, and
  * connected components would then split exactly the clusters dedup
  * exists to collapse; the star keeps the cluster connected through its
  * representative, and the caller's own scoring still gates every emitted
  * pair. Each operator's cap sits far above the bucket sizes its banding
  * produces on non-degenerate data, so the fallback only fires on
  * degenerate buckets and is a no-op on every oracle fixture (the
  * DedupSkewSpec, EmbeddingSkewSpec and BandedPairsSpec cases pin it).
  *
  * The over-cap key set is tiny by construction, so the exclusion of hot
  * buckets and the star both ride ONE broadcast, and the banded frame is
  * never re-shuffled for them. Keeping this policy in one place means a
  * skew-guard fix cannot land in one operator and not the others (the star
  * fallback itself was such a fix).
  */
object BandedPairs {

  /** Dense in-bucket pairs plus star pairs from over-cap buckets.
    *
    * `banded` carries (`id`, `payload`..., band, key), one row per item
    * and band. Output: (id_a, <payload>_a..., id_b, <payload>_b...), with
    * each side's payload carried (the representative's via `min_by`, so no
    * join re-fetches it). Undirected: each in-bucket meeting once with
    * id_a < id_b, and rep → member for the star (rep < member by
    * construction, so the canonical order is free). Directed: both
    * orientations of every meeting, and both member → rep and rep →
    * member for the star, so both endpoints keep a candidate. Dense and
    * star rows are disjoint within one band (a bucket is capped or not);
    * across bands the same pair can repeat, so each caller scores,
    * filters and dedups (`distinct`) as its output needs.
    */
  def apply(
      banded: DataFrame, id: String, payload: Seq[String],
      maxBucket: Long, directed: Boolean): DataFrame = {
    val hot = banded
      .groupBy("band", "key").agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") > maxBucket)
      .select("band", "key")
    val bounded = banded.join(broadcast(hot), Seq("band", "key"), "left_anti")
    def side(prefix: String, s: String): Seq[Column] =
      col(s"$prefix$id").as(s"id_$s") +: payload.map(p => col(s"$prefix$p").as(s"${p}_$s"))
    val dense = bounded.as("a")
      .join(bounded.as("b"), Seq("band", "key"))
      .filter(
        if (directed) col(s"a.$id") =!= col(s"b.$id")
        else col(s"a.$id") < col(s"b.$id"))
      .select(side("a.", "a") ++ side("b.", "b"): _*)
    val hotMembers = banded.join(broadcast(hot), Seq("band", "key"))
    val repAggs = min(col(id)).as("rep") +:
      (if (payload.isEmpty) Nil
       else Seq(min_by(struct(payload.map(col): _*), col(id)).as("rv")))
    val reps = hotMembers.groupBy("band", "key").agg(repAggs.head, repAggs.tail: _*)
    val star = hotMembers
      .join(broadcast(reps), Seq("band", "key"))
      .filter(col(id) =!= col("rep"))
    def rep(s: String): Seq[Column] =
      col("rep").as(s"id_$s") +: payload.map(p => col(s"rv.$p").as(s"${p}_$s"))
    val repToMember = star.select(rep("a") ++ side("", "b"): _*)
    val starPairs =
      if (!directed) repToMember
      else star.select(side("", "a") ++ rep("b"): _*).unionAll(repToMember)
    dense.unionAll(starPairs)
  }

  /** SQL twin of [[apply]]: the `ok` / `hotrep` / `bounded` / `cand` CTE
    * chain over a banded CTE `src` with (`id`, band, key). `cand` holds
    * the distinct candidate id pairs as (`a`, `b`), in the orientation
    * rule of [[apply]]; callers re-join their payload by id to score them.
    * Returns comma-joined CTE bodies, with no leading `WITH` and no
    * trailing comma.
    */
  def candidatesSql(
      id: String, a: String, b: String, maxBucket: Long, directed: Boolean,
      src: String = "bands0", bounded: String = "bands"): String = {
    def star(x: String, y: String): String =
      s"""    UNION ALL
         |    SELECT $x AS $a, $y AS $b
         |    FROM $src m JOIN hotrep h USING (band, key)
         |    WHERE m.$id <> h.rep""".stripMargin
    val stars =
      (if (directed) Seq(star(s"m.$id", "h.rep")) else Nil) :+ star("h.rep", s"m.$id")
    s"""ok AS (SELECT band, key FROM $src GROUP BY 1, 2 HAVING count(*) <= $maxBucket),
       |hotrep AS (SELECT band, key, min($id) AS rep FROM $src
       |           GROUP BY 1, 2 HAVING count(*) > $maxBucket),
       |$bounded AS (SELECT b.* FROM $src b JOIN ok USING (band, key)),
       |cand AS (
       |  SELECT DISTINCT $a, $b FROM (
       |    SELECT a.$id AS $a, b.$id AS $b
       |    FROM $bounded a JOIN $bounded b ON a.band = b.band AND a.key = b.key
       |    WHERE a.$id ${if (directed) "<>" else "<"} b.$id
       |${stars.mkString("\n")}
       |  )
       |)""".stripMargin
  }
}
