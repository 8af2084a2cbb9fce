package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

class DedupClustersSpec extends SparkSpec {
  import spark.implicits._

  test("hand-built graph: transitive chain collapses to one representative") {
    val corpus = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    // 1-2, 2-3 (chain), 4 alone, 5 alone
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = DedupClusters.decisions(corpus, pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) === ((1L, true)))
    assert(out(2L) === ((1L, false)))
    assert(out(3L) === ((1L, false))) // transitivity: 3 never paired with 1
    assert(out(4L) === ((4L, true)))
    assert(out(5L) === ((5L, true)))
  }

  test("empty corpus: components returns empty instead of crashing") {
    // a corpus slice where curation rejects everything is legal; the
    // convergence sum over zero rows is null and must read as the fixed
    // point, not an NPE
    val corpus = Seq.empty[Long].toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(DedupClusters.components(corpus, pairs).count() === 0)
  }

  test("edge shuffle width follows the session's shuffle-partition config") {
    assert(DedupClusters.edgePartitions(spark) ===
      spark.sessionState.conf.numShufflePartitions)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "6")
      assert(DedupClusters.edgePartitions(spark) === 6)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("a component deeper than MaxIterations fails loudly instead of silently stopping") {
    val n = DedupClusters.MaxIterations + 5
    val corpus = (0L until n.toLong).toDF("doc_id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException](DedupClusters.decisions(corpus, pairs).collect())
    assert(e.getMessage.contains("no fixed point"))
  }

  test("singleton-only corpus (no edges) labels every node itself") {
    val corpus = Seq(10L, 20L, 30L).toDF("doc_id")
    val pairs = spark.emptyDataset[(Long, Long)].toDF("doc_a", "doc_b")
    val labels = DedupClusters.components(corpus, pairs)
    assert(labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((10L, 10L), (20L, 20L), (30L, 30L)))
  }

  /** Component minimum per node by plain union-find: each union links the
    * larger root under the smaller, so every root is its component's min.
    */
  private def unionFindReps(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      val p = parent(x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("components equals union-find on the sf0.001 graph and random graphs") {
    val corpus = DedupCorpus.augment(Tables.documents(spark, sf001))
    val pairs = MinHashLSH.nearDupPairs(MinHashLSH.signatures(corpus))
    val ids = corpus.select("doc_id").collect().map(_.getLong(0)).toSeq
    val edges = pairs.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges.nonEmpty)
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(DedupClusters.components(corpus, pairs)) === unionFindReps(ids, edges))
    spark.catalog.clearCache()

    // at most 20 nodes, so every component's diameter stays under
    // MaxIterations; sparse ids, plus a self-pair, a repeated (reversed)
    // pair and a node no pair touches in every graph
    val rng = new scala.util.Random(20141103L)
    (1 to 20).foreach { g =>
      val n = 2 + rng.nextInt(DedupClusters.MaxIterations - 1)
      val nodes = rng.shuffle((0L until 1000L).toVector).take(n)
      val linked = nodes.init // the last node stays isolated
      val random = Seq.fill(rng.nextInt(2 * n))(
        (linked(rng.nextInt(linked.size)), linked(rng.nextInt(linked.size))))
      val self = linked.head -> linked.head
      val gPairs = (self +: random) :+ random.headOption.getOrElse(self).swap
      val got = labels(DedupClusters.components(nodes.toDF("doc_id"), gPairs.toDF("doc_a", "doc_b")))
      assert(got === unionFindReps(nodes, gPairs), s"graph $g")
    }
  }

  test("cleaned pipeline keeps exactly the cluster representatives") {
    val corpus = DedupCorpus.augment(Tables.documents(spark, sf001))
    val dec = DedupClusters.decisions(
      corpus, MinHashLSH.nearDupPairs(MinHashLSH.signatures(corpus)))
    val expectedSurvivors = dec.filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val cleaned = DedupClusters.cleaned(corpus).collect()
    assert(cleaned.map(_.getLong(0)).toSet === expectedSurvivors)
    // every injected exact copy is gone from the cleaned corpus
    assert(!cleaned.exists(r =>
      r.getLong(0) >= DedupCorpus.ExactDupOffset && r.getLong(0) < DedupCorpus.NearDupOffset))
    spark.catalog.clearCache()
  }

  test("canonicalByQuality: argmax verified against a brute-force recompute") {
    val corpus = DedupCorpus.augment(Tables.documents(spark, sf001))
    val pairs = MinHashLSH.nearDupPairs(MinHashLSH.signatures(corpus))
    val comp = DedupClusters.components(corpus, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = graft.text.TextAnalysis.qualityScore(corpus)
      .select(col("doc_id"), col("quality"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // brute-force reference: per cluster, best = max quality then min id
    val expected = comp.groupBy(_._2).map { case (rep, members) =>
      val ids = members.keys.toSeq
      val best = ids.minBy(id => (-quality(id), id))
      rep -> ((best, quality(best), ids.size.toLong))
    }
    val got = DedupClusters.canonicalByQuality(corpus)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(got === expected)
    // the canonical member must be IN its cluster, and clusters partition
    // the corpus (n_members sums to corpus size)
    got.foreach { case (rep, (canon, _, _)) => assert(comp(canon) === rep) }
    assert(got.values.map(_._3).sum === comp.size.toLong)
    spark.catalog.clearCache()
  }

  test("cleanedByQuality keeps exactly the canonical members' documents") {
    val corpus = DedupCorpus.augment(Tables.documents(spark, sf001))
    val canon = DedupClusters.canonicalByQuality(corpus)
      .select("canonical_id").collect().map(_.getLong(0)).toSet
    val out = DedupClusters.cleanedByQuality(corpus).collect()
    assert(out.map(_.getLong(0)).toSet === canon)
    assert(out.length === canon.size)
    // same cluster count as the min-id pipeline — only the WINNER differs
    assert(out.length === DedupClusters.cleaned(corpus).count())
    spark.catalog.clearCache()
  }

  test("canonicalByQuality can pick a non-min-id member; ties break to min id") {
    // cluster {1,2,3}: doc 2 has the best quality → canonical_id = 2 ≠ rep 1;
    // cluster {10,11}: identical text → equal quality → tie-break keeps 10
    val corpus = Seq(
      (1L, "zzz qq xx"), // low stopword ratio, junky
      (2L, "the cat and the dog are in the house with a bird"),
      (3L, "zzz qq yy"),
      (10L, "the same exact sentence"),
      (11L, "the same exact sentence")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val quality = graft.text.TextAnalysis.qualityScore(corpus)
      .select(col("doc_id"), col("quality"))
    val out = DedupClusters.components(corpus, pairs)
      .join(quality, Seq("doc_id"))
      .groupBy(col("rep").as("cluster_rep"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("negid"))).as("b"))
      .select(col("cluster_rep"), (-col("b.negid")).as("canonical_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 2L)
    assert(out(10L) === 10L)
  }

  test("minhash clusters on the augmented corpus: injected dups lose, originals win") {
    val corpus = DedupCorpus.augment(Tables.documents(spark, sf001))
    val pairs = MinHashLSH.nearDupPairs(MinHashLSH.signatures(corpus))
    val out = DedupClusters.decisions(corpus, pairs)
    assert(out.count() === corpus.count()) // every doc gets a verdict
    // every injected exact copy is dominated by some smaller doc
    val exactCopies = out.filter(
      col("doc_id") >= DedupCorpus.ExactDupOffset &&
        col("doc_id") < DedupCorpus.NearDupOffset)
    assert(exactCopies.filter(col("keep")).count() === 0)
    // representatives are self-consistent: rep's rep is itself
    val reps = out.select(col("rep")).distinct()
      .join(out.withColumnRenamed("doc_id", "rep2").withColumnRenamed("rep", "reprep"),
        col("rep") === col("rep2"))
    assert(reps.filter(col("rep") =!= col("reprep")).count() === 0)
  }
}
