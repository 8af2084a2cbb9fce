package graft.dedup

import graft.SparkSpec

/** [[BandedPairs]] against a plain-Scala brute force of its rule, per
  * band: a bucket at or under the cap gives all its pairs; a bucket over
  * the cap gives member ↔ min-id representative, with the representative's
  * payload. Seeded random frames with 1–3 bands and a cap of 2–3, so both
  * kinds of bucket occur, in the undirected and the directed form.
  */
class BandedPairsSpec extends SparkSpec {
  import spark.implicits._

  /** (id, p, q, band, key): one row per id and band; the payload (p, q)
    * is a function of the id, as for a real fingerprint.
    */
  private type Item = (Long, Long, String, Int, Long)
  private type Pair = (Long, Long, String, Long, Long, String)

  private def frame(seed: Int): (Seq[Item], Int) = {
    val rng = new scala.util.Random(seed)
    val numBands = 1 + rng.nextInt(3)
    val ids = rng.shuffle((0L until 40L).toList).take(12 + rng.nextInt(8))
    val items = for (id <- ids; band <- 0 until numBands)
      yield (id, id * 7919L % 1000L, s"v$id", band, rng.nextInt(6).toLong)
    (items, numBands)
  }

  private def bruteForce(items: Seq[Item], cap: Long, directed: Boolean): Seq[Pair] =
    items.groupBy(i => (i._4, i._5)).values.toSeq.flatMap { bucket =>
      def pair(a: Item, b: Item): Pair = (a._1, a._2, a._3, b._1, b._2, b._3)
      if (bucket.size <= cap)
        for (a <- bucket; b <- bucket if (if (directed) a._1 != b._1 else a._1 < b._1))
          yield pair(a, b)
      else {
        val rep = bucket.minBy(_._1)
        bucket.filter(_._1 != rep._1).flatMap(m =>
          pair(rep, m) +: (if (directed) Seq(pair(m, rep)) else Nil))
      }
    }.sorted

  test("dense pairs under the cap and star pairs over it equal the brute force") {
    var (underCap, overCap) = (0, 0)
    for (seed <- 1 to 6; directed <- Seq(false, true)) {
      val (items, numBands) = frame(seed)
      val cap = 2L + seed % 2
      val sizes = items.groupBy(i => (i._4, i._5)).values.map(_.size)
      underCap += sizes.count(s => s > 1 && s <= cap)
      overCap += sizes.count(_ > cap)
      val got = BandedPairs(
        items.toDF("id", "p", "q", "band", "key"), "id", Seq("p", "q"), cap, directed)
        .select("id_a", "p_a", "q_a", "id_b", "p_b", "q_b")
        .as[Pair].collect().toSeq.sorted
      assert(got === bruteForce(items, cap, directed),
        s"seed $seed, $numBands bands, cap $cap, directed $directed")
    }
    assert(underCap > 0 && overCap > 0, "the seeded frames must exercise both paths")
  }

  test("payload-free form gives the same id pairs") {
    val (items, _) = frame(7)
    val got = BandedPairs(
      items.map(i => (i._1, i._4, i._5)).toDF("id", "band", "key"), "id", Nil, 2L, directed = false)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got === bruteForce(items, 2L, directed = false).map(p => (p._1, p._4)))
  }
}
