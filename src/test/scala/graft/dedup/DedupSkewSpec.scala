package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.multimodal.ImageDedup
import graft.queries.Tables

/** Skew-guard specs: on a degenerate corpus (hundreds of byte-identical
  * docs — the "millions of boilerplate pages" failure mode at 100 TB) the
  * LSH band buckets go quadratic without a cap. These tests pin that
  *  (a) the [[BandedPairs]] cap bounds minhash, simhash and image
  *      candidate generation to LINEAR star pairs
  *      on such a corpus (r14: over-cap buckets emit member↔representative
  *      candidates instead of being dropped, so the mega-cluster stays
  *      connected for the CC pass),
  *  (b) uncapped candidate generation really is quadratic (the guard is
  *      guarding something),
  *  (c) the cap+star is a no-op on the oracle corpus, so CORRECTNESS
  *      parity is untouched, and
  *  (d) the mass-identical docs whose DENSE pairs the cap suppresses are
  *      also what the exact content-hash dedup catches (defense in depth —
  *      the star now keeps them in the LSH graph too).
  */
class DedupSkewSpec extends SparkSpec {
  import spark.implicits._

  private val NIdentical = 200L

  /** 200 identical docs + 8 mutually-distinct docs. */
  private lazy val degenerate: DataFrame = {
    val boiler = "all work and no play makes the boilerplate corpus a degenerate bucket"
    val identical = (0L until NIdentical).map(i => (i, boiler))
    val distinct = (0L until 8L).map(i =>
      (1000L + i, s"unique document number $i talks about topic${i} and subject${i * 7} only"))
    (identical ++ distinct).toDF("doc_id", "text")
  }

  test("minhash: uncapped candidate generation is quadratic on identical docs") {
    val sigs = MinHashLSH.signatures(degenerate)
    val uncapped = MinHashLSH.nearDupPairs(sigs, minSim = 0.0, maxBucket = Long.MaxValue)
    assert(uncapped.count() >= NIdentical * (NIdentical - 1) / 2)
  }

  test("minhash: over-cap buckets fall back to linear star pairs, cluster stays whole") {
    val sigs = MinHashLSH.signatures(degenerate)
    val capped = MinHashLSH.nearDupPairs(sigs, minSim = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the 200-member buckets emit exactly one star pair per non-rep member
    // (identical signatures → all 8 bands produce the SAME pair, deduped);
    // only the 8 distinct docs may add dense pairs, bounding the total at
    // (N−1) + 8·7/2 — linear, not the ≥19 900 the dense join would cost
    assert(capped.length <= (NIdentical - 1) + 28)
    val star = capped.filter { case (a, _, _) => a == 0L }
    assert(star.length === (NIdentical - 1).toInt,
      "every identical doc must pair with the min-id representative")
    assert(star.forall(_._3 == 1.0))
    // the star edges alone connect the mega-cluster: one component via rep 0
    assert(star.map(_._2).toSet === (1L until NIdentical).toSet)
  }

  test("simhash: over-cap bucket falls back to linear star pairs, uncapped is quadratic") {
    val fps = SimHash.fingerprints(degenerate)
    val uncapped = SimHash.nearDupPairs(fps, maxHamming = 60, maxBucket = Long.MaxValue)
    assert(uncapped.count() >= NIdentical * (NIdentical - 1) / 2)
    val capped = SimHash.nearDupPairs(fps, maxHamming = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(capped.length <= (NIdentical - 1) + 28)
    val star = capped.filter { case (a, _, _) => a == 0L }
    assert(star.length === (NIdentical - 1).toInt)
    assert(star.forall(_._3 == 0L)) // identical fingerprints → hamming 0
  }

  test("image: over-cap bucket falls back to linear star pairs, uncapped is quadratic") {
    // 100 identical aHashes (every 8-bit band bucket holds all of them,
    // over the 64 cap) + 8 hashes whose bands share no byte with them or
    // with each other
    val n = 100L
    require(n > ImageDedup.MaxBucket, "fixture must overflow the cap")
    val hashes = ((0L until n).map(i => (i, 0x0F0F0F0F0F0F0F0FL)) ++
      (1L to 8L).map(i => (1000L + i, 0x1111111111111111L * i))).toDF("asset_id", "ahash")
    val uncapped = ImageDedup.nearDupPairs(hashes, maxBucket = Long.MaxValue)
    assert(uncapped.count() >= n * (n - 1) / 2)
    val capped = ImageDedup.nearDupPairs(hashes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(capped.length <= n - 1, s"capped pair count ${capped.length} is not linear")
    val star = capped.filter { case (a, _, _) => a == 0L }
    assert(star.length === (n - 1).toInt, "every identical asset must pair with the min-id rep")
    assert(star.forall(_._3 == 0L)) // identical aHashes → hamming 0
    assert(star.map(_._2).toSet === (1L until n).toSet)
  }

  test("incremental: a delta copy of hot-bucket base content still hits the index") {
    // 200 identical docs IN THE INDEX make every band bucket over-cap; a
    // new copy arriving in the delta must still match (pre-r14 it was
    // silently waved through as novel) — via the star: one candidate
    // against the min-id base representative, at full signature agreement
    val boiler = degenerate.filter(col("doc_id") < NIdentical)
    val delta = boiler.limit(1).select(lit(50000L).as("doc_id"), col("text"))
    val hits = IncrementalDedup.matchesFrom(
      MinHashLSH.signatures(boiler).localCheckpoint(false),
      MinHashLSH.signatures(delta).localCheckpoint(false))
      .collect()
    assert(hits.length === 1)
    assert(hits.head.getLong(0) === 50000L)
    assert(hits.head.getLong(1) === 0L) // the min-id base representative
    assert(hits.head.getLong(2) === MinHashLSH.NumHashes.toLong)
  }

  test("capped-away identical docs are exactly what exact dedup catches") {
    val exact = DedupCorpus.exactDedup(degenerate)
    val boilerGroup = exact.filter(col("dup_cnt") === NIdentical)
    assert(boilerGroup.count() === 1)
    assert(boilerGroup.head().getLong(0) === 0L) // smallest doc_id survives
  }

  test("cap is a no-op on the oracle corpus (CORRECTNESS parity untouched)") {
    val corpus = DedupCorpus.augment(Tables.documents(spark, sf001))
    val sigs = MinHashLSH.signatures(corpus)
    val capped = MinHashLSH.nearDupPairs(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = MinHashLSH.nearDupPairs(sigs, maxBucket = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped === uncapped)
    val fps = SimHash.fingerprints(corpus)
    val cappedSh = SimHash.nearDupPairs(fps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val uncappedSh = SimHash.nearDupPairs(fps, maxBucket = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cappedSh === uncappedSh)
  }

  test("image: cap is a no-op on the gated fixture (mm_dedup_pairs_gated's saved hashes)") {
    val aHashes = spark.read.parquet(ImageDedup.ensureSavedHashes(spark, 100))
    val cappedImg = ImageDedup.nearDupPairs(aHashes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val uncappedImg = ImageDedup.nearDupPairs(aHashes, maxBucket = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cappedImg.nonEmpty)
    assert(cappedImg === uncappedImg)
  }
}
