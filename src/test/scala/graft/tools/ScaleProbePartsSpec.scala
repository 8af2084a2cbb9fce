package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Pins the probe harness's partition-sizing contract (no Spark needed):
  * default families hold constant BYTES per partition via 32·k; tiny-row
  * (events-based) families run the bytes-regime rule `max(32, 4·k)` so
  * per-partition bytes stay cluster-realistic (~1 MB, not ~127 KB) and
  * sort-shuffle's per-(map,reduce)-segment constant cannot read as plan
  * superlinearity (see the [[ScaleProbe.tinyRowParts]] scaladoc for the
  * r13 stage-level evidence).
  */
class ScaleProbePartsSpec extends AnyFunSuite {

  test("default families scale partitions 32·k") {
    assert(ScaleProbe.partsFor("dedup_ngram_pairs", 1) === 32)
    assert(ScaleProbe.partsFor("dedup_ngram_pairs", 8) === 256)
    assert(ScaleProbe.partsFor("docs_curated", 32) === 1024)
  }

  test("tiny-row families run max(32, 4·k) — constant rows per partition between verdict factors") {
    // dedup_minhash_pairs joined the regime in r14: its SHUFFLES carry
    // band keys/signatures (44 KB per reduce partition at ×32 under 32·k),
    // while its FIXTURE stays at explodeDocs' 32·k (document-sized rows)
    for (fam <- Seq("events_sessions", "graph_pagerank", "dedup_minhash_pairs")) {
      assert(ScaleProbe.partsFor(fam, 1) === 32)
      assert(ScaleProbe.partsFor(fam, 8) === 32)
      assert(ScaleProbe.partsFor(fam, 32) === 128)
      // the verdict ratio compares ×8 vs ×32: rows grow 4× and partitions
      // grow 4×, so per-partition rows are identical on both sides
      assert(ScaleProbe.partsFor(fam, 32) === 4 * ScaleProbe.partsFor(fam, 8))
    }
  }

  test("every tinyRowParts key is a probe family name (no dead overrides)") {
    // the override map is consulted by name at runAt; a typo'd key would
    // silently leave the family on 32·k — keep the keys tied to reality
    val known = Set(
      "events_sessions", "graph_pagerank", "dedup_minhash_pairs",
      "tpch_revenue_monthly_sampled_shuffle",
      // r15 continuation: the A-ES weighted sample ranks ~30 B
      // (doc_id, source, n_chars) rows through RangeRank's exchange;
      // the triangle census shuffles 2-long edge/wedge rows
      "docs_weighted_sample", "graph_triangles",
      // r17: the attribution join shuffles (user,event,ts) rows and the
      // posting build's exchange carries map-side-collapsed postings —
      // the first 32·k sweep read 11.3 / 8.06 on per-task constants
      "events_attribution", "docs_search_and")
    assert(ScaleProbe.tinyRowParts.keySet === known)
  }

  test("every familyConf key is a probe family name (no dead conf overrides)") {
    // same hazard as tinyRowParts: a typo'd key would silently run the
    // forced-shuffle family in the broadcast regime — the exact
    // unexecuted-claim failure the override exists to remove
    assert(ScaleProbe.familyConf.keySet ===
      Set("tpch_revenue_monthly_sampled_shuffle", "graph_triangles",
        // r16: the substring-dedup position⋈dup join flips broadcast→
        // sort-merge between factors unforced (StageCpu-attributed); the
        // probe runs its 100 TB regime at every factor, and the
        // incremental ingest shares the join shape
        "docs_substring_dedup", "docs_substring_incremental",
        // r17: the confirmed ingest twin shares the position⋈index shape
        "docs_substring_incremental_confirmed"))
    // and the shuffle family must disable BOTH thresholds (AQE re-converts
    // to broadcast at stage materialization if only the static one is off)
    val conf = ScaleProbe.familyConf("tpch_revenue_monthly_sampled_shuffle").toMap
    assert(conf.get("spark.sql.autoBroadcastJoinThreshold") === Some("-1"))
    assert(conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold") === Some("-1"))
    // graph_triangles' forced regime needs all THREE settings: both
    // broadcast thresholds off (static + AQE re-conversion) AND the
    // sort-merge preference off so the closure runs as shuffled-hash —
    // dropping any one silently reverts the x8 side to a different plan
    // than the PROFILE_SCALE attribution describes
    val tri = ScaleProbe.familyConf("graph_triangles").toMap
    assert(tri.get("spark.sql.autoBroadcastJoinThreshold") === Some("-1"))
    assert(tri.get("spark.sql.adaptive.autoBroadcastJoinThreshold") === Some("-1"))
    assert(tri.get("spark.sql.join.preferSortMergeJoin") === Some("false"))
  }

  test("every tinyRowParts, familyConf and AttributionNotes key names a family in the probe's table") {
    // the hand-copied sets above pin each map's intent; this ties all
    // three to the families the sweep actually runs. Notes on an
    // extended-factor re-probe are keyed by its merge-row name
    // (<family>__x<lo>_<hi>), so the suffix is stripped first.
    val families = ScaleProbe.Families.keySet
    assert(ScaleProbe.tinyRowParts.keySet -- families === Set.empty)
    assert(ScaleProbe.familyConf.keySet -- families === Set.empty)
    val noteFamilies = ScaleProbe.AttributionNotes.keySet.map(_.replaceFirst("__x\\d+_\\d+$", ""))
    assert(noteFamilies -- families === Set.empty)
  }
}
