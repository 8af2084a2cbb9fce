package graft.queries

import graft.{NoOracle, Query, SparkEntry, SparkSpec}

/** Catalog-wide LAYOUT-invariance tripwire (VERDICT r16 item 6):
  * repartition invariance was spec-pinned per-operator in a handful of
  * places; this suite pins it for EVERY declared query at once. Each
  * query runs twice at sf0.001 — against the pristine fixture and
  * against a byte-identical copy rewritten as `repartition(7)` parquet
  * (different file count, different row-to-file assignment, hence
  * different scan partitioning and different per-partition iteration
  * order all the way down) — and the result MULTISETS must match. A
  * query whose answer depends on partition boundaries (an accidental
  * `spark_partition_id`, a per-partition RNG, a first-wins merge that
  * isn't actually deterministic) fails here BY NAME.
  *
  * The queries whose answer legitimately depends on the layout are the
  * registry's `NoOracle(reason, layoutSensitive = true)` entries; every
  * other query must be bit-stable. The runs come from the shared
  * [[CatalogSweep]] pass.
  *
  * Saved artifacts rebuild per layout automatically (their paths key on
  * the fixture's file metadata), so artifact DERIVATIONS are covered by
  * the same sweep: a layout-sensitive artifact build surfaces as a
  * layout-sensitive query result.
  */
class LayoutInvarianceSpec extends SparkSpec {

  test("every declared query is layout-invariant (default vs repartition(7) fixture)") {
    assumeTestdata(sf001)
    val rows = CatalogSweep.rows
    rows.foreach { r =>
      r.pristine.left.foreach(e => fail(s"query ${r.name} failed on the pristine layout: $e"))
      r.repartitioned.left.foreach(e =>
        fail(s"query ${r.name} failed on the repartition(7) layout: $e"))
    }
    val diffs = rows.filter(r => r.pristine != r.repartitioned).map(_.name).toSet
    // the documented exceptions: queries without an oracle declared
    // layout-sensitive in the registry, each with its reason
    val sensitiveByDesign = SparkEntry.all.collect {
      case Query(name, _, NoOracle(_, true)) => name
    }.toSet
    val undocumented = diffs -- sensitiveByDesign
    val stale = sensitiveByDesign -- diffs
    assert(undocumented.isEmpty,
      s"LAYOUT-SENSITIVE queries outside the documented set: $undocumented")
    assert(stale.isEmpty,
      s"documented layout-sensitive queries now invariant (update the doc): $stale")
  }
}
