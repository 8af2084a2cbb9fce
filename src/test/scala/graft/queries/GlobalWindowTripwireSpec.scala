package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.Window

/** Tripwire for ACCIDENTAL single-partition windows (VERDICT r13 §perf:
  * the deliberate 32-256-row bucket-offset windows flood the logs with
  * WindowExec warnings, which would mask a future accidental global
  * window — and the bench now runs at ERROR level, silencing even that).
  * This spec makes the masking impossible at the PLAN level: it walks the
  * optimized plan of EVERY declared query (in the shared [[CatalogSweep]]
  * pass) and asserts the exact set of queries carrying a partition-less
  * Window equals the documented whitelist — each member a bounded
  * bucket-offset frame (two-level prefix sum over ≤ shuffle-partition-count
  * offset rows; see TokenBudget/RangeRank/GlobalShuffle scaladoc), never a
  * corpus-wide sort. A new global window anywhere else fails HERE with the
  * query name, whatever the log level.
  */
class GlobalWindowTripwireSpec extends SparkSpec {

  /** Queries whose optimized plans legitimately contain a partition-less
    * Window. Every entry must trace to one of the documented bucket-offset
    * frames; additions require the same scaladoc argument (frame bounded
    * by partition count, not data size).
    */
  private val DocumentedGlobalWindows: Set[String] = Set(
    // TokenBudget.select prefix sum over per-bucket offsets (the _bpe
    // twin rides the same selectWith core with the BPE tok column)
    "docs_token_budget", "docs_token_budget_sampled_u10",
    "docs_token_budget_bpe", "docs_packed_bpe",
    // SequencePacking pack assignment rides the same offset frame
    "docs_packed", "docs_pack_fill", "docs_pack_boundaries",
    "docs_packed_mixture",
    // composed pipelines embedding the packing stage (the sampled-summary
    // twin is absent: its HT estimate ceiling-divides totals and never
    // runs the pack-assignment window)
    "docs_training_shard", "docs_training_shard_neardup",
    "docs_training_shard_substring", "docs_shard_summary",
    // RangeRank global rank via per-partition offsets
    "docs_global_shuffle", "docs_shuffle_manifest", "docs_quality_deciles",
    // WeightedSampled rank-then-cut rides the same RangeRank offset frame
    // (the _summary twin left this list in r16: its ADVICE fix checkpoints
    // the ranked frame before the fan-out, so the analyzed plan the walker
    // sees starts at the materialized RDD — the window still runs, inside
    // the checkpointed fragment, with the same bounded offset frame)
    "docs_weighted_sample",
    // the reservoir replay's final merge: a global window BOUNDED by
    // Buckets·k survivor rows (configuration-sized, never data-sized)
    "docs_weighted_sample_stream_replay",
    // per-source quota cut: the offset window runs over |sources| count
    // rows (the QualityDeciles srcMeta shape)
    "docs_weighted_sample_by_source",
    // KMV window spelling: top-k over per-group hashes, grouped frame is
    // the partition column set — flagged only where the group count is 1
    "text_vocab_kmv")

  test("the global-window query set is exactly the documented whitelist") {
    assumeTestdata(sf001)
    val offenders = CatalogSweep.rows.filter { r =>
      r.globalWindow.fold(e => fail(s"query ${r.name} failed to analyze: $e"), identity)
    }.map(_.name).toSet
    val undocumented = offenders -- DocumentedGlobalWindows
    val stale = DocumentedGlobalWindows -- offenders
    assert(undocumented.isEmpty,
      s"UNdocumented global windows (single-partition sort risk): $undocumented")
    assert(stale.isEmpty,
      s"whitelist entries no longer carrying a global window (update the doc): $stale")
  }

  /** BLIND SPOT of the sweep above (ADVICE r16): a `localCheckpoint`
    * inside a query truncates the lineage the walker sees, so a window
    * added INSIDE a checkpointed fragment is invisible to the declared-
    * query walk. `docs_weighted_sample_summary` is the one declared query
    * whose window-bearing fragment is fully checkpointed — pin that
    * fragment's pre-checkpoint plan directly: exactly ONE global window
    * (the RangeRank per-partition offset frame, bounded by the shuffle
    * partition count). A future window added inside the fragment fails
    * here even though the sweep can't see it.
    */
  test("the checkpointed weighted-sample fragment carries exactly the RangeRank offset window") {
    assumeTestdata(sf001)
    val frag = graft.sampling.WeightedSampled.rankedWithK(
      graft.queries.Tables.documents(spark, sf001))
    val globals = frag.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty => w
    }
    assert(globals.size == 1,
      s"rankedWithK fragment global-window count drifted: ${globals.size} " +
        "(expected exactly the bounded RangeRank offset window — document any addition)")
  }
}
