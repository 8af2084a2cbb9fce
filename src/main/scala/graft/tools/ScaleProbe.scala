package graft.tools

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{CosinePairs, DedupCorpus, DedupClusters, JaccardPairs, MinHashLSH}
import graft.queries.Tables

/** Synthetic scale probe: explode the sf-dir fixtures ×k and time the
  * heaviest engine operators at each factor, asserting process-CPU time
  * grows ≤ ~linearly (wall recorded alongside; see the verdict comment in
  * main for why CPU carries the verdict on a noisy shared host) — local
  * evidence that the 100 TB design claims (banded joins, bounded buckets,
  * one-shuffle windows) hold beyond the fixture scale.
  *
  * Every ×k fixture comes from one primitive, [[copies]]: the base rows
  * tagged with a copy index in ONE plan branch, with column-valued
  * per-copy transforms. Copy construction matters for honesty:
  *  - documents: every token of copy i > 0 gets the suffix `q<i>`, so
  *    copies share no vocabulary — plain duplication would make every doc a
  *    cross-copy near-duplicate and the dedup pair count quadratic IN THE
  *    FIXTURE, not the engine. With disjoint vocabularies each copy
  *    carries its own injected-dup structure, so outputs and join work
  *    scale ~k×, which is exactly what a k×-larger real corpus does.
  *  - events: user_id/event_id shifted per copy → k× users at the same
  *    per-user event density (what growth looks like in production).
  *  - every exploded fixture is repartitioned to 32·k — CONSTANT bytes
  *    per task at every factor, the invariant a real cluster's fixed
  *    split size (128 MB) provides. k copies of a few base partitions
  *    break the comparison twice: a small factor fills only some of the
  *    cores (higher per-core L3/memory-bandwidth headroom → CPU seconds
  *    read artificially LOW on the small factor; an r11 sweep measured
  *    tf-idf's explode stage at 7× CPU for 4× rows from that alone), and
  *    per-TASK input grows with k, so map-side partial-aggregation hash
  *    state falls out of cache on the big factor only (the r11 pair-family
  *    probes read ~2× per-row CPU at ×32 from that). Constant split size
  *    removes both at once — every factor saturates all cores AND carries
  *    identical per-task state.
  *
  * Usage: `runMain graft.tools.ScaleProbe [factors] [family...]` (default
  * 1,8,32 over every family; trailing names restrict the run — for
  * re-probing one fixed family without the full sweep); env
  * SPARK_GRAFT_SF_DIR picks the base fixture (default sf0.1) and
  * SPARK_GRAFT_CPUS the core count ([[graft.GraftSession.cpus]]).
  * A full run writes PROFILE_SCALE.json to the working dir. A restricted
  * run MERGES its families' rows into the existing artifact whenever the
  * artifact's `sf` matches this probe's fixture, and only prints
  * otherwise: at the default factor set (1,8,32) a row replaces the
  * family's own row (the one-family re-probe workflow), at any other set
  * it lands under the factor-suffixed name `<family>__x<lo>_<hi>` of the
  * two verdict factors. Exits non-zero if any operator's large-factor
  * scaling ratio exceeds linear × [[Slack]]. `graft.tools.Profile
  * <family> [factor…]` shows where one family's time goes at a factor.
  */
object ScaleProbe {

  /** Tolerated super-linearity (shuffle fan-in, spill, scheduling). */
  val Slack = 2.0

  /** Per-family shuffle/fixture partition rule for TINY-ROW fixtures
    * (r13). The harness's constant-bytes-per-partition model (the 32·k
    * rule) assumes partitions carry cluster-realistic bytes; the events
    * table's 24-byte rows break that assumption — at ×32, 3.2 M rows over
    * 1024×1024 shuffles is ~127 KB per reduce partition, three orders
    * below the 128 MB a real deployment (or AQE advisory sizing) would
    * produce. In that regime sort-shuffle's fixed per-(map,reduce)-segment
    * constant — invisible at cluster bytes — dominates and grows with
    * M·R ∝ k² while rows grow k: the full r13 sweep read
    * `events_sessions` at 9.71 (bound 8.0) and `StageCpu events_sessions
    * 8 32` attributed it — the window-exchange stage holds per-task rows
    * CONSTANT across factors (~3.1 k) yet per-task CPU triples
    * (14 → 40 ms), i.e. overhead ∝ partition count, not data. Families
    * here run `max(32, 4·k)` partitions instead: per-partition bytes land
    * ~1 MB (the regime any real config operates in), per-partition rows
    * stay constant between the verdict factors (×8 → 32 parts, ×32 → 128),
    * and the M·R term stays negligible — so the ratio measures the PLAN's
    * work again. Applies to both the fixture repartition and
    * `spark.sql.shuffle.partitions` (map and reduce side must sit in the
    * same regime).
    */
  val tinyRowParts: Map[String, Int => Int] = Map(
    "events_sessions" -> ((k: Int) => math.max(32, 4 * k)),
    "graph_pagerank" -> ((k: Int) => math.max(32, 4 * k)),
    // r14 (VERDICT r13 item 7): the minhash pair family's SHUFFLES carry
    // band keys and 16-long signatures — 45.6 MB over 1024 reduce
    // partitions at ×32 (44 KB each). Note the asymmetry for doc
    // families: the FIXTURE stays at explodeDocs' 32·k (document-sized
    // rows, the scan side is bytes-realistic); only the shuffle
    // partitions drop to the regime.
    "dedup_minhash_pairs" -> ((k: Int) => math.max(32, 4 * k)),
    // r15 (VERDICT r14 item 2): the forced-shuffle join-sampling probe
    // moves 3-4-column TPC-H rows (~30 B each) through both join
    // exchanges — the same tiny-row shape as the events families.
    "tpch_revenue_monthly_sampled_shuffle" -> ((k: Int) => math.max(32, 4 * k)),
    // r15 continuation: the A-ES weighted sample ranks (doc_id, source,
    // n_chars) rows (~30 B) through RangeRank's range exchange — tiny-row
    // regime for the same M·R-constant reason.
    "docs_weighted_sample" -> ((k: Int) => math.max(32, 4 * k)),
    // r15 continuation: the triangle census shuffles 2-long edge and
    // wedge rows — the events-family shape.
    "graph_triangles" -> ((k: Int) => math.max(32, 4 * k)),
    // r17: the attribution join shuffles (user_id, event_id, ts) rows and
    // the posting build's aggregate exchange carries (term, doc, positions)
    // rows collapsed map-side — both the tiny-row shape (the first sweep
    // at 32·k read 11.3 / 8.06 with per-task constants dominating).
    "events_attribution" -> ((k: Int) => math.max(32, 4 * k)),
    "docs_search_and" -> ((k: Int) => math.max(32, 4 * k)))

  /** Partition count for `family` at factor `k` (default 32·k). */
  def partsFor(family: String, k: Int): Int =
    tinyRowParts.get(family).map(_(k)).getOrElse(32 * k)

  /** Per-family session-conf overrides, applied around the family's runs
    * and restored after (VERDICT r14 item 2): the join-sampling probe
    * must execute in the SHUFFLE regime — at every probe factor the
    * post-sample orders side still fits a broadcast, so without the
    * override the probe would time a broadcast join and the family's
    * whole 100 TB claim (both exchanges cut ×p) would stay unexecuted.
    * Both the static and the AQE runtime thresholds must be disabled
    * (AQE re-converts to broadcast at stage materialization otherwise).
    */
  val familyConf: Map[String, Seq[(String, String)]] = Map(
    "tpch_revenue_monthly_sampled_shuffle" -> Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"),
    // graph_triangles (r15): at ×8 the closure join BROADCASTS the edge
    // side (4.6 MB < threshold) while at ×32 it goes sort-merge — the
    // unforced ratio compares two different plans and reads 7.87, with
    // StageCpu showing the excess in single/5-task SORTS of the 57.6M-row
    // wedge stream (241 MB through AQE byte-coalesced partitions). The
    // probe therefore runs the shape a 100 TB deployment would: edge side
    // never broadcastable (thresholds −1) and shuffled-HASH join instead
    // of sort-merge (preferSortMergeJoin=false) — sorting the wedge
    // stream, the algorithm's dominant intermediate, is pure waste when a
    // per-partition hash build of the (smaller) edge side suffices.
    "graph_triangles" -> Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "false"),
    // docs_substring_dedup (r16): same plan-flip as graph_triangles — at
    // ×8 the dup-gram set broadcasts (positions never shuffle) while at
    // ×32 the position⋈dup join goes sort-merge, and the unforced ratio
    // compares the two plans (StageCpu: x8 one 219 MB exchange, x32 two
    // corpus-sized exchanges + a 3.1 GB merge stage). At 100 TB the dup
    // set never broadcasts, so the probe runs that regime at both
    // factors, shuffled-hash (sorting the position stream is waste when
    // a per-partition hash build of the aggregated dup side suffices).
    "docs_substring_dedup" -> Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "false"),
    // same position⋈index join shape, same flip risk, same 100 TB regime
    "docs_substring_incremental" -> Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "false"),
    "docs_substring_incremental_confirmed" -> Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "false"))

  /** Stage-attribution notes carried into the artifact cell (VERDICT r13
    * item 7): for families whose ratio sits near the bound for PINNED
    * harness/regime reasons rather than plan reasons, the evidence lives
    * next to the number instead of in a per-round forensic exercise.
    * Populated from stage tables (`tools/Profile`; notes before it cite
    * its predecessor StageCpu); keep each note one sentence.
    */
  val AttributionNotes: Map[String, String] = Map(
    "docs_search_and" ->
      ("times the index CONSTRUCTION (tokenize + positions collect + " +
        "(term,doc) aggregate) plus the pruned 3-term conjunctive probe; " +
        "the per-copy vocabulary suffix grows the term space k-fold like " +
        "a real k-times-larger corpus, the query terms' posting mass " +
        "grows k-fold, everything else is untouched buckets. Runs in the " +
        "tiny-row shuffle regime (the aggregate exchange carries " +
        "map-side-collapsed (term,doc,positions) rows; the 32k-partition " +
        "sweep read 8.06 on per-task constants); min-of-trials carries " +
        "the verdict through heavy neighbor-noise windows (x32 trials " +
        "spanned 41.5-1864s CPU on identical code)"),
    "events_attribution" ->
      ("batch replay of the stream-stream windowed join: per-copy user-id " +
        "blocks keep pairing inside each copy so the pair table grows " +
        "k-fold (never k^2); cost is two pushed-filter scans + one " +
        "user-keyed shuffle join. Tiny-row regime ((user,event,ts) rows; " +
        "the 32k-partition sweep read 11.3 on the M*R per-segment " +
        "constant, the events_sessions precedent)"),
    "docs_substring_dedup" ->
      ("runs under familyConf (broadcast off + preferSortMergeJoin=false): " +
        "unforced, x8 broadcasts the dup-gram set while x32 goes " +
        "sort-merge and the cross-plan ratio read 6.98 in r16 (StageCpu: " +
        "x8 one 219MB exchange vs x32 two corpus-sized exchanges + a " +
        "3.1GB merge stage, 11.4x stage CPU) — in the forced 100TB regime " +
        "at both factors the r17 byte-exact-confirm chain reads 4.23 vs " +
        "linear 4.0 (r16 pre-confirm: 4.63); the confirm's candidate " +
        "collect + corpus join rides the same dup-mass scaling"),
    // extended-factor drift check (VERDICT r15 item 7) — keyed by the
    // factor-suffixed merge-row name
    "docs_substring_dedup__x8_64" ->
      ("x8/x64 = 9.92 vs linear 8.0 bound 16.0 in the same forced-shuffle " +
        "regime as the base row, confirm chain included; x64 trials were " +
        "partially contended (3552->2509s CPU across the interleaved set, " +
        "min carried)"),
    "events_sessions" ->
      ("StageCpu 8/32 at the bytes regime (r14): stage CPU 4.4->18.2s = 4.14 " +
        "vs linear 4.0, map stage 3.28, window stage 3.8 — plan work linear; " +
        "the residual over-linearity in min-of-trials process CPU is host " +
        "noise plus the AQE-coalesced single-task final sink stage (1.6->8.5s, " +
        "58MB fits one advisory partition at both factors)"),
    "simsearch_ivf_det" ->
      ("DESIGNED n^1.5 term: flat-IVF assignment costs n x nlist with nlist " +
        "derived ~sqrt(n) (Jegou 2011 balance — buys sqrt(n) per-list size " +
        "so probe cost per query is sublinear); that stage alone would read " +
        "8.0 on the x8->x32 step, so a future reading ABOVE today's 2.27 " +
        "(fixed per-row costs still dominate at 64k vectors) and up toward " +
        "the bound is the design emerging, not a plan defect"),
    "tpch_revenue_monthly_sampled_shuffle" ->
      ("runs under familyConf broadcast-threshold=-1 (static AND adaptive): " +
        "the only regime where the correlated sample's both-exchanges-cut-xp " +
        "claim executes; the exchange byte ratio vs the exact plan is pinned " +
        "by JoinSampledSpec, this row pins linear CPU of the sort-merge plan"),
    "graph_triangles" ->
      ("runs under familyConf (broadcast off + preferSortMergeJoin=false) so " +
        "both factors execute the 100TB closure shape — unforced, x8 " +
        "broadcasts the 4.6MB edge side while x32 goes sort-merge and the " +
        "cross-plan ratio read 7.87. StageCpu pinned per-WEDGE cost constant " +
        "(wedge gen 0.48us at x8 vs 0.47us at x32 — the algorithmic core " +
        "linear in W); same-head readings span 2.83-4.26 vs linear " +
        "4.0 — the r15 contended-window spread on min-of-trials, with the " +
        "stage-level per-wedge constant as the plan-linearity evidence"))

  /** Guard of every ×k fixture (ADVICE r15): the "k disjoint copies"
    * premise holds only while every BASE id sits below the per-copy shift
    * block — a fixture regeneration whose ids reach the block would
    * overlap copies and silently distort the scaling verdict. One-row agg
    * over the (small) base frame, MEMOIZED per fixture per process (review
    * r16): fixtures are built lazily inside the probe's timed window
    * (runAt takes the plan by name — the r12 discipline), so an every-call
    * scan would add a constant base-fixture pass to both factors and
    * deflate the ratio toward linear_ok; with the memo only the untimed
    * warmup trial pays it. The memo keys on (fixture, input-plan semantic
    * hash) — not the fixture name alone — so a multi-fixture JVM (a test
    * process probing several datasets) re-checks each distinct base frame
    * instead of letting the first fixture's pass suppress the guard for
    * the rest (ADVICE r16).
    */
  private val idGuardPassed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def requireIdsBelowBlock(
      base: DataFrame, idCol: Column, block: Long, what: String): Unit = {
    val memoKey = s"$what:${base.queryExecution.analyzed.semanticHash()}"
    if (idGuardPassed.contains(memoKey)) return
    val row = base.agg(max(idCol)).head()
    // empty base (max = NULL): no ids, trivially collision-free
    if (!row.isNullAt(0)) {
      val mx = row.getLong(0)
      require(mx < block,
        s"ScaleProbe $what: max base id $mx >= shift block $block — " +
          "exploded copies would overlap; fix the fixture or raise the block")
    }
    idGuardPassed.add(memoKey)
  }

  private val CopyIndex = "probe_copy_index"

  /** The ONE ×k fixture primitive: `k` copies of `base` as a single plan
    * branch. Each base row is tagged with its copy index `i` in [0, k)
    * by `explode(sequence(0, k-1))`, the tagged rows are repartitioned to
    * `parts`, and `project(i)` builds copy i's columns with column-valued
    * per-copy transforms. One branch keeps every task's plan the same size
    * at every factor (a k-branch union made each of the fixture's tasks
    * deserialize k branches, a harness term growing ~k²), and the
    * transforms run in the `parts`-wide stage rather than in the few
    * base-scan tasks. `guardId` over the base must stay below `block`
    * ([[requireIdsBelowBlock]], reported as `what`).
    */
  private def copies(base: DataFrame, k: Int, parts: Int, guardId: Column, block: Long, what: String)(
      project: Column => Seq[Column]): DataFrame = {
    requireIdsBelowBlock(base, guardId, block, what)
    base.withColumn(CopyIndex, explode(sequence(lit(0), lit(k - 1))))
      .repartition(parts)
      .select(project(col(CopyIndex)): _*)
  }

  /** Column `c` moved into copy `i`'s id block: `c + i·block`. */
  private def shifted(c: String, i: Column, block: Long): Column =
    (col(c) + i.cast("long") * block).as(c)

  /** ×k documents: doc_ids shifted by i·[[DedupCorpus.IdBlock]] and a
    * per-copy suffix `q<i>` appended to EVERY token of copy i > 0, so
    * copies share no vocabulary at any k. (A 26-letter rotation cipher was
    * tried first: at k > 26 the rotations wrap and copy i duplicates copy
    * i−26 byte-for-byte, which doubled posting-list df and showed up as a
    * 9.8× jump on the ×8→×32 step of `dedup_ngram_pairs` — a fixture
    * artifact, not engine behavior.) `carry` columns pass through.
    */
  def explodeDocs(docs: DataFrame, k: Int, carry: Seq[String] = Nil): DataFrame =
    copies(docs, k, 32 * k, col("doc_id"), DedupCorpus.IdBlock, "explodeDocs") { i =>
      shifted("doc_id", i, DedupCorpus.IdBlock) +: carry.map(col) :+
        // (?i): uppercase token runs must get the per-copy suffix too —
        // Hashing.words lowercases before tokenizing, so an unsuffixed
        // "Word" would be shared vocabulary across all copies (ADVICE r8)
        when(i === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(?i)([a-z0-9]+)"), concat(lit("$1q"), i.cast("string"))))
          .as("text")
    }

  /** ×k narrow-column documents (doc_id + `carry`, NO text): for families
    * that read only metadata columns, [[explodeDocs]]' per-copy token
    * rewrite would add fixture CPU unrelated to the plan under test.
    * Shifted ids give every copy independent hash draws.
    */
  def explodeDocsNarrow(docs: DataFrame, k: Int, parts: Int, carry: Seq[String]): DataFrame =
    copies(docs, k, parts, col("doc_id"), DedupCorpus.IdBlock, "explodeDocsNarrow") { i =>
      shifted("doc_id", i, DedupCorpus.IdBlock) +: carry.map(col)
    }

  /** ×k events: user_id shifted by i·10⁸ and event_id by i·10⁹ → k× users
    * at the same per-user event density. `parts` follows the family's
    * [[partsFor]] rule (map- and reduce-side counts in the same regime).
    */
  def explodeEvents(events: DataFrame, k: Int, parts: Int): DataFrame =
    // greatest(user_id, event_id div 10) < 10⁸ ⟺ both ids under their
    // own block: one guard agg for two blocks
    copies(events, k, parts, greatest(col("user_id"), expr("event_id div 10")),
      DedupCorpus.IdBlock, "explodeEvents") { i =>
      events.columns.toSeq.map {
        case "user_id" => shifted("user_id", i, 100000000L)
        case "event_id" => shifted("event_id", i, 1000000000L)
        case c => col(c)
      }
    }

  /** ×k orders+lineitem with the SAME per-copy orderkey shift (i·10⁹) on
    * both sides, so each copy carries the fixture's intact join structure
    * — kept keys per copy are an independent ~p draw (the md5 of a shifted
    * key is unrelated to the original's), which is exactly what k× more
    * real orders look like to the correlated sampler. Column-pruned to
    * the probe query's needs.
    */
  def explodeOrders(orders: DataFrame, k: Int, parts: Int): DataFrame =
    copies(orders, k, parts, col("o_orderkey"), 1000000000L, "explodeOrders") { i =>
      Seq(shifted("o_orderkey", i, 1000000000L), col("o_orderdate"))
    }

  /** Lineitem side of [[explodeOrders]] — the identical key shift. */
  def explodeLineitem(lineitem: DataFrame, k: Int, parts: Int): DataFrame =
    copies(lineitem, k, parts, col("l_orderkey"), 1000000000L, "explodeLineitem") { i =>
      Seq(shifted("l_orderkey", i, 1000000000L), col("l_extendedprice"), col("l_discount"))
    }

  /** Fixture embedding dimensionality. [[explodeEmbeddings]]' per-copy
    * rotations are distinct only below this; the require makes the
    * constraint enforced rather than assumed (ADVICE r10).
    */
  val EmbeddingDims = 64

  /** ×k embeddings: vec_ids shifted by i·10⁸; copy i circularly rotates
    * the vector by i dims (norm-preserving, but a different sign pattern
    * against the LSH hyperplanes) so copies spread across buckets instead
    * of piling onto copy 0's positions — probe factors must stay below the
    * [[EmbeddingDims]] dims so every copy gets a distinct rotation (at
    * k > dims the wrap silently re-collides copies, a fixture artifact).
    */
  def explodeEmbeddings(emb: DataFrame, k: Int): DataFrame = {
    require(k <= EmbeddingDims,
      s"explodeEmbeddings: k=$k exceeds the $EmbeddingDims-dim fixture — " +
        "rotations would wrap and collide copies (fixture artifact, not engine behavior)")
    copies(emb, k, 32 * k, col("vec_id"), DedupCorpus.IdBlock, "explodeEmbeddings") { i =>
      Seq(shifted("vec_id", i, 100000000L), col("label"),
        // copy 0: slice(e, 1, 0) is empty, so the concat is e itself
        concat(slice(col("embedding"), i + 1, lit(1 << 20)), slice(col("embedding"), lit(1), i))
          .as("embedding"))
    }
  }

  /** ×k canonical edge set of the triangle census: BOTH endpoints shift
    * by i·[[DedupCorpus.IdBlock]] (the statsFromUndirected seam), so the
    * k× graph is k disjoint copies of the base structure: edges, wedges
    * and triangles all scale exactly k× and the oriented out-degree bound
    * stays block-local. (Shifting only user ids, as explodeEvents does,
    * would leave props.k nodes shared across copies — k×-degree hubs, a
    * different graph.) The base is the declared query's own
    * canonical-edge derivation, and the guard reads the DERIVED endpoints:
    * node ids include props.k-derived synthetic ids, not just user_ids
    * (ADVICE r15).
    */
  def explodeEdges(events: DataFrame, k: Int): DataFrame =
    copies(graft.graphs.Triangles.canonicalEdges(events), k, partsFor("graph_triangles", k),
      greatest(col("a"), col("b")), DedupCorpus.IdBlock, "explodeEdges") { i =>
      Seq(shifted("a", i, DedupCorpus.IdBlock), shifted("b", i, DedupCorpus.IdBlock))
    }

  /** Power-law pair graph over an exploded corpus (VERDICT r12 §next 4):
    * every probe fixture so far replicates dup structure EVENLY per copy,
    * so the CC families never see a skewed label — this builds the shape
    * that first hurts them: ONE mega-star component holding ~10 % of ALL
    * docs across every copy (hub = doc 0; membership doc_id % 10 = 0,
    * which every shifted copy satisfies, so the cluster grows k× while
    * background structure stays per-copy). Remaining docs get small
    * 2-clusters (doc_id % 10 = 1 paired with its successor) so the rest
    * of the graph is non-trivial. Injected at the decision layer
    * deliberately: the MinHash candidate path's bucket cap bounds degree
    * at NumBands × MaxBucket = 512 BY DESIGN, so a text fixture cannot
    * produce this skew — the probe drives the CC edge shuffle directly
    * with the worst case the cap no longer protects against (e.g. pairs
    * from an exact-hash or embedding source with no cap).
    *
    * Skew landing spots this exercises, per [[graft.dedup.DedupClusters]]:
    * min-label propagation joins edges on dst (dst = hub carries 10 % of
    * all edges — one hot join partition, AQE's skew split territory) and
    * the canonical-selection groupBy(rep) sees one label holding 10 % of
    * rows (map-side argmax combine keeps the shuffle narrow).
    */
  def powerLawPairs(docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"))
    val megaSpokes = ids
      .filter(col("doc_id") % 10 === 0 && col("doc_id") =!= 0)
      .select(lit(0L).as("doc_a"), col("doc_id").as("doc_b"))
    val smallPairs = ids
      .filter(col("doc_id") % 10 === 1)
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
    megaSpokes.unionAll(smallPairs)
  }

  /** "Is an original base-snapshot doc" over an EXPLODED augmented corpus
    * — the IncrementalDedup base/delta rule made shift-aware, shared by
    * the dedup_incremental and docs_split_incremental probe entries:
    * explodeDocs shifts ids by i·[[DedupCorpus.IdBlock]], so "is an
    * original" must read id mod IdBlock (the augment copy offsets are
    * below that); the block shift is ≡ 0 mod DeltaMod, so the %4 split
    * replicates per block.
    */
  def isBaseSnapshot: Column =
    (col("doc_id") % DedupCorpus.IdBlock) < DedupCorpus.ExactDupOffset &&
      col("doc_id") % graft.dedup.IncrementalDedup.DeltaMod =!= 0

  /** The base fixtures the probe families explode, read from one sf dir
    * (lazily: a restricted run reads only the tables its families use).
    */
  final class Fixtures(val spark: SparkSession, val sfDir: String) {
    lazy val docs0: DataFrame = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    lazy val docsS0: DataFrame =
      Tables.documents(spark, sfDir).select(col("doc_id"), col("source"), col("text"))
    lazy val events0: DataFrame = Tables.events(spark, sfDir)
  }

  /** Every probe family by name: its pipeline over the ×k fixtures. The
    * sweep iterates this table and [[Profile]] resolves family names in it.
    *
    * The heaviest bench families (BENCH_r07/r08 rankings), by engine shape:
    * capped bucket joins (minhash/ngram pairs), the iterative CC pipeline
    * (cleaned), the per-row winnowing array pipeline (fingerprints), the
    * one-shuffle session window, the broadcast semi-join probe
    * (decontaminated), the two-level token-frequency aggregate
    * (repetition), and the decode-dominated perceptual-hash image dedup
    * (its fixture scales by group count; at large k most 8-bit band buckets
    * exceed the skew cap — the cap is exactly what keeps the candidate join
    * from going quadratic in population, so the probe exercises the guard,
    * and decode+hash dominate the timing).
    */
  val Families: ListMap[String, (Fixtures, Int) => DataFrame] = ListMap(
    "dedup_minhash_pairs" -> ((f, k) =>
      MinHashLSH.nearDupPairs(
        MinHashLSH.signatures(DedupCorpus.augment(explodeDocs(f.docs0, k))))),
    "dedup_ngram_pairs" -> ((f, k) =>
      JaccardPairs.nearDupPairs(DedupCorpus.augment(explodeDocs(f.docs0, k)))),
    // the weighted-cosine sibling: derived df cut scales with the
    // exploded corpus (no probe-side override — the in-plan-derivation
    // probe discipline), prefix join + merge-dot verification
    "dedup_cosine_pairs" -> ((f, k) =>
      CosinePairs.nearDupPairs(DedupCorpus.augment(explodeDocs(f.docs0, k)))),
    "dedup_cleaned" -> ((f, k) =>
      DedupClusters.cleaned(DedupCorpus.augment(explodeDocs(f.docs0, k)))),
    // exact-substring excision (r16): no pair table — the per-copy
    // token suffixes give copies disjoint 40-gram vocabularies, so the
    // dup set, the position join, and the island windows all scale ~k×
    "docs_substring_dedup" -> ((f, k) =>
      graft.dedup.SubstringDedup.summary(
        DedupCorpus.augment(explodeDocs(f.docs0, k)))),
    // the incremental path at ×k: ONE ingest cycle — index build over
    // the exploded base (shift-aware base/delta split) + the delta
    // batch's excision against it; both halves must scale linearly,
    // and the sum is what an ingest pays
    "docs_substring_incremental" -> ((f, k) => {
      val full = DedupCorpus.augment(explodeDocs(f.docs0, k))
      graft.dedup.SubstringDedup.summaryIncrementalFrom(
        graft.dedup.SubstringDedup.gramIndex(full.filter(isBaseSnapshot)),
        full.filter(!isBaseSnapshot))
    }),
    // the byte-exact ingest twin (r17): same cycle plus the keeper-gram
    // extraction (pruned base-text read) and the confirm kernel
    "docs_substring_incremental_confirmed" -> ((f, k) => {
      val full = DedupCorpus.augment(explodeDocs(f.docs0, k))
      val base = full.filter(isBaseSnapshot)
      graft.dedup.SubstringDedup.summaryIncrementalConfirmedFrom(
        graft.dedup.SubstringDedup.gramIndex(base), base,
        full.filter(!isBaseSnapshot))
    }),
    // the full composed production chain with the substring stage (r17):
    // curate → byte-exact excision → near-dup quality-keep → mix → pack
    // over the source-carrying exploded corpus — every stage must scale
    // together (unforced regime like docs_training_shard_neardup: the
    // composed plan's id joins are the broadcast-friendly shapes)
    "docs_training_shard_substring" -> ((f, k) =>
      graft.text.TrainingShard.manifestSubstring(
        explodeDocs(f.docsS0, k, carry = Seq("source")))),
    "text_fingerprint" -> ((f, k) =>
      graft.text.TextAnalysis.fingerprints(explodeDocs(f.docs0, k))),
    "events_sessions" -> ((f, k) =>
      graft.operators.Sessionize.sessions(
        explodeEvents(f.events0, k, partsFor("events_sessions", k)))),
    // congressional sampling (r14): the derived-rate probe discipline —
    // NO caller rate override; as the exploded population grows ×k the
    // in-plan thresholds fall ∝1/k and kept rows per stratum stay ~300,
    // so the linear term the probe measures is the scan + broadcast
    // keep-filter (the operator's 100 TB cost), not the estimator tail
    "events_congressional" -> ((f, k) =>
      graft.sampling.CongressionalSampled.estimate(
        explodeEvents(f.events0, k, partsFor("events_congressional", k)),
        stratum = concat(col("event_type"), lit(":"),
          length(col("user_id").cast("string")).cast("string")),
        unit = col("event_id"),
        value = round(col("value") * 100).cast("long"),
        targetK = 300)),
    "docs_decontaminated" -> ((f, k) =>
      graft.text.Decontaminate.clean(
        explodeDocs(f.docs0, k).withColumn("n_chars", length(col("text")).cast("long")))),
    // the bloom twin derives its bit-table width in-plan from the
    // exploded benchmark's gram count — the probe runs the derived path
    // with NO width override (the PlaneBudget probe discipline)
    "docs_decontaminated_bloom" -> ((f, k) =>
      graft.text.Decontaminate.cleanBloom(
        explodeDocs(f.docs0, k).withColumn("n_chars", length(col("text")).cast("long")))),
    "text_repetition" -> ((f, k) =>
      graft.text.TextAnalysis.repetitionSignals(explodeDocs(f.docs0, k))),
    "mm_dedup_pairs" -> ((f, k) =>
      graft.multimodal.ImageDedup.nearDupPairs(
        graft.multimodal.ImageDedup.hashes(
          f.spark, graft.multimodal.ImageDedup.synthesizeVariants(f.spark, nGroups = 100 * k))),
    ),
    // the r9 heavy additions (VERDICT r9 next-4): the partial-agg +
    // hash-join paragraph dedup (boilerplate skew is exactly its risk
    // shape), the sign-LSH bucket semantic dedup, and the fused curation
    // projection chain
    "dedup_paragraphs" -> ((f, k) =>
      graft.text.CrossDocDedup.dedupedParagraphs(
        graft.text.Derepeat.withParagraphs(
          DedupCorpus.augment(explodeDocs(f.docs0, k))))),
    "dedup_semantic" -> ((f, k) =>
      graft.similarity.SemanticDedup.decisions(
        explodeEmbeddings(Tables.embeddings(f.spark, f.sfDir), k))),
    "docs_curated" -> ((f, k) =>
      graft.text.CurationPipeline.verdicts(explodeDocs(f.docs0, k))),
    // the r10 heavy additions (VERDICT r10 missing-1): the composed
    // 4-stage training-shard pipeline (chained intermediates are exactly
    // where a super-linear surprise would hide), the mixture-aware
    // packing (post the tokenize-once fix), and the tf→df→join TF-IDF
    // top-k. The per-copy vocabulary suffix keeps copies' sources
    // intact (mixture weights act per source at every k) while the df
    // table and posting joins grow k× as a k×-larger real corpus would.
    "docs_training_shard" -> ((f, k) =>
      graft.text.TrainingShard.manifest(
        explodeDocs(f.docsS0, k, carry = Seq("source")))),
    "docs_packed_mixture" -> ((f, k) =>
      graft.text.SequencePacking.packsMixture(
        explodeDocs(f.docsS0, k, carry = Seq("source")))),
    "text_tfidf_topk" -> ((f, k) =>
      graft.text.TfIdf.topTerms(explodeDocs(f.docs0, k))),
    // the r12 addition: quality-argmax canonical selection — CC labels
    // joined to the per-doc quality projection, then the struct-buffer
    // SortAggregate argmax; the probe checks the partial per-partition
    // sort stays linear as clusters multiply
    "dedup_canonical_quality" -> ((f, k) =>
      DedupClusters.canonicalByQuality(DedupCorpus.augment(explodeDocs(f.docs0, k)))),
    // the r12 composed flagship: curate → near-dup CC quality-keep →
    // mixture → pack. manifestNearDup augments internally, so the probe
    // feeds it the exploded RAW docs (source carried) — the composed
    // chain sees k× docs with k×-replicated dup structure
    "docs_training_shard_neardup" -> ((f, k) =>
      graft.text.TrainingShard.manifestNearDup(
        explodeDocs(f.docsS0, k, carry = Seq("source")))),
    // the r12-mandated power-law CC probes (VERDICT r12 §next 4): the
    // same decision-layer pipelines driven by [[powerLawPairs]]' mega-star
    // graph instead of the evenly-replicated MinHash structure — the
    // skewed-label worst case the bucket-capped candidate path cannot
    // produce. Note explodeDocs' per-copy text suffixing is irrelevant
    // to the pair graph here (pairs are id-keyed), but keeps the
    // corpus-side work (md5 digests, quality projection) honest.
    "dedup_cleaned_powerlaw" -> ((f, k) => {
      val d = explodeDocs(f.docs0, k)
      DedupClusters.cleanedWithPairs(d, powerLawPairs(d))
    }),
    "dedup_canonical_quality_powerlaw" -> ((f, k) => {
      val d = explodeDocs(f.docs0, k)
      DedupClusters.canonicalByQualityWithPairs(d, powerLawPairs(d))
    }),
    // the r13 additions: the fixed-iteration integer PageRank (edge list
    // grows k×; receivers are UNshifted so in-neighborhoods densify k× —
    // a hub-skew stress the partial agg must absorb), the delta-vs-index
    // LSH probe (both signature sides grow k×), the range-rank global
    // shuffle, the 3-consumer hashed-ngram importance pipeline, and the
    // rank-based per-source decile profile
    "graph_pagerank" -> ((f, k) =>
      graft.graphs.PageRank.ranks(
        explodeEvents(f.events0, k, partsFor("graph_pagerank", k)))),
    "dedup_incremental" -> ((f, k) => {
      val aug = DedupCorpus.augment(explodeDocs(f.docs0, k))
      graft.dedup.IncrementalDedup.matchesFrom(
        MinHashLSH.signatures(aug.filter(isBaseSnapshot)).localCheckpoint(false),
        MinHashLSH.signatures(aug.filter(!isBaseSnapshot)).localCheckpoint(false))
    }),
    "docs_global_shuffle" -> ((f, k) =>
      graft.text.GlobalShuffle.positions(explodeDocs(f.docs0, k))),
    "docs_importance_resampled" -> ((f, k) =>
      graft.sampling.ImportanceResample.resample(
        explodeDocs(
          Tables.documents(f.spark, f.sfDir).select(col("doc_id"), col("lang"), col("text")),
          k, carry = Seq("lang")))),
    "docs_quality_deciles" -> ((f, k) =>
      graft.text.QualityDeciles.profile(
        explodeDocs(f.docsS0, k, carry = Seq("source")))),
    // the r13 round-2 additions: the three-pass bigram-LM count/join
    // pipeline (vocab and bigram tables grow k× under the per-copy
    // suffix — the 1:1 count joins are the shape under test), and the
    // banded k-NN self-join. The kNN probe passes NO plane override
    // (VERDICT r13 item 1): the operator derives its band width from
    // the live corpus count (PlaneBudget.bandBits), so bucket count
    // scales with the population and bucket SIZE stays constant — the
    // probe now exercises the plan doing its own scaling.
    "text_lm_bigram" -> ((f, k) =>
      graft.text.BigramLm.scores(explodeDocs(f.docs0, k))),
    "simsearch_knn_graph" -> ((f, k) =>
      graft.similarity.KnnGraph.graph(
        explodeEmbeddings(Tables.embeddings(f.spark, f.sfDir), k))),
    // the r14 additions (VERDICT r13 item 2): the two heaviest
    // previously-unprobed families. dedup_shared_spans was the #2 CPU
    // consumer in BENCH_CPU_r13 — its winnowing fingerprint bucket join
    // is exactly where a boilerplate span would go quadratic without the
    // MaxFpDocs anti-join cap; the disjoint-vocabulary explode gives
    // each copy its own span structure, so pairs and bucket work must
    // grow ~k×. dedup_pairs_editdist pays O(|a|·|b|) DP per candidate —
    // linear overall iff the LSH-filtered pair table grows k×, which is
    // what the probe pins (per-pair DP cost is a constant of the
    // fixture's doc lengths at every factor).
    "dedup_shared_spans" -> ((f, k) =>
      graft.text.SharedSpans.pairs(explodeDocs(f.docs0, k))),
    "dedup_pairs_editdist" -> ((f, k) =>
      graft.dedup.EditVerify.verifiedMinHashPairs(explodeDocs(f.docs0, k))),
    // the r14 round-2 additions: the three heaviest/newest families
    // still outside the probe set, by engine shape.
    // dedup_source_overlap layers two id-keyed provenance joins and a
    // bounded |sources|² roll-up on the (probed) MinHash pair table —
    // the carry keeps each copy's sources intact, so the matrix stays
    // bounded while pair volume grows k× (what a k×-larger multi-source
    // corpus does).
    "dedup_source_overlap" -> ((f, k) =>
      graft.dedup.SourceOverlap.pairsBySource(
        explodeDocs(f.docsS0, k, carry = Seq("source")))),
    // dedup_simhash_pairs: the Hamming-band bucket join with the r14
    // over-cap star fallback — unprobed until now; the disjoint-
    // vocabulary copies carry their own near-dup structure so bucket
    // work must grow ~k×.
    "dedup_simhash_pairs" -> ((f, k) =>
      graft.dedup.SimHash.nearDupPairs(
        graft.dedup.SimHash.fingerprints(
          graft.dedup.DedupCorpus.augment(explodeDocs(f.docs0, k))))),
    // dedup_embedding_pairs_banded: the sign-LSH embedding pair family
    // on the DERIVED plane budget plus the newest over-cap star
    // fallback (r14) — no probe-side plane override, the plan sizes its
    // own buckets as the population grows (the PlaneBudget discipline).
    "dedup_embedding_pairs_banded" -> ((f, k) =>
      graft.similarity.SimilaritySearch.nearDupPairsDerived(
        explodeEmbeddings(Tables.embeddings(f.spark, f.sfDir), k),
        minSim = 0.15, numBands = 4)),
    // the r15 additions (VERDICT r14 items 2 and 8).
    // tpch_revenue_monthly_sampled_shuffle: the correlated join sampler
    // in the FORCED shuffle regime (familyConf disables both broadcast
    // thresholds) — the only configuration in which its 100 TB claim
    // (both exchanges cut ×p) actually executes; keys shift per copy so
    // each copy's keep set is an independent ~p draw, and the join
    // moves ~p of the exploded bytes through BOTH sort-merge exchanges
    // (the byte ratio itself is spec-pinned in JoinSampledSpec; the
    // probe pins that the sampled sort-merge plan's CPU stays linear).
    "tpch_revenue_monthly_sampled_shuffle" -> ((f, k) => {
      val parts = partsFor("tpch_revenue_monthly_sampled_shuffle", k)
      graft.sampling.JoinSampled.revenueMonthlySampledU(
        explodeOrders(Tables.orders(f.spark, f.sfDir), k, parts),
        explodeLineitem(Tables.lineitem(f.spark, f.sfDir), k, parts))
    }),
    // simsearch_ivf_det: the oracle-gated IVF path end-to-end — count →
    // derived nlist (≈√n, NO caller override: the probe validates the
    // derivation's scaling) → seed top-nl → codegen'd ivf_assign
    // corpus assignment → broadcast-probe → quantized-cosine top-k.
    // NOTE the family's DESIGNED super-linear term: assignment costs
    // n·nlist = n^1.5 (Jégou 2011 flat-IVF balance — the price of
    // per-list size staying √n so probe cost per query is sublinear),
    // which alone would read exactly 8.0 on the ×8→×32 step; the
    // linear stages (scan, quantize, seeds) blend the observed ratio
    // below the 8.0 bound. A reading NEAR the bound with flat GC is
    // this design, not a defect (see AttributionNotes).
    "simsearch_ivf_det" -> ((f, k) =>
      graft.similarity.IvfIndex.detTopK(
        explodeEmbeddings(Tables.embeddings(f.spark, f.sfDir), k))),
    // docs_split_incremental: the persisted-split inherit layer over the
    // probed CC — the worst-case real shape where the prior assignment
    // is DERIVED in the same run (two CC passes: the snapshot-1 prior,
    // then the full corpus) plus the id-keyed saved join and the
    // per-cluster argmin. Everything past the CCs is (id, verdict)
    // columns; linearity here pins that the inherit machinery adds no
    // super-linear term on top of the already-probed cluster layer.
    // prior assignment via DataSplit.assign over the base snapshot — the
    // SAME derivation the declared query's saved artifact uses — then the
    // full exploded corpus inherits through it
    "docs_split_incremental" -> ((f, k) => {
      val full = DedupCorpus.augment(explodeDocs(f.docs0, k))
      graft.dedup.DataSplit.assignIncremental(
        full,
        graft.dedup.DataSplit.assign(full.filter(isBaseSnapshot))
          .select(col("doc_id"), col("split")))
    }),
    // r15 continuation: the A-ES weighted sample — per-row work is
    // w bounded md5 draws (linear), then RangeRank's two-level rank
    // (one range exchange + per-partition window + a parts-row offset
    // aggregate) and the in-plan count cut. Narrow fixture: the
    // operator reads only (doc_id, source, n_chars).
    "docs_weighted_sample" -> ((f, k) =>
      graft.sampling.WeightedSampled.sample(
        explodeDocsNarrow(
          Tables.documents(f.spark, f.sfDir), k,
          partsFor("docs_weighted_sample", k),
          carry = Seq("source", "n_chars")))),
    // r15 continuation: the triangle census over k disjoint copies of
    // the base graph ([[explodeEdges]])
    "graph_triangles" -> ((f, k) =>
      graft.graphs.Triangles.statsFromUndirected(explodeEdges(f.events0, k))),
    // r17 additions: the posting-index construction + pruned conjunctive
    // search (tokenize → posexplode → two partial-agg'd aggregates with
    // a per-doc-bounded positions collect; the search side touches only
    // the 3 query terms' postings at every k, so the BUILD is the term
    // under test — what an index refresh pays), and the stream-stream
    // attribution join's batch-replay plan (per-copy user-id blocks keep
    // the click×purchase pairing inside each copy, so the pair table and
    // the user-keyed join state grow k×, never k²)
    "docs_search_and" -> ((f, k) =>
      graft.text.InvertedIndex.searchAndFrom(
        graft.text.InvertedIndex.postings(explodeDocs(f.docs0, k)))),
    "events_attribution" -> ((f, k) =>
      graft.streaming.StreamingAttribution.pairsBatchReplay(
        explodeEvents(f.events0, k, partsFor("events_attribution", k)))))

  /** One trial of family `name` at factor `k`, configured as the sweep
    * runs it: shuffle partitions at [[partsFor]] and the family's
    * [[familyConf]] overrides are set for the trial and restored after.
    *
    * Shuffle partitions scale WITH the factor: the probe models scale-OUT —
    * a k×-larger corpus on a real cluster runs with ~k× more partitions and
    * CONSTANT per-partition bytes (AQE's advisory sizing does exactly
    * this). Pinning 32 partitions while data grows 32× instead measures
    * scale-UP per task slot: per-partition sort and window state balloons
    * past execution memory and the ratio reads the memory cliff, not the
    * plan (the r11 CPU-metric sweep flagged three families this way; all
    * pass with partitions scaled). AQE coalesces the small factors' extra
    * partitions, so ×1 is unaffected.
    *
    * The verdict rides on the trial's process CPU, not its wall: on a
    * shared host invisible neighbors swing wall times 2-10× between
    * same-code runs (BASELINE.md §variance; an r11 probe watched
    * stage-identical code drift 12 s → 31 s mid-run), which corrupts a
    * wall-based scaling ratio in either direction. Process CPU measures the
    * WORK the plan did — what the probe asserts is linear — and spill/sort
    * pathologies still surface in it (the pre-fix ngram plan was
    * super-linear on CPU too, not just on wall).
    */
  def runAt(fx: Fixtures, name: String, k: Int): Measure.Trial = {
    val spark = fx.spark
    val build = Families(name)
    val overrides =
      ("spark.sql.shuffle.partitions" -> partsFor(name, k).toString) +:
        familyConf.getOrElse(name, Nil)
    val saved = overrides.map { case (key, _) => key -> spark.conf.getOption(key) }
    overrides.foreach { case (key, v) => spark.conf.set(key, v) }
    try Measure.trial(spark)(build(fx, k))
    finally saved.foreach { case (key, v) => v.fold(spark.conf.unset(key))(spark.conf.set(key, _)) }
  }

  def main(args: Array[String]): Unit = {
    val factors = args.headOption
      .map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1, 8, 32))
    val only = args.drop(1).toSet
    require(factors.size >= 2,
      s"need at least two scale factors to compute a scaling ratio, got: ${factors.mkString(",")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val fx = new Fixtures(spark, sfDir)

    val unknown = only -- Families.keySet
    require(unknown.isEmpty, s"unknown probe families: ${unknown.mkString(", ")}")
    val selected = Families.keys.filter(n => only.isEmpty || only(n)).toSeq

    // The two verdict factors run ALTERNATED (kLo, kHi, kLo, kHi, …) and
    // the ratio uses the per-factor MINIMUM of five trials: neighbor-noise
    // on this shared host is strictly ADDITIVE — a colocated tenant can
    // only slow cycles down (memory-bandwidth contention inflates the CPU
    // seconds the same instructions take; an r11 probe watched same-code
    // ×8 trials read 10.7/39.7/25.4 s CPU seconds apart) — so the smallest
    // observation is the closest to the intrinsic work, while a median
    // needs >half the trials clean and this host's noise windows last
    // minutes, often covering a whole side. Interleaving still matters:
    // it bounds how far apart in time the two sides' best trials can be.
    val (kLo, kHi) = (factors(factors.size - 2), factors.last)
    val VerdictTrials = 5

    // The probe JVM needs a heap that keeps ×kHi comfortably un-pressured
    // (SPARK_DRIVER_MEM=24g for the standard ×32 sweep): the heap is a
    // harness CONSTANT while the fixture grows 32×, so at the engine's
    // 8 GB default the top factor pays a superlinear GC bill that the ×1
    // side never sees — a scale-UP cliff, exactly the artifact the scaled
    // shuffle-partition count (see [[runAt]]) removes for sort/window
    // state. On the cluster this probe models, a 32×-larger corpus runs on
    // ~32× more executor memory; per-task heap is the constant, and the
    // per-factor gc column is the audit that the verdict never rode on
    // collector time.
    val hostMemory = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getTotalMemorySize
      case _ => 0L
    }
    if (hostMemory > 40L * (1 << 30) && Runtime.getRuntime.maxMemory < 12L * (1 << 30))
      println(s"[probe] WARNING: probe heap is ${Runtime.getRuntime.maxMemory >> 20} MiB; " +
        "run with SPARK_DRIVER_MEM=24g so top-factor GC pressure cannot read as superlinearity")

    // (wall, cpu or -1 where the JVM reports none, gc) of one trial
    def probe(name: String, k: Int): (Double, Double, Double) = {
      val t = runAt(fx, name, k)
      (t.wallS, t.cpuS.getOrElse(-1.0), t.gcS)
    }

    val results = scala.collection.mutable.LinkedHashMap[String, Seq[(Int, (Double, Double, Double))]]()
    selected.foreach { name =>
      probe(name, 1) // warmup: absorb codegen + first-touch scan
      val trials = scala.collection.mutable.LinkedHashMap[Int, Vector[(Double, Double, Double)]]()
      factors.filterNot(k => k == kLo || k == kHi).foreach { k =>
        trials(k) = Vector(probe(name, k))
      }
      (1 to VerdictTrials).foreach { _ =>
        Seq(kLo, kHi).foreach { k =>
          trials(k) = trials.getOrElse(k, Vector.empty) :+ probe(name, k)
        }
      }
      def best(ts: Vector[Double]): Double = ts.min
      val times = factors.map { k =>
        val ts = trials(k)
        k -> ((best(ts.map(_._1)),
          if (ts.exists(_._2 < 0)) -1.0 else best(ts.map(_._2)),
          best(ts.map(_._3))))
      }
      results(name) = times
      println(s"[probe] $name: " +
        times.map { case (k, (t, c, g)) => f"x$k=$t%.2fs/cpu=$c%.1fs/gc=$g%.1fs" }.mkString(" ") +
        s"  (x$kLo cpu trials ${trials(kLo).map(t => f"${t._2}%.1f").mkString("/")}, " +
        s"x$kHi ${trials(kHi).map(t => f"${t._2}%.1f").mkString("/")})")
    }

    // scaling verdict on the top factor pair (least noise): cpu(kHi)/cpu(kLo)
    // must stay within (kHi/kLo) × Slack; wall is the fallback where the
    // JVM can't report process CPU
    var failed = false
    val verdicts = results.map { case (name, times) =>
      val m = times.toMap
      val (ratio, metric) =
        if (m(kHi)._2 >= 0 && m(kLo)._2 > 0) (m(kHi)._2 / m(kLo)._2, "cpu")
        else (m(kHi)._1 / m(kLo)._1, "wall")
      val bound = kHi.toDouble / kLo * Slack
      val ok = ratio <= bound
      if (!ok) failed = true
      println(f"[probe] $name%-20s $metric(x$kHi)/$metric(x$kLo) = $ratio%.2f (linear=${kHi.toDouble / kLo}%.1f, bound=$bound%.1f) ${if (ok) "OK" else "SUPERLINEAR"}")
      name -> (ratio, ok)
    }

    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Non-default factor sets merge under a factor-suffixed row name, so
    // an extended-factor re-probe (the ×64 drift check, VERDICT r15 item
    // 7) lands IN the committed artifact beside the family's default row
    // instead of evaporating with the process output.
    def mergeName(name: String): String =
      if (factors == Seq(1, 8, 32)) name else s"${name}__x${kLo}_$kHi"
    def cellFor(name: String): String = {
      val (ratio, ok) = verdicts(name)
      val cells = results(name).flatMap { case (k, (t, c, g)) =>
        Seq(s""""x$k":${fmt(t)}""") ++
          (if (c >= 0) Seq(s""""x${k}_cpu":${fmt(c)}""") else Nil) ++
          Seq(s""""x${k}_gc":${fmt(g)}""")
      }
      val note = AttributionNotes.get(mergeName(name))
        .orElse(AttributionNotes.get(name))
        .map(n => s""","note":"${n.replace("\"", "'")}"""").getOrElse("")
      s""""${mergeName(name)}":{${cells.mkString(",")},"ratio_x${kHi}_over_x$kLo":${fmt(ratio)},"linear_ok":$ok$note}"""
    }
    val json = results.keys.map(cellFor).mkString("{", ",",
      s""","sf":"$sfDir","factors":[${factors.mkString(",")}],"slack":$Slack,""" +
        s""""ratio_metric":"cpu","estimator":"min_of_interleaved_trials",""" +
        s""""heap_mb":${Runtime.getRuntime.maxMemory >> 20}}""")
    val artifact = java.nio.file.Paths.get("PROFILE_SCALE.json")
    if (only.isEmpty)
      java.nio.file.Files.writeString(artifact, json)
    else if (java.nio.file.Files.exists(artifact)) {
      // A restricted re-probe at the full factor set MERGES into the
      // committed sweep artifact (the advertised one-family re-probe
      // workflow): each family cell is a flat brace-free object, so a
      // regex splice replaces exactly that family's row and nothing else.
      // Guards (ADVICE r13): the artifact's "sf" trailer must match this
      // probe's fixture — rows measured on another fixture must never
      // silently enter the committed sweep — and a family probed for the
      // FIRST time via a restricted run is appended before the trailer
      // instead of being dropped on the floor.
      var merged = java.nio.file.Files.readString(artifact)
      val artifactSf = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(merged).map(_.group(1))
      if (!artifactSf.contains(sfDir)) {
        println(s"[probe] NOT merging into PROFILE_SCALE.json: artifact sf=" +
          s"${artifactSf.getOrElse("<missing>")} but this probe ran on $sfDir " +
          "(results printed above only)")
      } else {
        results.keys.foreach { name =>
          val pat = ("\"" + java.util.regex.Pattern.quote(mergeName(name)) + "\":\\{[^}]*\\}").r
          if (pat.findFirstIn(merged).isDefined)
            merged = pat.replaceFirstIn(merged,
              java.util.regex.Matcher.quoteReplacement(cellFor(name)))
          else {
            val at = merged.indexOf("\"sf\":")
            merged = merged.substring(0, at) + cellFor(name) + "," + merged.substring(at)
            println(s"[probe] appended first-time row ${mergeName(name)} to PROFILE_SCALE.json")
          }
        }
        java.nio.file.Files.writeString(artifact, merged)
        println(s"[probe] merged ${results.keys.mkString(", ")} into PROFILE_SCALE.json")
      }
    }
    println(json)
    spark.stop()
    if (failed) sys.exit(1)
  }
}
