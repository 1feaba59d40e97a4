package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) with a
  * SIZE-GATED exchange strategy — the 100 TB fix for the one shape the
  * round-9 audit called weak: broadcasting an O(|nodes|) label table
  * into every round.
  *
  * Both modes run the identical algorithm: every node starts labeled
  * with its own id; each synchronous round relabels every node with the
  * most frequent label among its neighbors, ties broken at the SMALLEST
  * label (a total order, so a fixed round count is fully deterministic
  * and both modes agree bit-for-bit with each other and with the
  * unrolled SQL oracle). The whole relabel is ONE `mode(lbl, true)`
  * aggregate per round (r13 optimization): Spark's deterministic Mode
  * is exactly "most frequent value, lowest value on frequency ties",
  * computed as an ObjectHashAggregate with map-side partial maps — so
  * the old census aggregate + packed-long argmax pair (two aggregates,
  * and in shuffle mode two exchanges) collapses into one aggregate and
  * one exchange, the partial maps carrying the same (label → count)
  * census bytes the old census partials did. Dropping the packed-long
  * argmax also drops its id-domain restriction: node ids may be any
  * long (the old form silently decoded wrong labels outside [0, 2³¹)
  * and needed a loud runtime guard — that hazard no longer exists).
  *
  * BOTH modes run over ONE src-hash-partitioned cached edge table —
  * single materialization, unpersisted in an epilogue once the final
  * labels are checkpointed. The edge set is symmetric (a requirement of
  * LPA itself: neighbor label multisets must be undirected), which is
  * what lets the two exchange strategies share the partitioning:
  *
  *  - '''broadcast''' (small label tables): each round broadcasts the
  *    label table keyed on `dst` into the join (neighbor labels arrive
  *    along out-edges — the same multiset, by symmetry), and the mode
  *    aggregate groups by `src`, satisfied by the src clustering —
  *    every round is EXCHANGE-FREE. Optimal while |nodes| fits an
  *    executor (fixture graphs, dimension-sized graphs).
  *
  *  - '''shuffle''' (the 100 TB mode): each round shuffles only the
  *    |nodes|-sized label table onto `src` (forced `shuffle_hash` join
  *    so the planner can never "helpfully" broadcast a growing label
  *    table) — the Σdeg-sized edge side NEVER moves — then the mode
  *    aggregate exchanges only map-side-combined (label → count)
  *    partial maps, bounded by the census, not by Σdeg. Per-round
  *    exchanged bytes are O(|nodes| + |census|); on a 10⁹-node graph
  *    that is the standard Pregel round, where the broadcast mode would
  *    ship gigabytes of labels to every executor every round.
  *
  * [[propagate]] gates between them on the measured node count — one
  * distinct-count read FROM the already-partitioned cache (co-located,
  * so the count itself is exchange-free). LabelPropSpec proves the
  * modes produce identical labelings and pins both round plans.
  */
object LabelProp {

  /** Default gate: ~16 bytes/label row ⇒ 1 M labels ≈ 16 MB broadcast
    * per round — at the edge of what repeated per-round broadcasts can
    * justify; beyond it the shuffle round is strictly cheaper. */
  val DefaultBroadcastMaxLabels: Long = 1000000L

  /** The gate, as a pure function so the spec can pin it. */
  def useBroadcast(nLabels: Long, broadcastMaxLabels: Long): Boolean =
    nLabels <= broadcastMaxLabels

  /** ONE synchronous round: relabel every node with the most frequent
    * neighbor label (smallest label on ties) — one deterministic-mode
    * aggregate over the neighbor-label stream. Exposed so specs can pin
    * each mode's round plan — the loop checkpoints labels per round,
    * which cuts the lineage the executed plan would otherwise show.
    *
    * @param edges symmetric (src, dst) edge SET, pre-partitioned on src
    *              + cached at the call site (both modes share that
    *              layout)
    * @param lbl   (node, lbl) current labeling
    */
  def round(edges: DataFrame, lbl: DataFrame, broadcastLabels: Boolean): DataFrame = {
    if (broadcastLabels) {
      // neighbor labels arrive along OUT-edges (join on dst; identical
      // multiset by symmetry), so the mode aggregate groups on src and
      // rides the cache's src clustering — zero exchanges per round
      val labelsOnDst = lbl.withColumnRenamed("node", "dst")
      edges.join(broadcast(labelsOnDst), "dst")
        .groupBy(col("src").as("node"))
        .agg(mode(col("lbl"), deterministic = true).as("lbl"))
    } else {
      // labels shuffle onto src (the edge side never moves); the mode
      // aggregate exchanges only map-side-combined (label → count)
      // partial maps
      val labelsOnSrc = lbl.withColumnRenamed("node", "src")
      edges.join(labelsOnSrc.hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("node"))
        .agg(mode(col("lbl"), deterministic = true).as("lbl"))
    }
  }

  /** Broadcast mode: exchange-free rounds, valid while the label table
    * fits an executor. Edge-SET semantics: `edges` is deduplicated in
    * place ([[prepare]]) — each neighbor contributes its label ONCE per
    * round, as LPA requires; a weighted-multiset (multigraph) LPA would
    * need a different operator. Precondition: `rounds >= 1`, since round
    * 1 is the label initialization; a smaller value throws
    * `IllegalArgumentException` before any edge cache is registered. */
  def propagateBroadcast(edges: DataFrame, rounds: Int): DataFrame = {
    requireRounds(rounds)
    runRounds(prepare(edges), rounds, broadcastLabels = true)
  }

  /** Shuffle mode: the Σdeg-sized edge side is partitioned on src once
    * and never exchanged again; each round moves only the label table
    * and census-sized aggregate partials. Edge-SET semantics and
    * `rounds >= 1`, as [[propagateBroadcast]]. */
  def propagateShuffle(edges: DataFrame, rounds: Int): DataFrame = {
    requireRounds(rounds)
    runRounds(prepare(edges), rounds, broadcastLabels = false)
  }

  /** Size-gated propagation: measure |nodes| FROM the partitioned cache
    * both modes share (a co-partitioned distinct-count — no second
    * materialization, no extra exchange), then run the mode that
    * survives that size. Both modes compute the identical deterministic
    * labeling. Edge-SET semantics and `rounds >= 1`, as
    * [[propagateBroadcast]]. */
  def propagate(edges: DataFrame, rounds: Int,
                broadcastMaxLabels: Long = DefaultBroadcastMaxLabels): DataFrame = {
    requireRounds(rounds)
    val e = prepare(edges)
    // the gate count doubles as the cache-materializing action — a
    // co-partitioned distinct-count, no second materialization (r12);
    // round 1 no longer needs the node table at all (fused, see
    // runRounds), so the count is the distinct's only consumer
    val nLabels = e.select(col("src").as("node")).distinct().count()
    runRounds(e, rounds, useBroadcast(nLabels, broadcastMaxLabels))
  }

  /** The precondition of every entry point: at least one round, since
    * round 1 is the label initialization (no rounds would leave no label
    * table to return). An `IllegalArgumentException` otherwise, thrown
    * before the edge cache is registered, so a rejected call leaks
    * nothing. */
  private def requireRounds(rounds: Int): Unit =
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")

  /** The single materialization both modes (and the gate) read:
    * src-partitioned cached DISTINCT edges. Lazily populated — the
    * first consumer (the gate count, a broadcast build, or round 1's
    * join) materializes it; r13 dropped the eager id-domain guard pass
    * the packed argmax used to need, so edge prep no longer costs a
    * dedicated job.
    *
    * The dedup lives HERE, fused behind the layout exchange (r12
    * optimization): LPA is defined on an edge SET (each neighbor
    * contributes its label once), and hashing the raw pair stream out
    * on `src` FIRST lets the distinct aggregate run in place — its
    * ClusteredDistribution(src, dst) is satisfied by the src hash
    * partitioning (subset rule) — so edge prep pays ONE exchange where
    * a caller-side `.distinct()` followed by this repartition paid two.
    * Already-distinct inputs are unchanged (dedup is idempotent). */
  private def prepare(edges: DataFrame): DataFrame =
    edges.repartition(col("src")).distinct().cache() // partitioning-visible, unlike an RDD checkpoint

  /** The round loop over an already-prepared cache, with the unpersist
    * epilogue. Intermediate rounds are LAZY localCheckpoints (flat
    * lineage at plan time, nothing runs yet); only the FINAL round is
    * eager — its materializing job computes the whole round chain in
    * one pass, persisting each intermediate checkpoint as it streams
    * through (the chain is linear, so nothing is computed twice). By
    * the time the loop exits every label table is materialized (the
    * graph is symmetric, so every node has ≥ 1 neighbor and appears in
    * every round's output), so the edge cache can be released before
    * returning and composing LabelProp inside a longer job never pays
    * lingering edge memory. */
  private def runRounds(e: DataFrame, rounds: Int, broadcastLabels: Boolean): DataFrame = {
    var lbl: DataFrame = null
    for (r <- 1 to rounds) {
      // Round 1 fused (r13): under identity initial labels the round's
      // label join is the identity — each neighbor's label IS its id —
      // so round 1 is ONE mode aggregate straight over the edge cache
      // (broadcast mode groups by src over dst; shuffle mode by dst
      // over src — identical multisets by symmetry). That drops round
      // 1's join, its label exchange (shuffle mode), and the separate
      // initial-labels distinct pass entirely.
      val stepped =
        if (r == 1 && broadcastLabels)
          e.groupBy(col("src").as("node")).agg(mode(col("dst"), deterministic = true).as("lbl"))
        else if (r == 1)
          e.groupBy(col("dst").as("node")).agg(mode(col("src"), deterministic = true).as("lbl"))
        else round(e, lbl, broadcastLabels)
      lbl = stepped.localCheckpoint(r == rounds)
    }
    e.unpersist(blocking = false)
    lbl
  }
}
