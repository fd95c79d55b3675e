package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (hubs & authorities) over a DIRECTED edge list, in exact
  * integer arithmetic. The complement to [[PageRank]]'s single score:
  * on an asymmetric graph (buyers→sellers, citers→cited, linkers→
  * linked) HITS separates the two roles — a(v) rewards being pointed
  * AT by good hubs, h(u) rewards pointing at good authorities — which
  * one symmetric-random-walk score conflates.
  *
  * Update per iteration (standard order: authorities from current
  * hubs, then hubs from the NEW authorities), with the usual L2
  * normalization replaced by exact integer max-normalization so an
  * external oracle replays it bit-for-bit:
  *   a'(v) = Σ_{(u,v)∈E} h(u);   a(v) = (1e6 · a'(v)) div max_w a'(w)
  *   h'(u) = Σ_{(u,v)∈E} a(v);   h(u) = (1e6 · h'(u)) div max_w h'(w)
  * Max-normalization keeps every score in [0, 1e6] at any iteration
  * count and preserves the RANKING, which is what HITS is for; the
  * per-round max is a one-row in-plan aggregate broadcast via cross
  * join — never a driver collect (g07's dangling-sum pattern). Exact-
  * arithmetic headroom: the unnormalized sums are ≤ 1e6·deg and the
  * renormalization multiplies by 1e6 before dividing, so int64 is safe
  * up to max in/out-degree ≈ 9.2e6 — ENFORCED by a one-time setup
  * `require` (the loud-guard convention of Sssp's negative-weight and
  * PageRank's symmetry checks); beyond that (web-scale hub pages) drop
  * the scale to 1e3 or renormalize in two steps.
  *
  * ROUND SHAPE (round 14 — the g01 treatment, r13 verdict item 1;
  * IterProbe's `hits` unroll at sf10 attributed the old wall to
  * edge-sized sort-merge joins: each half-round evaluated its
  * edge⋈score SMJ TWICE — once inside the one-row max's broadcast
  * subquery, once in the normalize join — plus an edge-sized reshuffle
  * of the u-keyed pin onto `v` every h-half-round):
  *
  *   - SETUP pins ONE narrow `(u, v)` edge copy pre-partitioned on `u`
  *     plus the node-sized degree table (derived FROM the pin, so the
  *     caller's edge plan is evaluated exactly once).
  *   - Each HALF-ROUND broadcasts the node-sized score state into the
  *     pinned edges (a broadcast hash join preserves the streamed
  *     side's partitioning — [[PageRank]]'s proven round shape). The
  *     authority half-round aggregates by `v` and moves only map-side-
  *     combined partials, bounded by partitions × |v nodes|, never
  *     edge-sized; the hub half-round's groupBy key IS the pin's `u`,
  *     so it aggregates in place — one stage, zero shuffle. The raw
  *     sum is lineage-cut BEFORE normalization, so the one-row max
  *     and the normalize join both read the node-sized cut — the edge
  *     scan happens ONCE per half-round, with zero edge shuffle. `u`
  *     should be the side with MORE distinct nodes (g10 orients its
  *     customers→suppliers edges that way).
  *
  * The broadcast state is node-sized, so past `broadcastScoreMax`
  * nodes (default 32M ≈ 1-2 GB of broadcast relation, [[PageRank]]'s
  * `broadcastRankMax` doctrine) the same loop runs the r13 shuffle
  * shape: edge⋈score sort-merge joins against the same u-keyed pin,
  * whose h-half-round reshuffles it on `v`, with the raw sums left
  * uncut (the SMJ sum is re-read by normalize instead). Results are
  * IDENTICAL in both shapes (same joins, same arithmetic) —
  * spec-pinned bit-identical in HitsSpec.
  *
  * Settled layout arms, removed: a second v-keyed fallback pin
  * (GROWTH_r10/SCALE.md §g10 at sf10, 2 rounds: single pin 211 s vs
  * dual 255 s, break-even ≈ 4-5 rounds), a v-keyed broadcast pin, and
  * handing normalize the uncut broadcast sum (GROWTH_r16
  * `g10_cutRawSums`: parity at sf0.1 and sf10).
  *
  * Score state is cut per half-round on [[Fixpoint]].
  */
object Hits {

  /** @param edges directed long columns `u` (src) and `v` (dst)
    * @param tol   0 (default) = exactly `iterations` rounds, the
    *              oracle-replayable surface. tol > 0 = stop at the
    *              first round where BOTH max|Δa| ≤ tol AND
    *              max|Δh| ≤ tol (e6 score units), `iterations` as the
    *              cap — [[PageRank]]'s tolerance contract (two one-row
    *              deltas per round; 16 bytes of driver metadata).
    *              Spec-pinned: tol=0 ≡ fixed rounds, tol runs return
    *              their stopping round's fixed-round state exactly.
    * @param broadcastScoreMax node-count ceiling for the zero-edge-
    *              shuffle broadcast round shape; past it the loop uses
    *              the r13 shuffle shape. 0 forces the fallback (the
    *              spec's equivalence knob).
    * @return columns `node`, `hub_e6`, `auth_e6` for every node
    *         appearing in the edge list (either side) */
  def scores(edges: DataFrame, iterations: Int,
      checkpointDir: Option[String] = None,
      tol: Long = 0L,
      broadcastScoreMax: Long = 32000000L): DataFrame = {
    require(tol >= 0L, s"tol must be ≥ 0 (got $tol)")
    // the score STATES rotate through the r13 window — h/a interleave
    // through one keep=2 FIFO (a(n-1) is released when a(n) cuts, by
    // which point h(n-1..n) were already materialized from it);
    // tolerance mode keeps THREE generations because the Δa delta reads
    // a(n-1) AFTER a(n) cuts
    Fixpoint.run(edges.sparkSession, checkpointDir,
        keep = if (tol > 0L) 3 else 2) { fx =>
      // broadcast mode's RAW SUMS get their own keep=1 rotation: a sum
      // is dead the moment its normalized state materializes, and
      // mixing the two lifetimes in one FIFO would either release the
      // final a-state before the output join reads it (keep=2) or hold
      // edge-adjacent generations longer than needed (keep=5)
      val sumCuts = fx.rotation(keep = 1)
      val e = edges.select(col("u"), col("v"))
      // the ONE edge pin, pre-partitioned on u; the caller's edge plan
      // is evaluated exactly once, into this cut
      val pinned = fx.pin(e.repartition(col("u")))
      // node set and total degree (in+out, bag union) come from ONE
      // grouped aggregate over the pinned copy; the overflow guard's max
      // degree and the node count that picks the round shape are both
      // observed on that pin's own job
      val (grouped, stats) = fx.pinWith(pinned.select(col("u").as("node"))
          .union(pinned.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("d")),
        coalesce(max("d"), lit(0L)), count(lit(1)))
      val nodes = grouped.select(col("node"))
      val (maxDeg, nNodes) = (stats.getLong(0), stats.getLong(1))
      // loud int64-headroom guard (scaladoc above): scores are ≤ 1e6
      // after max-normalization, so an unnormalized sum is ≤ 1e6·degree
      // and the renormalization multiplies by 1e6 again — silent
      // wraparound above in/out-degree ~9.2e6. Total degree bounds both
      // roles; degrees are round-invariant so this never re-runs inside
      // the loop.
      require(maxDeg <= 9200000L,
        s"Hits exact int64 arithmetic overflows above in/out-degree ~9.2e6 " +
          s"(found a node with total degree $maxDeg); drop the score scale " +
          "to 1e3 or renormalize in two steps — see scaladoc")
      val bcast = nNodes <= broadcastScoreMax
      // one-row max|Δ| between two adjacent score states (tol mode only)
      def delta(cur: DataFrame, prev: DataFrame, c: String): Long =
        cur.select(col("node"), col(c))
          .join(prev.select(col("node"), col(c).as("p")), "node")
          .agg(coalesce(max(abs(col(c) - col("p"))), lit(0L)).as("d"))
          .head.getLong(0)
      // raw per-half-round sum Σ score over the edge pin, keyed by the
      // OTHER side. Broadcast mode: BHJ of the node-sized state into
      // the pin (partitioning-preserving, zero edge shuffle; the
      // groupBy either reuses the pin's partitioning outright or moves
      // map-side-combined partials), lineage-cut so normalize reads it
      // from blocks. Fallback: the r13 edge⋈score SMJ, uncut.
      def rawSum(state: DataFrame, stateCol: String,
          joinKey: String, groupKey: String): DataFrame = {
        val s = state.select(col("node").as(joinKey), col(stateCol))
        val raw = pinned.join(if (bcast) broadcast(s) else s, joinKey)
          .groupBy(col(groupKey))
          .agg(sum(stateCol).as("s"))
          .select(col(groupKey).as("node"), col("s"))
        if (bcast) sumCuts(raw) else raw
      }
      // normalize a raw sum to (1e6 · s) div max(s) over the full node
      // set (nodes absent from the sum score 0). The one-row max
      // subquery and the outer join each evaluate `raw` once — in
      // broadcast mode the caller hands in a node-sized lineage CUT,
      // so both reads hit checkpointed blocks and the edge scan stays
      // at once per half-round (the r13 shape evaluated the edge-sized
      // SMJ sum twice here); the fallback keeps r13's double
      // evaluation, its cost model unchanged.
      def normalize(raw: DataFrame, outCol: String): DataFrame = {
        val m = raw.agg(max("s").as("m"))
        fx.cut(nodes
          .join(if (bcast) broadcast(raw) else raw, Seq("node"), "left")
          .crossJoin(broadcast(m))
          .select(col("node"),
            expr("CAST((1000000 * coalesce(s, 0L)) div m AS BIGINT)")
              .as(outCol)))
      }
      // both a and h are cut per half-round by normalize: skipping a's
      // cut was measured SLOWER in the shuffle shape (sf0.1, warm min
      // 5.9 s vs 3.8 s) because the max broadcast subquery and the
      // normalize join then each re-evaluate the edge-sized sum
      val ((h, a), _) = fx.loop((nodes.withColumn("h", lit(1000000L)),
          nodes.withColumn("a", lit(1000000L))), iterations) {
        case ((hPrev, aPrev), _) =>
          val a = normalize(rawSum(hPrev, "h", "u", "v"), "a")
          // Δa must read a(n-1) HERE, before the h-half-round's cut
          // rotates it out of the keep=3 window
          val dA = if (tol > 0L) delta(a, aPrev, "a") else Long.MaxValue
          val h = normalize(rawSum(a, "a", "v", "u"), "h")
          ((h, a), tol > 0L && dA <= tol && delta(h, hPrev, "h") <= tol)
      }
      h.join(a, "node")
        .select(col("node"), col("h").as("hub_e6"), col("a").as("auth_e6"))
    }
  }
}
