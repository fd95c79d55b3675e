package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Damped PageRank over a directed edge list, in EXACT integer
  * arithmetic so results are partitioning-independent and replayable
  * bit-for-bit by an external oracle: ranks are scaled 1e6, every
  * divide is integer division, and each iteration is
  *   r'(v) = 150000 + (85 * Σ_{(u,v)∈E} (r(u) div deg(u))) div 100
  * (damping 0.85 with the 1-d teleport folded in at the same scale).
  *
  * Two input contracts, chosen by `redistributeDangling`:
  *   - false (default, g01's mode): nodes are whatever appears as an
  *     edge SOURCE, and dangling mass is NOT redistributed — callers
  *     pass a symmetrized edge list so every node has out-degree and
  *     nothing dangles. On a general directed graph this mode silently
  *     under-ranks (sink nodes absorb mass and drop out after round 1),
  *     so it `require`s symmetry: every node seen as a destination must
  *     also appear as a source.
  *   - true (g07's mode): nodes are the union of sources and
  *     destinations; each round the summed rank of dangling nodes
  *     (no out-edges) is split uniformly, `dsum div N` to every node,
  *     inside the same damped update — the standard dangling-mass
  *     completion, still in exact integer arithmetic:
  *   r'(n) = 150000 + (85 * (Σ_{(u,n)∈E} (r(u) div deg(u)) + dsum div N)) div 100
  *     The per-round dangling sum stays IN-PLAN (a one-row aggregate
  *     broadcast via cross join), never a driver collect.
  *
  * ROUND SHAPE (round 13 — the g05 treatment; IterProbe's `pagerank`
  * unroll at sf10 put setup at ~187 s — two full edge-sized
  * checkpoint writes, an edge-sized SMJ and an edge-sized distinct in
  * the symmetry guard — and each round at ~120 s, an edge-sized
  * sort-merge join plus the partial-aggregate shuffle over 117M
  * symmetrized edges):
  *
  *   - SETUP (symmetric contract, round 14 — the r13 verdict's
  *     superlinear-sf30 item): ONE narrow `(u, v)` edge pin
  *     pre-partitioned on the SOURCE key is the round's only
  *     edge-sized shuffle+write. The degree table derives from it
  *     with ZERO shuffle (the groupBy reuses the pin's partitioning —
  *     before this, the degree aggregate's map-side partials over a
  *     hash-scattered edge list were themselves near-edge-sized at
  *     sf30), the dangling guard reads the pin (not the caller's
  *     plan), and the DESTINATION-partitioned copy the rounds need is
  *     a free column-swap PROJECTION of the pin: a symmetrized edge
  *     list equals its own reversal as a row set, and Catalyst maps
  *     hash(u) through the swap to hash-partitioned-by-`v`. The swap
  *     leans on the documented input contract (`trustSymmetry`
  *     param); callers with merely dangling-free but asymmetric
  *     input pass `trustSymmetry = false` to restore the r13
  *     independent repartition. Dangling-redistribute mode keeps the
  *     r13 setup (its graph is genuinely directed). The degree rides
  *     in with the broadcast below — no `(u, v, d)` materialization.
  *     The guard is an anti hash join of pinned destinations against
  *     the broadcast degree table — no distinct, no shuffle,
  *     `limit(1)` short-circuit.
  *   - Each ROUND pre-divides the rank state ONCE per source
  *     (`c(u) = r(u) div d(u)`, a node-sized broadcast-hash join) and
  *     BROADCASTS the resulting (u, c) into a hash join against the
  *     pinned edges. A broadcast hash join preserves the streamed
  *     side's partitioning, so the `groupBy(v)` inflow aggregation
  *     reuses the pinned destination partitioning and the whole round
  *     runs in ONE stage with ZERO shuffle — one scan of the pinned
  *     edge blocks plus a node-sized broadcast (|V|·16 bytes, ~26 MB
  *     at sf10). Contributions aggregate fully locally because every
  *     row for a destination lives in one partition: shuffled rows
  *     per round drop from |E| to ZERO, not merely toward |V|.
  *
  * The broadcast state is node-sized, so past `broadcastRankMax`
  * nodes (default 32M ≈ 1-2 GB of broadcast relation — sized for a
  * multi-GB driver, the same doctrine as [[KCore]]'s
  * `broadcastDropMax`) the loop falls back to the shuffle shape
  * (contribution edges `(u, v, d)` pre-partitioned by SOURCE, rank
  * state shuffled to it, destination-keyed aggregate with map-side
  * partial sums) — the billion-node posture, spec-pinned bit-identical
  * to broadcast mode.
  *
  * INPUT CONTRACT (round 13): `edges` is scanned ~3 times at setup
  * (degree aggregate, symmetry guard, edge pin) instead of being
  * eagerly pinned first — every production caller hands this operator
  * a memoized/checkpointed relation (GraphPack's edge memo), for which
  * the old edge-sized pin was a pure extra write of blocks that
  * already existed. Callers with an EXPENSIVE or non-deterministic
  * edge plan must cut it themselves before calling (localCheckpoint /
  * [[LineageCut.pin]]), exactly as GraphPack does.
  *
  * Rounds run on [[Fixpoint]] (announced as `pagerank`); PageRank is
  * the operator most likely to run long enough to see an executor die,
  * so reliable cuts are its production default at 100 TB.
  */
object PageRank {

  /** @param edges         DataFrame with long columns `u` (src) and `v` (dst).
    * @param checkpointDir when set, per-round lineage cuts go through
    *                      reliable `checkpoint` into this directory
    *                      (survives executor loss) instead of
    *                      `localCheckpoint`
    * @param redistributeDangling false → require symmetric input, nodes
    *                      = sources (g01 contract); true → nodes =
    *                      sources ∪ destinations, dangling mass split
    *                      uniformly each round
    * @param teleportTo    when set (long column `node`), the teleport
    *                      base term lands ONLY on these nodes —
    *                      unnormalized PERSONALIZED PageRank:
    *                      r'(v) = [v∈S]·150000 + (85·Σ inflow) div 100.
    *                      Rank then measures proximity to the seed set
    *                      (the graph-retrieval / seed-expansion
    *                      primitive), not global centrality. Only the
    *                      symmetric contract supports it
    *                      (redistributeDangling must stay false);
    *                      teleportTo = all nodes degenerates to the
    *                      default mode exactly (spec-pinned)
    * @param tol           0 (default) = run exactly `iterations` rounds
    *                      — the oracle-replayable surface, unchanged.
    *                      tol > 0 = TOLERANCE MODE: stop at the first
    *                      round where max_v |r(v) − r_prev(v)| ≤ tol
    *                      (e6 rank units), with `iterations` as the
    *                      cap — the production long-run mode, where a
    *                      converged graph shouldn't pay its full round
    *                      budget. The per-round delta is ONE one-row
    *                      max over the two adjacent (checkpointed)
    *                      states; the single long DOES come back to the
    *                      driver — the loop-exit decision lives there
    *                      by definition (the bounded-metadata rule:
    *                      8 bytes/round, not data). Spec-pinned: tol=0
    *                      ≡ fixed rounds, and a tol run returns exactly
    *                      the fixed-round state of its stopping round.
    * @param initialRanks  when set, (node, r) e6-scaled ranks to START
    *                      from instead of the uniform 1e6 init — the
    *                      RESUME surface: feed a prior run's final
    *                      state (e.g. reconstructed from reliable
    *                      checkpoint files after a driver restart via
    *                      [[CheckpointRecovery]]) and the remaining
    *                      rounds continue bit-identically
    *                      (ranks(e,5) ≡ ranks(e,3,init=ranks(e,2)),
    *                      spec-pinned). Must cover the mode's node set.
    * @param broadcastRankMax node-count ceiling for the zero-shuffle
    *                      broadcast round shape (scaladoc above); past
    *                      it the loop uses the shuffle shape. 0 forces
    *                      the fallback (the spec's equivalence knob).
    * @param trustSymmetry symmetric mode only (round 14). true = take
    *                      the documented contract at its word — the
    *                      input IS a symmetrized edge list — and derive
    *                      the rounds' destination-partitioned edge copy
    *                      as a free column-swap projection of the one
    *                      source-partitioned pin (reversed(E) = E as a
    *                      row set), saving a second edge-sized shuffle
    *                      + checkpoint write at setup. false (the
    *                      DEFAULT since round 15 — the r14 advice: the
    *                      runtime guard checks dangling-freeness, not
    *                      symmetry, so a dangling-free-but-asymmetric
    *                      input under a trusting default would silently
    *                      get reversed-graph ranks) = pay the r13
    *                      independent repartition so rank flows along
    *                      the true edge directions. Callers that BUILD
    *                      the symmetric union themselves (GraphPack,
    *                      the drills) opt in explicitly — the trust is
    *                      justified at exactly the sites that construct
    *                      the symmetry. Spec-pinned identical on
    *                      symmetric inputs.
    * @param roundOffset   rounds completed BEFORE this run (round 16,
    *                      the r15 advice): a resume leg passes the
    *                      prior run's completed-round count so
    *                      [[Fixpoint]]'s announced round numbers stay
    *                      globally monotonic across kills — the
    *                      supervisor reads progress straight off the
    *                      announcements instead of accumulating
    *                      per-run local counts. Announcement-only:
    *                      never touches the computation (iterations
    *                      still counts THIS run's rounds). */
  def ranks(edges: DataFrame, iterations: Int,
      checkpointDir: Option[String] = None,
      redistributeDangling: Boolean = false,
      teleportTo: Option[DataFrame] = None,
      tol: Long = 0L,
      initialRanks: Option[DataFrame] = None,
      broadcastRankMax: Long = 32000000L,
      trustSymmetry: Boolean = false,
      roundOffset: Int = 0): DataFrame = {
    require(teleportTo.isEmpty || !redistributeDangling,
      "teleportTo is only supported under the symmetric contract " +
        "(redistributeDangling=false)")
    require(tol >= 0L, s"tol must be ≥ 0 (got $tol)")
    Fixpoint.run(edges.sparkSession, checkpointDir, announce = Some("pagerank"),
        roundOffset = roundOffset) { fx =>
      // NOT pinned (input contract above): production callers pass
      // memoized block scans, and an edge-sized pin here was half the
      // measured sf10 setup wall
      val e = edges.select(col("u"), col("v"))
      // input-contract tripwire (round 14, r13 advice): the no-pin
      // contract means this plan is evaluated up to 3x at setup
      // (symmetric mode: once, into the source pin; dangling mode:
      // degree agg, node distinct, edge pin) — a caller handing over a
      // raw join/aggregate derivation would silently pay it repeatedly,
      // and a non-deterministic plan would hand the consumers mutually
      // inconsistent snapshots. Warn loudly; don't throw (the re-scan
      // is CORRECT for deterministic plans, just slow).
      locally {
        import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
        val plan = e.queryExecution.analyzed
        val expensive = plan.collectFirst {
          case j: Join => j: Any
          case a: Aggregate => a: Any
        }.isDefined
        if (expensive || !plan.deterministic)
          System.err.println("[pagerank] WARNING: input edge plan " +
            "contains a join/aggregate or non-deterministic expression " +
            "and will be re-evaluated at setup — cut it first " +
            "(localCheckpoint / LineageCut.pin), per the input-contract " +
            "scaladoc")
      }
      // per-round inflow Σ_{(u,v)∈E} (r(u) div d(u)) keyed by v.
      // Broadcast mode pre-divides ONCE per source (node-sized BHJ
      // against the broadcast degree pin), then broadcasts (u, c) into
      // the destination-partitioned edge pin — zero shuffle; fallback
      // is the r12 shape (state shuffled to the source-partitioned
      // contribution pin, destination-keyed partial-sum aggregate)
      def inflowOf(ed: DataFrame, degP: DataFrame, prev: DataFrame,
          bcast: Boolean): DataFrame =
        if (bcast)
          ed.join(broadcast(
              prev.select(col("node"), col("r"))
                .join(broadcast(degP), col("node") === col("u"))
                .select(col("u"), expr("r div d").as("c"))), "u")
            .groupBy(col("v"))
            .agg(sum(col("c")).as("inflow"))
            .select(col("v").as("node"), col("inflow"))
        else
          ed.join(prev.select(col("node"), col("r")),
              col("node") === col("u"))
            .groupBy(col("v"))
            .agg(expr("CAST(sum(r div d) AS BIGINT)").as("inflow"))
            .select(col("v").as("node"), col("inflow"))

      // shared round driver for all three modes: fixed-count when tol=0
      // (the pre-tol behavior, bit-identical), early-stop on
      // max|Δr| ≤ tol otherwise. prev and r are adjacent rotation
      // generations (keep=2), so prev's blocks are still live when the
      // delta reads them.
      def loop(init: DataFrame)(step: DataFrame => DataFrame): DataFrame =
        fx.loop(init, iterations) { (prev, _) =>
          val r = step(prev)
          (r, tol > 0L && r.select(col("node"), col("r"))
            .join(prev.select(col("node"), col("r").as("r_prev")), "node")
            .agg(coalesce(max(abs(col("r") - col("r_prev"))), lit(0L)).as("d"))
            .head.getLong(0) <= tol)
        }._1
      // resume surface: a caller-provided starting state replaces the
      // uniform init — cut once so the first round's two reads (dsum +
      // inflow in the redistribute mode) don't re-evaluate an arbitrary
      // caller plan (e.g. a checkpoint-recovery scan)
      val resumeInit: Option[DataFrame] =
        initialRanks.map(df => fx.pin(df.select(col("node"), col("r"))))

      if (!redistributeDangling) {
        // THE one edge-sized shuffle+write of the run (round 14): a
        // narrow (u, v) pin pre-partitioned on the SOURCE key. The
        // caller's plan is evaluated exactly once, into this cut;
        // everything below derives from checkpointed blocks.
        val eByU = fx.pin(e.repartition(col("u")))
        // ZERO-shuffle degree table: the groupBy reuses the pin's
        // hash(u) partitioning, so no map-side partials ever move (at
        // sf30 the r13 partial-combine over a hash-scattered 352M-row
        // list shuffled near-edge-sized — the superlinear-setup term)
        // node set = sources (symmetric contract): its size, observed
        // on the pin's own job, decides broadcast vs shuffle shape for
        // the whole run
        val (degP, n) = fx.pinWith(eByU.groupBy("u").agg(count(lit(1)).as("d")),
          count(lit(1)))
        val bcast = n.getLong(0) <= broadcastRankMax
        // loud guard for the documented contract (scaladoc above): a
        // destination with no out-edges would silently absorb rank.
        // Anti HASH join of pinned destinations against the (broadcast)
        // degree pin — no distinct shuffle, limit(1) short-circuits
        val degKeys = degP.select(col("u"))
        val dangling = eByU.select(col("v").as("u"))
          .join(if (bcast) broadcast(degKeys) else degKeys,
            Seq("u"), "left_anti").limit(1).count()
        require(dangling == 0L,
          "PageRank(redistributeDangling=false) requires a symmetrized edge " +
            "list (every destination must also be a source); found dangling " +
            "destinations — symmetrize the input or pass redistributeDangling=true")
        // destination-partitioned copy for the broadcast round shape:
        // under the symmetric contract it is a FREE column-swap
        // projection of the source pin (reversed(E) = E as a row set;
        // hash(u) maps through the swap to partitioned-by-`v`) — no
        // second edge shuffle, no second write. trustSymmetry=false
        // restores the r13 independent repartition for callers whose
        // input is dangling-free but not literally symmetric. The
        // shuffle fallback joins the degree in: both sides are already
        // hash(u)-partitioned, so the pin is a write-only cut.
        val ed =
          if (bcast) {
            if (trustSymmetry)
              eByU.select(col("v").as("u"), col("u").as("v"))
            else fx.pin(eByU.repartition(col("v")))
          } else fx.pin(eByU.join(degP, "u"))
        val init = resumeInit.getOrElse(
          degP.select(col("u").as("node"), lit(1000000L).as("r")))
        teleportTo match {
          case None =>
            // symmetric contract ⇒ every node has in-edges, so the
            // inflow relation covers the whole node set and the damped
            // update is a straight projection of it
            loop(init) { prev =>
              fx.cut(inflowOf(ed, degP, prev, bcast)
                .select(col("node"),
                  expr("CAST(150000 + (85 * inflow) div 100 AS BIGINT)")
                    .as("r")))
            }
          case Some(t) =>
            // nodes with zero inflow still carry their seed base, so the
            // update is anchored on the node set (= sources, symmetric
            // contract), not on the destinations that happened to receive
            val nodes = degP.select(col("u").as("node"))
            val seeds = fx.pin(t.select(col("node")).distinct()
              .withColumn("is_seed", lit(1)))
            loop(init) { prev =>
              val inflow = inflowOf(ed, degP, prev, bcast)
              fx.cut(nodes
                .join(inflow, Seq("node"), "left_outer")
                .join(seeds, Seq("node"), "left_outer")
                .select(col("node"),
                  expr("CAST((CASE WHEN is_seed = 1 THEN 150000 ELSE 0 END)" +
                    " + (85 * coalesce(inflow, 0L)) div 100 AS BIGINT)")
                    .as("r")))
            }
        }
      } else {
        // dangling-redistribute mode keeps the r13 setup: its graph is
        // genuinely DIRECTED (no reversal identity to exploit), so the
        // degree table aggregates the caller's plan and the edge pin is
        // an independent repartition — by DESTINATION for the broadcast
        // round shape, or contribution edges (u, v, d) by SOURCE for
        // the shuffle fallback
        val degP = fx.pin(e.groupBy("u").agg(count(lit(1)).as("d")))
        // graph cardinality is fixed across rounds — observed once on the
        // node pin's own job, a literal thereafter (metadata-sized, not a
        // per-round collect)
        val (nodes, stats) = fx.pinWith(e.select(col("u").as("node"))
          .union(e.select(col("v").as("node"))).distinct(), count(lit(1)))
        val n = stats.getLong(0)
        val bcast = n <= broadcastRankMax
        val ed =
          if (bcast) fx.pin(e.repartition(col("v")))
          else fx.pin(e.join(degP, "u").repartition(col("u")))
        val danglingNodes = nodes.join(
          degP.select(col("u").as("node")), Seq("node"), "left_anti")
        val init = resumeInit.getOrElse(nodes.withColumn("r", lit(1000000L)))
        loop(init) { prev =>
          // one-row dangling-mass aggregate, broadcast into every node's
          // update via cross join — stays distributed, no driver round-trip
          val dsum = prev.join(danglingNodes, Seq("node"), "left_semi")
            .agg(coalesce(sum("r"), lit(0L)).as("dsum"))
          val inflow = inflowOf(ed, degP, prev, bcast)
          fx.cut(nodes
            .join(inflow, Seq("node"), "left_outer")
            .crossJoin(broadcast(dsum))
            .select(col("node"),
              expr(s"CAST(150000 + (85 * (coalesce(inflow, 0L) + dsum div ${n}L))" +
                " div 100 AS BIGINT)").as("r")))
        }
      }
    }
  }
}
