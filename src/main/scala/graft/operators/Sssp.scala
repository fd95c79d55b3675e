package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded single-source(-set) shortest paths over a WEIGHTED directed
  * edge list: frontier-restricted Bellman–Ford relaxation. Completes
  * the iterative family — [[Bfs]] minimizes HOPS (every edge costs 1);
  * this minimizes summed edge WEIGHT, so a cheap multi-hop route beats
  * an expensive direct edge, which is exactly the case hop-BFS gets
  * wrong on weighted graphs.
  *
  * Exact by construction (integer weights, min-merge is
  * order-insensitive), so an external oracle can replay round k as k
  * unrolled full relaxations: after round k, `d(node)` is the minimum
  * weight over all paths of ≤ k edges from any source. The frontier
  * restriction (only nodes whose distance IMPROVED last round join the
  * edge list) is a pure optimization — a non-improved node re-relaxing
  * can only re-derive candidates it already produced — so per-round
  * work is frontier × out-degree, not nodes × edges, and the loop
  * stops early once a round improves nothing (negative weights are
  * rejected; with them the fixpoint argument fails). Rounds run on
  * [[Fixpoint]].
  */
object Sssp {

  /** @param edges   long columns `u` (src), `v` (dst), `w` (weight ≥ 0)
    * @param sources long column `node` — distance-0 seed set
    * @param maxRounds relaxation rounds; result is exact over paths of
    *                  ≤ maxRounds edges (set ≥ graph diameter for the
    *                  true fixpoint — the empty-frontier early exit
    *                  makes a generous bound cost nothing extra)
    * @param checkpointDir when set, per-round lineage cuts go through
    *                      reliable `checkpoint` into this directory
    *                      (survives executor loss) instead of
    *                      `localCheckpoint`
    * @return columns `node`, `d` (min summed weight from any source
    *         over ≤ maxRounds edges; unreached nodes absent) */
  def distances(edges: DataFrame, sources: DataFrame, maxRounds: Int,
      checkpointDir: Option[String] = None): DataFrame =
    Fixpoint.run(edges.sparkSession, checkpointDir) { fx =>
      // pre-partitioned on the per-round join key (the g01 hoist): each
      // round's frontier⋈e join reshuffles only the frontier. The
      // negative-weight guard is counted on the pin's own job.
      val (e, guard) = fx.pinWith(edges.select(col("u"), col("v"), col("w"))
        .repartition(col("u")), count(when(col("w") < 0, true)))
      require(guard.getLong(0) == 0L,
        "Sssp requires non-negative edge weights: with negative weights " +
          "the empty-frontier stop is not a fixpoint proof")
      // ROUND SHAPE (round 15 — ConnectedComponents' own-flag trick):
      // change detection rides the SAME min-aggregate. Each node's own
      // prior distance travels through the union flagged `own`; the
      // aggregate keeps min(all) AND min(own), and the next frontier is
      // a cheap FILTER over the already-cut merge (d < od, or od null
      // for a newly reached node) — no second node-sized join or cut
      // per round just to diff adjacent states, and the rotation stays
      // at keep=2 (merged(n) reads only merged(n-1)). The same filter,
      // observed on the merge's own cut, counts the next frontier: an
      // empty one means the round improved nothing, so every
      // ≤-maxRounds-edge path minimum is already final.
      val improved = col("od").isNull || col("d") < col("od")
      val init = fx.cut(sources.select(col("node"), lit(0L).as("d")).distinct()
        .withColumn("od", lit(null).cast("long")))
      val (merged, _) = fx.loop(init, maxRounds) { (merged, _) =>
        val f = merged.filter(improved).select(col("node"), col("d"))
        val cand = f.join(e, f("node") === e("u"))
          .select(e("v").as("node"), (f("d") + e("w")).as("d"),
            lit(0L).as("own"))
        val (next, frontier) = fx.cut.counting(merged
          .select(col("node"), col("d"), lit(1L).as("own")).union(cand)
          .groupBy("node").agg(min("d").as("d"),
            min(when(col("own") === 1L, col("d"))).as("od")), improved)
        (next, frontier == 0L)
      }
      merged.select(col("node"), col("d"))
    }
}
