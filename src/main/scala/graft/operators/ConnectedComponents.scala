package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation —
  * the clustering step a near-dup pipeline needs between "similar pairs"
  * and "which docs to keep": pair lists over-drop or under-drop unless
  * transitive groups are resolved (a~b, b~c ⇒ {a,b,c} is ONE cluster;
  * keep exactly one representative per cluster).
  *
  * Algorithm: every node starts labeled with itself; each round, every
  * node takes the min label among itself and its neighbors; fixpoint =
  * components labeled by their minimum node id. Each round is one
  * shuffle (join + min-aggregate), and the round count is the graph
  * DIAMETER — for near-dup graphs (tiny, dense clusters; diameter
  * rarely > 3) this beats the O(log n)-round large-star/small-star
  * algorithms that pay bigger constants per round. For general graphs
  * with long chains, swap in star-contraction; the API contract
  * (edges → (node, component=min id)) stays the same.
  *
  * Rounds run on [[Fixpoint]]; its cut contract explains why each
  * round's labels are cut and what `checkpointDir` chooses.
  */
object ConnectedComponents {

  /** Components of the undirected graph given by `edges` (two numeric
    * columns: src, dst). Returns (node, component) for every node that
    * appears in at least one edge; `component` is the minimum node id
    * reachable from `node`.
    *
    * @param checkpointDir when set, per-round lineage cuts go through
    *                      reliable `checkpoint` into this directory
    *                      (survives executor loss) instead of
    *                      `localCheckpoint`
    * @param initialLabels when set, (node, label) state to START from
    *                      instead of the self-label init — the RESUME
    *                      surface (round 14, [[PageRank]]'s
    *                      `initialRanks` twin): feed a prior run's
    *                      round-k label table (e.g. reconstructed from
    *                      reliable checkpoint files after a driver
    *                      restart via [[CheckpointRecovery]] — the
    *                      per-round files carry an extra `prev` column
    *                      the caller drops) and the loop continues to
    *                      the SAME fixpoint (min-label propagation is
    *                      monotone and idempotent, so resuming from any
    *                      mid-run state converges to the full run's
    *                      assignments — spec-pinned). Must cover the
    *                      graph's node set, which every round state
    *                      does by construction.
    * @param roundOffset   rounds completed BEFORE this run (round 16,
    *                      the r15 advice; [[PageRank]]'s twin): a
    *                      resume leg passes the prior run's
    *                      completed-round count so announced round
    *                      numbers stay globally monotonic across
    *                      kills. Announcement-only — never touches
    *                      the computation or the convergence test. */
  def minLabel(edges: DataFrame, maxIterations: Int = 50,
      checkpointDir: Option[String] = None,
      initialLabels: Option[DataFrame] = None,
      roundOffset: Int = 0): DataFrame =
    // the announced file holds (node, label, prev); a resume reloads it
    // and passes (node, label) as initialLabels
    Fixpoint.run(edges.sparkSession, checkpointDir, announce = Some("cc"),
        roundOffset = roundOffset) { fx =>
      val e = edges.toDF("a", "b")
      // pre-partitioned on the per-round join key (the g01 hoist): the
      // pin keeps its partitioning, so each round's sym⋈labels join
      // reshuffles only the node-sized label table — the edge relation
      // never re-crosses the wire
      val sym = fx.pin(e
        .union(e.select(col("b").as("a"), col("a").as("b")))
        .distinct()
        .repartition(col("a")))
      // Resume surface: a caller-provided state replaces the self-label
      // init — pinned so the first round's join doesn't re-evaluate an
      // arbitrary caller plan (e.g. a checkpoint-recovery scan),
      // PageRank's resumeInit discipline.
      val init = initialLabels match {
        case Some(init) => fx.pin(init.select(col("node"), col("label")))
        case None => fx.cut(sym.select(col("a").as("node")).distinct()
          .withColumn("label", col("node")))
      }
      // change detection rides the SAME aggregate: each node's own label
      // travels in the union flagged `own`, the agg keeps min(all) and
      // the own label, and the round's cut counts the nodes whose label
      // improved — one join + one agg per round, no diff join, no probe
      val (labels, _) = fx.loop(init, maxIterations) { (labels, _) =>
        val msgs = sym
          .join(labels, sym("a") === labels("node"))
          .select(sym("b").as("node"), labels("label"), lit(0L).as("own"))
          .union(labels.withColumn("own", lit(1L)))
        val (next, improved) = fx.cut.counting(msgs.groupBy("node")
          .agg(min("label").as("label"),
            max(when(col("own") === 1L, col("label"))).as("prev")),
          col("label") < col("prev"))
        (next.select("node", "label"), improved == 0L)
      }
      labels.select(col("node"), col("label").as("component"))
    }
}
