package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Per-round lineage cut with BOUNDED storage for the iterative
  * operators (PageRank, Bfs, Sssp, Hits, KCore, LabelPropagation,
  * ConnectedComponents).
  *
  * Every loop eagerly checkpoints its per-round state so plans stay
  * constant-size (the [[ConnectedComponents]] contract). Before this
  * helper, each superseded round's `localCheckpoint` blocks were left
  * to the ContextCleaner — correct, but block eviction then depends on
  * driver GC timing, so a 100-iteration production run could hold many
  * node-sized states at once. This helper makes the bound structural:
  * it keeps a FIFO of the live cuts and explicitly unpersists a cut's
  * blocks as soon as it falls `keep` generations behind — at which
  * point every later state has already been materialized FROM it
  * (eager cuts), so nothing can ever recompute through it.
  *
  * `keep` is the number of generations a loop can still reference
  * after a new cut materializes: 2 for every single-state loop
  * (previous round feeds only the next round's cut) and for the
  * interleaved two-state loops (HITS h/a, LabelPropagation won/labels).
  * [[Sssp]] also runs at keep=2 since round 15: its frontier is a
  * filter over the merged state's own-distance column, not a separate
  * cut reading two generations back.
  *
  * Mechanics: `Dataset.checkpoint`/`localCheckpoint` return a Dataset
  * whose analyzed plan is a `LogicalRDD` over the internal
  * checkpointed RDD — that RDD is what holds the persisted blocks, so
  * it is what gets unpersisted on eviction. In reliable-checkpoint
  * mode (`checkpointDir = Some(dir)`) the data lives in checkpoint
  * FILES, not blocks, so eviction DELETES the evicted generation's
  * `rdd-<id>` directory (best-effort): a 100-round production run
  * previously accumulated 100 node-sized tables on HDFS —
  * ContextCleaner only removes them on driver GC and only with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, whereas
  * the rotation knows EXACTLY when a generation is dead (every later
  * state was already written from it; re-executing a live generation
  * reads its OWN files, never an ancestor's). Spark logs one WARN per
  * local-mode eviction ("locally checkpointed ... cannot be recomputed
  * after unpersisting") — that is the bound working as designed, not a
  * problem: eviction only happens `keep` materialized generations
  * later, when recomputation is impossible to need.
  *
  * Setup relations that must survive the whole run (edge lists, node
  * sets, seed sets — the g01 hoist products) go through [[pin]],
  * which cuts WITHOUT enrolling in the rotation.
  */
object LineageCut {
  /** Reliable-mode observability (round 13 PageRank, shared round 14):
    * announce a just-cut round state's checkpoint FILE on stderr so an
    * external supervisor can resume from the last completed round
    * after a driver loss. Metadata-sized (one line per round); silent
    * in localCheckpoint mode (getCheckpointFile is Some only for
    * reliable checkpoints). The line format is the contract
    * tools/drill_preempt.py greps: `[<tag>] round <n> complete: <file>`.
    *
    * SUPERVISOR CONTRACT (round 16, the r15 advice): announced round
    * numbers are globally monotonic across kills — every resume
    * surface ([[PageRank.ranks]], [[ConnectedComponents.minLabel]])
    * takes a `roundOffset` that the resume leg sets to the prior
    * run's completed-round count, so a resumed run announces
    * (offset+1, offset+2, ...), and a supervisor surviving a SECOND
    * kill reads total progress straight off the latest announcement.
    * A caller that resumes WITHOUT passing the offset degrades to the
    * round-15 contract (local numbering; the supervisor must sum
    * per-run counts itself). The state FILE is self-contained either
    * way (it holds the full node-sized state, not a delta), so
    * resuming from the latest announced file is always correct. */
  def announceRound(df: DataFrame, tag: String, round: Int): Unit =
    CheckpointRecovery.checkpointFileOf(df).foreach { f =>
      System.err.println(s"[$tag] round $round complete: $f")
    }
}

final class LineageCut(checkpointDir: Option[String], keep: Int = 2) {
  require(keep >= 1, "LineageCut must keep at least one generation")
  private val live = scala.collection.mutable.Queue.empty[RDD[_]]

  private def cutOnly(df: DataFrame): DataFrame = {
    checkpointDir.foreach(df.sparkSession.sparkContext.setCheckpointDir)
    if (checkpointDir.isDefined) {
      // Reliable Dataset.checkpoint computes its plan TWICE: the eager
      // count job runs it once, then RDD.doCheckpoint's write job
      // re-executes the whole lineage to produce the bytes it writes —
      // unless the RDD is persisted. On a quiet small run the second
      // pass reads still-warm shuffle files and hides; under memory
      // pressure at scale it re-runs the round's joins/aggregates in
      // full (round 15 — the r14 CC-drill resume-cost item: recovery
      // mode paying 2× per round exactly when the cluster is already
      // struggling). Cache around the cut so the write job reads
      // blocks, then drop the transient cache: the returned frame
      // scans the checkpoint FILES, never this cache.
      // blocking = true (r15 ADVICE): this runs once per round at cut
      // time, not on a hot path, and reliable mode IS the constrained
      // recovery regime — an async drop can let each round's transient
      // node-sized copy linger into the next round's computation,
      // adding memory pressure exactly where this change removes it.
      //
      // Shield contract guard (r15 ADVICE): the persist only reaches
      // the checkpoint jobs through cache substitution in the LAZY
      // withCachedData phase — a caller whose Dataset's physical plan
      // was already forced BEFORE this cut would keep its memoized
      // pre-persist plan and silently re-pay the 2× evaluation this
      // shield exists to remove. Re-wrap the analyzed plan in a fresh
      // Dataset so planning happens strictly AFTER the persist, and
      // assert the InMemoryRelation actually landed in the planned
      // tree so a broken shield fails loudly, never silently slow.
      val fresh = org.apache.spark.sql.graftbridge.GraftSqlBridge
        .ofRows(df.sparkSession, df.queryExecution.analyzed)
      val cached = fresh.persist(org.apache.spark.storage.StorageLevel
        .MEMORY_AND_DISK)
      try {
        assert(cached.queryExecution.optimizedPlan.exists {
          case _: org.apache.spark.sql.execution.columnar
            .InMemoryRelation => true
          case _ => false
        }, "reliable-mode lineage cut: persist shield not substituted " +
          "into the cut's plan — the checkpoint write pass would " +
          "silently re-execute the full lineage")
        cached.checkpoint(true)
      } finally cached.unpersist(blocking = true)
    } else df.localCheckpoint(true)
  }

  /** Eagerly cut `df` and enroll it in the rotation: once `keep` newer
    * cuts exist, its blocks are unpersisted (non-blocking) and — in
    * reliable mode — its checkpoint directory is deleted. Every cut is
    * also registered with [[graft.Caches]]'s transient registry so the
    * generations the rotation can never release — the final `keep`
    * states a finished run leaves behind — are reclaimed by the
    * caller's post-query `Caches.strayUnpersist`, not left to driver
    * GC (round 12: the per-query leak that OOM'd SHARED_r11's sf10
    * sweep arm in-pack). */
  def apply(df: DataFrame): DataFrame = {
    val out = cutOnly(df)
    graft.Caches.checkpointRdd(out).foreach { rdd =>
      graft.Caches.track(rdd)
      live.enqueue(rdd)
      while (live.size > keep) release(live.dequeue())
    }
    out
  }

  private def release(rdd: RDD[_]): Unit = {
    // the rotation is releasing this generation itself — deregister
    // before the blocks drop so strayUnpersist never double-releases
    graft.Caches.untrack(rdd)
    // releaseRdd: unpersist + (reliable mode) checkpoint-dir delete —
    // getCheckpointFile is Some only for RELIABLE checkpoints
    graft.Caches.releaseRdd(rdd)
  }

  /** Eagerly cut `df` WITHOUT enrolling it in the rotation — for setup
    * relations the whole loop reads every round (pre-partitioned
    * edges, node sets). Still registered as a transient: a pin is
    * edge-SIZED and dead once the run's result is consumed. */
  def pin(df: DataFrame): DataFrame = {
    val out = cutOnly(df)
    graft.Caches.checkpointRdd(out).foreach(graft.Caches.track)
    out
  }
}
