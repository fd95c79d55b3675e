package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** The bounded-storage rotation behind [[Fixpoint]]'s cuts (the cut
  * contract itself — why every round state is cut, and the two cut
  * flavors — lives there). It keeps a FIFO of the live cuts and
  * explicitly unpersists a cut's blocks as soon as it falls `keep`
  * generations behind — at which point every later state has already
  * been materialized FROM it (eager cuts), so nothing can ever
  * recompute through it. Without it each superseded round's blocks
  * wait for the ContextCleaner, so eviction depends on driver GC timing
  * and a 100-iteration run could hold many node-sized states at once.
  *
  * `keep` is the number of generations a loop can still reference
  * after a new cut materializes: 2 for every single-state loop
  * (previous round feeds only the next round's cut) and for the
  * interleaved two-state loops (HITS h/a, LabelPropagation won/labels).
  *
  * Mechanics: `Dataset.checkpoint`/`localCheckpoint` return a Dataset
  * whose analyzed plan is a `LogicalRDD` over the internal
  * checkpointed RDD — that RDD is what holds the persisted blocks, so
  * it is what gets unpersisted on eviction. In reliable-checkpoint
  * mode (`checkpointDir = Some(dir)`) the data lives in checkpoint
  * FILES, not blocks, so eviction DELETES the evicted generation's
  * `rdd-<id>` directory (best-effort): ContextCleaner only removes them
  * on driver GC and only with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, whereas
  * the rotation knows EXACTLY when a generation is dead (every later
  * state was already written from it; re-executing a live generation
  * reads its OWN files, never an ancestor's). Spark logs one WARN per
  * local-mode eviction ("locally checkpointed ... cannot be recomputed
  * after unpersisting") — the bound working as designed.
  *
  * Setup relations that must survive the whole run go through [[pin]],
  * which cuts WITHOUT enrolling in the rotation.
  */
final class LineageCut(checkpointDir: Option[String], keep: Int = 2) {
  require(keep >= 1, "LineageCut must keep at least one generation")
  private val live = scala.collection.mutable.Queue.empty[RDD[_]]

  private def cutOnly(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    // localCheckpoint marks its internal RDD persisted BEFORE the job
    // that fills it runs, so a cut whose plan throws would leave that
    // RDD registered until driver GC. Release what appeared during a
    // failed cut; the engines drive their loops from one thread, so
    // nothing else persists in the meantime.
    val before = sc.getPersistentRDDs.keySet
    try cutOrThrow(df)
    catch {
      case NonFatal(t) =>
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before(id)) graft.Caches.releaseRdd(rdd, blocking = true)
        }
        throw t
    }
  }

  private def cutOrThrow(df: DataFrame): DataFrame = {
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
