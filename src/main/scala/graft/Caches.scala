package graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The session-cache registry: the one owner of every piece of
  * cross-query state a long-lived session accumulates, so nothing is
  * released behind its back and a session can be swept BETWEEN query
  * groups instead of holding every memo unbounded.
  *
  * PACK MEMOS ([[memo]]). DedupPack's shingle/signature relations and
  * pair-mass guard, SimilarityPack's PQ index and GraphPack's edge
  * relation are each built once per (session, pack-scoped key) and
  * then shared by every query that reads them. Verify's full-suite
  * mode runs 220 queries through ONE session, so without a sweep every
  * memo is resident at once by the tail of a run — at the sf10 rung
  * that compounding collapsed the shared-session ladder (heap ceiling
  * → GC starved the heartbeat → context killed mid-suite, round 9).
  * Verify sweeps when the suite crosses a pack boundary and records
  * the per-group peak.
  *
  * One release rule covers every memo: each DataFrame in the value is
  * unpersisted (once no other entry shares its cache — see
  * [[release]]) and its backing checkpoint RDD released; anything else
  * (a guard's Long) is simply dropped. NOTE the persist-vs-checkpoint
  * asymmetry this rule hides: persist-backed memos (the shingle and
  * signature relations) transparently recompute after a sweep, but a
  * `localCheckpoint` memo (the edge relation, the PQ index) truncates
  * lineage — a sweep INVALIDATES any still-held DataFrame derived from
  * it, which THROWS on its next action instead of recomputing. Verify
  * requests each query's DataFrame fresh after every sweep, so the
  * contract holds there; other long-lived callers must do the same.
  *
  * TRANSIENT CUTS ([[track]], [[strayUnpersist]]) are the per-QUERY
  * granularity SHARED_r11 proved pack-boundary sweeps cannot reach. An
  * iterative engine call leaves behind its final `keep`
  * [[graft.operators.LineageCut]] generations plus every
  * [[graft.operators.LineageCut.pin]]ned setup relation (edge-SIZED
  * localCheckpoints); within one pack, eleven graph queries each leak
  * one such set, and the r11 shared-session sf10 sweep arm OOM'd
  * in-pack — the boundary sweep never got a chance to run. Every cut
  * is registered at creation and deregistered when the rotation itself
  * releases it, so [[strayUnpersist]] drops exactly the cuts no
  * rotation will ever release, after the query's result is written.
  *
  * The two sets are KEPT APART: memos are never enrolled as
  * transients, so a per-query reclaim never touches a memo, and a
  * sweep never touches a cut.
  */
object Caches {

  // ---- pack memos ----------------------------------------------------
  // Keyed by (session, pack-scoped key). SparkSession does not override
  // equals, so sessions compare by reference: `spark.newSession()` gets
  // its own entries. The value type is fixed per key by its one caller.
  private val memos =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Any]

  /** The value memoized for (`session`, `key`), building it on first
    * request. `key` is pack-scoped (`"graph.edges:" + dir`). Build,
    * then putIfAbsent — NOT TrieMap.getOrElseUpdate, which is not
    * atomic over its build function: two threads racing here would both
    * materialize, and the loser's blocks would leak for the session
    * lifetime. The losing build is released instead. */
  def memo[T](session: SparkSession, key: String)(build: => T): T =
    memos.get((session, key)) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val built = build
        memos.putIfAbsent((session, key), built) match {
          case Some(winner) =>
            release(session, key, built); winner.asInstanceOf[T]
          case None => built
        }
    }

  /** Release every memo held for `session`; other sessions' entries
    * are untouched. Safe at any query-group boundary: the next
    * consumer re-derives (see the class note on checkpoint memos). */
  def sweep(session: SparkSession): Unit = synchronized {
    memos.keys.filter(_._1 eq session).foreach { k =>
      memos.remove(k).foreach(release(session, k._2, _))
    }
  }

  /** The memo release rule. A checkpoint RDD belongs to the one build
    * that made it and is always released. Persisted blocks are NOT
    * per build: Spark's CacheManager is shared by every session of a
    * context and keys cached data by plan, so every live entry for the
    * same key on the same context reads the same cache entry — the
    * unpersist waits for the last of them (a losing build's twin, or
    * another session's copy). */
  private def release(session: SparkSession, key: String, value: Any): Unit = {
    val shared = memos.keys.exists { case (s, k) =>
      k == key && (s.sparkContext eq session.sparkContext)
    }
    def drop(v: Any): Unit = v match {
      case df: Dataset[_] =>
        if (!shared) df.unpersist(blocking = true)
        checkpointRdd(df).foreach(releaseRdd(_, blocking = true))
      case p: Product => p.productIterator.foreach(drop)
      case _ => ()
    }
    drop(value)
  }

  /** The RDD behind a checkpointed DataFrame: the first [[LogicalRDD]]
    * in its analyzed plan, if any. */
  def checkpointRdd(df: Dataset[_]): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }

  // ---- transient-cut ownership (round 12) --------------------------
  // Keyed by SparkContext (persistence is context-level). RDD does not
  // override equals, so the mutable.Set compares by reference — a
  // re-created RDD can never alias an old entry. All access to a set
  // goes through its own monitor.
  private val transients = scala.collection.concurrent.TrieMap
    .empty[SparkContext, scala.collection.mutable.Set[RDD[_]]]

  /** Enroll a cut's backing RDD as TRANSIENT: dead the moment the
    * query that created it finishes (nothing outside the query can
    * hold it — packs own their memos separately and never enroll
    * them). Called by [[graft.operators.LineageCut]] for every
    * rotation cut and pin, and by [[trackCut]] for direct
    * localCheckpoint scaffolding. */
  def track(rdd: RDD[_]): Unit = {
    // evict dead-context entries opportunistically: a long-lived JVM
    // that cycles sessions (the sbt test suite) would otherwise
    // accumulate one handle set per stopped context forever —
    // strayUnpersist on a LIVE session never reaches them (round-13
    // advice). Nothing to release: a stopped context's blocks are gone
    // with it.
    transients.keys.filter(_.isStopped).foreach(transients.remove)
    val s = transients.getOrElseUpdate(rdd.sparkContext,
      scala.collection.mutable.Set.empty[RDD[_]])
    s.synchronized(s += rdd)
  }

  /** Remove `rdd` from the transient set WITHOUT releasing it — for
    * [[graft.operators.LineageCut]]'s own rotation, which releases
    * superseded generations itself. */
  def untrack(rdd: RDD[_]): Unit =
    transients.get(rdd.sparkContext)
      .foreach(s => s.synchronized(s -= rdd))

  /** Register an already-localCheckpoint'ed DataFrame's backing RDD as
    * transient and return the DataFrame — the one-line wrapper for
    * in-query scaffolding cuts (`Caches.trackCut(df.localCheckpoint(
    * true))`). No-op if the plan is not a checkpoint LogicalRDD. */
  def trackCut(df: DataFrame): DataFrame = {
    checkpointRdd(df).foreach(track)
    df
  }

  /** Unpersist `rdd`'s blocks and — for RELIABLE checkpoints — delete
    * its `rdd-<id>` directory (best-effort: a failed delete costs
    * disk, never correctness). The shared release primitive for
    * LineageCut's rotation (non-blocking — mid-loop latency matters)
    * and [[strayUnpersist]] (BLOCKING — it runs between queries, and
    * an async removal of a finished engine's multi-GB block set
    * otherwise races whatever is measured next: the round-12 g05 A/B
    * caught the END calibration probe reading 7.2× par-over-scalar
    * purely from our own deferred cleanup). */
  def releaseRdd(rdd: RDD[_], blocking: Boolean = false): Unit = {
    rdd.unpersist(blocking)
    rdd.getCheckpointFile.foreach { dir =>
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(rdd.sparkContext.hadoopConfiguration)
          .delete(p, true)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Release every still-enrolled transient cut for `session`'s
    * context: the per-QUERY reclamation Verify runs after each result
    * is written. Returns the number of cuts released.
    *
    * CONTRACT: any DataFrame returned by an earlier engine call is
    * INVALID after this (its final cut's blocks are gone and a
    * localCheckpoint cannot recompute); callers must have fully
    * consumed results first. Pack memos are untouched — they are not
    * enrolled here — so within-group reuse (ten graph queries sharing
    * one edge relation) survives. */
  def strayUnpersist(session: SparkSession): Int =
    transients.get(session.sparkContext).map { s =>
      val drained = s.synchronized {
        val d = s.toVector; s.clear(); d
      }
      drained.foreach(releaseRdd(_, blocking = true))
      // drop the entry while it is (still) empty — track re-creates on
      // demand, and keeping it would leak one map entry per context a
      // long-lived JVM ever creates. A concurrent track racing this
      // remove at worst leaves its cut to driver GC (the pre-round-12
      // behavior), never double-releases.
      if (s.synchronized(s.isEmpty)) transients.remove(session.sparkContext)
      drained.size
    }.getOrElse(0)

  /** Storage-memory footprint of everything currently persisted in the
    * session's block manager (memos, LineageCut pins that have not yet
    * rotated out, stray caches): (n RDDs, Σ bytes in memory, Σ bytes on
    * disk). Feeds Verify's peak-storage record — the number SCALE.md
    * cites for the full-suite cache-pressure claim. */
  def storageBytes(session: SparkSession): (Int, Long, Long) = {
    val infos = session.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }
}
