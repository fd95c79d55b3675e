package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, when}

/** The round driver of the seven fixpoint engines ([[PageRank]],
  * [[Hits]], [[ConnectedComponents]], [[KCore]], [[LabelPropagation]],
  * [[Bfs]], [[Sssp]]): one barrier loop in the MapReduce sense — each
  * round is a stage group whose state is materialized before the next
  * round plans — owned in one place. An engine supplies only its step
  * algebra: what to pin, what one round computes, and what says "done".
  *
  * LAYOUT CONTRACT. A run executes with `spark.sql.shuffle.partitions`
  * set to `defaultParallelism` (the executor-slot count) and restores
  * the caller's value after. Round state is node-sized at any corpus
  * size, and the layout is paid PER ROUND — every cut, every score
  * exchange — so it follows executor slots, while one-pass corpus
  * shuffles keep the session's data-derived count
  * (`Verify.derivedShufflePartitions`). Measured at sf10 (GROWTH_r10,
  * engines inheriting the session's 75 vs core-tied, min-of-3): g10
  * 211 → 136 s, d06 27.4 → 24.8, g05 218 → 211, g01 214 → 226 (within
  * its spread); a count in the thousands would multiply per-round
  * scheduling by rounds, and AQE cannot raise an under-provisioned
  * count. A LAZY corpus-sized caller plan (d06 hands ConnectedComponents
  * an un-materialized pair pipeline) materializes inside the run at
  * slot count — measured benign at sf10; eager-cut such an input under
  * the session layout if a profile ever shows otherwise. A dynamic
  * extent suffices because every cut is eager, so all round executions
  * happen inside the run; the result is a scan of the final cut, so
  * downstream shuffles follow the caller's restored conf. SQLConf is
  * per session and every engine drives its loop from one thread.
  *
  * CUT CONTRACT. Every round state is eagerly cut from lineage: without
  * the cut each round's plan embeds the previous round's (CC's embeds
  * it twice, join + union) and analysis cost compounds with rounds.
  * `checkpointDir = None` cuts with `localCheckpoint` — executor blocks,
  * no extra I/O, right for local[n] and restartable batch, but the
  * blocks die with their executor. `Some(dir)` cuts with reliable
  * `checkpoint` into `dir` — survives executor loss at one write + read
  * of the state per round; the production default at 100 TB. Every
  * engine spec pins both modes identical. State cuts rotate through one
  * [[LineageCut]] of depth `keep` (storage ≤ pins + keep states);
  * setup relations every round reads are [[pin]]ned, outside the
  * rotation; an engine with a second state lifetime (KCore's drop set,
  * HITS's raw sums) asks for its own [[rotation]]. A cut can also
  * return a counter read with `Dataset.observe` from the cut's OWN job
  * ([[Cuts.counting]], [[pinWith]]): the frontier engines stop on it,
  * so convergence costs no probe job. Every cut and pin is registered
  * with [[graft.Caches]], so a caller's `Caches.strayUnpersist`
  * reclaims whatever a finished — or failed — run leaves behind.
  *
  * ANNOUNCEMENT CONTRACT. With `announce = Some(tag)` and reliable
  * cuts, each completed round prints the checkpoint file of the last
  * state cut it made on stderr, `[<tag>] round <n> complete: <file>` —
  * the line tools/drill_preempt.py greps so a supervisor can resume
  * from the last completed round after a driver loss. Silent with
  * `localCheckpoint` (no file). Numbers are globally monotonic across
  * kills: a resume leg passes the prior run's completed-round count as
  * `roundOffset`, so it announces offset+1, offset+2, ..., and a
  * supervisor surviving a second kill reads total progress off the
  * latest line. Announcement-only: the offset never touches the
  * computation or the round cap. The announced file holds the full
  * state, not a delta, so resuming from the latest one is always
  * correct.
  */
final class Fixpoint private (checkpointDir: Option[String], keep: Int,
    announce: Option[String], roundOffset: Int) {
  private val lc = new LineageCut(checkpointDir, keep)

  /** The run's state rotation (depth `keep`). */
  val cut: Fixpoint.Cuts = new Fixpoint.Cuts(lc)

  /** A further rotation of depth `keep`, for state with its own
    * lifetime; never announced. */
  def rotation(keep: Int): Fixpoint.Cuts =
    new Fixpoint.Cuts(new LineageCut(checkpointDir, keep))

  /** Eagerly cut a setup relation every round reads, outside any
    * rotation. */
  def pin(df: DataFrame): DataFrame = lc.pin(df)

  /** [[pin]], also returning the aggregate `metrics` observed on the
    * pin's own job (one row, in order). */
  def pinWith(df: DataFrame, metrics: Column*): (DataFrame, Row) =
    Fixpoint.observed(df, metrics)(lc.pin)

  /** Run rounds 1..`maxRounds` from `init`. `round(state, n)` returns
    * the next state and whether it is the fixpoint; the loop stops
    * there or at the cap. Returns the last state and whether the loop
    * stopped on the fixpoint rather than the cap. */
  def loop[S](init: S, maxRounds: Int)(round: (S, Int) => (S, Boolean))
      : (S, Boolean) = {
    var state = init
    var done = false
    var n = 0
    while (!done && n < maxRounds) {
      n += 1
      cut.last = None
      val (next, fixpoint) = round(state, n)
      for (tag <- announce; df <- cut.last;
           f <- CheckpointRecovery.checkpointFileOf(df))
        System.err.println(s"[$tag] round ${roundOffset + n} complete: $f")
      state = next
      done = fixpoint
    }
    (state, done)
  }
}

object Fixpoint {

  /** Run `body` on a fresh driver under the core-tied layout.
    *
    * @param keep         depth of the state rotation: 2 for a loop
    *                     whose round reads only the previous state
    * @param announce     tag of the per-round reliable-mode announcement
    *                     (engines with a resume surface), None = silent
    * @param roundOffset  rounds completed before this run (resume legs) */
  def run[T](spark: SparkSession, checkpointDir: Option[String],
      keep: Int = 2, announce: Option[String] = None,
      roundOffset: Int = 0)(body: Fixpoint => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, spark.sparkContext.defaultParallelism.toString)
    try body(new Fixpoint(checkpointDir, keep, announce, roundOffset))
    finally spark.conf.set(key, prev)
  }

  /** One rotation of eager cuts (see [[LineageCut]]). */
  final class Cuts private[Fixpoint] (lc: LineageCut) {
    /** The last cut made in the current round (the announced one). */
    private[Fixpoint] var last: Option[DataFrame] = None

    def apply(df: DataFrame): DataFrame = { last = Some(lc(df)); last.get }

    /** Cut `df` and count its rows where `rows` holds, read off the
      * cut's own job — no second pass over the state. */
    def counting(df: DataFrame, rows: Column): (DataFrame, Long) = {
      val (out, m) = observed(df, Seq(count(when(rows, true))))(apply)
      (out, m.getLong(0))
    }
  }

  /** Observed metrics are delivered by a listener-bus event after the
    * cut's action returns; a missing delivery fails the run here
    * instead of hanging it. */
  private val ObservedWait = 10.minutes

  private def observed(df: DataFrame, metrics: Seq[Column])(
      cut: DataFrame => DataFrame): (DataFrame, Row) = {
    val obs = Observation()
    val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
    val out = cut(df.observe(obs, named.head, named.tail: _*))
    (out, Await.result(obs.future, ObservedWait))
  }
}
