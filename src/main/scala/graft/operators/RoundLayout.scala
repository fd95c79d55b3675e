package graft.operators

import org.apache.spark.sql.SparkSession

/** Shuffle layout for ITERATIVE engines: core-tied, not corpus-tied.
  *
  * Round 10 split the "partitions follow data volume" lesson in two.
  * The SESSION default is now derived from input bytes
  * (`Verify.derivedShufflePartitions` — 75 at the sf10 fixture), which
  * is right for one-pass pipelines whose dominant shuffle is
  * corpus-sized (d02's exploded self-join, d06's LSH band join, d03's
  * banding). A fixpoint engine, though, executes its layout PER ROUND
  * — every cut, every one-row convergence aggregate, every score
  * exchange — and its round-state tables are node-sized regardless of
  * corpus size, so the engines claim their own layout: this helper
  * runs an engine's whole eager loop with
  * `spark.sql.shuffle.partitions` set to `defaultParallelism` (the
  * executor-slot count — the right denominator for node-sized state
  * at any cluster size: 8 on the ladder box, 8000 on a 1000-executor
  * cluster) and restores the caller's conf after.
  *
  * Measured same-day at sf10 (GROWTH_r10 `_def` = engines inheriting
  * the session's 75 vs `_ct` = this wrapper, min-of-3 each): g10
  * single-pin 211 → 136 s (the per-round edge reshuffle and the
  * 2-round loop both prefer slot-count partitions), d06 27.4 → 24.8,
  * g05 218 → 211, g01 214 → 226 (the one mild counter-reading, within
  * its arm spread). Net: one large win, rest noise-level — and the
  * structural argument stands at any scale: a corpus-derived count in
  * the thousands would multiply per-round scheduling and cut overhead
  * by rounds, while AQE cannot raise an under-provisioned count at
  * all. KNOWN HAZARD, measured benign at sf10: a LAZY corpus-sized
  * caller plan (d06 hands d03's un-materialized pair pipeline to
  * ConnectedComponents) materializes inside the extent at slot count
  * — d06_ct's 24.8–33.3 s shows no cost today; if a future profile
  * shows otherwise, eager-cut the input under the session layout
  * before calling the engine.
  *
  * Dynamic extent is sufficient because every engine materializes
  * eagerly inside its loop (the LineageCut contract): all round
  * executions happen within `body`. The returned DataFrame is a scan
  * of the final checkpoint, so the caller's (restored) session conf
  * governs any DOWNSTREAM shuffles — a caller joining engine output
  * into a corpus-sized pipeline keeps the data-derived layout for
  * that. SQLConf is per-session; single-threaded engine drivers (all
  * of ours) need no further synchronization, matching the packs'
  * documented single-threaded-per-session assumption.
  */
object RoundLayout {
  def coreTied[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, spark.sparkContext.defaultParallelism.toString)
    try body finally spark.conf.set(key, prev)
  }
}
