package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Driver-restart recovery for the iterative operators' reliable-
  * checkpoint mode.
  *
  * The stated reason `checkpointDir` exists on [[PageRank]]/[[Hits]]/
  * [[ConnectedComponents]]/… is surviving EXECUTOR loss mid-run (task
  * retry re-reads checkpoint files instead of recomputing lineage).
  * This object closes the other half of that story: after a DRIVER
  * loss, a fresh SparkContext can reconstruct the last completed
  * round's state from the files alone and RESUME the remaining rounds
  * via the operators' `initialRanks`-style resume surface — proving
  * the files are sufficient, and that [[LineageCut]]'s rotation never
  * deletes a generation a restart would need (it keeps the last `keep`
  * generations; only strictly superseded ones are removed).
  * [[graft.operators CheckpointRecoverySpec]] pins the full cycle:
  * run → stop the context → fresh context → reload → resume →
  * bit-identical to the uninterrupted run.
  *
  * At 100 TB this is the difference between "a 100-round PageRank
  * whose driver OOMs at round 97 restarts from round 97" and "it
  * restarts from round 0".
  */
object CheckpointRecovery {

  /** The reliable-checkpoint directory backing `df`'s state, if `df`
    * is a checkpointed frame (an iterative operator's per-round cut in
    * `checkpointDir` mode). Persist this path (it is stable driver
    * metadata — a job manifest entry, not data) alongside the round
    * number; a restart feeds it to [[reload]]. */
  def checkpointFileOf(df: DataFrame): Option[String] =
    graft.Caches.checkpointRdd(df).flatMap(_.getCheckpointFile)

  /** Rebuild the checkpointed state under `path` in (a possibly brand
    * new) `spark`. `schema` must be the schema the state was written
    * with — for the iterative operators that is their documented
    * output schema (e.g. PageRank: `node BIGINT, r BIGINT`); the rows
    * are stored as fixed-layout UnsafeRow images, so schema is caller
    * knowledge by design, same as any external table. */
  def reload(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    org.apache.spark.sql.graftshim.CheckpointShim
      .readCheckpoint(spark, path, schema)
}
