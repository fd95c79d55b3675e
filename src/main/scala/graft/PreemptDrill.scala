package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Preemption drill driver (round 13, r12 verdict item 5): exercises
  * the reliable-checkpoint mode where it exists for — DRIVER LOSS
  * mid-run — at real scale, not just CheckpointRecoverySpec's toy
  * graph. tools/drill_preempt.py orchestrates three JVMs:
  *
  *   1. `cold <sfDir> <out>` — uninterrupted g01-shaped 3-round
  *      PageRank (localCheckpoint mode), result to parquet: the
  *      reference answer and the cold wall.
  *   2. `run <sfDir> <ckptDir> <out>` — same run in RELIABLE mode;
  *      the supervisor KILLS this JVM after it logs "round 2
  *      complete" (the [[operators.PageRank]] per-round stderr hook),
  *      so the checkpoint directory is all that survives.
  *   3. `resume <sfDir> <stateFile> <roundsDone> <ckptDir> <out>` —
  *      fresh context: reload the last completed round's state from
  *      the checkpoint FILES alone ([[operators.CheckpointRecovery]]),
  *      run only the REMAINING rounds via `initialRanks`, write
  *      parquet. The resumed run is itself RELIABLE-mode (round 14,
  *      r13 verdict item 6): a production resume must survive a
  *      SECOND preemption, and the per-round checkpoint-file log is
  *      the exact hook a supervisor watches — so the drill now
  *      asserts the resumed JVM logs its remaining rounds (r13's
  *      localCheckpoint resume was silent by design, which left the
  *      supervisor path unexercised). The drill passes when resume ≡
  *      cold bit-for-bit and the resumed JVM's logs show exactly
  *      (3 − roundsDone) reliable rounds — recovery, not
  *      recomputation from round 0.
  *
  * The graph is g01's: the symmetrized supplier↔customer trade graph
  * (reference queries/GraphPack.scala g01), pre-cut here exactly like
  * GraphPack's memo so the engine's input contract holds.
  *
  * Round 14 (r13 verdict item 7) adds the CC drill — the OTHER
  * long-running production engine: `cc_cold <sfDir> <out>`,
  * `cc_run <sfDir> <ckptDir> <out>`, and
  * `cc_resume <sfDir> <stateFile> <ckptDir> <out>` run
  * [[operators.ConnectedComponents]] over d06's graph (d03's LSH
  * similarity pairs). CC runs to CONVERGENCE rather than a fixed
  * round count, so the resume leg takes no remaining-round argument:
  * it reloads the announced round state (node, label, prev — the
  * `prev` column is dropped), passes it as `initialLabels`, and
  * min-label monotonicity guarantees the same fixpoint as cold.
  */
object PreemptDrill {
  private val rankSchema = StructType(Seq(
    StructField("node", LongType, nullable = false),
    StructField("r", LongType, nullable = false)))
  private val ccStateSchema = StructType(Seq(
    StructField("node", LongType, nullable = false),
    StructField("label", LongType, nullable = false),
    StructField("prev", LongType, nullable = true)))

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val spark = GraftSession.local("graft-preemptdrill")

    def edges(sfDir: String) = {
      val e0 = queries.GraphPack
        .deriveSupplierCustomerEdges(spark, sfDir).localCheckpoint(true)
      e0.union(e0.select(col("v").as("u"), col("u").as("v")))
    }
    def dump(df: org.apache.spark.sql.DataFrame, out: String): Unit =
      df.select(col("node"), col("r")).orderBy("node")
        .write.mode("overwrite").parquet(out)
    // d06's graph: d03's LSH similarity pairs, pre-cut like the CC
    // probes (IterProbe cc mode) so the engine's input contract holds
    def ccPairs(sfDir: String) =
      SparkEntry.queries("d03_minhash_lsh")(spark, sfDir)
        .select(col("da"), col("db")).localCheckpoint(true)
    def dumpCc(df: org.apache.spark.sql.DataFrame, out: String): Unit =
      df.select(col("node"), col("component")).orderBy("node")
        .write.mode("overwrite").parquet(out)
    def timed[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val x = body
      println(f"[drill] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      x
    }

    mode match {
      case "cold" =>
        val Array(_, sfDir, out) = args
        timed("cold 3-round wall")(
          dump(operators.PageRank.ranks(edges(sfDir), 3,
            trustSymmetry = true), out))
      case "run" =>
        val Array(_, sfDir, ckptDir, out) = args
        // the supervisor kills this JVM mid-flight; `out` is only
        // written if the kill never lands (a drill failure the
        // orchestrator detects)
        dump(operators.PageRank.ranks(edges(sfDir), 3,
          checkpointDir = Some(ckptDir), trustSymmetry = true), out)
      case "resume" =>
        val Array(_, sfDir, stateFile, roundsDone, ckptDir, out) = args
        val remaining = 3 - roundsDone.toInt
        require(remaining > 0, s"nothing to resume (roundsDone=$roundsDone)")
        timed(s"resume wall ($remaining remaining rounds incl. reload)") {
          val restored = operators.CheckpointRecovery
            .reload(spark, stateFile, rankSchema)
          // reliable mode on the resume leg too (scaladoc above): the
          // resumed run must announce ITS rounds' checkpoint files so
          // a supervisor could recover from a second kill
          // roundOffset (round 16, the r15 advice): the resumed JVM's
          // announcements continue the global numbering (roundsDone+1,
          // roundsDone+2, ...) so a supervisor surviving a SECOND kill
          // reads total progress off the announcement itself
          dump(operators.PageRank.ranks(edges(sfDir), remaining,
            initialRanks = Some(restored),
            checkpointDir = Some(ckptDir), trustSymmetry = true,
            roundOffset = roundsDone.toInt), out)
        }
      case "cc_cold" =>
        val Array(_, sfDir, out) = args
        timed("cc cold wall")(
          dumpCc(operators.ConnectedComponents.minLabel(ccPairs(sfDir)), out))
      case "cc_run" =>
        val Array(_, sfDir, ckptDir, out) = args
        dumpCc(operators.ConnectedComponents.minLabel(ccPairs(sfDir),
          checkpointDir = Some(ckptDir)), out)
      case "cc_resume" =>
        // roundsDone is announcement numbering only (CC runs to
        // convergence — there is no remaining-round budget to size)
        val Array(_, sfDir, stateFile, roundsDone, ckptDir, out) = args
        timed("cc resume wall (to convergence incl. reload)") {
          val restored = operators.CheckpointRecovery
            .reload(spark, stateFile, ccStateSchema)
            .select(col("node"), col("label"))
          dumpCc(operators.ConnectedComponents.minLabel(ccPairs(sfDir),
            checkpointDir = Some(ckptDir),
            initialLabels = Some(restored),
            roundOffset = roundsDone.toInt), out)
        }
      case other => sys.error(
        s"unknown mode '$other' (cold|run|resume|cc_cold|cc_run|cc_resume)")
    }
    spark.stop()
  }
}
