package graft

import java.nio.file.{Files, Paths}


/** Dev-only per-query plan dump (optimization-round evidence tool,
  * [[Plans]]'s sibling): writes `explain("formatted")` for the named
  * queries to `<outDir>/<query>_<tag>.txt` — the before/after plan
  * files `plans/r{N}/` commits for the optimization judge. Unlike
  * [[Plans]] (which pins fingerprints for the whole registry in one
  * fixed walk), this dumps FULL text for an ad-hoc subset, at the
  * bench's own 32-core layout so AQE/broadcast decisions match what
  * Bench times.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args(3).split(",").toSeq
    val spark = GraftSession.local("graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    for (n <- names) {
      // pseudo-queries: the iterative engines' returned plan is a
      // checkpoint scan, so the plans worth recording for them are
      // their RELATIONAL PREFIXES — the shared edge derivation and
      // g08's weighted twin (the stages the optimization rounds move)
      val df = n match {
        case "edge_derivation" =>
          queries.GraphPack.deriveSupplierCustomerEdges(spark, sfDir)
        case "g08_weighted_derivation" =>
          queries.GraphPack.deriveWeightedEdges(spark, sfDir)
        case "s14_assignment" =>
          queries.SimilarityPack.s14Assignment(spark, sfDir)
        case q => SparkEntry.queries(q)(spark, sfDir)
      }
      val plan = df.queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted"))
      // iterative engines EXECUTE while their plan is built (eager
      // cuts); reclaim transients like Plans.fingerprintAll does
      Caches.strayUnpersist(spark)
      Files.writeString(Paths.get(outDir, s"${n}_$tag.txt"), plan)
      println(s"[plandump] wrote $outDir/${n}_$tag.txt")
    }
    spark.stop()
  }
}
