package graft


/** Dev-only warm-timing harness for perf iteration (not part of the
  * driver contract): runs named queries N times each against a fixture
  * dir and prints per-rep wall times — rep 1 is cold (builds any
  * memoized/persisted intermediates), later reps show the warm path
  * that Bench's min-of-N measures.
  *
  * Usage: runMain graft.Scratch <sfDir> <q1,q2,...> [reps]
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local("graft-scratch")
    if (sys.env.contains("SCRATCH_EXPLAIN")) {
      // plan-smell audit: flag the shapes that do not survive scale-up
      // (the shared engine behind plans.PlanSmellGateSpec's allowlist)
      for (n <- names) {
        val smells = PlanSmells.audit(spark, d, n)
        println(s"[scratch] $n smells=${if (smells.isEmpty) "none" else smells.mkString(",")}")
      }
    } else for (n <- names; r <- 1 to reps) {
      val t0 = System.nanoTime()
      val cnt = SparkEntry.queries(n)(spark, d)
        .queryExecution.toRdd.count()
      println(f"[scratch] $n rep$r: ${(System.nanoTime() - t0) / 1e9}%.2f s ($cnt rows)")
    }
    spark.stop()
  }
}
