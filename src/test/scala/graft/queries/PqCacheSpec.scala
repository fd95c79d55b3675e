package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.mr.SparkTestSession

/** Pins the memoized PQ pipeline (round 8): five queries
  * (s11/s12/s20/s21/s22) serve off ONE trained index per
  * (session, dir) — a second consumer must not re-train (re-explode,
  * re-run Lloyd passes, re-checkpoint), and `Caches.sweep` must unpin
  * the cached relations for long-lived sessions switching corpora. */
class PqCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  test("second PQ consumer reuses the trained index; clear unpins it") {
    graft.Caches.sweep(spark)
    val before = persisted
    SparkEntry.queries("s12_pq_adc_topk")(spark, sfDir).collect()
    val afterBuild = persisted
    assert((afterBuild -- before).nonEmpty,
      "first consumer should have materialized the cached PQ relations")
    SparkEntry.queries("s20_ivf_adc_topk")(spark, sfDir).collect()
    SparkEntry.queries("s22_pq_delta_encode")(spark, sfDir).collect()
    val afterReuse = persisted
    assert((afterReuse -- afterBuild).isEmpty,
      "later consumers re-trained the index instead of reusing the " +
        s"cache: new persisted RDDs ${(afterReuse -- afterBuild).toSeq.sorted}")
    graft.Caches.sweep(spark)
    assert((persisted -- before).isEmpty,
      "clear left cached PQ blocks pinned")
  }
}
