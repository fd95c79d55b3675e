package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.mr.SparkTestSession

/** Pins the session-cache registry (round 10, verdict item 5): the
  * full-suite Verify run sweeps pack memos at query-group boundaries,
  * and the sweep must actually release EVERY pack's pinned blocks —
  * and only its own session's. Every memo goes through `Caches.memo`
  * (MemoOwnerSpec fails on a session-keyed map anywhere else); the
  * per-pack reuse checks are DedupCacheSpec, PqCacheSpec and
  * GraphCacheSpec. This spec pins the REGISTRY: one sweep, all three
  * populated memos gone, other sessions untouched, and consumers still
  * answer afterwards. */
class CachesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  test("one sweep releases every pack's memoized blocks") {
    Caches.sweep(spark)
    val before = persisted
    // populate all three pack memos through memo-only consumers (the
    // per-pack specs' choices: no LineageCut engine pins in these)
    assert(SparkEntry.queries("d03_minhash_lsh")(spark, sfDir).count() > 0)
    assert(SparkEntry.queries("s12_pq_adc_topk")(spark, sfDir).count() > 0)
    assert(SparkEntry.queries("g12_degree_skew")(spark, sfDir).count() > 0)
    assert((persisted -- before).nonEmpty,
      "expected the three consumers to materialize their pack memos")
    Caches.sweep(spark)
    assert((persisted -- before).isEmpty,
      s"sweep left blocks pinned: ${(persisted -- before).toSeq.sorted}")
    // swept memos rebuild transparently on the next request
    assert(SparkEntry.queries("g12_degree_skew")(spark, sfDir).count() > 0)
    Caches.sweep(spark)
  }

  test("a sweep leaves other sessions' memos resident and reused") {
    val other = spark.newSession()
    Caches.sweep(spark)
    Caches.sweep(other)
    Caches.strayUnpersist(spark)
    val before = persisted
    def buildMemos(s: SparkSession): Unit = {
      assert(SparkEntry.queries("d03_minhash_lsh")(s, sfDir).count() > 0)
      assert(SparkEntry.queries("g12_degree_skew")(s, sfDir).count() > 0)
    }
    buildMemos(spark)
    val afterOwn = persisted
    buildMemos(other)
    val afterBoth = persisted
    // the edge memo is a per-session localCheckpoint; the persisted
    // shingle/signature relations are one CacheManager entry per plan,
    // shared by both sessions of this context
    val otherOnly = afterBoth -- afterOwn
    assert(otherOnly.nonEmpty, "expected the other session's own edge memo")
    Caches.sweep(spark)
    val resident = persisted
    assert((afterOwn -- resident).nonEmpty,
      "sweep released nothing of its own session")
    assert(otherOnly.subsetOf(resident), "sweep released another " +
      s"session's blocks: ${(otherOnly -- resident).toSeq.sorted}")
    // the other session's next calls read its memos, without a rebuild
    val d03 = SparkEntry.queries("d03_minhash_lsh")(other, sfDir)
    assert(d03.queryExecution.optimizedPlan.exists {
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case _ => false
    }, "the other session's shingle/signature relations lost their cache")
    assert(d03.count() > 0)
    assert(SparkEntry.queries("g12_degree_skew")(other, sfDir).count() > 0)
    Caches.strayUnpersist(other)
    assert(persisted === resident, "the other session rebuilt a " +
      s"memo: ${(persisted -- resident).toSeq.sorted}")
    Caches.sweep(other)
    assert((persisted -- before).isEmpty,
      s"the last sweep left blocks pinned: ${(persisted -- before).toSeq.sorted}")
  }

  test("memo: a losing build is released, the winner's blocks are kept") {
    import spark.implicits._
    Caches.sweep(spark)
    val before = persisted
    // both threads miss, build, then meet before either publishes: the
    // race putIfAbsent settles
    def race[T <: AnyRef](key: String)(build: => T): T = {
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val got = new java.util.concurrent.ConcurrentLinkedQueue[T]()
      val ts = (1 to 2).map(_ => new Thread(() => got.add(
        Caches.memo(spark, key) { val v = build; gate.await(); v })))
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(got.size === 2 && (got.peek() eq got.toArray.last),
        "both callers must get the winning build")
      got.peek()
    }
    // checkpoint builds are distinct RDDs: the loser's is released
    val cut = race("test.cut")(Seq(1, 2, 3).toDF("x").localCheckpoint(true))
    assert(persisted -- before === Caches.checkpointRdd(cut).map(_.id).toSet,
      "the losing checkpoint build leaked its blocks")
    // persisted builds share one CacheManager entry: releasing the
    // loser must not uncache the winner
    val cached = race("test.persist")(Seq(4, 5).toDF("y").persist())
    assert(cached.storageLevel.useMemory,
      "releasing the losing build uncached the winner")
    assert(cached.count() === 2)
    Caches.sweep(spark)
    assert((persisted -- before).isEmpty)
    assert(!cached.storageLevel.isValid)
  }

  test("strayUnpersist reclaims engine leftovers but never pack memos") {
    import spark.implicits._
    Caches.sweep(spark)
    Caches.strayUnpersist(spark)
    // populate a pack memo (the graph edge relation) ...
    assert(SparkEntry.queries("g12_degree_skew")(spark, sfDir).count() > 0)
    val withMemo = persisted
    assert(withMemo.nonEmpty, "expected the edge memo resident")
    // ... then run an iterative engine directly: its final LineageCut
    // generations stay pinned after the result is consumed — the
    // per-query leak SHARED_r11's sweep arm OOM'd on
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (4L, 5L), (5L, 4L)).toDF("a", "b")
    assert(operators.ConnectedComponents.minLabel(edges).count() === 5)
    assert((persisted -- withMemo).nonEmpty,
      "expected the engine to leave transient cuts behind")
    // the rotation released superseded generations itself (untrack):
    // the stray count is the final keep-window + pins, not one per
    // round — a handful, never tens
    val released = Caches.strayUnpersist(spark)
    assert(released > 0 && released < 10,
      s"expected a bounded leftover set, got $released")
    assert((persisted -- withMemo).isEmpty,
      s"strays survived: ${(persisted -- withMemo).toSeq.sorted}")
    assert(withMemo.subsetOf(persisted),
      "strayUnpersist must never touch pack-owned memos")
    // memo still answers without rebuild
    assert(SparkEntry.queries("g12_degree_skew")(spark, sfDir).count() > 0)
    Caches.sweep(spark)
    Caches.strayUnpersist(spark)
  }

  test("strayUnpersist deletes reliable-checkpoint leftover dirs") {
    import spark.implicits._
    import java.nio.file.{Files, Path}
    Caches.strayUnpersist(spark)
    val dir = Files.createTempDirectory("graft-stray-ckpt")
    def rddDirs: Seq[Path] = {
      val s = Files.walk(dir)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.filter(p => p.getFileName.toString.startsWith("rdd-"))
        .toList
      finally s.close()
    }
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("a", "b")
    assert(operators.ConnectedComponents
      .minLabel(edges, checkpointDir = Some(dir.toString)).count() === 3)
    // the final generations' checkpoint files survive the run (the
    // rotation only deleted SUPERSEDED ones)
    assert(rddDirs.nonEmpty, "expected leftover rdd-N checkpoint dirs")
    assert(Caches.strayUnpersist(spark) > 0)
    assert(rddDirs.isEmpty,
      s"reliable leftovers survived: $rddDirs")
  }

  test("storageBytes reports the block-manager footprint") {
    Caches.sweep(spark)
    SparkEntry.queries("g12_degree_skew")(spark, sfDir).count()
    val (n, mem, disk) = Caches.storageBytes(spark)
    assert(n > 0, "expected at least the edge memo to be resident")
    assert(mem + disk > 0, "resident memo reported zero bytes")
    Caches.sweep(spark)
  }
}
