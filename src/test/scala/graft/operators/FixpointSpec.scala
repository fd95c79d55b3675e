package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Caches
import graft.mr.SparkTestSession

/** Pins [[Fixpoint]]'s cut contract: the counter a cut returns is read
  * off the cut's own job (exact, and no extra job), a run that throws
  * leaks no cache entry or persisted RDD past `Caches.strayUnpersist`,
  * and the frontier engines' rounds run no probe job. */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerShim.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try { body; ListenerShim.waitUntilEmpty(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  // 40 rows over a shuffle, so the cut runs more than one stage
  private def state: DataFrame = spark.range(40)
    .select((col("id") % 13).as("k"), col("id").as("v"))
    .groupBy("k").agg(sum("v").as("s"))
  private val odd = col("s") % 2 === 1

  private def counterCase(checkpointDir: Option[String], forced: Boolean): Unit = {
    val expected = state.filter(odd).count()
    def input = {
      val df = state
      if (forced) df.queryExecution.executedPlan
      df
    }
    Fixpoint.run(spark, checkpointDir) { fx =>
      var counted = -1L
      val withCounter = jobsOf { counted = fx.cut.counting(input, odd)._2 }
      val plain = jobsOf(fx.cut(input))
      assert(counted === expected, "observed counter differs from count()")
      assert(withCounter <= plain,
        s"a counted cut ran $withCounter jobs, a plain cut $plain")
    }
    Caches.strayUnpersist(spark)
  }

  test("local cut: the observed counter is exact and adds no job") {
    counterCase(None, forced = false)
  }

  test("reliable cut: the observed counter is exact and adds no job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fx-rel")
    counterCase(Some(dir.toString), forced = false)
  }

  test("reliable cut of a frame whose physical plan was already forced") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fx-forced")
    counterCase(Some(dir.toString), forced = true)
  }

  test("pinWith observes its metrics on the pin's own job") {
    Fixpoint.run(spark, None) { fx =>
      val (pinned, m) = fx.pinWith(state, max("s"), count(lit(1)))
      val expected = state.agg(max("s"), count(lit(1))).head
      assert(m.getLong(0) === expected.getLong(0))
      assert(m.getLong(1) === expected.getLong(1))
      assert(pinned.count() === 13L)
    }
    Caches.strayUnpersist(spark)
  }

  test("a failed engine run leaks nothing past strayUnpersist") {
    val sc = spark.sparkContext
    val cacheManager = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // private[sql] in Scala, public in bytecode
    def cacheEntries: Int = classOf[org.apache.spark.sql.execution.CacheManager]
      .getMethod("numCachedEntries").invoke(cacheManager).asInstanceOf[Int]
    // evaluates only at run time, after the engine has pinned its edges
    val raising = spark.range(1, 4).select(col("id").as("node"),
      when(col("id") > 0, raise_error(lit("seed evaluation failed")))
        .otherwise(col("id")).as("label"))
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val calls: Seq[(String, () => Unit)] = Seq(
      "LabelPropagation.propagate" -> (() =>
        LabelPropagation.propagate(edges, raising).collect()),
      "ConnectedComponents.minLabel" -> (() =>
        ConnectedComponents.minLabel(edges, initialLabels = Some(raising))
          .collect()))
    calls.foreach { case (name, call) =>
      Caches.strayUnpersist(spark)
      val entriesBefore = cacheEntries
      val rddsBefore = sc.getPersistentRDDs.keySet
      intercept[Exception](call())
      Caches.strayUnpersist(spark)
      assert(cacheEntries === entriesBefore,
        s"$name left a CacheManager entry behind")
      val leaked = sc.getPersistentRDDs.keySet -- rddsBefore
      assert(leaked.isEmpty, s"$name left persisted RDDs $leaked behind")
    }
  }

  test("frontier engines run no probe job per round") {
    // a 13-node path: every engine is still running at round 3
    val path = (1L to 12L).map(i => (i, i + 1))
    val directed = path.toDF("u", "v")
    val sym = (path ++ path.map(_.swap)).toDF("u", "v")
    val weighted = path.map { case (u, v) => (u, v, 1L) }.toDF("u", "v", "w")
    val source = Seq(1L).toDF("node")
    val seeds = Seq((1L, 7L)).toDF("node", "label")
    // (engine, call at a round cap, jobs-per-round bound). The bounds
    // are the measured values; with a separate convergence probe each
    // engine read 2 more (5, 5, 5, 8, 7).
    val engines: Seq[(String, Int => DataFrame, Double)] = Seq(
      ("bfs", c => Bfs.hops(directed, source, c), 3.0),
      ("sssp", c => Sssp.distances(weighted, source, c), 3.0),
      ("cc", c => ConnectedComponents.minLabel(directed, maxIterations = c), 3.0),
      ("labelprop", c => LabelPropagation.propagate(directed, seeds,
        maxIterations = c), 6.0),
      ("kcore", c => KCore.core(sym, 2, maxRounds = c), 5.0))
    val measured = engines.map { case (name, f, bound) =>
      def jobsAt(cap: Int) = {
        val n = jobsOf(f(cap).write.format("noop").mode("overwrite").save())
        Caches.strayUnpersist(spark)
        n
      }
      (name, (jobsAt(3) - jobsAt(1)) / 2.0, bound)
    }
    info(s"jobs per round: ${measured.map(m => s"${m._1} ${m._2}").mkString(", ")}")
    measured.foreach { case (name, perRound, bound) =>
      assert(perRound <= bound, s"$name runs $perRound jobs per round, " +
        s"bound $bound (all: ${measured.map(m => m._1 -> m._2)})")
    }
  }
}
