package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, split, timestamp_micros}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.Caches
import graft.mr.{MapReduceDriver, MapReduceJob, MrJob}
import graft.operators._
import graft.streaming.StreamingOps

/** One timed operation. `stats` is the listener's view (traced run
  * only); `extra` holds per-operation probe readings. */
final case class OpResult(name: String, wall: Double, error: String,
    stats: GroupStats, extra: Map[String, Double] = Map.empty)

/** One pass over a workload's operations. `storageMb` and `strays` are
  * the `Caches` readings taken after the pass. */
final case class PassResult(wall: Double, ops: Seq[OpResult], rows: Long,
    storageMb: Double = 0.0, strays: Int = 0, heapMb: Double = 0.0)

trait Workload {
  /** (cold, warm) pass pairs every run measures, however short
    * `--seconds` is. */
  def minPairs: Int = 1
  /** Untimed warm-up: every operation's code path once, at reduced size
    * where the operation allows it (JIT, codegen, pack memos). */
  def warmUp(): Unit
  /** Measured pass `i`; `check` writes outputs for the checks. */
  def pass(i: Int, check: Boolean): PassResult
  /** Per-layer metrics from the traced passes plus this workload's
    * own probes (run after the passes, outside them). */
  def layerMetrics(cold: Seq[PassResult], warm: Seq[PassResult]): Seq[(String, Double)]
}

/** Shared per-run state: the session, the tracer and the listener. */
final class Run(val spark: SparkSession, tracer: Tracer,
    listener: Option[GroupListener], val checkDir: String, val seed: Long) {
  private var silent = false
  private var seq = 0
  private var untimedNs = 0L
  private val groups = scala.collection.mutable.Set.empty[String]

  def tracing: Boolean = tracer.enabled && !silent

  /** Run `body` with spans and listener draining switched off. */
  def quiet[T](body: => T): T = {
    val was = silent
    silent = true
    try body finally silent = was
  }

  def span[T](name: String)(body: => T): T =
    if (tracing) tracer.span(name)(body) else body

  /** Claim a job group that Spark itself set for work this operation
    * started (a streaming query runs its batches under its run id). */
  def adopt(group: String): Unit = groups += group

  /** Time `body` as one operation under its own job group. A throw is
    * recorded as the operation's error, never as a time. */
  def op[T](name: String)(body: => T): (OpResult, Option[T]) = {
    seq += 1
    val id = s"op$seq-$name"
    val sc = spark.sparkContext
    sc.setJobGroup(id, name)
    val t0 = System.nanoTime()
    val (err, value) =
      try (null, Some(if (tracing) tracer.root(id, name)(body) else body))
      catch { case e: Throwable =>
        (s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300), None) }
    val wall = (System.nanoTime() - t0) / 1e9
    sc.clearJobGroup()
    val stats = if (tracing) listener.map(_.take(groups.toSet + id)).orNull else null
    groups.clear()
    (OpResult(name, wall, err, stats), value)
  }

  /** Work inside a pass that is not part of its time: output writes for
    * the checks and releasing an operation's leftover lineage cuts. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try quiet(body) finally untimedNs += System.nanoTime() - t0
  }

  def reclaim(): Int = untimed(Caches.strayUnpersist(spark))

  def storageMb: Double = {
    val (_, mem, disk) = Caches.storageBytes(spark)
    (mem + disk) / 1e6
  }

  /** Live heap after a full collection, taken between passes. */
  def liveHeapMb: Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1e6
  }

  /** A pass's wall is the loop's wall minus its untimed work. */
  def timedPass(rows: Long)(ops: => Seq[OpResult]): PassResult = {
    untimedNs = 0L
    val t0 = System.nanoTime()
    val rs = ops
    val wall = (System.nanoTime() - t0 - untimedNs) / 1e9
    PassResult(wall, rs, rows, storageMb, heapMb = liveHeapMb)
  }
}

object Workload {
  def median(xs: Seq[Double]): Double = PerfBench.median(xs)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Median over the warm passes of a per-pass sum over its operations. */
  def perPass(warm: Seq[PassResult])(f: OpResult => Double): Double =
    median(warm.map(_.ops.filter(_.stats != null).map(f).sum))

  /** `caches` layer readings, taken after every pass. */
  def cacheMetrics(cold: Seq[PassResult], warm: Seq[PassResult]): Seq[(String, Double)] = Seq(
    "caches.memo_build_s" -> (median(cold.map(_.wall)) - median(warm.map(_.wall))),
    "caches.storage_mb" -> (cold ++ warm).map(_.storageMb).max,
    "caches.stray_cuts" -> median(warm.map(_.strays.toDouble)))
}

import Workload._

/** `mr-wordcount`: a FIFO queue of word-count jobs through
  * `MapReduceDriver`, one job submitted and drained at a time, with the
  * reference's shell mapper/reducer run via `pipe`, M = R = cores and
  * the local-move `part-%05d` sink. */
final class MrWordcount(run: Run, in: String, cpus: Int) extends Workload {
  private val spark = run.spark
  private val jobs = new File(in).listFiles().filter(_.getName.startsWith("job"))
    .map(_.getName).sorted.toSeq
  private val mapExe = s"$in/wc_map.sh"
  private val redExe = s"$in/wc_reduce.sh"
  private val lines = jobs.map { j =>
    new File(s"$in/$j/input").listFiles().map(f =>
      Files.lines(f.toPath).count()).sum
  }.sum
  private val driver = new MapReduceDriver(spark)

  private def outDir(j: String) = s"${run.checkDir}/mr/$j"
  override def minPairs: Int = 2

  def warmUp(): Unit = MapReduceJob.runExe(spark, s"$in/${jobs.head}/input",
    s"${run.checkDir}/../mr-warm", mapExe, redExe, cpus, cpus)

  def pass(i: Int, check: Boolean): PassResult = run.timedPass(lines) {
    jobs.map { j =>
      run.op("job") {
        val id = run.span("mr.submit")(driver.submit(MrJob(s"$in/$j/input",
          outDir(j), mapExe, redExe, numMappers = cpus, numReducers = cpus)))
        run.span("mr.run")(driver.runPending())
        driver.failed.find(_._1 == id).foreach { case (_, e) => throw e }
      }._1
    }
  }

  /** Prefix forcing: each stage's time is the increment of forcing the
    * pipeline one stage further (source → map pipe → shuffle/sort →
    * reduce pipe → sink). Each prefix is timed three times and its
    * fastest time kept; increments are the median over the first two
    * jobs. */
  def layerMetrics(cold: Seq[PassResult], warm: Seq[PassResult]): Seq[(String, Double)] = {
    val probe = s"${run.checkDir}/../mr-warm"
    val steps = jobs.take(2).map { j =>
      val src = s"$in/$j/input"
      def input = MapReduceJob.inputRdd(spark, src, cpus)
      def sorted = MapReduceJob.shuffleSort(input.pipe(mapExe), cpus)
      def timed(body: => Unit): Double = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); run.quiet(body); secs(t0)
      }.min
      val a = timed(input.count())
      val b = timed(input.pipe(mapExe).count())
      val c = timed(sorted.count())
      val d = timed(sorted.pipe(redExe).count())
      val e = timed(MapReduceJob.writePartFiles(sorted.pipe(redExe), probe))
      Seq(a, b - a, c - b, d - c, e - d)
    }
    def col(k: Int) = median(steps.map(_(k)))
    Seq("mr.source_s" -> col(0), "mr.map_pipe_s" -> col(1),
      "mr.shuffle_sort_s" -> col(2), "mr.reduce_pipe_s" -> col(3),
      "mr.sink_s" -> col(4),
      "mr.shuffle_write_mb" -> perPass(warm)(_.stats.shuffleWriteBytes / 1e6),
      "mr.fetch_wait_s" -> perPass(warm)(_.stats.fetchWaitMs / 1e3),
      "mr.spill_mb" -> perPass(warm)(_.stats.spillBytes / 1e6),
      "mr.task_retries" -> (cold ++ warm).flatMap(_.ops).filter(_.stats != null)
        .map(_.stats.failedTasks.toDouble).sum)
  }
}

object QueryMix {
  /** Driver bench queries in this workload (see perfbench/README.md for
    * why these five of the 24). */
  val Queries: Seq[String] = Seq("q01_pricing_summary", "q03_join_topk",
    "e03_sessionize", "d03_minhash_lsh", "g05_kcore")
}

/** `query-mix`: bench queries through `SparkEntry.queries`, each forced
  * by a `noop` write, in a seed-permuted order per pass, one warm
  * session. The measured region starts right after `Caches.sweep`, so
  * its first pass is the cold-memo pass. Its traced run also carries the
  * `operators` probes, on the generated graph under `graph/`. */
final class QueryMix(run: Run, dir: String) extends Workload {
  import org.apache.spark.metrics.source.CodegenMetrics
  private val spark = run.spark
  private val queries = graft.SparkEntry.queries
  private val rows = spark.read.parquet(s"$dir/lineitem.parquet").count()
  override def minPairs: Int = 2

  private def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum / 1e3)
  }

  def warmUp(): Unit = pass(0, check = false)

  def pass(i: Int, check: Boolean): PassResult = {
    if (check) {
      val oracles = QueryMix.Queries.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _))
      Files.createDirectories(Paths.get(run.checkDir))
      Files.writeString(Paths.get(s"${run.checkDir}/qm_oracles.json"), Json.obj(oracles: _*).s)
    }
    var strays = 0
    val order = new scala.util.Random(run.seed * 7919 + i).shuffle(QueryMix.Queries)
    val p = run.timedPass(rows) {
      order.map { n =>
        val (c0, s0) = if (run.tracing) codegen else (0L, 0.0)
        var planS = 0.0
        val (r, df) = run.op(n) {
          val df = run.span("queries.build")(queries(n)(spark, dir))
          if (run.tracing) {
            run.span("queries.plan")(df.queryExecution.executedPlan)
            planS = df.queryExecution.tracker.phases.values
              .map(_.durationMs).sum / 1e3
          }
          run.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
          df
        }
        if (check) run.untimed(df.foreach(_.write.mode("overwrite")
          .parquet(s"${run.checkDir}/qm/$n")))
        strays += run.reclaim()
        if (!run.tracing) r
        else {
          val (c1, s1) = codegen
          r.copy(extra = Map("plan_s" -> planS,
            "codegen_compiles" -> (c1 - c0).toDouble,
            "codegen_s" -> math.max(0.0, s1 - s0)))
        }
      }
    }
    p.copy(strays = strays)
  }

  def layerMetrics(cold: Seq[PassResult], warm: Seq[PassResult]): Seq[(String, Double)] = {
    def ex(k: String)(o: OpResult) = o.extra.getOrElse(k, 0.0)
    Seq(
      "queries.plan_s" -> perPass(warm)(ex("plan_s")),
      "queries.codegen_compiles" -> perPass(warm)(ex("codegen_compiles")),
      "queries.codegen_s" -> perPass(warm)(ex("codegen_s")),
      "queries.exec_s" -> perPass(warm)(_.stats.jobUnionSec),
      "queries.driver_idle_s" -> perPass(warm)(o =>
        o.wall - ex("plan_s")(o) - o.stats.jobUnionSec),
      "queries.jobs" -> perPass(warm)(_.stats.jobs),
      "queries.stages" -> perPass(warm)(_.stats.stages),
      "queries.tasks" -> perPass(warm)(_.stats.tasks),
      "queries.shuffle_mb" -> perPass(warm)(_.stats.shuffleWriteBytes / 1e6),
      "queries.spill_mb" -> perPass(warm)(_.stats.spillBytes / 1e6),
      "queries.gc_s" -> perPass(warm)(_.stats.gcMs / 1e3),
      "queries.scheduler_delay_s" -> perPass(warm)(_.stats.schedDelayMs / 1e3)) ++
      QueryMix.Queries.map { n =>
        s"queries.${n.takeWhile(_ != '_')}_s" ->
          median(warm.flatMap(_.ops.filter(_.name == n).map(_.wall)))
      } ++ cacheMetrics(cold, warm) ++
      new GraphFixpoint(run, s"$dir/graph").operatorProbes()
  }
}

/** `graph-fixpoint`: the seven fixpoint engines called directly on one
  * generated graph, each run to convergence and forced by a `noop`
  * write. The edge relations are cut once at set-up (the engines'
  * input contract: a memoized relation, not an expensive plan). */
final class GraphFixpoint(run: Run, dir: String) extends Workload {
  private val spark = run.spark
  private val raw = spark.read.parquet(s"$dir/edges.parquet")
  private val directed = raw.select("u", "v").localCheckpoint(true)
  private val sym = raw.union(raw.select(col("v").as("u"), col("u").as("v"), col("w")))
    .localCheckpoint(true)
  private val symUV = sym.select("u", "v")
  private val sources = spark.read.parquet(s"$dir/sources.parquet").localCheckpoint(true)
  private val seeds = spark.read.parquet(s"$dir/seeds.parquet").localCheckpoint(true)
  private val rows = sym.count()

  /** (name, engine call with a round cap, converged cap). */
  private val engines: Seq[(String, Int => DataFrame, Int)] = Seq(
    ("pagerank", c => PageRank.ranks(symUV, c, trustSymmetry = true), 3),
    ("hits", c => Hits.scores(directed, c), 2),
    ("cc", c => ConnectedComponents.minLabel(directed, maxIterations = c), 50),
    ("kcore", c => KCore.core(symUV, 3, maxRounds = c), 50),
    ("sssp", c => Sssp.distances(sym, sources, c), 64),
    ("bfs", c => Bfs.hops(symUV, sources, c), 64),
    ("labelprop", c => LabelPropagation.propagate(symUV, seeds, maxIterations = c), 50))

  private def call(name: String, f: Int => DataFrame, cap: Int): (OpResult, Option[DataFrame]) =
    run.op(name) {
      val df = run.span(s"operators.$name")(f(cap))
      run.span("operators.force")(df.write.format("noop").mode("overwrite").save())
      df
    }

  def warmUp(): Unit = engines.foreach { case (name, f, _) =>
    call(name, f, 2); run.reclaim()
  }

  def pass(i: Int, check: Boolean): PassResult = {
    var strays = 0
    val p = run.timedPass(rows) {
      engines.map { case (name, f, cap) =>
        val (r, df) = call(name, f, cap)
        if (check) run.untimed(df.foreach(_.write.mode("overwrite")
          .parquet(s"${run.checkDir}/graph/$name")))
        strays += run.reclaim()
        r
      }
    }
    p.copy(strays = strays)
  }

  def layerMetrics(cold: Seq[PassResult], warm: Seq[PassResult]): Seq[(String, Double)] =
    operatorProbes() ++ cacheMetrics(cold, warm)

  /** Per engine: one converged call (its output is also written for the
    * checks) and calls capped at 1 and 3 rounds. Setup and per-round cost
    * are the capped walls (fastest of two) differenced as IterProbe does;
    * rounds are the converged call's jobs beyond setup over the
    * per-round jobs. */
  def operatorProbes(): Seq[(String, Double)] = {
    val perEngine = engines.map { case (name, f, cap) =>
      val (full, df) = call(name, f, cap)
      run.untimed(df.foreach(_.write.mode("overwrite")
        .parquet(s"${run.checkDir}/graph/$name")))
      run.reclaim()
      // each capped call twice; the faster wall is kept
      val Seq(one, three) = Seq(1, 3).map { c =>
        val rs = (1 to 2).map { _ =>
          val r = call(s"probe-$name", f, c)._1; run.reclaim(); r
        }
        rs.head.copy(wall = rs.map(_.wall).min)
      }
      val roundS = (three.wall - one.wall) / 2
      val jpr = (three.stats.jobs - one.stats.jobs) / 2.0
      val setupJobs = one.stats.jobs - jpr
      val metrics = Seq(s"operators.$name.setup_s" -> (one.wall - roundS),
        s"operators.$name.round_s" -> roundS,
        s"operators.$name.rounds" ->
          (if (jpr > 0) math.rint((full.stats.jobs - setupJobs) / jpr) else 0.0),
        s"operators.$name.jobs_per_round" -> jpr)
      (metrics, (three.stats.shuffleWriteBytes - one.stats.shuffleWriteBytes) / 2e6)
    }
    perEngine.flatMap(_._1) :+
      ("operators.shuffle_mb_per_round" -> perEngine.map(_._2).sum)
  }
}

/** `stream-linedir`: an `AvailableNow` replay of event-line files
  * through `readStream.format("linedir")` into the watermarked
  * `StreamingOps.hourlyCounts`, committed per micro-batch by
  * `StreamingOps.commitBatch` (the body of `idempotentParquetSink`,
  * which starts its query with the default trigger and so cannot end a
  * replay). One pass is one replay; one operation is one micro-batch. */
final class StreamLinedir(run: Run, dir: String, outRoot: String) extends Workload {
  private val spark = run.spark
  private val FilesPerTrigger = 2
  private val inputMb = new File(dir).listFiles().map(_.length).sum / 1e6
  private val progress = scala.collection.mutable.Map.empty[Int, Seq[StreamingQueryProgress]]

  /** A replay of the first few files only (the `warmup` input dir). */
  def warmUp(): Unit = replay(s"$dir/../warmup", "warm", s"$outRoot/stream/warm-out")

  def pass(i: Int, check: Boolean): PassResult = {
    val sink = if (check) s"${run.checkDir}/stream" else s"$outRoot/stream/p$i-out"
    val t0 = System.nanoTime()
    val (r, prog) = replay(dir, s"p$i", sink)
    val wall = secs(t0)
    val batches = prog.getOrElse(Nil)
    progress(i) = batches
    val ops = if (r.error != null) Seq(r)
      else batches.map(p => OpResult("batch", p.batchDuration / 1e3, null, r.stats))
    PassResult(wall, ops, batches.map(_.numInputRows).sum, run.storageMb,
      heapMb = run.liveHeapMb)
  }

  private def replay(input: String, tag: String, sink: String)
      : (OpResult, Option[Seq[StreamingQueryProgress]]) = {
    val base = Paths.get(s"$outRoot/stream/$tag")
    val res = run.op("replay") {
      val events = spark.readStream.format("linedir")
        .option("maxFilesPerTrigger", FilesPerTrigger).load(input)
        .select(split(col("value"), ",").as("p"))
        .select(timestamp_micros(col("p")(0).cast("long")).as("ts"),
          col("p")(1).cast("long").as("user_id"), col("p")(2).as("event_type"),
          col("p")(3).cast("double").as("value"))
      val q = StreamingOps.hourlyCounts(events).writeStream
        .foreachBatch((b: Dataset[Row], id: Long) =>
          StreamingOps.commitBatch(b.toDF(), id, sink))
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      run.adopt(q.runId.toString)
      run.span("streaming.replay")(q.awaitTermination())
      q.recentProgress.toSeq
    }
    deleteTree(base)
    res
  }

  def layerMetrics(cold: Seq[PassResult], warm: Seq[PassResult]): Seq[(String, Double)] = {
    val batches = progress.toSeq.filter(_._1 % 2 == 0).flatMap(_._2)
    def dur(k: String) = median(batches.map(p =>
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      batches.flatMap(_.stateOperators.headOption.map(f))
    Seq("sources.latest_offset_ms" -> dur("latestOffset"),
      "sources.get_batch_ms" -> dur("getBatch"),
      "sources.read_mb" -> inputMb,
      "streaming.plan_ms" -> dur("queryPlanning"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.state_commit_ms" -> median(state(_.commitTimeMs.toDouble)),
      "streaming.state_rows" -> state(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0))
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
