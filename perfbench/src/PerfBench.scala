package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver JVM: one workload, one closed-loop client.
  *
  *   PerfBench <workload> <inputDir> <outDir> <seconds> <trace 0|1> <cpus> <seed>
  *
  * Flow: set-up (three session builds, the median is reported, plus the
  * workload's input preparation and untimed warm-up), then pairs of
  * (`Caches.sweep`, cold pass, warm pass) until `seconds` have elapsed
  * and the workload's minimum of pairs is done. Every operation is timed
  * from outside the program. The first cold pass also writes each
  * operation's result under `outDir/check` (outside the timed region)
  * for the Python output checks. In the traced run spans
  * and a job-group listener are recorded, plus the per-layer probes of
  * each workload. Results go to `outDir/result.json`.
  */
object PerfBench {

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("train")) train(args(1)) else bench(args)

  /** Build-time training run for the class-data-sharing archive: load the
    * classes a session, SQL planning, codegen and parquet I/O need. */
  private def train(dir: String): Unit = {
    val spark = session(2, s"$dir/spark-local")
    spark.range(1000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v").join(spark.range(7).toDF("k"), "k")
      .orderBy("k").write.mode("overwrite").parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").count()
    spark.stop()
  }

  private def bench(args: Array[String]): Unit = {
    val Array(workload, inDir, outDir, secondsS, traceS, cpusS, seedS) = args
    val trace = traceS == "1"
    val cpus = cpusS.toInt
    val out = Paths.get(outDir)
    Files.createDirectories(out.resolve("check"))
    val local = out.resolve("spark-local").toString

    // set-up: three session builds (median), one warm-up pass
    val builds = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val s = session(cpus, local)
      s.range(1).count()
      val sec = (System.nanoTime() - t0) / 1e9
      if (i < 3) s.stop()
      sec
    }
    val spark = SparkSession.active
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(trace)
    val listener = if (trace) Some(new GroupListener(spark.sparkContext)) else None
    val run = new Run(spark, tracer, listener, out.resolve("check").toString,
      seedS.toLong)
    val tw = System.nanoTime()
    val w: Workload = workload match {
      case "mr-wordcount"   => new MrWordcount(run, inDir, cpus)
      case "query-mix"      => new QueryMix(run, inDir)
      case "graph-fixpoint" => new GraphFixpoint(run, inDir)
      case "stream-linedir" => new StreamLinedir(run, inDir, out.toString)
      case other => sys.error(s"unknown workload $other")
    }
    run.quiet(w.warmUp())
    val warmSec = (System.nanoTime() - tw) / 1e9
    listener.foreach(spark.sparkContext.addSparkListener)

    // measured region: pairs of (Caches.sweep, cold pass, warm pass)
    val seconds = secondsS.toDouble
    val t0 = System.nanoTime()
    val cold = mutable.ArrayBuffer.empty[PassResult]
    val warm = mutable.ArrayBuffer.empty[PassResult]
    while (cold.length < w.minPairs || (System.nanoTime() - t0) / 1e9 < seconds) {
      graft.Caches.sweep(spark)
      cold += w.pass(2 * cold.length + 1, check = cold.isEmpty)
      warm += w.pass(2 * cold.length, check = false)
    }

    // traced run only: one reference pass without spans or listener for
    // the tracing overhead, then the workload's per-layer probes
    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      listener.foreach(spark.sparkContext.removeSparkListener)
      val ref = run.quiet(w.pass(2 * cold.length + 1, check = false))
      listener.foreach(spark.sparkContext.addSparkListener)
      layer("trace.overhead_ratio") = median(warm.map(_.wall).toSeq) / ref.wall
      layer ++= w.layerMetrics(cold.toSeq, warm.toSeq)
      layer("trace.coverage_min") = tracer.coverage.map(_._2).min
      layer("trace.cross_attributed") =
        listener.map(_.crossAttributed.toDouble).getOrElse(0.0)
      writeLines(out.resolve("spans.jsonl"), tracer.json)
    }

    val rss = procStatusKb("VmHWM") / 1024.0
    val warmOps = warm.flatMap(_.ops).toSeq
    val byName = warmOps.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, os) => n -> median(os.map(_.wall)) }
    val all = (cold ++ warm).toSeq
    val result = Json.obj(
      "setup_builds_s" -> Json.arr(builds),
      "setup_s" -> (median(builds) + warmSec),
      "warmup_s" -> warmSec,
      "cold_passes" -> Json.arr(cold.map(_.wall).toSeq),
      "warm_passes" -> Json.arr(warm.map(_.wall).toSeq),
      "ops" -> Json.arr(warmOps.map(_.wall)),
      "attempted" -> all.map(_.ops.length).sum,
      "failed" -> Json.strs(all.flatMap(_.ops.filter(_.error != null)
        .map(o => s"${o.name}: ${o.error}"))),
      "rows" -> warm.map(_.rows).sum,
      "warm_wall_s" -> warm.map(_.wall).sum,
      "peak_rss_mb" -> rss,
      "heap_mb" -> Json.arr(all.map(_.heapMb)),
      "op_medians" -> Json.obj(byName: _*),
      "layer" -> Json.obj(layer.toSeq: _*),
      "env" -> Json.obj(
        "cores" -> cpus,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version")))
    writeLines(out.resolve("result.json"), Iterator(result.s))
    spark.stop()
  }

  def session(cpus: Int, localDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.default.parallelism", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def procStatusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  private def writeLines(p: java.nio.file.Path, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}

/** Minimal JSON rendering for the result record. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(s: String)

  def esc(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => esc(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case other => esc(other.toString)
  }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => esc(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def arr(xs: Seq[Double]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))
  def strs(xs: Seq[String]): Raw = Raw(xs.map(esc).mkString("[", ",", "]"))
}
