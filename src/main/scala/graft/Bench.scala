package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Benchmark main (driver contract): times the headline queries
  * (`Q.bench = true`) on SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Each query is forced with a `noop` sink write — `count()` would let
  * Catalyst prune projections and skip computing most of the plan.
  * The session is warmed with one untimed run of the first query so JVM /
  * codegen startup cost isn't attributed to it.
  *
  * The artifact is SELF-ADJUDICATING (see SCALE.md "Reading the bench
  * artifact"): alongside the min-of-3 per-query numbers it carries
  *   - "samples": every raw repetition per query in run order, so a
  *     one-spike-poisoned min (rare, but it produced r6's q03 2×) is
  *     visible in the artifact itself, and
  *   - "calibration": the scalar+parallel probe pair ([[Calibration]])
  *     timed at EVERY pass boundary of the measured loop (round 11;
  *     r10 probed only the ends) — so each repetition has a
  *     same-minute contention reading, and
  *   - NORMALIZED headline fields (round 11, closing the r10 gray
  *     zone): each repetition is divided by its pass's mean
  *     par_over_scalar (clamped ≥ 1, so an idle box never inflates),
  *     and `total_norm`/`iter_total_norm`/`heavy_total_norm` sum the
  *     normalized per-query mins. BENCH_r10 shipped at
  *     par_over_scalar 1.24 — between the reading rule's ≤1.1
  *     (healthy) and ≥1.4 (degraded) buckets — and its +54% q01 could
  *     only be adjudicated by inference. The normalized totals are
  *     the declared round-over-round comparison basis whenever
  *     par_over_scalar exceeds 1.15 (the "basis" field says which
  *     applies); raw fields stay for continuity with r1–r10.
  */
object Bench {

  /** Streaming floor: a 3-batch Trigger.AvailableNow replay through the
    * linedir micro-batch source (maxFilesPerTrigger admission) into a
    * stateful word-sum aggregation on a noop sink — source listing +
    * seen-log + state store + sink commit all on the timed path. The
    * input dir is generated fresh (12 files × 25k lines) so the number
    * is a pure pipeline rate, not parquet-scan speed. Returns
    * (rows, wall seconds, per-micro-batch durations in ms) — the batch
    * durations feed the latency percentiles (throughput alone hides a
    * straggler batch behind two fast ones). */
  private def streamBench(spark: SparkSession): (Long, Double, Seq[Long]) = {
    val dir = Files.createTempDirectory("graft-stream-bench")
    val rnd = new scala.util.Random(7)
    val nFiles = 12; val linesPerFile = 25000
    for (i <- 0 until nFiles) {
      val sb = new StringBuilder
      for (_ <- 0 until linesPerFile)
        sb.append(s"evt_${rnd.nextInt(1000)} ${rnd.nextInt(100)}\n")
      Files.write(dir.resolve(f"in-$i%03d.txt"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    val ckpt = Files.createTempDirectory("graft-stream-ckpt")
    try {
      val t0 = System.nanoTime()
      val q = spark.readStream.format("linedir")
        .option("maxFilesPerTrigger", 4)
        .load(dir.toString)
        .selectExpr("split(value, ' ')[0] AS k",
          "CAST(split(value, ' ')[1] AS LONG) AS v")
        .groupBy("k").sum("v")
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // recentProgress survives termination; batchDuration is the
      // end-to-end micro-batch wall (listing + state + sink commit)
      val batchMs = q.recentProgress.toSeq.map(_.batchDuration)
      (nFiles.toLong * linesPerFile, (System.nanoTime() - t0) / 1e9, batchMs)
    } finally {
      // each invocation writes ~7 MB of input + checkpoint; repeated
      // bench runs would otherwise accumulate them in /tmp and skew
      // the page-cache-sensitive stream floor they feed
      def rm(p: java.nio.file.Path): Unit = {
        val s = Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        finally s.close()
      }
      rm(dir); rm(ckpt)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")

    def force(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    // per-query stray reclamation (round 12, Verify's policy): each
    // engine rep leaks its final LineageCut generations + pins until
    // driver GC; dropping them between queries keeps later reps'
    // memory regime flat. OUTSIDE the timed region, and BLOCKING by
    // design (Caches.releaseRdd scaladoc: the g05 A/B caught an async
    // drain racing the end calibration probe) — a multi-GB drain can
    // take seconds between reps, which is exactly why it must finish
    // before the next timed region starts; pack memos are untouched so
    // warm reuse across passes is preserved.
    def reclaim(): Unit = Caches.strayUnpersist(spark)

    // Two groups: the FIXED headline set (14 queries, `value` = its total,
    // kept stable for round-over-round comparability) and the ITERATIVE
    // group (loop-shaped engines — CC, PageRank, k-means, k-core — whose
    // per-round lineage-cut cost is otherwise unmeasured), reported under
    // "iter_queries"/"iter_total" so neither total pollutes the other.
    val names = SparkEntry.benchQueries
    val iterNames = SparkEntry.benchIterQueries
    // third group (round 8): HEAVY non-loop pipelines (d18/d20/s20) +
    // the round-7 iterative additions (g08/g10 ride iter_queries) — so
    // drift on those surfaces is measured, not assumed, while the fixed
    // 14-query headline total stays comparable across rounds
    val heavyNames = SparkEntry.benchHeavyQueries
    val allNames = names ++ iterNames ++ heavyNames

    // STREAM-ONLY mode (round 13, measurement aid): skip the query
    // passes entirely and print one line per stream replay — the
    // cheap arm for interleaved two-tree stream A/Bs
    // (tools/ab_tree3.py times queries through graft.Verify and can't
    // reach the stream harness, and a full Bench run costs ~10 min per
    // arm).
    // Probes bracket the replays so the readings self-adjudicate.
    if (sys.env.get("SPARK_GRAFT_STREAM_ONLY").contains("1")) {
      val p0 = Calibration.probe(spark)
      val runs = (1 to 3).map(_ => streamBench(spark))
      val p1 = Calibration.probe(spark)
      runs.foreach { case (rows, sec, _) =>
        println(f"[stream-only] rows=$rows sec=$sec%.3f " +
          f"rows_per_sec=${rows / sec}%.0f")
      }
      println(f"[stream-only] par_over_scalar ${p0.parOverScalar}%.3f -> " +
        f"${p1.parOverScalar}%.3f")
      spark.stop()
      return
    }

    // Warm-up: JVM JIT / codegen / parquet-footer startup, untimed —
    // each query shape pays 1-3s of Janino+JIT on first execution.
    // Failures are tolerated here; the measured loop reports them.
    allNames.foreach { n =>
      try force(n) catch { case _: Throwable => () }
      reclaim()
    }

    // Probe pair at EVERY pass boundary (round 11): pass i's samples
    // are bracketed by probes(i-1) and probes(i), so each repetition
    // gets a same-minute contention factor instead of inheriting the
    // run-level mean — the r10 gray-zone fix (its 1.24 was an average
    // over passes whose conditions demonstrably differed: q01's three
    // samples read 1.27/0.91/0.90 s).
    val probes = scala.collection.mutable.ArrayBuffer(Calibration.probe(spark))

    // min of three measured runs, ROUND-ROBIN over the whole set: the box
    // hosting local[32] sees multi-second external load spikes; running a
    // query's three repetitions back-to-back lets one spike poison all of
    // them, while interleaving puts each query's repetitions minutes apart
    // so the per-query min survives any single spike. A query that throws
    // is reported as -1, excluded from the total, and named in "failed" —
    // never silently timed as a fast "success".
    // (pass index, wall sec) per repetition, newest first
    val passSamples = scala.collection.mutable
      .Map.empty[String, List[(Int, Double)]].withDefaultValue(Nil)
    (1 to 3).foreach { pass =>
      allNames.foreach { name =>
        val t0 = System.nanoTime()
        try {
          force(name)
          val sec = (System.nanoTime() - t0) / 1e9
          passSamples(name) ::= (pass, sec)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        reclaim()
      }
      probes += Calibration.probe(spark)
    }

    // streaming floor: min of 2 replays (each is its own 3-batch run);
    // batch-latency percentiles pool BOTH replays' micro-batches so a
    // straggler batch in either run is visible in p95
    val (streamRows, streamSec, streamBatchMs) =
      try {
        val runs = (1 to 2).map(_ => streamBench(spark))
        (runs.head._1, runs.map(_._2).min, runs.flatMap(_._3))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream failed: ${e.getMessage}")
        (0L, -1.0, Seq.empty[Long])
      }

    // one more pair after the stream bench so the stream floor's scaling
    // factor sees the conditions the stream replay actually ran under
    probes += Calibration.probe(spark)
    val calibStart = probes.head.scalarSec
    val calibParStart = probes.head.parSec
    val calibEnd = probes.last.scalarSec
    val calibParEnd = probes.last.parSec
    // run-level contention ratio: mean of all boundary ratios — the
    // single number SCALE.md's reading rule keys on
    val parOverScalar =
      probes.map(_.parOverScalar).sum / probes.length

    // per-pass contention factor: mean of the bracketing boundary
    // ratios, clamped ≥ 1 so a genuinely idle box (ratio ≈ 1.0±ε)
    // never INFLATES a query — normalization only ever discounts
    // measured contention, it cannot manufacture speed
    def passFactor(pass: Int): Double =
      math.max(1.0,
        (probes(pass - 1).parOverScalar + probes(pass).parOverScalar) / 2)

    // per query: each repetition divided by its pass's factor, then
    // min; -1 when every repetition failed. `_ => 1.0` gives the raw
    // mins, `passFactor` the normalized twin — the round-over-round
    // comparison basis when the box reads contended (see "basis" below)
    def summarize(ns: Seq[String], factor: Int => Double)
        : (Seq[(String, Double)], String, Double) = {
      val results = ns.map { n =>
        val mins = passSamples(n).map { case (p, s) => s / factor(p) }
        n -> (if (mins.isEmpty) -1.0 else mins.min)
      }
      val json = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      (results, json, results.map(_._2).filter(_ >= 0).sum)
    }
    val (res, qs, total) = summarize(names, _ => 1.0)
    val (iterRes, iterQs, iterTotal) = summarize(iterNames, _ => 1.0)
    val (heavyRes, heavyQs, heavyTotal) = summarize(heavyNames, _ => 1.0)
    val (resNorm, qsNorm, totalNorm) = summarize(names, passFactor)
    val (iterResNorm, _, iterTotalNorm) = summarize(iterNames, passFactor)
    val (heavyResNorm, _, heavyTotalNorm) = summarize(heavyNames, passFactor)
    // streaming floor THRESHOLD (documented in SCALE.md): the stream
    // path is a correctness-gated but otherwise unmeasured surface —
    // without a floor, a 10x collapse (state-store regression, listing
    // regression) would ship silently. Since round 13 the floor is a
    // spec-pinned CONSTANT on the NORM basis (see
    // StreamFloorNormRowsPerSec and the derivation comment below) and
    // gates streamRateNorm, which is already contention-corrected —
    // no per-run scaling (the pre-r13 raw-basis floor scaled by the
    // live probe, double-correcting once the norm rate existed).
    val streamRate = if (streamSec > 0) streamRows / streamSec else -1.0
    // normalized stream rate (round 12, r11 verdict stretch): the
    // replay ran between the last two probes; scale the rate UP by
    // that window's contention factor (clamped ≥ 1 like the query
    // normalization — an idle box never deflates). The raw rate stays
    // the r1–r11 continuity series; the norm rate is the
    // regime-comparable one (r11's 125k → 115k slide was the box).
    val streamFactor = math.max(1.0,
      (probes(probes.length - 2).parOverScalar +
        probes.last.parOverScalar) / 2)
    val streamRateNorm = if (streamSec > 0) streamRate * streamFactor else -1.0
    // round 13 (r12 verdict item 6): the floor is re-derived ON THE
    // NORM BASIS and gates the NORM rate — the pre-r12 floor scaled a
    // raw-era base (50k, ~1/3 of r7/r8's raw 134-153k) by the live
    // parallel probe, i.e. it corrected for contention TWICE once the
    // norm rate existed. streamRateNorm is already contention-
    // corrected, so the floor is now a spec-pinned constant
    // ([[StreamFloorNormRowsPerSec]]); SPARK_GRAFT_STREAM_FLOOR
    // (rows/s, on the norm basis) still overrides, 0 disables.
    val streamFloor = sys.env.get("SPARK_GRAFT_STREAM_FLOOR")
      .map(_.toLong).getOrElse(StreamFloorNormRowsPerSec)
    val streamFailed = streamRateNorm < streamFloor
    // per-micro-batch latency percentiles (nearest-rank over the pooled
    // replays): throughput alone hides one straggler batch behind two
    // fast ones; the p95 ceiling is documented in SCALE.md as advisory
    // (drift evidence), deliberately NOT wired into the exit code —
    // same box-relativity argument as the floor above
    def pct(xs: Seq[Long], p: Double): Long =
      if (xs.isEmpty) -1L
      else {
        val s = xs.sorted
        s(math.max(0, math.min(s.length - 1,
          math.ceil(p * s.length).toInt - 1)))
      }
    val batchP50 = pct(streamBatchMs, 0.50)
    val batchP95 = pct(streamBatchMs, 0.95)
    val failed = ((res ++ iterRes ++ heavyRes).collect {
      case (k, v) if v < 0 => "\"" + k + "\""
    } ++ (if (streamFailed) Seq("\"stream\"") else Nil))
      .mkString("[", ",", "]")
    // raw repetitions in chronological order (the list is built by
    // prepending, so reverse) — the spike-visibility field
    val rawJson = allNames.map { n =>
      "\"" + n + "\":" + passSamples(n).reverse.map(_._2)
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // par_over_scalar is the contention ratio: ≈1 on an idle box (one
    // task per slot, same per-task work as the scalar loop), rising
    // with any co-tenant load a single-thread probe cannot see.
    // "boundaries" carries every probe pair in run order (before pass 1,
    // after each pass, after the stream bench) — the per-pass factors
    // the normalized fields were computed from.
    val calibJson =
      s"""{"start_sec":$calibStart,"end_sec":$calibEnd""" +
        s""","par_start_sec":$calibParStart,"par_end_sec":$calibParEnd""" +
        s""","par_over_scalar":$parOverScalar""" +
        s""","boundaries":${probes.map(_.json).mkString("[", ",", "]")}}"""
    val streamJson =
      s"""{"rows":$streamRows,"sec":$streamSec,"rows_per_sec":${
        if (streamSec > 0) (streamRows / streamSec).round else -1
      },"rows_per_sec_norm":${
        if (streamSec > 0) streamRateNorm.round else -1
      },"floor_rows_per_sec":$streamFloor,"floor_basis":"norm"""" +
      s""","batch_ms_p50":$batchP50,"batch_ms_p95":$batchP95,"n_batches":${
        streamBatchMs.length
      },"ok":${!streamFailed}}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"iter_queries":$iterQs,"iter_total":$iterTotal,"heavy_queries":$heavyQs,"heavy_total":$heavyTotal,"queries_norm":$qsNorm,"total_norm":$totalNorm,"iter_total_norm":$iterTotalNorm,"heavy_total_norm":$heavyTotalNorm,"samples":$rawJson,"calibration":$calibJson,"stream":$streamJson,"failed":$failed,"sf":"$sfDir"}""")
    // compact per-query record BEFORE the summary: the driver keeps
    // only the last ~2000 chars of output and the full JSON line above
    // gets sliced — r11's committed artifact carried 13 of 23 rows.
    // Short names (the unique q01/d18/g05 prefixes) keep BOTH min
    // tables + the summary line inside that window (round 12, r11
    // verdict item 6).
    println(perQueryLine(res ++ iterRes ++ heavyRes,
      resNorm ++ iterResNorm ++ heavyResNorm))
    val failedNames = (res ++ iterRes ++ heavyRes).collect {
      case (k, v) if v < 0 => k
    } ++ (if (streamFailed) Seq("stream") else Nil)
    println(summaryLine(total, iterTotal, heavyTotal,
      totalNorm, iterTotalNorm, heavyTotalNorm, parOverScalar,
      if (streamSec > 0) math.round(streamRows / streamSec) else -1L,
      if (streamSec > 0) streamRateNorm.round else -1L,
      !streamFailed, batchP50, batchP95, calibEnd, calibParEnd,
      failedNames, sfDir))
    if (failedNames.nonEmpty) { spark.stop(); sys.exit(1) }
    spark.stop()
  }

  /** Second, COMPACT record printed after the full JSON line. The
    * driver's BENCH_r{N}.json keeps only the last ~2000 chars of
    * output, and r7/r8's single full-JSON line was sliced mid-record
    * ("parsed": null) — its headline totals sat in the truncated
    * prefix. This line is < 500 chars by construction (values rounded
    * to 3 decimals, failed-list capped at 3 names alongside the full
    * count; BenchSummarySpec pins both bound and parseability), so any
    * tail window that big contains one complete parseable record.
    *
    * Round 11 adds the normalized totals, the run-level contention
    * ratio, and "basis" — the DECLARED comparison field for the round:
    * "raw" when par_over_scalar ≤ 1.15 (a quiet box; raw and normalized
    * agree within probe noise anyway), "norm" above it (the r9/r10
    * regime, where raw totals measure the host, not the code). This is
    * the r10 verdict's gray-zone close: 1.1–1.4 readings no longer
    * need an inference — the artifact names its own basis. */
  def summaryLine(total: Double, iterTotal: Double, heavyTotal: Double,
      totalNorm: Double, iterTotalNorm: Double, heavyTotalNorm: Double,
      parOverScalar: Double,
      streamRowsPerSec: Long, streamRowsPerSecNorm: Long,
      streamOk: Boolean,
      batchMsP50: Long, batchMsP95: Long, calibSec: Double,
      calibParSec: Double, failed: Seq[String], sf: String): String = {
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    // cap shrank 5 → 3 when round 11 added the normalized fields — the
    // < 500 budget is load-bearing (BenchSummarySpec's pathological case)
    val f = failed.take(3).map("\"" + _ + "\"").mkString("[", ",", "]")
    val basis = if (parOverScalar <= RawBasisCeiling) "raw" else "norm"
    s"""{"summary":1,"total":${r3(total)},"iter_total":${r3(iterTotal)}""" +
      s""","heavy_total":${r3(heavyTotal)}""" +
      s""","total_norm":${r3(totalNorm)}""" +
      s""","iter_total_norm":${r3(iterTotalNorm)}""" +
      s""","heavy_total_norm":${r3(heavyTotalNorm)}""" +
      s""","par_over_scalar":${r3(parOverScalar)},"basis":"$basis"""" +
      s""","stream_rows_per_sec":$streamRowsPerSec""" +
      s""","stream_rows_per_sec_norm":$streamRowsPerSecNorm""" +
      s""","stream_ok":$streamOk""" +
      s""","batch_ms_p50":$batchMsP50,"batch_ms_p95":$batchMsP95""" +
      s""","calib_sec":${r3(calibSec)},"calib_par_sec":${r3(calibParSec)}""" +
      s""","n_failed":${failed.length}""" +
      s""","failed":$f,"sf":"${sf.takeRight(40)}"}"""
  }

  /** Compact whole-board per-query record (round 12): raw AND
    * normalized min per bench query, keyed by the query's UNIQUE short
    * prefix (chars before the first '_': q01, d18, g05 — uniqueness
    * pinned by BenchSummarySpec). Values rounded to 3 decimals. With
    * 23 queries this line is ~700 chars, so it plus the < 500-char
    * summary line always fit the driver's ~2000-char tail window —
    * the committed artifact carries every row on both bases. */
  def perQueryLine(mins: Seq[(String, Double)],
      minsNorm: Seq[(String, Double)]): String = {
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    def short(n: String): String = n.takeWhile(_ != '_')
    def tab(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + short(k) + "\":" + r3(v) }
        .mkString("{", ",", "}")
    s"""{"per_query":1,"mins":${tab(mins)},"mins_norm":${tab(minsNorm)}}"""
  }

  /** par_over_scalar above which the summary's "basis" flips to the
    * normalized totals (r10 verdict item 1's ~1.15: past the probe's
    * own noise band on a quiet box, below the 1.24 reading that made
    * BENCH_r10 unadjudicable on raw numbers). */
  val RawBasisCeiling = 1.15

  /** Stream-throughput floor (rows/s) on the NORMALIZED basis (round
    * 13, r12 verdict item 6). ~1/3 of the r12 norm reading (122.7k) —
    * the same one-third-of-observed doctrine the original raw-era
    * floor used against r7/r8's 134-153k rows/s — so it catches a
    * collapse-class regression (state store, file listing) without
    * tripping on regime. Gates `stream_rows_per_sec_norm`, which is
    * already contention-corrected, so the floor itself no longer
    * scales by the live calibration probe (the pre-r13 double
    * correction). BenchSummarySpec pins the value. */
  val StreamFloorNormRowsPerSec = 40000L
}
