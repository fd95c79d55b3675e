package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Also writes
  * timings.json (name → wall seconds for the result write) so
  * tools/ladder.py can record per-rung wall times in LADDER_r{N}.json
  * without a second run. */
object Verify {

  /** Shuffle-partition default: `max(cpus, ceil(4 × bytes / 128 MB))`.
    * `bytes` is the fixture's on-disk parquet footprint; the ×4 is the
    * measured snappy-parquet → UnsafeRow expansion (sf10: 2.4 GB on
    * disk, ~60M lineitem rows ≈ 100 B each decoded), so the quotient
    * approximates "decoded data / 128 MB target partition". At the
    * driver's gate scales this stays = cpus (sf0.01 is 1.9 MB); it
    * only rises once the data genuinely outgrows the thread count
    * (sf10 → 75, the band the g10 layout experiment measured as 1.65×
    * faster than cpus-tied 8). Spec-pinned in VerifyPartitionsSpec. */
  def derivedShufflePartitions(inputBytes: Long, cpus: Int): Int =
    math.max(cpus, math.ceil(inputBytes * 4.0 / (128L << 20)).toInt)

  /** Recursive on-disk size of the fixture dir's parquet payload. */
  def inputBytes(sfDir: String): Long = {
    val root = Paths.get(sfDir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(p => Files.isRegularFile(p))
        .mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query names (dev iteration aid),
    // or "@bench" = headline ∪ iterative ∪ heavy bench groups (the
    // scale-ladder subset for rungs where the full suite's quadratic
    // ORACLES would dominate, not the Spark side).
    val only: Option[Set[String]] =
      if (args.length > 2)
        Some(if (args(2) == "@bench")
          (SparkEntry.benchQueries ++ SparkEntry.benchIterQueries ++
            SparkEntry.benchHeavyQueries).toSet
        else args(2).split(",").toSet)
      else None
    val cpus = GraftSession.defaultCores
    // Shuffle partitions FOLLOW DATA VOLUME, not core count (round 10,
    // encoding round 9's measured layout lesson as the default): at the
    // sf10 rung the old cpus-tied default packed ~7.5M shuffle rows per
    // partition per iterative round and cost g10 546.6 vs 330.6 s
    // against 64 partitions — and AQE cannot fix it at runtime because
    // the initial partition count caps the post-coalesce layout.
    // SPARK_GRAFT_SHUFFLE_PARTITIONS still overrides (the ladder's
    // layout-experiment knob).
    val shufflePartitions =
      sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt)
        .getOrElse(derivedShufflePartitions(inputBytes(sfDir), cpus))
    val spark = GraftSession.local("graft-verify", cpus,
      Some(shufflePartitions))
    new java.io.File(outDir).mkdirs()
    // scalar+parallel probe pair BEFORE and AFTER the measured queries
    // (round 11, verdict item 4): every artifact built on this JVM's
    // timings (LADDER/GROWTH rows, layout arms) carries its own
    // contention reading instead of borrowing one from a Bench run
    // hours away. ~4 s per JVM — noise next to any rung this feeds.
    Calibration.warmup(spark)
    val probeStart = Calibration.probe(spark)
    val timings = scala.collection.mutable.Map.empty[String, Double]
    // Cache sweep at every query-GROUP boundary (round 10): the packs
    // memoize materialized relations per (session, dir) and a full
    // 219-query suite through one session otherwise accumulates all of
    // them — the compounding that collapsed the shared-session sf10
    // run. Group = the name's alpha prefix (d, e, g, mr, …), which is
    // also the pack boundary, so within-group reuse (ten graph queries
    // sharing one edge relation) is preserved while nothing survives
    // into the next group. Peak block-manager storage is sampled after
    // each query and recorded in storage.json — the managed-surface
    // evidence SCALE.md cites (SHARED_r11/r12 measured it against a
    // no-sweep arm).
    // Per-QUERY stray reclamation (round 12): after each result is
    // written, drop every LineageCut generation/pin no rotation will
    // ever release (Caches.strayUnpersist — ownership-aware: pack
    // memos are untouched, so within-group reuse survives). This is
    // the granularity SHARED_r11 proved pack-boundary sweeps cannot
    // reach: the sf10 sweep arm OOM'd IN-pack on eleven graph
    // queries' edge-sized pins before any boundary sweep could run.
    var straysDropped = 0
    var prevGroup = ""
    var peakMem = 0L; var peakDisk = 0L; var peakRdds = 0
    // iterate in PACK order (SparkEntry.all), not SparkEntry.queries'
    // hash-map order — hash order interleaves packs, which would make
    // the group-boundary sweep thrash (a sweep per query, destroying
    // exactly the within-group reuse the memos exist for)
    SparkEntry.all
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, q) =>
      val fn = q.run
      val group = name.takeWhile(!_.isDigit)
      if (group != prevGroup) {
        Caches.sweep(spark)
        prevGroup = group
      }
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        timings(name) = (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val (nRdds, mem, disk) = Caches.storageBytes(spark)
      if (mem + disk > peakMem + peakDisk) {
        peakMem = mem; peakDisk = disk; peakRdds = nRdds
      }
      // AFTER the peak sample: the record keeps the within-query
      // footprint; what the next query inherits is memos only
      straysDropped += Caches.strayUnpersist(spark)
    }
    Caches.sweep(spark)
    val probeEnd = Calibration.probe(spark)
    Files.writeString(Paths.get(s"$outDir/calibration.json"),
      s"""{"start": ${probeStart.json}, "end": ${probeEnd.json}, """ +
        s""""par_over_scalar": ${
          (probeStart.parOverScalar + probeEnd.parOverScalar) / 2}}""")
    Files.writeString(Paths.get(s"$outDir/storage.json"),
      s"""{"peak_storage_mem_bytes": $peakMem, """ +
        s""""peak_storage_disk_bytes": $peakDisk, """ +
        s""""peak_persisted_rdds": $peakRdds, """ +
        s""""stray_cuts_released": $straysDropped}""")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/timings.json"),
      timings.toSeq.sortBy(_._1)
        .map { case (k, v) => f"${q(k)}: $v%.3f" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
