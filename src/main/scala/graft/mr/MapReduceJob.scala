package graft.mr

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** The reference engine's entire user surface, on Spark primitives: a
  * two-stage MapReduce job with the Hadoop-streaming contract
  * (reference submit.py:80-88 — `(input_dir, output_dir, mapper_exe,
  * reducer_exe, num_mappers, num_reducers)`).
  *
  * Stage semantics reproduced exactly (SURVEY.md §2.1):
  *   - O1 source: input dir enumerated sorted-by-name, files dealt
  *     round-robin into `numMappers` groups (manager/__main__.py:364-390),
  *     one task per group — exactly the reference's map-task
  *     composition. Input files are plain UTF-8 text on a local or
  *     shared filesystem, read by [[LocalLines]] (no compression codecs,
  *     no Hadoop filesystems — neither is in the reference's contract).
  *   - O2 map: executable gets lines on stdin, emits 0..n lines per
  *     input line (worker/__main__.py:113-158) → `RDD.pipe`, or a typed
  *     per-line closure.
  *   - O3 shuffle placement: md5(first-TAB field) % R → [[Md5Partitioner]]
  *     (worker/__main__.py:137-144).
  *   - O4+O5 sort & merge: whole-line ordering within each partition
  *     (worker/__main__.py:146-151, 164-168) →
  *     `repartitionAndSortWithinPartitions`. Canonical order is
  *     code-point order (= `LC_ALL=C sort` on UTF-8; the reference is
  *     locale-dependent and internally inconsistent — SURVEY §7.3.1).
  *   - O6 reduce: merged sorted stream piped to the reducer, same keys
  *     contiguous (worker/__main__.py:170-185).
  *   - O7 sink: output dir cleared then `part-{i:05d}` files written
  *     (manager/__main__.py:358-361; worker/__main__.py:172,183-185).
  *   - O8 barrier: the Spark shuffle stage boundary (free).
  *
  * Scale posture: this is one shuffle keyed by the grouping field with
  * sort-within-partitions — Spark's external sorter spills, so a 100 TB
  * job degrades to disk exactly like the reference's shared-FS shuffle,
  * but with map-side combine available via [[MapReduceJob.typed]]
  * pre-aggregation and locality-aware scheduling for free.
  *
  * Known reference quirk NOT replicated: with more map tasks than input
  * files the reference crashes running `sort` on nonexistent temp files
  * (worker/__main__.py:122-151); here the job simply runs one map task
  * per file.
  */
object MapReduceJob {

  /** O1 — enumerate `inputDir` sorted by name and deal the files
    * round-robin into `numMappers` groups: partition i of the result
    * reads, in sorted order, exactly the files whose index is ≡ i
    * (mod `numMappers`). There are `min(numMappers, #files)` partitions,
    * so `pipe` runs the mapper once per group, like the reference's one
    * worker process per map task. Files are never split: map semantics
    * are per-line, and whole-file groups keep stateful mappers on the
    * reference's task composition. */
  def inputRdd(spark: SparkSession, inputDir: String, numMappers: Int): RDD[String] = {
    requireMappers(numMappers)
    val files = listSorted(Paths.get(inputDir)).map(_.toString).toVector
    readGroups(spark, (0 until math.min(numMappers, files.size)).map { g =>
      (g until files.size by numMappers).map(files)
    })
  }

  /** O3–O5 — md5-partition on the first-TAB field, whole-line sort
    * within each of the `numReducers` partitions.
    *
    * @param rawNewlineParity hash/sort as if each line kept its trailing
    *                         '\n' (the reference worker's raw behavior,
    *                         worker/__main__.py:137-149) — closes the
    *                         two tab-less-line byte-parity caveats
    *                         documented on [[Md5Partitioner]]
    */
  def shuffleSort(mapped: RDD[String], numReducers: Int,
      rawNewlineParity: Boolean = false): RDD[String] = {
    implicit val ord: Ordering[String] =
      if (rawNewlineParity) Md5Partitioner.rawNewlineOrdering
      else Ordering.String
    mapped.map(l => (l, null: Any))
      .repartitionAndSortWithinPartitions(
        new Md5Partitioner(numReducers, rawNewlineParity))
      .map(_._1)
  }

  /** O1 variant — one partition per input file (sorted by name), so
    * `pipe` spawns the mapper executable exactly once per file: the
    * reference's invocation granularity (worker/__main__.py:126-133).
    * The default [[inputRdd]] pipes once per mapper GROUP — identical
    * output only for line-stateless mappers (two files dealt to one
    * group run a stateful mapper once for both). Use this mode when the
    * mapper carries per-file state (e.g. `awk END{...}` counters). Same
    * reader and input contract as [[inputRdd]]. */
  def inputRddPerFile(spark: SparkSession, inputDir: String): RDD[String] =
    readGroups(spark, listSorted(Paths.get(inputDir)).map(f => Seq(f.toString)))

  /** One partition per group; partition i streams group i's files in
    * order through [[LocalLines]]. */
  private def readGroups(spark: SparkSession, groups: Seq[Seq[String]]): RDD[String] =
    if (groups.isEmpty) spark.sparkContext.emptyRDD[String]
    else spark.sparkContext.parallelize(groups, groups.size)
      .mapPartitions(gs => new LocalLines(gs.flatten.toSeq))

  private def requireMappers(numMappers: Int): Unit =
    require(numMappers >= 1, s"numMappers must be positive: $numMappers")

  /** Full executable-contract job (the reference CLI's semantics).
    *
    * @param perFileMapper spawn the mapper once per input file
    *                      ([[inputRddPerFile]]) instead of once per
    *                      partition — exact reference granularity for
    *                      stateful mappers
    * @param committerSink commit output through Hadoop's
    *                      FileOutputCommitter ([[writePartFilesCommitter]])
    *                      instead of the local/shared-FS move sink
    * @param rawNewlineParity hash/sort with the trailing newline
    *                      attached (see [[shuffleSort]]) — exact
    *                      byte parity for tab-less mapper output
    */
  def runExe(spark: SparkSession, inputDir: String, outputDir: String,
      mapperExe: String, reducerExe: String,
      numMappers: Int = 2, numReducers: Int = 2,
      perFileMapper: Boolean = false,
      committerSink: Boolean = false,
      rawNewlineParity: Boolean = false): Unit = {
    requireMappers(numMappers)
    val input =
      if (perFileMapper) inputRddPerFile(spark, inputDir)
      else inputRdd(spark, inputDir, numMappers)
    val mapped = input.pipe(mapperExe)
    val reduced = shuffleSort(mapped, numReducers, rawNewlineParity)
      .pipe(reducerExe)
    if (committerSink) writePartFilesCommitter(reduced, outputDir)
    else writePartFiles(reduced, outputDir)
  }

  /** Typed twin: per-line mapper + sorted-run reducer, no shell needed.
    * The reducer sees one partition's lines in sorted order (same keys
    * contiguous), exactly the reducer-executable contract. */
  def typed(spark: SparkSession, input: RDD[String],
      mapper: String => IterableOnce[String],
      reducer: Iterator[String] => Iterator[String],
      numReducers: Int): RDD[String] =
    shuffleSort(input.flatMap(mapper), numReducers)
      .mapPartitions(reducer)

  /** Typed twin with a map-side combiner (Hadoop's `Combiner`
    * contract, absent from the reference but the canonical MapReduce
    * optimization): each map task's output is locally sorted into
    * key-contiguous runs and pre-folded by `combiner` BEFORE the
    * shuffle, so the wire carries one line per (map task × key)
    * instead of one per record — at 100 TB this is the difference
    * between shuffling the corpus and shuffling the dictionary.
    *
    * `combiner` sees exactly the reducer's contract (sorted lines,
    * same keys contiguous) over one map task's output, so any
    * associative+commutative reducer (e.g. [[graft.queries.MrPack.sumRuns]])
    * is a valid combiner and the final output is identical to
    * [[typed]] — spec-pinned byte equality. The local sort buffers one
    * map task's output in memory, the same unit Hadoop's spill buffer
    * holds; its input partition bounds its size. */
  def typedWithCombiner(spark: SparkSession, input: RDD[String],
      mapper: String => IterableOnce[String],
      combiner: Iterator[String] => Iterator[String],
      reducer: Iterator[String] => Iterator[String],
      numReducers: Int): RDD[String] = {
    val combined = input.flatMap(mapper).mapPartitions { it =>
      val arr = it.toArray
      java.util.Arrays.sort(arr, implicitly[Ordering[String]])
      combiner(arr.iterator)
    }
    shuffleSort(combined, numReducers).mapPartitions(reducer)
  }

  /** O7 — clear the output dir, then write partition i as
    * `part-{i:05d}` (reference naming). Local/shared-FS sink mirroring
    * the reference's move-into-place commit; at cluster scale the same
    * RDD goes to `saveAsTextFile` instead. */
  def writePartFiles(reduced: RDD[String], outputDir: String): Unit = {
    val out = Paths.get(outputDir)
    deleteRecursively(out)
    Files.createDirectories(out)
    val n = reduced.getNumPartitions
    reduced.mapPartitionsWithIndex { (i, it) =>
      val tmp = Files.createTempFile(s"graft-part$i-", ".tmp")
      val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
      try it.foreach { l => w.write(l); w.write('\n') }
      finally w.close()
      Iterator.single((i, tmp.toString))
    }.collect().foreach { case (i, tmp) =>
      Files.move(Paths.get(tmp), out.resolve(f"part-$i%05d"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // empty partitions still produce their (empty) part file, and every
    // part index exists even if the job produced < numReducers partitions
    (0 until n).foreach { i =>
      val p = out.resolve(f"part-$i%05d")
      if (!Files.exists(p)) Files.createFile(p)
    }
  }

  /** O7, cluster-safe mode — write through Hadoop's FileOutputCommitter
    * (`saveAsTextFile`): each task writes under `_temporary/<attempt>/`
    * and the committer renames into place on task commit, which is
    * correct on ANY Hadoop filesystem with speculative/retried tasks.
    * The local-move sink above mirrors the reference's driver-side
    * move-into-place (manager/__main__.py:358-361; worker/__main__.py:
    * 183-185) and is only valid when driver and executors share a
    * filesystem — fine on local[n], wrong on a real cluster.
    *
    * Hadoop's TextOutputFormat already names outputs `part-%05d`, the
    * reference's exact naming; the `_SUCCESS` marker is removed so the
    * output dir layout matches the reference's (part files only). */
  def writePartFilesCommitter(reduced: RDD[String], outputDir: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(outputDir)
    val fs = hPath.getFileSystem(reduced.sparkContext.hadoopConfiguration)
    if (fs.exists(hPath)) fs.delete(hPath, true) // O7 overwrite semantics
    fs.setWriteChecksum(false) // no .crc sidecars in the output layout
    reduced.saveAsTextFile(outputDir)
    fs.delete(new org.apache.hadoop.fs.Path(hPath, "_SUCCESS"), false)
  }

  private def listSorted(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator().asScala.toSeq
      .filter(Files.isRegularFile(_))
      // skip Hadoop-convention metadata (_SUCCESS, .crc sidecars) so a
      // Spark-written text dir is a valid job input
      .filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }
      .sortBy(_.getFileName.toString)

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p))
        Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
      Files.delete(p)
    }
}
