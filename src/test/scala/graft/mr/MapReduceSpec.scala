package graft.mr

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LocalLines

object SparkTestSession {
  // A `def` guarded on isStopped, not a `lazy val`: the checkpoint-
  // recovery spec (CheckpointRecoverySpec) deliberately STOPS the
  // SparkContext to prove reliable-checkpoint files survive a driver
  // restart — suites that run after it (sbt forks one JVM and runs
  // suites sequentially: testForkedParallel=false) transparently get a
  // fresh session here. Per-suite `lazy val spark = SparkTestSession
  // .spark` captures are safe: they initialize when the suite RUNS,
  // never across a stop.
  private var cached: SparkSession = _
  def spark: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      cached = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir",
          Files.createTempDirectory("graft-warehouse").toString)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    }
    cached
  }
}

class Md5PartitionerSpec extends AnyFunSuite {

  // Expected values from the reference's placement function
  // int(md5(key.encode('utf-8')).hexdigest(), 16) % R
  // (reference worker/__main__.py:139-143), computed with CPython.
  val expected: Seq[(String, Seq[(Int, Int)])] = Seq(
    ""            -> Seq(2 -> 0, 5 -> 1, 7 -> 1, 32 -> 30),
    "a"           -> Seq(2 -> 1, 5 -> 2, 7 -> 0, 32 -> 1),
    "hello"       -> Seq(2 -> 0, 5 -> 4, 7 -> 4, 32 -> 18),
    "héllo"       -> Seq(2 -> 0, 5 -> 3, 7 -> 5, 32 -> 16),
    "词"          -> Seq(2 -> 1, 5 -> 3, 7 -> 6, 32 -> 7),
    "key"         -> Seq(2 -> 1, 5 -> 1, 7 -> 4, 32 -> 29),
    "no-tab-line" -> Seq(2 -> 0, 5 -> 4, 7 -> 3, 32 -> 14),
    "the"         -> Seq(2 -> 1, 5 -> 4, 7 -> 0, 32 -> 23))

  test("partitionFor matches CPython int(md5,16) % R bit-for-bit") {
    for ((key, cases) <- expected; (r, want) <- cases)
      assert(Md5Partitioner.partitionFor(key, r) === want,
        s"key=$key r=$r")
  }

  test("getPartition keys on the first-TAB field of the line") {
    val p = new Md5Partitioner(7)
    assert(p.getPartition("key\tsome value") ===
      Md5Partitioner.partitionFor("key", 7))
    assert(p.getPartition("no-tab-line") ===
      Md5Partitioner.partitionFor("no-tab-line", 7))
    assert(p.getPartition("key\tv1\tv2") ===
      Md5Partitioner.partitionFor("key", 7))
  }

  test("partition is always in [0, R)") {
    val keys = Seq("", "a", "ab\tc", "\t", "ü", "", "x" * 1000)
    for (r <- Seq(1, 2, 3, 17); k <- keys) {
      val p = new Md5Partitioner(r).getPartition(k)
      assert(p >= 0 && p < r)
    }
  }
}

class MapReduceJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def tmpDir(prefix: String): Path = Files.createTempDirectory(prefix)

  def writeFile(dir: Path, name: String, content: String): Unit =
    Files.write(dir.resolve(name), content.getBytes(StandardCharsets.UTF_8))

  def writeExe(dir: Path, name: String, script: String): String = {
    val p = dir.resolve(name)
    Files.write(p, script.getBytes(StandardCharsets.UTF_8))
    p.toFile.setExecutable(true)
    p.toString
  }

  def readPartFiles(dir: Path): Map[String, Seq[String]] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      .map(p => p.getFileName.toString ->
        Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq)
      .toMap

  // The reference's own golden pair: wc_map.sh / wc_reduce.sh
  // (reference submit.py:41-50).
  val wcMap = "#!/bin/sh\ntr ' ' '\\n' | grep -v '^$' | sed 's/$/\\t1/'\n"
  val wcReduce =
    """#!/bin/sh
      |awk -F'\t' '{ if ($1 != prev) { if (NR > 1) print prev "\t" sum;
      |  prev = $1; sum = 0 } sum += $2 } END { if (NR > 0) print prev "\t" sum }'
      |""".stripMargin

  test("executable word count end-to-end: grouping, sorting, part naming") {
    val in = tmpDir("mr-in")
    writeFile(in, "f1.txt", "the quick brown fox\nthe lazy dog\n")
    writeFile(in, "f2.txt", "the dog barks\n")
    writeFile(in, "f0.txt", "quick quick fox\n")
    val exeDir = tmpDir("mr-exe")
    val out = tmpDir("mr-out")

    MapReduceJob.runExe(spark, in.toString, out.toString,
      writeExe(exeDir, "wc_map.sh", wcMap),
      writeExe(exeDir, "wc_reduce.sh", wcReduce),
      numMappers = 2, numReducers = 3)

    val parts = readPartFiles(out)
    assert(parts.keySet === Set("part-00000", "part-00001", "part-00002"))

    // content: exact counts
    val all = parts.values.flatten.map { l =>
      val Array(w, c) = l.split("\t"); w -> c.toLong
    }.toMap
    assert(all === Map("the" -> 3L, "quick" -> 3L, "brown" -> 1L,
      "fox" -> 2L, "lazy" -> 1L, "dog" -> 2L, "barks" -> 1L))

    // placement: every word in its md5-designated part file
    for ((name, lines) <- parts; l <- lines) {
      val w = l.takeWhile(_ != '\t')
      assert(name === f"part-${Md5Partitioner.partitionFor(w, 3)}%05d")
    }

    // ordering: each part file sorted by code point
    for ((_, lines) <- parts)
      assert(lines === lines.sorted)
  }

  test("typed twin produces identical results to the executable path") {
    val in = tmpDir("mr-in2")
    writeFile(in, "a.txt", "x y z x\n")
    writeFile(in, "b.txt", "y y\n")
    val input = MapReduceJob.inputRdd(spark, in.toString, 2)
    val result = MapReduceJob.typed(spark, input,
      line => line.split(" ").iterator.filter(_.nonEmpty).map(w => s"$w\t1"),
      graft.queries.MrPack.sumRuns,
      numReducers = 2).collect().toSet
    assert(result === Set("x\t2", "y\t3", "z\t1"))
  }

  test("map-side combiner output is byte-identical to the plain typed path") {
    val in = tmpDir("mr-in-comb")
    writeFile(in, "a.txt", "x y z x x y\n" * 50)
    writeFile(in, "b.txt", "y y w\n" * 30)
    writeFile(in, "c.txt", "z\n")
    val mapper = (line: String) =>
      line.split(" ").iterator.filter(_.nonEmpty).map(w => s"$w\t1")
    def run(withCombiner: Boolean): Seq[(Int, Seq[String])] = {
      val input = MapReduceJob.inputRdd(spark, in.toString, 3)
      val out =
        if (withCombiner)
          MapReduceJob.typedWithCombiner(spark, input, mapper,
            combiner = graft.queries.MrPack.sumRuns,
            reducer = graft.queries.MrPack.sumRuns, numReducers = 3)
        else
          MapReduceJob.typed(spark, input, mapper,
            graft.queries.MrPack.sumRuns, numReducers = 3)
      out.mapPartitionsWithIndex((i, it) => Iterator.single(i -> it.toSeq))
        .collect().toSeq.sortBy(_._1)
    }
    val plain = run(withCombiner = false)
    val combined = run(withCombiner = true)
    // identical content AND identical partition placement/order: the
    // combiner only pre-folds per map task, the shuffle contract is
    // untouched
    assert(combined === plain)
    assert(plain.flatMap(_._2).toSet ===
      Set("x\t150", "y\t160", "z\t51", "w\t30"))
  }

  test("same-key lines always land in one partition and arrive contiguously") {
    val lines = (1 to 100).map(i => s"k${i % 7}\tv$i")
    val rdd = spark.sparkContext.parallelize(lines, 5)
    val parts = MapReduceJob.shuffleSort(rdd, 3)
      .mapPartitionsWithIndex((i, it) => Iterator.single(i -> it.toSeq))
      .collect().toMap
    // placement
    for ((i, ls) <- parts; l <- ls)
      assert(i === Md5Partitioner.partitionFor(l.takeWhile(_ != '\t'), 3))
    // sorted ⇒ same keys contiguous
    for ((_, ls) <- parts) assert(ls === ls.sorted)
    // nothing lost
    assert(parts.values.flatten.toSet === lines.toSet)
  }

  test("part files are in LC_ALL=C sort order, characters above U+FFFF too") {
    // U+FF01 vs U+1F600: UTF-16 code-unit order puts the emoji (a
    // surrogate pair) first, UTF-8 byte order and `sort` put it last
    val lines = Seq("\uFF01", "\uD83D\uDE00", "\uE000x", "\uD800\uDC00",
      "\uFFFD\t1", "a", "a\tb", "\u00E9", "\u4E2D", "\uD83D\uDE00\t2",
      "\uFF21", "z\uD83D\uDE00", "z\uFF01", "z")
    val in = tmpDir("mr-in-cp")
    writeFile(in, "f.txt", lines.mkString("", "\n", "\n"))
    val exeDir = tmpDir("mr-exe-cp")
    val out = tmpDir("mr-out-cp")
    val cat = writeExe(exeDir, "cat.sh", "#!/bin/sh\ncat\n")
    MapReduceJob.runExe(spark, in.toString, out.toString, cat, cat,
      numMappers = 1, numReducers = 1)

    val sorted = exeDir.resolve("sorted.txt")
    val sort = new ProcessBuilder("sort", in.resolve("f.txt").toString)
      .redirectOutput(sorted.toFile)
    sort.environment().put("LC_ALL", "C")
    assert(sort.start().waitFor() === 0)
    val expected = Files.readAllLines(sorted, StandardCharsets.UTF_8).asScala
    assert(readPartFiles(out)("part-00000") === expected.toSeq)
  }

  test("executable word count on duplicate-heavy non-ASCII text: part " +
    "files in LC_ALL=C sort order") {
    // U+1F600 is a surrogate pair and U+FF21 lies in U+E000–U+FFFF; both
    // land in part 2 of 3, where UTF-16 code-unit order and byte order
    // disagree on them
    val words = Seq("\uD83D\uDE00", "\uFF21", "ü键", "héllo", "日本", "a", "é")
    val rnd = new scala.util.Random(11)
    val text = Seq.fill(3, 400)(Seq.fill(1 + rnd.nextInt(6))(
      words(rnd.nextInt(words.size))).mkString(" "))
    val in = tmpDir("mr-in-utf8")
    text.zipWithIndex.foreach { case (ls, f) =>
      writeFile(in, s"f$f.txt", ls.mkString("", "\n", "\n"))
    }
    val exeDir = tmpDir("mr-exe-utf8")
    val out = tmpDir("mr-out-utf8")
    val r = 3
    MapReduceJob.runExe(spark, in.toString, out.toString,
      writeExe(exeDir, "wc_map.sh", wcMap),
      writeExe(exeDir, "wc_reduce.sh", wcReduce),
      numMappers = 2, numReducers = r)

    val counts = text.flatten.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, ws) => s"$w\t${ws.size}" }.toSeq
    def utf8(l: String) = l.getBytes(StandardCharsets.UTF_8)
    val expected = (0 until r).map { p =>
      f"part-$p%05d" -> counts
        .filter(l => Md5Partitioner.partitionFor(l.takeWhile(_ != '\t'), r) == p)
        .sortWith((a, b) => java.util.Arrays.compareUnsigned(utf8(a), utf8(b)) < 0)
    }.toMap
    assert(readPartFiles(out) === expected)
    assert(counts.size === words.size)
    assert(Seq(words(0), words(1)).map(Md5Partitioner.partitionFor(_, r)) === Seq(2, 2))
    assert(words(0) < words(1))
  }

  test("the map stage writes one shuffle record per distinct line per map " +
    "task; all-distinct lines each cross once") {
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.graftshim.ListenerShim
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    def mapRecordsWritten(lines: Seq[String]): (Long, Long) = {
      val rdd = sc.parallelize(lines, 4)
      val distinctPerTask = rdd.glom().map(_.distinct.length.toLong).sum().toLong
      val written = new AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskType == "ShuffleMapTask" && e.taskMetrics != null)
            written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      ListenerShim.waitUntilEmpty(sc)
      sc.addSparkListener(listener)
      try {
        assert(MapReduceJob.shuffleSort(rdd, 3).count() === lines.size)
        ListenerShim.waitUntilEmpty(sc)
      } finally sc.removeSparkListener(listener)
      (written.get, distinctPerTask)
    }
    // word-count shaped: 40k lines over 50 keys
    val heavy = Seq.tabulate(40000)(i => s"w${(i * 7919) % 50}\t1")
    val (heavyWritten, heavyDistinct) = mapRecordsWritten(heavy)
    assert(heavyWritten > 0 && heavyWritten <= heavyDistinct,
      s"$heavyWritten records for $heavyDistinct distinct lines per task")
    // all distinct, past the probe in every task
    val distinct = Seq.tabulate(8 * LineCounts.ProbeLines)(i => s"d$i\t$i")
    assert(mapRecordsWritten(distinct)._1 === distinct.size)
  }

  test("empty input dir yields empty part files, not a crash") {
    // the reference crashes on empty map tasks (worker/__main__.py:122-151
    // runs `sort` on never-created files); we must not (SURVEY §2.1).
    val in = tmpDir("mr-empty")
    val out = tmpDir("mr-empty-out")
    val input = MapReduceJob.inputRdd(spark, in.toString, 4)
    val result = MapReduceJob.typed(spark, input,
      l => Iterator.single(l), it => it, numReducers = 2)
    MapReduceJob.writePartFiles(result, out.toString)
    val parts = readPartFiles(out)
    assert(parts.keySet === Set("part-00000", "part-00001"))
    assert(parts.values.forall(_.isEmpty))
  }

  test("more mappers than files is fine; lines without TAB key on whole line") {
    val in = tmpDir("mr-few")
    writeFile(in, "only.txt", "solo\nduo\tx\nsolo\n")
    val input = MapReduceJob.inputRdd(spark, in.toString, 8)
    val result = MapReduceJob.typed(spark, input,
      l => Iterator.single(l), it => it, numReducers = 4)
      .collect()
    assert(result.sorted === Seq("duo\tx", "solo", "solo"))
  }

  test("unicode keys hash by UTF-8 bytes like the reference") {
    val rdd = spark.sparkContext.parallelize(Seq("词\t1", "héllo\t2"), 2)
    val parts = MapReduceJob.shuffleSort(rdd, 7)
      .mapPartitionsWithIndex((i, it) => it.map(l => (i, l)))
      .collect().toMap.map(_.swap)
    assert(parts("词\t1") === 6)   // CPython: int(md5('词'),16) % 7 == 6
    assert(parts("héllo\t2") === 5)
  }

  def entryNames(dir: Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("output dir is overwritten (pre-clear semantics)") {
    val out = tmpDir("mr-ovw")
    writeFile(out, "stale-file", "leftover\n")
    val rdd = spark.sparkContext.parallelize(Seq("a\t1"), 1)
    MapReduceJob.writePartFiles(MapReduceJob.shuffleSort(rdd, 2), out.toString)
    val parts = readPartFiles(out)
    assert(parts.keySet === Set("part-00000", "part-00001"))

    // a full job over a stale dir: only part-* names remain, with no
    // staging, _SUCCESS or .crc residue
    val in = tmpDir("mr-ovw-in")
    writeFile(in, "f1.txt", "the quick brown fox\nthe lazy dog\n")
    writeFile(in, "f2.txt", "the dog barks\n")
    val exeDir = tmpDir("mr-ovw-exe")
    val jobOut = tmpDir("mr-ovw-job")
    writeFile(jobOut, "stale-file", "leftover\n")
    MapReduceJob.runExe(spark, in.toString, jobOut.toString,
      writeExe(exeDir, "wc_map.sh", wcMap),
      writeExe(exeDir, "wc_reduce.sh", wcReduce),
      numMappers = 2, numReducers = 3)
    assert(entryNames(jobOut) === Set("part-00000", "part-00001", "part-00002"))
    assert(readPartFiles(jobOut).values.flatten.toSet === Set("the\t3",
      "quick\t1", "brown\t1", "fox\t1", "lazy\t1", "dog\t2", "barks\t1"))
  }

  test("a failed job leaves an empty output dir: no staged file, no temp file") {
    val in = tmpDir("mr-fail-in")
    writeFile(in, "f1.txt", "a\tb\nc\td\n")
    writeFile(in, "f2.txt", "e\tf\n")
    val exeDir = tmpDir("mr-fail-exe")
    val cat = writeExe(exeDir, "cat.sh", "#!/bin/sh\ncat\n")
    val boom = writeExe(exeDir, "boom.sh", "#!/bin/sh\ncat\nexit 3\n")
    val out = tmpDir("mr-fail-out")
    writeFile(out, "stale-file", "leftover\n")
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def tmpFiles = Files.list(tmp).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSet
    val tmpBefore = tmpFiles
    intercept[org.apache.spark.SparkException](
      MapReduceJob.runExe(spark, in.toString, out.toString, cat, boom,
        numMappers = 2, numReducers = 2))
    assert(entryNames(out).isEmpty, entryNames(out).toString)
    val newTmp = tmpFiles -- tmpBefore
    assert(!newTmp.exists(_.startsWith("graft-part")), newTmp.toString)
  }

  test("per-file mapper mode runs a stateful mapper once per input file") {
    // a mapper with cross-line state: emits ONE line-count line per
    // invocation — under the reference contract (one process per input
    // file, worker/__main__.py:126-133) that's one count per file
    val in = tmpDir("mr-pf-in")
    writeFile(in, "a.txt", "l1\nl2\nl3\n")
    writeFile(in, "b.txt", "l1\n")
    writeFile(in, "c.txt", "l1\nl2\n")
    val exeDir = tmpDir("mr-pf-exe")
    val countExe = writeExe(exeDir, "count.sh",
      "#!/bin/sh\nawk 'END { print \"files\\t\" NR }'\n")

    val perFile = MapReduceJob.inputRddPerFile(spark, in.toString)
      .pipe(countExe).collect().sorted
    assert(perFile === Seq("files\t1", "files\t2", "files\t3"))

    // the divergence the mode exists for: pipe granularity is otherwise
    // the PARTITION — the same single file split across 3 partitions
    // runs the stateful mapper 3 times (impossible under the reference)
    val big = tmpDir("mr-pf-big")
    writeFile(big, "big.txt", (1 to 90).map(i => s"line$i").mkString("", "\n", "\n"))
    val split = spark.sparkContext
      .textFile(big.resolve("big.txt").toString, 3)
      .pipe(countExe).collect()
    assert(split.length === 3, "expected the split file to pipe per partition")
    assert(split.map(_.split("\t")(1).toInt).sum === 90)
    // whereas per-file mode keeps it one invocation
    val whole = MapReduceJob.inputRddPerFile(spark, big.toString)
      .pipe(countExe).collect()
    assert(whole === Array("files\t90"))
  }

  test("rawNewlineParity: byte-identical part files to the reference " +
    "algorithm on adversarial tab-less/prefix-line output") {
    // the reference worker keeps each mapper-output line's trailing
    // '\n' through BOTH hashing and sorting (worker/__main__.py:137-149)
    // — reimplemented here by hand as the expected-output oracle
    val r = 3
    val lines = Seq("a", "a\tb", "b", "b\tc", "", "zz", "z\tq", "a\ta")
    def refPartFiles(ls: Seq[String]): Map[Int, String] =
      ls.map(_ + "\n")
        .groupBy { raw =>
          // python split('\t')[0]: whole raw line (incl. '\n') if no tab
          Md5Partitioner.partitionFor(raw.takeWhile(_ != '\t'), r)
        }
        .map { case (p, rs) => p -> rs.sorted.mkString }
    val expected = refPartFiles(lines)

    val shuffled = MapReduceJob.shuffleSort(
      spark.sparkContext.parallelize(lines, 4), r, rawNewlineParity = true)
    val out = tmpDir("mr-rawnl-out").toString
    MapReduceJob.writePartFiles(shuffled, out)
    (0 until r).foreach { p =>
      val got = new String(
        Files.readAllBytes(Paths.get(out, f"part-$p%05d")),
        StandardCharsets.UTF_8)
      assert(got === expected.getOrElse(p, ""), s"partition $p diverges")
    }

    // the fixture is genuinely adversarial: default mode places or
    // orders it differently (tab-less "a" hashes without '\n', and
    // natural order puts "a" before "a\ta" where the reference puts
    // "a\ta\n" < "a\n")
    assert(Md5Partitioner.rawNewlineOrdering.compare("a\ta", "a") < 0)
    assert(Ordering.String.compare("a", "a\ta") < 0)
    assert(Md5Partitioner.partitionFor("a", 1000)
      !== Md5Partitioner.partitionFor("a\n", 1000))
  }

  test("runExe with perFileMapper end-to-end (mr06's production path)") {
    // granularity divergence itself (a split big file runs a stateful
    // mapper once per PARTITION without the flag) is pinned by the
    // previous test; here the full exe job yields exactly one
    // stateful-mapper line per input file, in the reference part layout
    val in = tmpDir("mr-pf2-in")
    writeFile(in, "a.txt", "1\n2\n3\n")
    writeFile(in, "b.txt", "1\n")
    writeFile(in, "c.txt", "1\n2\n")
    val exeDir = tmpDir("mr-pf2-exe")
    val mapExe = writeExe(exeDir, "m.sh",
      "#!/bin/sh\nawk 'END { print \"n\\t\" NR }'\n")
    val redExe = writeExe(exeDir, "r.sh", "#!/bin/sh\ncat\n")
    val out = tmpDir("mr-pf2-out").toString
    MapReduceJob.runExe(spark, in.toString, out, mapExe, redExe,
      numMappers = 2, numReducers = 2, perFileMapper = true)
    val parts = Files.list(Paths.get(out)).iterator().asScala.toSeq
      .map(_.getFileName.toString).sorted
    assert(parts.forall(_.matches("part-\\d{5}")), parts.toString)
    val lines = parts.flatMap(p =>
      Files.readAllLines(Paths.get(out, p)).asScala)
    assert(lines.sorted === Seq("n\t1", "n\t2", "n\t3"))
  }

  test("inputRdd: min(M, files) partitions, partition i = sorted files " +
    "with index ≡ i (mod M), in order") {
    val in = tmpDir("mr-groups")
    val names = (0 until 7).map(i => f"f$i%02d.txt")
    // written out of order: grouping follows the sorted names
    names.reverse.foreach(n => writeFile(in, n, s"$n:1\n$n:2\n"))
    for (m <- Seq(1, 3, 4, 7, 10)) {
      val rdd = MapReduceJob.inputRdd(spark, in.toString, m)
      assert(rdd.getNumPartitions === math.min(m, names.size), s"M=$m")
      val got = rdd.glom().collect().toSeq.map(_.toSeq)
      val want = (0 until math.min(m, names.size)).map { g =>
        names.indices.filter(_ % m == g).flatMap(k =>
          Seq(s"${names(k)}:1", s"${names(k)}:2"))
      }
      assert(got === want, s"M=$m")
    }
    val perFile = MapReduceJob.inputRddPerFile(spark, in.toString)
    assert(perFile.getNumPartitions === names.size)
    assert(perFile.glom().collect().toSeq.map(_.toSeq) ===
      names.map(n => Seq(s"$n:1", s"$n:2")))
  }

  test("the mapper runs once per mapper group, not once per Hadoop split") {
    val in = tmpDir("mr-once")
    // big enough that sc.textFile would split each file in two
    (0 until 6).foreach(i => writeFile(in, s"f$i.txt",
      (1 to 500 + i).map(k => s"line$k").mkString("", "\n", "\n")))
    val countExe = writeExe(tmpDir("mr-once-exe"), "count.sh",
      "#!/bin/sh\nawk 'END { print NR }'\n")
    assert(spark.sparkContext.textFile(in.resolve("f2.txt").toString)
      .getNumPartitions > 1, "fixture files are splittable by Hadoop")
    val m = 4
    val counts = MapReduceJob.inputRdd(spark, in.toString, m)
      .pipe(countExe).collect().toSeq.map(_.toInt)
    // groups {0,4} {1,5} {2} {3}: one output line per group, in order
    assert(counts === Seq(500 + 504, 501 + 505, 502, 503))
  }

  test("line reader output equals sc.textFile's on line-ending, BOM and " +
    "invalid-UTF-8 edge cases") {
    val in = tmpDir("mr-edge")
    val utf8 = (s: String) => s.getBytes(StandardCharsets.UTF_8)
    val bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)
    val bad = Array(0xFF, 0x61, 0xC3, 0x0A, 0xE2, 0x82, 0x0D, 0xC0, 0xAF,
      0x0A, 0xED, 0xA0, 0x80, 0x62, 0xF0, 0x9F, 0x98).map(_.toByte)
    // a CR as the last byte of the reader's buffer with its LF in the
    // next read, and a line longer than the buffer
    val straddle = "x" * (LocalLines.BufferBytes - 1) + "\r\ny\r" +
      "z" * (3 * LocalLines.BufferBytes) + "\n"
    // named in sorted order, the order the reader deals them
    val files: Seq[(String, Array[Byte])] = Seq(
      "a_crlf" -> utf8("one\r\ntwo\r\n\r\nthree\r\n"),
      "b_cr" -> utf8("one\rtwo\r\rthree\r"),
      "c_blank" -> utf8("\n\nx\n\n"),
      "d_nofinal" -> utf8("first\nlast without newline"),
      "e_empty" -> Array.emptyByteArray,
      "f_bom" -> (bom ++ utf8("héllo\nmid\uFEFFbom\n")),
      "g_bomonly" -> bom,
      "h_bomnl" -> (bom ++ utf8("\n")),
      "i_bad" -> bad,
      "j_straddle" -> utf8(straddle),
      "k_mixed" -> utf8("a\r\n\rb\n\r\nc"))
    files.foreach { case (n, b) => Files.write(in.resolve(n), b) }
    val oracle = files.map { case (n, _) =>
      spark.sparkContext.textFile(in.resolve(n).toString).collect().toSeq
    }
    val got = MapReduceJob.inputRddPerFile(spark, in.toString)
      .glom().collect().toSeq.map(_.toSeq)
    assert(got.size === files.size)
    for (((name, _), (g, o)) <- files.zip(got.zip(oracle)))
      assert(g === o, s"$name: ${g.map(_.take(40))} vs ${o.map(_.take(40))}; " +
        s"lengths ${g.map(_.length)} vs ${o.map(_.length)}")
    assert(MapReduceJob.inputRdd(spark, in.toString, 1).collect().toSeq ===
      oracle.flatten)
    // the linedir connector reads through the same reader: per file,
    // `value` by `line` is the oracle, `line` runs 1..n, `file` is the name
    val linedir = spark.read.format("linedir").load(in.toString).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(0)))
      .groupBy(_._1).map { case (f, rows) => f -> rows.sortBy(_._2).toSeq }
    for (((name, _), o) <- files.zip(oracle)) {
      val rows = linedir.getOrElse(name, Seq.empty)
      assert(rows.map(_._3) === o, s"linedir $name: ${rows.map(_._3.take(40))}")
      assert(rows.map(_._2) === (1L to o.size.toLong), s"linedir $name")
    }
    assert(linedir.keySet ===
      files.zip(oracle).collect { case ((n, _), o) if o.nonEmpty => n }.toSet)
    // the fixture exercises what it claims to
    assert(oracle(8).exists(_.contains('\uFFFD')))
    assert(oracle(4).isEmpty && oracle(6).isEmpty && oracle(7) === Seq(""))
  }

  test("numMappers < 1 fails loudly, naming numMappers") {
    val in = tmpDir("mr-zero")
    writeFile(in, "f.txt", "x\n")
    val cat = writeExe(tmpDir("mr-zero-exe"), "cat.sh", "#!/bin/sh\ncat\n")
    val out = tmpDir("mr-zero-out").toString
    val errs = Seq(
      intercept[IllegalArgumentException](
        MapReduceJob.inputRdd(spark, in.toString, 0)),
      intercept[IllegalArgumentException](
        MapReduceJob.inputRdd(spark, tmpDir("mr-zero-empty").toString, -1)),
      intercept[IllegalArgumentException](
        MapReduceJob.runExe(spark, in.toString, out, cat, cat, numMappers = 0)),
      intercept[IllegalArgumentException](
        MapReduceJob.runExe(spark, in.toString, out, cat, cat, numMappers = 0,
          perFileMapper = true)))
    errs.foreach(e => assert(e.getMessage.contains("numMappers"), e.getMessage))
  }
}

class MapReduceDriverSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def tmpDir(prefix: String): Path = Files.createTempDirectory(prefix)

  def writeFile(dir: Path, name: String, content: String): Unit =
    Files.write(dir.resolve(name), content.getBytes(StandardCharsets.UTF_8))

  def writeExe(dir: Path, name: String, script: String): String = {
    val p = dir.resolve(name)
    Files.write(p, script.getBytes(StandardCharsets.UTF_8))
    p.toFile.setExecutable(true)
    p.toString
  }

  val identityExe = "#!/bin/sh\ncat\n"

  test("FIFO queue: monotonic ids, serial in-order execution, job chaining") {
    val exeDir = tmpDir("drv-exe")
    val cat = writeExe(exeDir, "cat.sh", identityExe)
    val upper = writeExe(exeDir, "upper.sh", "#!/bin/sh\ntr 'a-z' 'A-Z'\n")

    val in = tmpDir("drv-in")
    writeFile(in, "f.txt", "b\ta\na\tb\n")
    val mid = tmpDir("drv-mid").resolve("out")
    val out = tmpDir("drv-out").resolve("out")

    val driver = new MapReduceDriver(spark)
    // job 1 reads job 0's output — only correct under FIFO serial order
    val id0 = driver.submit(MrJob(in.toString, mid.toString, cat, cat,
      numReducers = 2))
    val id1 = driver.submit(MrJob(mid.toString, out.toString, upper, cat,
      numReducers = 2))
    assert((id0, id1) === ((0, 1)))
    assert(driver.pending === Seq(0, 1))

    assert(driver.runPending() === Seq(0, 1))
    assert(driver.completed === Seq(0, 1))
    assert(driver.failed.isEmpty)
    assert(driver.pending.isEmpty)

    val lines = Files.list(out).iterator().asScala.toSeq
      .flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala)
    assert(lines.sorted === Seq("A\tB", "B\tA"))

    // ids keep increasing across drains (reference job_id counter)
    val id2 = driver.submit(MrJob(in.toString,
      tmpDir("drv-out2").resolve("o").toString, cat, cat))
    assert(id2 === 2)
    assert(driver.runPending() === Seq(2))
  }

  test("a fatal error propagates out of runPending; later jobs stay pending") {
    for (fatal <- Seq(new OutOfMemoryError("injected"),
        new InterruptedException("injected"), new LinkageError("injected"))) {
      val driver = new MapReduceDriver(spark) {
        override protected def execute(job: MrJob): Unit = throw fatal
      }
      driver.submit(MrJob("in", "out0", "m", "r"))
      val second = driver.submit(MrJob("in", "out1", "m", "r"))
      val e = intercept[Throwable](driver.runPending())
      assert(e eq fatal)
      assert(driver.failed.isEmpty && driver.completed.isEmpty)
      assert(driver.pending === Seq(second))
    }
  }

  test("a failing job reports failed and does not block later jobs") {
    val exeDir = tmpDir("drv-f-exe")
    val cat = writeExe(exeDir, "cat.sh", identityExe)
    val boom = writeExe(exeDir, "boom.sh", "#!/bin/sh\nexit 3\n")

    val in = tmpDir("drv-f-in")
    writeFile(in, "f.txt", "x\t1\n")

    val driver = new MapReduceDriver(spark)
    val bad = driver.submit(MrJob(in.toString,
      tmpDir("drv-f-o1").resolve("o").toString, boom, cat))
    val good = driver.submit(MrJob(in.toString,
      tmpDir("drv-f-o2").resolve("o").toString, cat, cat))
    driver.runPending()
    assert(driver.failed.map(_._1) === Seq(bad))
    assert(driver.completed === Seq(good))
  }
}
