package graft.mr

import java.math.BigInteger
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.util.Random

import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests for the parity-critical invariants
  * (SURVEY.md §5.2): partition function totality/determinism,
  * group-by-adjacency equals multiset group-by, identity map/reduce is
  * a permutation. Inputs are generated from a fixed seed so failures
  * reproduce.
  */
class MapReducePropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def randomLine(rnd: Random): String = {
    val keys = Seq("shared", "", "ü键 ", rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString)
    val key = keys(rnd.nextInt(keys.size))
    if (rnd.nextBoolean()) s"$key\t${rnd.alphanumeric.take(rnd.nextInt(12)).mkString}"
    else key
  }

  test("partition is deterministic, total, and keyed on the first-TAB field") {
    val rnd = new Random(42)
    for (_ <- 1 to 50) {
      val r = 1 + rnd.nextInt(64)
      val p = new Md5Partitioner(r)
      val lines = Seq.fill(40)(randomLine(rnd))
      lines.foreach { l =>
        val a = p.getPartition(l)
        assert(a >= 0 && a < r)
        assert(a === p.getPartition(l))
        assert(a === Md5Partitioner.partitionFor(l.takeWhile(_ != '\t'), r))
      }
    }
  }

  test("partitionFor equals int(md5, 16) % R computed with BigInteger") {
    def reference(key: String, r: Int): Int = {
      val digest = MessageDigest.getInstance("MD5")
        .digest(key.getBytes(StandardCharsets.UTF_8))
      new BigInteger(1, digest).mod(BigInteger.valueOf(r.toLong)).intValue()
    }
    // any Unicode scalar value: ASCII, the BMP and supplementary planes
    val codePoint = Gen.frequency(3 -> Gen.choose(0, 0x7f),
      2 -> Gen.choose(0x80, 0xd7ff), 1 -> Gen.choose(0xe000, 0x10ffff))
    val key = Gen.listOf(codePoint).map(cps => new String(cps.toArray, 0, cps.size))
    val prop = Prop.forAll(key, Gen.choose(1, 1000)) { (key, r) =>
      Md5Partitioner.partitionFor(key, r) == reference(key, r)
    }
    val result = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(2000).withInitialSeed(Seed(42L)), prop)
    assert(result.passed, result.status)
    // the widest R: the fold's accumulator must not overflow
    for (key <- Seq("", "a", "ü键", "x" * 100))
      assert(Md5Partitioner.partitionFor(key, Int.MaxValue) ===
        reference(key, Int.MaxValue))
  }

  test("shuffleSort: permutation-preserving, adjacency-grouped, one partition per key") {
    val rnd = new Random(7)
    for (trial <- 1 to 8) {
      val r = 1 + rnd.nextInt(7)
      val lines = Seq.fill(200)(randomLine(rnd))
      val rdd = spark.sparkContext.parallelize(lines, 4)
      val parts = MapReduceJob.shuffleSort(rdd, r)
        .mapPartitionsWithIndex((i, it) => Iterator.single(i -> it.toList))
        .collect().toMap

      // identity map/reduce ⇒ a permutation of the input (as a multiset)
      val flat = parts.values.flatten.toList
      assert(flat.groupBy(identity).view.mapValues(_.size).toMap ===
        lines.groupBy(identity).view.mapValues(_.size).toMap, s"trial $trial")

      // within each partition: sorted ⇒ equal keys adjacent
      parts.values.foreach(ls => assert(ls === ls.sorted))

      // all lines with one key land in exactly one partition
      parts.toSeq
        .flatMap { case (i, ls) => ls.map(l => l.takeWhile(_ != '\t') -> i) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size)
        .foreach { case (k, n) => assert(n === 1, s"key $k split across partitions") }
    }
  }

  test("shuffleSort equals md5 placement plus a code-point sort of every " +
    "line, duplicates folded or not, under both orderings") {
    val codePoint = Gen.frequency(4 -> Gen.oneOf(0x09, 0x20, 0x41, 0x61),
      2 -> Gen.choose(0x20, 0x7e), 1 -> Gen.choose(0x80, 0xd7ff),
      2 -> Gen.choose(0xe000, 0xffff), 2 -> Gen.choose(0x10000, 0x10ffff))
    // empty, tab-less and tabbed lines alike
    val line = Gen.choose(0, 6).flatMap(Gen.listOfN(_, codePoint))
      .map(cps => new String(cps.toArray, 0, cps.size))
    val distinct = Gen.choose(1, 40).flatMap(Gen.listOfN(_, line)).map(_.distinct)
    // a few lines so wide that a window fills and is emitted mid-task
    val wide = Gen.choose(3, 6).flatMap(n => Gen.listOfN(n, line)).map(_.distinct
      .map(_ + "\u00e9" * (LineCounts.WindowBytes / 6).toInt))
    val multiset = Gen.frequency(
      4 -> distinct.flatMap(ls => Gen.sequence[List[List[String]], List[String]](
        ls.map(l => Gen.choose(1, 60).map(List.fill(_)(l))))).map(_.flatten),
      // all distinct, more than one probe per task: the pass-through path
      2 -> Gen.choose(1, 3 * LineCounts.ProbeLines).flatMap(n =>
        line.map(l => List.tabulate(n)(i => s"$l$i"))),
      1 -> (for (ds <- distinct; ws <- wide; k <- Gen.choose(1, 3))
        yield List.fill(20)(ds).flatten ++ List.fill(k)(ws).flatten))
    val job = for {
      lines <- multiset
      seed <- Gen.long
      slices <- Gen.choose(1, 4)
      r <- Gen.choose(1, 5)
      raw <- Gen.oneOf(false, true)
    } yield (new Random(seed).shuffle(lines), slices, r, raw)

    val prop = Prop.forAll(job) { case (lines, slices, r, raw) =>
      def placement(l: String): Int = {
        val tab = l.indexOf('\t')
        val key = if (tab >= 0) l.substring(0, tab) else if (raw) l + "\n" else l
        Md5Partitioner.partitionFor(key, r)
      }
      // LC_ALL=C sort: unsigned UTF-8 bytes, in raw mode of each line as
      // if it still ended in '\n'
      def sortC(ls: Seq[String]): Seq[String] = ls
        .map(l => (l + (if (raw) "\n" else "")).getBytes(StandardCharsets.UTF_8) -> l)
        .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0)
        .map(_._2)
      val want = (0 until r).map(p => sortC(lines.filter(placement(_) == p)))
      val got = MapReduceJob.shuffleSort(
        spark.sparkContext.parallelize(lines, slices), r, raw)
        .glom().collect().toSeq.map(_.toSeq)
      got == want
    }
    val result = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(120).withInitialSeed(Seed(42L)), prop)
    assert(result.passed, result.status)
  }

  test("fold: duplicates counted per window, full windows emitted, " +
    "rare duplicates pass through") {
    def counts(records: Iterator[(String, Any)]): Seq[(String, Long)] =
      records.map {
        case (l, null) => (l, 1L)
        case (l, n: java.lang.Long) => (l, n.longValue)
      }.toSeq
    val heavy = Seq.tabulate(5000)(i => s"k${i % 7}\t1")
    assert(counts(LineCounts.fold(heavy.iterator)).sortBy(_._1) ===
      (0 until 7).map(k => (s"k$k\t1", heavy.count(_ == s"k$k\t1").toLong)))

    // each wide line is charged about 0.4 of a window
    val w = (LineCounts.WindowBytes / 5).toInt
    val wide = Seq("a", "b", "c").map(_ * w)
    val wideIn = Seq.fill(LineCounts.ProbeLines)("x") ++ wide ++ wide ++ Seq("x")
    val folded = counts(LineCounts.fold(wideIn.iterator))
    assert(folded.map(_._2).sum === wideIn.size)
    // a window takes lines until its charge reaches the budget:
    // {x, a, b, c}, {a, b, c}, {x}
    assert(folded.length === 8)
    assert(folded.count(_._1 == "x") === 2, "a window was emitted mid-task")

    // all distinct: after the probe, every line as (line, null), in order
    val distinct = Seq.tabulate(3 * LineCounts.ProbeLines)(i => s"d$i") :+ "d0"
    val out = LineCounts.fold(distinct.iterator).toSeq
    assert(out.drop(LineCounts.ProbeLines) ===
      distinct.drop(LineCounts.ProbeLines).map(l => (l, null)))
    assert(out.map(_._1).sorted === distinct.sorted)
    assert(!LineCounts.fold(Iterator.empty).hasNext)
  }

  test("expand yields a count above Int.MaxValue lazily, line by line") {
    // 2^32 + 2: an Int-truncated count would yield two copies
    val big = (1L << 32) + 2
    val it = LineCounts.expand(Iterator(("a\t1", big: Any), ("b", null)))
    (1 to 1000).foreach(_ => assert(it.next() === "a\t1"))
    assert(it.hasNext)
    val small = LineCounts.expand(Iterator(("a", 2L: Any), ("b", null), ("c", 3L: Any)))
    assert(small.toSeq === Seq("a", "a", "b", "c", "c", "c"))
  }

  test("line orderings equal unsigned UTF-8 byte order over all Unicode scalar values") {
    // every range a line can hold ('\n' ends a line), weighted so a
    // surrogate pair often meets U+E000–U+FFFF at the first mismatch:
    // the case where UTF-16 code-unit order and byte order disagree
    val codePoint = Gen.frequency(3 -> Gen.oneOf(0x09, 0x0b, 0x20, 0x41),
      2 -> Gen.choose(0, 0x7f).suchThat(_ != 0x0a),
      1 -> Gen.choose(0x80, 0xd7ff), 3 -> Gen.choose(0xe000, 0xffff),
      3 -> Gen.choose(0x10000, 0x10ffff))
    val line = Gen.choose(0, 3).flatMap(Gen.listOfN(_, codePoint))
      .map(cps => new String(cps.toArray, 0, cps.size))
    val pair = for (p <- line; a <- line; b <- line) yield (p + a, p + b)
    def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)
    def agrees(ord: Ordering[String], a: String, b: String,
        bytes: String => Array[Byte]): Boolean =
      Integer.signum(ord.compare(a, b)) ==
        Integer.signum(java.util.Arrays.compareUnsigned(bytes(a), bytes(b)))
    val prop = Prop.forAll(pair) { case (a, b) =>
      agrees(Md5Partitioner.codePointOrdering, a, b, utf8) &&
        agrees(Md5Partitioner.rawNewlineOrdering, a, b, l => utf8(l + "\n"))
    }
    val result = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(5000).withInitialSeed(Seed(42L)), prop)
    assert(result.passed, result.status)
    // the defect's own example: U+FF01 sorts before U+1F600 in bytes
    assert(Md5Partitioner.codePointOrdering.compare("\uFF01", "\uD83D\uDE00") < 0)
  }
}
