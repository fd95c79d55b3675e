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
