package graft.mr

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.Partitioner

/** Hash partitioner with the reference's exact placement function:
  * `int(md5(key_utf8).hexdigest(), 16) % num_partitions`, where `key` is
  * the text before the first TAB of the line (whole line if no TAB) —
  * reference worker/__main__.py:137-143.
  *
  * Spark's built-in `HashPartitioner` (Object.hashCode-based) would be
  * semantically equivalent for correctness-by-content, but this gives
  * bit-parity of record placement so `part-NNNNN` files match the
  * reference's byte-for-byte (after the canonical-ordering decision in
  * [[MapReduceJob]]).
  *
  * Keys here are WHOLE LINES: partitioning extracts the first-TAB field,
  * while sorting (done by `repartitionAndSortWithinPartitions` with
  * [[Md5Partitioner.codePointOrdering]]) uses the full line — exactly
  * the reference's split: md5 on the key field, `sort`/`heapq.merge` on
  * whole lines.
  *
  * Byte-parity caveats (placement parity is exact; whole-FILE parity has
  * two edge cases): the reference worker iterates mapper stdout with the
  * trailing newline still attached, so a TAB-LESS line hashes
  * `line + "\n"` there but `line` here — such lines can land in a
  * different part file (tabbed lines are unaffected: the key stops at
  * the TAB either way). And the reference sorts lines WITH their
  * trailing newline, so when one line is a strict prefix of another and
  * the longer one continues with a char below '\n' — i.e. a TAB, as in
  * "a" vs "a\tb" — the reference orders "a\tb\n" < "a\n" ('\t' < '\n')
  * while we order "a" < "a\tb". Both cases require tab-less mapper
  * output, outside the wordcount-style `key\tvalue` contract; content
  * equivalence holds regardless.
  *
  * `rawNewlineParity = true` opts into the reference's raw behavior for
  * adversarial mapper output: tab-less lines hash with the trailing
  * newline attached, and [[MapReduceJob.shuffleSort]]'s companion
  * ordering ([[Md5Partitioner.rawNewlineOrdering]]) compares lines AS IF
  * newline-terminated — closing both caveats with byte-identical part
  * files (spec-pinned against the reference algorithm computed by hand).
  */
class Md5Partitioner(override val numPartitions: Int,
    val rawNewlineParity: Boolean = false) extends Partitioner {
  require(numPartitions > 0, s"numPartitions must be positive: $numPartitions")

  override def getPartition(key: Any): Int = {
    val line = key match {
      case s: String => s
      case null      => ""
      case other     => other.toString
    }
    val tab = line.indexOf('\t')
    val k =
      if (tab >= 0) line.substring(0, tab)
      else if (rawNewlineParity) line + "\n"
      else line
    Md5Partitioner.partitionFor(k, numPartitions)
  }

  override def equals(other: Any): Boolean = other match {
    case p: Md5Partitioner => p.numPartitions == numPartitions &&
      p.rawNewlineParity == rawNewlineParity
    case _                 => false
  }
  override def hashCode: Int =
    numPartitions * 2 + (if (rawNewlineParity) 1 else 0)
}

object Md5Partitioner {
  /** `int(md5(key).hexdigest(), 16) % r` over the UTF-8 bytes of `key`.
    * On the per-record shuffle path, so it reuses one `MessageDigest` and
    * digest buffer per thread and folds the 128-bit digest mod `r` byte
    * by byte (`(acc * 256 + b) % r` stays below 2^39 in a Long) instead
    * of building a `BigInteger`. */
  def partitionFor(key: String, r: Int): Int = {
    require(r > 0, s"r must be positive: $r")
    val md = md5.get()
    md.update(key.getBytes(StandardCharsets.UTF_8))
    val digest = digestBuf.get()
    md.digest(digest, 0, digest.length)
    var acc = 0L
    var i = 0
    while (i < digest.length) {
      acc = (acc * 256 + (digest(i) & 0xff)) % r
      i += 1
    }
    acc.toInt
  }

  private val md5 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))
  private val digestBuf = ThreadLocal.withInitial[Array[Byte]](() =>
    new Array[Byte](16))

  /** Whole-line order: Unicode code-point order, which is unsigned
    * UTF-8 byte order, i.e. `LC_ALL=C sort`. `String.compareTo` is
    * UTF-16 code-unit order instead, and puts a surrogate pair (a code
    * point ≥ U+10000) BELOW U+E000–U+FFFF. */
  val codePointOrdering: Ordering[String] = new LineOrdering(false)

  /** Orders lines as the reference sorts raw mapper output: with the
    * trailing '\n' attached. Differs from [[codePointOrdering]] only
    * when one line is a strict prefix of the other and the longer
    * continues with a char below '\n' (in practice '\t'): then the
    * LONGER line sorts first. Allocation-free — the virtual newline is
    * compared, never appended. */
  val rawNewlineOrdering: Ordering[String] = new LineOrdering(true)

  private final class LineOrdering(virtualNewline: Boolean)
      extends Ordering[String] {
    override def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val ca = a.charAt(i); val cb = b.charAt(i)
        if (ca != cb)
          return if (ca >= 0xD800 && cb >= 0xD800) lift(ca) - lift(cb)
            else ca - cb
        i += 1
      }
      if (a.length == b.length) 0
      else if (!virtualNewline) a.length - b.length
      else if (a.length < b.length) Character.compare('\n', b.charAt(n))
      else Character.compare(a.charAt(n), '\n')
    }
  }

  /** Below 0xD800 code-unit order is code-point order. Among units
    * ≥ 0xD800, a surrogate (D800–DFFF) is part of a pair encoding a
    * code point ≥ U+10000, so it moves above E000–FFFF. */
  private def lift(c: Char): Int = if (c >= 0xE000) c - 0x800 else c + 0x2000
}
