package graft.mr

import scala.jdk.CollectionConverters._

/** The combiner built into [[MapReduceJob.shuffleSort]]. It needs no
  * user function: identical lines cannot be told apart, so a line that
  * occurs n times in a map task crosses the shuffle once as
  * `(line, n)` and is expanded back into n copies after the sort. The
  * reducer's byte stream is unchanged.
  *
  * The shuffle value stays typed `Any` (`null` for a count of 1, a boxed
  * `Long` otherwise). A `(String, Long)` record would make Spark choose
  * Kryo on its own, which measured slower even when nothing combined.
  */
private[mr] object LineCounts {

  /** Estimated heap bytes a fold window may hold. Each distinct line is
    * charged [[EntryBytes]] plus two bytes per char; a full window is
    * emitted and a new one started, so one map task never buffers more
    * than this plus its longest line. */
  val WindowBytes: Long = 4L << 20

  /** Charge per distinct line for the hash-map node, the `String` and
    * its count. */
  private val EntryBytes: Long = 64

  /** Lines read before the first window decides whether folding pays:
    * when fewer than one in eight of them repeated an earlier one, the
    * window is emitted and the rest of the task passes through as
    * `(line, null)`, the record an unfolded shuffle writes. */
  val ProbeLines: Int = 1024

  /** Map side: each map task's lines as `(line, count)` records. */
  def fold(lines: Iterator[String]): Iterator[(String, Any)] = new Fold(lines)

  /** Reduce side, after the sort: each `(line, count)` as `count` copies
    * of the line, produced lazily, so a count above `Int.MaxValue` is
    * never materialized. */
  def expand(records: Iterator[(String, Any)]): Iterator[String] =
    new Expand(records)

  private final class Count {
    var n = 1L
    def value: Any = if (n == 1) null else java.lang.Long.valueOf(n)
  }

  private final class Fold(lines: Iterator[String])
      extends Iterator[(String, Any)] {
    private var out: Iterator[(String, Any)] = Iterator.empty
    private var probing = true

    override def hasNext: Boolean =
      out.hasNext || (lines.hasNext && { refill(); out.hasNext })

    override def next(): (String, Any) = {
      if (!hasNext) throw new NoSuchElementException("no more lines")
      out.next()
    }

    private def refill(): Unit = {
      val window = new java.util.HashMap[String, Count]
      var read = 0L
      var bytes = 0L
      def fill(upTo: Long): Unit =
        while (read < upTo && bytes < WindowBytes && lines.hasNext) {
          val l = lines.next()
          read += 1
          val c = window.get(l)
          if (c != null) c.n += 1
          else {
            window.put(l, new Count)
            bytes += EntryBytes + 2L * l.length
          }
        }
      var passThrough = false
      if (probing) {
        probing = false
        fill(ProbeLines)
        passThrough = (read - window.size) * 8 < read
      }
      if (!passThrough) fill(Long.MaxValue)
      val emitted = window.entrySet.iterator.asScala
        .map(e => (e.getKey, e.getValue.value))
      out =
        if (passThrough) emitted ++ lines.map(l => (l, null: Any))
        else emitted
    }
  }

  private final class Expand(records: Iterator[(String, Any)])
      extends Iterator[String] {
    private var line: String = _
    private var left = 0L

    override def hasNext: Boolean = left > 0 || records.hasNext

    override def next(): String = {
      if (left == 0) {
        val (l, c) = records.next()
        line = l
        left = if (c == null) 1L else c.asInstanceOf[java.lang.Long].longValue
      }
      left -= 1
      line
    }
  }
}
