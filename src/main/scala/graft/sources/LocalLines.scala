package graft.sources

import java.io.{FileInputStream, InputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.TaskContext

/** Streams the lines of local (or shared-filesystem) text files, the
  * files read one after another in the given order — the one line
  * reader of the line-dir data model: the MapReduce job's O1 source
  * ([[graft.mr.MapReduceJob.inputRdd]]) and the linedir connector's
  * [[LineDirReader]] both read through it. [[fileIndex]] names the file
  * the last line came from.
  *
  * Its output equals Hadoop `LineRecordReader`'s over whole files
  * (what `sc.textFile` returns), spec-pinned against it:
  *   - lines end at `\n`, `\r\n` or a lone `\r`; the terminator is
  *     dropped, blank lines are kept, a missing final newline still
  *     ends the last line, and an empty file has no lines;
  *   - a UTF-8 byte-order mark at the start of a file is skipped (a
  *     file holding nothing else has no lines);
  *   - each line's bytes decode as UTF-8 with malformed input replaced
  *     by U+FFFD (Hadoop `Text.toString`), so bad bytes never throw.
  *
  * Input is plain UTF-8 text: compressed files are read as raw bytes,
  * as in the reference, which never decompresses its inputs.
  *
  * At most one file is open at a time. It is closed as soon as it is
  * exhausted, and [[close]] (registered as a task-completion listener
  * when iterated inside a Spark task) closes it if the consumer stops
  * early.
  */
private[graft] final class LocalLines(files: Seq[String])
    extends Iterator[String] with AutoCloseable {

  private val pending = files.iterator
  private var in: InputStream = _
  private var atFileStart = false
  private val buf = new Array[Byte](LocalLines.BufferBytes)
  private var pos = 0
  private var lim = 0
  private var line = new Array[Byte](256)
  private var len = 0
  private var nextLine: String = _
  private var opened = 0
  private var lineFile = -1

  Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))

  override def hasNext: Boolean = {
    while (nextLine == null && (in != null || pending.hasNext)) {
      if (in == null) {
        in = new FileInputStream(pending.next())
        opened += 1
        atFileStart = true
        pos = 0; lim = 0
      }
      nextLine = readLine()
      if (nextLine == null) close()
    }
    nextLine != null
  }

  override def next(): String = {
    if (!hasNext) throw new NoSuchElementException("no more lines")
    val l = nextLine
    nextLine = null
    lineFile = opened - 1 // hasNext stops at the open file's line
    l
  }

  /** Index into `files` of the file the last [[next]] line came from. */
  def fileIndex: Int = lineFile

  override def close(): Unit =
    if (in != null) { in.close(); in = null }

  private def fill(): Boolean = {
    pos = 0
    lim = math.max(in.read(buf), 0)
    lim > 0
  }

  /** The next line of the open file, or null at its end. */
  private def readLine(): String = {
    len = 0
    if (pos >= lim && !fill()) return null
    while (true) {
      var i = pos
      while (i < lim && buf(i) != '\n' && buf(i) != '\r') i += 1
      append(i - pos)
      if (i < lim) {
        pos = i + 1
        if (buf(i) == '\r' && (pos < lim || fill()) && buf(pos) == '\n')
          pos += 1
        return decode(terminated = true)
      }
      if (!fill()) return decode(terminated = false)
    }
    null // unreachable
  }

  private def append(n: Int): Unit = {
    if (len + n > line.length)
      line = java.util.Arrays.copyOf(line, math.max(line.length * 2, len + n))
    System.arraycopy(buf, pos, line, len, n)
    len += n
  }

  /** The line's text, or null for a file holding only a BOM: Hadoop
    * reads that as no lines at all (but a BOM plus a newline as one
    * empty line). */
  private def decode(terminated: Boolean): String = {
    val bom = atFileStart && len >= 3 &&
      line(0) == 0xEF.toByte && line(1) == 0xBB.toByte && line(2) == 0xBF.toByte
    atFileStart = false
    val off = if (bom) 3 else 0
    if (bom && len == 3 && !terminated) null
    else new String(line, off, len - off, StandardCharsets.UTF_8)
  }
}

private[graft] object LocalLines {
  val BufferBytes: Int = 64 * 1024
}
