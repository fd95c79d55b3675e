package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.scheduler._

/** One recorded span: a timed call into a layer. Spans of one operation
  * share `op`; `parent` is the enclosing span's id (-1 for the root). */
final case class Span(id: Int, op: String, name: String, parent: Int,
    startNs: Long, endNs: Long) {
  def dur: Long = endNs - startNs
}

/** In-memory span recorder. When disabled every `span` call is just the
  * body, so the untraced runs pay nothing. Spans are written out once,
  * at exit, by [[PerfBench]]. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, op, name, parent, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Root span of one operation; nested spans inherit its op id. */
  def root[T](opId: String, name: String)(body: => T): T = {
    op = opId
    span(name)(body)
  }

  /** Self time of span `s`: its duration minus the part of it that its
    * direct children cover (children never overlap: one client thread). */
  def selfNs(s: Span): Long =
    s.dur - spans.iterator.filter(_.parent == s.id).map(_.dur).sum

  /** Share of each root span's wall that its layer spans cover. */
  def coverage: Seq[(String, Double)] =
    spans.filter(_.parent < 0).toSeq.map { r =>
      r.op -> (if (r.dur == 0) 1.0 else 1.0 - selfNs(r).toDouble / r.dur)
    }

  def json: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"op":"${s.op}","name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)}}"""
  }
}

/** What the Spark listener saw for one job group (= one operation). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  /** (start ms, end ms) of every job, for the union of job walls. */
  val jobWalls = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Seconds covered by the union of this group's job intervals. */
  def jobUnionSec: Double = {
    var total = 0L; var curS = -1L; var curE = -1L
    jobWalls.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}

/** Listener attached only in the traced run. Every job, stage and task
  * is keyed by the job group its job was submitted under; the benchmark
  * sets one group per operation, so [[take]] after a drain returns
  * exactly that operation's work. Events of any other group still
  * present at a [[take]] are counted in [[crossAttributed]]. */
final class GroupListener(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stats = mutable.Map.empty[String, GroupStats]
  var crossAttributed = 0

  private def of(g: String): GroupStats = stats.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    val s = of(g)
    s.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    of(g).jobWalls += ((jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = of(stageGroup.getOrElse(e.stageInfo.stageId, ""))
      s.stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = of(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    if (e.reason != org.apache.spark.Success || e.taskInfo.attemptNumber > 0)
      s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
      s.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (e.taskInfo.gettingResult) e.taskInfo.finishTime -
          e.taskInfo.gettingResultTime else 0L))
    }
  }

  /** Drain the listener bus, then remove and return the merged stats of
    * one operation's job `groups`. Anything left under another group is
    * cross-attribution: work that ran outside the operation that was
    * current when it was drained. */
  def take(groups: Set[String]): GroupStats = {
    ListenerShim.waitUntilEmpty(sc)
    synchronized {
      val s = new GroupStats
      groups.flatMap(stats.remove).foreach { g =>
        s.jobs += g.jobs; s.stages += g.stages; s.tasks += g.tasks
        s.failedTasks += g.failedTasks
        s.shuffleWriteBytes += g.shuffleWriteBytes
        s.fetchWaitMs += g.fetchWaitMs; s.spillBytes += g.spillBytes
        s.gcMs += g.gcMs; s.schedDelayMs += g.schedDelayMs
        s.jobWalls ++= g.jobWalls
      }
      val stray = stats.filter { case (g, v) => g != "" && (v.jobs > 0 || v.tasks > 0) }
      crossAttributed += stray.valuesIterator.map(v => v.jobs + v.tasks).sum
      stats.clear()
      s
    }
  }
}
