package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Shuffle-volume audit main → one JSON file of per-query task-metric
  * totals (tools/shuffle.py runs it at two scale factors and commits
  * the growth ratios as SHUFFLE_r{N}.json).
  *
  * WHY: the repo's central 100 TB claim is "every candidate-generation
  * stage is equi-join shaped — shuffle volume grows linearly with the
  * input, never quadratically". Until now that claim was argued from
  * plan shape (PLANS.md, the plan-smell gate) and wall-clock growth
  * (LADDER). This instrument measures the claim directly: for each
  * bench-group query it records shuffle WRITE bytes, shuffle READ
  * bytes, input bytes, spill, and peak per-task execution memory, so
  * sf0.01 → sf0.1 (10× rows) should move shuffle bytes ~10× for a
  * linear operator and ~100× for a hidden quadratic one. Wall-clock
  * can hide a quadratic behind idle cores; shuffled bytes cannot.
  *
  * Method: one untimed warm-up pass builds the memoized relations
  * (shingle/signature/PQ caches — their one-off build cost would
  * otherwise be attributed to whichever query runs first), then each
  * query runs ONCE with a per-task listener accumulating deltas. The
  * listener-bus drain barrier ([[ListenerShim.waitUntilEmpty]]) runs
  * before reading the counters — task-end events are async, so without
  * it the tail of query N lands in query N+1's numbers.
  *
  * Spill is reported because the honest answer at 100 TB is not "no
  * spill" but "spill is bounded and disk-backed"; a nonzero
  * memoryBytesSpilled at sf0.1 on a 128 GiB box, however, is a red
  * flag worth a SCALE.md adjudication.
  */
object ShuffleAudit {

  final class MetricsListener extends SparkListener {
    val shuffleWrite = new LongAdder
    val shuffleRead = new LongAdder
    val inputBytes = new LongAdder
    val spillDisk = new LongAdder
    val spillMem = new LongAdder
    val tasks = new LongAdder
    @volatile var peakTaskMem = 0L
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        inputBytes.add(m.inputMetrics.bytesRead)
        spillDisk.add(m.diskBytesSpilled)
        spillMem.add(m.memoryBytesSpilled)
        tasks.add(1)
        // benign race: two tasks racing the max can only UNDER-report,
        // and only by one task's reading; the audit compares ratios
        if (m.peakExecutionMemory > peakTaskMem)
          peakTaskMem = m.peakExecutionMemory
      }
    }
    def snapshot(): Map[String, Long] = Map(
      "shuffle_write_bytes" -> shuffleWrite.sum(),
      "shuffle_read_bytes" -> shuffleRead.sum(),
      "input_bytes" -> inputBytes.sum(),
      "spill_disk_bytes" -> spillDisk.sum(),
      "spill_mem_bytes" -> spillMem.sum(),
      "n_tasks" -> tasks.sum(),
      "peak_task_mem_bytes" -> peakTaskMem)
    def reset(): Unit = {
      Seq(shuffleWrite, shuffleRead, inputBytes, spillDisk, spillMem,
        tasks).foreach(_.reset())
      peakTaskMem = 0L
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val subset: Seq[String] =
      if (args.length > 2) args(2).split(",").toSeq
      else SparkEntry.benchQueries ++ SparkEntry.benchIterQueries ++
        SparkEntry.benchHeavyQueries
    val spark = GraftSession.local("graft-shuffleaudit")

    def force(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // warm-up: memoized caches + codegen, untimed and unmeasured
    subset.foreach(n => try force(n) catch { case _: Throwable => () })
    ListenerShim.waitUntilEmpty(spark.sparkContext)

    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    val results = subset.map { name =>
      listener.reset()
      val ok = try { force(name); true } catch { case e: Throwable =>
        System.err.println(s"[shuffle-audit] $name failed: ${e.getMessage}")
        false
      }
      ListenerShim.waitUntilEmpty(spark.sparkContext)
      name -> (listener.snapshot(), ok)
    }
    val json = results.map { case (name, (m, ok)) =>
      val fields = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" } :+ s""""ok":$ok"""
      s""""$name":{${fields.mkString(",")}}"""
    }.mkString("{\"sf_dir\":\"" + sfDir + "\",\"queries\":{", ",", "}}")
    Files.write(Paths.get(outPath), json.getBytes(StandardCharsets.UTF_8))
    println(s"[shuffle-audit] wrote $outPath (${results.size} queries)")
    spark.stop()
    if (results.exists(!_._2._2)) sys.exit(1)
  }
}
