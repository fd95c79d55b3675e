package graft.mr

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One queued MapReduce job — the reference's `new_manager_job` message
  * payload (reference submit.py:80-88). */
final case class MrJob(
    inputDir: String,
    outputDir: String,
    mapperExe: String,
    reducerExe: String,
    numMappers: Int = 2,
    numReducers: Int = 2,
    perFileMapper: Boolean = false)

/** O11 parity — the reference manager's FIFO job queue (reference
  * manager/__main__.py:237-262): submitted jobs get monotonically
  * increasing ids starting at 0, queue in arrival order, and execute
  * strictly one at a time in that order. A job that fails does not
  * block the queue (the reference manager logs and moves on); its id is
  * reported in [[failed]] instead of [[completed]]. A fatal error (per
  * `NonFatal`: out of memory, `InterruptedException`, `LinkageError`)
  * is not a job failure: it propagates out of [[runPending]], the job
  * it interrupted is in none of [[completed]], [[failed]] and
  * [[pending]], and the jobs behind it stay pending.
  *
  * Spark's DAGScheduler could run jobs concurrently — the serial drain
  * here is deliberate parity with the reference's one-job-at-a-time
  * main loop, and is also the sane default for ETL chains where job
  * N+1 reads job N's output dir.
  */
class MapReduceDriver(spark: SparkSession) {

  private val queue = mutable.Queue.empty[(Int, MrJob)]
  private var nextJobId = 0
  private val done = mutable.ArrayBuffer.empty[Int]
  private val errs = mutable.ArrayBuffer.empty[(Int, Throwable)]

  /** Enqueue a job; returns its id (monotonic from 0, like the
    * reference's `Manager.job_id` counter). */
  def submit(job: MrJob): Int = synchronized {
    val id = nextJobId
    nextJobId += 1
    queue.enqueue((id, job))
    id
  }

  /** Drain the queue: run every pending job serially in FIFO order (the
    * manager main loop body). Returns the ids that completed during this
    * drain, in execution order. */
  def runPending(): Seq[Int] = {
    val ranNow = mutable.ArrayBuffer.empty[Int]
    var next = dequeueNext()
    while (next.isDefined) {
      val (id, job) = next.get
      try {
        execute(job)
        synchronized { done += id }
        ranNow += id
      } catch {
        case NonFatal(e) => synchronized { errs += ((id, e)) }
      }
      next = dequeueNext()
    }
    ranNow.toSeq
  }

  /** Runs one job. A test may substitute it to inject a failure. */
  protected def execute(job: MrJob): Unit =
    MapReduceJob.runExe(spark, job.inputDir, job.outputDir,
      job.mapperExe, job.reducerExe, job.numMappers, job.numReducers,
      job.perFileMapper)

  private def dequeueNext(): Option[(Int, MrJob)] = synchronized {
    if (queue.isEmpty) None else Some(queue.dequeue())
  }

  /** Ids of jobs that finished successfully, in completion order. */
  def completed: Seq[Int] = synchronized(done.toSeq)

  /** Ids and causes of jobs that failed. */
  def failed: Seq[(Int, Throwable)] = synchronized(errs.toSeq)

  /** Jobs still waiting (submitted but not yet drained). */
  def pending: Seq[Int] = synchronized(queue.map(_._1).toSeq)
}
