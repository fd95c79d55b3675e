package graft.mr

import org.apache.spark.sql.SparkSession

/** CLI parity with the reference's `mapreduce-submit` (reference
  * submit.py:20-101): same option surface (`--input/-i`, `--output/-o`,
  * `--mapper/-m`, `--reducer/-r`, `--nmappers`, `--nreducers`,
  * `--shutdown/-s`, same defaults of 2 mappers / 2 reducers), so a user
  * of the reference can drive this engine with the flags they already
  * know. Where the reference CLI posts a `new_manager_job` JSON to the
  * manager's TCP port and exits, here there is no long-lived manager
  * process to address — Spark's cluster manager plays that role — so
  * submit enqueues on a [[MapReduceDriver]] (the O11 FIFO queue) and
  * drains it; `--shutdown` maps to `spark.stop()` (O14).
  *
  * `--host`/`--port` are accepted and ignored (documented no-ops: the
  * manager endpoint has no analogue when the scheduler is in-process).
  */
object Submit {

  final case class Args(
      input: String = "tests/testdata/input",
      output: String = "output",
      mapper: String = "tests/testdata/exec/wc_map.sh",
      reducer: String = "tests/testdata/exec/wc_reduce.sh",
      numMappers: Int = 2,
      numReducers: Int = 2,
      shutdown: Boolean = false)

  /** Parse the reference CLI's option surface. Throws
    * IllegalArgumentException on unknown flags — the reference's click
    * parser also hard-fails rather than guessing. */
  def parse(argv: Seq[String]): Args = {
    def go(rest: List[String], a: Args): Args = rest match {
      case Nil => a
      case ("--input" | "-i") :: v :: t => go(t, a.copy(input = v))
      case ("--output" | "-o") :: v :: t => go(t, a.copy(output = v))
      case ("--mapper" | "-m") :: v :: t => go(t, a.copy(mapper = v))
      case ("--reducer" | "-r") :: v :: t => go(t, a.copy(reducer = v))
      case "--nmappers" :: v :: t => go(t, a.copy(numMappers = v.toInt))
      case "--nreducers" :: v :: t => go(t, a.copy(numReducers = v.toInt))
      case ("--shutdown" | "-s") :: t => go(t, a.copy(shutdown = true))
      case ("--host" | "-h") :: _ :: t => go(t, a) // accepted, no-op
      case ("--port" | "-p") :: _ :: t => go(t, a) // accepted, no-op
      case x :: _ => throw new IllegalArgumentException(s"unknown option: $x")
    }
    go(argv.toList, Args())
  }

  /** Submit (or shut down) against an existing session. Returns the job
    * id for a job submission, None for `--shutdown`. */
  def run(spark: SparkSession, argv: Seq[String],
      driver: MapReduceDriver): Option[Int] = {
    val a = parse(argv)
    if (a.shutdown) { spark.stop(); None }
    else {
      val id = driver.submit(MrJob(a.input, a.output, a.mapper, a.reducer,
        a.numMappers, a.numReducers))
      driver.runPending()
      Some(id)
    }
  }

  def main(argv: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-submit")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val a = parse(argv.toSeq)
    run(spark, argv.toSeq, new MapReduceDriver(spark)) match {
      case Some(id) =>
        println(s"Submitted job $id")
        println(s"input directory      ${a.input}")
        println(s"output directory     ${a.output}")
        spark.stop()
      case None => println("Shut down session")
    }
  }
}
