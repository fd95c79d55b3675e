package graft

import org.apache.spark.sql.SparkSession

/** The one local session every `main` builds: `local[cores]`, UTC
  * session time zone, no UI, WARN logging. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else this host's processor count. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** @param shufflePartitions `spark.sql.shuffle.partitions`; `cores`
    *                          when absent */
  def local(app: String, cores: Int = defaultCores,
      shufflePartitions: Option[Int] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
