package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft entry point builds its SparkSession: the
  * benchmark's local setup (`local[cpus]`, shuffle width = cpus, AQE on,
  * UTC session time, no UI). Mains add their own settings on the
  * returned builder; specs take `local(4)`.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, default 32: the core count the query tools run at. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def local(cpus: Int): SparkSession = builder(cpus).getOrCreate()
}
