package graft

import org.apache.spark.sql.SparkSession

/** The one place a main entry point (and the test suites) builds its
  * Spark session. */
object Sessions {

  /** The core count of every main: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = {
    val s = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    s.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time,
    * AQE on, no UI, [[graft.sources.Tables.bootstrap]]'s parquet
    * timestamp confs, and log level WARN. */
  def local(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.sources.Tables.bootstrap(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
