package graft.tools

import org.apache.spark.sql.SparkSession

/** The session policy of every local main (the user CLI `graft.Main`,
  * which honours SPARK_MASTER, excepted): `local[cpus]`, one shuffle
  * partition per core, AQE on, UTC, no UI, WARN logging. `cpus`
  * defaults to SPARK_GRAFT_CPUS (32); `extraConf` entries are set
  * last, so they override the policy.
  */
object LocalSession {
  def apply(extraConf: (String, String)*): SparkSession =
    apply(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, extraConf: _*)

  def apply(cpus: Int, extraConf: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
