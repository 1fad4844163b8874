package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of every main and of the test suite,
  * so a run's configuration (cores, shuffle partitions, AQE, time
  * zone) is set in one place and two runs compare like for like. */
object Session {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with the UTC session time zone, AQE on, the UI off
    * and `shuffle.partitions = cpus`; `conf` overrides any of these or
    * adds keys. The session logs at WARN and carries the custom rules
    * and strategies ([[plans.Plans.install]]), so a builder called
    * directly plans as it does through `SparkEntry.queries`. */
  def local(cpus: Int = Session.cpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val settings = Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false") ++ conf
    val spark = settings.foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plans.Plans.install(spark)
    spark
  }
}
