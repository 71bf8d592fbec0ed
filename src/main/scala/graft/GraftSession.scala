package graft

import org.apache.spark.sql.SparkSession

/** The one way graft's entry points and specs build their local
  * session: `local[cpus]`, one shuffle partition per core and the
  * Spark UI off, plus the caller's own `conf` entries (the session
  * time zone among them where a caller's outputs depend on it).
  */
object GraftSession {

  /** The session time zone the oracle-checked entry points pin. */
  val Utc: (String, String) = "spark.sql.session.timeZone" -> "UTC"

  /** `SPARK_GRAFT_CPUS`, else 32 (the bench host class). */
  def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def apply(cpus: String = envCpus, conf: Seq[(String, String)] = Nil,
            logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
