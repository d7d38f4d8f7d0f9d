package graft

import org.apache.spark.sql.SparkSession

/** One place for the local SparkSession every entry point builds — the
  * master/shuffle-partitions/UI/log-level block plus
  * [[Tables.sessionConfigs]] (extensions, nanos timestamps, AQE). Five
  * mains used to hand-copy it; a new session config now lands everywhere
  * at once. */
object Sessions {

  /** Worker threads for a local session: SPARK_GRAFT_CPUS when set, else
    * the processors this JVM may use. */
  def defaultCpus(env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

  /** `local[cpus]` session with shuffle partitions = cpus. The
    * `MapPartitionsRDD` logger is raised to ERROR: it warns "was locally
    * checkpointed" on every checkpoint free `Caches.release()` makes. */
  def local(
      cpus: String = defaultCpus(),
      logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
