package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape every measurement/evidence main builds:
  * `local[cpus]`, [[GraftExtensions]], shuffle partitions = cpus, UI
  * off. Callers add only their own confs (time zone, split size) before
  * `getOrCreate()`. `Main` keeps its own builder: it is the product CLI
  * (embedded session reuse, deployment master, UI on).
  */
object GraftSession {
  /** SPARK_GRAFT_CPUS, else every core the JVM sees. */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def builder(cpus: String = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
}
