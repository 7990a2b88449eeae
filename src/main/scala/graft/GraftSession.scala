package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main and spec gets its SparkSession
  * here, so the harnesses cannot drift apart in config.
  *
  * The session is `local[cpus]` with one shuffle partition per core, UTC
  * session time zone (the oracles' timestamps are UTC) and the UI off;
  * log level is WARN. `getOrCreate` semantics: a second call returns the
  * running session.
  */
object GraftSession {

  /** `$SPARK_GRAFT_CPUS`, or the machine's core count when unset */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = envCpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
