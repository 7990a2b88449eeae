package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (reference tests use a fresh TempDir per
  * test, `/root/reference/tests/integration_test.rs:9-19`; the session is
  * shared, the per-test DB dirs are fresh).
  */
trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.session

  /** run `body` with session confs temporarily set, restoring prior values
    * (shared by every spec that needs scoped conf overrides)
    */
  def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkFixture {
  lazy val session: SparkSession = GraftSession.local(4)
}
