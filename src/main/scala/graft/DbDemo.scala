package graft

import java.nio.file.Files

import graft.catalog.DB
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end walkthrough of the DB facade — SURVEY.md §7.2's minimum
  * slice: init → validated sorted ingest → pruned scan → filter → hash
  * aggregate. Run: `sbt "runMain graft.DbDemo"`.
  */
object DbDemo {
  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession = GraftSession.local()

    val eventsSchema = StructType(Seq(
      StructField("event", StringType, nullable = false),
      StructField("timestamp", LongType, nullable = false),
      StructField("id", LongType, nullable = false)))

    val dir = Files.createTempDirectory("graft_demo").toString
    println(s"[demo] init at $dir")
    val db = DB.init(dir, Seq("events" -> eventsSchema))

    val rows = (1L to 10000L).map(i =>
      Row(if (i % 3 == 0) "click" else "view", 1700000000L + i, i))
    db.write("events", rows)
    println(s"[demo] wrote ${rows.size} rows; metadata.json:")
    println(Files.readString(java.nio.file.Paths.get(dir, "metadata.json")))

    val reopened = DB.open(dir)
    val agg = reopened.table("events")
      .filter(col("event") === "click")
      .groupBy("event")
      .agg(count(lit(1)).as("n"), max(col("id")).as("max_id"))
    agg.show()
    println("[demo] physical plan:")
    agg.explain("formatted")

    // error paths users will hit
    def expectFail(tag: String)(f: => Unit): Unit =
      try { f; println(s"[demo] $tag: UNEXPECTED SUCCESS") }
      catch { case e: IllegalArgumentException =>
        println(s"[demo] $tag rejected: ${e.getMessage}") }
    expectFail("unknown-table") { db.write("nope", Seq(Row("a", 1L, 1L))) }
    expectFail("bad-type") { db.write("events", Seq(Row("a", "x", 1L))) }
    expectFail("null-cell") { db.write("events", Seq(Row("a", null, 1L))) }
    expectFail("open-missing") { DB.open(dir + "_nope") }

    spark.stop()
  }
}
