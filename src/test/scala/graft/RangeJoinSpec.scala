package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RangeJoin

/** Bucketized range join: the library operators (point-in-interval and
  * interval-overlap) must produce exactly the rows of the naive theta join
  * (which Spark plans as BroadcastNestedLoopJoin), each matching pair
  * once, for bucket widths below, at and above the interval span.
  */
class RangeJoinSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  private def pointsAndIntervals: (DataFrame, DataFrame) = {
    val us = Tables.events(spark, sf).withColumn("tus", expr("ts DIV 1000"))
    val intervals = us.filter(col("event_type") === "error")
      .groupBy(col("user_id").as("iuser"))
      .agg(min("tus").as("istart"))
      .withColumn("iend", col("istart") + lit(21600000000L))  // 6 h: sf0.001 is sparse
    val points = us.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("tus"))
    (points, intervals)
  }

  private def naive(points: DataFrame, intervals: DataFrame): DataFrame =
    points.join(intervals,
      col("tus") >= col("istart") && col("tus") <= col("iend"))

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.select("iuser", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("library operator matches the naive theta join") {
    val (p, i) = pointsAndIntervals
    val expected = rows(naive(p, i))
    assert(expected.nonEmpty, "fixture produced no matches — test is vacuous")
    // a width much smaller than the interval span exercises multi-bucket
    // explosion; a larger one the single-bucket path
    for (w <- Seq(600000000L, 21600000000L, 86400000000L)) {
      assert(rows(RangeJoin.pointInInterval(p, "tus", i,
        "istart", "iend", w)) == expected, s"width=$w")
    }
  }

  test("operator emits each matching pair exactly once (no bucket dupes)") {
    val (p, i) = pointsAndIntervals
    val out = RangeJoin.pointInInterval(p, "tus", i,
      "istart", "iend", 600000000L)
    val n = out.count()
    assert(n == out.dropDuplicates("iuser", "view_id").count())
    assert(n == naive(p, i).count())
  }

  test("interval-overlap join matches the naive theta join, exactly once") {
    // per-user activity spans: [first event, first event + 6 h] from two
    // disjoint event-type populations — arbitrary overlapping intervals
    val us = Tables.events(spark, sf).withColumn("tus", expr("ts DIV 1000"))
    def spans(tpe: String, idc: String, sc: String, ec: String): DataFrame =
      us.filter(col("event_type") === tpe)
        .groupBy(col("user_id").as(idc))
        .agg(min("tus").as(sc))
        .withColumn(ec, col(sc) + lit(21600000000L))
    val l = spans("error", "eu", "es", "ee")
    val r = spans("view", "vu", "vs", "ve")
    val naive = l.join(r, col("es") <= col("ve") && col("vs") <= col("ee"))
      .select("eu", "vu").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(naive.nonEmpty && naive.length == naive.toSet.size)
    for (w <- Seq(600000000L, 21600000000L, 86400000000L)) {
      val got = RangeJoin.intervalOverlap(l, "es", "ee", r, "vs", "ve", w)
        .select("eu", "vu").collect().map(x => (x.getLong(0), x.getLong(1)))
      assert(got.length == naive.length, s"width=$w: dupes or misses")
      assert(got.toSet == naive.toSet, s"width=$w")
    }
  }
}
