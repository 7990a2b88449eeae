package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.sources.rtcdb.{RtcdbAggScan, RtcdbFormat, RtcdbScan}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The rtcdb source's exact WHERE and aggregate fold: every pushed query
  * must return what Spark itself returns over the same rows, and a read
  * that fits one input partition must run as one job with nothing above
  * the scan but a projection.
  */
class RtcdbPushdownSpec extends AnyFunSuite with SparkFixture
    with AdaptiveSparkPlanHelper {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("s", StringType, nullable = false),
    StructField("v", LongType, nullable = false)))

  // strings sharing an 8-byte prefix (the zone maps' precision), the empty
  // string, and multi-byte UTF-8 (unsigned byte order puts it last)
  private val words = Seq("", "a", "prefix00", "prefix00a", "prefix00b",
    "prefix01", "zz", "é", "日本")

  /** 3000 rows sorted on the leading `k`: three blocks */
  private val rows: Seq[Row] = (0L until 3000L).map(i =>
    Row(i, words((i % words.size).toInt), (i * 7919L) % 1000L))

  private def freshTable(tag: String, rs: Seq[Row]): String = {
    val dir = Files.createTempDirectory(s"rtcdb_$tag")
    RtcdbFormat.writeMetadata(dir, Seq("t" -> schema))
    if (rs.nonEmpty) RtcdbFormat.write(dir.toString, "t", schema, rs)
    dir.toString
  }

  private lazy val root = freshTable("pushdown", rows)

  private def rtcdb(r: String = root): DataFrame =
    spark.read.format("rtcdb").option("path", r).option("table", "t").load()

  /** the same rows evaluated by Spark alone */
  private def reference(rs: Seq[Row] = rows): DataFrame =
    spark.createDataFrame(rs.asJava, schema)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def scanOf(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head

  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: (if (t.getCause == t) Nil else causes(t.getCause))

  /** Spark jobs `body` starts, counted on a job group of its own */
  private def jobsRun(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"pushdown-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "pushdown job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graftspec.ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("exact WHERE: long and string comparisons and IS NOT NULL equal Spark's own") {
    val wheres: Seq[(String, DataFrame => DataFrame)] = Seq(
      "k = 1500" -> (_.filter(col("k") === 1500L)),
      "k > 2990" -> (_.filter(col("k") > 2990L)),
      "k >= 2990" -> (_.filter(col("k") >= 2990L)),
      "k < 5" -> (_.filter(col("k") < 5L)),
      "k <= 5" -> (_.filter(col("k") <= 5L)),
      "100 <= k < 2000" -> (_.filter(col("k") >= 100L && col("k") < 2000L)),
      "v = 7" -> (_.filter(col("v") === 7L)),
      "v > 990 and k < 2500" -> (_.filter(col("v") > 990L && col("k") < 2500L)),
      "s = ''" -> (_.filter(col("s") === "")),
      "s <= ''" -> (_.filter(col("s") <= "")),
      "s = prefix00a" -> (_.filter(col("s") === "prefix00a")),
      "s > prefix00" -> (_.filter(col("s") > "prefix00")),
      "s >= prefix00a" -> (_.filter(col("s") >= "prefix00a")),
      "s < prefix00b" -> (_.filter(col("s") < "prefix00b")),
      "s > é" -> (_.filter(col("s") > "é")),
      "s is not null" -> (_.filter(col("s").isNotNull)),
      "empty result" -> (_.filter(col("k") > 1000000L)),
      "all blocks pruned" -> (_.filter(col("v") > 5000L)),
      "no row in admitted blocks" -> (_.filter(col("k") >= 10L && col("k") < 20L &&
        col("s") === "nope")))
    wheres.foreach { case (name, where) =>
      val got = where(rtcdb())
      assert(sorted(got) == sorted(where(reference())), name)
      // nothing is left for Spark to evaluate
      assert(collect(got.queryExecution.executedPlan) { case f: FilterExec => f }.isEmpty,
        name)
    }
    // a projection that drops the filter column still filters exactly
    assert(sorted(rtcdb().filter(col("s") === "prefix00").select("v")) ==
      sorted(reference().filter(col("s") === "prefix00").select("v")))
  }

  test("a string-leading table answers prefix-sharing ranges exactly") {
    val sSchema = StructType(Seq(
      StructField("s", StringType, nullable = false),
      StructField("k", LongType, nullable = false)))
    val srows = rows.map(r => (r.getString(1), r.getLong(0))).sorted
      .map { case (s, k) => Row(s, k) }
    val dir = Files.createTempDirectory("rtcdb_slead")
    RtcdbFormat.writeMetadata(dir, Seq("t" -> sSchema))
    RtcdbFormat.write(dir.toString, "t", sSchema, srows)
    val src = spark.read.format("rtcdb").option("path", dir.toString)
      .option("table", "t").load()
    val ref = spark.createDataFrame(srows.asJava, sSchema)
    Seq[DataFrame => DataFrame](
      _.filter(col("s") === "prefix00"),
      _.filter(col("s") > "prefix00" && col("s") <= "prefix00b"),
      _.filter(col("s") < "a"),
      _.filter(col("s") >= "zz").groupBy("s").agg(count(lit(1)), sum(col("k")))
    ).foreach(q => assert(sorted(q(src)) == sorted(q(ref))))
  }

  test("aggregate fold: GROUP BY string, u64 and two columns equal Spark's own") {
    val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
      "global" -> (_.agg(count(lit(1)), sum(col("v")), min(col("k")), max(col("v")))),
      "global filtered" -> (_.filter(col("k") >= 100L && col("k") < 2000L)
        .agg(count(lit(1)), sum(col("v")), min(col("v")), max(col("k")))),
      "global empty result" -> (_.filter(col("s") === "nope")
        .agg(count(lit(1)), sum(col("v")), min(col("v")), max(col("k")))),
      "by string" -> (_.groupBy("s").agg(count(lit(1)), sum(col("v")),
        min(col("k")), max(col("v")))),
      "by u64" -> (_.groupBy("v").agg(count(col("s")), sum(col("k")))),
      "by two columns" -> (_.groupBy("s", "v").agg(sum(col("k")), max(col("k")))),
      "by string, filtered" -> (_.filter(col("k") < 2500L && col("s") > "prefix00")
        .groupBy("s").agg(count(lit(1)), sum(col("v")))))
    queries.foreach { case (name, q) =>
      val got = q(rtcdb())
      assert(scanOf(got).isInstanceOf[RtcdbAggScan], s"$name: not pushed")
      assert(sorted(got) == sorted(q(reference())), name)
    }
  }

  test("empty table: one global row of 0 and nulls, no grouped row") {
    val empty = freshTable("emptyagg", Nil)
    val global: DataFrame => DataFrame =
      _.agg(count(lit(1)), sum(col("v")), min(col("k")), max(col("v")))
    val got = global(rtcdb(empty))
    assert(scanOf(got).isInstanceOf[RtcdbAggScan])
    assert(got.collect().toSeq == Seq(Row(0L, null, null, null)))
    assert(sorted(got) == sorted(global(reference(Nil))))
    val grouped = rtcdb(empty).groupBy("s").agg(count(lit(1)), sum(col("v")))
    assert(grouped.collect().isEmpty)
    // every block pruned by the leading-range search reads the same way
    val pruned = global(rtcdb().filter(col("k") > 1000000L))
    assert(pruned.collect().toSeq == Seq(Row(0L, null, null, null)))
  }

  test("SUM overflow throws under ANSI and wraps like Spark without it") {
    val big = Seq(Row(1L, "x", Long.MaxValue / 2 + 1), Row(2L, "x", Long.MaxValue / 2 + 1),
      Row(3L, "y", 5L))
    val dir = freshTable("overflow", big)
    val q: DataFrame => DataFrame = _.agg(sum(col("v")))
    val g: DataFrame => DataFrame = _.groupBy("s").agg(sum(col("v")))
    withConf("spark.sql.ansi.enabled" -> "true") {
      Seq(q, g).foreach { f =>
        val e = intercept[Exception](f(rtcdb(dir)).collect())
        assert(causes(e).exists(_.isInstanceOf[ArithmeticException]), e.toString)
      }
    }
    withConf("spark.sql.ansi.enabled" -> "false") {
      Seq(q, g).foreach { f =>
        val got = f(rtcdb(dir))
        assert(scanOf(got).isInstanceOf[RtcdbAggScan])
        assert(sorted(got) == sorted(f(reference(big))))
      }
    }
  }

  test("the multi-partition path: small splits push ungrouped partials only") {
    withConf("spark.sql.files.maxPartitionBytes" -> "4096") {
      val where: DataFrame => DataFrame = _.filter(col("k") >= 500L)
      val global = (df: DataFrame) => where(df)
        .agg(count(lit(1)), sum(col("v")), min(col("v")), max(col("k")))
      val got = global(rtcdb())
      assert(scanOf(got).isInstanceOf[RtcdbAggScan])
      assert(got.queryExecution.executedPlan.toString.contains("HashAggregate"))
      assert(sorted(got) == sorted(global(reference())))
      val grouped = (df: DataFrame) => where(df).groupBy("s").agg(sum(col("v")))
      val g = grouped(rtcdb())
      assert(scanOf(g).isInstanceOf[RtcdbScan], "GROUP BY pushed over 3 partitions")
      assert(sorted(g) == sorted(grouped(reference())))
      assert(rtcdb().rdd.getNumPartitions == 3)
      assert(sorted(where(rtcdb())) == sorted(where(reference())))
    }
  }

  test("a one-partition aggregate runs one job with only a projection above the scan") {
    val q = rtcdb().filter(col("k") >= 100L && col("k") < 2000L)
      .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L)))
    var result: Array[Row] = null
    assert(jobsRun { result = q.collect() } == 1)
    val plan = q.queryExecution.executedPlan
    assert(collect(plan) { case f: FilterExec => f }.isEmpty, plan)
    assert(collect(plan) { case e: Exchange => e }.isEmpty, plan)
    assert(collect(plan) { case a: BaseAggregateExec => a }.isEmpty, plan)
    assert(sorted(q) == sorted(reference().filter(col("k") >= 100L && col("k") < 2000L)
      .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L)))))
    // a grouped read of the whole table is one job too
    assert(jobsRun(rtcdb().groupBy("s").agg(count(lit(1))).collect()) == 1)
  }

  test("a range or point read with new bounds compiles no new class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def range(lo: Long, hi: Long) = rtcdb().filter(col("k") >= lo && col("k") < hi)
      .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).collect()
    def point(v: Long) = rtcdb().filter(col("v") === v).select("s").collect()
    range(10L, 500L); point(3L)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    range(600L, 1200L); range(7L, 8L); point(4L); point(999L)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
  }

  test("misaligned block row counts throw a named error on the row and fold paths") {
    // two tables of two blocks each whose LAST blocks differ (976 vs 1016
    // rows); the longer one's 'v' files replace the shorter one's
    val short = freshTable("short", rows.take(2000))
    val long = freshTable("long", rows.take(2040))
    Seq("data", "index", "bloom").foreach { ext =>
      Files.copy(Paths.get(long, s"t.v.$ext"), Paths.get(short, s"t.v.$ext"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def failure(df: DataFrame): String = {
      val e = intercept[Exception](df.collect())
      val c = rootCause(e)
      assert(c.isInstanceOf[IllegalStateException], c.toString)
      c.getMessage
    }
    Seq[DataFrame => DataFrame](
      _.select("s", "v"), // the shorter column first
      _.select("v", "s"), // the longer column first: rows would drop silently
      _.filter(col("k") >= 0L).agg(sum(col("v"))),
      _.groupBy("s").agg(sum(col("v"))),
      _.agg(count(lit(1)), max(col("v"))) // index-only: the entries disagree
    ).foreach { q =>
      val msg = failure(q(rtcdb(short)))
      assert(msg.contains("'t'") && msg.contains("block 1") && msg.contains("misaligned"), msg)
    }
  }

  test("a damaged index entry fails the index-only fold instead of counting") {
    val dir = freshTable("damaged", rows)
    val idx = Paths.get(dir, "t.k.index")
    val good = Files.readAllBytes(idx)
    // entry 1's decompressed_size (bytes 16..24): a huge count, then a
    // size that is no whole number of u64 values
    Seq(8L * 1024 * 1000, 8L * 100 + 3).foreach { size =>
      val bytes = good.clone()
      java.nio.ByteBuffer.wrap(bytes, 40 + 16, 8).putLong(size)
      Files.write(idx, bytes)
      val q = rtcdb(dir).agg(count(lit(1)))
      assert(scanOf(q).asInstanceOf[RtcdbAggScan].description().contains("index-only"))
      val e = intercept[Exception](q.collect())
      val c = rootCause(e)
      assert(c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("column 'k' block 1") &&
        c.getMessage.contains("damaged index entry"), c.toString)
    }
  }
}
