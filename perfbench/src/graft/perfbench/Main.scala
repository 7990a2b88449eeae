package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (`perfbench/run.py` builds it). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    data: Path,      // directory holding the sf* input directories
    scale: String,   // input scale, e.g. sf0.01
    pinned: Path,    // directory holding the pinned answers
    work: Path,      // this run's scratch directory
    result: Path)    // where the result JSON goes

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad argument: ${a.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, Paths.get(get("data")),
      get("scale"), Paths.get(get("pinned")), Paths.get(get("work")),
      Paths.get(get("result")))
  }
}

/** A named workload: set up, then issue timed ops for `opts.seconds`, then
  * check outputs; returns its end-to-end, named and per-layer metrics. */
trait Workload {
  def run(r: Run): Report
}

/** `endToEnd`: the gated metrics, the same names for every workload;
  * `named`: this workload's own end-to-end metrics; `layers`: per-layer
  * metrics of a traced run. */
final case class Report(endToEnd: Seq[(String, Metric)], named: Seq[(String, Metric)],
    layers: Seq[(String, Metric)])

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "query-mix" -> (() => new QueryMix),
    "memo-cold" -> (() => new MemoCold),
    "rtcdb-rw" -> (() => new RtcdbRw))

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("selfcheck")) {
      sys.exit(SelfCheck.run(Opts.parse(args.drop(1))))
    }
    if (args.headOption.contains("pin")) {
      Pin.run(args.drop(1))
      return
    }
    val o = Opts.parse(args)
    val mk = workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    Files.createDirectories(o.work)
    val spark = session(o)
    val r = new Run(spark, o)
    val report =
      try mk().run(r)
      finally {
        r.tracer.foreach(t => Spans.write(t, o.work.resolve("spans.jsonl")))
        spark.stop()
      }
    val errorRate = if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted
    val named = Seq("setup_s" -> Metric(r.setupSeconds, "s"),
      "error_rate" -> Metric(errorRate, "ratio", r.attempted)) ++ report.named
    val env = Seq(
      "env.sentinel_s_p50" -> Metric(Stats.median(r.sentinels.toSeq), "s", r.sentinels.size),
      "env.throttled_s" -> Metric(r.throttledDelta, "s"),
      "env.nproc" -> Metric(o.cores, "count"),
      "env.mem_total_gb" -> Metric(Env.memTotalBytes() / 1e9, "GB"))
    val metrics =
      if (o.trace) report.layers ++ env
      else report.endToEnd :+ ("setup_s" -> Metric(r.setupSeconds, "s"))
    val line = Json.obj(Seq(
      "correct" -> (r.failed == 0).toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.metrics(metrics, withN = false)))
    val detail = Json.obj(Seq(
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "trace" -> o.trace.toString,
      "named" -> Json.metrics(named, withN = true),
      "env" -> Json.metrics(env, withN = true),
      "failures" -> r.failures.map(Json.str).mkString("[", ", ", "]")))
    Files.write(o.result, (detail + "\n" + line + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
