package graft.tools

import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.BuilderPlans
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Profiles declared queries and internal memo builders, by name.
  *
  * A name is a declared query ([[SparkEntry.queries]]) or an internal
  * builder frame ([[BuilderPlans]], un-memoized). Two modes:
  *
  *   - `stages`: one warm-up action, then per name two runs, each forced
  *     with a noop write. Each run prints construct/exec/total seconds,
  *     the stage count, the summed stage wall time and the 30 slowest
  *     stages with their task counts and summed task run time. Run 1 is
  *     where memo builds and JIT land; run 2 is the steady state the
  *     bench's min-of-runs reports.
  *   - `plan`: per name, one `PLAN` line with the window, exchange and
  *     parquet-scan counts of the executed plan (the lineage check: a
  *     frame read by two consumers shows up as extra scans), then the
  *     formatted plan.
  *
  * Usage: runMain graft.tools.Profile stages|plan <name> [...]
  * Env: SPARK_GRAFT_CPUS (default: all cores), SPARK_GRAFT_SF_DIR
  * (default sf0.1).
  */
object Profile {

  /** the frame builder behind a query or builder name */
  def resolve(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.get(name).orElse(BuilderPlans.byName.lift(name))
      .getOrElse(throw new IllegalArgumentException(
        s"unknown query or builder: $name"))

  final case class PlanCounts(windows: Int, exchanges: Int, parquetScans: Int)

  /** counted on the executed plan's text, so AQE's initial plan counts */
  def planCounts(df: DataFrame): PlanCounts = {
    val p = df.queryExecution.executedPlan.toString
    PlanCounts("\\bWindow\\b".r.findAllIn(p).size,
      "Exchange".r.findAllIn(p).size, "Scan parquet".r.findAllIn(p).size)
  }

  def main(args: Array[String]): Unit = {
    val (mode, names) = args.toList match {
      case m :: ns if ns.nonEmpty && (m == "stages" || m == "plan") => (m, ns)
      case _ =>
        System.err.println("usage: graft.tools.Profile stages|plan <name> [...]")
        sys.exit(2)
    }
    names.foreach(resolve) // a typo fails before the session starts
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    try {
      if (mode == "plan") names.foreach(plan(spark, d, _))
      else stages(spark, d, names)
    } finally spark.stop()
  }

  private def plan(spark: SparkSession, d: String, name: String): Unit = {
    val df = resolve(name)(spark, d)
    val c = planCounts(df)
    println(s"PLAN $name windows=${c.windows} exchanges=${c.exchanges} " +
      s"parquet_scans=${c.parquetScans}")
    df.explain("formatted")
  }

  private final case class Stage(id: Int, name: String, ms: Long,
      nTasks: Int, taskSumMs: Long)

  private def stages(spark: SparkSession, d: String, names: Seq[String]): Unit = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val ms = (for (a <- i.completionTime; b <- i.submissionTime)
          yield a - b).getOrElse(-1L)
        done.add(Stage(i.stageId, i.name.takeWhile(_ != '\n'), ms,
          i.numTasks, i.taskMetrics.executorRunTime))
      }
    })
    Tables.lineitem(spark, d).groupBy("l_returnflag").count().collect()
    for (name <- names; run <- 1 to 2) {
      done.clear()
      val t0 = System.nanoTime()
      val df = resolve(name)(spark, d)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val all = done.asScala.toSeq.sortBy(-_.ms)
      println(f"STAGES $name run=$run construct=${(t1 - t0) / 1e9}%.2f " +
        f"exec=${(t2 - t1) / 1e9}%.2f total=${(t2 - t0) / 1e9}%.2f " +
        f"stages=${all.size} sum_stage_wall=${all.map(_.ms).sum / 1e3}%.2f s")
      all.take(30).foreach { s =>
        println(f"  stage ${s.id}%5d ${s.ms}%6d ms tasks=${s.nTasks}%4d " +
          f"taskSum=${s.taskSumMs}%6d ms  ${s.name.take(90)}")
      }
    }
  }
}
