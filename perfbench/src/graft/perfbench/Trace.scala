package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: an op the benchmark issued, or a Spark job or stage that ran
  * on the op's behalf. Times are epoch milliseconds; `op` is the id of the
  * op span every descendant belongs to.
  */
final case class Span(id: Long, parent: Long, op: Long, kind: String,
    name: String, start: Long, end: Long, attrs: Map[String, Double]) {
  def seconds: Double = (end - start) / 1e3
}

/** In-memory span store plus the listeners that fill it. Spans are written
  * once, when the run ends. Jobs find their op through a local property
  * the benchmark sets on its own thread before each call (Spark copies
  * local properties to the threads it starts for that call's jobs).
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  // job -> (span, op, start, phase)
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Long, String)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = mutable.ArrayBuffer.empty[(Long, Int, Int)] // (op, exchanges, scans)

  def nextId(): Long = ids.incrementAndGet()

  private def add(s: Span): Unit = spans.synchronized { spans += s }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val op = prop(SpanKey).map(_.toLong).getOrElse(0L)
      jobSpan.put(e.jobId, (nextId(), op, e.time, prop(PhaseKey).getOrElse("")))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { case (id, op, t0, phase) =>
        add(Span(id, op, op, "job", phase, t0, e.time, Map.empty))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageJob.get(si.stageId)).flatMap(j => Option(jobSpan.get(j)))
        .foreach { case (jobId, op, _, _) =>
          val tm = si.taskMetrics
          val attrs =
            if (tm == null) Map("tasks" -> si.numTasks.toDouble)
            else Map(
              "tasks" -> si.numTasks.toDouble,
              "run_s" -> tm.executorRunTime / 1e3,
              "shuffle_write_bytes" -> tm.shuffleWriteMetrics.bytesWritten.toDouble,
              "spill_bytes" -> (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble)
          add(Span(nextId(), jobId, op, "stage", s"stage ${si.stageId}",
            si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
            attrs))
        }
    }
  }

  /** counts exchanges and scans on each plan Spark executes; the op's last
    * one is its final action's */
  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val op = currentOp.get()
      val (ex, sc) = PlanCounts(qe.executedPlan)
      plans.synchronized { plans += ((op, ex, sc)) }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  // the op running on the benchmark's (single) client thread; read by the
  // plan listener, which Spark calls after the action returns
  private val currentOp = new AtomicLong(0)

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  /** Runs `body` as op span `name` of kind `kind`; returns its result and
    * the span id. Waits for the listener bus afterwards so that the op's
    * job and stage spans are in the store.
    */
  def op[T](kind: String, name: String, attrs: => Map[String, Double] = Map.empty)(
      body: => T): (T, Long) = {
    val id = nextId()
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanKey, id.toString)
    currentOp.set(id)
    val t0 = System.currentTimeMillis()
    try {
      val r = body
      (r, id)
    } finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, null)
      val d0 = System.nanoTime()
      org.apache.spark.perfbench.ListenerDrain(sc)
      drainS += (System.nanoTime() - d0) / 1e9
      currentOp.set(0)
      add(Span(id, 0L, id, kind, name, t0, t1, attrs))
    }
  }

  /** seconds spent waiting for the listener bus: tracing's own cost */
  var drainS = 0.0

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** (exchanges, scans) of the last plan executed inside op `id` */
  def finalPlan(id: Long): Option[(Int, Int)] =
    plans.synchronized(plans.filter(_._1 == id).lastOption.map(p => (p._2, p._3)))

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"

  /** An op's self time: its span minus the part its job spans cover. */
  def selfSeconds(op: Span, children: Seq[Span]): Double =
    (op.end - op.start -
      Stats.coveredLength(children.filter(_.kind == "job").map(c => (c.start, c.end)),
        op.start, op.end)) / 1e3
}

/** Exchange and scan counts of an executed plan, looking inside adaptive
  * stages and subqueries; a reused exchange is not counted again.
  */
object PlanCounts extends AdaptiveSparkPlanHelper {
  def apply(p: SparkPlan): (Int, Int) = {
    val ex = collectWithSubqueries(p) { case e: Exchange => e }.size
    val scans = collectWithSubqueries(p) {
      case s: DataSourceScanExec => s
      case s: BatchScanExec => s
      case s: InMemoryTableScanExec => s
    }.size
    (ex, scans)
  }
}

/** Writes a tracer's spans, one JSON object per line. */
object Spans {
  def write(t: Tracer, path: java.nio.file.Path): Unit = {
    val lines = t.all.sortBy(s => (s.start, s.id)).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> s.start.toString, "end_ms" -> s.end.toString,
        "attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
