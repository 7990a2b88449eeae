package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed op as the client saw it. `extra` holds counters taken at the
  * op's boundaries (memo ledger seconds, storage counts, phase timings).
  */
final case class OpRec(kind: String, name: String, seconds: Double, ok: Boolean,
    span: Long, extra: Map[String, Double])

/** A metric with its unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, n: Int = 1)

/** State of one benchmark run: the session, the op log, the failure
  * count and the optional tracer. One client thread issues every op.
  */
final class Run(val spark: SparkSession, val opts: Opts) {
  val tracer: Option[Tracer] = if (opts.trace) Some(new Tracer(spark)) else None
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val sentinels = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  /** epoch ms at which the first timed op started: the end of set-up */
  var setupEndMs: Long = -1L
  private val throttled0 = Env.throttledSeconds()

  def failed: Int = failures.size

  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  private val noted = mutable.Map.empty[String, Double]

  /** attaches a value to the op in flight (kept in its `extra`) */
  def note(k: String, v: Double): Unit = noted(k) = v

  def memoLedger(): Map[String, Double] = graft.operators.Shared.memoBuildLedger

  /** Runs one timed op. A fixed-work probe runs first, outside the timing.
    * `counters` is read before and after the op, and its deltas are kept
    * with the op. An exception makes the op failed, and its result None.
    */
  def timed[T](kind: String, name: String,
      counters: () => Map[String, Double] = () => Map.empty)(body: => T): Option[T] = {
    sentinels += Env.sentinel()
    if (setupEndMs < 0) setupEndMs = System.currentTimeMillis()
    attempted += 1
    noted.clear()
    val c0 = counters()
    val m0 = memoLedger()
    var seconds = 0.0
    def measured: T = {
      val t0 = System.nanoTime()
      val r = body
      seconds = (System.nanoTime() - t0) / 1e9
      r
    }
    try {
      val (r, span) = tracer match {
        case Some(t) => t.op(kind, name)(measured)
        case None => (measured, 0L)
      }
      val c1 = counters()
      val memo = memoLedger().map { case (k, v) => k -> (v - m0.getOrElse(k, 0.0)) }
        .filter(_._2 > 0)
      val extra = c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) } ++
        memo.map { case (k, v) => s"memo.$k" -> v } ++
        // a build nested in another is in both tags' ledger seconds, so
        // the op's total is capped at its own duration
        Map("memo_s" -> math.min(memo.values.sum, seconds),
          "memo_builds" -> memo.size.toDouble) ++ noted
      ops += OpRec(kind, name, seconds, ok = true, span, extra)
      System.err.println(f"[perfbench] op $kind%-7s $name%-32s $seconds%.4f s")
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$kind $name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        ops += OpRec(kind, name, seconds, ok = false, 0L, Map.empty)
        None
    }
  }

  /** An untimed op that checks outputs; counts as attempted. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val error = try { if (ok) None else Some("output differs from the expected answer") }
      catch { case e: Exception =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    error.foreach(m => fail(s"check $what: $m"))
    error.isEmpty
  }

  /** Runs a phase of the current op (build or exec) so that the jobs it
    * starts are labelled with it in the trace. */
  def phase[T](p: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.PhaseKey, p)
    try body finally sc.setLocalProperty(Tracer.PhaseKey, null)
  }

  def okOps(kind: String): Seq[OpRec] = ops.toSeq.filter(o => o.ok && o.kind == kind)

  def setupSeconds: Double = {
    val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (setupEndMs - start) / 1e3
  }

  def throttledDelta: Double =
    (for (a <- throttled0; b <- Env.throttledSeconds()) yield b - a).getOrElse(0.0)
}
