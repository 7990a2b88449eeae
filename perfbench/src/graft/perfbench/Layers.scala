package graft.perfbench

/** Per-layer metrics of a traced run. Every workload reports every name
  * below; a layer the workload does not exercise reads 0.
  */
object Layers {

  /** memo ledger tags reported one by one; other tags count only in
    * memo.build_s */
  val memoTags: Seq[String] = Seq("bpemerges", "bpewords", "copurchase", "copurchdeg",
    "copurchtri", "jpairs", "shingleset")

  val names: Seq[(String, String)] = Seq(
    "scheduler.jobs_per_op" -> "count",
    "scheduler.stages_per_op" -> "count",
    "scheduler.tasks_per_op" -> "count",
    "scheduler.gap_s_per_op" -> "s",
    "scheduler.core_busy_share" -> "ratio",
    "scheduler.shuffle_write_bytes_per_op" -> "bytes",
    "scheduler.spill_bytes_per_op" -> "bytes",
    "operators.build_s_p50" -> "s",
    "operators.build_jobs_per_query" -> "count",
    "operators.exec_s_p50" -> "s",
    "plan.exchanges_per_query" -> "count",
    "plan.scans_per_query" -> "count",
    "memo.build_s" -> "s",
    "memo.builds" -> "count") ++
    memoTags.map(t => s"memo.build_s.$t" -> "s") ++ Seq(
    "rtcdb.blocks_planned_per_read" -> "count",
    "rtcdb.zonemap_pruned_share" -> "ratio",
    "rtcdb.bloom_pruned_share" -> "ratio",
    "rtcdb.driver_index_reads_per_read" -> "count",
    "rtcdb.rows_decoded_per_row_returned" -> "ratio",
    "rtcdb.range_s_p50" -> "s",
    "rtcdb.point_s_p50" -> "s",
    "rtcdb.agg_s_p50" -> "s",
    "rtcdb.bytes_written_per_user_byte" -> "ratio",
    "catalog.files_added_per_upsert" -> "count",
    "catalog.bytes_written_per_user_byte" -> "ratio",
    "catalog.live_files" -> "count",
    "catalog.compact_s" -> "s",
    "catalog.lookup_s_p50" -> "s",
    "trace.p50_s" -> "s",
    "trace.drain_s_per_op" -> "s",
    "trace.spans_per_op" -> "count")

  /** every name, in order: computed values where given, else 0 */
  def complete(computed: Map[String, Double]): Seq[(String, Metric)] = {
    val unknown = computed.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    names.map { case (n, u) => n -> Metric(computed.getOrElse(n, 0.0), u) }
  }

  private def perOp(total: Double, n: Int): Double = if (n == 0) 0.0 else total / n

  /** scheduler layer over the given ops, from their job and stage spans */
  def scheduler(r: Run, ops: Seq[OpRec]): Map[String, Double] = r.tracer match {
    case None => Map.empty
    case Some(t) =>
      val ids = ops.map(_.span).toSet
      val spans = t.all.filter(s => ids(s.op))
      val opSpans = spans.filter(s => s.kind != "job" && s.kind != "stage" && s.id == s.op)
      val jobs = spans.filter(_.kind == "job")
      val stages = spans.filter(_.kind == "stage")
      def sum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
      val gaps = opSpans.map(o => Tracer.selfSeconds(o, jobs.filter(_.op == o.id)))
      val wall = opSpans.map(_.seconds).sum
      val n = ops.size
      Map(
        "scheduler.jobs_per_op" -> perOp(jobs.size, n),
        "scheduler.stages_per_op" -> perOp(stages.size, n),
        "scheduler.tasks_per_op" -> perOp(sum("tasks"), n),
        "scheduler.gap_s_per_op" -> perOp(gaps.sum, n),
        "scheduler.core_busy_share" ->
          (if (wall <= 0) 0.0 else sum("run_s") / (wall * r.opts.cores)),
        "scheduler.shuffle_write_bytes_per_op" -> perOp(sum("shuffle_write_bytes"), n),
        "scheduler.spill_bytes_per_op" -> perOp(sum("spill_bytes"), n))
  }

  /** operators and plan layers over query ops (each timed as a build
    * phase, the query function, then an exec phase, the final action) */
  def queries(r: Run, ops: Seq[OpRec]): Map[String, Double] = r.tracer match {
    case None => Map.empty
    case Some(t) =>
      val ids = ops.map(_.span).toSet
      val buildJobs = t.all.count(s => ids(s.op) && s.kind == "job" && s.name == "build")
      val plans = ops.flatMap(o => t.finalPlan(o.span))
      Map(
        "operators.build_s_p50" -> Stats.median(ops.map(_.extra.getOrElse("build_s", 0.0))),
        "operators.build_jobs_per_query" -> perOp(buildJobs, ops.size),
        "operators.exec_s_p50" -> Stats.median(ops.map(_.extra.getOrElse("exec_s", 0.0))),
        "plan.exchanges_per_query" -> perOp(plans.map(_._1).sum, plans.size),
        "plan.scans_per_query" -> perOp(plans.map(_._2).sum, plans.size))
  }

  /** memo layer: build seconds and builds per round, from ledger deltas
    * taken at the ops' boundaries */
  def memo(ops: Seq[OpRec], rounds: Int): Map[String, Double] = {
    val perTag = memoTags.map { tag =>
      s"memo.build_s.$tag" -> perOp(ops.map(_.extra.getOrElse(s"memo.$tag", 0.0)).sum, rounds)
    }
    Map(
      "memo.build_s" -> perOp(ops.map(_.extra.getOrElse("memo_s", 0.0)).sum, rounds),
      "memo.builds" -> perOp(ops.map(_.extra.getOrElse("memo_builds", 0.0)).sum, rounds)) ++ perTag
  }

  /** tracing's own cost and the traced run's own op latency */
  def trace(r: Run, requests: Seq[Double], nOps: Int): Map[String, Double] = r.tracer match {
    case None => Map.empty
    case Some(t) => Map(
      "trace.p50_s" -> Stats.median(requests),
      "trace.drain_s_per_op" -> perOp(t.drainS, nOps),
      "trace.spans_per_op" -> perOp(t.all.size, nOps))
  }
}
