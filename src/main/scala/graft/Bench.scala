package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

/** Per-round benchmark main (driver contract): times every declared query
  * at `SPARK_GRAFT_SF_DIR` and prints exactly one JSON line.
  *
  * Output-size constraint (learned round 2): the driver captures only the
  * LAST ~2000 characters of stdout, so the JSON line must fit inside that
  * window or the driver parses nothing. Hence:
  *   - per-query times use SHORT keys (the `qNN` prefix before the first
  *     underscore — unique across the suite) and 2-decimal seconds;
  *   - the headline `"metric":"total","value":…` fields are placed at the
  *     END of the object so they survive even a front-truncated tail;
  *   - the full-precision, full-name table is written to BENCH_SELF.json
  *     in the repo root for the judge.
  *
  * Timing methodology:
  *   - a warmup action runs first so the first timed query doesn't absorb
  *     session/codegen/JIT startup (~4s otherwise lands on an arbitrary query);
  *   - each query: min of two runs (steady-state, robust to one-off pauses),
  *     plus a third run if still >1.5s (the slow tail is exactly where one
  *     GC or compile hiccup distorts a 132-query suite most);
  *   - System.gc() runs UNTIMED between queries: a full-suite pass accrues
  *     garbage (broadcasts, shuffle bookkeeping) from *prior* queries, and
  *     without this the collection cost lands randomly on later queries —
  *     the round-2 driver run showed exactly that signature (late-sorting
  *     queries 3-13x their isolated cost).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args: restrict to named queries (local iteration aid; the
    // driver passes none, so the contract surface is unchanged)
    val only = args.toSet
    // a typo'd name must not silently bench zero queries and "succeed"
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val cpus = GraftSession.envCpus
    val spark = GraftSession.local(cpus)
    // LOAD SENTINEL (r5 verdict task 2): a fixed trivial probe — identical
    // work every invocation, touching scheduler + all cores but no query
    // code — whose time is therefore a pure function of machine
    // contention. Timed immediately before each query and emitted
    // per-query in BENCH_SELF.json, so a contended driver run (sentinel
    // inflated suite-wide) is distinguishable from a real regression in
    // one query (sentinel flat, query slow) straight from the artifact.
    def sentinel(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1L << 22, 1L, cpus.toInt).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // SUSTAINED-CPU SENTINEL (r13 verdict task 2): the trivial Spark
    // probe above parallelizes across idle cores, so it cannot see
    // sustained single-core contention — exactly what inflates scalar
    // decode loops (the JPEG family read ~2.1× idle in the r13 driver
    // pass with clean load sentinels, unattributably). This probe is a
    // fixed single-threaded decode-shaped workload: one real 16×16
    // baseline-JPEG encode+decode round trip per call, identical bytes
    // every invocation, so its time is a pure function of per-core
    // throughput. Emitted per-query as cpu_sentinel.
    val cpuFixture: Array[Byte] = {
      val px = Array.tabulate(16 * 16)(i => ((i * 7 + 13) % 256).toByte)
      graft.multimodal.JpegCodec.encode(
        graft.multimodal.JpegCodec.Jpeg(16, 16, 1, px))
    }
    def cpuSentinel(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      var acc = 0L
      while (i < 50) {
        val img = graft.multimodal.JpegCodec.decode(cpuFixture).get
        acc += graft.multimodal.JpegCodec.pixelSum(img)
        i += 1
      }
      if (acc == Long.MinValue) println(acc) // defeat dead-code elim
      (System.nanoTime() - t0) / 1e9
    }
    // ALL-CORE SUSTAINED-CPU SENTINEL (r14 verdict task 1): the 1-thread
    // probe above reads per-core scalar throughput at the probe instant,
    // and in r14 it read CLEAN while the all-32-core codec rows
    // (JPEG/MJPEG/VARIANT) inflated 2.2–2.6× uniformly across both timed
    // driver runs — so the surviving hypothesis is SIBLING-CORE load: a
    // 1-thread probe cannot see 16 occupied cores, but a 32-task scalar
    // stage halves. This probe runs the SAME fixed decode loop as one
    // Spark task per core simultaneously; its time is a pure function of
    // how many cores the codec stages actually get. Flat vs idle ≈ all
    // cores free (a slow codec row is then a real regression); inflated
    // exactly when the codec rows are inflated ≈ measured sibling load
    // (attribution closed). Emitted per-query as par_sentinel.
    val nCores = cpus.toInt
    val fixtureB = spark.sparkContext.broadcast(cpuFixture)
    def parSentinel(): Double = {
      val t0 = System.nanoTime()
      val acc = spark.sparkContext
        .parallelize(0 until nCores, nCores)
        .map { _ =>
          val bytes = fixtureB.value
          var i = 0
          var a = 0L
          // 400 iterations ≈ 12 ms/task: long enough that task-dispatch
          // jitter (~1 ms) doesn't dominate the reading, short enough
          // that ~500 probes add well under a minute of wall-clock
          while (i < 400) {
            val img = graft.multimodal.JpegCodec.decode(bytes).get
            a += graft.multimodal.JpegCodec.pixelSum(img)
            i += 1
          }
          a
        }.reduce(_ + _)
      if (acc == Long.MinValue) println(acc) // defeat dead-code elim
      (System.nanoTime() - t0) / 1e9
    }
    // SUSTAINED ALL-CORE SENTINEL (r15 verdict task 1): the ~35 ms
    // parSentinel above is BURST-sized — a cgroup CFS quota
    // (cpu.max-style) admits short bursts at full width and throttles
    // only SUSTAINED saturation, so in the r15 driver pass the codec
    // rows inflated 2.2–2.7× while every between-query probe read flat.
    // This probe is the same fixed decode loop run long enough (≥1 s
    // per task) to cross the quota enforcement period many times: under
    // an idle unthrottled machine it reads ~proportional to parSentinel
    // (×SusScale); under a burst-tolerant quota it inflates exactly the
    // way the 2–5 s sustained all-core codec stages do. Run 3 times
    // across the suite (start / middle / end — per-query would add
    // ~10 min of wall), reported as `sus` beside par_med.
    val SusScale = 100 // 100 × ~12 ms/task ≈ 1.2 s sustained per task
    def susSentinel(): Double = {
      val t0 = System.nanoTime()
      val acc = spark.sparkContext
        .parallelize(0 until nCores, nCores)
        .map { _ =>
          val bytes = fixtureB.value
          var i = 0
          var a = 0L
          while (i < 400 * SusScale) {
            val img = graft.multimodal.JpegCodec.decode(bytes).get
            a += graft.multimodal.JpegCodec.pixelSum(img)
            i += 1
          }
          a
        }.reduce(_ + _)
      if (acc == Long.MinValue) println(acc) // defeat dead-code elim
      (System.nanoTime() - t0) / 1e9
    }
    // CGROUP THROTTLE COUNTERS (r15 verdict task 1): the direct
    // instrument for the quota hypothesis — CFS throttling is RECORDED
    // by the kernel in cpu.stat (nr_throttled periods, throttled time),
    // which a wall-clock probe can only infer. Snapshot before/after
    // every query's timed runs and emit the per-query delta: a slow row
    // with a nonzero throttle delta is environment (quota), a slow row
    // with zero throttle + flat sentinels is a real regression. Reads
    // cgroup v1 (throttled_time, ns) or v2 (throttled_usec, µs),
    // normalized to seconds; (-1,-1) when neither file is readable.
    def throttleStat(): (Long, Double) = {
      def parse(path: String, timeKey: String, toSec: Double): Option[(Long, Double)] =
        try {
          val txt = new String(Files.readAllBytes(Paths.get(path)),
            StandardCharsets.UTF_8)
          val kv = txt.linesIterator.map(_.split("\\s+")).collect {
            case Array(k, v) => k -> v.toLong }.toMap
          for (n <- kv.get("nr_throttled"); t <- kv.get(timeKey))
            yield (n, t * toSec)
        } catch { case _: Throwable => None }
      parse("/sys/fs/cgroup/cpu/cpu.stat", "throttled_time", 1e-9)
        .orElse(parse("/sys/fs/cgroup/cpu.stat", "throttled_usec", 1e-6))
        .getOrElse((-1L, -1.0))
    }
    // the quota itself, recorded once in BENCH_SELF (v1: quota/period µs,
    // -1 = unlimited; v2: "max 100000" or "<quota> <period>")
    val cpuQuota: String = {
      def rd(p: String) = try Some(new String(Files.readAllBytes(Paths.get(p)),
        StandardCharsets.UTF_8).trim) catch { case _: Throwable => None }
      (for (q <- rd("/sys/fs/cgroup/cpu/cpu.cfs_quota_us");
            p <- rd("/sys/fs/cgroup/cpu/cpu.cfs_period_us"))
        yield s"$q/$p us").orElse(rd("/sys/fs/cgroup/cpu.max"))
        .getOrElse("unknown").replaceAll("[^A-Za-z0-9_/ .-]", "")
    }
    // warmup: exercise scan + shuffle + codegen machinery once, untimed
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().collect()
    sentinel() // warm the probe's own codegen path too
    cpuSentinel() // and JIT the decode loop, or the first query's
                  // cpu_sentinel reads compilation, not contention
    parSentinel() // JIT the decode loop on EXECUTOR threads too (same
                  // JVM here, but the task-dispatch path is its own)
    parSentinel() // twice: the first all-core pass still reads ~2×
                  // steady state (measured) — scheduler pools, codegen
                  // of the reduce, and per-thread JIT all land on it
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // sustained-probe positions: suite start, midpoint, end (see
    // susSentinel above) — indexed so BENCH_SELF records WHEN each ran
    val susAt = Set(0, named.size / 2, named.size - 1)
    val susRuns = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val results = named.zipWithIndex.map { case ((name, fn), qi) =>
      // noop sink materializes EVERY output column (count() would let
      // Catalyst prune expensive projections and under-measure)
      def once(): Double = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            // a failed query must NOT masquerade as a fast one
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
        }
      }
      // drain cross-query garbage before timing (see scaladoc)
      System.gc()
      val sent = sentinel()
      val cpuSent = cpuSentinel()
      val parSent = parSentinel()
      if (susAt(qi)) susRuns += ((qi, susSentinel()))
      // scratch-memo builds (winnow ladder, substr starts, IVF layouts,
      // …) are once-per-process: whichever consumer runs FIRST pays the
      // build inside its first timed run, and min-of-runs then reports
      // the warm cost — so without explicit attribution a driver run
      // reads as "q154 is slow" when the truth is "q152 paid the winnow
      // build". Snapshot the build ledger around the runs and report the
      // delta per query (r8 verdict task 1).
      val memoBefore = graft.operators.Shared.memoBuildLedger.values.sum
      // throttle counters bracket ONLY the timed runs, so a nonzero
      // delta is attributable to this query's own stages
      val (thrN0, thrS0) = throttleStat()
      val two = Seq(once(), once())
      // slow tail: one more attempt to separate intrinsic cost from hiccups
      val runs = if (two.forall(_ >= 0) && two.min > 1.5) two :+ once() else two
      val (thrN1, thrS1) = throttleStat()
      val (thrN, thrS) =
        if (thrN0 < 0 || thrN1 < 0) (-1L, -1.0)
        else (thrN1 - thrN0, thrS1 - thrS0)
      val memoPaid =
        graft.operators.Shared.memoBuildLedger.values.sum - memoBefore
      // report the full run spread, not just the min: a driver-vs-self
      // ratio can't distinguish machine noise from a real regression
      // without knowing how much the query's own repeats varied (r4
      // verdict task 5 — q59/q60/q62 doubled driver-side with no code
      // change, and the bench gave no variance evidence either way)
      val best = if (runs.exists(_ < 0)) -1.0 else runs.min
      QRow(name, best, runs, sent, memoPaid, cpuSent, parSent, thrN, thrS)
    }
    val bests = results.map(r => r.name -> r.best)
    // failed queries (-1 sentinel) must invalidate the suite, not shrink the
    // total: exclude them from the sum, list them, and exit nonzero
    val failed = bests.collect { case (k, v) if v < 0 => k }
    val total = bests.collect { case (_, v) if v >= 0 => v }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def fmt(v: Double, dec: Int): String = if (v < 0) "-1" else s"%.${dec}f".format(v)
    // full-precision, full-name record for the judge (repo root): reported
    // best per query PLUS the min/max spread of its repeats, so noise and
    // regression are distinguishable after the fact
    val fullQs = bests.map { case (k, v) => "\"" + k + "\":" + fmt(v, 4) }
      .mkString("{", ",", "}")
    val spreadQs = results.map { r =>
      "\"" + r.name + "\":[" + fmt(r.runs.min, 4) + "," + fmt(r.runs.max, 4) + "]"
    }.mkString("{", ",", "}")
    // per-query load sentinel (see sentinel() scaladoc): flat ≈ idle run;
    // suite-wide inflation ≈ contended machine, not a code regression
    val sentQs = results.map { r =>
      "\"" + r.name + "\":" + fmt(r.sent, 4)
    }.mkString("{", ",", "}")
    // memo-build attribution: seconds of once-per-process scratch builds
    // this query's timed runs paid (first payer); warm cost ≈ best − memo
    val memoQs = results.collect { case r if r.memoPaid > 0.005 =>
      "\"" + r.name + "\":" + fmt(r.memoPaid, 4)
    }.mkString("{", ",", "}")
    // per-TAG memo ledger: memo_build above says which QUERY paid; this
    // says which BUILD it paid for (a query's first run can trigger
    // several chained builds — edges → degrees → triangles — and
    // optimization work needs the split, not the sum)
    val memoTags = graft.operators.Shared.memoBuildLedger.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v, 4) }
      .mkString("{", ",", "}")
    // per-query sustained-CPU sentinel (see cpuSentinel() above): flat ≈
    // uncontended cores; inflated exactly where a decode-family row is
    // inflated ≈ per-core contention, not a codec regression
    val cpuSentQs = results.map { r =>
      "\"" + r.name + "\":" + fmt(r.cpuSent, 4)
    }.mkString("{", ",", "}")
    // per-query ALL-CORE sustained-CPU sentinel (see parSentinel() above):
    // flat ≈ all cores free; inflated where codec rows are inflated ≈
    // measured sibling-core load — the r14 attribution instrument
    val parSentQs = results.map { r =>
      "\"" + r.name + "\":" + fmt(r.parSent, 4)
    }.mkString("{", ",", "}")
    // per-query cgroup throttle deltas (r15 verdict task 1): nonzero on a
    // row ≈ the kernel throttled that query's own stages (quota), the
    // direct evidence wall-clock probes can only infer
    val thrQs = results.map { r =>
      "\"" + r.name + "\":[" + r.thrN + "," + fmt(r.thrSec, 4) + "]"
    }.mkString("{", ",", "}")
    val susJson = susRuns
      .map { case (qi, v) => "\"" + qi + "\":" + fmt(v, 4) }
      .mkString("{", ",", "}")
    val parSorted = results.map(_.parSent).sorted
    val parMed =
      if (parSorted.isEmpty) 0.0 else parSorted(parSorted.size / 2)
    val sentSorted = results.map(_.sent).sorted
    val sentMed =
      if (sentSorted.isEmpty) 0.0 else sentSorted(sentSorted.size / 2)
    val totalStr = fmt(total, 2)
    // provenance (r7 verdict task 9): who ran this bench. The builder's
    // committed idle runs set SPARK_GRAFT_PROVENANCE=builder-idle; any
    // unlabeled run (the driver's per-round gate, ad-hoc judge re-runs)
    // reports "unlabeled" — so a BENCH_SELF.json left in the tree is
    // attributable from the artifact alone.
    // whitelisted (r8 ADVICE): the value is interpolated into a JSON
    // string, so anything outside [A-Za-z0-9_-] (quotes, backslashes)
    // would corrupt the committed artifact — fall back to "unlabeled"
    val prov = sys.env.get("SPARK_GRAFT_PROVENANCE")
      .filter(_.matches("[A-Za-z0-9_-]+")).getOrElse("unlabeled")
    val fullJson = s"""{"metric":"total","value":$totalStr,"unit":"sec","provenance":"$prov","queries":$fullQs,"spread":$spreadQs,"sentinel":$sentQs,"sentinel_median":${fmt(sentMed, 4)},"memo_build":$memoQs,"memo_tags":$memoTags,"cpu_sentinel":$cpuSentQs,"par_sentinel":$parSentQs,"par_sentinel_median":${fmt(parMed, 4)},"throttle":$thrQs,"sustained":$susJson,"cpu_quota":"$cpuQuota","failed":$failedJson,"sf":"$sfDir","cpus":$cpus}"""
    try Files.write(Paths.get("BENCH_SELF.json"),
      (fullJson + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    catch { case e: Throwable => System.err.println(s"[bench] BENCH_SELF.json write failed: ${e.getMessage}") }
    val memoAttr = results.collect {
      case r if r.memoPaid > 0.005 => r.name -> r.memoPaid }
    val sentSlow = results.collect {
      case r if r.best > 1.0 => r.name -> r.sent }
    // the par map keys on INFLATED PROBES (top by par-sentinel value),
    // not slow queries: the instrument's job is to flag the instants
    // where sibling-core load existed, whichever row it landed on
    val parHot = results.map(r => r.name -> r.parSent)
    val thrAll = results.map(r => r.name -> r.thrSec)
    val thrTotal =
      if (results.exists(_.thrN < 0)) -1L else results.map(_.thrN).sum
    println(stdoutLine(bests, failed, sfDir, sentMed, memoAttr, sentSlow,
      parHot, parMed, thrAll, thrTotal, susRuns.map(_._2).toSeq))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** one measured query row — see the main loop for field semantics */
  private final case class QRow(name: String, best: Double,
      runs: Seq[Double], sent: Double, memoPaid: Double, cpuSent: Double,
      parSent: Double, thrN: Long, thrSec: Double)

  /** Char budget for the stdout JSON line: the driver captures only the
    * last ~2000 chars of stdout, so anything longer parses as nothing
    * (the round-2 failure mode). Guarded by a unit test at 160 queries.
    */
  private[graft] val LineBudget = 1900

  /** The one-line stdout contract, extracted for testability: short keys
    * + 2 decimals so the whole line fits the driver's tail window;
    * headline fields LAST so even a front-truncated tail keeps them.
    * Degradation ladder as the suite grows: 2 decimals → 1 decimal →
    * slowest-K + an "other" aggregate, where K is the LARGEST count that
    * fits the budget (not a fixed cut: at 163 queries a fixed slowest-110
    * rung would discard ~50 still-renderable entries). Failed queries
    * (-1) always survive the cut, the headline total and the slow tail
    * (what the per-query gate actually inspects) always survive, and the
    * full table is in BENCH_SELF.json regardless.
    */
  private[graft] def stdoutLine(results: Seq[(String, Double)],
      failed: Seq[String], sfDir: String, sentMed: Double = -1.0,
      memo: Seq[(String, Double)] = Nil,
      sentSlow: Seq[(String, Double)] = Nil,
      parHot: Seq[(String, Double)] = Nil,
      parMed: Double = -1.0,
      thrAll: Seq[(String, Double)] = Nil,
      thrTotal: Long = -1L,
      sus: Seq[Double] = Nil): String = {
    def fmt(v: Double, dec: Int): String =
      if (v < 0) "-1" else s"%.${dec}f".format(v)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val totalStr = fmt(results.collect { case (_, v) if v >= 0 => v }.sum, 2)
    def shortKey(n: String): String = n.takeWhile(_ != '_')
    // memo: once-per-process scratch-build seconds attributed to the
    // query (first payer) whose timed runs paid them — subtract from the
    // query's row to read its warm steady-state cost (r8 verdict task 1:
    // cold-vs-warm must be readable from the DRIVER-visible artifact).
    // sent: per-query load sentinel for the slow tail (the rows the
    // per-query gate actually inspects) — flat ≈ idle, inflated ≈
    // contention, so a slow row is attributable from this line alone.
    def kvJson(xs: Seq[(String, Double)], dec: Int = 2): String =
      xs.sortBy(_._1).map { case (k, v) =>
        "\"" + shortKey(k) + "\":" + fmt(v, dec) }.mkString("{", ",", "}")
    // sent is bounded to the 20 slowest queries: memo families are
    // naturally bounded (~a dozen), but "slow tail" is caller-defined and
    // must not be able to blow the budget on a pathological run where
    // most of the suite crosses the threshold
    val byTime = results.toMap
    val sentTop = sentSlow
      .sortBy { case (k, _) => (-byTime.getOrElse(k, 0.0), k) }.take(20)
    // par: evidence for EVERY query row from this line alone (r15 verdict
    // task 3 — attributing the codec rows required the gitignored
    // BENCH_SELF.json). 96 itemized rows × 14 chars of literal columns
    // cannot fit the driver's 2000-char tail window, so the encoding is
    // exact-but-split: every probe ELEVATED above 4/3 × par_med is listed
    // with its value (capped at the 24 hottest — beyond that the run is
    // contended suite-wide and par_med itself says so), and
    // `par_flat_max` is the maximum over ALL unlisted probes — so any
    // row absent from the map is pinned flat by that single bound, and a
    // slow row with par ≤ par_flat_max ≈ par_med is a real regression,
    // readable without any side artifact.
    val parSorted = parHot.sortBy { case (k, v) => (-v, k) }
    val parElev =
      if (parMed <= 0) parSorted.take(12)
      else parSorted.takeWhile(_._2 > parMed * 4 / 3).take(24)
    val parListed = parElev.map(_._1).toSet
    val parFlatMax = parHot.collect {
      case (k, v) if !parListed(k) => v }.maxOption.getOrElse(-1.0)
    // thr: cgroup throttle seconds per query — nonzero only where the
    // kernel actually throttled that query's stages (quota evidence);
    // thr_n = suite-total throttled periods (-1 = counters unreadable).
    // Zero-delta rows are omitted: absence + thr_n=0 IS the per-row
    // evidence (no row anywhere was throttled).
    val thrNz = thrAll.filter(_._2 > 0.0005)
      .sortBy { case (k, v) => (-v, k) }.take(12)
    val susJson = sus.map(fmt(_, 2)).mkString("[", ",", "]")
    val extras = s""""memo":${kvJson(memo)},"sent":${kvJson(sentTop)},"par":${kvJson(parElev, 3)},"par_flat_max":${fmt(parFlatMax, 3)},"thr":${kvJson(thrNz, 3)},"thr_n":$thrTotal,"sus":$susJson"""
    // sent_med: median load-sentinel time (-1 = not measured); an inflated
    // value marks the whole run as contended — see sentinel() in main.
    // par_med: median ALL-CORE decode-probe time — the baseline the par
    // map's hot entries and par_flat_max are read against.
    // sus: the sustained ≥1s all-core probe's readings (start/mid/end),
    // read against its own idle baseline in BASELINE.md (NOT par_med ×
    // SusScale — the burst probe is dispatch-overhead-dominated):
    // inflated sus over flat par ≈ burst-vs-sustained CPU-quota
    // throttling (r15 verdict task 1).
    def line(qsJson: String): String =
      s"""{"queries":$qsJson,$extras,"failed":$failedJson,"sf":"$sfDir","sent_med":${fmt(sentMed, 3)},"par_med":${fmt(parMed, 3)},"metric":"total","value":$totalStr,"unit":"sec"}"""
    def render(dec: Int, entries: Seq[(String, Double)], extra: String): String =
      line(entries.map { case (k, v) => "\"" + shortKey(k) + "\":" + fmt(v, dec) }
        .mkString("{", ",", extra + "}"))
    val full2 = render(2, results, "")
    if (full2.length <= LineBudget) full2
    else {
      val full1 = render(1, results, "")
      if (full1.length <= LineBudget) full1
      else {
        // dynamic slowest-K rung: drop fastest entries one at a time until
        // the line fits (failed -1 entries are never droppable — a lost
        // failure marker would make a broken suite look merely small).
        // Linear walk is fine: each step is one cheap string render.
        val (mustKeep, droppable) = results.partition(_._2 < 0)
        val byValueDesc = droppable.sortBy(-_._2)
        val totalOk = droppable.map(_._2).sum
        var keepN = byValueDesc.size
        var out = ""
        do {
          val keep = (mustKeep ++ byValueDesc.take(keepN)).sortBy(_._1)
          // "other" = successful time NOT itemized, so itemized + other
          // always reproduces the headline total
          val rest = totalOk - byValueDesc.take(keepN).map(_._2).sum
          out = render(1, keep, s""","other":${fmt(math.max(rest, 0), 1)}""")
          keepN -= 1
        } while (out.length > LineBudget && keepN >= 0)
        out
      }
    }
  }
}
