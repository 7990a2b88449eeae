package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** `memo-cold`: the consumers of the memo ledger's heaviest builds, each
  * called once cold and then once warm. Every cycle reads its own fresh
  * copy of the input, so the program's memos (keyed on the dataset's path
  * and file listing) start empty; the consumers run in a fixed order, and
  * cycles repeat while another fits in the run's time. A few other queries run first, untimed, so that Spark's start-up and
  * JIT compilation do not land on the first cold call. The request is
  * one consumer served from cold: its cold call plus its warm call.
  */
final class MemoCold extends Workload {

  def run(r: Run): Report = {
    val o = r.opts
    val pins = Queries.loadPinned(o.pinned.resolve(s"${o.scale}.tsv")).filter(_.role == "memo")
    require(pins.nonEmpty, "no memo consumers pinned")
    val rng = new scala.util.Random(o.seed * 1000003L + 29L)
    // warm-up: a few pool queries (none of them a memo consumer) so that
    // Spark's first jobs and JIT compilation do not land on a cold call
    val dir0 = o.data.resolve(o.scale).toString
    val pool = Queries.loadPinned(o.pinned.resolve(s"${o.scale}.tsv")).filter(_.role == "pool")
    rng.shuffle(QueryMix.sample(pool, o.seed)).take(MemoCold.WarmupQueries)
      .foreach(p => Queries.call(r, p.name, dir0))

    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    val cycles = scala.collection.mutable.ArrayBuffer.empty[(Seq[OpRec], Seq[OpRec])]
    // another cycle starts only if one as long as the last still fits
    var last = 0L
    while (cycles.isEmpty || System.nanoTime() + last < deadline) {
      val c0 = System.nanoTime()
      val dir = MemoCold.copyDataset(o.data.resolve(o.scale),
        o.work.resolve(s"memo-cold/cycle-${cycles.size}"))
      val cold = pins.flatMap(p => r.timed("cold", p.name)(Queries.call(r, p.name, dir))
        .map(_ => r.ops.last))
      val warm = pins.flatMap(p => r.timed("warm", p.name)(Queries.call(r, p.name, dir))
        .map(_ => r.ops.last))
      if (cycles.isEmpty) pins.foreach(p => Queries.verify(r, p, dir))
      cycles += ((cold, warm))
      last = System.nanoTime() - c0
    }

    val pairs = cycles.toSeq.flatMap { case (cold, warm) =>
      cold.flatMap(c => warm.find(_.name == c.name).map(w => c.seconds + w.seconds))
    }
    val calls = r.okOps("cold") ++ r.okOps("warm")
    val n = pairs.size
    val perMin = if (n == 0) 0.0 else 60.0 * n / calls.map(_.seconds).sum
    val full = cycles.toSeq.filter { case (c, w) => c.size == pins.size && w.size == pins.size }
    val coldTotals = full.map(_._1.map(_.seconds).sum)
    val warmTotals = full.map(_._2.map(_.seconds).sum)
    val endToEnd = Seq(
      "p50_s" -> Metric(Stats.median(pairs), "s", n),
      "p80_s" -> Metric(Stats.quantile(pairs, 0.8), "s", n),
      "ops_per_min" -> Metric(perMin, "1/min", n))
    val named = Seq(
      "cold_total_s" -> Metric(Stats.median(coldTotals), "s", coldTotals.size),
      "warm_total_s" -> Metric(Stats.median(warmTotals), "s", warmTotals.size))
    val layers = Layers.scheduler(r, calls) ++ Layers.queries(r, calls) ++
      Layers.memo(calls, math.max(1, full.size)) ++ Layers.trace(r, pairs, calls.size)
    Report(endToEnd, named, Layers.complete(layers))
  }
}

object MemoCold {
  val WarmupQueries = 3

  /** copies a dataset directory (one level of files or directories) to
    * `dst`, giving it a new path and so a new memo key */
  def copyDataset(src: Path, dst: Path): String = {
    def copy(a: Path, b: Path): Unit =
      if (Files.isDirectory(a)) {
        Files.createDirectories(b)
        val ls = Files.list(a)
        try ls.iterator().asScala.toList.foreach(c => copy(c, b.resolve(c.getFileName.toString)))
        finally ls.close()
      } else Files.copy(a, b)
    copy(src, dst)
    dst.toString
  }
}
