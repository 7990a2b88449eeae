package graft.perfbench

/** `query-mix`: a seeded sample of declared queries, one per latency
  * stratum of the pinned pool, each warmed up once and then called in
  * seeded order (closed loop, one client, noop sink) until the run's time
  * is up. Outputs are checked against pinned answers after the timed
  * phase. The request is one query call.
  */
final class QueryMix extends Workload {

  def run(r: Run): Report = {
    val o = r.opts
    val dir = o.data.resolve(o.scale).toString
    val pool = Queries.loadPinned(o.pinned.resolve(s"${o.scale}.tsv")).filter(_.role == "pool")
    val sample = QueryMix.sample(pool, o.seed)
    val rng = new scala.util.Random(o.seed * 1000003L + 17L)
    // warm-up: untimed, pays plan, codegen, JIT and any memo build
    val warm = rng.shuffle(sample).map { p =>
      val t0 = System.nanoTime()
      Queries.call(r, p.name, dir)
      p.name -> (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[perfbench] query-mix sample: ${warm.map { case (n, s) =>
      f"$n ${s}%.2fs" }.mkString(", ")}")
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    var rounds = 0
    while (System.nanoTime() < deadline) {
      val order = rng.shuffle(sample)
      val it = order.iterator
      while (it.hasNext && (rounds == 0 || System.nanoTime() < deadline)) {
        val p = it.next()
        r.timed("query", p.name)(Queries.call(r, p.name, dir))
      }
      rounds += 1
    }
    sample.foreach(p => Queries.verify(r, p, dir))

    val qs = r.okOps("query")
    val lat = qs.map(_.seconds)
    val n = lat.size
    val perMin = if (n == 0) 0.0 else 60.0 * n / lat.sum
    val endToEnd = Seq(
      "p50_s" -> Metric(Stats.median(lat), "s", n),
      "p80_s" -> Metric(Stats.quantile(lat, 0.8), "s", n),
      "ops_per_min" -> Metric(perMin, "1/min", n))
    val named = Seq(
      "query_p50_s" -> Metric(Stats.median(lat), "s", n),
      "query_p90_s" -> Metric(Stats.quantile(lat, 0.9), "s", n),
      "queries_per_min" -> Metric(perMin, "1/min", n))
    val layers = Layers.scheduler(r, qs) ++ Layers.queries(r, qs) ++
      Layers.memo(qs, math.max(1, n)) ++ Layers.trace(r, lat, n)
    Report(endToEnd, named, Layers.complete(layers))
  }
}

object QueryMix {
  /** one pool query per stratum, drawn by name with the seed: the sample
    * depends only on the pinned pool's names, not on where the queries are
    * declared */
  def sample(pool: Seq[Pinned], seed: Long): Seq[Pinned] = {
    val rng = new java.util.Random(seed)
    pool.groupBy(_.stratum).toSeq.sortBy(_._1).map { case (_, ps) =>
      val names = ps.sortBy(_.name)
      names(rng.nextInt(names.size))
    }
  }
}
