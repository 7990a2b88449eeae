package graft.perfbench

/** The benchmark's own checks: the same seed gives the same generated
  * rows and the same query sample, and the percentile and span self-time
  * arithmetic is right. Exit code 0 when all pass.
  */
object SelfCheck {
  def run(o: Opts): Int = {
    val results = Seq(
      "same seed, same events" -> {
        val a = new Gen(7L); val b = new Gen(7L)
        a.events(3000).map(_.toSeq) == b.events(3000).map(_.toSeq) &&
          a.newUsers(500).map(_.toSeq) == b.newUsers(500).map(_.toSeq)
      },
      "other seed, other events" ->
        (new Gen(7L).events(100).map(_.toSeq) != new Gen(8L).events(100).map(_.toSeq)),
      "events sorted on the leading key" -> {
        val ts = new Gen(3L).events(5000).map(_(0).asInstanceOf[Long])
        ts.zip(ts.tail).forall { case (x, y) => x <= y }
      },
      "same seed, same query sample, in any pool order" -> {
        val pool = Queries.loadPinned(o.pinned.resolve(s"${o.scale}.tsv")).filter(_.role == "pool")
        val s = QueryMix.sample(pool, 11L).map(_.name)
        s.nonEmpty && s == QueryMix.sample(pool.reverse, 11L).map(_.name) &&
          s == QueryMix.sample(scala.util.Random.shuffle(pool), 11L).map(_.name) &&
          s.size == pool.map(_.stratum).distinct.size
      },
      "pinned queries are all declared" -> {
        val pins = Queries.loadPinned(o.pinned.resolve(s"${o.scale}.tsv"))
        pins.forall(p => graft.SparkEntry.queries.contains(p.name))
      },
      "quantiles" -> {
        def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
        close(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5) &&
          close(Stats.median(Seq(5.0, 1.0, 3.0)), 3.0) &&
          close(Stats.quantile((1 to 10).map(_.toDouble), 0.9), 9.1) &&
          close(Stats.quantile(Seq(2.0), 0.9), 2.0) &&
          close(Stats.quantile((1 to 5).map(_.toDouble), 0.0), 1.0) &&
          close(Stats.quantile((1 to 5).map(_.toDouble), 1.0), 5.0) &&
          Stats.median(Nil).isNaN
      },
      "span self time" -> {
        val op = Span(1, 0, 1, "query", "q", 1000, 1100, Map.empty)
        def job(a: Long, b: Long) = Span(2, 1, 1, "job", "", a, b, Map.empty)
        // jobs cover 1010-1040 (two overlapping) and 1090-1100 (clipped)
        val self = Tracer.selfSeconds(op, Seq(job(1010, 1030), job(1020, 1040), job(1090, 1120)))
        math.abs(self - 0.060) < 1e-9 &&
          math.abs(Tracer.selfSeconds(op, Nil) - 0.1) < 1e-9 &&
          math.abs(Tracer.selfSeconds(op, Seq(job(900, 1200)))) < 1e-9
      })
    results.foreach { case (name, ok) => println(s"[selfcheck] ${if (ok) "ok  " else "FAIL"} $name") }
    if (results.forall(_._2)) 0 else 1
  }
}
