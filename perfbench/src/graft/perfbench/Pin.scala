package graft.perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

/** Pins the answers that query-mix and memo-cold check against:
  * `pin <data dir> <scale> <cores> <list> <out>`, where `list` holds
  * `name role stratum` lines. A query whose fingerprint changes with the
  * number of shuffle partitions is left out, and reported.
  */
object Pin {
  def run(args: Array[String]): Unit = {
    val Array(data, scale, cores, list, out) = args
    val o = Opts("pin", 0L, 0.0, trace = false, cores.toInt, Paths.get(data), scale,
      Paths.get(out).getParent, Paths.get(sys.props("java.io.tmpdir")), Paths.get(out))
    val spark = Main.session(o)
    val dir = Paths.get(data).resolve(scale).toString
    val wanted = java.nio.file.Files.readAllLines(Paths.get(list)).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty).map(_.split("\t"))
    val pinned = wanted.flatMap { case Array(name, role, stratum) =>
      val fn = Queries.fn(name)
      val a = Queries.fingerprint(fn(spark, dir))
      spark.conf.set("spark.sql.shuffle.partitions", (cores.toInt + 3).toString)
      val b = try Queries.fingerprint(fn(spark, dir))
        finally spark.conf.set("spark.sql.shuffle.partitions", cores)
      if (a == b) Some(Pinned(name, role, stratum.toInt, a))
      else { System.err.println(s"[pin] $name: unstable fingerprint, left out"); None }
    }
    Queries.writePinned(Paths.get(out), pinned, Seq(
      s"Answers pinned at $scale: name, role, stratum, rows, hash sum a, hash sum b.",
      "Written by `python3 perfbench/run.py --pin`; see perfbench/README.md."))
    spark.stop()
  }
}
