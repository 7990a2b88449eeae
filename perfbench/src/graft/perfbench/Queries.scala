package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-insensitive output fingerprint: row count plus two sums over a
  * 64-bit hash of each row (its low bits mod a prime, and its high 31
  * bits), so neither row order nor partitioning changes it.
  */
final case class Fingerprint(rows: Long, a: Long, b: Long)

/** A declared query the benchmark may run, with its answer pinned at one
  * input scale. `role` is `pool` (query-mix may sample it) or `memo` (a
  * memo-cold consumer); `stratum` groups pool queries of similar latency.
  */
final case class Pinned(name: String, role: String, stratum: Int, fp: Fingerprint)

object Queries {
  private lazy val all: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries

  def fn(name: String): (SparkSession, String) => DataFrame =
    all.getOrElse(name, throw new IllegalArgumentException(
      s"query $name is not declared in SparkEntry.queries"))

  def fingerprint(df: DataFrame): Fingerprint = {
    val h = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
    val row = df.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))),
        sum(shiftrightunsigned(col("h"), 33)))
      .head()
    def l(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    Fingerprint(l(0), l(1), l(2))
  }

  /** One call as the timed op sees it: the query function builds the
    * frame (eager jobs included), then a noop sink materialises every
    * output column. */
  def call(r: Run, name: String, dir: String): Unit = {
    val t0 = System.nanoTime()
    val df = r.phase("build")(fn(name)(r.spark, dir))
    val t1 = System.nanoTime()
    r.phase("exec")(df.write.format("noop").mode("overwrite").save())
    r.note("build_s", (t1 - t0) / 1e9)
    r.note("exec_s", (System.nanoTime() - t1) / 1e9)
  }

  /** checks a query's output against its pinned answer, untimed */
  def verify(r: Run, p: Pinned, dir: String): Boolean =
    r.check(s"${p.name} output") {
      val got = fingerprint(fn(p.name)(r.spark, dir))
      if (got != p.fp) System.err.println(s"[perfbench] ${p.name}: got $got, pinned ${p.fp}")
      got == p.fp
    }

  /** pinned answers: `name role stratum rows a b`, tab-separated, `#` comments */
  def loadPinned(path: Path): Seq[Pinned] =
    Files.readAllLines(path).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t") match {
        case Array(n, role, st, rows, a, b) =>
          Pinned(n, role, st.toInt, Fingerprint(rows.toLong, a.toLong, b.toLong))
        case other => throw new IllegalArgumentException(
          s"bad pinned line in $path: ${other.mkString(" ")}")
      })

  def writePinned(path: Path, ps: Seq[Pinned], header: Seq[String]): Unit =
    Files.write(path, (header.map("# " + _) ++ ps.map(p =>
      Seq(p.name, p.role, p.stratum, p.fp.rows, p.fp.a, p.fp.b).mkString("\t")))
      .asJava)
}
