package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.DB
import graft.sources.rtcdb.{RtcdbDB, RtcdbScanStats}

/** `rtcdb-rw`: the paper's own surface. A seeded events table is appended
  * batch by batch through `RtcdbDB.write`, and a keyed user table is
  * upserted through `catalog.DB` (half updates, half inserts), with
  * `compact` plus `expireSnapshots` every few batches. After each batch a
  * seeded read mix runs: a leading-key range read, an equality read on a
  * scattered id, a COUNT/MIN/MAX index read, a full-scan group-by on a
  * string column and a keyed catalog lookup; reads favour recent data.
  * Every answer is checked, after the timed phase, against the answer the
  * benchmark computes from its own rows. The request is a selective read
  * (range, point, index, lookup).
  */
final class RtcdbRw extends Workload {
  import RtcdbRw._

  def run(r: Run): Report = {
    implicit val spark: SparkSession = r.spark
    val o = r.opts
    val smoke = o.scale == "sf0.001"
    val batchRows = if (smoke) 2048 else 4096
    val initialBatches = if (smoke) 2 else 48
    val usersPerBatch = if (smoke) 200 else 1000
    val initialUsers = if (smoke) 2000 else 20000
    val gen = new Gen(o.seed)
    val model = new Model
    val rtRoot = o.work.resolve("rtcdb")
    val catRoot = o.work.resolve("catalog")
    val rt = RtcdbDB.init(rtRoot.toString, Seq("events" -> Gen.eventsSchema))
    val cat = DB.init(catRoot.toString, Seq("users" -> Gen.usersSchema))

    def df(rows: Seq[Array[Any]], schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.createDataFrame(rows.map(Gen.toRow).asJava, schema)

    // set-up: initial load, then one untimed batch of every op for JIT
    val initial = gen.events(batchRows * initialBatches)
    rt.write("events", df(initial, Gen.eventsSchema))
    model.addEvents(initial)
    val users0 = gen.newUsers(initialUsers)
    cat.write("users", df(users0, Gen.usersSchema))
    model.upsertUsers(users0)

    val pending = mutable.ArrayBuffer.empty[(String, () => Boolean)]
    val space = mutable.ArrayBuffer.empty[Double]
    // (bytes, data files, user bytes) of each upsert
    val catWritten = mutable.ArrayBuffer.empty[(Long, Int, Long)]
    val rtWritten = mutable.ArrayBuffer.empty[(Long, Long)] // (bytes, user bytes)
    val rowsOut = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val scanRates = mutable.ArrayBuffer.empty[Double]
    val compactS = mutable.ArrayBuffer.empty[Double]

    def stats(): Map[String, Double] = Map(
      "planned" -> RtcdbScanStats.plannedBlocks.get.toDouble,
      "pruned" -> RtcdbScanStats.prunedBlocks.get.toDouble,
      "bloom" -> RtcdbScanStats.bloomPrunedBlocks.get.toDouble,
      "driver_index" -> RtcdbScanStats.driverIndexEntryReads.get.toDouble)

    /** one timed op whose answer is checked later against `expected` */
    def read[T](kind: String, name: String, expected: T, returned: T => Long)(body: => T): Unit =
      r.timed(kind, name, () => stats())(body).foreach { got =>
        rowsOut(kind) += returned(got)
        pending += ((s"$kind $name", () => got == expected))
      }

    def batch(timed: Boolean): Unit = {
      def op[T](kind: String, name: String)(body: => T): Option[T] =
        if (timed) r.timed(kind, name, () => stats())(body) else Some(body)
      // writes
      val ev = gen.events(batchRows)
      val evDf = df(ev, Gen.eventsSchema)
      val rtBefore = dirBytes(rtRoot)
      if (op("append", "events")(rt.write("events", evDf)).isDefined) model.addEvents(ev)
      rtWritten += ((dirBytes(rtRoot) - rtBefore, ev.map(Gen.logicalBytes).sum))
      val updates = model.sampleUsers(gen, usersPerBatch / 2).map(k => gen.user(k))
      val upserts = updates ++ gen.newUsers(usersPerBatch - updates.size)
      val upDf = df(upserts, Gen.usersSchema)
      val catBefore = files(catRoot.resolve("users"))
      if (op("upsert", "users")(cat.upsert("users", upDf, Seq("user_id"))).isDefined)
        model.upsertUsers(upserts)
      val added = files(catRoot.resolve("users")) -- catBefore.keySet
      catWritten += ((added.values.sum, added.keySet.count(_.toString.endsWith(".parquet")),
        upserts.map(Gen.logicalBytes).sum))
      // reads
      val events = rt.table("events")
      val (lo, hi) = model.recentRange(gen)
      val want = model.range(lo, hi)
      def rangeRead = {
        val row = events.filter(col("ts") >= lo && col("ts") < hi)
          .agg(count(lit(1)), coalesce(sum(col("v1")), lit(0L))).head()
        (row.getLong(0), row.getLong(1))
      }
      val pointKey = model.pointKey(gen)
      val wantPoint = model.point(pointKey)
      def pointRead = events.filter(col("id") === pointKey).select("v2").collect()
        .map(_.getLong(0)).toSeq.sorted
      def aggRead = {
        val row = events.agg(count(lit(1)), min(col("ts")), max(col("ts")),
          min(col("v3")), max(col("v3"))).head()
        (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
      }
      def scan = events.groupBy("event").agg(count(lit(1)), sum(col("v4"))).collect()
        .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
      val userKey = model.lookupKey(gen)
      def lookup = cat.table("users").filter(col("user_id") === userKey).collect()
        .map(row => row.toSeq.toList).toSeq
      if (timed) {
        read("range", "events", want, (g: (Long, Long)) => g._1)(rangeRead)
        read("point", "events", wantPoint, (g: Seq[Long]) => g.size.toLong)(pointRead)
        read("agg", "events", model.agg, (_: Any) => 1L)(aggRead)
        val nRows = model.count
        val t0 = System.nanoTime()
        read("scan", "events", model.byEvent, (_: Any) => nRows)(scan)
        scanRates += nRows / ((System.nanoTime() - t0) / 1e9)
        read("lookup", "users", model.userRow(userKey), (g: Seq[List[Any]]) => g.size.toLong)(lookup)
      } else {
        rangeRead; pointRead; aggRead; scan; lookup
      }
      space += (dirBytes(rtRoot) + dirBytes(catRoot)).toDouble / model.logicalBytes
    }

    def compact(timed: Boolean): Unit = {
      def body = { cat.compact("users"); cat.expireSnapshots("users", keepLast = 1) }
      if (timed) {
        r.timed("compact", "users", () => stats())(body)
          .foreach(_ => compactS += r.ops.last.seconds)
      } else body
    }

    batch(timed = false)
    compact(timed = false)
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    var batches = 0
    while (batches == 0 || System.nanoTime() < deadline) {
      batch(timed = true)
      batches += 1
      if (batches % CompactEvery == 0) compact(timed = true)
    }

    // checks, outside the timed phase
    pending.foreach { case (what, ok) => r.check(what)(ok()) }
    r.check("users table contents") {
      cat.table("users").collect().map(row => row.getLong(0) -> row.toSeq.toList).toMap ==
        model.users.map { case (k, v) => k -> v.toList }.toMap
    }
    r.check("events row count") { rt.table("events").count() == model.count }

    val reads = Seq("range", "point", "agg", "lookup").flatMap(r.okOps)
    val lat = reads.map(_.seconds)
    val loop = r.ops.filter(_.ok).map(_.seconds).sum
    val perMin = if (lat.isEmpty) 0.0 else 60.0 * lat.size / loop
    def p50(kind: String) = Stats.median(r.okOps(kind).map(_.seconds))
    val endToEnd = Seq(
      "p50_s" -> Metric(Stats.median(lat), "s", lat.size),
      "p80_s" -> Metric(Stats.quantile(lat, 0.8), "s", lat.size),
      "ops_per_min" -> Metric(perMin, "1/min", lat.size))
    val named = Seq(
      "append_p50_s" -> Metric(p50("append"), "s", r.okOps("append").size),
      "upsert_p50_s" -> Metric(p50("upsert"), "s", r.okOps("upsert").size),
      "read_p50_s" -> Metric(Stats.median(lat), "s", lat.size),
      "read_p90_s" -> Metric(Stats.quantile(lat, 0.9), "s", lat.size),
      "scan_rows_per_s" -> Metric(Stats.median(scanRates.toSeq), "1/s", scanRates.size),
      "space_amp" -> Metric(Stats.median(space.toSeq), "ratio", space.size))

    def total(ops: Seq[OpRec], k: String) = ops.map(_.extra.getOrElse(k, 0.0)).sum
    def share(ops: Seq[OpRec], k: String): Double = {
      val blocks = total(ops, "planned") + total(ops, "pruned")
      if (blocks == 0) 0.0 else total(ops, k) / blocks
    }
    val range = r.okOps("range"); val point = r.okOps("point")
    val selective = range ++ point
    val returned = rowsOut("range") + rowsOut("point")
    val storage = Map(
      "rtcdb.blocks_planned_per_read" ->
        (total(selective, "planned") + total(selective, "pruned")) / math.max(1, selective.size),
      "rtcdb.zonemap_pruned_share" ->
        (share(range, "pruned") - share(range, "bloom")),
      "rtcdb.bloom_pruned_share" -> share(point, "bloom"),
      "rtcdb.driver_index_reads_per_read" -> total(selective, "driver_index") / math.max(1, selective.size),
      "rtcdb.rows_decoded_per_row_returned" ->
        total(selective, "planned") * graft.sources.rtcdb.RtcdbFormat.RowsPerBlock / math.max(1L, returned),
      "rtcdb.range_s_p50" -> p50("range"),
      "rtcdb.point_s_p50" -> p50("point"),
      "rtcdb.agg_s_p50" -> p50("agg"),
      "rtcdb.bytes_written_per_user_byte" -> ratio(rtWritten.toSeq),
      "catalog.files_added_per_upsert" -> Stats.mean(catWritten.toSeq.map(_._2.toDouble)),
      "catalog.bytes_written_per_user_byte" -> ratio(catWritten.toSeq.map(c => (c._1, c._3))),
      "catalog.live_files" -> cat.table("users").inputFiles.length.toDouble,
      "catalog.compact_s" -> (if (compactS.isEmpty) 0.0 else Stats.median(compactS.toSeq)),
      "catalog.lookup_s_p50" -> p50("lookup"))
    val all = r.ops.toSeq.filter(_.ok)
    val layers = Layers.scheduler(r, all) ++ storage ++ Layers.trace(r, lat, all.size)
    Report(endToEnd, named, Layers.complete(layers))
  }
}

object RtcdbRw {
  val CompactEvery = 4

  private def ratio(xs: Seq[(Long, Long)]): Double =
    if (xs.isEmpty || xs.map(_._2).sum == 0) 0.0 else xs.map(_._1).sum.toDouble / xs.map(_._2).sum

  /** regular files under `root` with their sizes */
  def files(root: Path): Map[Path, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> Files.size(p)).toMap
      finally walk.close()
    }

  def dirBytes(root: Path): Long = files(root).values.sum

  /** The benchmark's own answers, computed from the rows it generated. */
  final class Model {
    private val ts = mutable.ArrayBuffer.empty[Long]
    private val v1Prefix = mutable.ArrayBuffer(0L)
    private val ids = mutable.ArrayBuffer.empty[Long]
    private val v2ById = mutable.LongMap.empty[List[Long]]
    private val events = mutable.Map.empty[String, (Long, Long)]
    private var minV3 = Long.MaxValue
    private var maxV3 = Long.MinValue
    private var eventBytes = 0L
    val users = mutable.LongMap.empty[Array[Any]]
    private val recentUsers = mutable.ArrayBuffer.empty[Long]

    def count: Long = ts.size.toLong

    def addEvents(rows: Seq[Array[Any]]): Unit = rows.foreach { a =>
      val t = a(0).asInstanceOf[Long]
      require(ts.isEmpty || t >= ts.last, "events must arrive in timestamp order")
      ts += t
      v1Prefix += v1Prefix.last + a(9).asInstanceOf[Long]
      val id = a(1).asInstanceOf[Long]
      ids += id
      v2ById(id) = a(10).asInstanceOf[Long] :: v2ById.getOrElse(id, Nil)
      val e = a(4).asInstanceOf[String]
      val (c, s) = events.getOrElse(e, (0L, 0L))
      events(e) = (c + 1, s + a(12).asInstanceOf[Long])
      minV3 = math.min(minV3, a(11).asInstanceOf[Long])
      maxV3 = math.max(maxV3, a(11).asInstanceOf[Long])
      eventBytes += Gen.logicalBytes(a)
    }

    def upsertUsers(rows: Seq[Array[Any]]): Unit = rows.foreach { a =>
      val k = a(0).asInstanceOf[Long]
      users(k) = a
      recentUsers += k
    }

    def logicalBytes: Long = eventBytes + users.valuesIterator.map(Gen.logicalBytes).sum

    private def lowerBound(x: Long): Int = {
      var lo = 0; var hi = ts.size
      while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) < x) lo = m + 1 else hi = m }
      lo
    }

    /** (rows, sum of v1) with lo <= ts < hi */
    def range(lo: Long, hi: Long): (Long, Long) = {
      val a = lowerBound(lo); val b = lowerBound(hi)
      ((b - a).toLong, v1Prefix(b) - v1Prefix(a))
    }

    /** a window of about 1% of the time span: three times in four inside
      * the newest tenth, else anywhere */
    def recentRange(g: Gen): (Long, Long) = {
      val first = ts.head; val last = ts.last
      val span = last - first
      val width = math.max(1L, span / 100)
      val from =
        if (g.nextDouble() < 0.75) last - (g.nextDouble() * span / 10).toLong - width
        else first + (g.nextDouble() * span).toLong
      (from, from + width)
    }

    /** an id to look up: three times in four one of the newest tenth of the
      * rows, else a random (almost surely absent) id */
    def pointKey(g: Gen): Long =
      if (g.nextDouble() < 0.75) ids(ids.size - 1 - g.nextInt(math.max(1, ids.size / 10)))
      else g.nextLong()

    def point(id: Long): Seq[Long] = v2ById.getOrElse(id, Nil).sorted

    def agg: (Long, Long, Long, Long, Long) = (count, ts.head, ts.last, minV3, maxV3)

    def byEvent: Map[String, (Long, Long)] = events.toMap

    /** distinct existing users, recently written ones favoured */
    def sampleUsers(g: Gen, n: Int): Seq[Long] = {
      val keys = users.keysIterator.toIndexedSeq
      val out = mutable.LinkedHashSet.empty[Long]
      while (out.size < math.min(n, keys.size))
        out += (if (g.nextDouble() < 0.5) recentUsers(recentUsers.size - 1 - g.nextInt(
          math.min(recentUsers.size, 5000))) else keys(g.nextInt(keys.size)))
      out.toSeq
    }

    def lookupKey(g: Gen): Long = sampleUsers(g, 1).head

    def userRow(k: Long): Seq[List[Any]] = users.get(k).map(_.toList).toSeq
  }
}
