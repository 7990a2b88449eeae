package graft

import java.nio.file.Files

import graft.catalog.DB
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** DB facade semantics, mirroring the reference's integration tests
  * (`/root/reference/tests/integration_test.rs:21-61`) plus the write→read
  * round-trip the reference couldn't assert (its read path is dead,
  * SURVEY.md §1.4.2).
  */
class DBSpec extends AnyFunSuite with SparkFixture {

  // canonical fixture schema = the reference's events table
  // (`tests/integration_test.rs:13-16`): event String, timestamp u64, id u64
  private val eventsSchema = StructType(Seq(
    StructField("event", StringType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("id", LongType, nullable = false)
  ))

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graftdb_$tag").toString

  test("init writes metadata.json and open round-trips the schema") {
    implicit val s = spark
    val dir = freshDir("init")
    DB.init(dir, Seq("events" -> eventsSchema))
    val reopened = DB.open(dir)
    assert(reopened.tables == Map("events" -> eventsSchema))
  }

  test("open fails on a directory with no metadata.json") {
    implicit val s = spark
    intercept[IllegalArgumentException] { DB.open(freshDir("noopen")) }
  }

  test("write rejects unknown tables (lib.rs:42-44)") {
    implicit val s = spark
    val db = DB.init(freshDir("unknown"), Seq("events" -> eventsSchema))
    intercept[IllegalArgumentException] {
      db.write("nope", Seq(Row("click", 1L, 1L)))
    }
  }

  test("write rejects mismatched cell types (storage.rs:250-252)") {
    implicit val s = spark
    val db = DB.init(freshDir("badtype"), Seq("events" -> eventsSchema))
    intercept[IllegalArgumentException] {
      db.write("events", Seq(Row("click", "not-a-long", 1L)))
    }
  }

  test("write rejects nulls (data.rs:10-13 has no Null variant)") {
    implicit val s = spark
    val db = DB.init(freshDir("nulls"), Seq("events" -> eventsSchema))
    intercept[IllegalArgumentException] {
      db.write("events", Seq(Row("click", null, 1L)))
    }
  }

  test("write→read round-trip preserves the multiset of rows") {
    implicit val s = spark
    val db = DB.init(freshDir("rt"), Seq("events" -> eventsSchema))
    val rows = (1L to 3000L).map(i => Row(s"ev${i % 7}", 1700000000L + i, i))
    db.write("events", rows)
    val back = db.table("events").collect().toSeq
    assert(back.size == rows.size)
    assert(back.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted ==
      rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted)
  }

  test("write is append-only batch ingest (storage.rs:155-177 semantics)") {
    implicit val s = spark
    val db = DB.init(freshDir("append"), Seq("events" -> eventsSchema))
    db.write("events", Seq(Row("a", 1L, 1L)))
    db.write("events", Seq(Row("b", 2L, 2L)))
    assert(db.table("events").count() == 2)
  }

  test("empty table reads as empty DataFrame with the declared schema") {
    implicit val s = spark
    val db = DB.init(freshDir("empty"), Seq("events" -> eventsSchema))
    val df = db.table("events")
    assert(df.schema == eventsSchema)
    assert(df.count() == 0)
  }

  test("distributed write validates schema and rejects null batches") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    val db = DB.init(freshDir("dist"), Seq("events" -> eventsSchema))
    val good = s.createDataFrame(
      Seq(Row("a", 1L, 1L), Row("b", 2L, 2L)).asJava, eventsSchema)
    db.write("events", good)
    assert(db.table("events").count() == 2)
    val nullable = StructType(eventsSchema.map(_.copy(nullable = true)))
    val bad = s.createDataFrame(Seq(Row("c", null, 3L)).asJava, nullable)
    intercept[IllegalArgumentException] { db.write("events", bad) }
  }

  test("bucketed tables join WITHOUT a shuffle (co-located join)") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    val db = DB.init(freshDir("bucket"), Seq("events" -> eventsSchema))
    val rows = (1L to 4000L).map(i => Row(s"ev${i % 5}", 1700000000L + i, i % 97))
    val df = s.createDataFrame(rows.asJava, eventsSchema)
    db.writeBucketed("events", df, numBuckets = 8, bucketCols = Seq("id"))
    val t = db.bucketedTable("events")
    // the co-located layout matters for the SHUFFLE join path (at scale the
    // fact-fact side is never broadcastable) — disable broadcast to test it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = t.as("a").join(t.as("b"), "id")
      val agged = t.groupBy("id").count()
      // AQE: bucketed-scan choice is only final in the post-execution plan
      assert(joined.count() > 0 && agged.count() == 97)
      val jp = joined.queryExecution.executedPlan.toString
      val ap = agged.queryExecution.executedPlan.toString
      assert(!jp.contains("Exchange"), s"bucketed self-join should not shuffle:\n$jp")
      assert(!ap.contains("Exchange"), s"bucketed agg should not shuffle:\n$ap")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("partitioned layout prunes directories at the scan (PartitionFilters)") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    val db = DB.init(freshDir("part"), Seq("events" -> eventsSchema))
    val rows = (1L to 2000L).map(i => Row(s"ev${i % 4}", 1700000000L + i, i))
    db.writePartitioned("events",
      s.createDataFrame(rows.asJava, eventsSchema), Seq("event"))
    val q = db.table("events").filter(
      org.apache.spark.sql.functions.col("event") === "ev2")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(event"), p)
    assert(q.count() == 500)
    // round-trip: all rows still readable with the declared schema
    assert(db.table("events").count() == 2000)
  }

  test("partition-scoped upsert rewrites ONLY the touched partitions") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val root = freshDir("partupsert")
    val db = DB.init(root, Seq("events" -> eventsSchema))
    val rows = (1L to 2000L).map(i => Row(s"ev${i % 4}", 1700000000L + i, i))
    db.writePartitioned("events",
      s.createDataFrame(rows.asJava, eventsSchema), Seq("event"))
    // snapshot the untouched partitions' exact file lists
    def files(part: String): Set[String] = {
      val d = java.nio.file.Paths.get(root, "events", s"event=$part")
      java.nio.file.Files.walk(d).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
    }
    val before = Seq("ev0", "ev1", "ev3").map(p => p -> files(p)).toMap
    // replace one ev2 row (key = event+id) and add a brand-new ev2 row
    val batch = s.createDataFrame(Seq(
      Row("ev2", 999L, 2L),       // id 2 exists in ev2 → replaced
      Row("ev2", 888L, 9999L)     // new row
    ).asJava, eventsSchema)
    db.upsertPartitioned("events", batch, Seq("event"), Seq("event", "id"))
    val t = db.table("events")
    assert(t.count() == 2001)
    assert(t.filter(col("id") === 2L).collect().map(_.getLong(1)).toSeq ==
      Seq(999L))
    assert(t.filter(col("id") === 9999L).count() == 1)
    // untouched partitions: byte-identical file sets (no rewrite at all)
    Seq("ev0", "ev1", "ev3").foreach { p =>
      assert(files(p) == before(p), s"partition $p was rewritten")
    }
    // keys must contain the partition columns (a key that moved partitions
    // would leave its old row alive)
    intercept[IllegalArgumentException] {
      db.upsertPartitioned("events", batch, Seq("event"), Seq("id"))
    }
  }

  test("partition-scoped upsert READS only the touched partitions (static pruning)") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    val db = DB.init(freshDir("partprune"), Seq("events" -> eventsSchema))
    val rows = (1L to 2000L).map(i => Row(s"ev${i % 4}", 1700000000L + i, i))
    db.writePartitioned("events",
      s.createDataFrame(rows.asJava, eventsSchema), Seq("event"))
    val batch = s.createDataFrame(
      Seq(Row("ev2", 999L, 2L)).asJava, eventsSchema)
    // the merge input's scan must carry a LITERAL partition filter naming
    // the touched value — O(touched partitions) by plan shape, not by
    // hoping runtime DPP fires against the semi-join alternative
    val merged = db.upsertMergeInput("events", batch,
      Seq("event"), Seq("event", "id")).get
    val p = merged.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(p)
    assert(pf.exists(f => f.contains("ev2")),
      s"merge scan must statically prune to the touched partition:\n$p")
    assert(!p.contains("dynamicpruning"),
      s"pruning must not depend on runtime DPP:\n$p")
    // and the pruned merge reads exactly the touched partition's rows:
    // 500 current ev2 rows - 1 replaced + 1 batch row
    assert(merged.count() == 500L)
    // empty batch: nothing to merge
    assert(db.upsertMergeInput("events",
      s.createDataFrame(Seq.empty[Row].asJava, eventsSchema),
      Seq("event"), Seq("event", "id")).isEmpty)
  }

  test("upsert merge prune falls back to a semi-join above the literal cap") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val db = DB.init(freshDir("partprunecap"), Seq("events" -> eventsSchema))
    val rows = (1L to 2000L).map(i => Row(s"ev${i % 4}", 1700000000L + i, i))
    db.writePartitioned("events",
      s.createDataFrame(rows.asJava, eventsSchema), Seq("event"))
    // a batch touching 3 partitions with the cap forced to 2: above the
    // cap the prune must be the broadcast-semi-join form (a 10⁵-term
    // literal disjunction would make the PLAN the bottleneck), and it
    // must not silently truncate the touched set — all three partitions'
    // current rows still participate in the merge
    val batch = s.createDataFrame(Seq(
      Row("ev0", 999L, 4L), Row("ev1", 999L, 5L), Row("ev2", 999L, 6L)
    ).asJava, eventsSchema)
    val merged = db.upsertMergeInput("events", batch,
      Seq("event"), Seq("event", "id"), literalCap = 2).get
    val p = merged.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*ev0".r.findFirstIn(p).isEmpty,
      s"above-cap prune must not be a literal partition filter:\n$p")
    assert(p.toLowerCase.contains("leftsemi"),
      s"above-cap prune must be the semi-join form:\n$p")
    // 3 × 500 current rows - 3 replaced ids (4,5,6 exist) + 3 batch rows
    assert(merged.count() == 1500L)
    // and the end-to-end merge THROUGH THE FALLBACK TIER stays correct
    // (cap threaded through upsertPartitioned so the semi-join prune's
    // whole write/commit path runs, not just the plan shape above)
    db.upsertPartitioned("events", batch, Seq("event"), Seq("event", "id"),
      literalCap = 2)
    val t = db.table("events")
    assert(t.count() == 2000)
    assert(t.filter(col("timestamp") === 999L).count() == 3)
  }

  test("snapshot manifest gives old-or-new across partitions on a crashed merge") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val root = freshDir("snapcrash")
    val db = DB.init(root, Seq("events" -> eventsSchema))
    val rows = (1L to 400L).map(i => Row(s"ev${i % 4}", 1700000000L + i, i))
    db.writePartitioned("events",
      s.createDataFrame(rows.asJava, eventsSchema), Seq("event"))
    // first real merge creates the manifest
    db.upsertPartitioned("events",
      s.createDataFrame(Seq(Row("ev1", 111L, 1L)).asJava, eventsSchema),
      Seq("event"), Seq("event", "id"))
    val committedView = db.table("events").collect().map(_.toSeq).toSet
    assert(committedView.size == 400)
    // simulate a merge that CRASHED between its data append and its
    // manifest swap: new-generation files exist in two partition dirs,
    // the manifest was never moved — exactly the old mixed-generations
    // window the dynamic-overwrite form had
    val torn = s.createDataFrame(Seq(
      Row("ev1", 777L, 1L), Row("ev2", 777L, 2L)).asJava, eventsSchema)
    torn.write.mode("append").option("compression", "lz4")
      .partitionBy("event").parquet(s"$root/events")
    // readers must see the complete OLD view — no torn generation mix
    assert(db.table("events").collect().map(_.toSeq).toSet == committedView)
    assert(db.table("events").filter(col("timestamp") === 777L).isEmpty)
    // the next merge sweeps the residue, then commits cleanly
    db.upsertPartitioned("events",
      s.createDataFrame(Seq(Row("ev2", 222L, 2L)).asJava, eventsSchema),
      Seq("event"), Seq("event", "id"))
    val t = db.table("events")
    assert(t.count() == 400)
    assert(t.filter(col("id") === 2L).collect().map(_.getLong(1)).toSeq ==
      Seq(222L))
    assert(t.filter(col("timestamp") === 777L).isEmpty,
      "uncommitted residue must never surface")
    // disk agrees with the manifest after EXPIRATION: superseded
    // generations are retained for time travel until expireSnapshots
    // releases them (r9), then no orphans remain
    db.expireSnapshots("events", keepLast = 1)
    val manifest = db.snapshotFiles("events").get.toSet
    val physical = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "events"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(f => java.nio.file.Paths.get(root, "events").relativize(f).toString)
      .toSet
    assert(physical == manifest, s"orphans left: ${physical.diff(manifest)}")
    // appends after snapshot adoption stay visible (manifest keeps up)
    db.writePartitioned("events",
      s.createDataFrame(Seq(Row("ev9", 1L, 9001L)).asJava, eventsSchema),
      Seq("event"))
    assert(db.table("events").count() == 401)
  }

  test("partition-preserving compaction merges small files via one manifest swap") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val root = freshDir("partcompact")
    val db = DB.init(root, Seq("events" -> eventsSchema))
    // three appends → ≥3 files per partition (the streaming-ingest shape)
    (0 until 3).foreach { b =>
      val rows = (1L to 300L).map(i =>
        Row(s"ev${i % 3}", 1700000000L + b * 1000 + i, b * 1000L + i))
      db.writePartitioned("events",
        s.createDataFrame(rows.asJava, eventsSchema), Seq("event"))
    }
    val before = db.table("events").collect().map(_.toSeq).toSet
    assert(before.size == 900)
    // a real merge, then uncommitted residue from a "crashed" one — it
    // must be swept, never adopted
    db.upsertPartitioned("events",
      s.createDataFrame(Seq(Row("ev1", 1700000001L, 1001L)).asJava,
        eventsSchema), Seq("event"), Seq("event", "id"))
    s.createDataFrame(Seq(Row("ev0", 777L, 777777L)).asJava, eventsSchema)
      .write.mode("append").partitionBy("event").parquet(s"$root/events")
    val committed = db.table("events").collect().map(_.toSeq).toSet
    val (nBefore, nAfter) = db.compactPartitions("events")
    assert(nAfter < nBefore, s"no compaction happened: $nBefore -> $nAfter")
    // content identical, residue gone, one file per partition
    assert(db.table("events").collect().map(_.toSeq).toSet == committed)
    assert(db.table("events").filter(col("timestamp") === 777L).isEmpty)
    val manifest = db.snapshotFiles("events").get
    assert(manifest.groupBy(f => f.split('/')(0)).forall(_._2.size == 1),
      s"expected one file per partition, got $manifest")
    // pre-compaction layout stays time-travel readable until expiration;
    // after expireSnapshots, disk agrees with the manifest exactly
    db.expireSnapshots("events", keepLast = 1)
    val physical = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "events"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(f => java.nio.file.Paths.get(root, "events").relativize(f).toString)
      .toSet
    assert(physical == manifest.toSet, s"orphans: ${physical.diff(manifest.toSet)}")
    // partition pruning still works on the compacted layout
    val q = db.table("events").filter(col("event") === "ev2")
    assert(q.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(event"))
    // already-compact: a second run is a no-op
    val (b2, a2) = db.compactPartitions("events")
    assert(b2 == a2)
    // unpartitioned tables are refused (compact() is their path)
    val db2 = DB.init(freshDir("flatcompact"), Seq("events" -> eventsSchema))
    db2.write("events", (1L to 10L).map(i => Row(s"e$i", i, i)))
    intercept[IllegalArgumentException] { db2.compactPartitions("events") }
  }

  test("time travel: tableAsOf reads retained snapshot versions; expireSnapshots reclaims") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val root = freshDir("timetravel")
    val db = DB.init(root, Seq("events" -> eventsSchema))
    val rows = (1L to 100L).map(i => Row(s"ev${i % 2}", 1700000000L + i, i))
    db.writePartitioned("events",
      s.createDataFrame(rows.asJava, eventsSchema), Seq("event"))
    // v1 is the append; v2: first merge commits id=1 -> ts 111
    db.upsertPartitioned("events",
      s.createDataFrame(Seq(Row("ev1", 111L, 1L)).asJava, eventsSchema),
      Seq("event"), Seq("event", "id"))
    // v3: id=1 -> ts 222
    db.upsertPartitioned("events",
      s.createDataFrame(Seq(Row("ev1", 222L, 1L)).asJava, eventsSchema),
      Seq("event"), Seq("event", "id"))
    assert(db.snapshotVersions("events") == Seq(1L, 2L, 3L))
    def ts1(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("id") === 1L).collect().map(_.getLong(1)).head
    // current == v3; v2 still readable with the OLD value of id=1 and
    // the full row count (time travel is a complete consistent view)
    assert(ts1(db.table("events")) == 222L)
    assert(ts1(db.tableAsOf("events", 3L)) == 222L)
    assert(ts1(db.tableAsOf("events", 2L)) == 111L)
    assert(db.tableAsOf("events", 2L).count() == 100L)
    // unknown version: loud error naming what IS retained
    val e = intercept[IllegalArgumentException] { db.tableAsOf("events", 7L) }
    assert(e.getMessage.contains("retained: 1, 2, 3"), e.getMessage)
    // expire v1 and v2: their manifests go away, their exclusive files
    // are reclaimed, v3 (the pointer) is untouched
    val (expired, reclaimed) = db.expireSnapshots("events", keepLast = 1)
    assert(expired == 2, s"expired $expired")
    assert(reclaimed >= 1, "superseded generation files must be reclaimed")
    assert(db.snapshotVersions("events") == Seq(3L))
    intercept[IllegalArgumentException] { db.tableAsOf("events", 2L) }
    assert(ts1(db.table("events")) == 222L) // current view unaffected
    // disk now agrees with the retained set exactly
    val keep = db.snapshotFiles("events").get.toSet
    val physical = java.nio.file.Files.walk(
        java.nio.file.Paths.get(root, "events"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(f => java.nio.file.Paths.get(root, "events").relativize(f).toString)
      .toSet
    assert(physical == keep, s"orphans: ${physical.diff(keep)}")
    // a reclaimed file takes its Hadoop checksum with it
    val strayCrc = java.nio.file.Files.walk(
        java.nio.file.Paths.get(root, "events"))
      .iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet.crc") && !java.nio.file.Files.exists(
          p.resolveSibling(n.stripPrefix(".").stripSuffix(".crc")))
      }.toList
    assert(strayCrc.isEmpty, s"checksums without their parquet: $strayCrc")
    // a reopened DB (fresh process) sees the same retained history
    val db2 = DB.open(root)
    assert(db2.snapshotVersions("events") == Seq(3L))
    assert(ts1(db2.tableAsOf("events", 3L)) == 222L)
  }

  /** the files a read of `name` scans, relative to its table dir */
  private def filesRead(db: DB, root: String, name: String): Set[String] = {
    val dir = java.nio.file.Paths.get(root, name)
    db.table(name).inputFiles.map(u =>
      dir.relativize(java.nio.file.Paths.get(new java.net.URI(u))).toString).toSet
  }

  test("every write verb commits one version, and reads scan exactly its manifest") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    import s.implicits._
    val scdSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = false),
      StructField("valid_from", LongType, nullable = false),
      StructField("valid_to", LongType, nullable = false)))
    val root = freshDir("manifestonly")
    val db = DB.init(root, Seq("flat" -> eventsSchema,
      "parts" -> eventsSchema, "scd" -> scdSchema))
    def rows(from: Long, until: Long) = s.createDataFrame(
      (from until until).map(i => Row(s"ev${i % 3}", 1000L + i, i)).asJava,
      eventsSchema)
    var versions = Map.empty[String, Long].withDefaultValue(0L)
    def check(verb: String, name: String, count: Long): Unit = {
      versions += name -> (versions(name) + 1)
      assert(db.snapshotVersions(name).lastOption.contains(versions(name)),
        s"$verb must commit exactly one version of $name: " +
          db.snapshotVersions(name))
      val manifest = db.snapshotFiles(name).get.toSet
      assert(manifest.nonEmpty, s"$verb left $name empty")
      assert(filesRead(db, root, name) == manifest, s"after $verb on $name")
      assert(db.table(name).count() == count, s"after $verb on $name")
    }
    db.write("flat", (0L until 10L).map(i => Row(s"ev$i", 1000L + i, i)))
    check("write(rows)", "flat", 10L)
    db.write("flat", rows(10L, 20L))
    check("write(df)", "flat", 20L)
    db.writeZOrdered("flat", rows(20L, 30L), "timestamp", "id")
    check("writeZOrdered", "flat", 30L)
    db.upsert("flat", rows(25L, 35L), Seq("id"))
    check("upsert", "flat", 35L)
    db.delete("flat", Seq(0L, 1L).toDF("id"), Seq("id"))
    check("delete", "flat", 33L)
    db.write("flat", rows(40L, 50L))
    check("write(df)", "flat", 43L)
    db.compact("flat")
    check("compact", "flat", 43L)
    db.writePartitioned("parts", rows(0L, 30L), Seq("event"))
    check("writePartitioned", "parts", 30L)
    db.upsertPartitioned("parts", rows(25L, 35L), Seq("event"),
      Seq("event", "id"))
    check("upsertPartitioned", "parts", 35L)
    db.writePartitioned("parts", rows(40L, 50L), Seq("event"))
    check("writePartitioned", "parts", 45L)
    db.compactPartitions("parts")
    check("compactPartitions", "parts", 45L)
    db.upsertScd2("scd", Seq(1L -> "a", 2L -> "b").toDF("k", "v"), Seq("k"),
      version = 1L)
    check("upsertScd2", "scd", 2L)
    db.upsertScd2("scd", Seq(1L -> "a2").toDF("k", "v"), Seq("k"),
      version = 2L)
    check("upsertScd2", "scd", 3L)
  }

  test("crash residue in a never-committed table is never read and is swept by the first commit") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val root = freshDir("firstcommit")
    val db = DB.init(root, Seq("events" -> eventsSchema))
    // a first-ever partitioned merge that failed after its data write:
    // part files in the table dir, no manifest
    s.createDataFrame(Seq(Row("ev1", 777L, 1L), Row("ev2", 777L, 2L)).asJava,
        eventsSchema)
      .write.mode("append").partitionBy("event").parquet(s"$root/events")
    assert(db.snapshotFiles("events").isEmpty)
    assert(db.table("events").isEmpty, "uncommitted residue must read as empty")
    db.upsertPartitioned("events",
      s.createDataFrame(Seq(Row("ev1", 111L, 1L)).asJava, eventsSchema),
      Seq("event"), Seq("event", "id"))
    val t = db.table("events")
    assert(t.collect().map(_.toSeq).toSet == Set(Seq("ev1", 111L, 1L)))
    assert(t.filter(col("timestamp") === 777L).isEmpty)
    assert(db.snapshotVersions("events") == Seq(1L))
    val physical = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "events"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(f => java.nio.file.Paths.get(root, "events").relativize(f).toString)
      .toSet
    assert(physical == db.snapshotFiles("events").get.toSet,
      s"residue not swept: ${physical.diff(db.snapshotFiles("events").get.toSet)}")
  }

  test("leading-column filter reaches the parquet scan as a pushed filter") {
    implicit val s = spark
    val db = DB.init(freshDir("prune"), Seq("events" -> eventsSchema))
    db.write("events", (1L to 5000L).map(i => Row(s"e$i", i, i)))
    val plan = db.table("events").filter(org.apache.spark.sql.functions
      .col("event") > "e4500").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event), GreaterThan(event,e4500)]"),
      s"expected pushed filter in plan:\n$plan")
  }

  test("CSV / JSON / ORC round-trip the canonical schema (source+sink breadth)") {
    // the reference has exactly one (custom) format; the Spark engine gets
    // the standard format family for free — exercise write→read equality on
    // the reference's canonical events schema for each
    val dir = freshDir("formats")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1L to 100L).map(i => Row(s"ev$i", i * 10, i))),
      eventsSchema)
    def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val expected = canon(df)

    df.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    val csv = spark.read.schema(eventsSchema).option("header", "true")
      .csv(s"$dir/csv")
    assert(canon(csv) == expected, "csv round-trip")

    df.write.mode("overwrite").json(s"$dir/json")
    val json = spark.read.schema(eventsSchema).json(s"$dir/json")
    assert(canon(json) == expected, "json round-trip")

    df.write.mode("overwrite").orc(s"$dir/orc")
    val orc = spark.read.orc(s"$dir/orc")
    assert(canon(orc) == expected, "orc round-trip")
  }

  test("compact merges small-file appends, preserves rows, survives re-read") {
    implicit val s = spark
    val db = DB.init(freshDir("compact"), Seq("events" -> eventsSchema))
    // 8 tiny appends -> many small files with overlapping ranges
    for (k <- 0 until 8)
      db.write("events", (0L until 200L).map(i =>
        Row(s"ev${(k * 200 + i) % 7}", 1700000000L + k * 200 + i, k * 200 + i)))
    val (before, after) = db.compact("events")
    assert(before > after && after >= 1,
      s"expected fewer files after compaction: $before -> $after")
    // row multiset unchanged through the atomic swap
    val back = db.table("events").collect()
    assert(back.length == 1600)
    assert(back.map(_.getLong(2)).sorted.toSeq == (0L until 1600L))
    // the rewrite is globally range-sorted -> a leading-column filter
    // reads a subset of files (tight, non-overlapping per-file ranges)
    val hit = db.table("events")
      .filter(org.apache.spark.sql.functions.col("event") === "ev3")
    assert(hit.count() == 229L || hit.count() == 228L) // 1600/7 rounding
    // appends after compaction keep working
    db.write("events", Seq(Row("post", 9999999999L, 999999L)))
    assert(db.table("events").count() == 1601L)
  }

  test("upsert replaces rows by key, keeps the rest, swaps atomically") {
    implicit val s = spark
    import s.implicits._
    val db = DB.init(freshDir("upsert"), Seq("events" -> eventsSchema))
    db.write("events", (0L until 100L).map(i => Row(s"v1_$i", 1000L + i, i)))
    // replace ids 10..19, insert ids 100..104
    val delta = ((10L until 20L) ++ (100L until 105L))
      .map(i => (s"v2_$i", 2000L + i, i)).toDF("event", "timestamp", "id")
    db.upsert("events", delta, Seq("id"))
    val back = db.table("events").collect()
      .map(r => r.getLong(2) -> r.getString(0)).toMap
    assert(back.size == 105)
    assert(back(5L) == "v1_5")          // untouched
    assert(back(15L) == "v2_15")        // replaced
    assert(back(102L) == "v2_102")      // inserted
    // schema mismatch / null batch still abort, table unchanged
    intercept[IllegalArgumentException] {
      db.upsert("events", Seq((1L, "x")).toDF("id", "event"), Seq("id"))
    }
    assert(db.table("events").count() == 105L)
  }

  /** (event, timestamp, id) tuples of a frame, sorted */
  private def tuples(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  /** Spark jobs `body` starts, counted by a listener on a job group of its
    * own, so jobs of other threads never count
    */
  private def jobsRun(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"dbspec-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "DBSpec job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graftspec.ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("upsert keeps every batch row, duplicate keys included; an empty batch commits unchanged rows") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    val db = DB.init(freshDir("mergedup"), Seq("events" -> eventsSchema))
    val base = (0L until 10L).map(i => Row(s"v1_$i", 1000L + i, i))
    db.write("events", base)
    val batch = Seq(Row("a", 1L, 3L), Row("b", 2L, 3L),
      Row("c", 3L, 20L), Row("c", 3L, 20L))
    db.upsert("events", s.createDataFrame(batch.asJava, eventsSchema), Seq("id"))
    val merged = (base.filterNot(_.getLong(2) == 3L) ++ batch)
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(tuples(db.table("events")) == merged)
    val v = db.snapshotVersions("events").last
    db.upsert("events", s.createDataFrame(Seq.empty[Row].asJava, eventsSchema),
      Seq("id"))
    assert(db.snapshotVersions("events").last == v + 1)
    assert(tuples(db.table("events")) == merged)
  }

  test("a null cell aborts upsert: version, rows and table dir unchanged, no scratch left") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    val root = freshDir("mergenull")
    val db = DB.init(root, Seq("events" -> eventsSchema))
    db.write("events", (0L until 10L).map(i => Row(s"e$i", i, i)))
    def listing(p: java.nio.file.Path): Set[String] =
      java.nio.file.Files.walk(p).iterator().asScala
        .map(f => p.relativize(f).toString).toSet
    val (versions, rows) = (db.snapshotVersions("events"), tuples(db.table("events")))
    val dir = listing(java.nio.file.Paths.get(root, "events"))
    val nullable = StructType(eventsSchema.map(_.copy(nullable = true)))
    val bad = s.createDataFrame(
      Seq(Row("x", 1L, 1L), Row("y", null, 2L)).asJava, nullable)
    val e = intercept[Exception] { db.upsert("events", bad, Seq("id")) }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("Mismatched data type")), e)
    assert(db.snapshotVersions("events") == versions)
    assert(tuples(db.table("events")) == rows)
    assert(listing(java.nio.file.Paths.get(root, "events")) == dir)
    val scratch = listing(java.nio.file.Paths.get(root)).filter(_.startsWith("events.__"))
    assert(scratch.isEmpty, s"scratch left behind: $scratch")
  }

  test("upsert evaluates its batch plan exactly once") {
    implicit val s = spark
    import org.apache.spark.sql.functions.{col, lit, udf}
    val db = DB.init(freshDir("mergeonce"), Seq("events" -> eventsSchema))
    db.write("events", (0L until 100L).map(i => Row(s"e$i", i, i)))
    val evals = s.sparkContext.longAccumulator("batch evaluations")
    val counted = udf { (i: Long) => evals.add(1L); i }
    val batch = s.range(90L, 100L).select(lit("new").as("event"),
      col("id").as("timestamp"), counted(col("id")).as("id"))
    db.upsert("events", batch, Seq("id"))
    assert(evals.value == 10L, s"batch evaluated ${evals.value / 10.0} times")
    assert(db.table("events").count() == 100L)
  }

  test("the merge with n = 3 files writes the same rows in three range-sorted files") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    val root = freshDir("mergen3")
    val db = DB.init(root, Seq("one" -> eventsSchema, "three" -> eventsSchema))
    val base = (0L until 600L).map(i => Row(s"e${i % 37}", 1000L + i, i))
    val batch = s.createDataFrame(((300L until 320L) ++ (900L until 910L))
      .map(i => Row(s"n${i % 5}", 5000L + i, i)).asJava, eventsSchema)
    Seq("one", "three").foreach(t => db.write(t, base))
    db.upsert("one", batch, Seq("id"))
    db.mergeByKey("three", batch, Seq("id"), keepBatch = true, nFiles = Some(3))
    assert(tuples(db.table("three")) == tuples(db.table("one")))
    val files = db.snapshotFiles("three").get
    assert(files.size == 3, s"expected three files: $files")
    // each file sorted in schema-column order; ranges ordered, disjoint
    val perFile = files.map(f => s.read.parquet(s"$root/three/$f").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    perFile.foreach(rs => assert(rs == rs.sorted, "file not sorted"))
    val ranges = perFile.map(rs => (rs.head, rs.last)).sortBy(_._1)
    ranges.sliding(2).foreach { case Seq(a, b) =>
      assert(Ordering[(String, Long, Long)].lt(a._2, b._1), s"overlap: $a $b")
    }
  }

  test("upsert and compact of a single-file table each run exactly one Spark job") {
    implicit val s = spark
    import scala.jdk.CollectionConverters._
    val db = DB.init(freshDir("mergejobs"), Seq("events" -> eventsSchema))
    db.write("events", (0L until 200L).map(i => Row(s"e${i % 7}", i, i)))
    db.compact("events")
    assert(db.snapshotFiles("events").get.size == 1)
    val batch = s.createDataFrame((195L until 205L)
      .map(i => Row("new", i, i)).asJava, eventsSchema)
    assert(jobsRun(db.upsert("events", batch, Seq("id"))) == 1)
    assert(db.snapshotFiles("events").get.size == 1)
    assert(jobsRun(db.compact("events")) == 1)
    assert(db.table("events").count() == 205L)
  }

  test("z-ordered layout prunes files on BOTH dimensions; linear sort on one") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name, countDistinct}
    val gridSchema = StructType(Seq(
      StructField("x", LongType, nullable = false),
      StructField("y", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val db = DB.init(freshDir("zorder"), Seq(
      "zgrid" -> gridSchema, "lingrid" -> gridSchema))
    // 256x256 grid; ~16+ files after range partitioning
    val grid = spark.range(0, 65536)
      .select((col("id") % 256).as("x"),
        org.apache.spark.sql.functions.expr("id div 256").as("y"),
        col("id").as("v"))
    withConf("spark.sql.shuffle.partitions" -> "16",
      // AQE would coalesce this kilobyte-scale fixture into one file;
      // at real scale the 16 range partitions are genuine
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      db.writeZOrdered("zgrid", grid.toDF(), "x", "y")
      db.write("lingrid", grid.toDF())   // linear: range-sorted by (x, y, v)
    }
    def filesTouched(table: String, cond: org.apache.spark.sql.Column): Long =
      db.table(table).filter(cond)
        .select(input_file_name().as("f")).distinct().count()
    def totalFiles(table: String): Long =
      db.table(table).select(input_file_name().as("f")).distinct().count()
    val zTotal = totalFiles("zgrid")
    assert(zTotal >= 8, s"fixture too small: $zTotal files")
    // narrow filter on x AND on y must each touch a strict subset of a
    // z-ordered table's files (tight per-file ranges on both dims)
    val zx = filesTouched("zgrid", col("x") < 16)
    val zy = filesTouched("zgrid", col("y") < 16)
    assert(zx < zTotal && zy < zTotal,
      s"z-order must prune on both dims: x→$zx, y→$zy of $zTotal")
    // the linear layout prunes on its leading column only: a y-filter
    // touches every file (y varies fully inside each x-sorted file)
    val lTotal = totalFiles("lingrid")
    val ly = filesTouched("lingrid", col("y") < 16)
    val lx = filesTouched("lingrid", col("x") < 16)
    assert(lx < lTotal, s"leading-column pruning broken: $lx of $lTotal")
    assert(ly == lTotal,
      s"expected no second-dim pruning in the linear layout: $ly of $lTotal")
    // layouts store the same rows
    assert(db.table("zgrid").count() == 65536L &&
      db.table("lingrid").count() == 65536L)
  }

  test("delete + CDC diff: I/U/D classified; plain upserts are time-travelable now") {
    implicit val s = spark
    import s.implicits._
    val dimSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = false)))
    val db = DB.init(freshDir("cdc"), Seq("dim" -> dimSchema))
    db.upsert("dim", Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("k", "v"),
      Seq("k"))                                                     // v1
    db.upsert("dim", Seq(2L -> "b2", 4L -> "d").toDF("k", "v"),
      Seq("k"))                                                     // v2
    db.delete("dim", Seq(3L).toDF("k"), Seq("k"))                   // v3
    // the r9 atomicRewrite upgrade: EVERY rewrite verb commits a
    // retained manifest, so v1 is still readable after two more commits
    assert(db.tableAsOf("dim", 1L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b", 3L -> "c"))
    val d = db.diff("dim", Seq("k"), vOld = 1L).collect()
      .map(r => r.getLong(1) -> ((r.getString(0),
        Option(r.getString(2)), Option(r.getString(3))))).toMap
    assert(d == Map(
      2L -> (("U", Some("b"), Some("b2"))),
      3L -> (("D", Some("c"), None)),
      4L -> (("I", None, Some("d")))), d)
    // unchanged key 1 emits nothing; diff of identical versions is empty
    assert(!d.contains(1L))
    assert(db.diff("dim", Seq("k"), vOld = 3L).isEmpty)
    // appends onto a versioned table join the manifest (stay visible)
    db.write("dim", Seq(Row(9L, "z")))
    assert(db.table("dim").count() == 4L)
    // keyDf must carry exactly the key columns
    intercept[IllegalArgumentException] {
      db.delete("dim", Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    }
    // and at types that widen losslessly: a double key would truncate
    intercept[IllegalArgumentException] {
      db.delete("dim", Seq(1.5).toDF("k"), Seq("k"))
    }
    db.delete("dim", Seq(9).toDF("k"), Seq("k"))   // int widens to long
    assert(db.table("dim").count() == 3L)
  }

  test("SCD2 upsert: change closes history, no-op resend is silent, PIT view works") {
    implicit val s = spark
    import s.implicits._
    val MaxV = Long.MaxValue
    val dimSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = false),
      StructField("valid_from", LongType, nullable = false),
      StructField("valid_to", LongType, nullable = false)))
    val db = DB.init(freshDir("scd2"), Seq("dim" -> dimSchema))
    def delta(rows: (Long, String)*) = rows.toSeq.toDF("k", "v")
    def hist = db.table("dim").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    db.upsertScd2("dim", delta(1L -> "a", 2L -> "b"), Seq("k"), version = 1L)
    assert(hist == Set((1L, "a", 1L, MaxV), (2L, "b", 1L, MaxV)))
    // v2: key 1 changes, key 2 re-sent UNCHANGED (must be a no-op),
    // key 3 is new
    db.upsertScd2("dim", delta(1L -> "a2", 2L -> "b", 3L -> "c"),
      Seq("k"), version = 2L)
    assert(hist == Set(
      (1L, "a", 1L, 2L), (1L, "a2", 2L, MaxV),
      (2L, "b", 1L, MaxV), (3L, "c", 2L, MaxV)))
    // v3: key 1 changes again -> two closed rows in its history chain
    db.upsertScd2("dim", delta(1L -> "a3"), Seq("k"), version = 3L)
    assert(hist == Set(
      (1L, "a", 1L, 2L), (1L, "a2", 2L, 3L), (1L, "a3", 3L, MaxV),
      (2L, "b", 1L, MaxV), (3L, "c", 2L, MaxV)))
    // point-in-time view at t=2: the rows where valid_from <= 2 < valid_to
    val pit = db.table("dim")
      .filter("valid_from <= 2 AND valid_to > 2")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pit == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    // rejects a delta carrying the system columns
    intercept[IllegalArgumentException] {
      db.upsertScd2("dim",
        Seq((9L, "x", 9L, 9L)).toDF("k", "v", "valid_from", "valid_to"),
        Seq("k"), version = 4L)
    }
  }

  test("scratch memos rebuild when the dataset is regenerated in place (datasetKey folds the file listing)") {
    // r12 verdict task 5: a long-lived session that appends data under a
    // stable path must NOT be served stale scratch. The invalidation
    // stamp is Shared.datasetKey's (name, size, mtime) listing digest —
    // any parquet rewrite changes it, so the memo map misses and the
    // derivation rebuilds. Proven end to end on the kNN-graph memo.
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_memo_inval")
    val tbl = dir.resolve("embeddings.parquet")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 60).coalesce(1)
      .write.mode("overwrite").parquet(tbl.toString)
    val key1 = operators.Shared.datasetKey(dir.toString)
    val n1 = operators.R12Queries.knnGraphMemoized(spark, dir.toString).count()
    val built1 = operators.Shared.memoBuildLedger.getOrElse("knngraph", 0.0)
    assert(built1 > 0.0, "first call must pay a build")
    assert(n1 > 0L)
    // unchanged dataset → same key → served from scratch, NO rebuild
    operators.R12Queries.knnGraphMemoized(spark, dir.toString).count()
    assert(operators.Shared.memoBuildLedger("knngraph") == built1,
      "unchanged dataset must be served from the memo")
    // APPEND in place: rewrite the table under the SAME path with one
    // extra row (collected first — Spark can't overwrite its own input)
    val cur = spark.read.parquet(tbl.toString)
    val schema = cur.schema
    val rows = cur.collect() ++ cur.limit(1).collect().map(r =>
      Row.fromSeq(r.toSeq.updated(schema.fieldIndex("vec_id"),
        r.getLong(schema.fieldIndex("vec_id")) + 10000L)))
    val appended = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    appended.coalesce(1).write.mode("overwrite").parquet(tbl.toString)
    val key2 = operators.Shared.datasetKey(dir.toString)
    assert(key2 != key1, "the listing digest must change on append")
    operators.R12Queries.knnGraphMemoized(spark, dir.toString).count()
    assert(operators.Shared.memoBuildLedger("knngraph") > built1,
      "a changed dataset must trigger a fresh memo build")
  }
}
