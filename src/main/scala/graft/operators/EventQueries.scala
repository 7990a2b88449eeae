package graft.operators

import graft.{QueryDef, Tables}
import graft.streaming.EventStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-facing queries over the event-time windowing surface
  * ([[graft.streaming.EventStream]]). Both queries run THE SAME code path
  * Structured Streaming executes (`tumblingAgg`/`sessionAgg` accept batch or
  * streaming DataFrames) — the batch run here is what the DuckDB oracle can
  * check; StreamingSpec asserts the streaming run produces identical rows.
  *
  * Timestamp precision: the raw `ts` is nanosecond (read as Long); the
  * event-time column truncates to µs exactly like DuckDB's TIMESTAMP read of
  * the same parquet, so window/session boundaries agree across engines.
  */
object EventQueries {

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q27_tumbling_window",
      (s, d) => EventStream.tumblingAgg(Tables.events(s, d)),
      Some("""SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
              event_type, count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              FROM events GROUP BY 1, 2"""),
      headline = true
    ),

    QueryDef(
      "q28_session_window",
      // session_window merges events with gap < 30 min (a diff of exactly
      // the gap starts a new session — hence >= in the oracle's lag form)
      (s, d) => EventStream.sessionAgg(Tables.events(s, d)),
      Some("""WITH o AS (SELECT user_id, event_id, value, ts,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
                FROM events),
              sess AS (SELECT user_id, event_id, value,
                sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM o)
              SELECT user_id, min(event_id) AS first_event,
                     max(event_id) AS last_event, count(*) AS n_events,
                     CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              FROM sess GROUP BY user_id, sid""")
    ),

    QueryDef(
      "q77_sliding_window",
      // hopping windows (size 2 min, slide 1 min): every event lands in
      // exactly two epoch-aligned windows; the oracle unnests the two
      // window starts per event and re-aggregates.
      (s, d) => EventStream.slidingAgg(Tables.events(s, d)),
      Some("""SELECT ws AS window_start, event_type, count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              FROM (SELECT event_type, value,
                      unnest([time_bucket(INTERVAL '1 minute', ts),
                              time_bucket(INTERVAL '1 minute', ts) - INTERVAL '1 minute']) AS ws
                    FROM events)
              GROUP BY 1, 2""")
    ),

    QueryDef(
      "q78_stream_static_join",
      // batch run of the stream-static enrichment join code path (the
      // streaming run is asserted equal in StreamingSpec)
      (s, d) => EventStream.enrichedSegmentAgg(
        Tables.events(s, d), Tables.customer(s, d)),
      Some("""SELECT c_mktsegment, event_type, count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              FROM events JOIN customer ON user_id = c_custkey
              GROUP BY 1, 2""")
    ),

    QueryDef(
      "q54_interval_join",
      // batch run of the stream-stream interval join code path (the
      // streaming run is asserted equal in StreamingSpec)
      (s, d) => EventStream.viewClickJoin(Tables.events(s, d)),
      Some("""SELECT v.user_id AS user_id, v.event_id AS view_id,
                     c.event_id AS click_id
              FROM (SELECT * FROM events WHERE event_type = 'view') v
              JOIN (SELECT * FROM events WHERE event_type = 'click') c
                ON v.user_id = c.user_id
               AND c.ts >= v.ts
               AND c.ts <= v.ts + INTERVAL '10 minutes'""")
    ),

    QueryDef(
      "q117_outer_interval_join",
      // left-outer stream-stream join shape (funnel drop-off): views that
      // never converted inside the horizon keep a NULL click_id. Batch run
      // here; StreamingSpec covers the watermarked streaming semantics.
      (s, d) => EventStream.viewClickJoinOuter(Tables.events(s, d)),
      Some("""SELECT v.user_id AS user_id, v.event_id AS view_id,
                     c.event_id AS click_id
              FROM (SELECT * FROM events WHERE event_type = 'view') v
              LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
                ON v.user_id = c.user_id
               AND c.ts >= v.ts
               AND c.ts <= v.ts + INTERVAL '10 minutes'""")
    ),

    QueryDef(
      "q58_funnel",
      // staged funnel: view → click-after-first-view → purchase-after-that-
      // click, per user; three keyed aggregations (each one shuffle on
      // user_id), comparisons on µs-truncated event time (both engines see
      // identical values)
      (s, d) => {
        val e = Tables.events(s, d).withColumn("tsu", expr("ts div 1000"))
        val fv = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("tsu")).as("fv"))
        val ca = e.filter(col("event_type") === "click")
          .join(fv, "user_id").filter(col("tsu") >= col("fv"))
          .groupBy("user_id").agg(min(col("tsu")).as("ca"))
        val pa = e.filter(col("event_type") === "purchase")
          .join(ca, "user_id").filter(col("tsu") >= col("ca"))
          .groupBy("user_id").agg(min(col("tsu")).as("pa"))
        fv.join(ca.select(col("user_id"), lit(1).as("has_c")), Seq("user_id"), "left_outer")
          .join(pa.select(col("user_id"), lit(1).as("has_p")), Seq("user_id"), "left_outer")
          .withColumn("stage",
            when(col("has_p").isNotNull, 3L)
              .when(col("has_c").isNotNull, 2L).otherwise(1L))
          .groupBy("stage").agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH fv AS (SELECT user_id, min(epoch_us(ts)) AS fv FROM events
                          WHERE event_type = 'view' GROUP BY user_id),
              ca AS (SELECT e.user_id, min(epoch_us(e.ts)) AS ca
                     FROM events e JOIN fv ON e.user_id = fv.user_id
                     WHERE e.event_type = 'click' AND epoch_us(e.ts) >= fv.fv
                     GROUP BY e.user_id),
              pa AS (SELECT e.user_id, min(epoch_us(e.ts)) AS pa
                     FROM events e JOIN ca ON e.user_id = ca.user_id
                     WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= ca.ca
                     GROUP BY e.user_id)
              SELECT CAST(CASE WHEN pa.user_id IS NOT NULL THEN 3
                               WHEN ca.user_id IS NOT NULL THEN 2
                               ELSE 1 END AS BIGINT) AS stage,
                     count(*) AS n_users
              FROM fv
              LEFT JOIN ca ON fv.user_id = ca.user_id
              LEFT JOIN pa ON fv.user_id = pa.user_id
              GROUP BY 1""")
    ),

    QueryDef(
      "q55_pivot",
      // wide-format pivot: per-user event counts by type (explicit value
      // list — at scale an unbounded pivot would need a distinct-values
      // pass; pinning the columns keeps it one aggregation)
      (s, d) =>
        Tables.events(s, d)
          .groupBy("user_id")
          .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
          .count()
          .na.fill(0L),
      Some("""SELECT user_id,
              CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
              CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
              CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
              CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
              FROM events GROUP BY user_id""")
    ),

    QueryDef(
      "q29_asof_join",
      // As-of join: each click matched to the latest view of the same user
      // at or before it. Spark lacks a native as-of operator; the scalable
      // form is the tagged union + keyed window (ONE shuffle on user_id +
      // in-partition sort — never a range cross-join). Ties at equal µs
      // order views (tag 0) before clicks (tag 1), matching ASOF's <=.
      // Comparison runs on µs-truncated time in both engines (ns parquet is
      // read µs-truncated by DuckDB). Caveat: if two VIEWS of one user ever
      // collided at the same µs, our tie-break (highest event_id wins) is
      // deterministic while DuckDB ASOF picks an arbitrary row — verified
      // collision-free in this corpus at every sf.
      (s, d) => {
        val e = Tables.events(s, d).withColumn("tsu", expr("ts div 1000"))
        val u = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("tsu"), lit(0).as("tag"),
            col("event_id").as("id"))
          .unionByName(e.filter(col("event_type") === "click")
            .select(col("user_id"), col("tsu"), lit(1).as("tag"),
              col("event_id").as("id")))
        val w = Window.partitionBy("user_id")
          .orderBy(col("tsu").asc, col("tag").asc, col("id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        u.withColumn("view_id",
            last(when(col("tag") === 0, col("id")), ignoreNulls = true).over(w))
          .filter(col("tag") === 1 && col("view_id").isNotNull)
          .select(col("id").as("click_id"), col("user_id"), col("view_id"))
      },
      Some("""SELECT c.event_id AS click_id, c.user_id AS user_id,
                     v.event_id AS view_id
              FROM (SELECT * FROM events WHERE event_type = 'click') c
              ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
                ON c.user_id = v.user_id AND v.ts <= c.ts""")
    ),

    QueryDef(
      "q255_asof_custom_exec",
      // q29's as-of, answered by the CUSTOM PHYSICAL OPERATOR instead of
      // the tagged-union window: `AsOfJoinNode` → `AsOfJoinStrategy` →
      // `AsOfJoinExec` (graft.plans — the custom-operator ladder's last
      // rung: logical node + planner strategy + SparkPlan, registered at
      // runtime via extraStrategies by AsOfBridge). The exec declares
      // hash clustering + (key, ts) ordering and EnsureRequirements
      // plans the exchanges and sorts; each co-partition pair then
      // merges in ONE linear pass with O(1) state — no union
      // materialize, no window buffer, LEFT semantics (unmatched clicks
      // keep NULL view_id — pinned by the oracle's ASOF LEFT JOIN).
      // Views pre-aggregate to unique (user, µs) with q29's tie-break,
      // so the merge is deterministic; AsOfJoinSpec proves row equality
      // with q29's window form and the plan shape.
      (s, d) => {
        val e = Tables.events(s, d).withColumn("tsu", expr("ts div 1000"))
        val views = e.filter(col("event_type") === "view")
          .groupBy(col("user_id").as("vuser"), col("tsu").as("vts"))
          .agg(max(col("event_id")).as("view_id"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("tsu"))
        org.apache.spark.sql.graftshim.AsOfBridge
          .sortedAsOf(clicks, "user_id", "tsu", views, "vuser", "vts")
          .select("click_id", "user_id", "view_id")
      },
      Some("""WITH vraw AS (SELECT user_id AS vuser, epoch_us(ts) AS vts,
                  event_id FROM events WHERE event_type = 'view'),
              v AS (SELECT vuser, vts, max(event_id) AS view_id
                FROM vraw GROUP BY 1, 2),
              c AS (SELECT event_id AS click_id, user_id,
                  epoch_us(ts) AS tsu
                FROM events WHERE event_type = 'click')
              SELECT c.click_id, c.user_id, v.view_id
              FROM c ASOF LEFT JOIN v
                ON c.user_id = v.vuser AND v.vts <= c.tsu""")
    ),

    QueryDef(
      "q150_incremental_mv",
      // Incremental materialized-view maintenance, driver-visible end to
      // end: the events table replays as two deterministic micro-batches
      // (event_id mod 2 — the arrival order any replayed log could give);
      // each batch computes ONLY its own delta aggregate and merges it
      // additively into a catalog-backed MV via DB.upsert — the same
      // primitive the streaming foreachBatch sink uses (StreamingSpec's MV
      // test covers the live-stream run of this exact loop). count/sum are
      // self-mergeable, so each maintenance step costs O(delta + |MV|) and
      // never rescans prior batches' raw events — the property that makes
      // an MV worth having at 100 TB. The maintained table must equal the
      // one-shot batch aggregate over ALL events, which is the oracle.
      (s, d) => {
        import graft.catalog.DB
        import org.apache.spark.sql.types.{DecimalType, StructType}
        val mvSchema = StructType(EventStream.tumblingAgg(Tables.events(s, d))
          .schema.fields.map(_.copy(nullable = false)))
        // FIXED scratch root per (tmpdir, pid, sf), wiped at entry:
        // repeated invocations must start from an empty MV (upsert would
        // otherwise merge into the previous run's rows) and must not
        // accumulate one temp directory per run; the pid keeps concurrent
        // sessions off each other's MV state
        val root = Shared.scratchRoot("q150", d)
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.delete)
        }
        java.nio.file.Files.createDirectories(root)
        val db = DB.init(root.toString, Seq("mv" -> mvSchema))(s)
        val tmp = s"$root/deltas"
        // ONE raw scan prepares BOTH micro-batch deltas (the replay FEED,
        // not the maintenance): aggregating with the batch tag as an
        // extra group column and writing partitioned by it costs one
        // events pass where per-batch aggregation would pay a full scan
        // per batch. The deltas are MV-sized parquet; every maintenance
        // step below reads only its own partition and NEVER rescans raw
        // events — the property that makes an MV worth having at 100 TB.
        EventStream.tumblingAgg(
            Tables.events(s, d)
              .withColumn("batch", pmod(col("event_id"), lit(2))),
            extraGroup = Seq("batch"))
          .write.mode("overwrite").partitionBy("batch").parquet(tmp)
        (0 until 2).foreach { b =>
          val delta = s.read.parquet(tmp).filter(col("batch") === b)
            .select("window_start", "event_type", "n", "sum_value")
          // additive merge: re-aggregate MV ⊎ delta. Exactness: each
          // delta's sum_value is an exact DECIMAL(18,2) rendered as
          // double; the cast below recovers that exact decimal (repr
          // error << 0.005), so the merged total is the same decimal the
          // one-shot aggregation produces.
          val merged = db.table("mv").unionByName(delta)
            .groupBy("window_start", "event_type")
            .agg(sum(col("n")).as("n"),
              sum(col("sum_value").cast(DecimalType(18, 2)))
                .cast("double").as("sum_value"))
          // upsert stages-and-validates its input in ONE evaluation, so
          // the lazy merge plan is computed exactly once (DB.upsert)
          db.upsert("mv", merged, Seq("window_start", "event_type"))
        }
        db.table("mv")
      },
      Some("""SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
              event_type, count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              FROM events GROUP BY 1, 2""")
    ),

    QueryDef(
      "q156_partitioned_mv",
      // q150's MV maintenance at the 100 TB merge grain: the view is
      // DIRECTORY-PARTITIONED on event_type and each batch merges through
      // DB.upsertPartitioned, so only the partitions the delta touches
      // rewrite — merge cost O(touched partitions), not O(view). The
      // merged rows are computed ONLY for the delta's keys (old rows of
      // those keys ⊎ delta, re-aggregated); untouched keys inside touched
      // partitions survive via upsertPartitioned's anti-join, untouched
      // partitions stay byte-identical (DBSpec proves that property).
      // Oracle: the maintained view must equal the one-shot aggregate.
      (s, d) => {
        import graft.catalog.DB
        import org.apache.spark.sql.types.{DecimalType, StructType}
        val mvSchema = StructType(EventStream.tumblingAgg(Tables.events(s, d))
          .schema.fields.map(_.copy(nullable = false)))
        val root = Shared.scratchRoot("q156", d)
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.delete)
        }
        java.nio.file.Files.createDirectories(root)
        val db = DB.init(root.toString, Seq("mv" -> mvSchema))(s)
        val tmp = s"$root/deltas"
        // one raw scan prepares both micro-batch deltas (see q150)
        EventStream.tumblingAgg(
            Tables.events(s, d)
              .withColumn("batch", pmod(col("event_id"), lit(2))),
            extraGroup = Seq("batch"))
          .write.mode("overwrite").partitionBy("batch").parquet(tmp)
        (0 until 2).foreach { b =>
          val delta = s.read.parquet(tmp).filter(col("batch") === b)
            .select("window_start", "event_type", "n", "sum_value")
          // fully-merged rows for the DELTA's keys only (the unit a
          // partition-scoped merge ships); exactness as in q150
          val merged = db.table("mv")
            .join(delta.select("window_start", "event_type").distinct(),
              Seq("window_start", "event_type"), "left_semi")
            .unionByName(delta)
            .groupBy("window_start", "event_type")
            .agg(sum(col("n")).as("n"),
              sum(col("sum_value").cast(DecimalType(18, 2)))
                .cast("double").as("sum_value"))
            .select("window_start", "event_type", "n", "sum_value")
          // upsertPartitioned stages-and-validates its input in ONE
          // evaluation, so the lazy merge plan is computed exactly once
          db.upsertPartitioned("mv", merged,
            Seq("event_type"), Seq("window_start", "event_type"))
        }
        db.table("mv")
      },
      Some("""SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
              event_type, count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              FROM events GROUP BY 1, 2""")
    ),

    QueryDef(
      "q162_compact_partitions",
      // Partition-preserving compaction, driver-visible end to end (the
      // q139/q156 pattern for the DB facade): the events table lands in a
      // directory-partitioned layout via TWO appends — each partition now
      // holds two small files, the streaming-ingest shape — then
      // DB.compactPartitions rewrites every partition to one file behind
      // ONE snapshot-manifest swap (readers old-or-new throughout;
      // DBSpec proves the crash windows). The aggregate reads the
      // compacted layout; the oracle aggregates the raw events — so row
      // loss, duplication, or partition mixing in the compaction path
      // breaks the hash. The committed file counts are emitted as columns
      // for the oracle to PIN as literals: 5 event-type partitions × 2
      // appended files → 5 × 1 compacted — so the compaction must
      // actually halve the file count, not just preserve rows.
      (s, d) => {
        import graft.catalog.DB
        import org.apache.spark.sql.types.StructType
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("value"))
        val schema = StructType(ev.schema.fields.map(_.copy(nullable = false)))
        val root = Shared.scratchRoot("q162", d)
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.delete)
        }
        java.nio.file.Files.createDirectories(root)
        val db = DB.init(root.toString, Seq("ev" -> schema))(s)
        (0 until 2).foreach { b =>
          db.writePartitioned("ev",
            ev.filter(pmod(col("event_id"), lit(2)) === b),
            Seq("event_type"))
        }
        val (nBefore, nAfter) = db.compactPartitions("ev")
        db.table("ev")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast("double").as("sum_value"))
          .withColumn("files_before", lit(nBefore.toLong))
          .withColumn("files_after", lit(nAfter.toLong))
      },
      Some("""SELECT event_type, count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
              CAST(10 AS BIGINT) AS files_before,
              CAST(5 AS BIGINT) AS files_after
              FROM events GROUP BY 1""")
    ),

    QueryDef(
      "q128_range_join_bucketed",
      // equi-key-LESS point-in-interval join: every view (any user) that
      // happened inside any user's 15-minute first-error incident window.
      // The naive form is a pure theta join — BroadcastNestedLoopJoin,
      // O(|views|·|incidents|) — which [[operators.RangeJoin]] re-expresses
      // as a bucketized equi-join (one shuffle; see its scaladoc for the
      // cost model). Timestamps compare in µs on both engines (ts DIV 1000
      // ≡ DuckDB's TIMESTAMP read of the same nanosecond parquet).
      (s, d) => {
        val us = Tables.events(s, d).withColumn("tus", expr("ts DIV 1000"))
        val incidents = us.filter(col("event_type") === "error")
          .groupBy(col("user_id").as("iuser"))
          .agg(min("tus").as("istart"))
          .withColumn("iend", col("istart") + lit(900000000L))
        val views = us.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"),
            col("user_id").as("vuser"), col("tus"))
        RangeJoin.pointInInterval(views, "tus",
            incidents, "istart", "iend", bucketWidth = 900000000L)
          .select("iuser", "view_id", "vuser")
      },
      Some("""WITH inc AS (SELECT user_id AS iuser, min(ts) AS istart
                FROM events WHERE event_type = 'error' GROUP BY 1)
              SELECT iuser, v.event_id AS view_id, v.user_id AS vuser
              FROM (SELECT * FROM events WHERE event_type = 'view') v
              JOIN inc ON v.ts >= istart
                      AND v.ts <= istart + INTERVAL 15 MINUTE""")
    ),

    // ── TIME TRAVEL: snapshot-version diff over the maintained MV ────────
    QueryDef(
      "q185_mv_time_travel_diff",
      // The read side of the snapshot lifecycle (r9: manifests are now
      // VERSIONED and retained — `_snapshots/vN.json` — until
      // DB.expireSnapshots releases them): maintain q156's partitioned
      // MV through two merge commits, then answer "what changed between
      // snapshot v1 and now?" by reading BOTH versions through
      // DB.tableAsOf / DB.table and joining — the audit/debug query
      // every incremental pipeline eventually needs, impossible without
      // retention because v1's superseded files would have been swept
      // at the v2 commit. Old and new are each MV-sized; the diff is
      // one equi-join; raw events are scanned once (delta prep), never
      // re-read for the diff itself.
      //
      // Oracle: recompute both states from raw events (v1 ≡ aggregate
      // of batch-0 events, current ≡ aggregate of all — the q150/q156
      // batch-replay convention) and diff them identically. Any defect
      // in manifest versioning, retention, or tableAsOf's file pinning
      // surfaces as a wrong old-side value and breaks the hash.
      (s, d) => {
        import graft.catalog.DB
        import org.apache.spark.sql.types.{DecimalType, StructType}
        val mvSchema = StructType(EventStream.tumblingAgg(Tables.events(s, d))
          .schema.fields.map(_.copy(nullable = false)))
        val root = Shared.scratchRoot("q185", d)
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.delete)
        }
        java.nio.file.Files.createDirectories(root)
        val db = DB.init(root.toString, Seq("mv" -> mvSchema))(s)
        val tmp = s"$root/deltas"
        EventStream.tumblingAgg(
            Tables.events(s, d)
              .withColumn("batch", pmod(col("event_id"), lit(2))),
            extraGroup = Seq("batch"))
          .write.mode("overwrite").partitionBy("batch").parquet(tmp)
        (0 until 2).foreach { b =>
          val delta = s.read.parquet(tmp).filter(col("batch") === b)
            .select("window_start", "event_type", "n", "sum_value")
          val merged = db.table("mv")
            .join(delta.select("window_start", "event_type").distinct(),
              Seq("window_start", "event_type"), "left_semi")
            .unionByName(delta)
            .groupBy("window_start", "event_type")
            .agg(sum(col("n")).as("n"),
              sum(col("sum_value").cast(DecimalType(18, 2)))
                .cast("double").as("sum_value"))
            .select("window_start", "event_type", "n", "sum_value")
          db.upsertPartitioned("mv", merged,
            Seq("event_type"), Seq("window_start", "event_type"))
        }
        val old = db.tableAsOf("mv", 1L)
          .select(col("window_start"), col("event_type"),
            col("n").as("n_old"), col("sum_value").as("sum_old"))
        db.table("mv")
          .select(col("window_start"), col("event_type"),
            col("n").as("n_new"), col("sum_value").as("sum_new"))
          .join(old, Seq("window_start", "event_type"), "left_outer")
          .filter(col("n_old").isNull || col("n_old") =!= col("n_new") ||
            col("sum_old") =!= col("sum_new"))
      },
      Some("""WITH full_v AS (
                SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
                  event_type, count(*) AS n,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
                FROM events GROUP BY 1, 2),
              b0 AS (
                SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
                  event_type, count(*) AS n,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
                FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2)
              SELECT f.window_start, f.event_type,
                f.n AS n_new, f.sum_value AS sum_new,
                b0.n AS n_old, b0.sum_value AS sum_old
              FROM full_v f
              LEFT JOIN b0 ON f.window_start = b0.window_start
                          AND f.event_type = b0.event_type
              WHERE b0.n IS NULL OR b0.n != f.n
                 OR b0.sum_value != f.sum_value""")
    ),

    // ── SCD2 dimension history (history-preserving MERGE) ─────────────────
    QueryDef(
      "q203_scd2_history",
      // The warehouse dimension-history pattern DB.upsert (SCD1) cannot
      // express: [[graft.catalog.DB.upsertScd2]] closes changed rows
      // (valid_to = version) and appends new current rows, while
      // attribute-identical delta rows are a NO-OP — re-sending an
      // unchanged dimension must not spawn history. The fixture loads
      // the customer dimension at v1, then applies a v2 delta where
      // keys ≡0 (mod 3) change balance (+100) and keys ≡1 re-send
      // UNCHANGED; the oracle reconstructs the exact expected history
      // closed-form, so change detection, closure stamping, the no-op
      // rule, and the atomic rewrite all sit under the hash match.
      // Scale shape: one left-outer join of the delta against current
      // rows (keyed), two semi/anti splits, one commit — and the merge
      // drops onto upsertPartitioned's touched-partition machinery when
      // the dimension is partitioned.
      (s, d) => {
        import graft.catalog.DB
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("c_custkey", LongType, nullable = false),
          StructField("c_acctbal", DoubleType, nullable = false),
          StructField("c_mktsegment", StringType, nullable = false),
          StructField("valid_from", LongType, nullable = false),
          StructField("valid_to", LongType, nullable = false)))
        val root = Shared.scratchRoot("q203", d)
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.delete)
        }
        java.nio.file.Files.createDirectories(root)
        val db = DB.init(root.toString, Seq("dim" -> schema))(s)
        val base = Tables.customer(s, d)
          .select(col("c_custkey").cast("long").as("c_custkey"),
            col("c_acctbal"), col("c_mktsegment"))
        db.upsertScd2("dim", base, Seq("c_custkey"), version = 1L)
        val delta = base
          .filter(col("c_custkey") % 3 <= 1)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 3 === 0, col("c_acctbal") + 100.0)
              .otherwise(col("c_acctbal")))
        db.upsertScd2("dim", delta, Seq("c_custkey"), version = 2L)
        db.table("dim")
          .filter(col("c_custkey") < 100)
          .select("c_custkey", "c_acctbal", "valid_from", "valid_to")
      },
      Some("""WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
                  c_acctbal FROM customer WHERE c_custkey < 100)
              SELECT c_custkey, c_acctbal, CAST(1 AS BIGINT) AS valid_from,
                CAST(CASE WHEN c_custkey % 3 = 0 THEN 2
                  ELSE 9223372036854775807 END AS BIGINT) AS valid_to
              FROM c
              UNION ALL
              SELECT c_custkey, c_acctbal + 100.0, CAST(2 AS BIGINT),
                CAST(9223372036854775807 AS BIGINT)
              FROM c WHERE c_custkey % 3 = 0""")
    ),

    // ── CDC: change-data-capture diff between snapshot versions ───────────
    QueryDef(
      "q204_snapshot_cdc",
      // The changelog read every incremental consumer needs ("what
      // changed since the version I last processed"): drive a dimension
      // through upsert v1 (initial load) → upsert v2 (balance change for
      // keys ≡0 mod 3, brand-new synthetic keys for ≡0 mod 5) → DELETE
      // v3 (keys ≡0 mod 7 — the MERGE family's third verb, new this
      // round), then ask [[graft.catalog.DB.diff]] for v1→current:
      // one full outer join of two retained snapshots classifying rows
      // I / U / D with before/after values; unchanged keys emit nothing.
      // The oracle reconstructs the exact expected changelog closed-form
      // — note a key both updated (v2) and deleted (v3) must surface as
      // D with its ORIGINAL before-value, which only falls out if diff
      // really reads the retained v1 files, not any later state.
      (s, d) => {
        import graft.catalog.DB
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("c_custkey", LongType, nullable = false),
          StructField("c_acctbal", DoubleType, nullable = false)))
        val root = Shared.scratchRoot("q204", d)
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.delete)
        }
        java.nio.file.Files.createDirectories(root)
        val db = DB.init(root.toString, Seq("dim" -> schema))(s)
        val base = Tables.customer(s, d)
          .filter(col("c_custkey") < 200)
          .select(col("c_custkey").cast("long").as("c_custkey"),
            col("c_acctbal"))
        db.upsert("dim", base, Seq("c_custkey"))                       // v1
        val delta = base.filter(col("c_custkey") % 3 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100.0)
          .unionByName(base.filter(col("c_custkey") % 5 === 0)
            .select((col("c_custkey") + 10000L).as("c_custkey"),
              col("c_acctbal")))
        db.upsert("dim", delta, Seq("c_custkey"))                      // v2
        db.delete("dim",
          base.filter(col("c_custkey") % 7 === 0).select("c_custkey"),
          Seq("c_custkey"))                                            // v3
        db.diff("dim", Seq("c_custkey"), vOld = 1L)
      },
      Some("""WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_acctbal AS b
                FROM customer WHERE c_custkey < 200)
              SELECT 'D' AS op, k AS c_custkey, b AS before_c_acctbal,
                CAST(NULL AS DOUBLE) AS after_c_acctbal
              FROM c WHERE k % 7 = 0
              UNION ALL
              SELECT 'U', k, b, b + 100.0 FROM c
              WHERE k % 3 = 0 AND k % 7 != 0
              UNION ALL
              SELECT 'I', k + 10000, CAST(NULL AS DOUBLE), b FROM c
              WHERE k % 5 = 0""")
    ),

    // ── OLS TREND + FORECAST per group (closed-form linear regression) ────
    QueryDef(
      "q205_ols_forecast",
      // The capacity-planning query every metrics warehouse runs: fit a
      // least-squares line to each event type's weekly volume and
      // forecast the next week. Closed-form OLS — slope = (nΣxy−ΣxΣy) /
      // (nΣx²−(Σx)²) — over EXACT BIGINT sums (x = epoch week index,
      // y = weekly count), so both engines derive bit-identical doubles
      // from identical integers with the identical division order; no
      // iterative fitting, no RNG. Trains in ONE aggregation per group —
      // how linear models should train at any scale (the q173 argument,
      // regression form).
      (s, d) => {
        val weekNs = 604800L * 1000L * 1000L * 1000L
        val wk = Tables.events(s, d)
          .select(col("event_type"), expr(s"ts div ${weekNs}L").as("x"))
          .groupBy("event_type", "x").agg(count(lit(1)).as("y"))
        wk.groupBy("event_type").agg(
            count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            max(col("x")).as("xmax"))
          .withColumn("slope",
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .withColumn("intercept",
            (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
              col("n").cast("double"))
          .withColumn("forecast_next",
            col("intercept") + col("slope") * (col("xmax") + 1).cast("double"))
          .select("event_type", "n", "slope", "intercept", "forecast_next")
      },
      Some("""WITH wk AS (SELECT event_type,
                  epoch_us(ts) // 604800000000 AS x, count(*) AS y
                FROM events GROUP BY 1, 2),
              st AS (SELECT event_type, count(*) AS n,
                  sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
                  sum(x*x) AS sxx, max(x) AS xmax
                FROM wk GROUP BY 1),
              fit AS (SELECT event_type, CAST(n AS BIGINT) AS n, xmax,
                  CAST(n*sxy - sx*sy AS DOUBLE)
                    / CAST(n*sxx - sx*sx AS DOUBLE) AS slope,
                  sx, sy
                FROM st)
              SELECT event_type, n, slope,
                (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
                  / CAST(n AS DOUBLE) AS intercept,
                (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
                  / CAST(n AS DOUBLE)
                  + slope * CAST(xmax + 1 AS DOUBLE) AS forecast_next
              FROM fit""")
    ),

    // ── Z-SCORE ANOMALY DETECTION (exact-integer moment inputs) ───────────
    QueryDef(
      "q206_anomaly_zscore",
      // The observability op next to the trend fit: flag events whose
      // value sits > 3σ from its type's mean. The moments come from
      // EXACT integer sums (value in cents via the DECIMAL(18,2) cast —
      // the q59 variance discipline), so μ and σ² are identical doubles
      // in both engines and the 3σ comparison lands identically even at
      // the boundary. One aggregation + one broadcast-sized join of
      // per-type stats back onto the stream; reported per type so the
      // output stays bounded: counts plus the worst offender.
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("event_type"),
            (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
              .cast("long").as("c"))
        val st = ev.groupBy("event_type").agg(
          count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("qc"))
        ev.join(broadcast(st), "event_type")
          .withColumn("mu", col("sc").cast("double") / col("n").cast("double"))
          .withColumn("sig2",
            (col("qc").cast("double") -
              col("sc").cast("double") * col("sc").cast("double") /
                col("n").cast("double")) / col("n").cast("double"))
          .withColumn("dev2",
            (col("c").cast("double") - col("mu")) *
              (col("c").cast("double") - col("mu")))
          .withColumn("is_anom", (col("dev2") > col("sig2") * 9.0).cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("is_anom")).cast("long").as("n_anomalies"),
            max(when(col("is_anom") === 1, col("c"))).as("worst_cents"))
      },
      Some("""WITH ev AS (SELECT event_id, event_type,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                FROM events),
              st AS (SELECT event_type, count(*) AS n, sum(c) AS sc,
                  sum(c*c) AS qc
                FROM ev GROUP BY 1),
              j AS (SELECT ev.event_type, c,
                  CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                  (CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                    / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS sig2
                FROM ev JOIN st ON ev.event_type = st.event_type),
              f AS (SELECT event_type, c,
                  CASE WHEN (CAST(c AS DOUBLE) - mu) * (CAST(c AS DOUBLE) - mu)
                    > sig2 * 9.0 THEN 1 ELSE 0 END AS is_anom
                FROM j)
              SELECT event_type, count(*) AS n_events,
                CAST(sum(is_anom) AS BIGINT) AS n_anomalies,
                max(CASE WHEN is_anom = 1 THEN c END) AS worst_cents
              FROM f GROUP BY 1""")
    ),

    // ── RETENTION COHORTS: the classic product-analytics matrix ───────────
    QueryDef(
      "q194_retention_cohorts",
      // The cohort-retention matrix (users bucketed by first-seen week ×
      // weeks-since-cohort, distinct active users per cell) — the one
      // standard event-analytics shape the library was missing next to
      // funnels (q58) and sessionization (q28). Week buckets are exact
      // integer epoch-week indices (ts is the epoch-nano BIGINT contract;
      // DuckDB mirrors via epoch_us // 604800e6), so both engines bucket
      // identically with no calendar/timezone semantics in play.
      //
      // Shape, and why it scales: one distinct on (user, week) — the
      // activity table, ≪ events; a user-grain min for cohorts; one
      // keyed join on user_id; one final aggregation. Everything after
      // the first distinct is user-grain, the analytics-warehouse shape.
      (s, d) => {
        val weekNs = 604800L * 1000L * 1000L * 1000L
        val act = Tables.events(s, d)
          .select(col("user_id"), expr(s"ts div ${weekNs}L").as("wk"))
          .distinct()
        val cohort = act.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
        act.join(cohort, "user_id")
          .withColumn("offset_weeks", col("wk") - col("cohort_week"))
          .groupBy("cohort_week", "offset_weeks")
          .agg(countDistinct(col("user_id")).as("n_users"))
      },
      Some("""WITH act AS (SELECT DISTINCT user_id,
                  epoch_us(ts) // 604800000000 AS wk FROM events),
              coh AS (SELECT user_id, min(wk) AS cohort_week
                FROM act GROUP BY 1)
              SELECT cohort_week, wk - cohort_week AS offset_weeks,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
              FROM act JOIN coh USING (user_id)
              GROUP BY 1, 2""")
    ),

    // ── MARKOV NEXT-EVENT TRANSITION MODEL ────────────────────────────────
    QueryDef(
      "q213_markov_transitions",
      // The behavioral-model query product analytics runs after funnels
      // (q58) and sessions (q28): the first-order Markov transition
      // matrix over per-user event streams — P(next = b | current = a)
      // from exact adjacent-pair counts. Adjacency is pinned by the
      // (ts, event_id) total order (the q62 lag discipline), so both
      // engines see identical pair streams even under timestamp ties.
      //
      // Shape, and why it scales: ONE user-partitioned window (lead) —
      // the stream shuffles once on user_id — then a hash aggregation
      // into the |types|² transition matrix, a model-sized table; the
      // row-total attach is a broadcast join onto that model, never a
      // second pass over events.
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val cnt = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n_trans"))
        val tot = cnt.groupBy("from_type")
          .agg(sum(col("n_trans")).as("n_from"))
        cnt.join(broadcast(tot), "from_type")
          .select(col("from_type"), col("to_type"), col("n_trans"),
            col("n_from"),
            (col("n_trans").cast("double") / col("n_from").cast("double"))
              .as("p"))
      },
      Some("""WITH seq AS (SELECT user_id, event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS to_type
                FROM events),
              cnt AS (SELECT event_type AS from_type, to_type,
                  count(*) AS n_trans
                FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
              tot AS (SELECT from_type, sum(n_trans) AS n_from
                FROM cnt GROUP BY 1)
              SELECT from_type, to_type, CAST(n_trans AS BIGINT) AS n_trans,
                CAST(n_from AS BIGINT) AS n_from,
                CAST(n_trans AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
              FROM cnt JOIN tot USING (from_type)""")
    ),

    // ── FIRST/LAST-TOUCH PURCHASE ATTRIBUTION ─────────────────────────────
    QueryDef(
      "q214_touch_attribution",
      // The marketing-attribution query: credit each purchase to the
      // user's FIRST touch (earliest prior non-purchase event) and LAST
      // touch (most recent prior non-purchase event), reporting per
      // channel the purchase count and exact attributed revenue in
      // cents. Both credits come from ONE user-partitioned running
      // window over the (ts, event_id)-ordered stream — first/last with
      // ignoreNulls over a ROWS frame ending one row before the current
      // — so a purchase with no prior touch lands in the '(none)'
      // channel and totals are conserved.
      //
      // Shape, and why it scales: one shuffle on user_id feeds both
      // window credits in a single pass; the two per-channel rollups
      // aggregate a purchases-only projection into channel-bounded
      // tables and meet in a model-sized full outer join.
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val touch = when(col("event_type") =!= "purchase", col("event_type"))
        val pur = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"),
            (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
              .as("cents"))
          .withColumn("first_ch",
            coalesce(first(touch, ignoreNulls = true).over(w), lit("(none)")))
          .withColumn("last_ch",
            coalesce(last(touch, ignoreNulls = true).over(w), lit("(none)")))
          .filter(col("event_type") === "purchase")
        val byLast = pur.groupBy(col("last_ch").as("channel"))
          .agg(count(lit(1)).as("n_last"),
            sum(col("cents")).as("rev_last_cents"))
        val byFirst = pur.groupBy(col("first_ch").as("channel"))
          .agg(count(lit(1)).as("n_first"),
            sum(col("cents")).as("rev_first_cents"))
        byLast.join(byFirst, Seq("channel"), "full_outer")
          .select(col("channel"),
            coalesce(col("n_last"), lit(0L)).as("n_last"),
            coalesce(col("rev_last_cents"), lit(0L)).as("rev_last_cents"),
            coalesce(col("n_first"), lit(0L)).as("n_first"),
            coalesce(col("rev_first_cents"), lit(0L)).as("rev_first_cents"))
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS tu, event_id,
                  event_type,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                  CASE WHEN event_type <> 'purchase' THEN event_type END
                    AS touch
                FROM events),
              cr AS (SELECT *,
                  coalesce(first_value(touch IGNORE NULLS) OVER w, '(none)')
                    AS first_ch,
                  coalesce(last_value(touch IGNORE NULLS) OVER w, '(none)')
                    AS last_ch
                FROM ev
                WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
              pur AS (SELECT * FROM cr WHERE event_type = 'purchase'),
              bl AS (SELECT last_ch AS channel, count(*) AS n_last,
                  sum(cents) AS rev_last_cents FROM pur GROUP BY 1),
              bf AS (SELECT first_ch AS channel, count(*) AS n_first,
                  sum(cents) AS rev_first_cents FROM pur GROUP BY 1)
              SELECT coalesce(bl.channel, bf.channel) AS channel,
                CAST(coalesce(n_last, 0) AS BIGINT) AS n_last,
                CAST(coalesce(rev_last_cents, 0) AS BIGINT)
                  AS rev_last_cents,
                CAST(coalesce(n_first, 0) AS BIGINT) AS n_first,
                CAST(coalesce(rev_first_cents, 0) AS BIGINT)
                  AS rev_first_cents
              FROM bl FULL OUTER JOIN bf ON bl.channel = bf.channel""")
    ),

    // ── SEASONAL-NAIVE FORECAST (day-of-week profile + holdout error) ─────
    QueryDef(
      "q220_seasonal_forecast",
      // The seasonality complement to the linear trend fit (q205):
      // forecast each day of the FINAL week's per-type revenue by the
      // mean of the same weekday over all PRIOR days — the seasonal-
      // naive baseline every forecasting eval starts from — and report
      // the absolute error per (event_type, weekday). Daily totals are
      // exact cents; day index = ts div 86400e9 nanos; weekday =
      // (day + 3) mod 7 (epoch day 0 was a Thursday; 0 = Monday). The
      // forecast is the one pinned sum/count division; actual, forecast
      // and |error| land identically in both engines.
      //
      // Shape, and why it scales: one scan → per-(type, day) exact
      // aggregation (the fact-sized shuffle); the train/holdout split,
      // weekday profile, and error table all run on the days×types
      // model table.
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val dayNs = 86400L * 1000L * 1000L * 1000L
        val daily = Tables.events(s, d)
          .select(col("event_type"), expr(s"ts div ${dayNs}L").as("day"),
            (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
              .as("cents"))
          .groupBy("event_type", "day")
          .agg(sum(col("cents")).as("day_cents"))
        val dmax = daily.agg(max(col("day"))).head.getLong(0)
        val cutoff = dmax - 6
        val prof = daily.filter(col("day") < cutoff)
          .withColumn("dow", (col("day") + 3) % 7)
          .groupBy("event_type", "dow")
          .agg(sum(col("day_cents")).as("sp"), count(lit(1)).as("np"))
        daily.filter(col("day") >= cutoff)
          .withColumn("dow", (col("day") + 3) % 7)
          .join(prof, Seq("event_type", "dow"))
          .withColumn("forecast_cents",
            col("sp").cast("double") / col("np").cast("double"))
          .withColumn("abs_err",
            abs(col("day_cents").cast("double") - col("forecast_cents")))
          .select(col("event_type"), col("dow"),
            col("day_cents").as("actual_cents"), col("forecast_cents"),
            col("abs_err"))
      },
      Some("""WITH daily AS (SELECT event_type,
                  epoch_us(ts) // 86400000000 AS day,
                  sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS day_cents
                FROM events GROUP BY 1, 2),
              mx AS (SELECT max(day) - 6 AS cutoff FROM daily),
              prof AS (SELECT event_type, (day + 3) % 7 AS dow,
                  sum(day_cents) AS sp, count(*) AS np
                FROM daily CROSS JOIN mx WHERE day < cutoff GROUP BY 1, 2)
              SELECT daily.event_type, (day + 3) % 7 AS dow,
                CAST(day_cents AS BIGINT) AS actual_cents,
                CAST(sp AS DOUBLE) / CAST(np AS DOUBLE) AS forecast_cents,
                abs(CAST(day_cents AS DOUBLE)
                  - CAST(sp AS DOUBLE) / CAST(np AS DOUBLE)) AS abs_err
              FROM daily CROSS JOIN mx
                JOIN prof ON daily.event_type = prof.event_type
                  AND (day + 3) % 7 = prof.dow
              WHERE day >= cutoff""")
    ),

    // ── CUSUM CHANGEPOINT DETECTION (exact integer statistic) ─────────────
    QueryDef(
      "q222_cusum_changepoint",
      // The mean-shift detector next to the pointwise z-score (q206):
      // where did each event type's daily volume CHANGE LEVEL? The
      // classic CUSUM argmax — the day d maximizing |prefix_d − d·S/n|
      // — rewritten integer-exact by scaling through n: stat_d =
      // |n·prefix_d − d·S|, every term BIGINT, so argmax and tie-break
      // (earliest day) are engine-identical with zero float drift. Also
      // reports the mean level before/after the cut as the two pinned
      // divisions — the human-readable magnitude of the shift.
      //
      // Shape, and why it scales: one fact-sized aggregation to daily
      // counts; prefix sums and the argmax run per type on the
      // days×types model table (type-partitioned windows, parallel
      // across types, never a global sort).
      (s, d) => {
        val dayNs = 86400L * 1000L * 1000L * 1000L
        val daily = Tables.events(s, d)
          .select(col("event_type"), expr(s"ts div ${dayNs}L").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("y"))
        val wOrd = Window.partitionBy("event_type").orderBy("day")
        val wAll = Window.partitionBy("event_type")
        val wPick = Window.partitionBy("event_type")
          .orderBy(col("stat").desc, col("day").asc)
        daily
          .withColumn("rn", row_number().over(wOrd).cast("long"))
          .withColumn("pref", sum(col("y")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("s", sum(col("y")).over(wAll))
          .withColumn("stat",
            abs(col("n") * col("pref") - col("rn") * col("s")))
          // the cut is BETWEEN days, so the last day is not a candidate
          // (stat is identically 0 there; excluding it also pins the
          // uniform-series edge case away from a 0/0 mean_after)
          .filter(col("rn") < col("n"))
          .withColumn("pick", row_number().over(wPick))
          .filter(col("pick") === 1)
          .select(col("event_type"), col("day").as("cp_day"),
            col("stat").as("cusum_stat"),
            (col("pref").cast("double") / col("rn").cast("double"))
              .as("mean_before"),
            ((col("s") - col("pref")).cast("double") /
              (col("n") - col("rn")).cast("double")).as("mean_after"))
      },
      Some("""WITH daily AS (SELECT event_type,
                  epoch_us(ts) // 86400000000 AS day, count(*) AS y
                FROM events GROUP BY 1, 2),
              pf AS (SELECT event_type, day, y,
                  CAST(row_number() OVER w AS BIGINT) AS rn,
                  sum(y) OVER w AS pref,
                  count(*) OVER (PARTITION BY event_type) AS n,
                  sum(y) OVER (PARTITION BY event_type) AS s
                FROM daily
                WINDOW w AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              st AS (SELECT *, abs(n * pref - rn * s) AS stat FROM pf
                     WHERE rn < n),
              pick AS (SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY stat DESC, day) AS pk FROM st)
              SELECT event_type, day AS cp_day,
                CAST(stat AS BIGINT) AS cusum_stat,
                CAST(pref AS DOUBLE) / CAST(rn AS DOUBLE) AS mean_before,
                CAST(s - pref AS DOUBLE) / CAST(n - rn AS DOUBLE)
                  AS mean_after
              FROM pick WHERE pk = 1""")
    ),

    // ── ROLLING 7-DAY ACTIVE USERS (exact sliding distinct) ───────────────
    QueryDef(
      "q225_rolling_active_users",
      // The DAU/WAU/stickiness board: per day, distinct users that day
      // (DAU), distinct users over the trailing 7 days (WAU), and
      // DAU/WAU. Sliding DISTINCT doesn't decompose into window frames
      // (you can't subtract a leaving day's users — they may remain via
      // another day), so the exact distributed form is CONTRIBUTION
      // EXPANSION: each active (user, day) grain contributes itself to
      // the 7 window anchors it belongs to, then one distinct-count per
      // anchor. Bounded 7× expansion of the DEDUPLICATED user-day grain
      // — far smaller than the event stream — not of raw events.
      //
      // Shape, and why it scales: one fact-sized distinct to user-day;
      // the explode is model×7; both counts are hash aggregations
      // keyed on day. Leading days carry partial windows by definition.
      (s, d) => {
        val dayNs = 86400L * 1000L * 1000L * 1000L
        val act = Tables.events(s, d)
          .select(col("user_id"), expr(s"ts div ${dayNs}L").as("day"))
          .distinct()
        val dmax = act.agg(max(col("day"))).head.getLong(0)
        val wau = act
          .select(col("user_id"),
            explode(sequence(col("day"), col("day") + 6)).as("day"))
          .filter(col("day") <= dmax)
          .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
        act.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
          .join(wau, "day")
          .select(col("day"), col("dau"), col("wau"),
            (col("dau").cast("double") / col("wau").cast("double"))
              .as("stickiness"))
      },
      Some("""WITH act AS (SELECT DISTINCT user_id,
                  epoch_us(ts) // 86400000000 AS day FROM events),
              mx AS (SELECT max(day) AS dmax FROM act),
              contrib AS (SELECT user_id,
                  unnest(generate_series(day, day + 6)) AS d FROM act),
              wau AS (SELECT d AS day, count(DISTINCT user_id) AS wau
                FROM contrib CROSS JOIN mx WHERE d <= dmax GROUP BY 1),
              dau AS (SELECT day, count(DISTINCT user_id) AS dau
                FROM act GROUP BY 1)
              SELECT day, CAST(dau AS BIGINT) AS dau,
                CAST(wau AS BIGINT) AS wau,
                CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
              FROM dau JOIN wau USING (day)""")
    ),

    // ── INTER-EVENT TIME STATISTICS (exact moments) ───────────────────────
    QueryDef(
      "q226_interevent_times",
      // The arrival-process profile: per event type, the distribution
      // of gaps between consecutive events — the input to capacity
      // models and burst detectors. Gaps are exact millisecond BIGINTs
      // from the (ts, event_id)-ordered stream (lag window, q62
      // discipline); mean and variance come from exact integer moment
      // sums (the q59 variance form), so every output double is the
      // same pinned division in both engines.
      //
      // Shape, and why it scales: one shuffle on event_type feeds the
      // lag window; the moments are one aggregation into the 5-row
      // model table. Millisecond units keep the squared-gap sum far
      // inside BIGINT at any realistic rate.
      (s, d) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("event_type"), col("ts"), col("event_id"))
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          // integer `div`, never `/`: Long / Long is DOUBLE division in
          // Column math, and its rounding can disagree with floor at
          // .999… quotients — a one-ulp hash mismatch waiting to happen
          .withColumn("gap", expr("(ts - prev_ts) div 1000000L"))
          .filter(col("gap").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_gaps"),
            min(col("gap")).as("min_ms"), max(col("gap")).as("max_ms"),
            sum(col("gap")).as("sg"), sum(col("gap") * col("gap")).as("qg"))
          .select(col("event_type"), col("n_gaps"), col("min_ms"),
            col("max_ms"),
            (col("sg").cast("double") / col("n_gaps").cast("double"))
              .as("mean_ms"),
            ((col("qg").cast("double") -
              col("sg").cast("double") * col("sg").cast("double") /
                col("n_gaps").cast("double")) /
              col("n_gaps").cast("double")).as("var_ms2"))
      },
      Some("""WITH seq AS (SELECT event_type, epoch_us(ts) AS tu, event_id,
                  lag(epoch_us(ts)) OVER (PARTITION BY event_type
                    ORDER BY epoch_us(ts), event_id) AS prev
                FROM events),
              g AS (SELECT event_type, (tu - prev) // 1000 AS gap
                FROM seq WHERE prev IS NOT NULL),
              m AS (SELECT event_type, count(*) AS n_gaps,
                  min(gap) AS min_ms, max(gap) AS max_ms,
                  sum(gap) AS sg, sum(gap * gap) AS qg
                FROM g GROUP BY 1)
              SELECT event_type, CAST(n_gaps AS BIGINT) AS n_gaps,
                CAST(min_ms AS BIGINT) AS min_ms,
                CAST(max_ms AS BIGINT) AS max_ms,
                CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_ms,
                (CAST(qg AS DOUBLE)
                  - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                    / CAST(n_gaps AS DOUBLE))
                  / CAST(n_gaps AS DOUBLE) AS var_ms2
              FROM m""")
    ),

    // ── RFM SEGMENTATION (exact quantile ranks, no global window) ─────────
    QueryDef(
      "q227_rfm_segments",
      // The classic customer segmentation: per purchasing user, quintile
      // scores for Recency (days since last purchase), Frequency
      // (purchase count) and Monetary (cents), quintile 1 = best. The
      // quantile rank is EXACT but never a single-partition global
      // window: each metric packs into a UNIQUE key (metric·2³² +
      // user_id — bounds documented below) and
      // [[Shared.distributedPrefixSum]] delivers the global 0-based rank
      // with parallel per-bucket windows; the bucket is then the closed
      // form (5·rank) div n. Both engines compute the identical
      // (key-order, formula) pair, so tie handling is pinned by
      // construction. Bounds contract: user_id < 2³², recency spread
      // < 2³⁰ days, per-user purchases < 2²⁰, per-user cents < 2³⁰ —
      // all far above any real corpus — and ENFORCED: a violating row
      // would wrap the packed key negative (Long arithmetic is silent),
      // which IS a silent mis-rank, so every key carries a raise_error
      // guard on key < 0 ∨ user_id ≥ 2³² — violations abort the query
      // loudly instead (r9 advice; distributedPrefixSum's non-negative
      // order-key contract is what the guard preserves).
      //
      // Shape, and why it scales: one fact pass to user grain; three
      // prefix-sum rounds on the user-grain table (each: parallel
      // bucket windows + a model-sized offset table); one final hash
      // aggregation into the ≤125-segment model table.
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val dayNs = 86400L * 1000L * 1000L * 1000L
        val pur = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), expr(s"ts div ${dayNs}L").as("day"),
            (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
              .as("cents"))
        val user = pur.groupBy("user_id")
          .agg(max(col("day")).as("last_day"),
            count(lit(1)).as("freq"), sum(col("cents")).as("cents"))
        val n = user.count()
        if (n == 0) {
          // no purchases → empty segment table (never a null scalar)
          import org.apache.spark.sql.types._
          s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("segment", StringType),
              StructField("n_users", LongType),
              StructField("total_cents", LongType))))
        } else {
          val dmax = pur.agg(max(col("day"))).head.getLong(0)
          // bounds guard (see contract above): any packed key gone
          // negative — or a user_id wide enough to collide keys — aborts
          def guarded(c: org.apache.spark.sql.Column) =
            when(c < 0 || col("user_id") < 0 ||
              col("user_id") >= lit(1L << 32),
              raise_error(concat(lit("q227: packed-key bounds contract " +
                "violated for user_id "), col("user_id"))))
              .otherwise(c)
          val keyed = user
            .withColumn("rkey", guarded(
              (lit(dmax) - col("last_day")) * lit(1L << 32) + col("user_id")))
            .withColumn("fkey", guarded(
              (lit(1L << 20) - col("freq")) * lit(1L << 32) + col("user_id")))
            .withColumn("mkey", guarded(
              (lit(1L << 30) - col("cents")) * lit(1L << 32) + col("user_id")))
          def score(df: DataFrame, key: String, out: String): DataFrame =
            Shared.distributedPrefixSum(
                df.withColumn("one", lit(1L)), key, "one")
              .withColumn(out, expr(s"((5 * cum) div ${n}L) + 1"))
              .drop("cum", "one")
          val scored = score(score(score(keyed, "rkey", "r"), "fkey", "f"),
            "mkey", "m")
          scored
            .select(concat(col("r"), lit("-"), col("f"), lit("-"), col("m"))
              .as("segment"), col("cents"))
            .groupBy("segment")
            .agg(count(lit(1)).as("n_users"),
              sum(col("cents")).as("total_cents"))
        }
      },
      Some("""WITH pur AS (SELECT user_id,
                  epoch_us(ts) // 86400000000 AS day,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                FROM events WHERE event_type = 'purchase'),
              u AS (SELECT user_id, max(day) AS last_day,
                  count(*) AS freq, sum(cents) AS cents
                FROM pur GROUP BY 1),
              mx AS (SELECT (SELECT max(day) FROM pur) AS dmax,
                  (SELECT count(*) FROM u) AS n),
              st AS (SELECT user_id, cents,
                  ((5 * (row_number() OVER (ORDER BY
                      (dmax - last_day) * 4294967296 + user_id) - 1))
                    // n) + 1 AS r,
                  ((5 * (row_number() OVER (ORDER BY
                      (1048576 - freq) * 4294967296 + user_id) - 1))
                    // n) + 1 AS f,
                  ((5 * (row_number() OVER (ORDER BY
                      (1073741824 - cents) * 4294967296 + user_id) - 1))
                    // n) + 1 AS m
                FROM u CROSS JOIN mx)
              SELECT r || '-' || f || '-' || m AS segment,
                CAST(count(*) AS BIGINT) AS n_users,
                CAST(sum(cents) AS BIGINT) AS total_cents
              FROM st GROUP BY 1""")
    ),

    // ── TOP USER PATHS (ordered 3-step sequences) ─────────────────────────
    QueryDef(
      "q242_top_paths",
      // The "top paths" report next to q213's transition matrix: the
      // most-traveled ORDERED 3-step event sequences across user
      // streams, with user reach. Two stacked leads over the same
      // (ts, event_id)-pinned user window (ONE shuffle, one sort — both
      // leads ride the same WindowExec frame), then a hash aggregation
      // into the ≤|types|³ path table; top-10 by (travellers desc, path
      // asc) — a model-sized total order.
      //
      // Shape, and why it scales: the stream shuffles ONCE on user_id;
      // everything after is path-grain (types³-bounded, broadcastable).
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("e2", lead(col("event_type"), 1).over(w))
          .withColumn("e3", lead(col("event_type"), 2).over(w))
          .filter(col("e2").isNotNull && col("e3").isNotNull)
          .groupBy(col("event_type").as("s1"), col("e2").as("s2"),
            col("e3").as("s3"))
          .agg(count(lit(1)).as("n_walks"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("n_walks").desc, col("s1").asc, col("s2").asc,
            col("s3").asc)
          .limit(10)
      },
      Some("""WITH seq AS (SELECT user_id, event_type AS s1,
                  lead(event_type, 1) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS s2,
                  lead(event_type, 2) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS s3
                FROM events),
              paths AS (SELECT s1, s2, s3, count(*) AS n_walks,
                  count(DISTINCT user_id) AS n_users
                FROM seq WHERE s2 IS NOT NULL AND s3 IS NOT NULL
                GROUP BY 1, 2, 3)
              SELECT s1, s2, s3, CAST(n_walks AS BIGINT) AS n_walks,
                CAST(n_users AS BIGINT) AS n_users
              FROM paths
              ORDER BY n_walks DESC, s1, s2, s3
              LIMIT 10""")
    ),

    // ── WINSORIZED ROBUST STATISTICS (outlier-clamped moments) ────────────
    QueryDef(
      "q243_winsorized_stats",
      // The robust-stats step before any mean-based monitoring: clamp
      // each event type's purchase values into its own [p05, p95] before
      // averaging, so a single whale or logging glitch can't move the
      // metric. Percentiles are the q63 exact-interpolation pair (both
      // engines compute identical doubles on 2-decimal data), then
      // FLOORED/CEILED to integer cents so the winsorized stream stays
      // BIGINT and the mean is one pinned division — clamping to the raw
      // interpolated double would make the sum order-dependent (the q59
      // exactness discipline).
      //
      // Shape, and why it scales: one fact pass to (type, cents) grain,
      // one percentile aggregation to the model-sized type table,
      // broadcast bounds back onto the stream, one clamped aggregation.
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val v = Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "click", "view"))
          .select(col("event_type"),
            (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
              .as("cents"))
        val bounds = v.groupBy("event_type")
          .agg(floor(expr("percentile(cents, 0.05)")).cast("long").as("lo"),
            ceil(expr("percentile(cents, 0.95)")).cast("long").as("hi"))
        v.join(broadcast(bounds), "event_type")
          .select(col("event_type"), col("lo"), col("hi"),
            greatest(col("lo"), least(col("hi"), col("cents"))).as("wc"),
            (col("cents") < col("lo")).cast("long").as("clip_lo"),
            (col("cents") > col("hi")).cast("long").as("clip_hi"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            min(col("lo")).as("lo_cents"), min(col("hi")).as("hi_cents"),
            sum(col("clip_lo")).as("n_clip_lo"),
            sum(col("clip_hi")).as("n_clip_hi"),
            (sum(col("wc")).cast("double") / count(lit(1)).cast("double"))
              .as("winsorized_mean_cents"))
      },
      Some("""WITH v AS (SELECT event_type,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                FROM events WHERE event_type IN ('purchase', 'click', 'view')),
              b AS (SELECT event_type,
                  CAST(floor(quantile_cont(cents, 0.05)) AS BIGINT) AS lo,
                  CAST(ceil(quantile_cont(cents, 0.95)) AS BIGINT) AS hi
                FROM v GROUP BY 1)
              SELECT v.event_type, count(*) AS n,
                CAST(min(lo) AS BIGINT) AS lo_cents,
                CAST(min(hi) AS BIGINT) AS hi_cents,
                CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_clip_lo,
                CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_clip_hi,
                CAST(sum(greatest(lo, least(hi, cents))) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS winsorized_mean_cents
              FROM v JOIN b USING (event_type)
              GROUP BY 1""")
    ),

    // ── A/B EXPERIMENT READOUT (hash assignment + exact chi-square) ───────
    QueryDef(
      "q244_ab_experiment",
      // The experimentation readout: users deterministically assigned to
      // variants by the engine-shared 32-bit hash (h32 of a salted
      // user_id — the q72 split discipline, so assignment is reproducible
      // anywhere and uncorrelated with user_id order), conversion = any
      // BIG-TICKET purchase (exact cents ≥ 15000 — plain any-purchase is
      // degenerate on this corpus: every user buys something), and the
      // 2×2 chi-square statistic computed from EXACT integer counts in
      // one pinned double expression — the q103 moment discipline
      // applied to the contingency table; a zero marginal NULLs χ² via
      // nullif instead of dividing by zero (ANSI throws, and the
      // statistic is undefined there anyway). Output: one row with the
      // table, both rates, and χ².
      //
      // Shape, and why it scales: one events pass to user grain (hash
      // agg), one fold of the user table into 4 integers, scalar math.
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val users = Tables.events(s, d)
          .groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase" &&
            (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
              >= 15000L, 1L).otherwise(0L))
            .as("conv"))
          .withColumn("variant",
            pmod(Shared.h32(
              concat(lit("exp1:"), col("user_id").cast("string"))), lit(2L)))
        users.agg(
            sum(when(col("variant") === 0 && col("conv") === 1, 1L)
              .otherwise(0L)).as("a_conv"),
            sum(when(col("variant") === 0 && col("conv") === 0, 1L)
              .otherwise(0L)).as("a_non"),
            sum(when(col("variant") === 1 && col("conv") === 1, 1L)
              .otherwise(0L)).as("b_conv"),
            sum(when(col("variant") === 1 && col("conv") === 0, 1L)
              .otherwise(0L)).as("b_non"))
          .withColumn("rate_a", expr(
            "CAST(a_conv AS DOUBLE) / nullif(CAST(a_conv + a_non AS DOUBLE), 0.0)"))
          .withColumn("rate_b", expr(
            "CAST(b_conv AS DOUBLE) / nullif(CAST(b_conv + b_non AS DOUBLE), 0.0)"))
          .withColumn("chi2", expr(
            """CAST(a_conv + a_non + b_conv + b_non AS DOUBLE)
               * CAST(a_conv * b_non - a_non * b_conv AS DOUBLE)
               * CAST(a_conv * b_non - a_non * b_conv AS DOUBLE)
               / nullif(CAST(a_conv + a_non AS DOUBLE)
                  * CAST(b_conv + b_non AS DOUBLE)
                  * CAST(a_conv + b_conv AS DOUBLE)
                  * CAST(a_non + b_non AS DOUBLE), 0.0)"""))
      },
      Some(s"""WITH u AS (SELECT user_id,
                  max(CASE WHEN event_type = 'purchase'
                    AND CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                      >= 15000 THEN 1 ELSE 0 END)
                    AS conv
                FROM events GROUP BY 1),
              v AS (SELECT conv,
                  ${Shared.SQL_H32("'exp1:' || user_id")} % 2 AS variant
                FROM u),
              t AS (SELECT
                  CAST(sum(CASE WHEN variant = 0 AND conv = 1 THEN 1 ELSE 0
                    END) AS BIGINT) AS a_conv,
                  CAST(sum(CASE WHEN variant = 0 AND conv = 0 THEN 1 ELSE 0
                    END) AS BIGINT) AS a_non,
                  CAST(sum(CASE WHEN variant = 1 AND conv = 1 THEN 1 ELSE 0
                    END) AS BIGINT) AS b_conv,
                  CAST(sum(CASE WHEN variant = 1 AND conv = 0 THEN 1 ELSE 0
                    END) AS BIGINT) AS b_non
                FROM v)
              SELECT a_conv, a_non, b_conv, b_non,
                CAST(a_conv AS DOUBLE)
                  / nullif(CAST(a_conv + a_non AS DOUBLE), 0.0) AS rate_a,
                CAST(b_conv AS DOUBLE)
                  / nullif(CAST(b_conv + b_non AS DOUBLE), 0.0) AS rate_b,
                CAST(a_conv + a_non + b_conv + b_non AS DOUBLE)
                  * CAST(a_conv * b_non - a_non * b_conv AS DOUBLE)
                  * CAST(a_conv * b_non - a_non * b_conv AS DOUBLE)
                  / nullif(CAST(a_conv + a_non AS DOUBLE)
                     * CAST(b_conv + b_non AS DOUBLE)
                     * CAST(a_conv + b_conv AS DOUBLE)
                     * CAST(a_non + b_non AS DOUBLE), 0.0) AS chi2
              FROM t""")
    ),

    // ── TIME-TO-CONVERT LATENCY (running-min pairing + exact percentiles) ─
    QueryDef(
      "q245_time_to_convert",
      // How long from first view to first purchase — the latency
      // distribution behind funnel SLAs. The pairing needs no join: a
      // running min of view timestamps inside the (ts, event_id)-ordered
      // user window means every purchase row already knows the earliest
      // view before it; the per-user minimum of (purchase ts − first
      // view) IS the first-qualifying-purchase latency (later purchases
      // only grow the delta). Minutes via integer div of the epoch-nano
      // contract; distribution via the q63 exact percentile pair.
      //
      // Shape, and why it scales: ONE events shuffle (the user window),
      // user-grain aggregation, then a global fold to one row — no
      // events×events join anywhere.
      (s, d) => {
        val wRun = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val lat = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("fv",
            min(when(col("event_type") === "view", col("ts"))).over(wRun))
          .filter(col("event_type") === "purchase" && col("fv").isNotNull)
          .groupBy("user_id")
          .agg(min(expr("(ts - fv) div 60000000000L")).as("lat_min"))
        lat.agg(count(lit(1)).as("n_converted"),
          expr("percentile(lat_min, 0.5)").as("median_min"),
          expr("percentile(lat_min, 0.9)").as("p90_min"),
          max(col("lat_min")).as("max_min"))
      },
      Some("""WITH o AS (SELECT user_id, epoch_us(ts) * 1000 AS tns,
                  event_id, event_type FROM events),
              r AS (SELECT user_id, tns, event_type,
                  min(CASE WHEN event_type = 'view' THEN tns END)
                    OVER (PARTITION BY user_id ORDER BY tns, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS fv
                FROM o),
              lat AS (SELECT user_id,
                  min((tns - fv) // 60000000000) AS lat_min
                FROM r
                WHERE event_type = 'purchase' AND fv IS NOT NULL
                GROUP BY 1)
              SELECT count(*) AS n_converted,
                median(lat_min) AS median_min,
                quantile_cont(lat_min, 0.9) AS p90_min,
                CAST(max(lat_min) AS BIGINT) AS max_min
              FROM lat""")
    ),

    // ── BEHAVIORAL BITMASK SEGMENTATION (bit_or aggregation) ──────────────
    QueryDef(
      "q246_bitmask_segments",
      // Segment users by WHICH event types they fired in their FIRST DAY
      // (onboarding behavior — all-time masks are degenerate on a
      // long-lived corpus where every user eventually does everything),
      // as a bitmask: one bit per type, OR-folded per user, then a
      // census per distinct mask with a readable label — the
      // bitmap-index idea (roaring-style audience segmentation) in
      // aggregate form. 2⁵ possible segments regardless of corpus size —
      // the canonical high-cardinality→model-size collapse.
      //
      // Shape, and why it scales: the first-event anchor is an
      // unordered per-user window min (no sort, one shuffle — reused by
      // the bit_or agg on the same partitioning), then a census
      // aggregation over ≤32 masks.
      (s, d) => {
        val bit = when(col("event_type") === "click", 1L)
          .when(col("event_type") === "view", 2L)
          .when(col("event_type") === "purchase", 4L)
          .when(col("event_type") === "signup", 8L)
          .when(col("event_type") === "error", 16L)
          .otherwise(0L)
        val dayNs = 86400L * 1000L * 1000L * 1000L
        val wU = Window.partitionBy("user_id")
        val masks = Tables.events(s, d)
          .select(col("user_id"), col("ts"), bit.as("b"))
          .withColumn("t0", min(col("ts")).over(wU))
          .filter(col("ts") < col("t0") + dayNs)
          .groupBy("user_id").agg(expr("bit_or(b)").as("mask"))
        masks.groupBy("mask")
          .agg(count(lit(1)).as("n_users"))
          .withColumn("label", concat(
            when(col("mask").bitwiseAND(1) =!= 0, "C").otherwise("-"),
            when(col("mask").bitwiseAND(2) =!= 0, "V").otherwise("-"),
            when(col("mask").bitwiseAND(4) =!= 0, "P").otherwise("-"),
            when(col("mask").bitwiseAND(8) =!= 0, "S").otherwise("-"),
            when(col("mask").bitwiseAND(16) =!= 0, "E").otherwise("-")))
      },
      Some("""WITH b AS (SELECT user_id, epoch_us(ts) * 1000 AS tns,
                  CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
                    WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                    WHEN 'error' THEN 16 ELSE 0 END AS b
                FROM events),
              f AS (SELECT user_id, tns, b,
                  min(tns) OVER (PARTITION BY user_id) AS t0
                FROM b),
              m AS (SELECT user_id, bit_or(b) AS mask FROM f
                WHERE tns < t0 + 86400000000000 GROUP BY 1)
              SELECT CAST(mask AS BIGINT) AS mask,
                count(*) AS n_users,
                (CASE WHEN mask & 1 <> 0 THEN 'C' ELSE '-' END)
                || (CASE WHEN mask & 2 <> 0 THEN 'V' ELSE '-' END)
                || (CASE WHEN mask & 4 <> 0 THEN 'P' ELSE '-' END)
                || (CASE WHEN mask & 8 <> 0 THEN 'S' ELSE '-' END)
                || (CASE WHEN mask & 16 <> 0 THEN 'E' ELSE '-' END)
                  AS label
              FROM m GROUP BY 1, 3""")
    ),

    // ── STRICT-ORDER IN-SESSION FUNNEL (gap sessionization + pattern) ─────
    QueryDef(
      "q250_session_funnel_strict",
      // The funnel q58 cannot express: stages must occur IN ORDER WITHIN
      // ONE SESSION (view, then a click after that view, then a purchase
      // after that click — the MATCH_RECOGNIZE shape, window-expressible).
      // Sessions are 30-minute-gap runs via the classic lag + cumulative
      // new-session-flag sessionization; stage detection is three CHAINED
      // running mins inside the session window — fc counts a click only
      // where a view already precedes it (fv known at that row), fp a
      // purchase only after such a click, so ordering is enforced by
      // construction, not by a self-join. Census: sessions + users per
      // furthest stage reached.
      //
      // Shape, and why it scales: ONE shuffle on user_id serves every
      // window (sessionization orders by (ts, event_id); the session
      // window's (user, sid) partitioning is satisfied by the user
      // clustering — Spark adds a sort, not an exchange), then one
      // session-grain and one stage-grain aggregation.
      (s, d) => {
        val gapNs = 1800L * 1000L * 1000L * 1000L
        val wOrd = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val wS = Window.partitionBy("user_id", "sid")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("prev", lag(col("ts"), 1).over(wOrd))
          .withColumn("new_s",
            when(col("prev").isNull || col("ts") - col("prev") > gapNs, 1L)
              .otherwise(0L))
          .withColumn("sid", sum(col("new_s")).over(wCum))
          .withColumn("fv",
            min(when(col("event_type") === "view", col("ts"))).over(wS))
          .withColumn("fc",
            min(when(col("event_type") === "click" && col("fv").isNotNull,
              col("ts"))).over(wS))
          .withColumn("fp",
            min(when(col("event_type") === "purchase" &&
              col("fc").isNotNull, col("ts"))).over(wS))
          .groupBy("user_id", "sid")
          .agg(max(when(col("fp").isNotNull, 3L)
            .when(col("fc").isNotNull, 2L)
            .when(col("fv").isNotNull, 1L).otherwise(0L)).as("stage"))
          .groupBy("stage")
          .agg(count(lit(1)).as("n_sessions"),
            countDistinct(col("user_id")).as("n_users"))
      },
      Some("""WITH o AS (SELECT user_id, epoch_us(ts) * 1000 AS tns,
                  event_id, event_type FROM events),
              l AS (SELECT *, lag(tns) OVER (PARTITION BY user_id
                  ORDER BY tns, event_id) AS prev FROM o),
              f AS (SELECT *, CASE WHEN prev IS NULL
                  OR tns - prev > 1800000000000 THEN 1 ELSE 0 END AS new_s
                FROM l),
              sd AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
                  ORDER BY tns, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM f),
              st AS (SELECT *,
                  min(CASE WHEN event_type = 'view' THEN tns END)
                    OVER w AS fv
                FROM sd
                WINDOW w AS (PARTITION BY user_id, sid
                  ORDER BY tns, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              st2 AS (SELECT *,
                  min(CASE WHEN event_type = 'click' AND fv IS NOT NULL
                    THEN tns END) OVER w AS fc
                FROM st
                WINDOW w AS (PARTITION BY user_id, sid
                  ORDER BY tns, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              st3 AS (SELECT *,
                  min(CASE WHEN event_type = 'purchase' AND fc IS NOT NULL
                    THEN tns END) OVER w AS fp
                FROM st2
                WINDOW w AS (PARTITION BY user_id, sid
                  ORDER BY tns, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              ses AS (SELECT user_id, sid,
                  CAST(max(CASE WHEN fp IS NOT NULL THEN 3
                    WHEN fc IS NOT NULL THEN 2
                    WHEN fv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS stage
                FROM st3 GROUP BY 1, 2)
              SELECT stage, count(*) AS n_sessions,
                count(DISTINCT user_id) AS n_users
              FROM ses GROUP BY 1""")
    ),

    // ── TIME-DECAY ATTRIBUTION (exact dyadic weights) ─────────────────────
    QueryDef(
      "q251_decay_attribution",
      // Between q214's first/last-touch extremes sits the industry
      // default: every prior touch gets credit decaying with age. The
      // usual exp(-λΔt) is cross-engine-unreproducible (transcendental);
      // a half-life of exactly one day makes every weight the DYADIC
      // integer 2^(30−Δdays) (Δdays = integer day gap ≤ 30, older
      // touches get nothing) — so credit sums are pure BIGINT and the
      // one share division is pinned. Pairing is the per-user
      // purchase×prior-touch join — fan-out bounded by events-per-user
      // squared (documented bound; the corpus keeps users at ~10²
      // events), both sides sharing ONE user_id shuffle.
      //
      // Shape, and why it scales: keyed equi-join on user_id (never a
      // global product), channel-grain aggregation (|types| rows), and
      // a 1-row total broadcast for shares.
      (s, d) => {
        val dayNs = 86400L * 1000L * 1000L * 1000L
        val ev = Tables.events(s, d)
        val pur = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("tp"))
        val touch = ev.filter(col("event_type") =!= "purchase")
          .select(col("user_id"), col("ts").as("tt"),
            col("event_type").as("channel"))
        val credit = pur.join(touch, Seq("user_id"))
          .filter(col("tt") < col("tp") &&
            col("tp") - col("tt") < lit(31L * dayNs))
          .withColumn("dd", expr(s"(tp - tt) div ${dayNs}L"))
          .withColumn("w", expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(30 - dd AS INT))"))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_weighted_touches"),
            sum(col("w")).as("credit_units"))
        val tot = credit.agg(sum(col("credit_units")).as("total_units"))
        // share as ONE pinned double division (10⁶·credit would overflow
        // BIGINT on a large corpus — credit alone can reach ~2^45+)
        credit.crossJoin(broadcast(tot))
          .withColumn("share",
            expr("CAST(credit_units AS DOUBLE) / CAST(total_units AS DOUBLE)"))
          .select("channel", "n_weighted_touches", "credit_units", "share")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) * 1000 AS tns,
                  event_type FROM events),
              pur AS (SELECT user_id, tns AS tp FROM ev
                WHERE event_type = 'purchase'),
              touch AS (SELECT user_id, tns AS tt, event_type AS channel
                FROM ev WHERE event_type <> 'purchase'),
              cr AS (SELECT channel, count(*) AS n_weighted_touches,
                  sum(CAST(1 AS BIGINT)
                    << CAST(30 - (tp - tt) // 86400000000000 AS INT))
                    AS credit_units
                FROM pur JOIN touch USING (user_id)
                WHERE tt < tp AND tp - tt < 31 * 86400000000000
                GROUP BY 1),
              t AS (SELECT sum(credit_units) AS total_units FROM cr)
              SELECT channel, n_weighted_touches,
                CAST(credit_units AS BIGINT) AS credit_units,
                CAST(credit_units AS DOUBLE) / CAST(total_units AS DOUBLE)
                  AS share
              FROM cr CROSS JOIN t""")
    ),

    // ── REVENUE CONCENTRATION (Gini + minimal top-80% set) ────────────────
    QueryDef(
      "q228_revenue_concentration",
      // The inequality report behind every "whales" analysis: the exact
      // Gini coefficient of per-user purchase revenue and the size of
      // the MINIMAL user set covering 80% of revenue. Both are
      // TIE-INVARIANT rank statistics — permuting users with equal
      // revenue changes neither Σ(2r+1−n)·x nor where the cumulative
      // crosses 4/5 of total — so the arbitrary-within-ties prefix
      // order of [[Shared.distributedPrefixSum]] is provably safe here
      // (unlike quantile BUCKETING, which q227 pins with unique keys).
      // The 80% test is the integer cross-multiplication
      // 5·(total − cum − x) < 4·total; Gini's single division is the
      // one pinned double op.
      //
      // Shape, and why it scales: one fact pass to user grain; one
      // prefix-sum round (parallel bucket windows) delivers both rank
      // and running revenue; the output is one row.
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val pur = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
              .as("cents"))
          .groupBy("user_id").agg(sum(col("cents")).as("x"))
        val n = pur.count()
        if (n == 0) {
          import org.apache.spark.sql.types._
          s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("n_users", LongType),
              StructField("total_cents", LongType),
              StructField("gini", DoubleType),
              StructField("top80_users", LongType),
              StructField("top80_share", DoubleType))))
        } else {
          val total = pur.agg(sum(col("x"))).head.getLong(0)
          val ranked = Shared.distributedPrefixSum(
              pur.withColumn("one", lit(1L)), "x", "one")
            .withColumnRenamed("cum", "rank0")
          val cumd = Shared.distributedPrefixSum(ranked, "x", "x")
          cumd
            .withColumn("gterm",
              (lit(2L) * col("rank0") + 1L - lit(n)) * col("x"))
            .withColumn("in_top",
              when(lit(5L) * (lit(total) - col("cum") - col("x")) <
                lit(4L) * lit(total), 1L).otherwise(0L))
            .agg(sum(col("gterm")).as("gnum"), sum(col("in_top")).as("topn"),
              sum(when(col("in_top") === 1L, col("x"))).as("topsum"))
            .select(lit(n).as("n_users"), lit(total).as("total_cents"),
              (col("gnum").cast("double") /
                (lit(n).cast("double") * lit(total).cast("double")))
                .as("gini"),
              col("topn").as("top80_users"),
              (col("topsum").cast("double") / lit(total).cast("double"))
                .as("top80_share"))
        }
      },
      Some("""WITH pur AS (SELECT user_id,
                  sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS x
                FROM events WHERE event_type = 'purchase' GROUP BY 1),
              mx AS (SELECT count(*) AS n, sum(x) AS total FROM pur),
              rk AS (SELECT x,
                  CAST(row_number() OVER (ORDER BY x, user_id) - 1
                    AS BIGINT) AS rank0,
                  sum(x) OVER (ORDER BY x, user_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS cum
                FROM pur),
              t AS (SELECT rk.x, rank0, coalesce(cum, 0) AS cum, n, total
                FROM rk CROSS JOIN mx)
              SELECT CAST(any_value(n) AS BIGINT) AS n_users,
                CAST(any_value(total) AS BIGINT) AS total_cents,
                CAST(sum((2 * rank0 + 1 - n) * x) AS DOUBLE)
                  / (CAST(any_value(n) AS DOUBLE)
                     * CAST(any_value(total) AS DOUBLE)) AS gini,
                CAST(sum(CASE WHEN 5 * (total - cum - x) < 4 * total
                  THEN 1 ELSE 0 END) AS BIGINT) AS top80_users,
                CAST(sum(CASE WHEN 5 * (total - cum - x) < 4 * total
                  THEN x END) AS DOUBLE)
                  / CAST(any_value(total) AS DOUBLE) AS top80_share
              FROM t""")
    ),

    // ── PEAK SLIDING-WINDOW LOAD (exact, gap-safe) ────────────────────────
    QueryDef(
      "q230_peak_load",
      // The capacity question behind rate limits: the busiest sliding
      // 60-minute window per event type, at minute granularity. A
      // prefix-sum over minutes would need a DENSE minute spine (gaps
      // break frame arithmetic); the gap-safe exact form is the q225
      // CONTRIBUTION EXPANSION on the minute grain: each (type, minute)
      // count fans out to the ≤60 window anchors covering it, one hash
      // aggregation sums per anchor, and the per-type argmax takes
      // (count desc, earliest anchor). Anchors clamp to the GLOBAL
      // minimum observed minute so before-start windows can't duplicate
      // ties — deliberately global, not per type (and mirrored exactly
      // in the oracle): a late-starting type may therefore report a
      // peak window_start_min earlier than its own first event when the
      // tie-break walks to the earliest covering anchor; the window
      // still covers the same events. A per-type clamp (min(m) over the
      // event_type partition) is the alternative semantics if window
      // starts must lie within each type's own observed range.
      //
      // Shape, and why it scales: one fact pass to minute grain (the
      // only fact-sized shuffle); the expansion is minutes×60 —
      // time-bounded, not event-bounded; the argmax is a type-
      // partitioned window on the anchor table.
      (s, d) => {
        val minNs = 60L * 1000L * 1000L * 1000L
        val byMin = Tables.events(s, d)
          .select(col("event_type"), expr(s"ts div ${minNs}L").as("m"))
          .groupBy("event_type", "m").agg(count(lit(1)).as("c"))
        val mmin = byMin.agg(min(col("m"))).head.getLong(0)
        val wTop = Window.partitionBy("event_type")
          .orderBy(col("peak_events").desc, col("window_start_min").asc)
        byMin
          .select(col("event_type"), col("c"),
            explode(sequence(greatest(col("m") - 59, lit(mmin)), col("m")))
              .as("window_start_min"))
          .groupBy("event_type", "window_start_min")
          .agg(sum(col("c")).as("peak_events"))
          .withColumn("rk", row_number().over(wTop))
          .filter(col("rk") === 1)
          .select("event_type", "window_start_min", "peak_events")
      },
      Some("""WITH bymin AS (SELECT event_type,
                  epoch_us(ts) // 60000000 AS m, count(*) AS c
                FROM events GROUP BY 1, 2),
              mx AS (SELECT min(m) AS mmin FROM bymin),
              anch AS (SELECT event_type,
                  unnest(generate_series(greatest(m - 59, mmin), m)) AS w,
                  c
                FROM bymin CROSS JOIN mx),
              agg AS (SELECT event_type, w AS window_start_min,
                  sum(c) AS peak_events
                FROM anch GROUP BY 1, 2),
              pick AS (SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY peak_events DESC, window_start_min) AS rk
                FROM agg)
              SELECT event_type, window_start_min,
                CAST(peak_events AS BIGINT) AS peak_events
              FROM pick WHERE rk = 1""")
    ),

    // ── MANN-WHITNEY U (distributed rank-sum drift test) ──────────────────
    QueryDef(
      "q261_mann_whitney",
      // The nonparametric two-sample location test every experimentation
      // and drift-monitoring stack ships: do 'click' values sit
      // systematically above/below 'purchase' values, with no normality
      // assumption. Ranks are midranks over the pooled sample; U, its
      // null mean, and the tie-corrected variance follow the standard
      // formulas, all computed from EXACT BIGINT count sums (value in
      // cents via the DECIMAL(18,2) cast — the q59 discipline). Doubles
      // appear only in the final pinned expressions (IEEE mult/div/sqrt
      // on identical operands in identical order), so the single output
      // row hash-matches the oracle bit-for-bit.
      //
      // Shape, and why it scales: rank NOTHING row-by-row — aggregate to
      // the distinct-cents table (bounded by the value domain, not the
      // event count), then the exclusive prefix sum of pooled counts via
      // [[Shared.distributedPrefixSum]] (bucketed parallel windows + one
      // model-sized offset window; no corpus-sized single-partition
      // window anywhere). 2·midrank(v) = 2·cum_before + n_t + 1 stays
      // integral, so the rank-sum Σ n_a·(2·cum+n_t+1) is an exact
      // BIGINT reduction.
      (s, d) => Shared.withCheckpointDir(s) {
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(
            (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
              * 100).cast("long").as("c"),
            when(col("event_type") === "click", 1L).otherwise(0L).as("isa"))
        // checkpoint the distinct-cents grain: the prefix sum's
        // local/offset split would otherwise re-run the fact aggregation
        val byv = ev.groupBy("c").agg(
            sum(col("isa")).as("na"), count(lit(1)).as("nt"))
          .checkpoint()
        val pre = Shared.distributedPrefixSum(byv, "c", "nt")
        val agg = pre.agg(
          sum(col("na")).as("n_a"),
          sum(col("nt") - col("na")).as("n_b"),
          sum(col("nt")).as("n"),
          sum(col("na") * (lit(2L) * col("cum") + col("nt") + lit(1L)))
            .as("r2a"),
          sum(col("nt") * col("nt") * col("nt") - col("nt")).as("ties"))
        agg.select(
          col("n_a"), col("n_b"),
          ((col("r2a") - col("n_a") * (col("n_a") + lit(1L))).cast("double")
            / 2.0).as("u_a"),
          ((col("r2a") - col("n_a") * (col("n_a") + lit(1L)) -
            col("n_a") * col("n_b")).cast("double") / 2.0 /
            sqrt((col("n_a") * col("n_b")).cast("double") / 12.0 *
              ((col("n").cast("double") + 1.0) -
                col("ties").cast("double") /
                  (col("n").cast("double") *
                    (col("n").cast("double") - 1.0))))).as("z_score"))
      },
      Some("""WITH ev AS (SELECT
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
                  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS isa
                FROM events WHERE event_type IN ('click', 'purchase')),
              byv AS (SELECT c, sum(isa) AS na, count(*) AS nt
                FROM ev GROUP BY 1),
              pre AS (SELECT c, na, nt,
                  coalesce(sum(nt) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED
                    PRECEDING AND 1 PRECEDING), 0) AS cum
                FROM byv),
              agg AS (SELECT sum(na) AS n_a, sum(nt - na) AS n_b,
                  sum(nt) AS n, sum(na * (2*cum + nt + 1)) AS r2a,
                  sum(nt*nt*nt - nt) AS ties
                FROM pre)
              SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                CAST(r2a - n_a*(n_a+1) AS DOUBLE) / 2.0 AS u_a,
                CAST(r2a - n_a*(n_a+1) - n_a*n_b AS DOUBLE) / 2.0 /
                  sqrt(CAST(n_a*n_b AS DOUBLE) / 12.0 *
                    ((CAST(n AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE) /
                      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))
                  AS z_score
              FROM agg""")
    ),

    // ── KOLMOGOROV-SMIRNOV TWO-SAMPLE TEST (distribution drift) ───────────
    QueryDef(
      "q262_ks_test",
      // The companion shape test to q261's location test: the max CDF
      // gap D between 'view' and 'error' event values — the statistic
      // drift monitors raise on a distribution change that leaves the
      // mean alone. D is an exact INTEGER maximization: at each distinct
      // cents value, |ca·n_b − cb·n_a| with inclusive counts ca/cb; the
      // single division making a double happens once on the final row,
      // so D and its argmax location are bit-deterministic. Gap ties
      // break to the smallest cents value (two-step max, no engine-
      // specific arg_max tie behavior).
      //
      // Shape, and why it scales: the q261 distinct-value backbone — two
      // bucketed prefix sums over the distinct-cents table (domain-
      // bounded, not event-bounded), the 1-row totals and 1-row max
      // attach as broadcasts, no global window, no row-level ranking.
      (s, d) => Shared.withCheckpointDir(s) {
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("view", "error"))
          .select(
            (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
              * 100).cast("long").as("c"),
            when(col("event_type") === "view", 1L).otherwise(0L).as("isa"))
        // the distinct-cents table feeds two prefix-sum rounds, the
        // totals, AND the gap/argmax pair — checkpoint it (domain-
        // bounded) so the fact scan runs once, not once per consumer
        val byv = ev.groupBy("c").agg(
            sum(col("isa")).as("na"),
            sum(lit(1L) - col("isa")).as("nb"))
          .checkpoint()
        val p1 = Shared.distributedPrefixSum(byv, "c", "na")
          .withColumnRenamed("cum", "cax")
        val p2 = Shared.distributedPrefixSum(p1, "c", "nb")
          .withColumnRenamed("cum", "cbx")
        val tot = byv.agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"))
        val gaps = p2.crossJoin(broadcast(tot))
          .select(col("c"), col("n_a"), col("n_b"),
            abs((col("cax") + col("na")) * col("n_b") -
                (col("cbx") + col("nb")) * col("n_a")).as("gap"))
          .checkpoint()
        val mx = gaps.agg(max(col("gap")).as("mgap"))
        gaps.join(broadcast(mx), gaps("gap") === mx("mgap"))
          .groupBy("n_a", "n_b", "mgap")
          .agg(min(col("c")).as("ks_at_cents"))
          .select(col("n_a"), col("n_b"),
            (col("mgap").cast("double") /
              (col("n_a") * col("n_b")).cast("double")).as("d_stat"),
            col("ks_at_cents"))
      },
      Some("""WITH ev AS (SELECT
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
                  CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS isa
                FROM events WHERE event_type IN ('view', 'error')),
              byv AS (SELECT c, sum(isa) AS na, sum(1 - isa) AS nb
                FROM ev GROUP BY 1),
              pre AS (SELECT c, na, nb,
                  sum(na) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS ca,
                  sum(nb) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cb
                FROM byv),
              tot AS (SELECT sum(na) AS n_a, sum(nb) AS n_b FROM byv),
              gaps AS (SELECT c, n_a, n_b, abs(ca*n_b - cb*n_a) AS gap
                FROM pre CROSS JOIN tot),
              mx AS (SELECT max(gap) AS mgap FROM gaps)
              SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                CAST(mgap AS DOUBLE) / CAST(n_a*n_b AS DOUBLE) AS d_stat,
                min(c) AS ks_at_cents
              FROM gaps JOIN mx ON gap = mgap
              GROUP BY n_a, n_b, mgap""")
    ),

    // ── MEDIAN / MAD ROBUST OUTLIERS (breakdown-resistant monitoring) ─────
    QueryDef(
      "q267_mad_outliers",
      // The robust companion to q206's z-score screen: median + median
      // absolute deviation, the 50%-breakdown estimators that stay
      // honest when the contamination IS what you're hunting (a z-score
      // threshold inflates σ with the very outliers it should flag).
      // Both medians are EXACT order statistics on integer cents —
      // lower median = min value whose doubled inclusive count reaches
      // the group total — and the 3×MAD fence is a pure integer
      // comparison, so every count matches the oracle exactly with zero
      // floating point anywhere.
      //
      // Shape, and why it scales: ONE fact scan builds the (type, cents)
      // distinct-value table — domain-bounded, not event-bounded — and
      // every later step (both median rounds, the deviation re-grain,
      // the fence counts) runs on that checkpointed grain with windows
      // PARTITIONED by event_type (never a global window); 5-row
      // med/mad tables re-attach as broadcasts.
      (s, d) => Shared.withCheckpointDir(s) {
        val byc = Tables.events(s, d).select(col("event_type"),
            (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
              * 100).cast("long").as("c"))
          .groupBy("event_type", "c").agg(count(lit(1)).as("n"))
          .checkpoint()
        val tot = byc.groupBy("event_type").agg(sum(col("n")).as("ntot"))
        def lowerMedian(grain: DataFrame, vc: String, out: String): DataFrame = {
          val w = Window.partitionBy("event_type").orderBy(vc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          grain.withColumn("ci", sum(col("n")).over(w))
            .join(broadcast(tot), "event_type")
            .filter(col("ci") * 2 >= col("ntot"))
            .groupBy("event_type").agg(min(col(vc)).as(out))
        }
        val med = lowerMedian(byc, "c", "median_cents")
        val byad = byc.join(broadcast(med), "event_type")
          .groupBy(col("event_type"),
            abs(col("c") - col("median_cents")).as("ad"))
          .agg(sum(col("n")).as("n"))
        val mad = lowerMedian(byad, "ad", "mad_cents")
        byc.join(broadcast(med), "event_type")
          .join(broadcast(mad), "event_type")
          .groupBy("event_type", "median_cents", "mad_cents")
          .agg(sum(col("n")).as("n_events"),
            sum(when(abs(col("c") - col("median_cents")) >
              col("mad_cents") * 3, col("n")).otherwise(0L)).as("n_outliers"))
          .select("event_type", "n_events", "median_cents", "mad_cents",
            "n_outliers")
      },
      Some("""WITH ev AS (SELECT event_type,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                FROM events),
              tot AS (SELECT event_type, count(*) AS ntot
                FROM ev GROUP BY 1),
              byv AS (SELECT event_type, c, count(*) AS n
                FROM ev GROUP BY 1, 2),
              cum AS (SELECT event_type, c,
                  sum(n) OVER (PARTITION BY event_type ORDER BY c
                    ROWS UNBOUNDED PRECEDING) AS ci
                FROM byv),
              med AS (SELECT cum.event_type, min(c) AS median_cents
                FROM cum JOIN tot ON cum.event_type = tot.event_type
                WHERE ci * 2 >= ntot GROUP BY 1),
              ad AS (SELECT ev.event_type,
                  abs(c - median_cents) AS ad
                FROM ev JOIN med ON ev.event_type = med.event_type),
              byad AS (SELECT event_type, ad, count(*) AS n
                FROM ad GROUP BY 1, 2),
              cumad AS (SELECT event_type, ad,
                  sum(n) OVER (PARTITION BY event_type ORDER BY ad
                    ROWS UNBOUNDED PRECEDING) AS ci
                FROM byad),
              mad AS (SELECT cumad.event_type, min(ad) AS mad_cents
                FROM cumad JOIN tot ON cumad.event_type = tot.event_type
                WHERE ci * 2 >= ntot GROUP BY 1)
              SELECT ev.event_type, count(*) AS n_events,
                median_cents, mad_cents,
                CAST(sum(CASE WHEN abs(c - median_cents) > mad_cents * 3
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
              FROM ev
                JOIN med ON ev.event_type = med.event_type
                JOIN mad ON ev.event_type = mad.event_type
              GROUP BY ev.event_type, median_cents, mad_cents""")
    ),

    // ── THEIL-SEN ROBUST TREND (median-of-slopes regression) ──────────────
    QueryDef(
      "q269_theil_sen",
      // The robust twin of q205's OLS forecast: the Theil-Sen slope —
      // median over all pairwise day-to-day slopes — shrugs off the
      // outlier days that drag a least-squares line (up to 29%
      // contamination). Each pairwise slope is ONE pinned double
      // division of exact BIGINT deltas; the median is an exact order
      // statistic at position (m+1)/2 in the (slope, xi, xj) total
      // order, so ties and the selection are engine-independent.
      //
      // Shape, and why it scales: the pair set is built on the DAY-grain
      // table — time-bounded, not event-bounded — so the per-type
      // self-join is model-sized at any corpus scale (the only
      // fact-sized work is the day aggregation); the ranking window is
      // partitioned by event_type over that bounded pair set.
      (s, d) => Shared.withCheckpointDir(s) {
        val dayNs = 86400L * 1000L * 1000L * 1000L
        // the day-grain table feeds both pair sides and the day count —
        // checkpoint it (time-bounded, model-sized) so the fact
        // aggregation runs once, not once per consumer
        val pts = Tables.events(s, d)
          .select(col("event_type"), expr(s"ts div ${dayNs}L").as("x"))
          .groupBy("event_type", "x").agg(count(lit(1)).as("y"))
          .checkpoint()
        val a = pts.select(col("event_type"), col("x").as("xi"),
          col("y").as("yi"))
        val b = pts.select(col("event_type"), col("x").as("xj"),
          col("y").as("yj"))
        val pr = a.join(b, Seq("event_type")).filter(col("xj") > col("xi"))
          .select(col("event_type"), col("xi"), col("xj"),
            ((col("yj") - col("yi")).cast("double") /
              (col("xj") - col("xi")).cast("double")).as("slope"))
        val cnt = pts.groupBy("event_type").agg(
          count(lit(1)).as("n_days"))
        val m = pr.groupBy("event_type").agg(count(lit(1)).as("n_pairs"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("slope"), col("xi"), col("xj"))
        pr.withColumn("rn", row_number().over(w))
          .join(broadcast(m), "event_type")
          .filter(expr("rn = (n_pairs + 1) div 2"))
          .join(broadcast(cnt), "event_type")
          .select(col("event_type"), col("n_days"), col("n_pairs"),
            col("slope").as("ts_slope"))
      },
      Some("""WITH pts AS (SELECT event_type,
                  epoch_us(ts) // 86400000000 AS x, count(*) AS y
                FROM events GROUP BY 1, 2),
              pr AS (SELECT a.event_type, a.x AS xi, b.x AS xj,
                  CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
                    AS slope
                FROM pts a JOIN pts b
                  ON a.event_type = b.event_type AND b.x > a.x),
              cnt AS (SELECT event_type, count(*) AS n_days
                FROM pts GROUP BY 1),
              m AS (SELECT event_type, count(*) AS n_pairs
                FROM pr GROUP BY 1),
              rk AS (SELECT event_type, slope,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY slope, xi, xj) AS rn
                FROM pr)
              SELECT rk.event_type, CAST(n_days AS BIGINT) AS n_days,
                CAST(n_pairs AS BIGINT) AS n_pairs, slope AS ts_slope
              FROM rk
                JOIN m ON rk.event_type = m.event_type
                JOIN cnt ON rk.event_type = cnt.event_type
              WHERE rn = (n_pairs + 1) // 2""")
    ),

    // ── DAILY TAIL LATENCY (exact p50/p95/p99 per day) ────────────────────
    QueryDef(
      "q270_daily_p95",
      // The SLO dashboard query: per-day exact p50/p95/p99 of event
      // value. Each percentile is an exact order statistic — the
      // smallest cents value whose running count covers the quantile
      // (ci·100 ≥ ntot·q) — picked with a conditional min off ONE
      // day-partitioned running-count table, so all three tail points
      // come from a single window pass with zero floating point.
      //
      // Shape, and why it scales: the q267 distinct-value discipline —
      // group to (day, cents), domain-bounded per day; the window
      // partitions by day (thousands of independent partitions, never
      // global); the day-total table re-attaches by day key. Output is
      // day-bounded.
      (s, d) => {
        val dayNs = 86400L * 1000L * 1000L * 1000L
        val ev = Tables.events(s, d).select(
          expr(s"ts div ${dayNs}L").as("day"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            * 100).cast("long").as("c"))
        val byv = ev.groupBy("day", "c").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("day").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = ev.groupBy("day").agg(count(lit(1)).as("ntot"))
        byv.withColumn("ci", sum(col("n")).over(w))
          .join(tot, "day")
          .groupBy("day", "ntot")
          .agg(
            min(when(col("ci") * 100 >= col("ntot") * 50, col("c")))
              .as("p50_cents"),
            min(when(col("ci") * 100 >= col("ntot") * 95, col("c")))
              .as("p95_cents"),
            min(when(col("ci") * 100 >= col("ntot") * 99, col("c")))
              .as("p99_cents"))
          .select(col("day"), col("ntot").as("n_events"),
            col("p50_cents"), col("p95_cents"), col("p99_cents"))
      },
      Some("""WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                FROM events),
              byv AS (SELECT day, c, count(*) AS n FROM ev GROUP BY 1, 2),
              cum AS (SELECT day, c,
                  sum(n) OVER (PARTITION BY day ORDER BY c
                    ROWS UNBOUNDED PRECEDING) AS ci
                FROM byv),
              tot AS (SELECT day, count(*) AS ntot FROM ev GROUP BY 1)
              SELECT cum.day, CAST(ntot AS BIGINT) AS n_events,
                min(CASE WHEN ci * 100 >= ntot * 50 THEN c END) AS p50_cents,
                min(CASE WHEN ci * 100 >= ntot * 95 THEN c END) AS p95_cents,
                min(CASE WHEN ci * 100 >= ntot * 99 THEN c END) AS p99_cents
              FROM cum JOIN tot ON cum.day = tot.day
              GROUP BY cum.day, ntot""")
    ),

    // ── STREAMING → RTCDB EXACTLY-ONCE SINK (ledger-fenced foreachBatch) ──
    QueryDef(
      "q274_stream_rtcdb_sink",
      // The integration a production deployment actually runs: the live
      // event stream lands in the rtcdb byte format via foreachBatch,
      // surviving the restart semantics Structured Streaming really has
      // (the last micro-batch is REDELIVERED after every recovery — the
      // sink must make that a no-op). [[graft.streaming.RtcdbSink]]
      // fences each batch with a pending/done ledger whose pending
      // record holds pre-append file lengths; append-only rtcdb files
      // make truncation a complete undo, so any crash point replays to
      // the exactly-once table (RtcdbSinkSpec proves the replay and the
      // mid-append-crash rollback). After the stream drains, this query
      // REPLAYS a full batch through the same commit path — the oracle
      // match proves the redelivery changed nothing — then audits the
      // sunk table through the rtcdb V2 read path.
      //
      // Shape, and why it scales: the sink append is the DSv2
      // distributed writer (range-sorted per the format contract, never
      // a driver collect); the ledger is O(batches) tiny files; the
      // audit is one pruned rtcdb scan + a 5-group aggregation.
      (s, d) => {
        import org.apache.spark.sql.streaming.Trigger
        val root = Shared.scratchRoot("q274", d)
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.delete)
        }
        java.nio.file.Files.createDirectories(root)
        val dbRoot = s"$root/db"
        val ledger = root.resolve("ledger")
        def proj(df: DataFrame): DataFrame = df.select(
          col("event_id"), col("event_type"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            * 100).cast("long").as("cents"))
        val q = EventStream.readEventStream(s, d).writeStream
          .foreachBatch((b: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], id: Long) => {
            graft.streaming.RtcdbSink.commitBatch(dbRoot, "events_sink",
              ledger, id, proj(b.toDF()))
            ()
          })
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // at-least-once redelivery, simulated at full-batch strength:
        // push batch 0's entire payload through the commit path again —
        // the done mark must make it a no-op or the sums below double
        graft.streaming.RtcdbSink.commitBatch(dbRoot, "events_sink",
          ledger, 0L, proj(Tables.events(s, d)))
        s.read.format("rtcdb").option("path", dbRoot)
          .option("table", "events_sink").load()
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents")).as("sum_cents"),
            min(col("event_id")).as("min_id"),
            max(col("event_id")).as("max_id"))
      },
      Some("""SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS sum_cents,
                min(event_id) AS min_id, max(event_id) AS max_id
              FROM events GROUP BY 1""")
    ),

    // ── RTCDB TAIL SOURCE (stream the byte format back out) ───────────────
    QueryDef(
      "q275_rtcdb_tail",
      // The source half completing q274's sink half: rtcdb as a
      // STREAMING source. The table's committed-block counter is the
      // stream offset (the same lockstep shortest-column rule the batch
      // scan reads by), so `readStream.format("rtcdb")` tails exactly
      // the blocks committed since the last checkpoint — the
      // change-data feed a downstream consumer attaches to the ingest
      // table (RtcdbSinkSpec proves the restart reads ONLY the delta).
      // Here: land the events in two ledger-fenced sink batches, tail
      // the table through a real AvailableNow streaming query into
      // parquet, and audit the streamed copy — which must equal the
      // original facts (the oracle).
      //
      // Shape, and why it scales: micro-batch partitions are contiguous
      // block ranges fanned to the default parallelism; the executor
      // reader is the SAME zone-map/column-pruning path as the batch
      // scan (per-block checks, no global sort assumption — appends are
      // only batch-sorted); offsets are two BIGINTs per micro-batch.
      (s, d) => {
        import org.apache.spark.sql.streaming.Trigger
        val root = Shared.scratchRoot("q275", d)
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.delete)
        }
        java.nio.file.Files.createDirectories(root)
        val dbRoot = s"$root/db"
        val ledger = root.resolve("ledger")
        val facts = Tables.events(s, d).select(
          col("event_id"), col("event_type"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            * 100).cast("long").as("cents"))
        // two ledger-fenced appends (id parity = two ingest batches)
        graft.streaming.RtcdbSink.commitBatch(dbRoot, "ev", ledger, 0L,
          facts.filter(col("event_id") % 2 === 0))
        graft.streaming.RtcdbSink.commitBatch(dbRoot, "ev", ledger, 1L,
          facts.filter(col("event_id") % 2 === 1))
        val out = s"$root/out"
        val q = s.readStream.format("rtcdb")
          .option("path", dbRoot).option("table", "ev").load()
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents")).as("sum_cents"),
            countDistinct(col("event_id")).as("n_distinct_ids"))
      },
      Some("""SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS sum_cents,
                count(DISTINCT event_id) AS n_distinct_ids
              FROM events GROUP BY 1""")
    ),

    // ── BOT / ABUSE FILTER (rate-based traffic hygiene) ───────────────────
    QueryDef(
      "q283_bot_filter",
      // The hygiene pass every engagement metric silently depends on:
      // flag users whose burst rate is inhuman (≥ 5 events inside one
      // minute, the classic scraper signature) and report the metric
      // damage they would have done — events excluded, and the purchase
      // count with and without them. All integer comparisons on exact
      // minute buckets; no rates as floats anywhere.
      //
      // Shape, and why it scales: one fact pass to (user, minute)
      // grain, one user-grain max, the bot set re-attaches as a keyed
      // semi/anti join (user-domain-bounded, broadcastable when small);
      // output is 1 row.
      (s, d) => {
        val minNs = 60L * 1000L * 1000L * 1000L
        val ev = Tables.events(s, d).select(col("user_id"),
          col("event_type"), expr(s"ts div ${minNs}L").as("m"))
        val burst = ev.groupBy("user_id", "m").agg(count(lit(1)).as("c"))
          .groupBy("user_id").agg(max(col("c")).as("peak"))
        val bots = burst.filter(col("peak") >= 5).select("user_id")
        val botEv = ev.join(bots, Seq("user_id"), "left_semi")
        val cleanEv = ev.join(bots, Seq("user_id"), "left_anti")
        val a = burst.agg(count(lit(1)).as("n_users")).head.getLong(0)
        val b = bots.count()
        val be = botEv.count()
        val cp = cleanEv.filter(col("event_type") === "purchase").count()
        val ap = ev.filter(col("event_type") === "purchase").count()
        import s.implicits._
        Seq((a, b, be, ap, cp)).toDF("n_users", "n_bots",
          "n_bot_events", "purchases_raw", "purchases_clean")
      },
      Some("""WITH ev AS (SELECT user_id, event_type,
                  epoch_us(ts) // 60000000 AS m
                FROM events),
              burst AS (SELECT user_id, max(c) AS peak FROM
                  (SELECT user_id, m, count(*) AS c FROM ev GROUP BY 1, 2)
                GROUP BY 1),
              bots AS (SELECT user_id FROM burst WHERE peak >= 5)
              SELECT
                (SELECT count(*) FROM burst) AS n_users,
                (SELECT count(*) FROM bots) AS n_bots,
                (SELECT count(*) FROM ev
                  WHERE user_id IN (SELECT user_id FROM bots))
                  AS n_bot_events,
                (SELECT count(*) FROM ev WHERE event_type = 'purchase')
                  AS purchases_raw,
                (SELECT count(*) FROM ev WHERE event_type = 'purchase'
                  AND user_id NOT IN (SELECT user_id FROM bots))
                  AS purchases_clean""")
    ),

    // ── BACKFILL BATCH PLANNER (budgeted replay scheduling) ───────────────
    QueryDef(
      "q284_backfill_planner",
      // The ops tool in front of every historical replay: cut the
      // day-grain backlog into contiguous batches of ≈ B rows each
      // (B = total/5 here), so each backfill run fits its budget and
      // the plan is reproducible. A day's batch = floor(exclusive row
      // prefix / B) — the q265 systematic-walk arithmetic repurposed —
      // so batch boundaries are exact integers both engines agree on.
      //
      // Shape, and why it scales: the day-grain table is time-bounded;
      // its prefix sums go through [[Shared.distributedPrefixSum]]
      // (bucketed windows, no global sort); the total is one
      // driver-probed scalar; output is ≤ 6 batch rows.
      (s, d) => Shared.withCheckpointDir(s) {
        val dayNs = 86400L * 1000L * 1000L * 1000L
        val days = Tables.events(s, d)
          .select(expr(s"ts div ${dayNs}L").as("day"))
          .groupBy("day").agg(count(lit(1)).as("n"))
          .checkpoint()
        val total = days.agg(sum(col("n"))).head.getLong(0)
        val b = math.max(total / 5L, 1L)
        Shared.distributedPrefixSum(days, "day", "n")
          .withColumn("batch_id", expr(s"cum div ${b}L"))
          .groupBy("batch_id")
          .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_rows"),
            min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      },
      Some("""WITH days AS (SELECT epoch_us(ts) // 86400000000 AS day,
                  count(*) AS n
                FROM events GROUP BY 1),
              tot AS (SELECT greatest(sum(n) // 5, 1) AS b FROM days),
              pre AS (SELECT day, n,
                  coalesce(sum(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                    PRECEDING AND 1 PRECEDING), 0) AS cum
                FROM days)
              SELECT CAST(cum // b AS BIGINT) AS batch_id,
                CAST(count(*) AS BIGINT) AS n_days,
                CAST(sum(n) AS BIGINT) AS n_rows,
                min(day) AS first_day, max(day) AS last_day
              FROM pre CROSS JOIN tot
              GROUP BY 1""")
    ),

    // ── SAMPLE-RATIO-MISMATCH GUARDRAIL (experiment integrity) ────────────
    QueryDef(
      "q285_srm_check",
      // The first check every experimentation platform runs before
      // reading ANY metric: did the 50/50 assignment actually deliver
      // 50/50 exposure? A sample-ratio mismatch means the experiment is
      // corrupted (bot filtering, logging loss, or redirect bugs biased
      // one arm) and all downstream p-values are garbage. Assignment is
      // the deterministic shared digest h32(user_id) mod 2 at USER
      // grain; the test is the exact 1-df chi-square (n_a−n_b)²/(n_a+
      // n_b) against the 3.84 (95%) critical value — counts exact, one
      // pinned division, the flag an exact double comparison.
      //
      // Shape, and why it scales: distinct-users aggregation (user-
      // domain-bounded) + one scalar fold; output is 1 row.
      (s, d) => {
        val users = Tables.events(s, d).select(col("user_id")).distinct()
          .select((Shared.h32(col("user_id").cast("string")) % 2)
            .as("arm"))
        users.agg(
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
          .withColumn("chi2",
            ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
              .cast("double") / (col("n_a") + col("n_b")).cast("double"))
          .withColumn("srm_detected", (col("chi2") > 3.84).cast("long"))
      },
      Some(s"""WITH u AS (SELECT DISTINCT user_id FROM events),
              arms AS (SELECT
                  ${Shared.SQL_H32("CAST(user_id AS VARCHAR)")} % 2 AS arm
                FROM u),
              c AS (SELECT
                  sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
                  sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b
                FROM arms)
              SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) /
                  CAST(n_a + n_b AS DOUBLE) AS chi2,
                CAST(CASE WHEN CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) /
                  CAST(n_a + n_b AS DOUBLE) > 3.84 THEN 1 ELSE 0 END
                  AS BIGINT) AS srm_detected
              FROM c""")
    ),

    // ── FORECAST BACKTEST (holdout sMAPE for the trend models) ────────────
    QueryDef(
      "q287_forecast_backtest",
      // q205 fits and forecasts; this is the EVALUATION a forecast
      // deserves before anyone trusts it: hold out the final week, fit
      // the same closed-form OLS on everything before it, predict the
      // held-out week, and report per-type absolute error and sMAPE
      // (200·|f−y|/(|f|+y), the scale-free backtest metric). Training
      // sums are exact BIGINTs; the forecast and both error metrics are
      // pinned double expressions on identical operands in both
      // engines.
      //
      // Shape, and why it scales: one fact pass to week grain
      // (time-bounded); the train fit is one aggregation per type; the
      // holdout attaches by type key — no window, no iteration; output
      // is one row per event type.
      (s, d) => {
        val weekNs = 604800L * 1000L * 1000L * 1000L
        val wk = Tables.events(s, d)
          .select(col("event_type"), expr(s"ts div ${weekNs}L").as("x"))
          .groupBy("event_type", "x").agg(count(lit(1)).as("y"))
        val xmax = wk.agg(max(col("x"))).head.getLong(0)
        val fit = wk.filter(col("x") < xmax)
          .groupBy("event_type").agg(
            count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .withColumn("slope",
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .withColumn("intercept",
            (col("sy").cast("double") -
              col("slope") * col("sx").cast("double")) /
              col("n").cast("double"))
          .withColumn("forecast",
            col("intercept") + col("slope") * lit(xmax).cast("double"))
        val actual = wk.filter(col("x") === xmax)
          .select(col("event_type"), col("y").as("actual"))
        fit.join(actual, "event_type")
          .select(col("event_type"), col("n").as("n_train_weeks"),
            col("actual"), col("forecast"),
            (lit(200.0) * abs(col("forecast") - col("actual").cast("double")) /
              (abs(col("forecast")) + col("actual").cast("double")))
              .as("smape_pct"))
      },
      Some("""WITH wk AS (SELECT event_type,
                  epoch_us(ts) // 604800000000 AS x, count(*) AS y
                FROM events GROUP BY 1, 2),
              mx AS (SELECT max(x) AS xmax FROM wk),
              st AS (SELECT event_type, count(*) AS n,
                  sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
                  sum(x*x) AS sxx
                FROM wk CROSS JOIN mx WHERE x < xmax GROUP BY 1),
              fit AS (SELECT event_type, n,
                  CAST(n*sxy - sx*sy AS DOUBLE)
                    / CAST(n*sxx - sx*sx AS DOUBLE) AS slope,
                  (CAST(sy AS DOUBLE) - (CAST(n*sxy - sx*sy AS DOUBLE)
                    / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                    / CAST(n AS DOUBLE) AS intercept
                FROM st),
              fc AS (SELECT event_type, n,
                  intercept + slope * CAST(xmax AS DOUBLE) AS forecast
                FROM fit CROSS JOIN mx),
              act AS (SELECT event_type, y AS actual FROM wk CROSS JOIN mx
                WHERE x = xmax)
              SELECT fc.event_type, CAST(n AS BIGINT) AS n_train_weeks,
                CAST(actual AS BIGINT) AS actual, forecast,
                200.0 * abs(forecast - CAST(actual AS DOUBLE)) /
                  (abs(forecast) + CAST(actual AS DOUBLE)) AS smape_pct
              FROM fc JOIN act ON fc.event_type = act.event_type""")
    ),

    // ── KAPLAN-MEIER SURVIVAL CURVE (right-censored retention) ────────────
    QueryDef(
      "q295_kaplan_meier",
      // The survival-analysis estimator behind every honest retention
      // curve: users whose last activity touches the observation
      // horizon are CENSORED (still alive — counting them as churned is
      // the classic retention-dashboard bias), and S(t) multiplies
      // exact per-time hazards (1 − d_t/n_t) over the event times up to
      // t. Lifetimes and risk sets are exact integers on the day grain;
      // the product folds LEFT-TO-RIGHT over ascending lifetimes in
      // both engines (the fsum discipline, multiplicative), so the
      // curve is bit-deterministic.
      //
      // Shape, and why it scales: one fact pass to user grain, one to
      // the lifetime grain (time-bounded, model-sized); risk sets via
      // [[Shared.distributedPrefixSum]]; the grain collects once as a
      // 1-row broadcast model array for the fold. Output is one row
      // per distinct lifetime.
      (s, d) => Shared.withCheckpointDir(s) {
        val dayNs = 86400L * 1000L * 1000L * 1000L
        val life = Tables.events(s, d)
          .select(col("user_id"), expr(s"ts div ${dayNs}L").as("day"))
          .groupBy("user_id")
          .agg(min(col("day")).as("first"), max(col("day")).as("last"))
        val hmax = life.agg(max(col("last"))).head.getLong(0)
        val grain = life
          .select((col("last") - col("first")).as("t"),
            (col("last") === hmax).cast("long").as("cens"))
          .groupBy("t").agg(
            sum(lit(1L) - col("cens")).as("d"),
            sum(col("cens")).as("c"))
          .withColumn("tot", col("d") + col("c"))
          .checkpoint()
        val n = grain.agg(sum(col("tot"))).head.getLong(0)
        val pre = Shared.distributedPrefixSum(grain, "t", "tot")
          .withColumn("n_at_risk", lit(n) - col("cum"))
        val model = pre.agg(sort_array(collect_list(
            struct(col("t"), col("d"), col("n_at_risk").as("n"))))
          .as("arr"))
        pre.crossJoin(broadcast(model))
          .select(col("t"), col("n_at_risk"), col("d").as("n_events"),
            col("c").as("n_censored"),
            expr("""aggregate(
                filter(arr, e -> e.t <= t AND e.d > 0),
                CAST(1.0 AS DOUBLE),
                (acc, e) -> acc * (CAST(1.0 AS DOUBLE)
                  - CAST(e.d AS DOUBLE) / CAST(e.n AS DOUBLE)))""")
              .as("survival"))
      },
      Some("""WITH life AS (SELECT user_id,
                  min(epoch_us(ts) // 86400000000) AS f,
                  max(epoch_us(ts) // 86400000000) AS l
                FROM events GROUP BY 1),
              hm AS (SELECT max(l) AS hmax FROM life),
              grain AS (SELECT l - f AS t,
                  sum(CASE WHEN l = hmax THEN 0 ELSE 1 END) AS d,
                  sum(CASE WHEN l = hmax THEN 1 ELSE 0 END) AS c
                FROM life CROSS JOIN hm GROUP BY 1),
              tot AS (SELECT sum(d + c) AS n FROM grain),
              pre AS (SELECT t, d, c,
                  n - coalesce(sum(d + c) OVER (ORDER BY t ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
                FROM grain CROSS JOIN tot)
              SELECT g.t, CAST(g.n_at_risk AS BIGINT) AS n_at_risk,
                CAST(g.d AS BIGINT) AS n_events,
                CAST(g.c AS BIGINT) AS n_censored,
                coalesce((SELECT list_aggregate(
                    list(1.0 - CAST(g2.d AS DOUBLE) / CAST(g2.n_at_risk
                      AS DOUBLE) ORDER BY g2.t),
                    'product')
                  FROM pre g2 WHERE g2.t <= g.t AND g2.d > 0),
                  1.0) AS survival
              FROM pre g""")
    ),

    // ── STICKINESS (DAU/MAU without a range join) ─────────────────────────
    QueryDef(
      "q297_stickiness",
      // The product-health ratio on every growth dashboard: daily
      // actives over trailing-30-day actives. The naive plan is a
      // day×user range join (every day probing a 30-day window); here
      // each (day, user) activity row instead EXPLODES to the ≤30
      // observation days it contributes to — a stateless bounded-
      // fan-out projection — and MAU becomes a plain distinct count
      // per observation day. Exact integers; the ratio is an exact
      // ppm division.
      //
      // Shape, and why it scales: one fact pass to (day, user) grain,
      // one bounded explode (×30 on the DAY-grain activity table, not
      // the raw facts), two hash distinct-aggregations; no range join,
      // no window; output is day-bounded.
      (s, d) => {
        val dayNs = 86400L * 1000L * 1000L * 1000L
        val du = Tables.events(s, d)
          .select(expr(s"ts div ${dayNs}L").as("day"), col("user_id"))
          .distinct()
        val hmax = du.agg(max(col("day"))).head.getLong(0)
        val dau = du.groupBy("day")
          .agg(countDistinct(col("user_id")).as("dau"))
        val mau = du
          .select(explode(sequence(col("day"),
            least(col("day") + 29, lit(hmax)))).as("obs_day"),
            col("user_id"))
          .groupBy("obs_day")
          .agg(countDistinct(col("user_id")).as("mau"))
        dau.join(mau, dau("day") === mau("obs_day"))
          .select(col("day"), col("dau"), col("mau"),
            expr("dau * 1000000L div mau").as("stickiness_ppm"))
      },
      Some("""WITH du AS (SELECT DISTINCT
                  epoch_us(ts) // 86400000000 AS day, user_id
                FROM events),
              hm AS (SELECT max(day) AS hmax FROM du),
              dau AS (SELECT day, count(DISTINCT user_id) AS dau
                FROM du GROUP BY 1),
              mau AS (SELECT obs_day, count(DISTINCT user_id) AS mau
                FROM (SELECT unnest(generate_series(day,
                      least(day + 29, hmax))) AS obs_day, user_id
                  FROM du CROSS JOIN hm)
                GROUP BY 1)
              SELECT day, CAST(dau AS BIGINT) AS dau,
                CAST(mau AS BIGINT) AS mau,
                CAST(dau * 1000000 // mau AS BIGINT) AS stickiness_ppm
              FROM dau JOIN mau ON dau.day = mau.obs_day""")
    ),

    // ── ERROR-BUDGET BURN (SLO accounting) ────────────────────────────────
    QueryDef(
      "q298_error_budget",
      // The SRE ledger over the event stream: against a 1% error-rate
      // SLO, how much budget does each day burn, and what is the
      // cumulative position? Exact integer bookkeeping in hundredths
      // of an event (excess×100 = errors·100 − total — positive means
      // over budget that day), so the running ledger never touches
      // floating point; the daily rate reports as exact ppm.
      //
      // Shape, and why it scales: one fact pass to day grain; the
      // running ledger is [[Shared.distributedPrefixSum]] over the
      // time-bounded day table; output is day-bounded.
      (s, d) => Shared.withCheckpointDir(s) {
        val dayNs = 86400L * 1000L * 1000L * 1000L
        val days = Tables.events(s, d)
          .select(expr(s"ts div ${dayNs}L").as("day"),
            (col("event_type") === "error").cast("long").as("isErr"))
          .groupBy("day")
          .agg(count(lit(1)).as("n"), sum(col("isErr")).as("n_err"))
          .withColumn("excess_x100", col("n_err") * 100 - col("n"))
          .checkpoint()
        Shared.distributedPrefixSum(days, "day", "excess_x100")
          .select(col("day"), col("n"), col("n_err"),
            expr("n_err * 1000000L div n").as("err_ppm"),
            col("excess_x100"),
            (col("cum") + col("excess_x100")).as("cum_excess_x100"))
      },
      Some("""WITH days AS (SELECT epoch_us(ts) // 86400000000 AS day,
                  count(*) AS n,
                  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS n_err
                FROM events GROUP BY 1)
              SELECT day, CAST(n AS BIGINT) AS n,
                CAST(n_err AS BIGINT) AS n_err,
                CAST(n_err * 1000000 // n AS BIGINT) AS err_ppm,
                CAST(n_err * 100 - n AS BIGINT) AS excess_x100,
                CAST(sum(n_err * 100 - n) OVER (ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_excess_x100
              FROM days""")
    ),

    // ── WILSON SCORE INTERVALS (honest small-n proportions) ───────────────
    QueryDef(
      "q299_wilson_ci",
      // The proportion interval a metrics platform should ship instead
      // of the Wald ±z√(p(1−p)/n) taught in intro stats — Wald
      // collapses to zero width at p̂∈{0,1} and undercovers badly at
      // small n; Wilson (1927) stays calibrated. Computed per event
      // type on its share of traffic, z = 1.96. Counts are exact
      // BIGINTs; the interval is ONE pinned expression whose text is
      // shared verbatim between the Spark `expr` and the oracle SQL,
      // so every IEEE operation sequence is identical by construction.
      //
      // Shape, and why it scales: one 5-group aggregation + a 1-row
      // total broadcast; output is type-bounded.
      (s, d) => {
        val byType = Tables.events(s, d).groupBy("event_type")
          .agg(count(lit(1)).as("x"))
        val tot = byType.agg(sum(col("x")).as("n"))
        byType.crossJoin(broadcast(tot))
          .withColumn("p_hat", expr(WilsonSql.pHat))
          .withColumn("ci_lo", expr(WilsonSql.lo))
          .withColumn("ci_hi", expr(WilsonSql.hi))
          .select("event_type", "x", "n", "p_hat", "ci_lo", "ci_hi")
      },
      Some(s"""WITH bt AS (SELECT event_type, count(*) AS x
                FROM events GROUP BY 1),
              tot AS (SELECT CAST(sum(x) AS BIGINT) AS n FROM bt)
              SELECT event_type, CAST(x AS BIGINT) AS x, n,
                ${WilsonSql.pHat} AS p_hat,
                ${WilsonSql.lo} AS ci_lo,
                ${WilsonSql.hi} AS ci_hi
              FROM bt CROSS JOIN tot""")
    ),

    // ── POST-STRATIFICATION ATE (observational effect estimation) ─────────
    QueryDef(
      "q301_post_stratification",
      // The first causal-inference correction every observational
      // comparison needs: the naive treated-vs-control difference
      // confounds with activity level, so standardize — estimate the
      // effect within activity strata and recombine under the
      // POPULATION stratum weights (direct standardization, the
      // closed-form cousin of inverse-propensity weighting).
      // Assignment is the q285 h32 arm; outcome is per-user purchase
      // cents; strata are event-count buckets. All sums exact BIGINTs;
      // each stratum mean and the two estimates are pinned double
      // arithmetic.
      //
      // Shape, and why it scales: one fact pass to user grain, one
      // stratum-grain aggregation (bounded buckets), a 1-row fold;
      // output is 1 row.
      (s, d) => {
        val u = Tables.events(s, d)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_ev"),
            sum(when(col("event_type") === "purchase",
              (col("value").cast(org.apache.spark.sql.types
                .DecimalType(18, 2)) * 100).cast("long")).otherwise(0L))
              .as("y"))
          .select(
            (Shared.h32(col("user_id").cast("string")) % 2).as("arm"),
            when(col("n_ev") < 30, 0).when(col("n_ev") < 60, 1)
              .otherwise(2).as("stratum"),
            col("y"))
        val st = u.groupBy("stratum").agg(
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("y1"),
          sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("y0"))
          // a stratum with an empty arm carries no effect estimate —
          // standardize over the represented strata only (and never
          // divide by zero; surfaced by the sf0.001 bench smoke)
          .filter(col("n1") > 0L && col("n0") > 0L)
        st.agg(
            sum(col("n1")).as("n_treated"), sum(col("n0")).as("n_control"),
            sum(col("y1")).as("sy1"), sum(col("y0")).as("sy0"),
            sum(expr("""(CAST(y1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(y0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                * CAST(n1 + n0 AS DOUBLE)""")).as("wsum"),
            sum(col("n1") + col("n0")).as("ntot"))
          .select(col("n_treated"), col("n_control"),
            expr("""CAST(sy1 AS DOUBLE) / CAST(n_treated AS DOUBLE)
              - CAST(sy0 AS DOUBLE) / CAST(n_control AS DOUBLE)""")
              .as("naive_diff_cents"),
            expr("wsum / CAST(ntot AS DOUBLE)").as("post_strat_ate_cents"))
      },
      Some("""WITH u AS (SELECT
                  CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                    1, 8)) AS BIGINT) % 2 AS arm,
                  CASE WHEN count(*) < 30 THEN 0
                    WHEN count(*) < 60 THEN 1 ELSE 2 END AS stratum,
                  sum(CASE WHEN event_type = 'purchase' THEN
                    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    ELSE 0 END) AS y
                FROM events GROUP BY user_id),
              st AS (SELECT stratum,
                  sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
                  sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
                  sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS y1,
                  sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS y0
                FROM u GROUP BY 1
                HAVING sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0
                  AND sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > 0),
              f AS (SELECT sum(n1) AS n_treated, sum(n0) AS n_control,
                  sum(y1) AS sy1, sum(y0) AS sy0,
                  sum((CAST(y1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                    - CAST(y0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                    * CAST(n1 + n0 AS DOUBLE)) AS wsum,
                  sum(n1 + n0) AS ntot
                FROM st)
              SELECT CAST(n_treated AS BIGINT) AS n_treated,
                CAST(n_control AS BIGINT) AS n_control,
                CAST(sy1 AS DOUBLE) / CAST(n_treated AS DOUBLE)
                  - CAST(sy0 AS DOUBLE) / CAST(n_control AS DOUBLE)
                  AS naive_diff_cents,
                wsum / CAST(ntot AS DOUBLE) AS post_strat_ate_cents
              FROM f""")
    ),

    // ── CONSISTENT-HASHING REBALANCE AUDIT (ring vs mod-N) ────────────────
    QueryDef(
      "q302_consistent_hashing",
      // The systems argument for hash rings, MEASURED: when the shard
      // count grows 8 → 9, mod-N remaps ~8/9 of all keys (every
      // residue shifts) while a consistent-hash ring with 16 vnodes
      // per shard remaps ~1/9 (only keys whose clockwise successor
      // changed). Ring assignment = the lexicographic minimum of
      // (no-vnode-≥-key flag, vnode hash, shard) over the broadcast
      // vnode table — the wraparound rule as a pure integer struct
      // min, no ordering, no window. Output: per scheme, exact keys
      // remapped and the ppm rate.
      //
      // Shape, and why it scales: keys are the distinct-user grain; the
      // ring is a (shards×vnodes)-row broadcast; assignment is one
      // keyed aggregation per ring size; the mod scheme is a stateless
      // projection. Output is 2 rows.
      (s, d) => {
        val keys = Tables.events(s, d).select(col("user_id")).distinct()
          .select(col("user_id"),
            Shared.h32(col("user_id").cast("string")).as("kh"))
        def ring(n: Int): DataFrame = {
          import s.implicits._
          (0 until n).flatMap(sh => (0 until 16).map(v => (sh.toLong,
            s"$sh:$v"))).toDF("shard", "vn")
            .select(col("shard"), Shared.h32(col("vn")).as("vh"))
        }
        def assign(n: Int, out: String): DataFrame =
          keys.crossJoin(broadcast(ring(n)))
            .groupBy("user_id")
            .agg(min(struct(
              when(col("vh") >= col("kh"), 0).otherwise(1).as("wrap"),
              col("vh"), col("shard"))).getField("shard").as(out))
        val ringMoved = assign(8, "s8").join(assign(9, "s9"), "user_id")
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L))
              .as("n_remapped"))
        val modMoved = keys
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("kh") % 8 =!= col("kh") % 9, 1L).otherwise(0L))
              .as("n_remapped"))
        import s.implicits._
        modMoved.select(lit("mod_n").as("scheme"), col("n_keys"),
            col("n_remapped"))
          .unionAll(ringMoved.select(lit("ring_16vn").as("scheme"),
            col("n_keys"), col("n_remapped")))
          .withColumn("remap_ppm",
            expr("n_remapped * 1000000L div n_keys"))
      },
      Some(s"""WITH keys AS (SELECT user_id,
                  ${Shared.SQL_H32("CAST(user_id AS VARCHAR)")} AS kh
                FROM (SELECT DISTINCT user_id FROM events)),
              ring8 AS (SELECT sh AS shard,
                  ${Shared.SQL_H32("sh || ':' || v")} AS vh
                FROM range(0, 8) r(sh), range(0, 16) q(v)),
              ring9 AS (SELECT sh AS shard,
                  ${Shared.SQL_H32("sh || ':' || v")} AS vh
                FROM range(0, 9) r(sh), range(0, 16) q(v)),
              a8 AS (SELECT user_id,
                  (min(struct_pack(wrap := CASE WHEN vh >= kh THEN 0
                    ELSE 1 END, vh := vh, shard := shard))).shard AS s8
                FROM keys CROSS JOIN ring8 GROUP BY 1),
              a9 AS (SELECT user_id,
                  (min(struct_pack(wrap := CASE WHEN vh >= kh THEN 0
                    ELSE 1 END, vh := vh, shard := shard))).shard AS s9
                FROM keys CROSS JOIN ring9 GROUP BY 1),
              rng AS (SELECT count(*) AS n_keys,
                  sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS n_remapped
                FROM a8 JOIN a9 USING (user_id)),
              md AS (SELECT count(*) AS n_keys,
                  sum(CASE WHEN kh % 8 <> kh % 9 THEN 1 ELSE 0 END)
                    AS n_remapped
                FROM keys)
              SELECT 'mod_n' AS scheme, CAST(n_keys AS BIGINT) AS n_keys,
                CAST(n_remapped AS BIGINT) AS n_remapped,
                CAST(n_remapped * 1000000 // n_keys AS BIGINT) AS remap_ppm
              FROM md
              UNION ALL
              SELECT 'ring_16vn', CAST(n_keys AS BIGINT),
                CAST(n_remapped AS BIGINT),
                CAST(n_remapped * 1000000 // n_keys AS BIGINT)
              FROM rng""")
    ),

    // ── CUPED VARIANCE REDUCTION (pre-period covariate adjustment) ────────
    QueryDef(
      "q303_cuped",
      // The experimentation-platform technique that cut A/B runtimes
      // industry-wide (Deng et al. 2013): adjust each user's outcome by
      // their PRE-period behavior, y* = y − θ(x − x̄), θ = cov(x,y)/
      // var(x) — same expectation, variance shrunk by ρ². The algebra
      // collapses to exact moment sums (Σx, Σy, Σxy, Σx² as BIGINTs —
      // the q59 discipline), so θ, both arm contrasts, and the
      // variance-reduction factor are pinned doubles; no per-user
      // double pass exists at all.
      //
      // Shape, and why it scales: one fact pass to user grain (pre/post
      // split on the day midpoint), one scalar moment fold + one 2-arm
      // fold; output is 1 row.
      (s, d) => {
        val dayNs = 86400L * 1000L * 1000L * 1000L
        val u = Tables.events(s, d)
          .select(col("user_id"), expr(s"ts div ${dayNs}L").as("day"),
            when(col("event_type") === "purchase",
              (col("value").cast(org.apache.spark.sql.types
                .DecimalType(18, 2)) * 100).cast("long")).otherwise(0L)
              .as("c"))
          .groupBy("user_id")
          .agg(sum(when(col("day") - 19723L < 15, col("c")).otherwise(0L))
              .as("x"),
            sum(when(col("day") - 19723L >= 15, col("c")).otherwise(0L))
              .as("y"))
          .withColumn("arm", Shared.h32(col("user_id").cast("string")) % 2)
        val m = u.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("y1"),
          sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("y0"),
          sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("x1"),
          sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("x0"))
        m.select(col("n"),
          expr(CupedSql.theta).as("theta"),
          expr(CupedSql.naive).as("diff_naive_cents"),
          expr(CupedSql.adjusted).as("diff_cuped_cents"),
          expr(CupedSql.rho2).as("rho2"))
      },
      Some(s"""WITH u AS (SELECT user_id,
                  sum(CASE WHEN epoch_us(ts) // 86400000000 - 19723 < 15
                    THEN CASE WHEN event_type = 'purchase' THEN
                      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                      ELSE 0 END ELSE 0 END) AS x,
                  sum(CASE WHEN epoch_us(ts) // 86400000000 - 19723 >= 15
                    THEN CASE WHEN event_type = 'purchase' THEN
                      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                      ELSE 0 END ELSE 0 END) AS y,
                  ${Shared.SQL_H32("CAST(user_id AS VARCHAR)")} % 2 AS arm
                FROM events GROUP BY user_id),
              m AS (SELECT count(*) AS n,
                  sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
                  sum(x*x) AS sxx, sum(y*y) AS syy,
                  sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
                  sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
                  sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS y1,
                  sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS y0,
                  sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS x1,
                  sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS x0
                FROM u)
              SELECT CAST(n AS BIGINT) AS n,
                ${CupedSql.theta} AS theta,
                ${CupedSql.naive} AS diff_naive_cents,
                ${CupedSql.adjusted} AS diff_cuped_cents,
                ${CupedSql.rho2} AS rho2
              FROM m""")
    ),

    // ── STREAMING MV OFF THE RTCDB TAIL (the full integration loop) ───────
    QueryDef(
      "q311_rtcdb_stream_mv",
      // The round's streaming/storage pieces composed into the loop a
      // real deployment runs: events land in the rtcdb byte format
      // through the exactly-once sink (q274), a Structured Streaming
      // query TAILS the table through the micro-batch source (q275,
      // maxBlocksPerTrigger=64 so larger corpora drain in several paced
      // batches while the per-batch MV merge stays amortized), and each micro-batch maintains a per-type materialized
      // view through the catalog's additive upsert (the q150 merge
      // rule: MV ⊎ delta re-aggregated). The maintained MV must equal
      // the one-shot aggregate over the raw facts — the oracle —
      // proving sink, tail, pacing, and merge compose without losing
      // or duplicating a row.
      //
      // Shape, and why it scales: every stage is the already-proven
      // machinery; per-batch merge cost is MV-sized, not fact-sized;
      // the tail reads each committed block exactly once across the
      // paced micro-batches.
      (s, d) => {
        import org.apache.spark.sql.streaming.Trigger
        import graft.catalog.DB
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val root = Shared.scratchRoot("q311", d)
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.delete)
        }
        java.nio.file.Files.createDirectories(root)
        val dbRoot = s"$root/db"
        val ledger = root.resolve("ledger")
        val facts = Tables.events(s, d).select(
          col("event_id"), col("event_type"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            * 100).cast("long").as("cents"))
        graft.streaming.RtcdbSink.commitBatch(dbRoot, "ev", ledger, 0L,
          facts.filter(col("event_id") % 2 === 0))
        graft.streaming.RtcdbSink.commitBatch(dbRoot, "ev", ledger, 1L,
          facts.filter(col("event_id") % 2 === 1))
        val mvSchema = StructType(Seq(
          StructField("event_type", StringType, nullable = false),
          StructField("n", LongType, nullable = false),
          StructField("sum_cents", LongType, nullable = false)))
        val mvDb = DB.init(s"$root/mv", Seq("mv" -> mvSchema))(s)
        val q = s.readStream.format("rtcdb")
          .option("path", dbRoot).option("table", "ev")
          .option("maxBlocksPerTrigger", "64").load()
          .writeStream
          .foreachBatch((b: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], _: Long) => {
            val delta = b.groupBy("event_type")
              .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
            val merged = mvDb.table("mv").unionByName(delta)
              .groupBy("event_type")
              .agg(sum(col("n")).as("n"),
                sum(col("sum_cents")).as("sum_cents"))
            mvDb.upsert("mv", merged, Seq("event_type"))
            ()
          })
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        mvDb.table("mv")
      },
      Some("""SELECT event_type, count(*) AS n,
                CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS sum_cents
              FROM events GROUP BY 1""")
    ),

    // ── SEASONAL RESIDUAL OUTLIERS (deseasonalized anomaly detection) ─────
    QueryDef(
      "q312_seasonal_outliers",
      // The fix for the false alarms every weekday-seasonal metric
      // triggers under plain thresholds (q206/q222 treat the series as
      // stationary): remove the day-of-week component FIRST — residual
      // = daily count minus its weekday mean — then apply the robust
      // q267 fence (median ± 3·MAD) to the residuals. To keep residuals
      // EXACT integers, everything scales by 7·n_w: r = 7·n_w·c −
      // 7·Σ_w, so means never become doubles and the fence comparison
      // is pure BIGINT.
      //
      // Shape, and why it scales: day grain (time-bounded) throughout;
      // weekday means are a 7-row broadcast; the residual median/MAD
      // reuse the distinct-value discipline on the day table; output is
      // 1 row + the worst offender.
      (s, d) => Shared.withCheckpointDir(s) {
        val dayNs = 86400L * 1000L * 1000L * 1000L
        val days = Tables.events(s, d)
          .select(expr(s"ts div ${dayNs}L").as("day"))
          .groupBy("day").agg(count(lit(1)).as("c"))
          .withColumn("dow", expr("day % 7"))
          .checkpoint()
        val wk = days.groupBy("dow")
          .agg(sum(col("c")).as("sw"), count(lit(1)).as("nw"))
        val res = days.join(broadcast(wk), "dow")
          .select(col("day"), col("c"),
            (col("c") * 7 * col("nw") - lit(7) * col("sw")).as("r"))
          .checkpoint()
        val tot = res.count()
        def lowerMedian(df: DataFrame, vc: String): Long = {
          val byv = df.groupBy(col(vc)).agg(count(lit(1)).as("n"))
          Shared.distributedPrefixSum(byv, vc, "n")
            .filter((col("cum") + col("n")) * 2 >= tot)
            .agg(min(col(vc))).head.getLong(0)
        }
        val med = lowerMedian(res, "r")
        val mad = lowerMedian(
          res.select(abs(col("r") - med).as("ad")), "ad")
        res.agg(count(lit(1)).as("n_days"),
            lit(med).as("median_residual"), lit(mad).as("mad_residual"),
            sum(when(abs(col("r") - med) > mad * 3, 1L).otherwise(0L))
              .as("n_outlier_days"),
            min(when(abs(col("r") - med) > mad * 3, col("day")))
              .as("first_outlier_day"))
      },
      Some("""WITH days AS (SELECT epoch_us(ts) // 86400000000 AS day,
                  count(*) AS c
                FROM events GROUP BY 1),
              dd AS (SELECT day, c, day % 7 AS dow FROM days),
              wk AS (SELECT dow, sum(c) AS sw, count(*) AS nw
                FROM dd GROUP BY 1),
              res AS (SELECT day, c, c * 7 * nw - 7 * sw AS r
                FROM dd JOIN wk ON dd.dow = wk.dow),
              tot AS (SELECT count(*) AS n FROM res),
              medt AS (SELECT min(r) AS med FROM (
                  SELECT r, sum(cnt) OVER (ORDER BY r
                    ROWS UNBOUNDED PRECEDING) AS ci
                  FROM (SELECT r, count(*) AS cnt FROM res GROUP BY 1))
                CROSS JOIN tot WHERE ci * 2 >= n),
              madt AS (SELECT min(ad) AS mad FROM (
                  SELECT ad, sum(cnt) OVER (ORDER BY ad
                    ROWS UNBOUNDED PRECEDING) AS ci
                  FROM (SELECT abs(r - med) AS ad, count(*) AS cnt
                    FROM res CROSS JOIN medt GROUP BY 1))
                CROSS JOIN tot WHERE ci * 2 >= n)
              SELECT count(*) AS n_days,
                CAST(med AS BIGINT) AS median_residual,
                CAST(mad AS BIGINT) AS mad_residual,
                CAST(sum(CASE WHEN abs(r - med) > mad * 3 THEN 1 ELSE 0
                  END) AS BIGINT) AS n_outlier_days,
                min(CASE WHEN abs(r - med) > mad * 3 THEN day END)
                  AS first_outlier_day
              FROM res CROSS JOIN medt CROSS JOIN madt
              GROUP BY med, mad""")
    ),

    // ── GROWTH ACCOUNTING (new / retained / resurrected / churned) ────────
    QueryDef(
      "q313_growth_accounting",
      // The growth-accounting identity every subscription dashboard
      // decomposes WAU with: this week's actives = NEW (first-ever
      // week) + RETAINED (also active last week) + RESURRECTED (active
      // before, idle last week); CHURNED = last week's actives missing
      // now. The identity actives(w) = new + retained + resurrected
      // and actives(w−1) = retained(w) + churned(w) holds exactly —
      // both engines must agree on every cell for the oracle to match.
      //
      // Shape, and why it scales: one fact pass to the (user, week)
      // grain; first-weeks are a user-grain min; the week-over-week
      // link is a keyed self-join on (user, week−1) — never a window;
      // output is week-bounded.
      (s, d) => {
        val weekNs = 604800L * 1000L * 1000L * 1000L
        val uw = Tables.events(s, d)
          .select(col("user_id"), expr(s"ts div ${weekNs}L").as("w"))
          .distinct()
        val first = uw.groupBy("user_id").agg(min(col("w")).as("fw"))
        val prev = uw.select(col("user_id"), (col("w") + 1).as("w"),
          lit(1).as("wasActive"))
        val cur = uw.join(first, "user_id")
          .join(prev, Seq("user_id", "w"), "left")
          .select(col("w"),
            when(col("fw") === col("w"), 1L).otherwise(0L).as("isNew"),
            when(col("wasActive").isNotNull && col("fw") =!= col("w"), 1L)
              .otherwise(0L).as("isRet"),
            when(col("wasActive").isNull && col("fw") =!= col("w"), 1L)
              .otherwise(0L).as("isRes"))
          .groupBy("w").agg(count(lit(1)).as("actives"),
            sum(col("isNew")).as("new_users"),
            sum(col("isRet")).as("retained"),
            sum(col("isRes")).as("resurrected"))
        val churn = uw.select(col("user_id"), (col("w") + 1).as("w"))
          .join(uw.select(col("user_id"), col("w"),
            lit(1).as("stillHere")), Seq("user_id", "w"), "left")
          .groupBy("w")
          .agg(sum(when(col("stillHere").isNull, 1L).otherwise(0L))
            .as("churned"))
        cur.join(churn, Seq("w"), "left")
          .select(col("w"), col("actives"), col("new_users"),
            col("retained"), col("resurrected"),
            coalesce(col("churned"), lit(0L)).as("churned"))
      },
      Some("""WITH uw AS (SELECT DISTINCT user_id,
                  epoch_us(ts) // 604800000000 AS w
                FROM events),
              first_w AS (SELECT user_id, min(w) AS fw FROM uw GROUP BY 1),
              cur AS (SELECT uw.w,
                  count(*) AS actives,
                  sum(CASE WHEN fw = uw.w THEN 1 ELSE 0 END) AS new_users,
                  sum(CASE WHEN p.user_id IS NOT NULL AND fw <> uw.w
                    THEN 1 ELSE 0 END) AS retained,
                  sum(CASE WHEN p.user_id IS NULL AND fw <> uw.w
                    THEN 1 ELSE 0 END) AS resurrected
                FROM uw
                  JOIN first_w ON uw.user_id = first_w.user_id
                  LEFT JOIN uw p ON p.user_id = uw.user_id
                    AND p.w = uw.w - 1
                GROUP BY 1),
              churn AS (SELECT a.w + 1 AS w,
                  sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END)
                    AS churned
                FROM uw a LEFT JOIN uw b ON b.user_id = a.user_id
                  AND b.w = a.w + 1
                GROUP BY 1)
              SELECT cur.w, CAST(actives AS BIGINT) AS actives,
                CAST(new_users AS BIGINT) AS new_users,
                CAST(retained AS BIGINT) AS retained,
                CAST(resurrected AS BIGINT) AS resurrected,
                CAST(coalesce(churned, 0) AS BIGINT) AS churned
              FROM cur LEFT JOIN churn ON cur.w = churn.w""")
    ),

    // ── PEAK CONCURRENCY (distributed sweep line over sessions) ───────────
    QueryDef(
      "q314_peak_concurrency",
      // The capacity question behind connection pools and autoscaling:
      // how many sessions were ever open AT ONCE? The textbook sweep
      // line — +1 at each session start, −1 one microsecond after its
      // end, running sum, take the max — distributed: the running sum
      // is [[Shared.distributedPrefixSum]] over a packed (micros, side)
      // key (ends sort before starts at the same instant via the side
      // bit, so back-to-back sessions never double-count), and the peak
      // is one scalar max over the inclusive prefix. Sessions are the
      // q28/q250 5-minute-gap rule (user-partitioned windows).
      //
      // Shape, and why it scales: sessionization is the standard
      // user-keyed window; the sweep table is 2 rows per session; the
      // prefix sum is bucketed (never a global window); output is 1
      // row with the peak and its first instant.
      (s, d) => Shared.withCheckpointDir(s) {
        val gapNs = 300L * 1000L * 1000L * 1000L
        val wOrd = Window.partitionBy("user_id").orderBy("ts")
        val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val sess = Tables.events(s, d)
          .select(col("user_id"), col("ts"))
          .withColumn("prev", lag(col("ts"), 1).over(wOrd))
          .withColumn("new_s",
            when(col("prev").isNull || col("ts") - col("prev") > gapNs, 1L)
              .otherwise(0L))
          .withColumn("sid", sum(col("new_s")).over(wCum))
          .groupBy("user_id", "sid")
          .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
          .checkpoint()
        val nSessions = sess.count()
        // packed key: micros·2 + side (side 0 = END, 1 = START) — an
        // end at instant T orders BEFORE a start at T, so touching
        // sessions don't overlap; fits well under 2^63
        val deltas = sess.select(
            expr("(t0 div 1000L) * 2L + 1L").as("k"), lit(1L).as("dlt"))
          .unionAll(sess.select(
            expr("((t1 div 1000L) + 1L) * 2L").as("k"),
            lit(-1L).as("dlt")))
          .groupBy("k").agg(sum(col("dlt")).as("dlt"))
        val run = Shared.distributedPrefixSum(deltas, "k", "dlt",
            bucket = 1L << 29)
          .withColumn("conc", col("cum") + col("dlt"))
          .checkpoint()
        val peak = run.agg(max(col("conc"))).head.getLong(0)
        run.filter(col("conc") === peak)
          .agg(lit(nSessions).as("n_sessions"),
            lit(peak).as("peak_concurrency"),
            expr("CAST(min(k) div 2 AS BIGINT)").as("peak_at_micros"))
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
              lagged AS (SELECT user_id, tu,
                  lag(tu) OVER (PARTITION BY user_id ORDER BY tu) AS prev
                FROM ev),
              marked AS (SELECT user_id, tu,
                  CASE WHEN prev IS NULL OR tu - prev > 300000000
                    THEN 1 ELSE 0 END AS new_s
                FROM lagged),
              sid AS (SELECT user_id, tu,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY tu
                    ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked),
              sess AS (SELECT user_id, sid, min(tu) AS t0, max(tu) AS t1
                FROM sid GROUP BY 1, 2),
              deltas AS (SELECT k, sum(dlt) AS dlt FROM (
                  SELECT t0 * 2 + 1 AS k, 1 AS dlt FROM sess
                  UNION ALL SELECT (t1 + 1) * 2, -1 FROM sess)
                GROUP BY 1),
              run AS (SELECT k,
                  sum(dlt) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                    AS conc
                FROM deltas),
              pk AS (SELECT max(conc) AS peak FROM run)
              SELECT (SELECT count(*) FROM sess) AS n_sessions,
                CAST(peak AS BIGINT) AS peak_concurrency,
                CAST(min(k) // 2 AS BIGINT) AS peak_at_micros
              FROM run CROSS JOIN pk WHERE conc = peak
              GROUP BY peak""")
    )
  )

  /** CUPED expression TEXT shared verbatim between Spark and the oracle
    * (the q299 WilsonSql pattern): θ, both contrasts, and ρ² from exact
    * moment sums, identical IEEE sequences by construction.
    */
  private object CupedSql {
    private val covxy =
      """(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
          / CAST(n AS DOUBLE))"""
    private val varx =
      """(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
          / CAST(n AS DOUBLE))"""
    private val vary =
      """(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
          / CAST(n AS DOUBLE))"""
    val theta = s"$covxy / $varx"
    val naive =
      """(CAST(y1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(y0 AS DOUBLE) / CAST(n0 AS DOUBLE))"""
    val adjusted =
      s"""($naive - $theta *
          (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE)))"""
    val rho2 = s"($covxy * $covxy) / ($varx * $vary)"
  }

  /** Wilson interval expression TEXT, shared verbatim between the Spark
    * `expr(...)` and the DuckDB oracle so the IEEE operation sequence is
    * identical by construction (z = 1.96, z² = 3.8416 as literals).
    */
  private object WilsonSql {
    val pHat = "CAST(x AS DOUBLE) / CAST(n AS DOUBLE)"
    private def center(sign: String) =
      s"""((($pHat + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
          $sign 1.96 * sqrt($pHat * (1.0 - $pHat) / CAST(n AS DOUBLE)
            + 3.8416 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
          / (1.0 + 3.8416 / CAST(n AS DOUBLE)))"""
    val lo = center("-")
    val hi = center("+")
  }
}
