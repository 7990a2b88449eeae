package graft.operators

import graft.QueryDef
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import R12Queries.{SQL_COS, SQL_KNN_GRAPH_CTES, SQL_QSEEDS_CTES}
import R13Queries.sqlBeamRound

/** Round-15 batch 1: graph COMPACTION — the missing verb of the HNSW
  * lifecycle (build q462/q494, serve q463, tune q476, plan q497, insert
  * q498; this is the repair that runs once tombstones accumulate).
  *
  * Reference anchor: the reference engine has no ANN surface
  * (/root/reference/README.md:14-19 declares the non-features); this is
  * part of the §2.3 beyond-reference training-pipeline ladder.
  */
object R15Queries {

  /** bridges kept per (in-neighbor, tombstone): HNSW's repair re-links
    * each in-neighbor of a deleted node to a bounded number of the
    * node's best live out-neighbors — 3 here (the per-layer M schedule's
    * smallest rungs), so repair adds at most 3·deg edges per tombstone
    */
  private[operators] final val RepairM = 3

  val all: Seq[QueryDef] = Seq(

    // ── TOMBSTONE REPAIR / GRAPH COMPACTION ───────────────────────────────
    QueryDef(
      "q499_hnsw_tombstone_repair",
      // q463 serves THROUGH tombstones (walk may traverse, emit filters)
      // — correct, but every dead node burns beam slots and the decay is
      // unbounded as churn accumulates. This is the repair that lets the
      // index actually DELETE: excise every tombstoned node (cid % 7 = 0,
      // q463's churn set) and heal the holes by re-linking each
      // tombstone's live in-neighbors to its best live out-neighbors —
      // per (in-neighbor u, tombstone t), the top-[[RepairM]] candidates
      // v among t's live out-neighbors by exact cos(u, v) (v ≠ u, cid
      // tie-break), added symmetrically like every edge in the base
      // graph. EVAL: serve the repaired graph (live LSH seed routing +
      // its own top-4 hubs, W=8 beam × 2 rounds — q463's exact schedule)
      // and the q463 tombstone-filtered serve side by side, both scored
      // as recall@3 against the exact LIVE brute top-3; Round15OpsSpec
      // pins repaired ≥ tombstone-filtered at equal beam, so the
      // compaction is measured to never cost recall while freeing every
      // beam slot a tombstone used to burn.
      //
      // Shape, and why it scales: repair is ONE keyed self-join of the
      // edge list restricted to dead middles (candidates ≤ degree² per
      // tombstone — degree is KnnM-bounded by construction, so ≤ 36
      // rows per tombstone, linear in churn, never corpus-quadratic),
      // scored by two keyed equi-joins against the corpus vectors (the
      // knnGraphEdges discipline — no broadcast of corpus floats), and
      // bounded per (u, t) by a window over ≤ degree-sized partitions.
      // Both serves ride the library's serve path: seeds keyed, corpus
      // streaming past broadcast frontiers, per-round checkpoints. The
      // repaired graph is checkpointed once (it feeds hub derivation,
      // two beam rounds, and the edge count — the lineage-bifurcation
      // rule).
      (s, d) => Shared.withCheckpointDir(s) {
        val graph = R12Queries.knnGraphMemoized(s, d)
        val q = R12Queries.probeVecs(s, d)
        val c = R12Queries.corpusVecs(s, d)
        val live = (cc: org.apache.spark.sql.Column) => cc % 7 =!= 0
        val liveEdges = graph.filter(live(col("src")) && live(col("dst")))
        // u --(live)--> t (dead) --(live)--> v, v ≠ u: the candidate set
        val cand = graph.filter(live(col("src")) && col("dst") % 7 === 0)
          .select(col("src").as("u"), col("dst").as("t"))
          .join(graph.filter(live(col("dst")))
            .select(col("src").as("t"), col("dst").as("v")), "t")
          .filter(col("v") =!= col("u"))
        // ‖v‖ once per vector + generator symmetrization (r17) — the
        // knnGraphEdgesOver discipline: identical doubles and rows
        val cnv = c.select(col("cid"), col("cv"),
          graft.functions.vec.norm(col("cv")).as("nv"))
        val scored = cand
          .join(cnv.select(col("cid").as("u"), col("cv").as("uv"),
            col("nv").as("un")), "u")
          .join(cnv.select(col("cid").as("v"), col("cv").as("vv"),
            col("nv").as("vn")), "v")
          .select(col("u"), col("t"), col("v"),
            (graft.functions.vec.dot(col("uv"), col("vv")) /
              (col("un") * col("vn"))).as("cos"))
        val br = scored.withColumn("rk", row_number().over(
            Window.partitionBy("u", "t")
              .orderBy(col("cos").desc, col("v").asc)))
          .filter(col("rk") <= RepairM).select("u", "v")
        val brSym = br.select(explode(array(
            struct(col("u").as("src"), col("v").as("dst")),
            struct(col("v").as("src"), col("u").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .distinct()
        val repaired = liveEdges.unionAll(brSym).distinct().checkpoint()
        val nBridges = brSym
          .join(liveEdges, Seq("src", "dst"), "left_anti").count()
        val nDead = graph.filter(col("src") % 7 === 0)
          .select("src").distinct().count()
        // REPAIRED serve: live LSH routing + the repaired graph's own
        // top-4 hubs (the old hubs may be gone), q463's beam schedule
        val seedsR = R12Queries.probeBandKeys(s, d)
          .join(R12Queries.bandedCorpusKeys(s, d).filter(live(col("cid"))),
            Seq("band", "bk"))
          .select("qid", "cid")
          .unionAll(q.select("qid")
            .crossJoin(broadcast(R12Queries.entryPoints(repaired))))
          .distinct()
        var rb = Shared.pinModelSized(  // probes×8 rows — see pinModelSized
          R13Queries.top(R12Queries.beamScore(s, d, seedsR), 8))
        for (_ <- 1 to 2) rb = R13Queries.beamRound(s, d, rb, repaired, 8)
        val ansR = R13Queries.top(rb, 3).select("qid", "cid")
        // TOMBSTONE-FILTERED serve (q463's exact path) as the
        // comparison — the beam comes from the shared `tombbeam` memo
        // (built once, read by q463 and this leg)
        val tb = R13Queries.tombstoneBeam(s, d)
        val ansT = R13Queries.top(tb.filter(live(col("cid"))), 3)
          .select("qid", "cid")
        // recall denominator: exact brute top-3 over the LIVE corpus,
        // from the shared `brutelive` memo (q503 reads it too)
        val bruteLive = R13Queries.bruteLiveTop3(s, d)
        val hitsR = ansR.join(bruteLive, Seq("qid", "cid"), "left_semi")
          .count()
        val hitsT = ansT.join(bruteLive, Seq("qid", "cid"), "left_semi")
          .count()
        import s.implicits._
        Seq((nDead, nBridges, hitsR, hitsT, 15L))
          .toDF("n_tombstoned", "n_bridges", "n_hits_repaired",
            "n_hits_tombstoned", "n_possible")
      },
      Some(Shared.materializeCtes(s"""WITH $SQL_KNN_GRAPH_CTES,
              $SQL_QSEEDS_CTES,
              live_e AS (SELECT src, dst FROM graph
                WHERE src % 7 <> 0 AND dst % 7 <> 0),
              cnd AS (SELECT g1.src AS u, g1.dst AS t, g2.dst AS v
                FROM graph g1 JOIN graph g2 ON g1.dst = g2.src
                WHERE g1.dst % 7 = 0 AND g1.src % 7 <> 0
                  AND g2.dst % 7 <> 0 AND g2.dst <> g1.src),
              csc AS (SELECT u, t, v, ${SQL_COS("cu.cv", "cw.cv")} AS cos
                FROM cnd JOIN c cu ON cnd.u = cu.cid
                  JOIN c cw ON cnd.v = cw.cid),
              br AS (SELECT u, v FROM (
                  SELECT u, t, v, row_number() OVER (PARTITION BY u, t
                    ORDER BY cos DESC, v) AS rk FROM csc)
                WHERE rk <= $RepairM),
              brs AS (SELECT u AS src, v AS dst FROM br
                UNION SELECT v, u FROM br),
              rep AS (SELECT src, dst FROM live_e
                UNION SELECT src, dst FROM brs),
              rep_entries AS (SELECT src AS cid FROM (
                  SELECT src, count(*) AS dg FROM rep GROUP BY src
                  ORDER BY dg DESC, src LIMIT 4)),
              seeds_r AS (SELECT DISTINCT qid, cid FROM (
                SELECT qk.qid, k.cid FROM qkeys qk
                  JOIN kcap k ON qk.band = k.band AND qk.bk = k.bk
                WHERE k.cid % 7 <> 0
                UNION ALL
                SELECT q.qid, e.cid FROM q CROSS JOIN rep_entries e)),
              r0 AS (SELECT qid, cid, cos FROM (
                  SELECT qid, cid, cos, row_number() OVER (
                    PARTITION BY qid ORDER BY cos DESC, cid) AS rk
                  FROM (SELECT sr.qid, sr.cid,
                      ${SQL_COS("q.qv", "c.cv")} AS cos
                    FROM seeds_r sr JOIN q ON sr.qid = q.qid
                      JOIN c ON sr.cid = c.cid))
                WHERE rk <= 8),
              ${sqlBeamRound("r0", "r1", "rep", 8)},
              ${sqlBeamRound("r1", "r2", "rep", 8)},
              ans_r AS (SELECT qid, cid FROM (
                  SELECT qid, cid, row_number() OVER (
                    PARTITION BY qid ORDER BY cos DESC, cid) AS rk
                  FROM r2) WHERE rk <= 3),
              b0 AS (SELECT qid, cid, cos FROM (
                  SELECT qid, cid, cos, row_number() OVER (
                    PARTITION BY qid ORDER BY cos DESC, cid) AS rk
                  FROM (SELECT se.qid, se.cid,
                      ${SQL_COS("q.qv", "c.cv")} AS cos
                    FROM seeds se JOIN q ON se.qid = q.qid
                      JOIN c ON se.cid = c.cid))
                WHERE rk <= 8),
              ${sqlBeamRound("b0", "b1", "graph", 8)},
              ${sqlBeamRound("b1", "b2", "graph", 8)},
              ans_t AS (SELECT qid, cid FROM (
                  SELECT qid, cid, row_number() OVER (
                    PARTITION BY qid ORDER BY cos DESC, cid) AS rk
                  FROM b2 WHERE cid % 7 <> 0) WHERE rk <= 3),
              brute_live AS (SELECT qid, cid FROM (
                  SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
                    ORDER BY ${SQL_COS("qv", "cv")} DESC, c.cid) AS rk
                  FROM q CROSS JOIN c WHERE c.cid % 7 <> 0)
                WHERE rk <= 3)
              SELECT
                CAST((SELECT count(DISTINCT src) FROM graph WHERE src % 7 = 0)
                  AS BIGINT) AS n_tombstoned,
                CAST((SELECT count(*) FROM (SELECT src, dst FROM brs
                  EXCEPT SELECT src, dst FROM live_e)) AS BIGINT)
                  AS n_bridges,
                CAST((SELECT count(*) FROM ans_r
                  JOIN brute_live USING (qid, cid)) AS BIGINT)
                  AS n_hits_repaired,
                CAST((SELECT count(*) FROM ans_t
                  JOIN brute_live USING (qid, cid)) AS BIGINT)
                  AS n_hits_tombstoned,
                CAST(15 AS BIGINT) AS n_possible"""))
    ),

    // ── MOTION-COMPENSATED VIDEO ROUND TRIP ───────────────────────────────
    QueryDef(
      "q500_motion_video_roundtrip",
      // The decode audit for the hybrid video codec
      // (graft.multimodal.MotionCodec — block motion search + residual
      // DCT + Exp-Golomb entropy coding, the H.264-class family that was
      // the modality ladder's last named gap): every document
      // synthesizes a deterministic 3-frame 16×16 clip whose later
      // frames are CYCLIC SHIFTS of the first (so interior blocks have a
      // true in-window motion vector and the search does real work), the
      // REAL encoder motion-searches/transforms/entropy-codes it, and
      // the batch extension point decodes every clip through the full
      // inverse (Exp-Golomb reader, dequant, inverse DCT, motion
      // compensation, closed-loop reconstruction). In the exact-recovery
      // regime (step 1/32 → per-pixel error < 0.24 LSB) the decoded
      // frames are BIT-EXACT, so the oracle recomputes the pixel sums
      // and the position-and-frame-weighted checksum from the generative
      // formula alone — any defect anywhere in the codec breaks the
      // hash.
      //
      // Shape, and why it scales: per-row encode+decode inside
      // mapPartitions (zero shuffle — the q495/q441 scan shape), one
      // global aggregation to a 1-row audit.
      (s, d) => {
        import s.implicits._
        val media = graft.Tables.documents(s, d).select(col("doc_id"))
          // ids-only round-robin: the per-row codec work below must
          // not be serialized onto the input file's task count
          // (see Multimodal.docIds); the shuffle moves 8-byte ids
          .repartition(s.sparkContext.defaultParallelism)
          .as[Long].map { id => (id, encodeClip(id)) }
          .toDF("media_id", "content")
        val feats = graft.multimodal.Multimodal
          .decodeFeaturesWith(media) { batch =>
            batch.map { case (id, bytes) =>
              graft.multimodal.MotionCodec.decode(bytes).map { v =>
                var sum = 0L
                var wsum = 0L
                var fi = 0
                while (fi < v.frames.length) {
                  val fr = v.frames(fi)
                  var p = 0
                  while (p < fr.length) {
                    val px = fr(p) & 0xff
                    sum += px
                    wsum += (fi + 1L) * (p + 1L) * px
                    p += 1
                  }
                  fi += 1
                }
                graft.multimodal.Multimodal.MediaFeatures(id,
                  Array(v.frames.length.toDouble, sum.toDouble,
                    wsum.toDouble))
              }
            }
          }
        feats.toDF().agg(
          count(lit(1)).as("n_media"),
          sum(element_at(col("features"), 1)).cast("long").as("n_frames"),
          sum(element_at(col("features"), 2)).cast("long").as("pix_sum"),
          sum(element_at(col("features"), 3)).cast("long").as("wsum"))
      },
      Some(s"""WITH d AS (SELECT doc_id FROM documents),
              px AS (SELECT doc_id, fi, p, $SQL_CLIP_PIX AS v
                FROM d CROSS JOIN (SELECT unnest(range(3)) AS fi)
                  CROSS JOIN (SELECT unnest(range(256)) AS p))
              SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_media,
                CAST(3 * (SELECT count(*) FROM d) AS BIGINT) AS n_frames,
                CAST((SELECT sum(v) FROM px) AS BIGINT) AS pix_sum,
                CAST((SELECT sum((fi + 1) * (p + 1) * v) FROM px)
                  AS BIGINT) AS wsum""")
    ),

    // ── VIDEO DEDUP THROUGH THE MOTION CODEC ──────────────────────────────
    QueryDef(
      "q501_motion_video_dedup",
      // The dedup leg of the motion-codec family (q496's audit for
      // transform-coded audio, q442's for MJPEG — this is inter-coded
      // video): clips are PLANTED duplicates (the clip formula keys on
      // doc_id mod 193, so distinct documents carry byte-identical
      // video), every clip round-trips through the REAL codec, and
      // dedup clusters on the DECODED frames — the position-and-frame-
      // weighted checksum. Exact recovery makes the decoded clusters
      // equal the generative-formula clusters the oracle computes; any
      // decode defect splits or merges a cluster and breaks the hash.
      // Output: the cluster-size histogram (the q296/q496 grain).
      //
      // Shape, and why it scales: per-row encode+decode (zero shuffle),
      // one hash aggregation to cluster grain, one to the histogram.
      (s, d) => {
        import s.implicits._
        val media = graft.Tables.documents(s, d).select(col("doc_id"))
          // ids-only round-robin: the per-row codec work below must
          // not be serialized onto the input file's task count
          // (see Multimodal.docIds); the shuffle moves 8-byte ids
          .repartition(s.sparkContext.defaultParallelism)
          .as[Long].map { id => (id, encodeClip(id % 193)) }
          .toDF("media_id", "content")
        val keyed = graft.multimodal.Multimodal
          .decodeFeaturesWith(media) { batch =>
            batch.map { case (id, bytes) =>
              graft.multimodal.MotionCodec.decode(bytes).map { v =>
                var wsum = 0L
                var fi = 0
                while (fi < v.frames.length) {
                  val fr = v.frames(fi)
                  var p = 0
                  while (p < fr.length) {
                    wsum += (fi + 1L) * (p + 1L) * (fr(p) & 0xff)
                    p += 1
                  }
                  fi += 1
                }
                graft.multimodal.Multimodal.MediaFeatures(id,
                  Array(wsum.toDouble))
              }
            }
          }
        keyed.toDF()
          .select(element_at(col("features"), 1).cast("long").as("wsum"))
          .groupBy("wsum").agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
      },
      Some(s"""WITH d AS (SELECT doc_id, doc_id % 193 AS seed
                FROM documents),
              px AS (SELECT doc_id, fi, p, ${sqlClipPix("seed")} AS v
                FROM d CROSS JOIN (SELECT unnest(range(3)) AS fi)
                  CROSS JOIN (SELECT unnest(range(256)) AS p)),
              ky AS (SELECT doc_id,
                  CAST(sum((fi + 1) * (p + 1) * v) AS BIGINT) AS wsum
                FROM px GROUP BY 1),
              cl AS (SELECT wsum, CAST(count(*) AS BIGINT) AS sz
                FROM ky GROUP BY 1)
              SELECT sz AS cluster_size,
                CAST(count(*) AS BIGINT) AS n_clusters
              FROM cl GROUP BY 1""")
    ),

    // ── COMPACTION-vs-REBUILD COST PLANNER ────────────────────────────────
    QueryDef(
      "q502_ann_compaction_planner",
      // The sheet that decides WHICH maintenance verb to run once churn
      // accumulates: q499's repair scores one exact cosine per
      // (in-neighbor, tombstone, live-out-neighbor) candidate — the cnd
      // table, degree²-bounded per tombstone — while a full rebuild
      // scores one per LSH candidate pair of the live corpus (the
      // knnGraphEdgesOver build's cand volume, cap-bounded per bucket).
      // Both volumes are EXACT COUNTS computed from the index itself
      // (the q475/q497 planning-table discipline: measured integers, not
      // estimates), plus their integer ratio — at 14% churn the repair
      // is ~rebuild/ratio of the work, and the crossover churn is where
      // an operator schedules the rebuild instead.
      //
      // Shape, and why it scales: the repair volume is one keyed
      // self-join of the (memoized) edge list restricted to dead
      // middles; the rebuild volume is the capped bucket self-join that
      // the real build would run — both count aggregations, no scoring,
      // no corpus broadcast.
      (s, d) => {
        val graph = R12Queries.knnGraphMemoized(s, d)
        val nDead = graph.filter(col("src") % 7 === 0)
          .select("src").distinct().count()
        val nRepair = graph
          .filter(col("src") % 7 =!= 0 && col("dst") % 7 === 0)
          .select(col("src").as("u"), col("dst").as("t"))
          .join(graph.filter(col("dst") % 7 =!= 0)
            .select(col("src").as("t"), col("dst").as("v")), "t")
          .filter(col("v") =!= col("u"))
          .count()
        val kcapLive = R12Queries.bandedKeysOver(
          R12Queries.corpusVecs(s, d).filter(col("cid") % 7 =!= 0))
        val nRebuild = kcapLive
          .select(col("cid").as("d1"), col("band"), col("bk"))
          .join(kcapLive.select(col("cid").as("d2"), col("band"), col("bk")),
            Seq("band", "bk"))
          .filter(col("d1") < col("d2"))
          .select("d1", "d2").distinct()
          .count()
        import s.implicits._
        Seq((nDead, nRepair, nRebuild, nRebuild / math.max(nRepair, 1L)))
          .toDF("n_tombstoned", "repair_scored", "rebuild_scored",
            "rebuild_over_repair")
      },
      Some(Shared.materializeCtes(s"""WITH $SQL_KNN_GRAPH_CTES,
              cnd AS (SELECT g1.src AS u, g1.dst AS t, g2.dst AS v
                FROM graph g1 JOIN graph g2 ON g1.dst = g2.src
                WHERE g1.dst % 7 = 0 AND g1.src % 7 <> 0
                  AND g2.dst % 7 <> 0 AND g2.dst <> g1.src),
              kcap_live AS (SELECT cid, band, bk FROM (
                  SELECT cid, band, bk, row_number() OVER (
                    PARTITION BY band, bk ORDER BY cid) AS rn
                  FROM keyed WHERE cid % 7 <> 0)
                WHERE rn <= ${R12Queries.KnnCap}),
              reb AS (SELECT DISTINCT a.cid AS d1, b.cid AS d2
                FROM kcap_live a JOIN kcap_live b
                  ON a.band = b.band AND a.bk = b.bk AND a.cid < b.cid),
              ns AS (SELECT
                CAST((SELECT count(DISTINCT src) FROM graph
                  WHERE src % 7 = 0) AS BIGINT) AS n_tombstoned,
                CAST((SELECT count(*) FROM cnd) AS BIGINT)
                  AS repair_scored,
                CAST((SELECT count(*) FROM reb) AS BIGINT)
                  AS rebuild_scored)
              SELECT n_tombstoned, repair_scored, rebuild_scored,
                rebuild_scored // (CASE WHEN repair_scored > 1
                  THEN repair_scored ELSE 1 END) AS rebuild_over_repair
              FROM ns"""))
    ),

    // ── REPAIR vs FULL REBUILD (the gold-standard recall check) ───────────
    QueryDef(
      "q503_hnsw_rebuild_serve",
      // The gold standard q499's repair is judged against: REBUILD the
      // index from the live corpus with the exact build the full index
      // used (knnGraphEdgesOver — LSH-banded candidates, filter-then-cap
      // bucket table, exact scoring, top-M symmetrized), then serve it
      // with the rebuilt router (live-capped LSH seeds + the rebuilt
      // graph's own top-4 hubs, W=8 × 2 rounds — q463's schedule) and
      // score recall@3 against the exact live brute top-3. Next to
      // q499's row this is the repair-vs-rebuild QUALITY axis of the
      // q502 cost sheet: Round15OpsSpec pins the repaired serve's
      // recall within the measured envelope of the rebuilt one, which
      // is what justifies ever choosing the ~ratio-times-cheaper
      // repair.
      //
      // Shape, and why it scales: the rebuild is the library's build
      // discipline verbatim (keyed band joins, per-bucket caps, no
      // corpus broadcast), memoized to scratch (`knnlive`) beside the
      // full graph's memo; the serve is the shared beamScore/beamRound
      // path (corpus streams past broadcast frontiers, per-round
      // checkpoints).
      (s, d) => Shared.withCheckpointDir(s) {
        val q = R12Queries.probeVecs(s, d)
        val liveC = R12Queries.corpusVecs(s, d).filter(col("cid") % 7 =!= 0)
        val g2 = liveKnnGraph(s, d)
        val nEdges = g2.count()
        val seeds = R12Queries.probeBandKeys(s, d)
          .join(R12Queries.bandedKeysOver(liveC), Seq("band", "bk"))
          .select("qid", "cid")
          .unionAll(q.select("qid")
            .crossJoin(broadcast(R12Queries.entryPoints(g2))))
          .distinct()
        var bb = Shared.pinModelSized(  // probes×8 rows — see pinModelSized
          R13Queries.top(R12Queries.beamScore(s, d, seeds), 8))
        for (_ <- 1 to 2) bb = R13Queries.beamRound(s, d, bb, g2, 8)
        val ans = R13Queries.top(bb, 3).select("qid", "cid")
        // shared live-brute denominator (the `brutelive` memo q499 reads)
        val hits = ans.join(R13Queries.bruteLiveTop3(s, d),
          Seq("qid", "cid"), "left_semi").count()
        import s.implicits._
        Seq((nEdges, hits, 15L))
          .toDF("n_rebuild_edges", "n_hits_rebuild", "n_possible")
      },
      // the full-graph CTE chain with the live filter applied at the c
      // CTE: everything downstream (keyed, kcap, cand, graph, seeds,
      // beam rounds, brute) is then the REBUILT index by construction —
      // the replace is anchored on the c CTE's unique text
      Some(Shared.materializeCtes(s"""WITH $SQL_LIVE_GRAPH_CTES,
              $SQL_QSEEDS_CTES,
              b0 AS (SELECT qid, cid, cos FROM (
                  SELECT qid, cid, cos, row_number() OVER (
                    PARTITION BY qid ORDER BY cos DESC, cid) AS rk
                  FROM (SELECT se.qid, se.cid,
                      ${SQL_COS("q.qv", "c.cv")} AS cos
                    FROM seeds se JOIN q ON se.qid = q.qid
                      JOIN c ON se.cid = c.cid))
                WHERE rk <= 8),
              ${sqlBeamRound("b0", "b1", "graph", 8)},
              ${sqlBeamRound("b1", "b2", "graph", 8)},
              ans AS (SELECT qid, cid FROM (
                  SELECT qid, cid, row_number() OVER (
                    PARTITION BY qid ORDER BY cos DESC, cid) AS rk
                  FROM b2) WHERE rk <= 3),
              brute AS (SELECT qid, cid FROM (
                  SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
                    ORDER BY ${SQL_COS("qv", "cv")} DESC, c.cid) AS rk
                  FROM q CROSS JOIN c) WHERE rk <= 3)
              SELECT
                CAST((SELECT count(*) FROM graph) AS BIGINT)
                  AS n_rebuild_edges,
                CAST((SELECT count(*) FROM ans JOIN brute USING (qid, cid))
                  AS BIGINT) AS n_hits_rebuild,
                CAST(15 AS BIGINT) AS n_possible"""))
    )
  )

  /** [[SQL_KNN_GRAPH_CTES]] with the live filter patched into the c CTE
    * — and the patch ASSERTED (r15 ADVICE): a silent `replace` no-op
    * after anchor drift would rebuild the oracle over the FULL corpus
    * and surface only as an undiagnosable hash mismatch at Verify time,
    * so the fail-loud discipline `materializeCtes` adopted applies here
    * too. A `def` (not a val): `all` interpolates it during object init.
    */
  private def SQL_LIVE_GRAPH_CTES: String = {
    val anchor = "FROM embeddings WHERE vec_id >= 5)"
    val patched = SQL_KNN_GRAPH_CTES.replace(anchor,
      "FROM embeddings WHERE vec_id >= 5 AND vec_id % 7 <> 0)")
    require(patched != SQL_KNN_GRAPH_CTES,
      s"q503 live-filter anchor not found in SQL_KNN_GRAPH_CTES: $anchor")
    patched
  }

  /** the live-corpus rebuild graph (q503's gold standard), materialized
    * once per (process, dataset) to scratch beside the full graph's
    * `knngraph` memo — the rebuild is the expensive stage and its
    * consumers are the serve legs
    */
  private def liveKnnGraph(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    s.read.parquet(Shared.memo("knnlive", d) { r =>
      R12Queries.knnGraphEdgesOver(
        R12Queries.corpusVecs(s, d).filter(col("cid") % 7 =!= 0))
        .write.mode("overwrite").parquet(r)
      r
    })

  /** the generative 3-frame 16×16 clip every motion-codec query shares:
    * frame fi is the (fi, 2·fi) CYCLIC shift of the base pattern
    * base(y, x) = (key·31 + (16y + x)·7) mod 256 — each P-frame is the
    * (1, 2) shift of its predecessor, so interior blocks have an exact
    * in-window motion vector (|dy| = 1, |dx| = 2 ≤ R = 3) and the
    * encoder's search path is exercised
    * for real, while the formula stays one line of modular arithmetic
    * the DuckDB oracle mirrors verbatim ([[SQL_CLIP_PIX]])
    */
  private def encodeClip(key: Long): Array[Byte] =
    graft.multimodal.MotionCodec.encode(clipVideo(key))

  /** the raw [[MotionCodec.Video]] behind [[encodeClip]] — exposed so
    * q506 can re-host the identical clip inside the MP4 motion track
    */
  private[operators] def clipVideo(key: Long)
      : graft.multimodal.MotionCodec.Video = {
    val frames = Array.tabulate(3) { fi =>
      val px = new Array[Byte](256)
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 16) {
          val pos = ((y + fi) % 16) * 16 + (x + 2 * fi) % 16
          px(y * 16 + x) = ((key * 31 + pos.toLong * 7) % 256).toByte
          x += 1
        }
        y += 1
      }
      px
    }
    graft.multimodal.MotionCodec.Video(16, 16, frames)
  }

  /** the oracle's mirror of [[encodeClip]]'s pixel formula at (fi, p)
    * with p = 16y + x (so y = p // 16, x = p % 16)
    */
  private[operators] def sqlClipPix(key: String): String =
    s"""(($key * 31 + ((((p // 16) + fi) % 16) * 16 +
       ((p % 16) + 2 * fi) % 16) * 7) % 256)"""

  // a def, not a val: `all` above interpolates this during object init,
  // and a val defined below it would still be null at that point
  private def SQL_CLIP_PIX: String = sqlClipPix("doc_id")
}
