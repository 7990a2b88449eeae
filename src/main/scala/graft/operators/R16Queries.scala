package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import R12Queries.{KnnCap, KnnM, NBands, SQL_BAND_KEY, SQL_COS}
import R13Queries.sqlBeamRound

/** Round-16 batch 1: the ANN MAINTENANCE CAPSTONE — the churn loop that
  * composes every lifecycle verb the library already ships and proves
  * (r15 verdict task 2, the q311 sink→tail→MV composition discipline):
  * build (q462/q494), insert (q498), tombstone-repair (q499), the
  * repair-vs-rebuild cost planner (q502), and the gold-standard rebuild
  * (q503), replayed as deterministic churn micro-batches with the
  * planner's MEASURED ratio picking the maintenance verb at every step
  * against a literal crossover.
  *
  * Reference anchor: the reference engine has no ANN surface
  * (/root/reference/README.md:14-19); this is the §2.3
  * beyond-reference training-pipeline ladder's closing composition.
  */
object R16Queries {

  /** the literal repair-vs-rebuild crossover: repair when the planner's
    * measured rebuild volume is at least this many times the repair
    * volume (q502's sheet made the ratio an output; the loop makes it a
    * DECISION). Measured ratios at sf0.01: 6.4 (T1, 16 tombstones), 0.7
    * (T2, 31% churn), 15 (T3, 6 tombstones); the small-churn ratios
    * only GROW with scale (fixed-count tombstone batches keep repair
    * volume flat while rebuild volume grows with the corpus until the
    * per-bucket caps bound it — q502 measured 461.9k rebuild pairs at
    * sf1) while the bulk-churn ratio stays <1 (repair volume is
    * corpus-fraction-sized there too). 4 sits under the smallest
    * repair-side ratio with 1.6× headroom and 5.7× above the
    * rebuild-side one, so the decision sequence [repair, rebuild,
    * repair] is scale-stable.
    */
  private[operators] final val Crossover = 4L

  // ── the churn schedule (pure cid arithmetic, shared Spark/SQL) ──────────
  // Universe = the corpus (vec_id >= 5). Two-thirds (cid % 3 <> 2) is
  // indexed up front; the remaining third arrives in two micro-batches
  // (A1 = cid % 6 = 2, A2 = cid % 6 = 5). Tombstone batches: T1 and T3
  // are FIXED-COUNT sets (bounded below cid 500, so they are the same
  // ~dozen nodes at every SF — churn-sized repair volume while rebuild
  // volume grows with the corpus keeps their decision scale-stable);
  // T2 is FRACTION-sized (all remaining cid % 3 = 0 — ~31% of the
  // index) so the planner flips to rebuild at every SF.
  private def isA1(x: Column) = x % 6 === 2
  private val sqlA1 = (x: String) => s"$x % 6 = 2"
  private def isA2(x: Column) = x % 6 === 5
  private val sqlA2 = (x: String) => s"$x % 6 = 5"
  private def isT1(x: Column) = x % 30 === 0 && x < 500
  private val sqlT1 = (x: String) => s"($x % 30 = 0 AND $x < 500)"
  private def isT2(x: Column) = x % 3 === 0 && !(x % 30 === 0 && x < 500)
  private val sqlT2 = (x: String) =>
    s"($x % 3 = 0 AND NOT ($x % 30 = 0 AND $x < 500))"
  private def isT3(x: Column) = x % 50 === 4 && x < 500
  private val sqlT3 = (x: String) => s"($x % 50 = 4 AND $x < 500)"
  // live sets after each step (derived, see the scaladoc walk):
  //   L0 = %3<>2;  L1 = L0 ∪ A1 = %6<>5;  L2 = L1 ∖ T1;
  //   L3 = (L2 ∪ A2) ∖ T2 = %3<>0;  L4 = L3 ∖ T3
  private val sqlL0 = "cid % 3 <> 2"
  private val sqlL2 = s"cid % 6 <> 5 AND NOT ${sqlT1("cid")}"
  private val sqlL3 = "cid % 3 <> 0"
  private val sqlL4 = s"cid % 3 <> 0 AND NOT ${sqlT3("cid")}"

  val all: Seq[QueryDef] = Seq(

    // ── THE CHURN LOOP ────────────────────────────────────────────────────
    QueryDef(
      "q504_ann_churn_loop",
      // Four micro-batches drive the index through every maintenance
      // verb: (1) arrivals A1 enter through the q498 insert path (LSH
      // band routing against the CURRENT index's capped bucket table,
      // exact top-M attach, symmetrized); (2) tombstone batch T1 —
      // the q502 planner measures repair volume (the q499 u→t→v
      // candidate count, degree²-bounded per tombstone) against rebuild
      // volume (the capped-bucket candidate pairs a fresh build over
      // the survivors would score) and REPAIRS (ratio ≳10 ≥ Crossover);
      // (3) arrivals A2 attach, then bulk batch T2 kills ~31% of the
      // index — the same planner arithmetic now reads ratio <1 and the
      // loop REBUILDS from the live corpus (the q503 gold build,
      // discarding the maintained graph); (4) tombstone batch T3 —
      // repair again. EVAL: the maintained index (repair-on-rebuild,
      // G4) and a one-shot gold rebuild of the FINAL live state serve
      // the shared probe panel through the identical q463 schedule
      // (live LSH router + each graph's own top-4 hubs, W=8 beam × 2
      // rounds), both scored as recall@3 against the exact live brute
      // top-3 — so the loop's cheap maintenance path is MEASURED
      // against the expensive always-rebuild policy, with every
      // planner count and decision an output column (a decision flip
      // anywhere diverges from the oracle's pinned path and fails the
      // hash, loudly).
      //
      // Shape, and why it scales: every verb is the library's own
      // scale-audited builder — builds are LSH-banded filter-then-cap
      // candidate joins (never all-pairs), inserts are keyed band joins
      // bounded by arrivals × cap, repair candidates are one keyed
      // self-join restricted to dead middles (linear in churn), planner
      // volumes are COUNT aggregations (no scoring), and both serves
      // ride the shared beam path (probe panel broadcast, corpus
      // streaming). Each graph state is checkpointed once at its
      // lineage bifurcation.
      (s, d) => Shared.withCheckpointDir(s) {
        import s.implicits._
        val c = R12Queries.corpusVecs(s, d)

        // memoized PURE states (each a deterministic function of the
        // dataset alone; the mid-state builder replays the same measured
        // branch this query takes — see [[churnMid]]'s decision-safety
        // note): the loop's own verbs below — the planner sheets, the
        // step-4 repair, the maintained serve — stay live per run
        val g1 = churnG1(s, d)
        val (g2, g2i) = churnMid(s, d)
        val a1 = c.filter(isA1(col("cid")))
        val a2 = c.filter(isA2(col("cid")))
        val l2 = c.filter(col("cid") % 6 =!= 5 && !isT1(col("cid")))
        val l3 = c.filter(col("cid") % 3 =!= 0)
        val l4 = c.filter(col("cid") % 3 =!= 0 && !isT3(col("cid")))
        val t1set = g1.filter(isT1(col("src"))).select("src").distinct()
        val cand2 = repairCand(g1, isT1)
        val t2set = g2i.filter(isT2(col("src"))).select("src").distinct()
        val cand3 = repairCand(g2i, isT2)
        val kc4 = R12Queries.bandedKeysOver(l4)

        // steps 1–3's whole planning sheet is ONE action (all count
        // aggregations over pure states — bundling keeps the loop's many
        // small synchronization points from dominating wall-clock; the
        // union's branches schedule concurrently)
        val Seq(nArr1, s1Edges, nT1, rep2, reb2,
            s2Edges, nArr2, nT2, rep3, reb3) =
          bundledCounts(a1, g1, t1set, cand2,
            pairsOf(R12Queries.bandedKeysOver(l2)),
            g2, a2, t2set, cand3,
            pairsOf(R12Queries.bandedKeysOver(l3)))
        val dec2 = if (reb2 >= Crossover * rep2) "repair" else "rebuild"
        val dec3 = if (reb3 >= Crossover * rep3) "repair" else "rebuild"
        // the rebuild branch reads the memoized PURE build over L3 — the
        // memo is decision-safe because it's keyed on the live set, not
        // on the decision path (a flipped decision just leaves it unbuilt)
        val g3 = (if (dec3 == "repair")
                    repairGraph(c, g2i, cand3, isT2).checkpoint()
                  else memoBuild(s, d, "churnb3", l3))

        // ── step 4: tombstones T3 → planner → repair (LIVE) ──────────────
        val t3set = g3.filter(isT3(col("src"))).select("src").distinct()
        val cand4 = repairCand(g3, isT3)
        val Seq(s3Edges, nT3, rep4, reb4) =
          bundledCounts(g3, t3set, cand4, pairsOf(kc4))
        val dec4 = if (reb4 >= Crossover * rep4) "repair" else "rebuild"
        // same decision-safety: the rebuild branch IS the gold build
        val g4 = if (dec4 == "repair")
            repairGraph(c, g3, cand4, isT3).checkpoint()
          else memoBuild(s, d, "churngold", l4)

        // ── eval: maintained serve (LIVE) vs the memoized gold-side
        //    fixtures (one-shot rebuild's serve + the brute panel) ────────
        val (brute, ansG) = churnEval(s, d)
        val ansM = serveAns(s, d, g4, kc4)
        val Seq(s4Edges, hitsM, hitsG) = bundledCounts(g4,
          ansM.join(brute, Seq("qid", "cid"), "left_semi"),
          ansG.join(brute, Seq("qid", "cid"), "left_semi"))

        Seq((nArr1, s1Edges,
            nT1, rep2, reb2, dec2, s2Edges,
            nArr2, nT2, rep3, reb3, dec3, s3Edges,
            nT3, rep4, reb4, dec4, s4Edges,
            hitsM, hitsG, 15L))
          .toDF("s1_arrivals", "s1_edges",
            "s2_tombstoned", "s2_repair_scored", "s2_rebuild_scored",
            "s2_decision", "s2_edges",
            "s3_arrivals", "s3_tombstoned", "s3_repair_scored",
            "s3_rebuild_scored", "s3_decision", "s3_edges",
            "s4_tombstoned", "s4_repair_scored", "s4_rebuild_scored",
            "s4_decision", "s4_edges",
            "n_hits_maintained", "n_hits_gold", "n_possible")
      },
      // The oracle replays the loop verbatim; the branch taken at each
      // step is the PINNED path [repair, rebuild, repair] (the decision
      // columns are CASE-computed from the same counts, so a flip
      // anywhere diverges both the decision column and every downstream
      // column — fail-loud by construction).
      Some(Shared.materializeCtes(s"""WITH
              q AS (SELECT vec_id AS qid, embedding AS qv
                FROM embeddings WHERE vec_id < 5),
              c AS (SELECT vec_id AS cid, embedding AS cv
                FROM embeddings WHERE vec_id >= 5),
              $sqlQKeys,
              ${sqlBuild("b0", sqlL0)},
              ${sqlAttach("a1", sqlA1("cid"), "b0kc")},
              g1 AS (SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM b0g UNION ALL SELECT src, dst FROM a1ae)),
              ${sqlRepair("r2", "g1", sqlT1)},
              ${sqlPairs("p2", sqlL2)},
              ${sqlAttach("a2", sqlA2("cid"), "p2kc")},
              g2i AS (SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM r2rg UNION ALL SELECT src, dst FROM a2ae)),
              ${sqlRepairCand("r3", "g2i", sqlT2)},
              ${sqlBuild("b3", sqlL3)},
              ${sqlRepair("r4", "b3g", sqlT3)},
              ${sqlBuild("gd", sqlL4)},
              ${sqlServe("sm", "r4rg", "gdkc")},
              ${sqlServe("sg", "gdg", "gdkc")},
              br4 AS (SELECT qid, cid FROM (
                  SELECT q.qid, gdc.cid, row_number() OVER (PARTITION BY q.qid
                    ORDER BY ${SQL_COS("q.qv", "gdc.cv")} DESC, gdc.cid) AS rk
                  FROM q CROSS JOIN gdc) WHERE rk <= 3),
              ns AS (SELECT
                CAST((SELECT count(*) FROM c WHERE ${sqlA1("cid")}) AS BIGINT)
                  AS s1_arrivals,
                CAST((SELECT count(*) FROM g1) AS BIGINT) AS s1_edges,
                CAST((SELECT count(DISTINCT src) FROM g1
                  WHERE ${sqlT1("src")}) AS BIGINT) AS s2_tombstoned,
                CAST((SELECT count(*) FROM r2cn) AS BIGINT) AS s2_repair_scored,
                CAST((SELECT count(*) FROM p2pr) AS BIGINT) AS s2_rebuild_scored,
                CAST((SELECT count(*) FROM r2rg) AS BIGINT) AS s2_edges,
                CAST((SELECT count(*) FROM c WHERE ${sqlA2("cid")}) AS BIGINT)
                  AS s3_arrivals,
                CAST((SELECT count(DISTINCT src) FROM g2i
                  WHERE ${sqlT2("src")}) AS BIGINT) AS s3_tombstoned,
                CAST((SELECT count(*) FROM r3cn) AS BIGINT) AS s3_repair_scored,
                CAST((SELECT count(*) FROM b3cd) AS BIGINT) AS s3_rebuild_scored,
                CAST((SELECT count(*) FROM b3g) AS BIGINT) AS s3_edges,
                CAST((SELECT count(DISTINCT src) FROM b3g
                  WHERE ${sqlT3("src")}) AS BIGINT) AS s4_tombstoned,
                CAST((SELECT count(*) FROM r4cn) AS BIGINT) AS s4_repair_scored,
                CAST((SELECT count(*) FROM gdcd) AS BIGINT) AS s4_rebuild_scored,
                CAST((SELECT count(*) FROM r4rg) AS BIGINT) AS s4_edges,
                CAST((SELECT count(*) FROM sman
                  JOIN br4 USING (qid, cid)) AS BIGINT) AS n_hits_maintained,
                CAST((SELECT count(*) FROM sgan
                  JOIN br4 USING (qid, cid)) AS BIGINT) AS n_hits_gold)
              SELECT s1_arrivals, s1_edges, s2_tombstoned, s2_repair_scored,
                s2_rebuild_scored,
                CASE WHEN s2_rebuild_scored >= $Crossover * s2_repair_scored
                  THEN 'repair' ELSE 'rebuild' END AS s2_decision,
                s2_edges, s3_arrivals, s3_tombstoned, s3_repair_scored,
                s3_rebuild_scored,
                CASE WHEN s3_rebuild_scored >= $Crossover * s3_repair_scored
                  THEN 'repair' ELSE 'rebuild' END AS s3_decision,
                s3_edges, s4_tombstoned, s4_repair_scored, s4_rebuild_scored,
                CASE WHEN s4_rebuild_scored >= $Crossover * s4_repair_scored
                  THEN 'repair' ELSE 'rebuild' END AS s4_decision,
                s4_edges, n_hits_maintained, n_hits_gold,
                CAST(15 AS BIGINT) AS n_possible
              FROM ns"""))
    ),

    // ── MP4/ISO-BMFF SAMPLE WALK (JPEG track) ─────────────────────────────
    QueryDef(
      "q505_mp4_sample_walk",
      // q441's decode audit re-hosted in the container family modern
      // corpora actually carry: each video is nf = id%3+2 block-constant
      // 32×32 baseline-JPEG frames (the verified mjpegBlockValue
      // formula) wrapped in a REAL ISO-BMFF file — ftyp + mdat + moov
      // with full stsd/stts/stsc/stsz/stco tables and a deliberately
      // NON-uniform chunk layout (3+2+… samples per chunk) so the stsc
      // run expansion does real work. The query walks the boxes,
      // expands the sample tables to byte spans, decodes every sample
      // through the full baseline-JPEG pipeline, and emits table-grain
      // audit columns (chunk count from stco, duration from stts×stsz)
      // beside the exact decoded pixel sum — so the WALK and the frames
      // are both under the oracle hash, which recomputes everything
      // closed-form (frames are exact-recovery; chunk count and
      // duration follow from nf alone).
      //
      // Shape, and why it scales: per-row byte decode, zero shuffle —
      // the q441 scan shape.
      (s, d) => {
        val m = graft.multimodal.Multimodal
          .mp4MediaKeyed(graft.Tables.documents(s, d), Long.MaxValue)
        graft.multimodal.Multimodal.mp4PixelStats(m).toDF()
      },
      Some("""WITH g AS (SELECT doc_id AS media_id, doc_id % 3 + 2 AS nf
                FROM documents),
              fb AS (SELECT media_id, nf, CAST(f AS BIGINT) AS f,
                  CAST(b AS BIGINT) AS b,
                  ((media_id + 3) * (CAST(f AS BIGINT)*17
                    + CAST(b AS BIGINT)*CAST(b AS BIGINT) + 1) * 7) % 256 AS v
                FROM g, unnest(range(CAST(nf AS BIGINT))) t(f),
                  unnest(range(16)) u(b))
              SELECT media_id, CAST(nf AS BIGINT) AS n_frames,
                CAST(CASE WHEN nf <= 3 THEN 1
                  ELSE 1 + (nf - 2) // 2 END AS BIGINT) AS n_chunks,
                CAST(nf * 40000 AS BIGINT) AS duration_ticks,
                CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
                CAST(sum(v) * 64 AS BIGINT) AS sum_px
              FROM fb GROUP BY media_id, nf""")
    ),

    // ── MP4 MOTION TRACK (inter-coded video through the same walk) ────────
    QueryDef(
      "q506_mp4_motion_track",
      // The container walk is codec-AGNOSTIC: the same box/stbl dance
      // that feeds JPEG samples in q505 here carries one `mcv1` sample
      // holding a whole motion-compensated MotionCodec stream (q500's
      // generative clip — the codec owns the GOP, the container sees
      // one sync sample). Decode: walk → sample span → the full motion
      // inverse (Exp-Golomb, dequant, inverse DCT, motion compensation).
      // Exact recovery makes the q500 closed-form oracle apply
      // verbatim, with the stts-derived duration pinning the walk.
      //
      // Shape, and why it scales: per-row encode+decode, one global
      // aggregation — the q500 shape.
      (s, d) => {
        import s.implicits._
        val media = graft.Tables.documents(s, d).select(col("doc_id"))
          // ids-only round-robin: the per-row codec work below must
          // not be serialized onto the input file's task count
          // (see Multimodal.docIds); the shuffle moves 8-byte ids
          .repartition(s.sparkContext.defaultParallelism)
          .as[Long].map { id =>
            (id, graft.multimodal.Mp4Codec.encodeMotion(1000000, 40000,
              R15Queries.clipVideo(id)))
          }
          .toDF("media_id", "content")
        val feats = graft.multimodal.Multimodal
          .decodeFeaturesWith(media) { batch =>
            batch.map { case (id, bytes) =>
              for {
                st <- graft.multimodal.Mp4Codec.sampleTable(bytes)
                v <- graft.multimodal.Mp4Codec.decodeMotion(bytes)
              } yield {
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
                    wsum.toDouble,
                    (st.spans.length.toLong * st.sampleDelta).toDouble))
              }
            }
          }
        feats.toDF().agg(
          count(lit(1)).as("n_media"),
          sum(element_at(col("features"), 1)).cast("long").as("n_frames"),
          sum(element_at(col("features"), 2)).cast("long").as("pix_sum"),
          sum(element_at(col("features"), 3)).cast("long").as("wsum"),
          sum(element_at(col("features"), 4)).cast("long")
            .as("duration_ticks"))
      },
      Some(s"""WITH d AS (SELECT doc_id FROM documents),
              px AS (SELECT doc_id, fi, p,
                  ${R15Queries.sqlClipPix("doc_id")} AS v
                FROM d CROSS JOIN (SELECT unnest(range(3)) AS fi)
                  CROSS JOIN (SELECT unnest(range(256)) AS p))
              SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_media,
                CAST(3 * (SELECT count(*) FROM d) AS BIGINT) AS n_frames,
                CAST((SELECT sum(v) FROM px) AS BIGINT) AS pix_sum,
                CAST((SELECT sum((fi + 1) * (p + 1) * v) FROM px)
                  AS BIGINT) AS wsum,
                CAST(40000 * (SELECT count(*) FROM d) AS BIGINT)
                  AS duration_ticks""")
    ),

    // ── MULTI-TRACK MP4 (interleaved audio + video traks) ─────────────────
    QueryDef(
      "q507_mp4_multitrack",
      // The container surface real corpora actually carry: ONE mdat,
      // TWO traks — q505's JPEG video plus a mono 8 kHz μ-law audio
      // trak (uniform-stsz single-byte samples, the PCM-family stsz
      // form) — with the tracks' chunks INTERLEAVED round-robin
      // (v₀ a₀ v₁ a₁ …), so per-trak stco/stsc independence is
      // load-bearing: a walk that conflates the traks' tables or
      // assumes contiguous per-track payload decodes the other track's
      // bytes. The query decodes BOTH tracks of every file — JPEG
      // pipeline per video sample, μ-law expander per audio sample —
      // and emits per-trak table-grain audits (chunk counts, stts×stsz
      // durations) beside the content sums. Video is exact-recovery;
      // audio is the REAL lossy μ-law round trip, so the oracle replays
      // encode∘decode closed-form (the q253 mirror) — lossy-ness itself
      // is under the hash.
      //
      // Shape, and why it scales: per-row byte decode, zero shuffle —
      // the q441/q505 scan shape.
      (s, d) => {
        val m = graft.multimodal.Multimodal
          .mp4AvMediaKeyed(graft.Tables.documents(s, d), Long.MaxValue)
        graft.multimodal.Multimodal.mp4AvStats(m).toDF()
      },
      Some("""WITH g AS (SELECT doc_id AS media_id,
                  CAST(doc_id % 3 + 2 AS BIGINT) AS nf,
                  CAST(doc_id % 40 + 20 AS BIGINT) AS na
                FROM documents),
              fb AS (SELECT media_id, nf, CAST(f AS BIGINT) AS f,
                  CAST(b AS BIGINT) AS b,
                  ((media_id + 3) * (CAST(f AS BIGINT)*17
                    + CAST(b AS BIGINT)*CAST(b AS BIGINT) + 1) * 7) % 256 AS v
                FROM g, unnest(range(nf)) t(f), unnest(range(16)) u(b)),
              vp AS (SELECT media_id, sum(v) * 64 AS sum_px
                FROM fb GROUP BY 1),
              sm AS (SELECT media_id, na, i,
                  ((media_id*11 + i*7) % 2003) - 1001 AS s
                FROM g, unnest(range(na)) t(i)),
              enc AS (SELECT media_id, na, s,
                  least(abs(s), 32635) + 132 AS a FROM sm),
              seg AS (SELECT *, CASE WHEN a < 256 THEN 0
                  WHEN a < 512 THEN 1 WHEN a < 1024 THEN 2
                  WHEN a < 2048 THEN 3 WHEN a < 4096 THEN 4
                  WHEN a < 8192 THEN 5 WHEN a < 16384 THEN 6
                  ELSE 7 END AS e
                FROM enc),
              dec AS (SELECT media_id, na,
                  (CASE WHEN s < 0 THEN -1 ELSE 1 END) *
                  ((((a // (CAST(1 AS BIGINT) << (e + 3))) % 16) * 8 + 132)
                    * (CAST(1 AS BIGINT) << e) - 132) AS d
                FROM seg),
              ap AS (SELECT media_id, max(na) AS na,
                  sum(abs(d)) AS sum_abs_dec, sum(d*d) AS sum_sq_dec
                FROM dec GROUP BY 1)
              SELECT g.media_id, g.nf AS n_frames, ap.na AS n_audio,
                CAST(CASE WHEN g.nf <= 3 THEN 1
                  ELSE 1 + (g.nf - 2) // 2 END AS BIGINT) AS v_chunks,
                CAST(ap.na // 16
                  + CASE WHEN ap.na % 16 > 0 THEN 1 ELSE 0 END
                  AS BIGINT) AS a_chunks,
                CAST(g.nf * 40000 AS BIGINT) AS v_dur_ticks,
                CAST(ap.na AS BIGINT) AS a_dur_ticks,
                CAST(vp.sum_px AS BIGINT) AS sum_px,
                CAST(ap.sum_abs_dec AS BIGINT) AS sum_abs_dec,
                CAST(ap.sum_sq_dec AS BIGINT) AS sum_sq_dec
              FROM g JOIN vp USING (media_id) JOIN ap USING (media_id)""")
    ),

    // ── K-CORE PEELING (iterative induced-degree pruning) ─────────────────
    QueryDef(
      "q508_kcore_peel",
      // The graph-curation classic the family still lacked: the k-core
      // of the customer↔supplier REPEAT-trade graph (q145's bipartite
      // node space, kept to pairs with ≥ 3 line items so the graph has
      // real tendrils) — iteratively peel nodes whose degree WITHIN THE
      // SURVIVING SUBGRAPH falls below k = 4. Used in web/dedup-graph
      // curation to keep densely-corroborated regions and shed
      // tendrils; at sf0.01 the measured trajectory cascades through
      // every round (898 → 171 → 114 → 67 → 30), so all four induced
      // recomputations are load-bearing under the hash.
      // Semantics pinned as FIXED-ROUND peeling (4 rounds,
      // the q145 fixed-iteration discipline): both engines run exactly
      // the same rounds, so the hash match never depends on a
      // convergence race; the per-round survivor counts are all
      // emitted, so the TRAJECTORY (not just the fixpoint) is under the
      // oracle hash.
      //
      // Shape, and why it scales: each round is two keyed equi-joins of
      // the edge list against the (monotonically shrinking) survivor
      // set plus one hash aggregation — shuffles keyed on node id, no
      // broadcast of anything corpus-sized, O(rounds) stages with the
      // survivor set checkpointed at each step so the lineage stays
      // flat. AQE sizes the shrinking side down round over round; at
      // 100× the first round dominates and is exactly a degree filter.
      (s, d) => Shared.withCheckpointDir(s) {
        val e0 = graft.Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .join(graft.Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .groupBy("src", "dst").agg(count(lit(1)).as("w"))
          .filter(col("w") >= KcoreMinTrades).select("src", "dst")
        val edges = e0.union(e0.select(col("dst").as("src"),
          col("src").as("dst"))).checkpoint()
        var surv = edges.select(col("src").as("node")).distinct()
        val rounds = (1 to KcoreRounds).map { r =>
          val sa = surv.select(col("node").as("a"))
          val sb = surv.select(col("node").as("b"))
          surv = edges.join(sa, col("src") === col("a"))
            .join(sb, col("dst") === col("b"))
            .groupBy(col("src"))
            .agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= KcoreK)
            .select(col("src").as("node"))
            .checkpoint()
          surv.agg(
            count(lit(1)).as("n_nodes"),
            coalesce(sum(when(col("node") % 2 === 0, 1L).otherwise(0L)),
              lit(0L)).as("n_cust"),
            coalesce(sum(when(col("node") % 2 === 1, 1L).otherwise(0L)),
              lit(0L)).as("n_supp"),
            coalesce(sum(col("node")), lit(0L)).as("sum_node"))
            .select(lit(r.toLong).as("round"), col("n_nodes"),
              col("n_cust"), col("n_supp"), col("sum_node"))
        }
        rounds.reduce(_ union _)
      },
      Some(kcoreOracleSql(KcoreK, KcoreRounds))
    ),

    // ── FRAGMENTED MP4 (fMP4/DASH moof walk — the live-streaming form) ────
    QueryDef(
      "q509_mp4_fragmented",
      // The q505 corpus re-hosted in the INCREMENTAL container layout
      // real DASH/HLS streams carry: no finalized sample table — an
      // empty-table moov publishes the trex sample-duration default, and
      // each moof/mdat pair owns its samples via tfhd
      // (default-base-is-moof) + trun (data offset + per-sample sizes).
      // The walk enforces live-stream integrity (mfhd sequence numbers
      // exactly 1..n, spans inside the file, the only tfhd base this
      // reader speaks) and expands fragments to absolute spans; every
      // sample decodes through the full baseline-JPEG pipeline. The
      // fragment schedule is non-uniform (2 then 1 per fragment), so
      // n_frags is a real walk output the oracle pins closed-form beside
      // the trex-derived duration and the exact decoded pixel sum.
      //
      // Shape, and why it scales: per-row byte decode, zero shuffle —
      // the q441/q505 scan shape.
      (s, d) => {
        val m = graft.multimodal.Multimodal
          .mp4FragMediaKeyed(graft.Tables.documents(s, d), Long.MaxValue)
        graft.multimodal.Multimodal.mp4FragStats(m).toDF()
      },
      Some("""WITH g AS (SELECT doc_id AS media_id, doc_id % 3 + 2 AS nf
                FROM documents),
              fb AS (SELECT media_id, nf, CAST(f AS BIGINT) AS f,
                  CAST(b AS BIGINT) AS b,
                  ((media_id + 3) * (CAST(f AS BIGINT)*17
                    + CAST(b AS BIGINT)*CAST(b AS BIGINT) + 1) * 7) % 256 AS v
                FROM g, unnest(range(CAST(nf AS BIGINT))) t(f),
                  unnest(range(16)) u(b))
              SELECT media_id, CAST(nf AS BIGINT) AS n_frames,
                CAST(CASE WHEN nf <= 2 THEN 1 ELSE nf - 1 END
                  AS BIGINT) AS n_frags,
                CAST(nf * 40000 AS BIGINT) AS duration_ticks,
                CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
                CAST(sum(v) * 64 AS BIGINT) AS sum_px
              FROM fb GROUP BY media_id, nf""")
    ),

    // ── DASH SEGMENT STREAM REASSEMBLY (stateful fMP4 ingest) ─────────────
    QueryDef(
      "q510_fmp4_stream_reassembly",
      // The q509 corpus consumed the way a DASH client actually receives
      // it: every file splits at the shipping grain (init segment =
      // ftyp+moov, then one media segment per moof/mdat pair —
      // `Mp4Codec.dashSegments`, whose concatenation reproduces the file
      // byte-exactly), the segments of ALL media land interleaved across
      // three paced micro-batches keyed by (media_id + seq) % 3 — so
      // every multi-segment media SPANS batches and many receive media
      // segments BEFORE their init segment — and a
      // flatMapGroupsWithState reassembler accumulates per-media keyed
      // state until the manifest-known segment count is present, then
      // concatenates in order, decodes through the full fragment walk,
      // emits ONE stats row, and drops the state. The q311 composition
      // discipline: the maintained streaming result must equal the
      // one-shot batch decode — the oracle replays q509's closed form
      // plus the segment count, so a lost/duplicated/mis-ordered
      // segment anywhere hash-mismatches.
      //
      // Shape, and why it scales: state is segment-sized per IN-FLIGHT
      // media and zero after emission (bounded by reordering depth, not
      // stream length); keyed by media_id so reassembly partitions
      // across executors; decode stays per-row, zero extra shuffle.
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.Trigger
        import org.apache.spark.sql.types._
        val root = Shared.scratchRoot("q510", d)
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.delete)
        }
        java.nio.file.Files.createDirectories(root.resolve("stream"))
        val segs = graft.multimodal.Multimodal
          .mp4FragMediaKeyed(graft.Tables.documents(s, d), Long.MaxValue)
          .flatMap { case (id, bytes) =>
            graft.multimodal.Mp4Codec.dashSegments(bytes).iterator.flatMap {
              ss => ss.iterator.zipWithIndex.map { case (b, i) =>
                (id, i, ss.length, b)
              }
            }
          }.toDF("media_id", "seq", "n_segs", "bytes")
        // three arrival waves written as one file each, in order: wave
        // assignment (media_id + seq) % 3 guarantees consecutive seqs of
        // one media land in DIFFERENT waves (out-of-order arrival is the
        // common case, not an edge case). ONE partitioned write job, not
        // three filter-writes: each filter-write re-ran the whole
        // encode+segment pipeline (3× the corpus encode), and its
        // coalesce(1) collapsed that pipeline into a single task — the
        // encode ran serially three times over. The repartition on the
        // WAVE key (r17, replacing repartition(1)) keeps the (parallel)
        // encode upstream of a shuffle and only the segment BYTES cross
        // it once (the shipping grain — corpus-sized payload moved
        // exactly once, guide §8); each wave hashes to one write task,
        // so every wave dir still gets exactly one file, but the three
        // writers run in parallel instead of funneling the whole corpus
        // through a single task — the serial-writer scale hazard the
        // r16 verdict flagged. Reassembly is arrival-order-independent
        // by construction (that is the very property under test), so
        // within-wave row order is free.
        segs.withColumn("wave", (col("media_id") + col("seq")) % 3)
          .repartition(col("wave"))
          .write.partitionBy("wave").parquet(root.resolve("waves").toString)
        (0 until 3).foreach { b =>
          import scala.jdk.CollectionConverters._
          val dir = root.resolve("waves").resolve(s"wave=$b")
          // a tiny corpus (<3 segments total) can leave a wave EMPTY —
          // dynamic partitionBy creates no directory for it (r16 ADVICE);
          // the stream simply sees fewer files, which reassembly handles
          // by construction
          if (java.nio.file.Files.exists(dir)) {
            val part = java.nio.file.Files.list(dir).iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
            java.nio.file.Files.move(part,
              root.resolve("stream").resolve(s"wave$b.parquet"))
          }
        }
        val schema = StructType(Seq(
          StructField("media_id", LongType, nullable = false),
          StructField("seq", IntegerType, nullable = false),
          StructField("n_segs", IntegerType, nullable = false),
          StructField("bytes", BinaryType, nullable = false)))
        val in = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(root.resolve("stream").toString)
          .as[(Long, Int, Int, Array[Byte])]
        val q = graft.multimodal.Multimodal.dashReassembly(in)
          .writeStream
          .foreachBatch((b: org.apache.spark.sql.Dataset[
              graft.multimodal.Multimodal.Mp4StreamStats], _: Long) => {
            b.write.mode("append").parquet(root.resolve("out").toString)
            ()
          })
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(root.resolve("out").toString)
      },
      Some("""WITH g AS (SELECT doc_id AS media_id, doc_id % 3 + 2 AS nf
                FROM documents),
              fb AS (SELECT media_id, nf, CAST(f AS BIGINT) AS f,
                  CAST(b AS BIGINT) AS b,
                  ((media_id + 3) * (CAST(f AS BIGINT)*17
                    + CAST(b AS BIGINT)*CAST(b AS BIGINT) + 1) * 7) % 256 AS v
                FROM g, unnest(range(CAST(nf AS BIGINT))) t(f),
                  unnest(range(16)) u(b))
              SELECT media_id,
                CAST(CASE WHEN nf <= 2 THEN 2 ELSE nf END
                  AS BIGINT) AS n_segments,
                CAST(nf AS BIGINT) AS n_frames,
                CAST(CASE WHEN nf <= 2 THEN 1 ELSE nf - 1 END
                  AS BIGINT) AS n_frags,
                CAST(nf * 40000 AS BIGINT) AS duration_ticks,
                CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
                CAST(sum(v) * 64 AS BIGINT) AS sum_px
              FROM fb GROUP BY media_id, nf""")
    )
  )

  /** q508's peeling parameters, chosen from the measured sf0.01 degree
    * structure: the ≥3-line-item edge filter thins the bipartite graph
    * enough to carry tendrils, and k = 4 then cascades — each round's
    * removals drop other nodes under k, so every round peels (a denser
    * setting converges at round 1 and the later rounds would pin
    * nothing); 4 rounds pins the trajectory without betting the hash
    * on convergence
    */
  private final val KcoreK = 4
  private final val KcoreRounds = 4
  private final val KcoreMinTrades = 3

  /** the unrolled fixed-round peel (the q145/bpeRoundsSql discipline):
    * round r's survivors are the nodes whose degree within the round
    * r−1 induced subgraph reaches k — both join legs anchored on the
    * PREVIOUS round's set, exactly like the Spark loop
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val rs = (1 to rounds).map { r =>
      s"""s$r AS (SELECT e.src AS node FROM edges e
            JOIN s${r - 1} a ON a.node = e.src
            JOIN s${r - 1} b ON b.node = e.dst
            GROUP BY 1 HAVING count(*) >= $k)"""
    }.mkString(",\n")
    val union = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
            CAST(count(*) AS BIGINT) AS n_nodes,
            CAST(coalesce(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_cust,
            CAST(coalesce(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_supp,
            CAST(coalesce(sum(node), 0) AS BIGINT) AS sum_node
          FROM s$r"""
    }.mkString("\nUNION ALL ")
    // e0 is AS MATERIALIZED (DuckDB-only syntax — oracles run only in
    // DuckDB): without it the optimizer INLINES `edges` into every
    // unrolled round, and since s_r references s_{r-1} twice the
    // orders⨝lineitem join replicates ~2^rounds times — measured >50 GB
    // of spill at sf1, vs seconds with the 1.8k-row e0 pinned once
    s"""WITH e0 AS MATERIALIZED (SELECT o_custkey*2 AS src,
            l_suppkey*2+1 AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY 1, 2 HAVING count(*) >= $KcoreMinTrades),
        edges AS MATERIALIZED (SELECT src, dst FROM e0
          UNION ALL SELECT dst, src FROM e0),
        s0 AS (SELECT DISTINCT src AS node FROM edges),
        $rs
        $union"""
  }

  /** the loop's PURE graph builds (initial L0, the step-3 rebuild L3,
    * the gold L4), memoized once per (process, dataset) to scratch
    * parquet like the `knngraph`/`knnlive` memos they generalize: each
    * is a deterministic function of the dataset alone (keyed on the
    * live set, never on a decision outcome), the LSH+scoring build is
    * the expensive stage, and the bench's memo ledger attributes the
    * one-time cost to the first-payer run while warm runs measure the
    * loop's own verbs (planner counts, attaches, repairs, serves).
    */
  private[operators] def memoBuild(s: SparkSession, d: String, tag: String,
      live: DataFrame): DataFrame =
    s.read.parquet(Shared.memo(tag, d) { r =>
      R12Queries.knnGraphEdgesOver(live)
        .write.mode("overwrite").parquet(r)
      r
    })

  /** the pre-churn index state: the initial build over L0 PLUS the A1
    * arrivals attached through its router — pure per dataset, memoized
    * beside the builds (tag `churng1`)
    */
  private[operators] def churnG1(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("churng1", d) { r =>
      val c = R12Queries.corpusVecs(s, d)
      val l0 = c.filter(col("cid") % 3 =!= 2)
      R12Queries.knnGraphEdgesOver(l0)
        .unionAll(attachEdges(c, c.filter(isA1(col("cid"))),
          R12Queries.bandedKeysOver(l0)))
        .distinct()
        .write.mode("overwrite").parquet(r)
      r
    })

  /** the mid-loop states (G2 = step-2 maintenance applied to G1; G2i =
    * G2 with the A2 arrivals attached), memoized once per (process,
    * dataset) under tag `churnmid`. DECISION-SAFE: the builder measures
    * the same planner counts the live query measures and takes the same
    * branch — on identical data the branch cannot diverge (the counts
    * are deterministic), and changed data re-keys the memo via
    * [[Shared.datasetKey]]; a divergence anywhere would surface as an
    * oracle hash mismatch on the decision and edge-count columns.
    */
  private[operators] def churnMid(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val root = Shared.memo("churnmid", d) { r =>
      val g1 = churnG1(s, d)
      val c = R12Queries.corpusVecs(s, d)
      val cand2 = repairCand(g1, isT1)
      val l2 = c.filter(col("cid") % 6 =!= 5 && !isT1(col("cid")))
      val kc2 = R12Queries.bandedKeysOver(l2)
      val rep2 = cand2.count()
      val reb2 = pairsOf(kc2).count()
      val g2 =
        if (reb2 >= Crossover * rep2) repairGraph(c, g1, cand2, isT1)
        else R12Queries.knnGraphEdgesOver(l2)
      g2.write.mode("overwrite").parquet(s"$r/g2")
      val g2w = s.read.parquet(s"$r/g2")
      g2w.unionAll(attachEdges(c, c.filter(isA2(col("cid"))), kc2))
        .distinct()
        .write.mode("overwrite").parquet(s"$r/g2i")
      r
    }
    (s.read.parquet(s"$root/g2"), s.read.parquet(s"$root/g2i"))
  }

  /** the eval-side fixtures (the exact brute top-3 over the final live
    * state, and the GOLD one-shot rebuild's serve answers), memoized
    * under tag `churneval`: both are pure per dataset, and they are the
    * measuring stick — the maintained index's serve stays live
    */
  private[operators] def churnEval(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val root = Shared.memo("churneval", d) { r =>
      val c = R12Queries.corpusVecs(s, d)
      val q = R12Queries.probeVecs(s, d)
      val live = c.filter(col("cid") % 3 =!= 0 && !isT3(col("cid")))
      val gold = memoBuild(s, d, "churngold", live)
      val l4 = live.select(col("cid"), col("cv"),
        graft.functions.vec.norm(col("cv")).as("cnv"))
      val qn = q.select(col("qid"), col("qv"),
        graft.functions.vec.norm(col("qv")).as("qn"))
      // ‖v‖ once per row on each side (r17) — the bruteTop3 discipline
      R13Queries.top(
          l4.crossJoin(broadcast(qn)).select(col("qid"), col("cid"),
            (graft.functions.vec.dot(col("qv"), col("cv")) /
              (col("qn") * col("cnv"))).as("cos")), 3)
        .select("qid", "cid")
        .write.mode("overwrite").parquet(s"$r/brute")
      serveAns(s, d, gold, R12Queries.bandedKeysOver(l4))
        .write.mode("overwrite").parquet(s"$r/ansg")
      r
    }
    (s.read.parquet(s"$root/brute"), s.read.parquet(s"$root/ansg"))
  }

  // ── the loop's verbs (hoisted so Round16OpsSpec can replay them) ────────

  /** (cid, band, bk) — the arrival side's UNCAPPED band keys (each
    * arrival probes all its buckets; the cap lives on the index side)
    */
  private def uncappedKeys(df: DataFrame): DataFrame =
    df.select(col("cid"), explode(array((0 until NBands).map(b =>
        struct(lit(b).as("band"),
          R12Queries.bandKeyCol(col("cv"), b).as("bk"))): _*)).as("s"))
      .select(col("cid"), col("s.band").as("band"), col("s.bk").as("bk"))

  /** q498's insert verb, batch form: route arrivals through the CURRENT
    * index's capped bucket table, score exactly, attach top-M
    * symmetrized — arrivals × cap bounded, corpus never moves
    */
  private[operators] def attachEdges(c: DataFrame, arr: DataFrame,
      baseKc: DataFrame): DataFrame = {
    val cand = uncappedKeys(arr).withColumnRenamed("cid", "aid")
      .join(baseKc, Seq("band", "bk"))
      .select("aid", "cid").distinct()
    // ‖v‖ once per vector + generator symmetrization (r17) — the
    // knnGraphEdgesOver discipline: identical doubles, identical rows,
    // without re-evaluating the scoring subtree per union branch
    val cn = c.select(col("cid"), col("cv"),
      graft.functions.vec.norm(col("cv")).as("nv"))
    val scored = cand
      .join(cn.select(col("cid").as("aid"), col("cv").as("av"),
        col("nv").as("an")), "aid")
      .join(cn, "cid")
      .select(col("aid"), col("cid"),
        (graft.functions.vec.dot(col("av"), col("cv")) /
          (col("an") * col("nv"))).as("cos"))
    val kn = scored.withColumn("rk", row_number().over(
        Window.partitionBy("aid").orderBy(col("cos").desc, col("cid").asc)))
      .filter(col("rk") <= KnnM).select("aid", "cid")
    kn.select(explode(array(
        struct(col("aid").as("src"), col("cid").as("dst")),
        struct(col("cid").as("src"), col("aid").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
  }

  /** q499's repair candidates, parameterized on the dead predicate: the
    * u→(dead t)→v set — degree²-bounded per tombstone, linear in churn
    */
  private[operators] def repairCand(g: DataFrame,
      dead: Column => Column): DataFrame =
    g.filter(!dead(col("src")) && dead(col("dst")))
      .select(col("src").as("u"), col("dst").as("t"))
      .join(g.filter(!dead(col("dst")))
        .select(col("src").as("t"), col("dst").as("v")), "t")
      .filter(col("v") =!= col("u"))

  /** q499's repair verb: candidates scored by keyed equi-joins (no
    * float broadcast), top-RepairM bridges per (u, t), symmetrized onto
    * the surviving edges
    */
  private[operators] def repairGraph(c: DataFrame, g: DataFrame,
      cand: DataFrame, dead: Column => Column): DataFrame = {
    val liveE = g.filter(!dead(col("src")) && !dead(col("dst")))
    // ‖v‖ once per vector + generator symmetrization (r17) — the
    // knnGraphEdgesOver discipline: identical doubles, identical rows
    val cn = c.select(col("cid"), col("cv"),
      graft.functions.vec.norm(col("cv")).as("nv"))
    val scored = cand
      .join(cn.select(col("cid").as("u"), col("cv").as("uv"),
        col("nv").as("un")), "u")
      .join(cn.select(col("cid").as("v"), col("cv").as("vv"),
        col("nv").as("vn")), "v")
      .select(col("u"), col("t"), col("v"),
        (graft.functions.vec.dot(col("uv"), col("vv")) /
          (col("un") * col("vn"))).as("cos"))
    val br = scored.withColumn("rk", row_number().over(
        Window.partitionBy("u", "t")
          .orderBy(col("cos").desc, col("v").asc)))
      .filter(col("rk") <= R15Queries.RepairM).select("u", "v")
    val brSym = br.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
    liveE.unionAll(brSym).distinct()
  }

  /** the planner's rebuild volume: the distinct capped-bucket candidate
    * pairs a fresh build over `kc` would score (q502)
    */
  private[operators] def pairsOf(kc: DataFrame): DataFrame =
    // groupBy-array form (r17): rides the capping window's exchange
    // instead of re-deriving the bucket table on both sides of a
    // self-join — identical pair set; see R12Queries.pairsOfKeyed
    R12Queries.pairsOfKeyed(kc)

  /** q463's serve schedule: live LSH router + the graph's own top-4
    * hubs, W=8 beam × 2 rounds, per-probe top-3 answers
    */
  private[operators] def serveAns(s: SparkSession, d: String, g: DataFrame,
      router: DataFrame): DataFrame = {
    val seeds = R12Queries.probeBandKeys(s, d)
      .join(router, Seq("band", "bk")).select("qid", "cid")
      .unionAll(R12Queries.probeVecs(s, d).select("qid")
        .crossJoin(broadcast(R12Queries.entryPoints(g))))
      .distinct()
    var b = Shared.pinModelSized(  // probes×8 rows — see pinModelSized
      R13Queries.top(R12Queries.beamScore(s, d, seeds), 8))
    for (_ <- 1 to 2) b = R13Queries.beamRound(s, d, b, g, 8)
    R13Queries.top(b, 3).select("qid", "cid")
  }

  /** N count aggregations in ONE Spark action: each frame folds to its
    * row count, the 1-row aggregates union in argument order, one
    * collect returns them all (union branches schedule concurrently)
    */
  private def bundledCounts(fs: DataFrame*): Seq[Long] =
    fs.map(_.agg(count(lit(1)).as("n")))
      .reduce(_.unionAll(_)).collect().map(_.getLong(0)).toSeq

  // ── SQL generators (each mirrors the Spark builder above verbatim) ──────

  /** probe-side band keys (SQL_QSEEDS_CTES's qkeys, standalone — the
    * seeds/entries CTEs there are bound to the full graph)
    */
  private def sqlQKeys: String =
    s"""qkeys AS (${(0 until NBands).map(b =>
        s"SELECT qid, $b AS band, ${SQL_BAND_KEY("qv", b)} AS bk FROM q")
        .mkString("\nUNION ALL ")})"""

  /** capped bucket table + distinct candidate pairs over a live filter:
    * CTEs `<p>c, <p>ky, <p>kc, <p>$pairsName` (the planner's rebuild
    * volume — exactly what a fresh build would score; [[sqlBuild]]
    * names it `cd` and scores it)
    */
  private def sqlPairs(p: String, live: String,
      pairsName: String = "pr"): String =
    s"""${p}c AS (SELECT cid, cv FROM c WHERE $live),
        ${p}ky AS (${(0 until NBands).map(b =>
          s"SELECT cid, $b AS band, ${SQL_BAND_KEY("cv", b)} AS bk FROM ${p}c")
          .mkString("\nUNION ALL ")}),
        ${p}kc AS (SELECT cid, band, bk FROM (
            SELECT cid, band, bk, row_number() OVER (
              PARTITION BY band, bk ORDER BY cid) AS rn FROM ${p}ky)
          WHERE rn <= $KnnCap),
        $p$pairsName AS (SELECT DISTINCT a.cid AS d1, b.cid AS d2
          FROM ${p}kc a JOIN ${p}kc b
            ON a.band = b.band AND a.bk = b.bk AND a.cid < b.cid)"""

  /** the full kNN-graph build over a live filter (SQL_KNN_GRAPH_CTES's
    * chain, prefixed and parameterized): appends scoring, top-M,
    * symmetrization to [[sqlPairs]] — CTEs `…<p>cd(=pairs), <p>g`
    */
  private def sqlBuild(p: String, live: String): String =
    s"""${sqlPairs(p, live, pairsName = "cd")},
        ${p}sc AS (SELECT d1, d2, ${SQL_COS("c1.cv", "c2.cv")} AS cos
          FROM ${p}cd JOIN c c1 ON d1 = c1.cid JOIN c c2 ON d2 = c2.cid),
        ${p}sy AS (SELECT d1 AS src, d2 AS dst, cos FROM ${p}sc
          UNION ALL SELECT d2, d1, cos FROM ${p}sc),
        ${p}kn AS (SELECT src, dst FROM (
            SELECT src, dst, row_number() OVER (PARTITION BY src
              ORDER BY cos DESC, dst) AS rk FROM ${p}sy)
          WHERE rk <= $KnnM),
        ${p}g AS (SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM ${p}kn UNION ALL SELECT dst, src FROM ${p}kn))"""

  /** q498's insert verb in SQL: arrivals' uncapped band keys routed
    * through the current index's capped bucket table `kcap`, exact
    * top-M attach, symmetrized — CTEs `<p>a … <p>ae`
    */
  private def sqlAttach(p: String, arr: String, kcap: String): String =
    s"""${p}a AS (SELECT cid, cv FROM c WHERE $arr),
        ${p}ky AS (${(0 until NBands).map(b =>
          s"SELECT cid AS aid, $b AS band, ${SQL_BAND_KEY("cv", b)} AS bk FROM ${p}a")
          .mkString("\nUNION ALL ")}),
        ${p}cd AS (SELECT DISTINCT ak.aid, k.cid FROM ${p}ky ak
          JOIN $kcap k ON ak.band = k.band AND ak.bk = k.bk),
        ${p}sc AS (SELECT ac.aid, ac.cid, ${SQL_COS("ca.cv", "cb.cv")} AS cos
          FROM ${p}cd ac JOIN c ca ON ac.aid = ca.cid
            JOIN c cb ON ac.cid = cb.cid),
        ${p}kn AS (SELECT aid, cid FROM (
            SELECT aid, cid, row_number() OVER (PARTITION BY aid
              ORDER BY cos DESC, cid) AS rk FROM ${p}sc)
          WHERE rk <= $KnnM),
        ${p}ae AS (SELECT DISTINCT src, dst FROM (
          SELECT aid AS src, cid AS dst FROM ${p}kn
          UNION ALL SELECT cid, aid FROM ${p}kn))"""

  /** q499's repair candidate set alone (u → dead t → v), for planner
    * steps whose decision is rebuild: CTE `<p>cn`
    */
  private def sqlRepairCand(p: String, g: String,
      dead: String => String): String =
    s"""${p}cn AS (SELECT g1.src AS u, g1.dst AS t, g2.dst AS v
          FROM $g g1 JOIN $g g2 ON g1.dst = g2.src
          WHERE ${dead("g1.dst")} AND NOT ${dead("g1.src")}
            AND NOT ${dead("g2.dst")} AND g2.dst <> g1.src)"""

  /** q499's full repair verb: candidates, exact scoring, top-RepairM
    * bridges per (u, t), symmetrized onto surviving edges — CTEs
    * `<p>cn … <p>rg`
    */
  private def sqlRepair(p: String, g: String,
      dead: String => String): String =
    s"""${p}le AS (SELECT src, dst FROM $g
          WHERE NOT ${dead("src")} AND NOT ${dead("dst")}),
        ${sqlRepairCand(p, g, dead)},
        ${p}cs AS (SELECT u, t, v, ${SQL_COS("cu.cv", "cw.cv")} AS cos
          FROM ${p}cn JOIN c cu ON u = cu.cid JOIN c cw ON v = cw.cid),
        ${p}br AS (SELECT u, v FROM (
            SELECT u, t, v, row_number() OVER (PARTITION BY u, t
              ORDER BY cos DESC, v) AS rk FROM ${p}cs)
          WHERE rk <= ${R15Queries.RepairM}),
        ${p}bs AS (SELECT u AS src, v AS dst FROM ${p}br
          UNION SELECT v, u FROM ${p}br),
        ${p}rg AS (SELECT src, dst FROM ${p}le
          UNION SELECT src, dst FROM ${p}bs)"""

  /** q463's serve schedule in SQL over edge CTE `g` and router `kc`:
    * hubs, seeds, W=8 beam × 2 rounds, top-3 answers — CTEs
    * `<p>hb … <p>an`
    */
  private def sqlServe(p: String, g: String, kc: String): String =
    s"""${p}hb AS (SELECT src AS cid FROM (
          SELECT src, count(*) AS dg FROM $g GROUP BY src
          ORDER BY dg DESC, src LIMIT 4)),
        ${p}sd AS (SELECT DISTINCT qid, cid FROM (
          SELECT qk.qid, k.cid FROM qkeys qk
            JOIN $kc k ON qk.band = k.band AND qk.bk = k.bk
          UNION ALL
          SELECT q.qid, h.cid FROM q CROSS JOIN ${p}hb h)),
        ${p}b0 AS (SELECT qid, cid, cos FROM (
            SELECT qid, cid, cos, row_number() OVER (
              PARTITION BY qid ORDER BY cos DESC, cid) AS rk
            FROM (SELECT sd.qid, sd.cid, ${SQL_COS("q.qv", "c.cv")} AS cos
              FROM ${p}sd sd JOIN q ON sd.qid = q.qid
                JOIN c ON sd.cid = c.cid))
          WHERE rk <= 8),
        ${sqlBeamRound(s"${p}b0", s"${p}b1", g, 8)},
        ${sqlBeamRound(s"${p}b1", s"${p}b2", g, 8)},
        ${p}an AS (SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (
              PARTITION BY qid ORDER BY cos DESC, cid) AS rk
            FROM ${p}b2) WHERE rk <= 3)"""
}
