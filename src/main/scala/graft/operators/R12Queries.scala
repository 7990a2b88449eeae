package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.vec
import graft.multimodal.Multimodal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-12 batch 1: the graph-based ANN family (k-NN-graph build from
  * LSH candidates + bounded beam-search serve path — the NSW-class
  * structure next to the complete brute/IVF/PQ/IVF-PQ ladder), and the
  * MJPEG video codec by composition (JpegCodec frames in '00dc' chunks
  * inside the AviCodec container walk — transform-domain lossy video
  * closed with two already-verified codecs).
  *
  * Determinism: library-wide rules — cosine via the pinned sequential
  * dot/norm folds (bit-identical to DuckDB list_aggregate), every top-k
  * window carrying a unique id tie-break, codec fixtures in the
  * block-constant exact-recovery regime with closed-form oracles.
  */
object R12Queries {

  // local mirrors of the SimilarityQueries vector conventions (one
  // definition per file is the batch-file norm; the SQL text is shared
  // verbatim with the q41 family so the folds can never drift)
  private[operators] val SQL_DIM = 64
  private[operators] def SQL_DOT(a: String, b: String) =
    s"list_aggregate(list_transform(range(1, ${SQL_DIM + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')"
  private[operators] def SQL_NORM(a: String) =
    s"sqrt(list_aggregate(list_transform(range(1, ${SQL_DIM + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)), 'sum'))"
  private[operators] def SQL_COS(a: String, b: String) =
    s"${SQL_DOT(a, b)} / (${SQL_NORM(a)} * ${SQL_NORM(b)})"

  /** q42's deterministic hyperplane family (the fixed LCG — see the q42
    * scaladoc for the exactness argument), extended to NPlanes planes:
    * plane p component i = (((1103515245·(p·64+i) + 12345) mod 2³¹) /
    * 2³¹) − 0.5. Weights precompute driver-side into literal arrays
    * (codegen'd dots); the oracle re-derives per row from the formula —
    * every step exact in double, so the sign bits agree bit-for-bit.
    */
  private[operators] val NBands = 4
  private[operators] val BandBits = 6
  private def planes: Array[Array[Double]] =
    Array.tabulate(NBands * BandBits, 64) { (p, i) =>
      ((1103515245L * (p * 64L + i) + 12345L) % 2147483648L).toDouble /
        2147483648.0 - 0.5
    }
  private[operators] def SQL_SIG_BIT(v: String, p: Int) =
    s"""CASE WHEN list_aggregate(list_transform(range(1, 65),
       i -> CAST($v[i] AS DOUBLE) * ((CAST((1103515245 * (${p * 64} + (i-1)) + 12345) % 2147483648 AS DOUBLE)) / 2147483648 - 0.5)), 'sum') >= 0
       THEN '1' ELSE '0' END"""
  private[operators] def SQL_BAND_KEY(v: String, b: Int) =
    (b * BandBits until (b + 1) * BandBits)
      .map(p => SQL_SIG_BIT(v, p)).mkString(" || ")

  /** 6-bit band signature of a vector column (band b = sign bits of
    * planes b·6 .. b·6+5) — one codegen'd weighted dot per bit
    */
  private[operators] def bandKeyCol(v: Column, b: Int): Column = {
    val pl = planes
    concat_ws("", (b * BandBits until (b + 1) * BandBits).map { p =>
      when(vec.dot(v, typedlit(pl(p).toSeq)) >= 0, lit(1)).otherwise(lit(0))
    }: _*)
  }

  private[operators] def embAll(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
  private[operators] def corpusVecs(s: SparkSession, d: String): DataFrame =
    embAll(s, d).filter(col("vec_id") >= 5)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
  /** Corpus frame without [[embAll]]'s round-robin repartition. Its one
    * consumer, beamScore, only streams the scan past broadcast pair
    * lists, so the scan's own splits already give enough parallelism
    * and a full-corpus shuffle would buy nothing.
    */
  private[operators] def corpusVecsNarrow(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") >= 5)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
  /** probe panel: model-sized by construction (vec_id < 5) — never
    * worth a repartition exchange; consumers broadcast or crossJoin it
    */
  private[operators] def probeVecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
  private[operators] def cosCol(a: Column, b: Column): Column =
    vec.dot(a, b) / (vec.norm(a) * vec.norm(b))

  /** the graph's 4 max-degree hubs — the DATA-DERIVED beam entry points
    * (r12 verdict task 2, replacing the fixture-coupled vec_ids 5..8):
    * high-degree nodes reach the most neighborhoods per hop, the rule
    * (degree DESC, id ASC, LIMIT 4) is exact and deterministic, and it
    * survives any vec_id domain because the ids come from the graph
    * itself. Model-sized output (4 rows).
    */
  private[operators] def entryPoints(graph: DataFrame): DataFrame =
    graph.groupBy("src").agg(count(lit(1)).as("dg"))
      .orderBy(col("dg").desc, col("src").asc).limit(4)
      .select(col("src").as("cid"))

  /** the oracle's mirror of [[entryPoints]] (expects a `graph` CTE) */
  private[operators] val SQL_ENTRIES_CTE: String =
    """entries AS (SELECT src AS cid FROM (
         SELECT src, count(*) AS dg FROM graph GROUP BY src
         ORDER BY dg DESC, src LIMIT 4))"""

  /** (qid, band, bk) band keys of the probe side — the LSH router's query
    * leg, shared by q439's seed routing, q452's attach and q463's
    * tombstone serve so the routing under test is the one that serves
    */
  private[graft] def probeBandKeys(s: SparkSession, d: String): DataFrame =
    probeVecs(s, d).select(col("qid"),
        explode(array((0 until NBands).map(b =>
          struct(lit(b).as("band"), bandKeyCol(col("qv"), b).as("bk"))): _*))
          .as("s"))
      .select(col("qid"), col("s.band").as("band"), col("s.bk").as("bk"))

  /** exact scoring of model-sized (qid, cid) pair lists — the SERVE-path
    * join discipline (r12 verdict task 1): the corpus scan streams past a
    * BROADCAST of the pair list (beam/seed grain — bounded by
    * probes × max(W·deg, bands·cap), never corpus-sized), so corpus
    * floats neither broadcast nor shuffle; the probe panel broadcasts as
    * in q41. PlanSpec pins "no corpus-side BroadcastExchange" on this
    * exact builder.
    */
  private[graft] def beamScore(s: SparkSession, d: String,
      pairs: DataFrame): DataFrame =
    corpusVecsNarrow(s, d).join(broadcast(pairs), "cid")
      .join(broadcast(probeVecs(s, d)), "qid")
      .select(col("qid"), col("cid"),
        cosCol(col("qv"), col("cv")).as("cos"))

  /** q439's BUILD stage, exposed for the plan spec: the bounded-degree
    * symmetrized k-NN graph (src, dst) over the corpus side — LSH-banded
    * candidate generation (keyed (band, key) equi-join, per-bucket cap,
    * never all-pairs), exact cosine on candidates, top-[[KnnM]] per
    * vector, symmetrized. Un-checkpointed: the caller decides.
    */
  private[operators] final val KnnCap = 64
  private[operators] final val KnnM = 6

  /** capped (cid, band, bk) corpus bucket table — the build's candidate
    * source AND the serve path's entry-point router (a query probes its
    * own band buckets to seed the beam, the LSH-routing + graph-refine
    * composition production NSW systems run)
    */
  /** UNCAPPED (cid, band, bk) rows — the router's raw bucket stream
    * (q453 audits its balance; [[bandedCorpusKeys]] caps it)
    */
  private[graft] def bandedCorpusKeysRaw(s: SparkSession, d: String): DataFrame =
    corpusVecs(s, d).select(col("cid"),
        explode(array((0 until NBands).map(b =>
          struct(lit(b).as("band"), bandKeyCol(col("cv"), b).as("bk"))): _*))
          .as("s"))
      .select(col("cid"), col("s.band").as("band"), col("s.bk").as("bk"))

  private[graft] def bandedCorpusKeys(s: SparkSession, d: String): DataFrame =
    bandedCorpusKeysRaw(s, d)
      .withColumn("rn", row_number().over(
        Window.partitionBy("band", "bk").orderBy("cid")))
      .filter(col("rn") <= KnnCap)
      .select("cid", "band", "bk")

  /** the kNN graph, materialized ONCE per (process, dataset) to scratch
    * parquet ([[Shared.memo]]): three queries sit on
    * it (q439 serve, q451 audit, q452 attach via the same bucket table)
    * and the LSH + scoring build is the expensive stage of each. The
    * un-memoized [[knnGraphEdges]] stays the spec's plan-audit surface.
    */
  private[graft] def knnGraphMemoized(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("knngraph", d) { r =>
      knnGraphEdges(s, d)
        .write.mode("overwrite").parquet(r)
      r
    })

  private[graft] def knnGraphEdges(s: SparkSession, d: String): DataFrame =
    knnGraphEdgesOver(corpusVecs(s, d))

  /** capped (cid, band, bk) bucket table over an ARBITRARY corpus frame
    * (cid, cv) — [[bandedCorpusKeys]]'s shape parameterized for the
    * rebuild-from-live path (q503): the cap applies AFTER the corpus
    * restriction, which is what a router rebuilt from the live corpus
    * looks like (contrast the repair scenario, which masks tombstones
    * out of the EXISTING capped table)
    */
  private[graft] def bandedKeysOver(c: DataFrame): DataFrame =
    c.select(col("cid"),
        explode(array((0 until NBands).map(b =>
          struct(lit(b).as("band"), bandKeyCol(col("cv"), b).as("bk"))): _*))
          .as("s"))
      .select(col("cid"), col("s.band").as("band"), col("s.bk").as("bk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("band", "bk").orderBy("cid")))
      .filter(col("rn") <= KnnCap)
      .select("cid", "band", "bk")

  /** Distinct unordered candidate pairs (d1 < d2) of a capped bucket
    * table — the build's candidate set AND the q502/q504 planner's
    * rebuild volume, in ONE definition. GroupBy-array form (r17, the
    * coPurchaseEdges discipline): the capping window already
    * hash-partitioned `keyed` by (band, bk), so folding each bucket
    * into its sorted member array rides that SAME exchange with zero
    * new shuffle, and the ordered pairs explode inside codegen. The
    * keyed self-join this replaces re-derived the whole bucket subtree
    * (corpus scan + 24 codegen'd dots per vector + the capping window)
    * on BOTH join sides and paid the join itself; pair SET is identical
    * (each bucket's members, ascending, all i<j pairs, distinct across
    * buckets — sort_array on distinct cids reproduces the window's
    * ORDER BY cid enumeration exactly).
    * Contract: every pair has d1 < d2 — a row repeated in a bucket (a
    * masked or unioned bucket table) yields no self-pair, as with the
    * self-join, so the pair set is that of the deduplicated input.
    */
  private[graft] def pairsOfKeyed(keyed: DataFrame): DataFrame =
    keyed.groupBy("band", "bk")
      .agg(sort_array(collect_list(col("cid"))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))),
          y => struct(x.as("d1"), y.as("d2")))))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .filter(col("d1") < col("d2"))
      .distinct()

  /** [[knnGraphEdges]] over an arbitrary corpus frame (cid, cv) — the
    * same LSH-banded, capped, exact-scored, top-M symmetrized build, so
    * a rebuild over the live corpus (q503's gold standard) is the SAME
    * structure the full index was built with
    */
  private[graft] def knnGraphEdgesOver(c: DataFrame): DataFrame = {
    // (cid, band, key) — ids only through the band shuffle; pairs ride
    // the capping window's own exchange (see pairsOfKeyed)
    val cand = pairsOfKeyed(bandedKeysOver(c))
    // plain keyed equi-joins (r12 verdict task 1): corpus floats ride ONE
    // hash shuffle per side, bounded by candidate volume — the q186/q189
    // discipline. AQE still broadcasts while the corpus is actually small;
    // a broadcast HINT here would pin corpus-sized floats into executor
    // memory at 100× and kill the build.
    // ‖v‖ precomputed ONCE PER VECTOR on the scan side (r17): cos =
    // dot/(n1·n2) with n = sqrt(dot(v,v)) — the identical expressions on
    // the identical doubles, evaluated per corpus row instead of twice
    // per candidate pair (the pair stream is ≥ cap/2 × the corpus).
    val cn = c.select(col("cid"), col("cv"),
      graft.functions.vec.norm(col("cv")).as("nv"))
    val scored = cand
      .join(cn.select(col("cid").as("d1"), col("cv").as("v1"),
        col("nv").as("n1")), "d1")
      .join(cn.select(col("cid").as("d2"), col("cv").as("v2"),
        col("nv").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        (graft.functions.vec.dot(col("v1"), col("v2")) /
          (col("n1") * col("n2"))).as("cos"))
    // symmetrize via ONE generator instead of unionAll(swap): the union
    // form re-evaluated the entire scoring subtree (joins + cosines) per
    // branch — the before plan carried the corpus scan 32× through the
    // two nested unions; the exploded rows are identical
    val symc = scored.select(explode(array(
        struct(col("d1").as("src"), col("d2").as("dst"), col("cos")),
        struct(col("d2").as("src"), col("d1").as("dst"), col("cos"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.cos").as("cos"))
    val knn = symc.withColumn("rk", row_number().over(
        Window.partitionBy("src").orderBy(col("cos").desc, col("dst").asc)))
      .filter(col("rk") <= KnnM).select("src", "dst")
    knn.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
  }

  /** the graph-build CTE chain (q, c, keyed → capped buckets → candidate
    * pairs → scored → top-M → symmetrized graph), shared VERBATIM by the
    * q439 oracle and the batch-3 maintenance audits (q451/q452/q453) so
    * the structure under audit can never drift from the one served
    */
  private[operators] def SQL_KNN_GRAPH_CTES: String =
    s"""q AS (SELECT vec_id AS qid, embedding AS qv
          FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS cid, embedding AS cv
          FROM embeddings WHERE vec_id >= 5),
        keyed AS (${(0 until NBands).map(b =>
          s"SELECT cid, $b AS band, ${SQL_BAND_KEY("cv", b)} AS bk FROM c")
          .mkString("\nUNION ALL ")}),
        kcap AS (SELECT cid, band, bk FROM (
            SELECT cid, band, bk, row_number() OVER (
              PARTITION BY band, bk ORDER BY cid) AS rn FROM keyed)
          WHERE rn <= $KnnCap),
        cand AS (SELECT DISTINCT a.cid AS d1, b.cid AS d2
          FROM kcap a JOIN kcap b
            ON a.band = b.band AND a.bk = b.bk AND a.cid < b.cid),
        scored AS (SELECT d1, d2, ${SQL_COS("c1.cv", "c2.cv")} AS cos
          FROM cand JOIN c c1 ON d1 = c1.cid JOIN c c2 ON d2 = c2.cid),
        symc AS (SELECT d1 AS src, d2 AS dst, cos FROM scored
          UNION ALL SELECT d2, d1, cos FROM scored),
        knn AS (SELECT src, dst FROM (
            SELECT src, dst, row_number() OVER (PARTITION BY src
              ORDER BY cos DESC, dst) AS rk FROM symc)
          WHERE rk <= $KnnM),
        graph AS (SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM knn UNION ALL SELECT dst, src FROM knn))"""

  /** the LSH-routed entry-point CTEs (query band keys → seed pairs),
    * shared by q439 and q452's incremental attach
    */
  private[operators] def SQL_QSEEDS_CTES: String =
    s"""$SQL_ENTRIES_CTE,
        qkeys AS (${(0 until NBands).map(b =>
          s"SELECT qid, $b AS band, ${SQL_BAND_KEY("qv", b)} AS bk FROM q")
          .mkString("\nUNION ALL ")}),
        seeds AS (SELECT DISTINCT qid, cid FROM (
          SELECT qk.qid, k.cid FROM qkeys qk
            JOIN kcap k ON qk.band = k.band AND qk.bk = k.bk
          UNION ALL
          SELECT q.qid, e.cid FROM q CROSS JOIN entries e))"""

  /** one unrolled beam round (shared Spark/SQL structure — the SQL is
    * generated from the same constants): candidates = beam ∪ scored
    * graph-expansion of beam, deduped per (qid, cid), re-topped to W
    */
  private def sqlBeamRound(prev: String, cur: String, w: Int): String =
    s"""$cur AS (SELECT qid, cid, cos FROM (
          SELECT qid, cid, cos,
            row_number() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid) AS rk
          FROM (SELECT qid, cid, max(cos) AS cos FROM (
              SELECT qid, cid, cos FROM $prev
              UNION ALL
              SELECT ex.qid, ex.cid, ${SQL_COS("q.qv", "c.cv")} AS cos
              FROM (SELECT DISTINCT b.qid, g.dst AS cid
                    FROM $prev b JOIN graph g ON b.cid = g.src) ex
                JOIN q ON ex.qid = q.qid JOIN c ON ex.cid = c.cid)
            GROUP BY 1, 2))
        WHERE rk <= $w)"""

  private def sqlBeam(w: Int, rounds: Int): String = {
    val tag = s"b$w"
    val seed =
      s"""${tag}_0 AS (SELECT qid, cid, cos FROM (
            SELECT qid, cid, cos,
              row_number() OVER (PARTITION BY qid
                ORDER BY cos DESC, cid) AS rk
            FROM (SELECT s.qid, s.cid, ${SQL_COS("q.qv", "c.cv")} AS cos
                  FROM seeds s JOIN q ON s.qid = q.qid
                    JOIN c ON s.cid = c.cid))
          WHERE rk <= $w)"""
    val rs = (1 to rounds)
      .map(r => sqlBeamRound(s"${tag}_${r - 1}", s"${tag}_$r", w))
    val ans =
      s"""ans$w AS (SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid) AS rk FROM ${tag}_$rounds)
          WHERE rk <= 3),
          hit$w AS (SELECT count(*) AS n FROM ans$w
            JOIN brute USING (qid, cid))"""
    (seed +: rs :+ ans).mkString(",\n")
  }

  val all: Seq[QueryDef] = Seq(

    // ── GRAPH-BASED ANN (k-NN graph from LSH candidates + beam search) ────
    QueryDef(
      "q439_ann_knn_graph",
      // The NSW-class serve structure (Malkov et al.'s navigable-
      // small-world family, single-layer) next to the IVF/PQ ladder:
      // highest recall-per-probe in production ANN. BUILD: candidate
      // pairs from 4-band × 6-bit hyperplane LSH (the q42 signature
      // family — keyed (band, key) equi-join, per-bucket cap 64, NEVER
      // all-pairs), exact cosine on candidates, each vector keeps its
      // top-6 neighbors (bounded out-degree), edges symmetrized so
      // search can traverse both ways. SEARCH: from LSH-routed seeds
      // plus the graph's 4 max-degree hubs (data-derived entry points),
      // 3 unrolled rounds of bounded beam expansion (the q263
      // frontier shape): expand the beam along graph edges, score, keep
      // the top-W. EVAL: recall@3 of the q41 probe set vs the exact
      // brute top-3, at beam widths 4 and 16 — wider beams explore a
      // superset of candidates, so recall is expected monotone (the
      // spec asserts it; the oracle pins the exact trajectories).
      //
      // Shape, and why it scales: bucketing bounds candidate generation
      // (cap × bands per vector); raw floats never ride the band
      // shuffle (ids join vectors back per side); build joins are keyed
      // equi-joins; the serve path touches |beam|·deg vectors per round
      // — independent of corpus size, the property that makes graph ANN
      // the serve-time winner. The corpus-sized graph is memoized to
      // scratch parquet; per-round beams are model-sized and PINNED as
      // LocalRelations (Shared.pinModelSized) so the round unrolling
      // never re-executes the build per consumer.
      (s, d) => Shared.withCheckpointDir(s) {
        val Rounds = 3
        val c = corpusVecs(s, d)
        val q = probeVecs(s, d)
        val graph = knnGraphMemoized(s, d) // scratch-backed, shared 3 ways
        // serve-side scoring: corpus scan streams past the broadcast
        // beam-id list (see beamScore) — no corpus broadcast, no shuffle
        def scoreOf(pairs: DataFrame): DataFrame = beamScore(s, d, pairs)
        def top(df: DataFrame, w: Int): DataFrame =
          df.withColumn("rk", row_number().over(Window.partitionBy("qid")
              .orderBy(col("cos").desc, col("cid").asc)))
            .filter(col("rk") <= w).select("qid", "cid", "cos")
        // entry points: LSH ROUTING — each query probes its own band
        // buckets (the q42 signature family, query side) and seeds the
        // beam with their members; the graph's 4 max-degree hubs (DATA-
        // derived, entryPoints) stay as a fallback for queries whose
        // buckets are empty (connectivity floor)
        val qkeys = probeBandKeys(s, d)
        val seedPairs = qkeys
          .join(bandedCorpusKeys(s, d), Seq("band", "bk"))
          .select("qid", "cid")
          .unionAll(q.select("qid")
            .crossJoin(broadcast(entryPoints(graph)))) // 4-row hub panel
          .distinct()
        // probe-bucket-sized (≤ probes × (bands·cap + hubs)); consumed by
        // both widths — pinned as a LocalRelation (one job) instead of a
        // reliable checkpoint (two jobs + disk): same lineage truncation,
        // and the serve path's beam broadcasts become free (the rows are
        // already local). See Shared.pinModelSized.
        val seedPinned = Shared.pinModelSized(seedPairs)
        def beamSearch(w: Int): DataFrame = {
          var beam = Shared.pinModelSized(top(scoreOf(seedPinned), w))
          for (_ <- 1 to Rounds) {
            // no frontier distinct + one shared qid exchange (r17) —
            // the beamRound discipline: the groupBy max dedups scored
            // rows exactly, so rows are unchanged with one fewer
            // exchange+aggregation job per round
            val exp = beam.select(col("qid"), col("cid").as("src"))
              .join(graph, "src")
              .select(col("qid"), col("dst").as("cid"))
            beam = Shared.pinModelSized(top(
              beam.unionAll(scoreOf(exp))
                .repartition(col("qid"))
                .groupBy("qid", "cid").agg(max(col("cos")).as("cos")),
              w)) // ≤ 5·w rows; bounds plan depth per round
          }
          top(beam, 3).select("qid", "cid")
        }
        // exact brute top-3 denominator from the shared `brutetop3` memo
        // (identical computation; recallRow(4) and recallRow(16) both
        // consume it, so the inline form re-ran the probe×corpus cross
        // join once per width — the lineage-bifurcation rule)
        val brute = R13Queries.bruteTop3(s, d)
        def recallRow(w: Int): DataFrame =
          beamSearch(w).join(brute, Seq("qid", "cid"), "left_semi")
            .agg(count(lit(1)).as("n_hits"))
            .select(lit(w.toLong).as("beam_w"), col("n_hits"),
              lit(15L).as("n_possible"))
        recallRow(4).unionAll(recallRow(16))
      },
      Some(Shared.materializeCtes(s"""WITH $SQL_KNN_GRAPH_CTES,
              brute AS (SELECT qid, cid FROM (
                  SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
                    ORDER BY ${SQL_COS("qv", "cv")} DESC, c.cid) AS rk
                  FROM q CROSS JOIN c)
                WHERE rk <= 3),
              $SQL_QSEEDS_CTES,
              ${sqlBeam(4, 3)},
              ${sqlBeam(16, 3)}
              SELECT CAST(4 AS BIGINT) AS beam_w,
                CAST((SELECT n FROM hit4) AS BIGINT) AS n_hits,
                CAST(15 AS BIGINT) AS n_possible
              UNION ALL SELECT 16, (SELECT n FROM hit16), 15"""))
    ),

    // ── MJPEG DECODE → features (transform-domain lossy VIDEO) ────────────
    QueryDef(
      "q441_mjpeg_decode",
      // q179's decode audit for the MJPEG-in-AVI composition: every
      // video is nf = id%3+2 grayscale 32×32 baseline-JPEG frames in
      // '00dc' chunks; the query walks the REAL container, decodes every
      // frame through the FULL baseline pipeline (marker parse, DHT/DQT,
      // Huffman, dequant, IDCT), and emits frame count, dims, and the
      // exact sum of every decoded byte. Frames are block-constant in
      // the exact-recovery regime (flat quant → DC-only → bit-exact), so
      // the oracle recomputes every byte closed-form: any defect in the
      // container walk OR any JPEG layer breaks the hash.
      //
      // Shape, and why it scales: per-row byte decode, zero shuffle —
      // the q140/q179 scan shape.
      (s, d) => {
        val m = Multimodal.mjpegMediaKeyed(Tables.documents(s, d),
          Long.MaxValue) // key = doc_id: per-doc content, the q179 regime
        Multimodal.mjpegPixelStats(m).toDF()
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
                CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
                CAST(sum(v) * 64 AS BIGINT) AS sum_px
              FROM fb GROUP BY 1, 2""")
    ),

    // ── MJPEG video dedup (per-frame aHash chain over JPEG frames) ────────
    QueryDef(
      "q442_mjpeg_vhash_dedup",
      // q177's video dedup re-run over the ENTROPY-CODED video format:
      // deliberate dups (content keyed doc_id mod 97, bytes through the
      // REAL JPEG encoder per frame + REAL AVI container), fingerprint =
      // ordered chain of per-frame aHashes over MJPEG-DECODED pixels
      // (division-free mean test, frames joined '|'), one hash
      // aggregation groups dups. Block-constant frames in the
      // exact-recovery regime: the oracle recomputes every BIT
      // closed-form from the block formula — container framing, Huffman
      // tables, DC prediction, IDCT all load-bearing under the match.
      //
      // Shape, and why it scales: decode + hash is a zero-shuffle
      // per-row scan; dedup is ONE hash aggregation on the fingerprint.
      (s, d) => {
        val m = Multimodal.mjpegMediaKeyed(Tables.documents(s, d), 97L)
        Multimodal.mjpegVHashes(m).toDF()
          .groupBy("vhash")
          .agg(count(lit(1)).as("n_copies"),
            min(col("media_id")).as("canonical_id"))
          .filter(col("n_copies") >= 2)
      },
      Some(s"""WITH g AS (SELECT doc_id % 97 AS ck, doc_id AS mid
                FROM documents),
              dims AS (SELECT ck, mid, ck % 3 + 2 AS nf FROM g),
              fb AS (SELECT ck, mid, CAST(f AS BIGINT) AS f,
                  CAST(b AS BIGINT) AS b,
                  ((ck + 3) * (CAST(f AS BIGINT)*17
                    + CAST(b AS BIGINT)*CAST(b AS BIGINT) + 1) * 7) % 256 AS v
                FROM dims, unnest(range(CAST(nf AS BIGINT))) t(f),
                  unnest(range(16)) u(b)),
              ft AS (SELECT ck, mid, f, sum(v) AS sv
                FROM fb GROUP BY 1, 2, 3),
              fbits AS (SELECT fb.ck, fb.mid, fb.f,
                  string_agg(CASE WHEN fb.v * 16 >= ft.sv
                    THEN '1' ELSE '0' END, '' ORDER BY fb.b) AS bs
                FROM fb JOIN ft ON fb.ck = ft.ck AND fb.mid = ft.mid
                  AND fb.f = ft.f
                GROUP BY 1, 2, 3),
              fstr AS (SELECT ck, mid, f, ${(0 until 4).map { br =>
                "repeat(" + (0 until 4).map(bc =>
                  s"repeat(substring(bs, ${br * 4 + bc + 1}, 1), 8)")
                  .mkString(" || ") + ", 8)" }.mkString("\n                  || ")} AS fs
                FROM fbits),
              vh AS (SELECT ck, mid, string_agg(fs, '|' ORDER BY f) AS vhash
                FROM fstr GROUP BY 1, 2)
              SELECT vhash, count(*) AS n_copies, min(mid) AS canonical_id
              FROM vh GROUP BY vhash HAVING count(*) >= 2""")
    )
  )
}
