package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import R12Queries.{SQL_COS, SQL_ENTRIES_CTE, SQL_KNN_GRAPH_CTES, SQL_QSEEDS_CTES}

/** Round-13 batch 1: the hierarchical (HNSW-style) layer over the q439
  * k-NN graph plus the serve-side maintenance op production graph-ANN
  * needs next (tombstoned deletions), and the embedding-table QA screen
  * a training pipeline runs before any of it.
  *
  * Determinism: library-wide rules — cosine via the pinned sequential
  * dot/norm folds, every top-k window carrying a unique cid tie-break,
  * exact integer counts, micro-floored norms with expression text shared
  * verbatim with the oracle.
  */
object R13Queries {

  /** per-query top-w of a (qid, cid, cos) frame, cid tie-break */
  private[operators] def top(df: DataFrame, w: Int): DataFrame =
    df.withColumn("rk", row_number().over(Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("cid").asc)))
      .filter(col("rk") <= w).select("qid", "cid", "cos")

  /** one beam round over an edge table: expand along edges, score the
    * frontier exactly (beamScore — corpus streams past the broadcast
    * frontier), keep the per-query top-w of beam ∪ frontier
    */
  private[operators] def beamRound(s: SparkSession, d: String, beam: DataFrame,
      edges: DataFrame, w: Int): DataFrame = {
    // no distinct on the frontier (r17): the pair list only routes the
    // broadcast-probe join, and the groupBy(qid, cid) max below already
    // dedups scored rows exactly — a duplicated (qid, cid) pair scores
    // the identical cos twice and collapses, so the rows are unchanged
    // while the frontier's exchange+aggregation job disappears (beam·deg
    // is model-sized; the dup factor is the edge multiplicity, bounded)
    val frontier = beam.select(col("qid"), col("cid").as("src"))
      .join(edges, "src")
      .select(col("qid"), col("dst").as("cid"))
    // ≤ probes·w rows: pinned as a LocalRelation (one job) instead of a
    // reliable checkpoint (two jobs + a disk round trip per round) —
    // bounds plan depth per round identically; see Shared.pinModelSized.
    // ONE qid exchange serves both the dedup aggregation and the top-w
    // window (HashPartitioning(qid) clusters (qid, cid) too).
    Shared.pinModelSized(
      top(beam.unionAll(R12Queries.beamScore(s, d, frontier))
        .repartition(col("qid"))
        .groupBy("qid", "cid").agg(max(col("cos")).as("cos")), w))
  }

  /** the SQL mirror of [[beamRound]] over edge CTE `e` */
  private[operators] def sqlBeamRound(prev: String, cur: String, e: String,
      w: Int): String =
    s"""$cur AS (SELECT qid, cid, cos FROM (
          SELECT qid, cid, cos,
            row_number() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid) AS rk
          FROM (SELECT qid, cid, max(cos) AS cos FROM (
              SELECT qid, cid, cos FROM $prev
              UNION ALL
              SELECT ex.qid, ex.cid, ${SQL_COS("q.qv", "c.cv")} AS cos
              FROM (SELECT DISTINCT b.qid, g.dst AS cid
                    FROM $prev b JOIN $e g ON b.cid = g.src) ex
                JOIN q ON ex.qid = q.qid JOIN c ON ex.cid = c.cid)
            GROUP BY 1, 2))
        WHERE rk <= $w)"""

  /** upper-layer size: a fixed-cardinality routing tier (production HNSW
    * keeps layer sizes geometric; a FIXED top-K by degree keeps the tier
    * model-sized by construction at any corpus scale — TakeOrdered, never
    * a global window)
    */
  private[operators] final val UpperK = 64

  /** Upper-tier descent, memoized to scratch: q462 and q476 run the
    * IDENTICAL upper pass (top-64 tier by (degree DESC, id), hub-seeded
    * W=4 beam × 2 rounds, per-query top-2 entry), so whichever runs
    * first pays one build (attributed in the bench memo ledger as
    * `hnswupper`) and the other reads three tier/probe-bounded parquets
    * (nodes, edges, entry beam — all model-sized by construction).
    */
  private[operators] def hnswUpper(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val root = Shared.memo("hnswupper", d) { r =>
      val graph = R12Queries.knnGraphMemoized(s, d)
      val q = R12Queries.probeVecs(s, d)
      val degt = graph.groupBy("src").agg(count(lit(1)).as("dg"))
      val upperNodes = Shared.pinModelSized(degt
        .orderBy(col("dg").desc, col("src").asc).limit(UpperK)
        .select(col("src").as("n"))) // UpperK rows — see pinModelSized
      val upperEdges = graph
        .join(broadcast(upperNodes.select(col("n").as("src"))),
          Seq("src"), "left_semi")
        .join(broadcast(upperNodes.select(col("n").as("dst"))),
          Seq("dst"), "left_semi")
        .select("src", "dst") // ≤ UpperK·KnnM rows — see pinModelSized
      val upperEdgesP = Shared.pinModelSized(upperEdges)
      val seed0 = q.select("qid")
        .crossJoin(broadcast(R12Queries.entryPoints(graph)))
      var ub = Shared.pinModelSized(
        top(R12Queries.beamScore(s, d, seed0), 4))
      for (_ <- 1 to 2) ub = beamRound(s, d, ub, upperEdgesP, 4)
      upperNodes.write.mode("overwrite").parquet(s"$r/nodes")
      upperEdgesP.write.mode("overwrite").parquet(s"$r/edges")
      top(ub, 2).write.mode("overwrite").parquet(s"$r/ent")
      r
    }
    (s.read.parquet(s"$root/nodes"), s.read.parquet(s"$root/edges"),
      s.read.parquet(s"$root/ent"))
  }

  /** exact brute-force cosine top-3 eval table (probe-grain, 15 rows),
    * memoized beside [[hnswUpper]] — the recall denominator both HNSW
    * queries compare against
    */
  private[operators] def bruteTop3(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("brutetop3", d) { r =>
      // ‖v‖ once per row on each side (r17): cos = dot/(qn·cn) on the
      // identical doubles — per-pair cost drops from 3 folds to 1
      val q = R12Queries.probeVecs(s, d).select(col("qid"), col("qv"),
        graft.functions.vec.norm(col("qv")).as("qn"))
      val cn = R12Queries.corpusVecs(s, d).select(col("cid"), col("cv"),
        graft.functions.vec.norm(col("cv")).as("cnv"))
      top(broadcast(q).crossJoin(cn)
          .select(col("qid"), col("cid"),
            (graft.functions.vec.dot(col("qv"), col("cv")) /
              (col("qn") * col("cnv"))).as("cos")), 3)
        .select("qid", "cid")
        .write.mode("overwrite").parquet(r)
      r
    })

  /** exact brute-force cosine top-3 over the LIVE (non-tombstoned)
    * corpus — the recall denominator the q499/q503 repair-vs-rebuild
    * pair shares, memoized beside [[bruteTop3]] (tag `brutelive`)
    */
  private[operators] def bruteLiveTop3(s: SparkSession, d: String)
      : DataFrame =
    s.read.parquet(Shared.memo("brutelive", d) { r =>
      // ‖v‖ once per row on each side (r17) — see bruteTop3
      val q = R12Queries.probeVecs(s, d).select(col("qid"), col("qv"),
        graft.functions.vec.norm(col("qv")).as("qn"))
      val cn = R12Queries.corpusVecs(s, d).filter(col("cid") % 7 =!= 0)
        .select(col("cid"), col("cv"),
          graft.functions.vec.norm(col("cv")).as("cnv"))
      top(broadcast(q).crossJoin(cn)
          .select(col("qid"), col("cid"),
            (graft.functions.vec.dot(col("qv"), col("cv")) /
              (col("qn") * col("cnv"))).as("cos")), 3)
        .select("qid", "cid")
        .write.mode("overwrite").parquet(r)
      r
    })

  /** the tombstone-era serve beam (q463's exact path: LSH + hub seeds,
    * W=8 × 2 rounds traversing THROUGH tombstones), memoized (tag
    * `tombbeam`) because it is both q463's serve output and q499's
    * comparison leg: whichever runs first pays the beam rounds, the
    * other reads a probe×W-bounded parquet ([[Shared.memo]])
    */
  private[operators] def tombstoneBeam(s: SparkSession, d: String)
      : DataFrame =
    s.read.parquet(Shared.memo("tombbeam", d) { r =>
      Shared.withCheckpointDir(s) {
        val graph = R12Queries.knnGraphMemoized(s, d)
        val q = R12Queries.probeVecs(s, d)
        val seedPairs = R12Queries.probeBandKeys(s, d)
          .join(R12Queries.bandedCorpusKeys(s, d), Seq("band", "bk"))
          .select("qid", "cid")
          .unionAll(q.select("qid")
            .crossJoin(broadcast(R12Queries.entryPoints(graph))))
          .distinct()
        var beam = Shared.pinModelSized(
          top(R12Queries.beamScore(s, d, seedPairs), 8))
        for (_ <- 1 to 2) beam = beamRound(s, d, beam, graph, 8)
        beam.write.mode("overwrite").parquet(r)
      }
      r
    })

  val all: Seq[QueryDef] = Seq(

    // ── HNSW-STYLE TWO-LAYER SEARCH over the kNN graph ────────────────────
    QueryDef(
      "q462_hnsw_two_layer",
      // The hierarchical upgrade of q439 (r12 verdict task 8 — Malkov &
      // Yashunin's layering, two layers): the UPPER layer is the graph's
      // top-64 nodes by degree (ties to min id — the same deterministic
      // hub rule as the entry points, which are its top-4 by
      // construction), with the graph's edges restricted to both ends
      // upper. SEARCH descends: beam W=4 for 2 rounds on the upper layer
      // from the 4 global hubs, each query's top-2 upper hits become its
      // BASE-layer entry points, then beam W=8 for 2 rounds on the full
      // graph. EVAL: recall@3 vs the exact brute top-3 (15 possible),
      // next to the layer's size/edge stats. The upper pass replaces
      // q439's corpus-wide LSH routing with O(|upper|) hops — the
      // navigate-coarse-then-refine economics that make HNSW the serve
      // winner.
      //
      // Shape, and why it scales: the upper tier is FIXED-size (top-64
      // by degree via TakeOrdered — never a global window); upper edges
      // are two broadcast semi-joins of the 64-row tier against the
      // edge list; every beam is probe×W-bounded and scored by
      // streaming the corpus past a broadcast frontier (beamScore — no
      // corpus shuffle, no corpus broadcast); per-round checkpoints
      // bound lineage. Per-hop serve cost is degree-bounded,
      // independent of corpus size.
      (s, d) => Shared.withCheckpointDir(s) {
        val graph = R12Queries.knnGraphMemoized(s, d)
        // upper tier + hub-seeded descent from the shared memo (built
        // once, read by q462 and q476)
        val (upperNodes, upperEdges, ent) = hnswUpper(s, d)
        val nUp = upperNodes.count()
        val nUpE = upperEdges.count()
        // base refine: enter at each query's top-2 upper hits
        var bb = Shared.pinModelSized(ent) // probes×2 rows
        for (_ <- 1 to 2) bb = beamRound(s, d, bb, graph, 8)
        val ans = top(bb, 3).select("qid", "cid")
        val nHits = ans.join(bruteTop3(s, d), Seq("qid", "cid"), "left_semi")
          .count()
        import s.implicits._
        Seq((nUp, nUpE, nHits, 15L))
          .toDF("n_upper_nodes", "n_upper_edges", "n_hits", "n_possible")
      },
      Some(Shared.materializeCtes(s"""WITH $SQL_KNN_GRAPH_CTES,
              $SQL_ENTRIES_CTE,
              degt AS (SELECT src, count(*) AS dg FROM graph GROUP BY src),
              upper_nodes AS (SELECT src AS n FROM (
                  SELECT src, dg FROM degt
                  ORDER BY dg DESC, src LIMIT $UpperK)),
              upper_edges AS (SELECT g.src, g.dst FROM graph g
                JOIN upper_nodes a ON g.src = a.n
                JOIN upper_nodes b ON g.dst = b.n),
              u0 AS (SELECT qid, cid, cos FROM (
                  SELECT qid, cid, cos, row_number() OVER (
                    PARTITION BY qid ORDER BY cos DESC, cid) AS rk
                  FROM (SELECT q.qid, e.cid,
                      ${SQL_COS("q.qv", "c.cv")} AS cos
                    FROM q CROSS JOIN entries e JOIN c ON e.cid = c.cid))
                WHERE rk <= 4),
              ${sqlBeamRound("u0", "u1", "upper_edges", 4)},
              ${sqlBeamRound("u1", "u2", "upper_edges", 4)},
              b0 AS (SELECT qid, cid, cos FROM (
                  SELECT qid, cid, cos, row_number() OVER (
                    PARTITION BY qid ORDER BY cos DESC, cid) AS rk
                  FROM u2) WHERE rk <= 2),
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
                CAST((SELECT count(*) FROM upper_nodes) AS BIGINT)
                  AS n_upper_nodes,
                CAST((SELECT count(*) FROM upper_edges) AS BIGINT)
                  AS n_upper_edges,
                CAST((SELECT count(*) FROM ans JOIN brute USING (qid, cid))
                  AS BIGINT) AS n_hits,
                CAST(15 AS BIGINT) AS n_possible"""))
    ),

    // ── TOMBSTONED SERVE (deletions without rebuild) ──────────────────────
    QueryDef(
      "q463_ann_tombstone_serve",
      // Deletion is the maintenance op graph indexes handle WITHOUT a
      // rebuild: deleted vectors stay in the graph as TOMBSTONES the
      // walk may traverse (removing them would sever paths) but must
      // never emit. Tombstone set = cid % 7 = 0 (a deterministic ~14%
      // churn). Serve = q439's exact seed discipline (LSH routing + hub
      // fallback), beam W=8 for 2 rounds traversing THROUGH tombstones,
      // then the emit re-rank filters them: per query the live top-3
      // (qid, rk, cid) plus how many tombstones the final beam touched
      // — the number that tells an operator when accumulated churn
      // justifies the rebuild.
      //
      // Shape, and why it scales: identical to q439's serve path (seed
      // routing keyed, frontier scoring via broadcast-frontier
      // beamScore, per-round checkpoints); the tombstone test is a
      // row-local predicate at emit. Output is probe-grain.
      (s, d) => {
        // serve beam from the shared memo (built once, read by q463 and
        // q499's tombstone-filtered comparison leg)
        val beam = tombstoneBeam(s, d)
        val dead = beam.filter(col("cid") % 7 === 0)
          .groupBy("qid").agg(count(lit(1)).as("n_dead_in_beam"))
        val ans = beam.filter(col("cid") % 7 =!= 0)
          .withColumn("rk", row_number().over(Window.partitionBy("qid")
            .orderBy(col("cos").desc, col("cid").asc)))
          .filter(col("rk") <= 3)
        ans.join(dead, Seq("qid"), "left")
          .select(col("qid"), col("rk").cast("long").as("rk"), col("cid"),
            coalesce(col("n_dead_in_beam"), lit(0L)).as("n_dead_in_beam"))
      },
      Some(Shared.materializeCtes(s"""WITH $SQL_KNN_GRAPH_CTES,
              $SQL_QSEEDS_CTES,
              b0 AS (SELECT qid, cid, cos FROM (
                  SELECT qid, cid, cos, row_number() OVER (
                    PARTITION BY qid ORDER BY cos DESC, cid) AS rk
                  FROM (SELECT s.qid, s.cid, ${SQL_COS("q.qv", "c.cv")} AS cos
                    FROM seeds s JOIN q ON s.qid = q.qid
                      JOIN c ON s.cid = c.cid))
                WHERE rk <= 8),
              ${sqlBeamRound("b0", "b1", "graph", 8)},
              ${sqlBeamRound("b1", "b2", "graph", 8)},
              dead AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_dead_in_beam
                FROM b2 WHERE cid % 7 = 0 GROUP BY 1),
              ans AS (SELECT qid, rk, cid FROM (
                  SELECT qid, cid, row_number() OVER (
                    PARTITION BY qid ORDER BY cos DESC, cid) AS rk
                  FROM b2 WHERE cid % 7 <> 0) WHERE rk <= 3)
              SELECT a.qid, CAST(a.rk AS BIGINT) AS rk, a.cid,
                coalesce(d.n_dead_in_beam, 0) AS n_dead_in_beam
              FROM ans a LEFT JOIN dead d ON a.qid = d.qid"""))
    ),

    // ── EMBEDDING-TABLE QA SCREEN ─────────────────────────────────────────
    QueryDef(
      "q464_embedding_qa",
      // The admission screen a training pipeline runs over every new
      // embedding shipment before it reaches dedup/ANN: dimension
      // conformance, non-finite elements (NaN/±Inf — the silent
      // similarity poison), zero-norm vectors (undefined cosine), the
      // norm envelope (micro-floored min/max), and exact duplicate
      // vectors at micro resolution (the re-embedding-drift signal:
      // duplicate VECTORS with distinct ids usually mean duplicated
      // inputs upstream). Non-finiteness is the shared row-local text
      // `isnan(x) OR x > 1e308 OR x < -1e308` — no engine-specific
      // isinf. One row out.
      //
      // Shape, and why it scales: one corpus pass computes the per-
      // vector signature and scalars; duplicate detection is one keyed
      // aggregation on the signature (hash-partitioned, never
      // all-pairs); the two 1-row aggregates cross-join at the end.
      (s, d) => {
        val e = Tables.embeddings(s, d).select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          graft.functions.vec.norm(col("embedding")).as("nrm"),
          exists(col("embedding"), x => {
            val xd = x.cast("double")
            isnan(xd) || xd > lit(1e308) || xd < lit(-1e308)
          }).as("bad"),
          concat_ws(",", transform(col("embedding"), x =>
            floor(lit(1e6) * x.cast("double")).cast("long").cast("string")))
            .as("sig"))
        val scalars = e.agg(
          count(lit(1)).as("n_vecs"),
          sum(when(col("dim") =!= 64, 1L).otherwise(0L)).as("n_dim_bad"),
          sum(when(col("bad"), 1L).otherwise(0L)).as("n_nonfinite"),
          sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
          min(floor(lit(1e6) * col("nrm")).cast("long")).as("min_norm_micro"),
          max(floor(lit(1e6) * col("nrm")).cast("long")).as("max_norm_micro"))
        val dups = e.groupBy("sig").agg(count(lit(1)).as("cnt"))
          .agg(sum(when(col("cnt") >= 2, 1L).otherwise(0L))
              .as("n_dup_groups"),
            sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L))
              .as("n_dup_vectors"))
        scalars.crossJoin(broadcast(dups))
          .select(col("n_vecs"), col("n_dim_bad"), col("n_nonfinite"),
            col("n_zero_norm"), col("min_norm_micro"), col("max_norm_micro"),
            col("n_dup_groups"), col("n_dup_vectors"))
      },
      Some(s"""WITH e AS (SELECT vec_id,
                len(embedding) AS dim,
                ${R12Queries.SQL_NORM("embedding")} AS nrm,
                len(list_filter(list_transform(embedding,
                  x -> CAST(x AS DOUBLE)),
                  x -> isnan(x) OR x > 1e308 OR x < -1e308)) > 0 AS bad,
                array_to_string(list_transform(embedding,
                  x -> CAST(floor(1e6 * CAST(x AS DOUBLE)) AS BIGINT)), ',')
                  AS sig
              FROM embeddings),
              scalars AS (SELECT
                CAST(count(*) AS BIGINT) AS n_vecs,
                CAST(sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dim_bad,
                CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_nonfinite,
                CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_zero_norm,
                CAST(min(floor(1e6 * nrm)) AS BIGINT) AS min_norm_micro,
                CAST(max(floor(1e6 * nrm)) AS BIGINT) AS max_norm_micro
              FROM e),
              dups AS (SELECT
                CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_groups,
                CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT)
                  AS n_dup_vectors
              FROM (SELECT sig, count(*) AS cnt FROM e GROUP BY 1))
              SELECT n_vecs, n_dim_bad, n_nonfinite, n_zero_norm,
                min_norm_micro, max_norm_micro, n_dup_groups, n_dup_vectors
              FROM scalars, dups""")
    ),

    // ── CURRICULUM PHASES (quality-ordered training schedule) ─────────────
    QueryDef(
      "q465_curriculum_phases",
      // Curriculum construction: schedule the cleanest text first.
      // Score = exact alpha-ratio ppm (alpha·10⁶ div len — the q33
      // quality signal in integer form); phases by fixed score bands
      // (≥ 825000 → phase 1 "clean warmup", ≥ 820000 → phase 2,
      // else → phase 3 "long tail"; bands sit at the measured corpus
      // quartiles so every phase carries real mass). Per phase: docs,
      // whitespace tokens, chars, and the exact mean score (sum div n)
      // — the numbers a data loader needs to size each stage.
      //
      // Shape, and why it scales: one documents pass to the 3-row
      // phase grain; score and phase are row-local integer arithmetic.
      (s, d) =>
        Tables.documents(s, d)
          .select(col("n_chars"),
            size(Shared.tokens(col("text"))).cast("long").as("ntok"),
            expr("""length(regexp_replace(text, '[^a-zA-Z]', ''))
              * 1000000L div length(text)""").as("score_ppm"))
          .withColumn("phase",
            when(col("score_ppm") >= 825000L, 1L)
              .when(col("score_ppm") >= 820000L, 2L)
              .otherwise(3L))
          .groupBy("phase")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ntok")).as("n_tokens"),
            sum(col("n_chars")).as("n_chars"),
            expr("sum(score_ppm) div count(*)").as("mean_score_ppm"))
          .select("phase", "n_docs", "n_tokens", "n_chars",
            "mean_score_ppm"),
      Some(s"""WITH sc AS (SELECT n_chars,
                CAST(len(${Shared.SQL_TOKENS}) AS BIGINT) AS ntok,
                length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                  * 1000000 // length(text) AS score_ppm
              FROM documents)
              SELECT CAST(CASE WHEN score_ppm >= 825000 THEN 1
                          WHEN score_ppm >= 820000 THEN 2
                          ELSE 3 END AS BIGINT) AS phase,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(ntok) AS BIGINT) AS n_tokens,
                CAST(sum(n_chars) AS BIGINT) AS n_chars,
                CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_score_ppm
              FROM sc GROUP BY 1""")
    ),

    // ── TOKEN-LENGTH DISTRIBUTION DRIFT (χ² per source) ───────────────────
    QueryDef(
      "q466_doc_length_drift",
      // The shape-drift screen next to q448's mix-share KL: does each
      // source's DOCUMENT-LENGTH distribution match the corpus? Docs
      // bucket by token count (floor(ntok/8), capped at 16 — a bounded
      // grid); per source the Pearson χ² against the corpus-wide
      // expected share. Each χ² term is ONE pinned double expression
      // ((obs − bt·st/gt)² / (bt·st/gt)) micro-floored per (source,
      // bucket) cell — text shared verbatim with the oracle — then
      // summed exactly as integers (order-free).
      //
      // Shape, and why it scales: one documents pass to the
      // (source × ≤17 bucket) grain; bucket and source totals are
      // aggregations OF that grain (never a corpus re-scan); the
      // 1-row grand total broadcasts back onto the bounded grid.
      (s, d) => {
        val cell = Tables.documents(s, d)
          .select(col("source"),
            size(Shared.tokens(col("text"))).cast("long").as("ntok"))
          .select(col("source"),
            least(expr("ntok div 8L"), lit(16L)).as("bucket"))
          .groupBy("source", "bucket").agg(count(lit(1)).as("obs"))
        val bt = cell.groupBy("bucket").agg(sum(col("obs")).as("bt"))
        val st = cell.groupBy("source").agg(sum(col("obs")).as("st"))
        val gt = cell.agg(sum(col("obs")).as("gt"))
        cell.join(bt, "bucket").join(st, "source")
          .crossJoin(broadcast(gt))
          // every operand cast DOUBLE explicitly: a bare `1.0` literal is
          // DECIMAL in both SQL dialects and their decimal-division
          // rounding DIVERGES at floor boundaries (caught at sf0.001)
          .withColumn("term_micro", expr(
            """CAST(floor(1e6
              * (CAST(obs AS DOUBLE) - (CAST(bt AS DOUBLE) * CAST(st AS DOUBLE) / CAST(gt AS DOUBLE)))
              * (CAST(obs AS DOUBLE) - (CAST(bt AS DOUBLE) * CAST(st AS DOUBLE) / CAST(gt AS DOUBLE)))
              / (CAST(bt AS DOUBLE) * CAST(st AS DOUBLE) / CAST(gt AS DOUBLE))) AS BIGINT)"""))
          .groupBy("source")
          .agg(max(col("st")).as("n_docs"),
            count(lit(1)).as("n_buckets"),
            sum(col("term_micro")).as("chi2_micro"))
      },
      Some("""WITH cell AS (SELECT source,
                least(len(regexp_split_to_array(trim(text), '\s+')) // 8, 16)
                  AS bucket,
                CAST(count(*) AS BIGINT) AS obs
              FROM documents GROUP BY 1, 2),
              btt AS (SELECT bucket, CAST(sum(obs) AS BIGINT) AS bt
                FROM cell GROUP BY 1),
              stt AS (SELECT source, CAST(sum(obs) AS BIGINT) AS st
                FROM cell GROUP BY 1),
              gtt AS (SELECT CAST(sum(obs) AS BIGINT) AS gt FROM cell),
              terms AS (SELECT cell.source, stt.st,
                CAST(floor(1e6
                  * (CAST(obs AS DOUBLE) - (CAST(bt AS DOUBLE) * CAST(st AS DOUBLE) / CAST(gt AS DOUBLE)))
                  * (CAST(obs AS DOUBLE) - (CAST(bt AS DOUBLE) * CAST(st AS DOUBLE) / CAST(gt AS DOUBLE)))
                  / (CAST(bt AS DOUBLE) * CAST(st AS DOUBLE) / CAST(gt AS DOUBLE))) AS BIGINT) AS term_micro
              FROM cell JOIN btt ON cell.bucket = btt.bucket
                JOIN stt ON cell.source = stt.source
                CROSS JOIN gtt)
              SELECT source, CAST(max(st) AS BIGINT) AS n_docs,
                CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(sum(term_micro) AS BIGINT) AS chi2_micro
              FROM terms GROUP BY 1""")
    ),

    // ── WRITE-SHARD PLAN + BALANCE AUDIT ──────────────────────────────────
    QueryDef(
      "q467_write_shard_plan",
      // The layout decision every large writer makes before committing
      // 100 TB to disk: how many shards, and does the chosen key
      // balance? Shard count from a byte target (here 16 KiB of chars
      // per shard — the demo-scale stand-in for a production 256 MiB
      // target; the RULE is the operator, ceil(total/target) with a
      // floor of 1). Shard key = the seeded h32 of the doc id, mod n.
      // Output: the plan (total, n_shards) and its audit (max/min
      // shard payload, imbalance ppm = max·n·10⁶ div total — 1e6 means
      // perfectly balanced; the number that predicts straggler tasks).
      //
      // Shape, and why it scales: one documents pass to the shard
      // grain; the 1-row total broadcasts onto it (the q449 audit
      // pattern); everything exact integers.
      (s, d) => {
        val tot = Tables.documents(s, d)
          .agg(sum(col("n_chars")).as("total_chars"))
          .withColumn("n_shards",
            greatest(lit(1L), expr("(total_chars + 16383L) div 16384L")))
        val per = Tables.documents(s, d)
          .crossJoin(broadcast(tot))
          .select(col("total_chars"), col("n_shards"), col("n_chars"),
            pmod(Shared.h32(concat(lit("shard"),
              col("doc_id").cast("string"))), col("n_shards")).as("shard"))
          .groupBy("total_chars", "n_shards", "shard")
          .agg(sum(col("n_chars")).as("sc"))
        per.groupBy("total_chars", "n_shards")
          .agg(max(col("sc")).as("max_shard_chars"),
            min(col("sc")).as("min_shard_chars"))
          .select(col("total_chars"), col("n_shards"),
            col("max_shard_chars"), col("min_shard_chars"),
            expr("max_shard_chars * n_shards * 1000000L div total_chars")
              .as("imbalance_ppm"))
      },
      Some(s"""WITH tot AS (SELECT CAST(sum(n_chars) AS BIGINT)
                  AS total_chars,
                greatest(1, (CAST(sum(n_chars) AS BIGINT) + 16383) // 16384)
                  AS n_shards
              FROM documents),
              per AS (SELECT total_chars, n_shards,
                ${Shared.SQL_H32("'shard' || CAST(doc_id AS VARCHAR)")}
                  % n_shards AS shard,
                CAST(sum(n_chars) AS BIGINT) AS sc
              FROM documents, tot GROUP BY 1, 2, 3)
              SELECT total_chars, n_shards,
                CAST(max(sc) AS BIGINT) AS max_shard_chars,
                CAST(min(sc) AS BIGINT) AS min_shard_chars,
                CAST(max(sc) * n_shards * 1000000 // total_chars AS BIGINT)
                  AS imbalance_ppm
              FROM per GROUP BY 1, 2""")
    )
  )
}
