package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond q73's connected components: PageRank
  * in EXACT FIXED-POINT arithmetic. Floating-point PageRank cannot be
  * oracle-checked across engines (summation order changes the doubles);
  * scaling ranks to integers (×10⁶) with truncating division makes every
  * iteration a pure BIGINT computation both engines evaluate identically —
  * and the fixed-point error (≤ outdeg ulps per node per round) is
  * irrelevant to the ranking use case.
  *
  * Scale posture: each iteration is one equi-join (contributions flow
  * src→dst) plus one hash aggregation — the standard distributed PageRank
  * shape. A fixed iteration count keeps the lineage bounded (3 rounds
  * here; a convergence-driven variant would add q73's reliable-checkpoint
  * loop discipline).
  */
object GraphQueries {

  /** rank scale: 1.0 ≡ 10⁶ (damping 0.85 becomes ×85 … div 100) */
  private val S = 1000000L

  /** Convergence-DRIVEN PageRank (the r7 verdict's task 8): the same
    * exact fixed-point iteration as q145, but terminated by a FIXPOINT
    * PROBE instead of a fixed unroll — because ranks are scaled BIGINTs,
    * "converged" is plain integer equality between consecutive
    * iterations, an exact distributed test (one keyed join + a
    * short-circuit limit(1) count — q73's connected-components
    * termination discipline, where the probe is also the reason the loop
    * can run an unknown number of rounds safely). Every iteration
    * RELIABLY checkpoints, so lineage stays one round deep no matter how
    * many rounds convergence takes, and a lost executor replays from
    * files, not from the full iteration history.
    *
    * `edges` must be directed with every node appearing as BOTH a src and
    * a dst (q145's bidirectional construction guarantees it) — dangling
    * mass is out of contract, exactly as in q145. Returns (ranks,
    * iterations, converged): iterations = rounds actually run; converged
    * = false only if `maxIters` was hit first (the safety valve — exact
    * integer iterates could in principle enter a limit cycle instead of
    * a fixed point, and a distributed loop must be bounded either way).
    */
  private[graft] def pageRankConverged(edges0: DataFrame,
      maxIters: Int = 50): (DataFrame, Int, Boolean) = {
    Shared.withCheckpointDir(edges0.sparkSession) {
      val edges = edges0.checkpoint()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
        .checkpoint()
      val n = deg.count()
      require(n > 0, "pageRankConverged: empty graph")
      val base = (15L * S) / (100L * n)
      var ranks = deg.select(col("src").as("node"), lit(S / n).as("r"))
        .checkpoint()
      var it = 0
      var converged = false
      while (!converged && it < maxIters) {
        val next = edges
          .join(deg, "src")
          .join(ranks, col("src") === col("node"))
          .select(col("dst"), expr("r div outdeg").as("c"))
          .groupBy("dst")
          .agg(sum(col("c")).as("cs"))
          .select(col("dst").as("node"),
            (lit(base) + expr("(85 * cs) div 100")).as("r"))
          .checkpoint()
        // exact termination probe: any node whose integer rank moved?
        // limit(1) short-circuits — the probe job stops at the first
        // changed row rather than counting them all
        val changed = next
          .join(ranks.withColumnRenamed("r", "r_prev"), "node")
          .filter(col("r") =!= col("r_prev"))
          .limit(1).count()
        converged = changed == 0L
        ranks = next
        it += 1
      }
      (ranks, it, converged)
    }
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q145_pagerank_fixedpoint",
      // Graph: the customer↔supplier bipartite trade graph (an edge per
      // distinct trading pair, directed both ways so every node has in-
      // and out-degree ≥ 1 — no dangling-mass handling needed). Node ids
      // disambiguate the two key spaces by parity.
      (s, d) => Shared.withCheckpointDir(s) {
        // loop-invariant tables are RELIABLY checkpointed once (the q73
        // discipline): without it the final action's lineage contains the
        // orders⋈lineitem-distinct subtree once per iteration per consumer
        // — measured 3× slower — and localCheckpoint would trade that for
        // executor-loss fragility
        val e0 = Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = e0.union(e0.select(col("dst").as("src"),
          col("src").as("dst"))).checkpoint()
        val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
          .checkpoint()
        // one count on a tiny aggregate → the scalar N (legitimate
        // driver-side scalar, same pattern as q73's convergence probe)
        val n = deg.count()
        // empty graph → empty ranking (never a division by zero)
        if (n == 0) {
          import org.apache.spark.sql.types.{LongType, StructField, StructType}
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("node", LongType),
              StructField("r", LongType))))
        } else {
          val base = (15L * S) / (100L * n)
          var ranks = deg.select(col("src").as("node"), lit(S / n).as("r"))
          for (_ <- 1 to 3) {
            val contribs = edges
              .join(deg, "src")
              .join(ranks, col("src") === col("node"))
              .select(col("dst"), expr("r div outdeg").as("c"))
              .groupBy("dst")
              .agg(sum(col("c")).as("cs"))
            ranks = contribs.select(col("dst").as("node"),
              (lit(base) + expr("(85 * cs) div 100")).as("r"))
          }
          ranks.orderBy(col("r").desc, col("node")).limit(20)
        }
      },
      Some(s"""WITH e0 AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
              edges AS (SELECT src, dst FROM e0
                        UNION ALL SELECT dst, src FROM e0),
              deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
              nn AS (SELECT count(*) AS n FROM deg),
              r0 AS (SELECT src AS node, CAST(1000000 // n AS BIGINT) AS r FROM deg, nn),
              r1 AS (SELECT e.dst AS node,
                       CAST((15 * 1000000) // (100 * (SELECT n FROM nn))
                         + (85 * sum(r0.r // d.outdeg)) // 100 AS BIGINT) AS r
                     FROM edges e
                     JOIN deg d ON d.src = e.src
                     JOIN r0 ON r0.node = e.src
                     GROUP BY 1),
              r2 AS (SELECT e.dst AS node,
                       CAST((15 * 1000000) // (100 * (SELECT n FROM nn))
                         + (85 * sum(r1.r // d.outdeg)) // 100 AS BIGINT) AS r
                     FROM edges e
                     JOIN deg d ON d.src = e.src
                     JOIN r1 ON r1.node = e.src
                     GROUP BY 1),
              r3 AS (SELECT e.dst AS node,
                       CAST((15 * 1000000) // (100 * (SELECT n FROM nn))
                         + (85 * sum(r2.r // d.outdeg)) // 100 AS BIGINT) AS r
                     FROM edges e
                     JOIN deg d ON d.src = e.src
                     JOIN r2 ON r2.node = e.src
                     GROUP BY 1)
              SELECT node, r FROM r3 ORDER BY r DESC, node LIMIT 20""")
    ),

    // ── one-pass column profiler (ops/data-quality tooling) ───────────────
    QueryDef(
      "q146_column_profile",
      // The warehouse "profile this table" primitive: per-column min/max/
      // distinct-count plus row count, computed in ONE scan (a single
      // aggregate projection, no per-column passes). Output is long form
      // (column, metric rows) so the shape survives schema evolution.
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val agg = li.agg(
          count(lit(1)).as("n_rows"),
          min("l_quantity").as("qty_min"), max("l_quantity").as("qty_max"),
          countDistinct("l_quantity").as("qty_nd"),
          min("l_discount").as("disc_min"), max("l_discount").as("disc_max"),
          countDistinct("l_discount").as("disc_nd"),
          min("l_returnflag").as("rf_min"), max("l_returnflag").as("rf_max"),
          countDistinct("l_returnflag").as("rf_nd"))
        agg.select(explode(array(
          struct(lit("l_quantity").as("column"),
            col("qty_min").cast("double").as("min_val"),
            col("qty_max").cast("double").as("max_val"),
            col("qty_nd").as("n_distinct"), col("n_rows")),
          struct(lit("l_discount").as("column"),
            col("disc_min").cast("double").as("min_val"),
            col("disc_max").cast("double").as("max_val"),
            col("disc_nd").as("n_distinct"), col("n_rows")),
          struct(lit("l_returnflag").as("column"),
            lit(null).cast("double").as("min_val"),
            lit(null).cast("double").as("max_val"),
            col("rf_nd").as("n_distinct"), col("n_rows"))
        )).as("p")).select("p.*")
      },
      Some("""WITH a AS (SELECT count(*) AS n_rows,
                min(l_quantity) AS qmin, max(l_quantity) AS qmax,
                count(DISTINCT l_quantity) AS qnd,
                min(l_discount) AS dmin, max(l_discount) AS dmax,
                count(DISTINCT l_discount) AS dnd,
                count(DISTINCT l_returnflag) AS rnd
              FROM lineitem)
              SELECT 'l_quantity' AS "column", CAST(qmin AS DOUBLE) AS min_val,
                CAST(qmax AS DOUBLE) AS max_val, qnd AS n_distinct, n_rows FROM a
              UNION ALL
              SELECT 'l_discount', CAST(dmin AS DOUBLE), CAST(dmax AS DOUBLE),
                dnd, n_rows FROM a
              UNION ALL
              SELECT 'l_returnflag', NULL, NULL, rnd, n_rows FROM a""")
    ),

    // ── TRIANGLE COUNTING (degree-ordered orientation) ────────────────────
    QueryDef(
      "q218_triangle_count",
      // The third classic distributed-graph statistic next to PageRank
      // (q145) and connected components (q73): triangles in the
      // part-co-purchase graph (parts sharing an order), the clustering
      // signal behind recommendation and community metrics. The naive
      // wedge join explodes on hubs; the published fix (Suri &
      // Vassilvitskii, WWW'11; Cohen's MapReduce curriculum) ORIENTS
      // every edge from its lower-(degree, id) endpoint to the higher
      // one — an acyclic tournament where each triangle appears exactly
      // once and every wedge is centered at its LOWEST-degree vertex,
      // bounding the join fan-out by sqrt-degeneracy instead of max
      // degree.
      //
      // Shape, and why it scales: per-order pairs are bounded by order
      // size (never corpus-quadratic); distinct-edge + degree are hash
      // aggregations; the wedge join and closing-edge probe are keyed
      // equi-joins on the oriented edge set, hinted SHUFFLED HASH — the
      // build sides are edge lists, not fact tables, and skipping both
      // sort passes is the point of the orientation's bounded fan-out.
      (s, d) => Shared.withCheckpointDir(s) {
        // the co-purchase edge set is the [[coPurchaseEdges]] scratch
        // memo (one basket aggregation + array-HOF pair explode — see
        // there; replaces the r9 fact×fact self-join, which was ~2/3 of
        // the 9.9 s cost), shared with q236's k-core and read as a small
        // parquet by every consumer below
        val e = coPurchaseEdges(s, d)
        val deg = coPurchaseDegrees(s, d) // shared node-grain memo
        // the oriented enumeration itself is the [[coPurchaseTriangles]]
        // scratch memo (the (deg, id) orientation + shuffled-hash wedge
        // and closing joins live in its build — see there), shared with
        // q363's transitivity and q454's truss peel; this consumer reads
        // a triangle-count-sized parquet
        val tri = coPurchaseTriangles(s, d)
        // graph-size scalars are tiny-aggregate counts (the q145/q209
        // driver-side scalar-probe pattern) — attaching them as literals
        // keeps the result single-pass with zero cartesian joins
        val nEdges = e.count()
        val nNodes = deg.count()
        tri.agg(count(lit(1)).as("n_triangles"))
          .select(lit(nNodes).as("n_nodes"), lit(nEdges).as("n_edges"),
            col("n_triangles"))
      },
      Some("""WITH e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                FROM lineitem x JOIN lineitem y
                  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
              deg AS (SELECT v, count(*) AS deg FROM
                  (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
                GROUP BY 1),
              ed AS (SELECT
                  CASE WHEN (da.deg, e.a) < (db.deg, e.b)
                    THEN e.a ELSE e.b END AS u,
                  CASE WHEN (da.deg, e.a) < (db.deg, e.b)
                    THEN e.b ELSE e.a END AS v,
                  CASE WHEN (da.deg, e.a) < (db.deg, e.b)
                    THEN db.deg ELSE da.deg END AS dv
                FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
              wedges AS (SELECT x.u, x.v AS w1, y.v AS w2
                FROM ed x JOIN ed y ON x.u = y.u
                WHERE (x.dv, x.v) < (y.dv, y.v)),
              tri AS (SELECT count(*) AS n_triangles
                FROM wedges JOIN ed c
                  ON wedges.w1 = c.u AND wedges.w2 = c.v)
              SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
                CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
                CAST(n_triangles AS BIGINT) AS n_triangles
              FROM tri""")
    ),

    // ── K-CORE DECOMPOSITION (iterative peel) ─────────────────────────────
    QueryDef(
      "q236_kcore",
      // The fourth classic distributed-graph statistic (PageRank q145,
      // components q73, triangles q218): the 3-core of the part
      // co-purchase graph — repeatedly peel vertices of degree < 3 until
      // none remain. Cores are the standard dense-subgraph screen
      // (community seeds, influence backbones, graph-cleaning before
      // embedding training). Fixed 3 peel rounds (the q145 unroll
      // discipline — the oracle unrolls identically; a fixpoint-probe
      // variant would follow pageRankConverged), reporting surviving
      // vertex/edge counts per round.
      //
      // Shape, and why it scales: each round is one degree aggregation
      // + two semi joins on the (shrinking) edge set, RELIABLY
      // checkpointed so lineage stays one round deep; the edge set is
      // the shared [[coPurchaseEdges]] scratch memo — zero lineitem
      // scans here at steady state. Per-round survivor counts are the
      // q145 scalar-probe pattern (model-sized driver actions).
      (s, d) => Shared.withCheckpointDir(s) {
        val K = 3
        var e = coPurchaseEdges(s, d)
        val rows = (1 to 3).map { r =>
          val keep = e.select(col("a").as("v"))
            .unionAll(e.select(col("b").as("v")))
            .groupBy("v").agg(count(lit(1)).as("dg"))
            .filter(col("dg") >= K).select("v")
          e = e.join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
            .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
            .select("a", "b").checkpoint()
          // ONE action per round: endpoints carry both stats — distinct
          // endpoints = vertices, half the exploded rows = edges
          val st = e.select(explode(array(col("a"), col("b"))).as("v"))
            .agg(countDistinct(col("v")).as("nv"),
              (count(lit(1)) / 2).cast("long").as("ne"))
            .head()
          (r.toLong, st.getLong(0), st.getLong(1))
        }
        import s.implicits._
        rows.toDF("round", "n_vertices", "n_edges")
      },
      Some("""WITH e0 AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                FROM lineitem x JOIN lineitem y
                  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
              k1 AS (SELECT v FROM (SELECT v, count(*) AS dg FROM
                  (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)
                  GROUP BY 1) WHERE dg >= 3),
              e1 AS (SELECT a, b FROM e0 WHERE a IN (SELECT v FROM k1)
                AND b IN (SELECT v FROM k1)),
              k2 AS (SELECT v FROM (SELECT v, count(*) AS dg FROM
                  (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1)
                  GROUP BY 1) WHERE dg >= 3),
              e2 AS (SELECT a, b FROM e1 WHERE a IN (SELECT v FROM k2)
                AND b IN (SELECT v FROM k2)),
              k3 AS (SELECT v FROM (SELECT v, count(*) AS dg FROM
                  (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2)
                  GROUP BY 1) WHERE dg >= 3),
              e3 AS (SELECT a, b FROM e2 WHERE a IN (SELECT v FROM k3)
                AND b IN (SELECT v FROM k3))
              SELECT CAST(1 AS BIGINT) AS round,
                (SELECT count(DISTINCT v) FROM
                  (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1))
                  AS n_vertices,
                (SELECT count(*) FROM e1) AS n_edges
              UNION ALL
              SELECT 2,
                (SELECT count(DISTINCT v) FROM
                  (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2)),
                (SELECT count(*) FROM e2)
              UNION ALL
              SELECT 3,
                (SELECT count(DISTINCT v) FROM
                  (SELECT a AS v FROM e3 UNION ALL SELECT b FROM e3)),
                (SELECT count(*) FROM e3)""")
    ),

    // ── BFS REACHABILITY PROFILE (layered frontier expansion) ─────────────
    QueryDef(
      "q263_bfs_reach",
      // The fifth classic distributed-graph statistic (PageRank q145,
      // components q73, triangles q218, k-core q236): breadth-first
      // hop distance from a seed vertex — the primitive under "degrees
      // of separation", influence radius, and graph-diameter probes.
      // Seed = the minimum part key in the co-purchase graph (a
      // deterministic choice both engines agree on); output = per hop
      // 0..4, the cumulative reached-set size and the newly-reached
      // count. The level-synchronous loop IS how Pregel/GraphX executes
      // BFS: each round is one keyed equi-join frontier→neighbors plus
      // a distinct, checkpointed so lineage stays flat.
      //
      // Shape, and why it scales: per-round cost is bounded by |edges|
      // (a keyed shuffle join, never a cartesian); the reached set only
      // grows and is vertex-bounded; hop count is a constant 4, so the
      // whole query is ≤ 4 bounded supersteps — the textbook BSP shape.
      (s, d) => Shared.withCheckpointDir(s) {
        val e = coPurchaseEdges(s, d)
        val ed = e.select(col("a").as("u"), col("b").as("v"))
          .unionAll(e.select(col("b").as("u"), col("a").as("v")))
          .checkpoint()
        val src = e.agg(min(col("a")).cast("long")).head.getLong(0)
        var cur = s.range(1).select(lit(src).as("v")).checkpoint()
        // counts(h+1) = |reached after h hops|; counts(0) is a 0 sentinel
        val counts = scala.collection.mutable.ArrayBuffer(0L, 1L)
        for (_ <- 1 to 4) {
          val nxt = cur.join(ed, cur("v") === ed("u"))
            .select(ed("v").cast("long").as("v"))
            .unionAll(cur.select(col("v")))
            .distinct()
            .checkpoint()
          counts += nxt.count()
          cur = nxt
        }
        val rows = (0 to 4).map(h =>
          (h.toLong, counts(h + 1),
            counts(h + 1) - (if (h == 0) 0L else counts(h))))
        import s.implicits._
        rows.toDF("dist", "n_reached", "n_new")
      },
      Some("""WITH e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                FROM lineitem x JOIN lineitem y
                  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
              ed AS (SELECT a AS u, b AS v FROM e
                UNION ALL SELECT b, a FROM e),
              r0 AS (SELECT CAST(min(a) AS BIGINT) AS v FROM e),
              r1 AS (SELECT DISTINCT v FROM (SELECT v FROM r0 UNION ALL
                SELECT CAST(ed.v AS BIGINT) FROM ed JOIN r0 ON ed.u = r0.v)),
              r2 AS (SELECT DISTINCT v FROM (SELECT v FROM r1 UNION ALL
                SELECT CAST(ed.v AS BIGINT) FROM ed JOIN r1 ON ed.u = r1.v)),
              r3 AS (SELECT DISTINCT v FROM (SELECT v FROM r2 UNION ALL
                SELECT CAST(ed.v AS BIGINT) FROM ed JOIN r2 ON ed.u = r2.v)),
              r4 AS (SELECT DISTINCT v FROM (SELECT v FROM r3 UNION ALL
                SELECT CAST(ed.v AS BIGINT) FROM ed JOIN r3 ON ed.u = r3.v)),
              c AS (SELECT
                  (SELECT count(*) FROM r0) AS c0,
                  (SELECT count(*) FROM r1) AS c1,
                  (SELECT count(*) FROM r2) AS c2,
                  (SELECT count(*) FROM r3) AS c3,
                  (SELECT count(*) FROM r4) AS c4)
              SELECT CAST(0 AS BIGINT) AS dist, CAST(c0 AS BIGINT) AS n_reached,
                CAST(c0 AS BIGINT) AS n_new FROM c
              UNION ALL SELECT 1, c1, c1 - c0 FROM c
              UNION ALL SELECT 2, c2, c2 - c1 FROM c
              UNION ALL SELECT 3, c3, c3 - c2 FROM c
              UNION ALL SELECT 4, c4, c4 - c3 FROM c""")
    )
  )

  /** Distinct co-purchase edges (a < b: parts sharing an order),
    * materialized ONCE per (process, dataset) to scratch parquet by
    * [[Shared.memo]], shared by q218 (triangles) and q236 (k-core).
    * Built from per-order sorted baskets (one collect_set aggregation;
    * map-side combine collapses duplicate (order, part) rows pre-shuffle;
    * basket width is order-size-bounded) + an array-HOF ordered-pair
    * explode inside codegen — one fact shuffle, zero joins, never the
    * fact×fact self-join (r9 verdict: that join was ~2/3 of q218's
    * cost).
    */
  private[graft] def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("copurchase", d) { r =>
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      li.groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .filter(size(col("ps")) >= 2)
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + lit(2), size(col("ps"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .distinct()
        .write.mode("overwrite").parquet(r)
      r
    })

  /** Symmetrized degree table (v, deg) of the co-purchase graph,
    * materialized ONCE per (process, dataset) beside [[coPurchaseEdges]]
    * ([[Shared.memo]]). Four of the suite's
    * heaviest rows re-derived this aggregation every run (q218
    * orientation, q363 wedge denominator + orientation, q364 edge-end
    * degrees; r11 verdict finding 2) — the memo makes it one build and a
    * node-grain parquet read per consumer.
    */
  private[graft] def coPurchaseDegrees(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("copurchdeg", d) { r =>
      val e = coPurchaseEdges(s, d)
      e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .write.mode("overwrite").parquet(r)
      r
    })

  /** Oriented triangle triples (u, w1, w2) of the co-purchase graph,
    * materialized ONCE per (process, dataset) beside [[coPurchaseEdges]]
    * ([[Shared.memo]]): the (deg, id)-oriented wedge + closing-edge
    * enumeration (Suri & Vassilvitskii — the q218 machinery) is the
    * expensive stage of THREE suite queries (q218 count, q363
    * transitivity, q454 truss round 1), and the triple table is
    * triangle-count-sized — far smaller than the wedge stream that
    * builds it.
    */
  private[graft] def coPurchaseTriangles(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("copurchtri", d) { r =>
      // the bloom prefilter below trades per-wedge probe CPU against
      // closing-exchange volume: on a CLUSTER the 411M-row network
      // shuffle dominates and the filter wins outright; in local mode
      // the exchange is memory-speed and the probe CPU measurably
      // LOSES (27.8 s vs 23.2 s at sf1) — so the switch follows the
      // deployment, and TriangleBloomSpec pins both paths to
      // identical triples
      triangleTriplesBuild(s, d, useBloom = !s.sparkContext.isLocal)
        .write.mode("overwrite").parquet(r)
      r
    })

  /** the copurchtri build plan — see [[coPurchaseTriangles]] for the
    * bloom-switch rationale
    */
  private[graft] def triangleTriplesBuild(s: SparkSession, d: String,
      useBloom: Boolean): DataFrame = {
    Shared.withCheckpointDir(s) {
          val e = coPurchaseEdges(s, d)
          val deg = coPurchaseDegrees(s, d)
          val edPlain = e
            .join(deg.select(col("v").as("a"), col("deg").as("dega")), "a")
            .join(deg.select(col("v").as("b"), col("deg").as("degb")), "b")
            .select(
              when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
                col("a")).otherwise(col("b")).as("u"),
              when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
                col("b")).otherwise(col("a")).as("v"),
              when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
                col("degb")).otherwise(col("dega")).as("dv"))
          // BUCKETED oriented-edge layout (r15, the write-once-shuffle-
          // never contract the q153 bucketed tables use): instead of
          // checkpointing `ed` and paying TWO exchanges to co-locate the
          // wedge self-join on u, write it once bucketBy(u) + sortBy(u)
          // — the wedge join then rides the bucketing metadata with ZERO
          // exchange and zero sort off the scan. Measured at sf1
          // (paired runs): 19.2→18.8, 18.6→14.8,
          // 21.8→17.9 s, and 17.6→12.3 s in the shipped one-file-per-
          // bucket form — the bucketed build wins every pair locally, and on a network-shuffle cluster the removed
          // exchanges are 2× the oriented-edge table's volume. The
          // sorted bucketed write costs about what the checkpoint write
          // did. Table data lives under the janitored scratch root; the
          // catalog entry is per (pid, dataset-md5), so concurrent
          // sessions and dataset regenerations never collide.
          // unique per INVOCATION (r15 ADVICE): the memo serializes the
          // q-path build, but specs call this builder directly — a
          // fixed per-(pid, dataset) name would let two in-process
          // invocations race on one catalog entry + data path, so the
          // write-once contract gets an atomic suffix
          val edRoot = Shared.scratchRoot(
            s"tried${triedInvocations.getAndIncrement()}", Shared.datasetKey(d))
          val edTbl = edRoot.getFileName.toString
            .replaceAll("[^A-Za-z0-9_]", "_")
          s.sql(s"DROP TABLE IF EXISTS $edTbl")
          val nBuckets = s.sparkContext.defaultParallelism
          // repartition on the bucket key FIRST: each write task then
          // holds exactly one bucket (same Murmur3 hash partitioning),
          // so every bucket is ONE file — required for the scan to
          // report the sortBy(u) ordering (multi-file buckets forfeit
          // it and the wedge SMJ would re-sort both sides)
          edPlain.repartition(nBuckets, col("u"))
            .write.mode("overwrite")
            .option("path", edRoot.toString)
            .bucketBy(nBuckets, "u").sortBy("u")
            .format("parquet")
            .saveAsTable(edTbl)
          val ed = s.table(edTbl)
          // The closing join's left side is the wedge stream — Σ outdeg²
          // rows (411M at sf1 against 12M oriented edges, 18.8M
          // triangles), and putting that stream through an exchange is
          // the build's dominant cost on a network-shuffle cluster. The
          // q164 bloom discipline prunes it BEFORE the exchange: one
          // aggregation folds the oriented-edge keys into a fixed-size
          // filter (bytes reach the driver, never rows), each wedge
          // probes it inside the join stage's codegen, and the
          // one-sided error only routes rows — false positives are
          // removed by the exact closing join, false negatives cannot
          // occur — so the triple table is identical while the closing
          // exchange carries ~19M survivors instead of 411M. ~12
          // bits/edge keeps the false-positive leak ≲1% of wedges.
          // (An alternative grouped-adjacency build — one degree attach
          // + sorted out-lists + in-array wedge pairs — was measured
          // SLOWER at sf1 (34.6 s vs 23.2 s): local shuffle is cheap
          // next to the per-element array/sort work, so the join-
          // generated wedge stream stays.)
          val probe: org.apache.spark.sql.Column =
            if (!useBloom) lit(true) else {
            val nE = math.max(e.count(), 1L)
            val bits = math.min(1L << 30, math.max(1L << 20, nE * 12))
            // Spark SILENTLY clamps BloomFilterAggregate to
            // spark.sql.optimizer.runtime.bloomFilter.maxNumBits (64M
            // default — 5.3 bits/edge here, a measured ~21% fpr that let
            // 106M of 411M wedges through at sf1). Raise it on a CLONED
            // session so the raised clamp is invisible to anything
            // planned concurrently on the caller's session (same
            // SparkContext, isolated SQL conf); `ed` is a materialized
            // bucketed table, so re-wrapping its RDD in the clone costs
            // one table scan, never a re-derivation.
            val s2 = s.newSession()
            s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
              math.max(bits, 67108864L).toString)
            // the SIBLING clamp: maxNumItems (4M default) silently caps
            // expectedItems=nE the same way maxNumBits caps the bit
            // budget — with 12M edges clamped to 4M items against the
            // raised bit budget, the hash count k is computed for the
            // wrong n (k≈25 instead of ~8) and the designed ~1% fpr
            // inflates even though the bits are right
            s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
              math.max(nE, 4000000L).toString)
            val bfRow = s2.createDataFrame(ed.rdd, ed.schema)
              .agg(graft.functions.bloom.filterAgg(
                xxhash64(col("u"), col("v")), nE, bits).as("bf")).head
            if (bfRow.isNullAt(0)) lit(false)
            else graft.functions.bloom.mightContain(
              xxhash64(col("w1"), col("w2")),
              lit(bfRow.getAs[Array[Byte]](0)))
          }
          val x = ed.select(col("u"), col("v").as("w1"), col("dv").as("d1"))
          val y = ed.select(col("u"), col("v").as("w2"), col("dv").as("d2"))
          // NO join hint: both sides scan the u-bucketed table, so the
          // sort-merge join plans with zero exchange and zero sort (a
          // shuffle_hash hint would force the exchanges back)
          x.join(y, "u")
            .filter(struct(col("d1"), col("w1")) < struct(col("d2"), col("w2")))
            .filter(probe)
            .join(ed.select(col("u").as("w1"), col("v").as("w2"))
              .hint("shuffle_hash"), Seq("w1", "w2"))
            .select("u", "w1", "w2")
    }
  }

  /** per-invocation suffix for the bucketed oriented-edge table — see
    * [[triangleTriplesBuild]]'s write-once rationale
    */
  private val triedInvocations =
    new java.util.concurrent.atomic.AtomicLong(0L)
}
