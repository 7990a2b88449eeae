package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import R12Queries.SQL_COS

/** Round-13 batch 8: the embedding-space DIAGNOSTICS leg over one shared
  * bounded self-kNN grain — label-noise estimation (confident-learning
  * style), hubness audit (the high-dimensional ANN pathology), and
  * semi-supervised label spreading — three consumers of a single
  * memoized 256-point leave-one-out neighbor table, the suite's
  * one-build-many-readers discipline (q212/q218's lesson) applied to
  * model diagnostics.
  *
  * The 256-point audit panel is the deliberate bounded-subset regime the
  * all-pairs dedup variants (q36/q43) established: the EXACT
  * leave-one-out kNN over a fixed panel is the spec; at corpus scale the
  * panel stays fixed (these are audits — you sample a panel, you don't
  * self-join 100 TB) or the candidate generator swaps to the routed
  * LSH/IVF paths (q38/q44) with the diagnostics unchanged.
  */
object R13hQueries {

  private final val K = 5
  // audit panel: 256 corpus points, disjoint from the q41/q468 probe ids
  private final val LO = 50L
  private final val HI = 306L
  // label-spreading seed boundary: panel ids below this keep their labels
  private final val SEED = 178L

  /** (aid, albl, rk, bid, blbl): each panel point's exact top-K
    * leave-one-out neighbors within the panel, ranked (cos DESC, id ASC).
    * Scratch-memoized per dataset — one 256×255 scoring pass serves all
    * three diagnostics below (and the bench ledger attributes the build
    * to its first payer).
    */
  private[graft] def subsetKnn(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("subsetknn", d) { r =>
      val sub = Tables.embeddings(s, d)
        .filter(col("vec_id") >= LO && col("vec_id") < HI)
        .select(col("vec_id").as("aid"), col("embedding").as("av"),
          col("label").cast("long").as("albl"))
      // panel × panel is model-sized by construction (the bounded-
      // subset regime documented above) — broadcast the right side
      sub.crossJoin(broadcast(sub.select(col("aid").as("bid"),
          col("av").as("bv"), col("albl").as("blbl"))))
        .filter(col("aid") =!= col("bid"))
        .withColumn("cos", R12Queries.cosCol(col("av"), col("bv")))
        .withColumn("rk", row_number().over(Window.partitionBy("aid")
          .orderBy(col("cos").desc, col("bid").asc)).cast("long"))
        .filter(col("rk") <= K)
        .select("aid", "albl", "rk", "bid", "blbl")
        .write.mode("overwrite").parquet(r)
      r
    })

  /** the oracle's mirror of [[subsetKnn]]: `sub` + `knn` CTE bodies */
  private[operators] val SQL_KNN_CTES: String =
    s"""sub AS (SELECT vec_id AS aid, embedding AS av,
          CAST(label AS BIGINT) AS albl
        FROM embeddings WHERE vec_id >= $LO AND vec_id < $HI),
      knn AS (SELECT aid, albl, rk, bid, blbl FROM (
          SELECT a.aid, a.albl, b.aid AS bid, b.albl AS blbl,
            CAST(row_number() OVER (PARTITION BY a.aid
              ORDER BY ${SQL_COS("a.av", "b.av")} DESC, b.aid)
              AS BIGINT) AS rk
          FROM sub a JOIN sub b ON a.aid != b.aid) WHERE rk <= $K)"""

  val all: Seq[QueryDef] = Seq(

    // ── LABEL-NOISE MATRIX (confident-learning style) ─────────────────────
    QueryDef(
      "q487_label_noise_matrix",
      // Northcutt et al.'s confident-learning estimate restated exactly:
      // every panel point gets a leave-one-out top-K vote from its
      // NEIGHBORS' labels; the (given label × voted label) contingency
      // matrix localizes systematic annotation noise (an off-diagonal
      // cell with many CONFIDENT rows — vote count ≥ K−1 — is a label
      // map error, not model noise). Output per populated cell: points,
      // confident points, and the cell's exact ppm share of its given-
      // label row — the table a relabeling campaign is scoped from.
      //
      // Shape, and why it scales: reads the memoized panel kNN grain
      // (one build, three consumers); everything here is ≤(labels²)-row
      // aggregation of that grain.
      (s, d) => {
        val knn = subsetKnn(s, d)
        val voted = knn.groupBy("aid", "albl", "blbl")
          .agg(count(lit(1)).as("nv"))
          .withColumn("vr", row_number().over(Window.partitionBy("aid")
            .orderBy(col("nv").desc, col("blbl").asc)))
          .filter(col("vr") === 1)
        val cells = voted.groupBy(col("albl").as("given_label"),
            col("blbl").as("pred_label"))
          .agg(count(lit(1)).as("n_points"),
            sum(when(col("nv") >= K - 1, 1L).otherwise(0L))
              .as("n_confident"))
        val rows = cells.groupBy("given_label")
          .agg(sum(col("n_points")).as("row_n"))
        cells.join(rows, "given_label")
          .select(col("given_label"), col("pred_label"), col("n_points"),
            col("n_confident"),
            expr("n_points * 1000000L div row_n").as("cell_ppm"))
      },
      Some(s"""WITH $SQL_KNN_CTES,
              votes AS (SELECT aid, albl, blbl,
                  CAST(count(*) AS BIGINT) AS nv
                FROM knn GROUP BY 1, 2, 3),
              voted AS (SELECT * FROM (SELECT *, row_number() OVER (
                  PARTITION BY aid ORDER BY nv DESC, blbl) AS vr
                FROM votes) WHERE vr = 1),
              cells AS (SELECT albl AS given_label, blbl AS pred_label,
                  CAST(count(*) AS BIGINT) AS n_points,
                  CAST(sum(CASE WHEN nv >= ${K - 1} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_confident
                FROM voted GROUP BY 1, 2),
              rows_ AS (SELECT given_label,
                  CAST(sum(n_points) AS BIGINT) AS row_n
                FROM cells GROUP BY 1)
              SELECT c.given_label, c.pred_label, c.n_points,
                c.n_confident, c.n_points * 1000000 // r.row_n AS cell_ppm
              FROM cells c JOIN rows_ r USING (given_label)""")
    ),

    // ── HUBNESS AUDIT (k-occurrence distribution) ─────────────────────────
    QueryDef(
      "q488_hubness_audit",
      // The high-dimensional pathology every ANN deployment eventually
      // meets (Radovanović et al.): a few points become HUBS that appear
      // in a disproportionate share of top-K lists while antihubs appear
      // in none, and recall audits silently skew. The k-occurrence of a
      // point = how many panel points include it in their top-K; the
      // distribution (one row per occurrence count, zero included) with
      // exact ppm shares and a cumulative-points ogive is the audit
      // sheet. A heavy right tail here says "fix the metric or the
      // index", before any recall number is trusted.
      //
      // Shape, and why it scales: one aggregation of the memoized kNN
      // grain, zero-filled by a left join from the panel spine; the
      // distribution grain is ≤K·panel rows.
      (s, d) => {
        val knn = subsetKnn(s, d)
        val spine = knn.select(col("aid")).distinct()
        val occ = spine.join(
            knn.groupBy(col("bid")).agg(count(lit(1)).as("o"))
              .withColumnRenamed("bid", "aid"),
            Seq("aid"), "left")
          .select(col("aid"), coalesce(col("o"), lit(0L)).as("occ"))
        val n = occ.agg(count(lit(1)).as("n_panel"))
        occ.groupBy("occ").agg(count(lit(1)).as("n_points"))
          .crossJoin(broadcast(n))
          .withColumn("share_ppm", expr("n_points * 1000000L div n_panel"))
          .withColumn("cum_points", sum(col("n_points")).over(
            Window.orderBy(col("occ").asc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select("occ", "n_points", "share_ppm", "cum_points")
      },
      Some(s"""WITH $SQL_KNN_CTES,
              occ AS (SELECT s.aid,
                  COALESCE(o.o, 0) AS occ
                FROM (SELECT DISTINCT aid FROM knn) s
                LEFT JOIN (SELECT bid AS aid,
                    CAST(count(*) AS BIGINT) AS o
                  FROM knn GROUP BY 1) o USING (aid)),
              n AS (SELECT CAST(count(*) AS BIGINT) AS n_panel FROM occ),
              dist AS (SELECT occ, CAST(count(*) AS BIGINT) AS n_points
                FROM occ GROUP BY 1)
              SELECT occ, n_points,
                n_points * 1000000 // n_panel AS share_ppm,
                CAST(sum(n_points) OVER (ORDER BY occ
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_points
              FROM dist CROSS JOIN n""")
    ),

    // ── SEMI-SUPERVISED LABEL SPREADING (2 synchronous rounds) ────────────
    QueryDef(
      "q489_label_spreading",
      // Zhu & Ghahramani's label propagation in its exact synchronous
      // form: panel ids below the seed boundary keep their labels; each
      // unlabeled point pulls the majority label of its top-3 LABELED
      // neighbors (votes DESC, label ASC — the suite's deterministic
      // tie-break), two synchronous rounds (round 2 sees round 1's
      // assignments, seeds never move). Output per panel point: true
      // label, assigned label (−1 if unreached), the phase that assigned
      // it (seed / round1 / round2 / unreached), and correctness against
      // the held-back truth — the transductive-accuracy sheet that says
      // whether neighborhood structure carries label information at all.
      //
      // Shape, and why it scales: two keyed joins of the memoized kNN
      // grain against a panel-sized label table — rounds are unrolled
      // exactly (the q462/q454 discipline: fixed-depth rounds an oracle
      // can mirror; the convergence-probe valve is the at-scale variant).
      (s, d) => {
        val knn = subsetKnn(s, d).filter(col("rk") <= 3)
        val panel = subsetKnn(s, d).select("aid", "albl").distinct()
        val l0 = panel.withColumn("lbl",
          when(col("aid") < SEED, col("albl")))
        def round(lbls: DataFrame): DataFrame = {
          val picked = knn
            .join(lbls.filter(col("lbl").isNotNull)
              .select(col("aid").as("bid"), col("lbl").as("nl")), "bid")
            .join(lbls.filter(col("lbl").isNull).select("aid"), "aid")
            .groupBy("aid", "nl").agg(count(lit(1)).as("c"))
            .withColumn("pr", row_number().over(Window.partitionBy("aid")
              .orderBy(col("c").desc, col("nl").asc)))
            .filter(col("pr") === 1).select(col("aid"), col("nl"))
          lbls.join(picked, Seq("aid"), "left")
            .select(col("aid"), col("albl"),
              coalesce(col("lbl"), col("nl")).as("lbl"),
              col("nl").isNotNull.as("fresh"))
        }
        val r1 = round(l0)
        val r2 = round(r1.drop("fresh"))
        r1.select(col("aid"), col("fresh").as("f1"))
          .join(r2, "aid")
          .select(col("aid"), col("albl").as("true_label"),
            coalesce(col("lbl"), lit(-1L)).as("assigned_label"),
            when(col("aid") < SEED, "seed")
              .when(col("f1"), "round1")
              .when(col("fresh"), "round2")
              .otherwise("unreached").as("phase"),
            (coalesce(col("lbl"), lit(-1L)) === col("albl"))
              .as("correct"))
      },
      Some(s"""WITH $SQL_KNN_CTES,
              k3 AS (SELECT * FROM knn WHERE rk <= 3),
              l0 AS (SELECT DISTINCT aid, albl,
                  CASE WHEN aid < $SEED THEN albl END AS lbl FROM knn),
              p1 AS (SELECT aid, nl FROM (SELECT aid, nl, row_number()
                    OVER (PARTITION BY aid ORDER BY c DESC, nl) AS pr
                  FROM (SELECT k3.aid, lb.lbl AS nl,
                      CAST(count(*) AS BIGINT) AS c
                    FROM k3
                    JOIN l0 lb ON k3.bid = lb.aid AND lb.lbl IS NOT NULL
                    JOIN l0 la ON k3.aid = la.aid AND la.lbl IS NULL
                    GROUP BY 1, 2)) WHERE pr = 1),
              l1 AS (SELECT l0.aid, l0.albl,
                  COALESCE(l0.lbl, p1.nl) AS lbl,
                  p1.nl IS NOT NULL AS f1
                FROM l0 LEFT JOIN p1 USING (aid)),
              p2 AS (SELECT aid, nl FROM (SELECT aid, nl, row_number()
                    OVER (PARTITION BY aid ORDER BY c DESC, nl) AS pr
                  FROM (SELECT k3.aid, lb.lbl AS nl,
                      CAST(count(*) AS BIGINT) AS c
                    FROM k3
                    JOIN l1 lb ON k3.bid = lb.aid AND lb.lbl IS NOT NULL
                    JOIN l1 la ON k3.aid = la.aid AND la.lbl IS NULL
                    GROUP BY 1, 2)) WHERE pr = 1),
              l2 AS (SELECT l1.aid, l1.albl,
                  COALESCE(l1.lbl, p2.nl) AS lbl, l1.f1,
                  p2.nl IS NOT NULL AS f2
                FROM l1 LEFT JOIN p2 USING (aid))
              SELECT aid, albl AS true_label,
                COALESCE(lbl, -1) AS assigned_label,
                CASE WHEN aid < $SEED THEN 'seed'
                  WHEN f1 THEN 'round1'
                  WHEN f2 THEN 'round2'
                  ELSE 'unreached' END AS phase,
                COALESCE(lbl, -1) = albl AS correct
              FROM l2""")
    )
  )
}
