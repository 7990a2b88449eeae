package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-dim,
  * unit-normalized) — BASELINE.json north-star extensions, SURVEY.md §2.4.
  *
  * Numeric determinism: every reduction over vector elements is a sequential
  * left-to-right fold in DOUBLE (Spark `aggregate` HOF; DuckDB
  * `list_aggregate('sum')`), with float elements promoted exactly to double
  * before multiplication — identical IEEE operation order in both engines.
  *
  * Scale posture: the query side of every k-NN is small and broadcast; the
  * corpus side streams — no all-pairs joins. The LSH variant (q42) buckets
  * by random-hyperplane signs so candidate generation is an equi-join on
  * the signature, the 100 TB path.
  */
object SimilarityQueries {

  /** Embeddings scan, spread across cores: the corpus is a single small
    * parquet file (one input split) and every query here is compute-bound
    * on per-row vector math, so round-robin repartition before the codegen
    * stage; the shuffle moves only the raw vectors. At cluster scale input
    * splits are already abundant.
    */
  private def embeddings(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).repartition(s.sparkContext.defaultParallelism)

  /** elementwise-double view of a float vector column */
  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** sequential left-to-right sum fold — matches DuckDB list_aggregate sum */
  private def fsum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  // Native codegen'd fold (graft.functions.VectorDot) — identical IEEE
  // operation order to the HOF form, so oracle hashes are unchanged; the
  // HOF path (fsum/zip_with) remains in use where the element stream is
  // not a plain pairwise product (q42's hyperplane signatures).
  private def dot(a: Column, b: Column): Column = graft.functions.vec.dot(a, b)

  private def norm(a: Column): Column = graft.functions.vec.norm(a)

  // DuckDB mirrors
  private val SQL_DIM = 64
  private def SQL_DOT(a: String, b: String) =
    s"list_aggregate(list_transform(range(1, ${SQL_DIM + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')"
  private def SQL_NORM(a: String) =
    s"sqrt(list_aggregate(list_transform(range(1, ${SQL_DIM + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)), 'sum'))"

  /** IVF splits shared by q44/q151/q159 and the QueriesSpec re-rank proof:
    * queries = vec_id 8-12, corpus = vec_id >= 13, seed centroids =
    * vec_id < 8 (overridable with a learned codebook — q159). `rank`
    * scores a side against every (broadcast) centroid by dot product and
    * ranks the centroids per row.
    */
  private def ivfRank(s: SparkSession, d: String, lo: Long, hi: Long,
      idc: String, vc: String, cents: Option[DataFrame] = None): DataFrame = {
    val e = embeddings(s, d)
    val cent = cents.getOrElse(e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centv")))
    val w = Window.partitionBy(idc)
      .orderBy(col("__d").desc, col("cent_id").asc)
    e.filter(col("vec_id") >= lo && col("vec_id") <= hi)
      .select(col("vec_id").as(idc), col("embedding").as(vc))
      .crossJoin(broadcast(cent))
      .withColumn("__d", dot(col(vc), col("centv")))
      .withColumn("__rk", row_number().over(w))
  }

  /** corpus vectors in their argmax-dot bucket: (cent_id, cid, cv) */
  private[graft] def ivfCorpusAssign(s: SparkSession, d: String,
      cents: Option[DataFrame] = None): DataFrame =
    ivfRank(s, d, 13L, Long.MaxValue, "cid", "cv", cents)
      .filter(col("__rk") === 1).drop("__d", "__rk", "centv")

  /** each query's top `nprobe` buckets: (cent_id, qid, qv) */
  private[graft] def ivfQueryProbes(s: SparkSession, d: String,
      nprobe: Int, cents: Option[DataFrame] = None): DataFrame =
    ivfRank(s, d, 8L, 12L, "qid", "qv", cents)
      .filter(col("__rk") <= nprobe).drop("__d", "__rk", "centv")

  /** `iters` Lloyd mean-updates of the 8 seed centroids (vec_id < 8),
    * trained on the IVF corpus split only (queries stay unseen, the honest
    * ANN regime). One iteration = broadcast-argmax assignment (exactly
    * q76's E-step) + per-dimension mean via posexplode → hash aggregation
    * (q83's M-step reduction) re-packed into a vector with a
    * deterministic sort. Means use the rounded-decimal sum so both
    * engines compute bit-identical codebooks; clusters that lose all
    * members drop out (the group simply vanishes — both engines agree),
    * so the learned codebook may have < 8 entries.
    */
  private[graft] def lloydCentroids(s: SparkSession, d: String,
      iters: Int): DataFrame = {
    val corpus = embeddings(s, d).filter(col("vec_id") >= 13)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    var cent = embeddings(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), asDouble(col("embedding")).as("centv"))
    (0 until iters).foreach { _ =>
      val w = Window.partitionBy("cid")
        .orderBy(col("__d").desc, col("cent_id").asc)
      val assigned = corpus.crossJoin(broadcast(cent))
        .withColumn("__d", dot(col("cv"), col("centv")))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select(col("cent_id"), col("cv"))
      cent = assigned
        .select(col("cent_id"), posexplode(asDouble(col("cv"))).as(Seq("pos", "x")))
        .groupBy(col("cent_id"), col("pos"))
        .agg((sum(round(col("x"), 6).cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("m"))
        .groupBy("cent_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("centv"))
    }
    cent
  }

  /** The trained codebook as a small literal table: the K×dim learned
    * centroids are MODEL PARAMETERS — collecting them to the driver is the
    * one legitimate driver round-trip in an ANN pipeline (bounded by K,
    * not data), and re-broadcasting the literals means the 2-iteration
    * training chain executes ONCE instead of once per consumer plan
    * (corpus assignment + query probing would otherwise each recompute
    * it). The learned parameters memoize per (process, dataset) —
    * [[Shared.memo]], driver-side because the value is model-sized —
    * so q159's probes, q172's ingest-time layout, and repeat invocations
    * all reuse ONE training run.
    */
  private[graft] def trainedCodebook(s: SparkSession, d: String): DataFrame = {
    val learned = Shared.memo("codebook", d) { _ =>
      lloydCentroids(s, d, iters = 2).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq
    }
    import s.implicits._
    learned.toDF("cent_id", "centv")
  }

  /** Multi-probe IVF top-3 (q151's body, parameterized so QueriesSpec can
    * measure recall across nprobe settings). The candidate set is
    * approximate (buckets probed by centroid dot product); the returned
    * ORDER is not — candidates re-rank by exact cosine on the full
    * vectors, so the top-k is exact within the probed set at any nprobe
    * (QueriesSpec asserts top-1 agreement with brute force whenever the
    * true neighbor's bucket was probed).
    */
  private[graft] def ivfMultiprobe(s: SparkSession, d: String,
      nprobe: Int, cents: Option[DataFrame] = None): DataFrame = {
    val corpus = ivfCorpusAssign(s, d, cents)
    val qs = ivfQueryProbes(s, d, nprobe, cents)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    broadcast(qs).join(corpus, "cent_id")
      .withColumn("cos", dot(col("qv"), col("cv")) /
        (norm(col("qv")) * norm(col("cv"))))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("qid", "cid", "cos", "rk")
  }

  /** exact brute-force top-3 over the SAME splits as [[ivfMultiprobe]] —
    * the recall denominator (an independent cross-join evaluation, no IVF
    * machinery shared)
    */
  private[graft] def exactTop3(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id").between(8, 12))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = e.filter(col("vec_id") >= 13)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    broadcast(q).crossJoin(c)
      .withColumn("cos", dot(col("qv"), col("cv")) /
        (norm(col("qv")) * norm(col("cv"))))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("qid", "cid", "cos", "rk")
  }

  val all: Seq[QueryDef] = Seq(

    // ── embedding column stats (norms, per-label) ─────────────────────────
    QueryDef(
      "q40_embedding_stats",
      // Per-row norm is order-deterministic; the per-group sum of norms is
      // made order-independent by an exact DECIMAL cast of the rounded norm.
      (s, d) =>
        embeddings(s, d)
          .withColumn("nrm", norm(col("embedding")))
          .groupBy("label")
          .agg(
            count(lit(1)).as("n_vecs"),
            min(size(col("embedding"))).cast("long").as("min_dim"),
            max(size(col("embedding"))).cast("long").as("max_dim"),
            sum(round(col("nrm"), 6).cast("decimal(18,6)")).cast("double")
              .as("sum_norm")
          ),
      Some(s"""SELECT label, count(*) AS n_vecs,
              CAST(min(len(embedding)) AS BIGINT) AS min_dim,
              CAST(max(len(embedding)) AS BIGINT) AS max_dim,
              CAST(sum(CAST(round(${SQL_NORM("embedding")}, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm
              FROM embeddings GROUP BY label""")
    ),

    // ── brute-force cosine top-k (the correctness baseline) ───────────────
    QueryDef(
      "q41_knn_brute",
      // queries = vec_id < 5 (broadcast), corpus = the rest (streamed).
      (s, d) => {
        val e = embeddings(s, d)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val c = e.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"))
        val w = Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid").asc)
        broadcast(q).crossJoin(c)
          .withColumn("cos", dot(col("qv"), col("cv")) /
            (norm(col("qv")) * norm(col("cv"))))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select("qid", "cid", "cos", "rk")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
              c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id >= 5),
              scored AS (SELECT qid, cid,
                ${SQL_DOT("qv", "cv")} / (${SQL_NORM("qv")} * ${SQL_NORM("cv")}) AS cos
                FROM q CROSS JOIN c)
              SELECT qid, cid, cos,
                CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
              FROM scored
              QUALIFY rk <= 3"""),
      headline = true
    ),

    // ── LSH-bucketed ANN (random hyperplanes; the scale path) ─────────────
    QueryDef(
      "q42_ann_lsh",
      // Signature = sign bits of dot products with NPLANES deterministic
      // pseudo-random hyperplanes (hash-derived, reproducible anywhere).
      // Candidates = corpus vectors sharing the query's bucket; top-3 by
      // exact cosine within the bucket. An IVF-style probe with one probe.
      (s, d) => {
        val NPLANES = 8
        // plane p component i = (((1103515245*(p*64+i) + 12345) mod 2^31) / 2^31) - 0.5
        // — a fixed LCG. Every step is exact in double (integers < 2^53,
        // division by 2^31, minus 0.5), so precomputing the weights HERE
        // and embedding them as literal arrays yields bit-identical values
        // to the per-row SQL formula the oracle still uses — while turning
        // each signature bit into one codegen'd weighted dot instead of a
        // 64-element sequence + LCG re-derivation per row per plane (the
        // round-2 driver bench's worst cold outlier, 11× its warm time).
        val planes: Array[Array[Double]] = Array.tabulate(NPLANES, 64) {
          (p, i) =>
            ((1103515245L * (p * 64L + i) + 12345L) % 2147483648L).toDouble /
              2147483648.0 - 0.5
        }
        def sigBit(v: Column, p: Int): Column =
          when(dot(v, typedlit(planes(p))) >= 0, lit(1)).otherwise(lit(0))
        def sig(v: Column): Column =
          concat_ws("", (0 until NPLANES).map(p => sigBit(v, p)): _*)

        val e = embeddings(s, d)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            sig(col("embedding")).as("qsig"))
        val c = e.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"),
            sig(col("embedding")).as("csig"))
        val w = Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid").asc)
        broadcast(q).join(c, col("qsig") === col("csig"))
          .withColumn("cos", dot(col("qv"), col("cv")) /
            (norm(col("qv")) * norm(col("cv"))))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select("qid", "cid", "cos", "rk")
      },
      { val SQL_SIG_BIT = (v: String, p: Int) =>
          s"""CASE WHEN list_aggregate(list_transform(range(1, 65),
             i -> CAST($v[i] AS DOUBLE) * ((CAST((1103515245 * (${p * 64} + (i-1)) + 12345) % 2147483648 AS DOUBLE)) / 2147483648 - 0.5)), 'sum') >= 0
             THEN '1' ELSE '0' END"""
        val sigSql = (v: String) =>
          (0 until 8).map(p => SQL_SIG_BIT(v, p)).mkString(" || ")
        Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, ${sigSql("embedding")} AS qsig
                  FROM embeddings WHERE vec_id < 5),
                c AS (SELECT vec_id AS cid, embedding AS cv, ${sigSql("embedding")} AS csig
                  FROM embeddings WHERE vec_id >= 5),
                scored AS (SELECT qid, cid,
                  ${SQL_DOT("qv", "cv")} / (${SQL_NORM("qv")} * ${SQL_NORM("cv")}) AS cos
                  FROM q JOIN c ON qsig = csig)
                SELECT qid, cid, cos,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
                FROM scored
                QUALIFY rk <= 3""") }
    ),

    // ── IVF-style ANN: coarse quantizer buckets, single-probe search ──────
    QueryDef(
      "q44_ann_ivf",
      // Inverted-file structure: K coarse centroids (a deterministic sample
      // of the corpus — a k-means fit would refine them; the bucketing
      // mechanics are identical), every vector assigned to its nearest
      // centroid by max dot product; a query probes ONLY its own centroid's
      // bucket — corpus scan cost drops by ~K at equal recall to one probe.
      // Assignment + probe are broadcast equi-joins, the 100 TB shape.
      (s, d) => {
        val K = 8
        val e = embeddings(s, d)
        val cent = e.filter(col("vec_id") < K)
          .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
        def assign(df: DataFrame, idc: String, vc: String): DataFrame = {
          val w = Window.partitionBy(idc)
            .orderBy(col("__d").desc, col("cent_id").asc)
          df.crossJoin(broadcast(cent))
            .withColumn("__d", dot(col(vc), col("centv")))
            .withColumn("__rk", row_number().over(w))
            .filter(col("__rk") === 1)
            .drop("__d", "__rk", "centv")
        }
        val corpus = assign(e.filter(col("vec_id") >= 13)
          .select(col("vec_id").as("cid"), col("embedding").as("cv")), "cid", "cv")
        val qs = assign(e.filter(col("vec_id").between(8, 12))
          .select(col("vec_id").as("qid"), col("embedding").as("qv")), "qid", "qv")
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
        broadcast(qs).join(corpus, "cent_id")
          .withColumn("cos", dot(col("qv"), col("cv")) /
            (norm(col("qv")) * norm(col("cv"))))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select("qid", "cid", "cos", "rk")
      },
      Some(s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS centv
                FROM embeddings WHERE vec_id < 8),
              corpus AS (SELECT vec_id AS cid, embedding AS cv
                FROM embeddings WHERE vec_id >= 13),
              qs AS (SELECT vec_id AS qid, embedding AS qv
                FROM embeddings WHERE vec_id BETWEEN 8 AND 12),
              corpus_a AS (SELECT cid, cv, cent_id FROM (
                SELECT cid, cv, cent_id,
                  row_number() OVER (PARTITION BY cid
                    ORDER BY ${SQL_DOT("cv", "centv")} DESC, cent_id) AS rk
                FROM corpus, cent) WHERE rk = 1),
              q_a AS (SELECT qid, qv, cent_id FROM (
                SELECT qid, qv, cent_id,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY ${SQL_DOT("qv", "centv")} DESC, cent_id) AS rk
                FROM qs, cent) WHERE rk = 1),
              scored AS (SELECT qid, cid,
                ${SQL_DOT("qv", "cv")} / (${SQL_NORM("qv")} * ${SQL_NORM("cv")}) AS cos
                FROM q_a JOIN corpus_a USING (cent_id))
              SELECT qid, cid, cos,
                CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
              FROM scored
              QUALIFY rk <= 3""")
    ),

    // ── EMBEDDING-SPACE OUTLIER AUDIT (assignment-distance 3σ) ────────────
    QueryDef(
      "q252_embedding_outliers",
      // The embedding QC step next to q232's drift monitor: vectors far
      // from EVERY coarse centroid are the mis-embedded / corrupted /
      // out-of-distribution rows an index build should quarantine.
      // Each corpus vector takes its best-centroid cosine (the q44
      // assignment), FLOORED to exact micro-units so per-cluster moments
      // are pure BIGINT (the q59/q206 discipline — cosines themselves
      // are engine-identical via the pinned dot/norm folds); a member
      // is an outlier when its squared deviation from the cluster mean
      // exceeds 9σ² (two-sided exact-double test, q206's form). Output
      // per cluster: size, mean similarity, outlier count, and the
      // worst member.
      //
      // Shape, and why it scales: one broadcast assignment pass
      // (K-bounded fan-out), one cluster-grain moment aggregation
      // broadcast back, one flagging pass — never a vector×vector join.
      (s, d) => {
        val K = 8
        val e = embeddings(s, d)
        val cent = e.filter(col("vec_id") < K)
          .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
        val w = Window.partitionBy("cid")
          .orderBy(col("__d").desc, col("cent_id").asc)
        val assigned = e.filter(col("vec_id") >= K)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"))
          .crossJoin(broadcast(cent))
          .withColumn("__d", dot(col("cv"), col("centv")))
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") === 1)
          .withColumn("sim_u",
            floor(col("__d") / (norm(col("cv")) * norm(col("centv"))) *
              lit(1000000.0)).cast("long"))
          .select("cent_id", "cid", "sim_u")
        val st = assigned.groupBy("cent_id").agg(
          count(lit(1)).as("n"), sum(col("sim_u")).as("sc"),
          sum(col("sim_u") * col("sim_u")).as("qc"))
        assigned.join(broadcast(st), "cent_id")
          .withColumn("mu", col("sc").cast("double") / col("n").cast("double"))
          .withColumn("sig2",
            (col("qc").cast("double") -
              col("sc").cast("double") * col("sc").cast("double") /
                col("n").cast("double")) / col("n").cast("double"))
          .withColumn("dev2",
            (col("sim_u").cast("double") - col("mu")) *
              (col("sim_u").cast("double") - col("mu")))
          .withColumn("is_out", (col("dev2") > col("sig2") * 9.0).cast("long"))
          .groupBy("cent_id")
          .agg(count(lit(1)).as("n_members"),
            min(col("mu")).as("mean_sim_micro"),
            sum(col("is_out")).cast("long").as("n_outliers"),
            min(when(col("is_out") === 1, col("sim_u"))).as("worst_sim_micro"))
      },
      Some(s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS centv
                FROM embeddings WHERE vec_id < 8),
              corpus AS (SELECT vec_id AS cid, embedding AS cv
                FROM embeddings WHERE vec_id >= 8),
              a AS (SELECT cid, cv, cent_id, centv FROM (
                SELECT cid, cv, cent_id, centv,
                  row_number() OVER (PARTITION BY cid
                    ORDER BY ${SQL_DOT("cv", "centv")} DESC, cent_id) AS rk
                FROM corpus, cent) WHERE rk = 1),
              sim AS (SELECT cent_id, cid,
                  CAST(floor(${SQL_DOT("cv", "centv")}
                    / (${SQL_NORM("cv")} * ${SQL_NORM("centv")})
                    * 1000000.0) AS BIGINT) AS sim_u
                FROM a),
              st AS (SELECT cent_id, count(*) AS n, sum(sim_u) AS sc,
                  sum(sim_u * sim_u) AS qc
                FROM sim GROUP BY 1),
              j AS (SELECT sim.cent_id, cid, sim_u,
                  CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                  (CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                    / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS sig2
                FROM sim JOIN st ON sim.cent_id = st.cent_id),
              f AS (SELECT cent_id, cid, sim_u, mu,
                  CASE WHEN (CAST(sim_u AS DOUBLE) - mu)
                      * (CAST(sim_u AS DOUBLE) - mu) > sig2 * 9.0
                    THEN 1 ELSE 0 END AS is_out
                FROM j)
              SELECT cent_id, count(*) AS n_members,
                min(mu) AS mean_sim_micro,
                CAST(sum(is_out) AS BIGINT) AS n_outliers,
                min(CASE WHEN is_out = 1 THEN sim_u END) AS worst_sim_micro
              FROM f GROUP BY 1""")
    ),

    // ── multi-probe IVF: bounded-recall-loss ANN (the q44 refinement) ─────
    QueryDef(
      "q151_ann_ivf_multiprobe",
      // Single-probe IVF (q44) trades SILENT recall loss for speed: a
      // query near a Voronoi boundary misses true neighbors assigned to
      // the runner-up centroid, and nothing reports it. Probing the top
      // NPROBE centroids bounds that loss — scan cost rises to ~NPROBE/K
      // of the corpus (still K/NPROBE× cheaper than brute force) and
      // recall approaches brute-force as NPROBE→K. QueriesSpec MEASURES
      // recall@3 against the exact scan on the same splits: multi-probe
      // must dominate single-probe and reach 1.0 at NPROBE=K. Probe
      // fan-out is rows in the broadcast query table (one row per
      // (query, probed centroid)), so the corpus side still streams
      // through one broadcast equi-join — the 100 TB shape; candidate
      // sets per probe are disjoint (each corpus vector lives in exactly
      // one bucket), so no dedup stage is needed.
      (s, d) => ivfMultiprobe(s, d, nprobe = 2),
      Some(s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS centv
                FROM embeddings WHERE vec_id < 8),
              corpus AS (SELECT vec_id AS cid, embedding AS cv
                FROM embeddings WHERE vec_id >= 13),
              qs AS (SELECT vec_id AS qid, embedding AS qv
                FROM embeddings WHERE vec_id BETWEEN 8 AND 12),
              corpus_a AS (SELECT cid, cv, cent_id FROM (
                SELECT cid, cv, cent_id,
                  row_number() OVER (PARTITION BY cid
                    ORDER BY ${SQL_DOT("cv", "centv")} DESC, cent_id) AS rk
                FROM corpus, cent) WHERE rk = 1),
              q_a AS (SELECT qid, qv, cent_id FROM (
                SELECT qid, qv, cent_id,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY ${SQL_DOT("qv", "centv")} DESC, cent_id) AS rk
                FROM qs, cent) WHERE rk <= 2),
              scored AS (SELECT qid, cid,
                ${SQL_DOT("qv", "cv")} / (${SQL_NORM("qv")} * ${SQL_NORM("cv")}) AS cos
                FROM q_a JOIN corpus_a USING (cent_id))
              SELECT qid, cid, cos,
                CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
              FROM scored
              QUALIFY rk <= 3""")
    ),

    // ── IVF with a TRAINED codebook (the 100 TB-credible variant) ─────────
    QueryDef(
      "q159_ann_ivf_trained",
      // q151 partitions the corpus around 8 FIXED corpus vectors — fine
      // for proving the multi-probe machinery, but a real deployment
      // learns its codebook, because centroid quality is what converts
      // nprobe/K scan-cost savings into recall (r5 verdict task 5). Here
      // the codebook is 2 Lloyd iterations over the corpus split (assign
      // = q76's broadcast argmax; update = q83's posexplode mean
      // reduction), then the SAME multi-probe pipeline runs against the
      // learned centroids. Every arithmetic step — rounded-decimal means,
      // sequential dot folds, id tie-breaks — is bit-identical in the
      // DuckDB oracle's unrolled iterations, so bucket assignments,
      // probes, and the final exact re-rank all hash-match.
      // QueriesSpec measures the recall@3 curve across nprobe on this
      // codebook (monotone, exact at full probe).
      (s, d) => ivfMultiprobe(s, d, nprobe = 2,
        cents = Some(trainedCodebook(s, d))),
      Some(trainedIvfOracleSql)
    ),

    // ── embedding-cosine near-duplicate pairs (bounded subset) ────────────
    QueryDef(
      "q43_cosine_neardup",
      // all-pairs on a deterministic subset (vec_id < 100); pairs above a
      // high cosine threshold. The at-scale variant is q42's bucketing.
      (s, d) => {
        val e = embeddings(s, d).filter(col("vec_id") < 100)
        val a = e.select(col("vec_id").as("a"), col("embedding").as("va"))
        val b = e.select(col("vec_id").as("b"), col("embedding").as("vb"))
        a.crossJoin(b).filter(col("a") < col("b"))
          .withColumn("cos", dot(col("va"), col("vb")) /
            (norm(col("va")) * norm(col("vb"))))
          .filter(col("cos") >= 0.35)
          .select("a", "b", "cos")
      },
      Some(s"""WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100)
              SELECT * FROM (
                SELECT x.vec_id AS a, y.vec_id AS b,
                  ${SQL_DOT("x.embedding", "y.embedding")}
                    / (${SQL_NORM("x.embedding")} * ${SQL_NORM("y.embedding")}) AS cos
                FROM sub x JOIN sub y ON x.vec_id < y.vec_id)
              WHERE cos >= 0.35""")
    ),

    // ── int8 scalar quantization (embedding compression for ANN at scale) ──
    QueryDef(
      "q75_vec_quantize",
      // per-vector symmetric int8 codes: scale = max|x|/127,
      // code_i = floor(x_i/scale + 0.5). Integer outputs are exactly
      // reproducible cross-engine (the float→double promotion, division and
      // floor are the same IEEE ops); saturation count tracks clipping.
      // Pure per-row projection — zero shuffle, the 100 TB-friendly shape.
      (s, d) =>
        embeddings(s, d)
          .withColumn("dv", asDouble(col("embedding")))
          .withColumn("scale",
            array_max(transform(col("dv"), x => abs(x))) / lit(127.0))
          .withColumn("codes",
            transform(col("dv"), x => floor(x / col("scale") + lit(0.5)).cast("long")))
          .select(
            col("vec_id"),
            aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("code_sum"),
            array_min(col("codes")).as("code_min"),
            array_max(col("codes")).as("code_max"),
            size(filter(col("codes"), c => abs(c) === 127)).cast("long")
              .as("n_saturated")),
      Some(s"""WITH s AS (SELECT vec_id, embedding,
                list_aggregate(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))), 'max') / 127.0 AS scale
                FROM embeddings),
              c AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) AS codes
                FROM s)
              SELECT vec_id,
                CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
                CAST(list_aggregate(codes, 'min') AS BIGINT) AS code_min,
                CAST(list_aggregate(codes, 'max') AS BIGINT) AS code_max,
                CAST(len(list_filter(codes, x -> abs(x) = 127)) AS BIGINT) AS n_saturated
              FROM c""")
    ),

    // ── k-means iteration: assign + per-cluster update statistics ─────────
    QueryDef(
      "q76_kmeans_step",
      // One Lloyd iteration at scale: broadcast the K centroids, assign every
      // vector by max dot product (tie → lower centroid id), then reduce
      // per-cluster statistics (count, total similarity = the inertia
      // analogue, and the mean of the first coordinate standing in for the
      // full mean vector — same reduction per dimension). Broadcast +
      // single hash aggregation: no all-pairs, no driver loop per row.
      (s, d) => {
        val K = 8
        val e = embeddings(s, d)
        val cent = e.filter(col("vec_id") < K)
          .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
        val w = Window.partitionBy("vec_id")
          .orderBy(col("sim").desc, col("cent_id").asc)
        e.crossJoin(broadcast(cent))
          .withColumn("sim", dot(col("embedding"), col("centv")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .groupBy("cent_id")
          .agg(
            count(lit(1)).as("n_members"),
            sum(round(col("sim"), 6).cast("decimal(18,6)")).cast("double")
              .as("sum_sim"),
            (sum(round(element_at(asDouble(col("embedding")), 1), 6)
              .cast("decimal(18,6)")).cast("double") / count(lit(1)))
              .as("mean_dim0"))
      },
      Some(s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS centv
                FROM embeddings WHERE vec_id < 8),
              assigned AS (SELECT * FROM (
                SELECT e.vec_id, e.embedding, c.cent_id,
                  ${SQL_DOT("e.embedding", "c.centv")} AS sim,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY ${SQL_DOT("e.embedding", "c.centv")} DESC, c.cent_id) AS rk
                FROM embeddings e, cent c) WHERE rk = 1)
              SELECT cent_id, count(*) AS n_members,
                CAST(sum(CAST(round(sim, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_sim,
                CAST(sum(CAST(round(CAST(embedding[1] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
                  / count(*) AS mean_dim0
              FROM assigned GROUP BY cent_id""")
    ),

    // ── per-label centroid vectors (the full k-means M-step reduction) ────
    QueryDef(
      "q83_vec_centroid",
      // mean embedding per label, one output row per (label, dimension):
      // posexplode → hash aggregate, the distributed dense-vector mean.
      // Order-independence via the usual rounded-decimal sum; at scale this
      // is one shuffle keyed on (label, dim) with full map-side partials.
      (s, d) =>
        embeddings(s, d)
          .select(col("label"), posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
          .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
          .agg(
            (sum(round(col("x"), 6).cast("decimal(18,6)")).cast("double") /
              count(lit(1))).as("mean_val")),
      Some("""SELECT label, CAST(i AS BIGINT) AS dim,
              CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
                / count(*) AS mean_val
              FROM embeddings, range(1, 65) t(i)
              GROUP BY 1, 2""")
    ),

    // ── SemDeDup: semantic dedup via cluster-then-intra-cluster cosine ────
    QueryDef(
      "q126_semdedup",
      // the SemDeDup recipe (Abbas et al. 2023): coarse-cluster the corpus,
      // then within each cluster mark every vector whose cosine to a
      // SMALLER-id cluster-mate exceeds the threshold as a removable
      // near-duplicate (keep-lowest-id policy). Clustering bounds the
      // pairwise stage to per-cluster blocks — the trick that makes
      // semantic dedup feasible at corpus scale (at 100 TB, K grows ~√N so
      // cluster sizes stay bounded; K=8 here). Assignment is a broadcast
      // argmax; the pair join is an equi-join on cluster id.
      // (This synthetic corpus has no true near-dups — max pair cosine
      // ≈0.46 — so the threshold 0.35 marks the top-similarity tail; the
      // mechanics are threshold-independent.)
      (s, d) => {
        // The argmax assignment (vid, v, cent_id) materializes ONCE per
        // (process, dataset) to scratch parquet via [[Shared.memo]].
        // r6 shared it via a repartition exchange
        // instead, but the member-count branch broke canonical plan
        // equality (join constraint inference) and silently re-derived
        // the full corpus scan + K-dot-product argmax — a second corpus
        // pass at 100 TB. Durably writing the assignment costs one
        // assignment-sized scratch write; every consumer (both pair-join
        // sides AND the member counts) then reads cheap columnar scratch
        // with zero vector math, and nothing pins to executor storage
        // (scratch re-reads survive executor loss; the memo write is a
        // normal committed parquet job).
        val assigned = semdedupAssigned(s, d)
        val aa = assigned.select(col("cent_id"), col("vid").as("a"),
          col("v").as("va"))
        val bb = assigned.select(col("cent_id").as("cb"), col("vid").as("b"),
          col("v").as("vb"))
        val removed = aa
          .join(bb, col("cent_id") === col("cb") && col("a") < col("b"))
          .withColumn("cos",
            dot(col("va"), col("vb")) / (norm(col("va")) * norm(col("vb"))))
          .filter(col("cos") > 0.35)
          .select("cent_id", "b").distinct()
        assigned.groupBy("cent_id").agg(count(lit(1)).as("n_vecs"))
          .join(removed.groupBy("cent_id").agg(count(lit(1)).as("n_removed")),
            Seq("cent_id"), "left_outer")
          .select(col("cent_id"), col("n_vecs"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      },
      Some(s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS centv
                FROM embeddings WHERE vec_id < 8),
              assigned AS (SELECT vid, v, cent_id FROM (
                SELECT e.vec_id AS vid, e.embedding AS v, c.cent_id,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY ${SQL_DOT("e.embedding", "c.centv")} DESC, c.cent_id) AS rk
                FROM embeddings e, cent c) WHERE rk = 1),
              removed AS (SELECT DISTINCT x.cent_id, y.vid AS b
                FROM assigned x JOIN assigned y
                  ON x.cent_id = y.cent_id AND x.vid < y.vid
                WHERE ${SQL_DOT("x.v", "y.v")} / (${SQL_NORM("x.v")} * ${SQL_NORM("y.v")}) > 0.35)
              SELECT s.cent_id, s.n_vecs,
                CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed
              FROM (SELECT cent_id, count(*) AS n_vecs FROM assigned GROUP BY 1) s
              LEFT JOIN (SELECT cent_id, count(*) AS n_removed FROM removed GROUP BY 1) r
                USING (cent_id)""")
    ),

    // ── IVF over an ingest-time PARTITIONED layout (the declared scale path) ─
    QueryDef(
      "q168_ann_ivf_partitioned",
      // q44/q151/q159 compute the bucket assignment inside the query —
      // correct, but at 100 TB the assignment belongs at INGEST: write the
      // corpus directory-partitioned by cent_id once, and a probe then
      // reads ONLY the nprobe probed partitions (static partition pruning
      // — the planner never touches the other K-nprobe/K of the corpus
      // files, no runtime cleverness required). This query demonstrates
      // exactly that: the layout materializes once per (process, dataset)
      // ([[Shared.memo]]), the probed centroid ids collect as a
      // model-sized literal IN filter (≤ K values — the q159-centroid
      // precedent), and the plan shows PartitionFilters on cent_id
      // (PlanSpec-asserted). Results are BY CONSTRUCTION identical to
      // q151 (same splits, same codebook, same nprobe=2, same re-rank),
      // so the oracle is q151's — what changed is WHERE the corpus scan's
      // bytes come from, which is the entire point.
      (s, d) => ivfPartitionedProbe(s, d, "ivfpart", cents = None),
      Some(s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS centv
                FROM embeddings WHERE vec_id < 8),
              corpus AS (SELECT vec_id AS cid, embedding AS cv
                FROM embeddings WHERE vec_id >= 13),
              qs AS (SELECT vec_id AS qid, embedding AS qv
                FROM embeddings WHERE vec_id BETWEEN 8 AND 12),
              corpus_a AS (SELECT cid, cv, cent_id FROM (
                SELECT cid, cv, cent_id,
                  row_number() OVER (PARTITION BY cid
                    ORDER BY ${SQL_DOT("cv", "centv")} DESC, cent_id) AS rk
                FROM corpus, cent) WHERE rk = 1),
              q_a AS (SELECT qid, qv, cent_id FROM (
                SELECT qid, qv, cent_id,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY ${SQL_DOT("qv", "centv")} DESC, cent_id) AS rk
                FROM qs, cent) WHERE rk <= 2),
              scored AS (SELECT qid, cid,
                ${SQL_DOT("qv", "cv")} / (${SQL_NORM("qv")} * ${SQL_NORM("cv")}) AS cos
                FROM q_a JOIN corpus_a USING (cent_id))
              SELECT qid, cid, cos,
                CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
              FROM scored
              QUALIFY rk <= 3""")
    ),

    // ── TRAINED codebook × PARTITIONED layout (the composed production ANN) ─
    QueryDef(
      "q172_ann_ivf_trained_partitioned",
      // r7's two halves of the production ANN story, COMPOSED (the r7
      // verdict's task 4): q159 trains the codebook but assigns in-query;
      // q168 lays the corpus out at ingest but rides the FIXED seed
      // centroids. Here the ingest-time cent_id-partitioned layout is
      // built from the TRAINED (2-iteration Lloyd) codebook — the layout
      // a real deployment writes — and probes prune statically to the
      // nprobe probed partitions of THAT layout (PlanSpec asserts the
      // cent_id PartitionFilters, QueriesSpec re-measures the recall
      // curve on this path). Training runs ONCE per (process, dataset)
      // ([[trainedCodebook]]'s memo); results are BY CONSTRUCTION
      // identical to q159 (same codebook, same splits, same nprobe=2,
      // same exact re-rank), so the oracle is q159's — what changed is
      // WHERE the corpus bytes come from.
      (s, d) => ivfPartitionedProbe(s, d, "ivfpart_tr",
        cents = Some(trainedCodebook(s, d))),
      Some(trainedIvfOracleSql)
    ),

    // ── HARD-NEGATIVE MINING: label-aware top-k for contrastive data ──────
    QueryDef(
      "q182_hard_negatives",
      // The contrastive-training data op (embedding-model training's
      // counterpart of q130's mixing): for every query vector, the k
      // nearest CORPUS vectors whose label DIFFERS — "hard negatives",
      // the near-misses a contrastive loss learns the most from. q41's
      // exact brute pattern (broadcast queries, corpus streams, ONE
      // window rank) plus the label predicate, which must sit UNDER the
      // rank: filtering after top-k would return fewer than k negatives
      // whenever a same-label neighbor out-ranks a hard negative —
      // exactly the rows this op exists to find. Exact contract here;
      // at corpus scale the same predicate drops into the IVF-bucketed
      // family (q168/q172) unchanged, since label rides the layout as
      // an ordinary column.
      (s, d) => {
        val e = embeddings(s, d)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("label").as("qlabel"))
        val c = e.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"),
            col("label").as("clabel"))
        val w = Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid").asc)
        broadcast(q).crossJoin(c)
          .filter(col("clabel") =!= col("qlabel"))
          .withColumn("cos", dot(col("qv"), col("cv")) /
            (norm(col("qv")) * norm(col("cv"))))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("qlabel").cast("long").as("qlabel"),
            col("cid"), col("clabel").cast("long").as("clabel"),
            col("cos"), col("rk"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv,
                  label AS qlabel FROM embeddings WHERE vec_id < 5),
              c AS (SELECT vec_id AS cid, embedding AS cv,
                  label AS clabel FROM embeddings WHERE vec_id >= 5),
              scored AS (SELECT qid, qlabel, cid, clabel,
                ${SQL_DOT("qv", "cv")} / (${SQL_NORM("qv")} * ${SQL_NORM("cv")}) AS cos
                FROM q CROSS JOIN c
                WHERE clabel != qlabel)
              SELECT qid, CAST(qlabel AS BIGINT) AS qlabel,
                cid, CAST(clabel AS BIGINT) AS clabel, cos,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY cos DESC, cid) AS BIGINT) AS rk
              FROM scored
              QUALIFY rk <= 3""")
    ),

    // ── PRODUCT QUANTIZATION: codes + ADC scoring (memory-bound ANN) ──────
    QueryDef(
      "q186_ann_pq_adc",
      // The third leg of the ANN family (brute q41 = compute-bound, IVF
      // q44/q168 = I/O-partitioned, PQ = MEMORY-bound): each 64-dim
      // vector compresses to M=8 sub-codes — argmax-dot against K=8
      // sub-centroids per 8-dim subspace — so the corpus index is THREE
      // BYTES per vector (24-bit packed code emitted below; K must keep
      // the code space ≫ corpus, or distinct vectors collide onto one
      // code and tie-broken ADC ranking carries no signal — the K=4
      // first cut measured recall ZERO for exactly that reason), and
      // queries score candidates with ASYMMETRIC DISTANCE COMPUTATION:
      // a per-query 8×8 lookup table of subspace dots, summed in
      // fixed m-order (sorted-struct fold, the lloydCentroids
      // convention — a plain SUM would let aggregation order perturb
      // the double). Top-3 per query by (adc desc, cid asc).
      //
      // Scale shape: encoding is one corpus scan against a broadcast
      // M×K sub-centroid table (16 rows); the LUT is query-side and
      // model-sized; scoring joins codes to LUT entries on (m, code) —
      // keyed, broadcast, never all-pairs against raw vectors; at 100 TB
      // only the 1-byte codes ride the shuffle, never the floats. The
      // seed sub-centroids are fixed corpus vectors (the q44 convention);
      // swapping in per-subspace Lloyd training is the trainedCodebook
      // composition, unchanged downstream.
      (s, d) => {
        val M = 8; val SUB = 8; val K = 8
        val e = embeddings(s, d)
        def subSlices(vecCol: Column, idCol: Column, idName: String) =
          (0 until M).map(m => struct(lit(m).as("m"),
            slice(asDouble(vecCol), m * SUB + 1, SUB).as("sv")))
        val subCents = e.filter(col("vec_id") < K)
          .select(col("vec_id").as("cent"),
            explode(array(subSlices(col("embedding"), col("vec_id"), "cent"): _*)).as("s"))
          .select(col("cent"), col("s.m").as("m"), col("s.sv").as("scv"))
        val corpus = e.filter(col("vec_id") >= 13)
          .select(col("vec_id").as("cid"),
            explode(array(subSlices(col("embedding"), col("vec_id"), "cid"): _*)).as("s"))
          .select(col("cid"), col("s.m").as("m"), col("s.sv").as("cv"))
        val wCode = Window.partitionBy("cid", "m")
          .orderBy(col("dotv").desc, col("cent").asc)
        val codes = corpus.join(broadcast(subCents), "m")
          .withColumn("dotv", dot(col("cv"), col("scv")))
          .withColumn("rk", row_number().over(wCode))
          .filter(col("rk") === 1)
          .select(col("cid"), col("m"), col("cent").as("code"))
        val queries = e.filter(col("vec_id").between(8, 12))
          .select(col("vec_id").as("qid"),
            explode(array(subSlices(col("embedding"), col("vec_id"), "qid"): _*)).as("s"))
          .select(col("qid"), col("s.m").as("m"), col("s.sv").as("qv"))
        val lut = queries.join(broadcast(subCents), "m")
          .withColumn("qdot", dot(col("qv"), col("scv")))
          .select(col("qid"), col("m"), col("cent"), col("qdot"))
        val wTop = Window.partitionBy("qid")
          .orderBy(col("adc").desc, col("cid").asc)
        codes.join(broadcast(lut),
            codes("m") === lut("m") && codes("code") === lut("cent"))
          .groupBy(col("qid"), col("cid"))
          .agg(
            // fixed-order fold over m: deterministic double sum
            Shared.fsum(transform(
              array_sort(collect_list(struct(codes("m").as("m"),
                col("qdot").as("qd")))),
              e2 => e2.getField("qd"))).as("adc"),
            // the 24-bit index entry: Σ code_m · K^m (K=8, M=8 ⟹ < 8^8)
            sum(codes("code") * pow(lit(K), codes("m")).cast("long"))
              .cast("long").as("code_packed"))
          .withColumn("rk", row_number().over(wTop).cast("long"))
          .filter(col("rk") <= 3)
          .select("qid", "cid", "code_packed", "adc", "rk")
      },
      Some(s"""WITH c AS (SELECT vec_id AS cent, embedding AS cv
                FROM embeddings WHERE vec_id < 8),
              sc AS (SELECT cent, CAST(m AS BIGINT) AS m,
                  list_transform(range(CAST(m*8+1 AS INT), CAST(m*8+9 AS INT)),
                    i -> CAST(cv[i] AS DOUBLE)) AS scv
                FROM c, (SELECT unnest(range(8)) AS m)),
              corpus AS (SELECT vec_id AS cid, embedding AS v
                FROM embeddings WHERE vec_id >= 13),
              cd AS (SELECT cid, m, cent,
                  list_aggregate(list_transform(range(1, 9),
                    i -> CAST(v[CAST(m*8 AS INT) + i] AS DOUBLE) * scv[i]),
                    'sum') AS dotv
                FROM corpus, sc),
              codes AS (SELECT cid, m, cent AS code FROM (
                SELECT cid, m, cent, row_number() OVER (PARTITION BY cid, m
                  ORDER BY dotv DESC, cent) AS rk FROM cd) WHERE rk = 1),
              q AS (SELECT vec_id AS qid, embedding AS qv
                FROM embeddings WHERE vec_id BETWEEN 8 AND 12),
              lut AS (SELECT qid, m, cent,
                  list_aggregate(list_transform(range(1, 9),
                    i -> CAST(qv[CAST(m*8 AS INT) + i] AS DOUBLE) * scv[i]),
                    'sum') AS qdot
                FROM q, sc),
              adc AS (SELECT qid, cid,
                  list_aggregate(list(qdot ORDER BY codes.m), 'sum') AS adc,
                  CAST(sum(code * (8 ** codes.m)) AS BIGINT) AS code_packed
                FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.cent
                GROUP BY 1, 2)
              SELECT qid, cid, code_packed, adc,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY adc DESC, cid) AS BIGINT) AS rk
              FROM adc QUALIFY rk <= 3""")
    ),

    // ── IVF-PQ: partition-pruned probes over a PQ-CODED layout ────────────
    QueryDef(
      "q189_ann_ivfpq",
      // The COMPOSED production ANN index (Jégou et al. 2011's IVFADC —
      // what FAISS deploys at billion scale): q168's ingest-time
      // cent_id-partitioned layout where each partition stores ONLY the
      // M=8 PQ sub-codes per vector (q186's encoding — the corpus index
      // is 3 bytes/vector), and a probe (a) statically prunes to its
      // nprobe=2 coarse partitions via the literal IN filter and (b)
      // scores every candidate with the ADC lookup table — raw corpus
      // floats are touched ONCE at ingest (encode time) and never at
      // query time, which is the entire memory-bound ANN story: at
      // 100 TB of vectors the serving index is partition-pruned
      // kilobyte-scale code scans + a broadcast model-sized LUT.
      // Coarse codebook = the fixed q168 seeds; sub-codebooks = the
      // fixed q186 seeds; swapping either for the trained variants is
      // the q172/trainedCodebook composition, unchanged downstream.
      (s, d) => ivfPqProbe(s, d, ivfPqLayout(s, d)),
      Some(ivfPqOracleSql)
    ),

    // ── INCREMENTAL IVF-PQ index maintenance (append ≡ rebuild) ───────────
    QueryDef(
      "q198_ann_ivfpq_incremental",
      // Production indexes are never rebuilt from scratch when corpus
      // arrives — deltas are encoded with the FROZEN codebooks and
      // appended. This query probes exactly such an index: the base
      // batch (odd corpus ids) written first, the delta batch (even ids)
      // encoded separately and appended partition-wise without touching
      // base files ([[ivfPqLayoutIncremental]]). The probe is q189's
      // verbatim ([[ivfPqProbe]]) and the ORACLE is q189's verbatim —
      // the hash match proves the incrementally-maintained index answers
      // queries identically to the one-shot rebuild, which is the entire
      // maintenance contract. (Codebook drift/re-training is the point
      // where a real deployment schedules a rebuild; with frozen
      // codebooks, append is exact by construction.)
      (s, d) => ivfPqProbe(s, d, ivfPqLayoutIncremental(s, d)),
      Some(ivfPqOracleSql)
    ),


    // ── PCA top component via POWER ITERATION (the embedding-analysis op) ─
    QueryDef(
      "q199_pca_power",
      // The dominant principal component of the (exactly centered)
      // embedding matrix by two unrolled power-iteration rounds — the
      // q159-Lloyd discipline applied to spectral analysis: every
      // corpus-sized reduction is a rounded-decimal sum (order-
      // independent, bit-identical in both engines), every normalization
      // is IEEE sqrt/divide on identical operands, and the seed is the
      // deterministic all-ones vector. PCA over embeddings is the
      // workhorse behind whitening, ANN dimensionality budgeting (which
      // MRL truncation q102 presumes), and drift monitoring.
      //
      // Shape, and why it scales: per round, ONE corpus scan computes
      // both the per-row projection (a codegen zip_with fold against the
      // 64-double LITERAL iterate — no join, no shuffle on the row
      // stream) and the per-dimension accumulations (posexplode → 64
      // groups, map-side combined). The iterate itself is a MODEL
      // PARAMETER (64 doubles) — collected and re-broadcast as literals
      // each round, exactly how distributed training ships gradients;
      // driver materialization is O(dim), never O(rows).
      (s, d) => {
        import s.implicits._
        val corpus = embeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("x"))
        def colSum(df: DataFrame, arrCol: String, weight: Column): Array[Double] =
          df.select(posexplode(col(arrCol)).as(Seq("pos", "c")), weight.as("dt"))
            .groupBy("pos")
            .agg(sum(round(col("c") * col("dt"), 6).cast("decimal(18,6)"))
              .cast("double").as("w"))
            .orderBy("pos").collect().map(_.getDouble(1))
        val mean = corpus
          .select(posexplode(col("x")).as(Seq("pos", "c")))
          .groupBy("pos")
          .agg((sum(round(col("c"), 6).cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("m"))
          .orderBy("pos").collect().map(_.getDouble(1))
        val mLit = array(mean.map(lit): _*)
        def iterate(v: Array[Double]): Array[Double] = {
          val vLit = array(v.map(lit): _*)
          val centered = corpus.withColumn("cen",
            zip_with(col("x"), mLit, (a, b) => a - b))
          val withDot = centered.withColumn("dt",
            Shared.fsum(zip_with(col("cen"), vLit, (a, b) => a * b)))
          val w = colSum(withDot, "cen", col("dt"))
          // left-to-right fold matches list_aggregate 'sum' order
          val nrm = math.sqrt(w.foldLeft(0.0)((a, y) => a + y * y))
          w.map(_ / nrm)
        }
        val v2 = iterate(iterate(Array.fill(64)(1.0)))
        v2.zipWithIndex.map { case (x, i) => ((i + 1).toLong, x) }
          .toSeq.toDF("dim", "loading")
      },
      Some(s"""WITH corpus AS (SELECT vec_id, embedding AS x FROM embeddings),
              mean AS (SELECT i,
                  CAST(sum(CAST(round(CAST(x[i] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*) AS m
                FROM corpus, range(1, 65) t(i) GROUP BY i),
              mv AS (SELECT list(m ORDER BY i) AS m FROM mean),
              d0 AS (SELECT vec_id, x, m,
                  list_aggregate(list_transform(range(1, 65),
                    i -> (CAST(x[i] AS DOUBLE) - m[i]) * 1.0), 'sum') AS dt
                FROM corpus, mv),
              w1 AS (SELECT i,
                  CAST(sum(CAST(round((CAST(x[i] AS DOUBLE) - m[i]) * dt, 6)
                    AS DECIMAL(18,6))) AS DOUBLE) AS w
                FROM d0, range(1, 65) t(i) GROUP BY i),
              u1 AS (SELECT list_transform(wv, y -> y / nrm) AS v FROM (
                SELECT wv,
                  sqrt(list_aggregate(list_transform(wv, y -> y*y), 'sum')) AS nrm
                FROM (SELECT list(w ORDER BY i) AS wv FROM w1))),
              d1 AS (SELECT vec_id, x, m,
                  list_aggregate(list_transform(range(1, 65),
                    i -> (CAST(x[i] AS DOUBLE) - m[i]) * v[i]), 'sum') AS dt
                FROM corpus, mv, u1),
              w2 AS (SELECT i,
                  CAST(sum(CAST(round((CAST(x[i] AS DOUBLE) - m[i]) * dt, 6)
                    AS DECIMAL(18,6))) AS DOUBLE) AS w
                FROM d1, range(1, 65) t(i) GROUP BY i),
              u2 AS (SELECT list_transform(wv, y -> y / nrm) AS v FROM (
                SELECT wv,
                  sqrt(list_aggregate(list_transform(wv, y -> y*y), 'sum')) AS nrm
                FROM (SELECT list(w ORDER BY i) AS wv FROM w2)))
              SELECT CAST(i AS BIGINT) AS dim, v[i] AS loading
              FROM u2, range(1, 65) t(i)""")
    ),

    // ── MMR: diversity-aware re-ranking of retrieved candidates ───────────
    QueryDef(
      "q195_mmr_rerank",
      // Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
      // diversity step between retrieval and consumption (RAG context
      // assembly, dedup-aware sampling): from each query's top-10
      // candidates, greedily pick 3 maximizing
      //   mmr(d) = λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s),  λ = 1/2
      // (empty-S convention: mmr = λ·rel). The greedy loop is UNROLLED
      // (3 fixed rounds — the q159 Lloyd-unroll discipline), each round
      // one window argmax with the (score desc, cid asc) tie-break, so
      // both engines make identical picks; all arithmetic is the shared
      // IEEE cosine form, division-ordered identically.
      //
      // Shape, and why it scales: candidate generation is the brute
      // top-k demo (the IVF family is the production path, unchanged —
      // MMR only ever sees the top-k); after that every round operates
      // on ≤10 rows per query joined to the 1-row-per-query selected
      // set — model-sized work per query, embarrassingly parallel
      // across queries.
      (s, d) => {
        val e = embeddings(s, d)
        val q = e.filter(col("vec_id").between(8, 12))
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val c = e.filter(col("vec_id") >= 13)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"))
        def cos(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
        def top1(df: DataFrame, by: String): DataFrame =
          df.withColumn("rn", row_number().over(Window.partitionBy("qid")
            .orderBy(col(by).desc, col("cid").asc))).filter(col("rn") === 1)
        val cand = broadcast(q).crossJoin(c)
          .withColumn("rel", cos(col("qv"), col("cv")))
          .withColumn("rk", row_number().over(Window.partitionBy("qid")
            .orderBy(col("rel").desc, col("cid").asc)))
          .filter(col("rk") <= 10)
          .select("qid", "cid", "cv", "rel")
        val s1 = top1(cand, "rel")
          .select(col("qid"), col("cid").as("c1"), col("cv").as("v1"),
            col("rel").as("rel1"))
        val r1 = cand.join(s1, "qid").filter(col("cid") =!= col("c1"))
          .withColumn("mmr", col("rel") / 2 - cos(col("cv"), col("v1")) / 2)
        val s2 = top1(r1, "mmr")
          .select(col("qid"), col("cid").as("c2"), col("cv").as("v2"),
            col("mmr").as("mmr2"))
        val r2 = r1.drop("mmr", "rn")
          .join(s2, "qid").filter(col("cid") =!= col("c2"))
          .withColumn("mmr", col("rel") / 2 -
            greatest(cos(col("cv"), col("v1")), cos(col("cv"), col("v2"))) / 2)
        val s3 = top1(r2, "mmr")
        s1.select(col("qid"), lit(1L).as("pick"), col("c1").as("cid"),
            (col("rel1") / 2).as("score"))
          .unionAll(s2.select(col("qid"), lit(2L).as("pick"),
            col("c2").as("cid"), col("mmr2").as("score")))
          .unionAll(s3.select(col("qid"), lit(3L).as("pick"), col("cid"),
            col("mmr").as("score")))
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
                FROM embeddings WHERE vec_id BETWEEN 8 AND 12),
              c AS (SELECT vec_id AS cid, embedding AS cv
                FROM embeddings WHERE vec_id >= 13),
              cand AS (SELECT qid, cid, cv,
                  ${SQL_DOT("qv", "cv")} / (${SQL_NORM("qv")} * ${SQL_NORM("cv")}) AS rel
                FROM q CROSS JOIN c
                QUALIFY row_number() OVER (PARTITION BY qid
                  ORDER BY rel DESC, cid) <= 10),
              s1 AS (SELECT qid, cid, cv, rel FROM cand
                QUALIFY row_number() OVER (PARTITION BY qid
                  ORDER BY rel DESC, cid) = 1),
              r1 AS (SELECT cand.qid, cand.cid, cand.cv, cand.rel,
                  s1.cid AS c1, s1.cv AS v1,
                  cand.rel/2 - (${SQL_DOT("cand.cv", "s1.cv")}
                    / (${SQL_NORM("cand.cv")} * ${SQL_NORM("s1.cv")}))/2 AS mmr
                FROM cand JOIN s1 USING (qid) WHERE cand.cid != s1.cid),
              s2 AS (SELECT qid, cid, cv, mmr FROM r1
                QUALIFY row_number() OVER (PARTITION BY qid
                  ORDER BY mmr DESC, cid) = 1),
              r2 AS (SELECT r1.qid, r1.cid, r1.rel,
                  r1.rel/2 - greatest(
                    ${SQL_DOT("r1.cv", "r1.v1")}
                      / (${SQL_NORM("r1.cv")} * ${SQL_NORM("r1.v1")}),
                    ${SQL_DOT("r1.cv", "s2.cv")}
                      / (${SQL_NORM("r1.cv")} * ${SQL_NORM("s2.cv")}))/2 AS mmr
                FROM r1 JOIN s2 USING (qid) WHERE r1.cid != s2.cid),
              s3 AS (SELECT qid, cid, mmr FROM r2
                QUALIFY row_number() OVER (PARTITION BY qid
                  ORDER BY mmr DESC, cid) = 1)
              SELECT qid, CAST(1 AS BIGINT) AS pick, cid, rel/2 AS score FROM s1
              UNION ALL
              SELECT qid, CAST(2 AS BIGINT) AS pick, cid, mmr AS score FROM s2
              UNION ALL
              SELECT qid, CAST(3 AS BIGINT) AS pick, cid, mmr AS score FROM s3""")
    ),

    // ── CLASS SEPARABILITY (Fisher-style centroid/scatter report) ────────
    QueryDef(
      "q229_class_separability",
      // The label-quality audit run before training a classifier on an
      // embedding column: for every label pair, the squared centroid
      // distance (between-class) against the two within-class variance
      // traces, and their Fisher-style ratio — low ratios flag label
      // pairs the embedding cannot distinguish. Determinism is the q83
      // + q206 discipline composed: per-(label, dim) moments are exact
      // BIGINTs in micro-units of the 6-decimal-rounded element, every
      // per-dim variance/centroid is one pinned IEEE expression on
      // those integers, and all cross-DIM sums are fixed-order
      // left-to-right folds over dim-sorted arrays (fsum — the q189
      // ADC convention), never a shuffle-order double sum.
      //
      // Shape, and why it scales: one fact pass to (label, dim) moments
      // (the only fact-sized shuffle); within-traces and the pair
      // matrix live on the labels×dims model table; pair math is a
      // dim-keyed self-join of that model, labels²-bounded.
      (s, d) => {
        val stats = embeddings(s, d)
          .select(col("label").cast("long").as("label"),
            posexplode(asDouble(col("embedding"))).as(Seq("p0", "x")))
          .select(col("label"), (col("p0") + 1).as("dim"),
            // exact micro-units via the proven decimal(18,6) cast (q83):
            // double*1e6 could land one ulp below the integer
            (round(col("x"), 6).cast("decimal(18,6)") * 1000000)
              .cast("long").as("xi"))
          .groupBy("label", "dim")
          .agg(count(lit(1)).as("n"), sum(col("xi")).as("sx"),
            sum(col("xi") * col("xi")).as("qx"))
        // per-dim variance in micro^2 units, then the ordered fold
        val within = stats
          .withColumn("var_d",
            (col("qx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double") /
                col("n").cast("double")) / col("n").cast("double"))
          .groupBy("label")
          .agg(Shared.fsum(transform(
            array_sort(collect_list(struct(col("dim"), col("var_d")))),
            e => e.getField("var_d"))).as("wtrace"),
            max(col("n")).as("n"))
        val a = stats.select(col("label").as("la"), col("dim"),
          (col("sx").cast("double") / col("n").cast("double")).as("ma"))
        val b = stats.select(col("label").as("lb"), col("dim"),
          (col("sx").cast("double") / col("n").cast("double")).as("mb"))
        val between = a.join(b, "dim").filter(col("la") < col("lb"))
          .withColumn("t", (col("ma") - col("mb")) * (col("ma") - col("mb")))
          .groupBy("la", "lb")
          .agg(Shared.fsum(transform(
            array_sort(collect_list(struct(col("dim"), col("t")))),
            e => e.getField("t"))).as("dist2"))
        between
          .join(within.select(col("label").as("la"), col("wtrace").as("wa")),
            "la")
          .join(within.select(col("label").as("lb"), col("wtrace").as("wb")),
            "lb")
          .select(col("la").as("label_a"), col("lb").as("label_b"),
            col("dist2"), col("wa"), col("wb"),
            // zero scatter (degenerate constant classes) → NULL, pinned
            // identically via NULLIF in the oracle: ANSI Spark would
            // throw on the bare division, DuckDB would return NULL
            when(col("wa") + col("wb") === 0.0, lit(null).cast("double"))
              .otherwise(col("dist2") / (col("wa") + col("wb")))
              .as("separability"))
      },
      Some("""WITH e AS (SELECT CAST(label AS BIGINT) AS label,
                  CAST(i AS BIGINT) AS dim,
                  CAST(CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                    AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xi
                FROM embeddings, range(1, 65) t(i)),
              stats AS (SELECT label, dim, count(*) AS n,
                  sum(xi) AS sx, sum(xi * xi) AS qx
                FROM e GROUP BY 1, 2),
              vd AS (SELECT label, dim, n,
                  (CAST(qx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS var_d,
                  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu
                FROM stats),
              wt AS (SELECT label,
                  list_aggregate(list(var_d ORDER BY dim), 'sum') AS wtrace
                FROM vd GROUP BY 1),
              bt AS (SELECT a.label AS la, b.label AS lb,
                  list_aggregate(
                    list((a.mu - b.mu) * (a.mu - b.mu) ORDER BY a.dim),
                    'sum') AS dist2
                FROM vd a JOIN vd b ON a.dim = b.dim AND a.label < b.label
                GROUP BY 1, 2)
              SELECT la AS label_a, lb AS label_b, dist2,
                wa.wtrace AS wa, wb.wtrace AS wb,
                dist2 / NULLIF(wa.wtrace + wb.wtrace, 0.0) AS separability
              FROM bt JOIN wt wa ON bt.la = wa.label
                JOIN wt wb ON bt.lb = wb.label""")
    ),

    // ── EMBEDDING DRIFT (per-label centroid shift between halves) ────────
    QueryDef(
      "q232_embedding_drift",
      // The feature-drift monitor for an embedding pipeline: split the
      // corpus into two fixed vec_id-range halves (the q211 checkpoint
      // discipline — a scalar probe + map-side tag, no global sort) and
      // report each label's squared centroid shift between halves, with
      // both half sizes. A re-embedded or re-crawled batch that moved a
      // class's centroid shows up here before it breaks a downstream
      // classifier. Determinism is the q229 stack: exact micro-unit
      // BIGINT moments per (label, half, dim), pinned per-dim IEEE
      // means, fixed-order cross-dim folds.
      //
      // Shape, and why it scales: one fact pass to (label, half, dim)
      // moments; everything after lives on the labels×dims model table.
      (s, d) => {
        val base = embeddings(s, d)
        val nb = base.agg(max(col("vec_id"))).head.getLong(0) + 1
        val stats = base
          .select(col("label").cast("long").as("label"),
            expr(s"(vec_id * 2) div ${nb}L").as("half"),
            posexplode(asDouble(col("embedding"))).as(Seq("p0", "x")))
          .select(col("label"), col("half"), (col("p0") + 1).as("dim"),
            (round(col("x"), 6).cast("decimal(18,6)") * 1000000)
              .cast("long").as("xi"))
          .groupBy("label", "half", "dim")
          .agg(count(lit(1)).as("n"), sum(col("xi")).as("sx"))
          .withColumn("mu",
            col("sx").cast("double") / col("n").cast("double"))
        val a = stats.filter(col("half") === 0)
          .select(col("label"), col("dim"), col("mu").as("ma"),
            col("n").as("na"))
        val b = stats.filter(col("half") === 1)
          .select(col("label"), col("dim"), col("mu").as("mb"),
            col("n").as("nb"))
        a.join(b, Seq("label", "dim"))
          .withColumn("t", (col("ma") - col("mb")) * (col("ma") - col("mb")))
          .groupBy("label")
          .agg(max(col("na")).as("n_first"), max(col("nb")).as("n_second"),
            Shared.fsum(transform(
              array_sort(collect_list(struct(col("dim"), col("t")))),
              e => e.getField("t"))).as("drift2"))
      },
      Some("""WITH nbs AS (SELECT max(vec_id) + 1 AS nb FROM embeddings),
              e AS (SELECT CAST(label AS BIGINT) AS label,
                  (vec_id * 2) // nb AS half, CAST(i AS BIGINT) AS dim,
                  CAST(CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                    AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xi
                FROM embeddings CROSS JOIN nbs, range(1, 65) t(i)),
              stats AS (SELECT label, half, dim, count(*) AS n,
                  CAST(sum(xi) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
                FROM e GROUP BY 1, 2, 3),
              j AS (SELECT a.label, a.dim,
                  (a.mu - b.mu) * (a.mu - b.mu) AS t,
                  a.n AS na, b.n AS nbn
                FROM stats a JOIN stats b ON a.label = b.label
                  AND a.dim = b.dim AND a.half = 0 AND b.half = 1)
              SELECT label, CAST(max(na) AS BIGINT) AS n_first,
                CAST(max(nbn) AS BIGINT) AS n_second,
                list_aggregate(list(t ORDER BY dim), 'sum') AS drift2
              FROM j GROUP BY 1""")
    ),

    // ── ANN RECALL EVAL (index quality against exact ground truth) ────────
    QueryDef(
      "q276_ann_recall",
      // The number every vector-index deployment publishes: recall@k of
      // the approximate index against exact search. Ground truth =
      // brute-force cosine top-3 per probe (the q41 shape — affordable
      // on an eval SAMPLE, which is how production recall is measured);
      // candidate = the q44 single-probe IVF top-3 over the same
      // corpus/query split. Recall per probe = |IVF ∩ exact| / 3. Ranks
      // tie-break on (cos desc, cid) in both engines; cosines are the
      // pinned dot/norm folds, so both top-3 sets and the recall
      // fractions are engine-identical.
      //
      // Shape, and why it scales: the probe set is eval-sample-sized and
      // broadcasts to both pipelines; the IVF side scans ~1/K of the
      // corpus per probe; the intersection is a (qid, cid)-keyed semi
      // join of two k-row-per-probe tables; the probe spine left-join
      // keeps zero-hit probes visible (recall 0, not a dropped row).
      (s, d) => {
        val K = 8
        val e = embeddings(s, d)
        val cent = e.filter(col("vec_id") < K)
          .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
        def assign(df: DataFrame, idc: String, vc: String): DataFrame = {
          val w = Window.partitionBy(idc)
            .orderBy(col("__d").desc, col("cent_id").asc)
          df.crossJoin(broadcast(cent))
            .withColumn("__d", dot(col(vc), col("centv")))
            .withColumn("__rk", row_number().over(w))
            .filter(col("__rk") === 1)
            .drop("__d", "__rk", "centv")
        }
        val corpus0 = e.filter(col("vec_id") >= 13)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"))
        val qs0 = e.filter(col("vec_id").between(8, 12))
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val wTop = Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid").asc)
        val exact = broadcast(qs0).crossJoin(corpus0)
          .withColumn("cos", dot(col("qv"), col("cv")) /
            (norm(col("qv")) * norm(col("cv"))))
          .withColumn("rk", row_number().over(wTop))
          .filter(col("rk") <= 3).select("qid", "cid")
        val ivf = broadcast(assign(qs0, "qid", "qv"))
          .join(assign(corpus0, "cid", "cv"), "cent_id")
          .withColumn("cos", dot(col("qv"), col("cv")) /
            (norm(col("qv")) * norm(col("cv"))))
          .withColumn("rk", row_number().over(wTop))
          .filter(col("rk") <= 3).select("qid", "cid")
        val hits = ivf.join(exact, Seq("qid", "cid"), "left_semi")
          .groupBy("qid").agg(count(lit(1)).as("n"))
        qs0.select("qid").join(hits, Seq("qid"), "left")
          .select(col("qid"),
            coalesce(col("n"), lit(0L)).as("n_hits"),
            (coalesce(col("n"), lit(0L)).cast("double") / 3.0).as("recall"))
      },
      Some(s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS centv
                FROM embeddings WHERE vec_id < 8),
              corpus AS (SELECT vec_id AS cid, embedding AS cv
                FROM embeddings WHERE vec_id >= 13),
              qs AS (SELECT vec_id AS qid, embedding AS qv
                FROM embeddings WHERE vec_id BETWEEN 8 AND 12),
              exact AS (SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid
                    ORDER BY ${SQL_DOT("qv", "cv")} /
                      (${SQL_NORM("qv")} * ${SQL_NORM("cv")}) DESC, cid)
                  AS rk
                FROM qs CROSS JOIN corpus) WHERE rk <= 3),
              corpus_a AS (SELECT cid, cv, cent_id FROM (
                SELECT cid, cv, cent_id,
                  row_number() OVER (PARTITION BY cid
                    ORDER BY ${SQL_DOT("cv", "centv")} DESC, cent_id) AS rk
                FROM corpus, cent) WHERE rk = 1),
              q_a AS (SELECT qid, qv, cent_id FROM (
                SELECT qid, qv, cent_id,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY ${SQL_DOT("qv", "centv")} DESC, cent_id) AS rk
                FROM qs, cent) WHERE rk = 1),
              ivf AS (SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid
                    ORDER BY ${SQL_DOT("qv", "cv")} /
                      (${SQL_NORM("qv")} * ${SQL_NORM("cv")}) DESC, cid)
                  AS rk
                FROM q_a JOIN corpus_a USING (cent_id)) WHERE rk <= 3),
              hits AS (SELECT i.qid, count(*) AS n FROM ivf i
                JOIN exact x ON i.qid = x.qid AND i.cid = x.cid
                GROUP BY 1)
              SELECT qs.qid, CAST(coalesce(n, 0) AS BIGINT) AS n_hits,
                CAST(coalesce(n, 0) AS DOUBLE) / 3.0 AS recall
              FROM qs LEFT JOIN hits ON qs.qid = hits.qid""")
    )
  )

  /** The q159/q172 oracle: 2 unrolled Lloyd iterations (assignment +
    * rounded-decimal mean update), then the multi-probe pipeline against
    * the learned codebook — bit-identical arithmetic to the Spark path.
    */
  private def trainedIvfOracleSql: String =
    s"""WITH corpus AS (SELECT vec_id AS cid, embedding AS cv
                FROM embeddings WHERE vec_id >= 13),
              qs AS (SELECT vec_id AS qid, embedding AS qv
                FROM embeddings WHERE vec_id BETWEEN 8 AND 12),
              c0 AS (SELECT vec_id AS cent_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centv
                FROM embeddings WHERE vec_id < 8),
              a0 AS (SELECT cid, cv, cent_id FROM (
                SELECT cid, cv, cent_id,
                  row_number() OVER (PARTITION BY cid
                    ORDER BY ${SQL_DOT("cv", "centv")} DESC, cent_id) AS rk
                FROM corpus, c0) WHERE rk = 1),
              c1 AS (SELECT cent_id, list(m ORDER BY i) AS centv FROM (
                SELECT cent_id, i,
                  CAST(sum(CAST(round(CAST(cv[i] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*) AS m
                FROM a0, range(1, ${SQL_DIM + 1}) t(i)
                GROUP BY cent_id, i) GROUP BY cent_id),
              a1 AS (SELECT cid, cv, cent_id FROM (
                SELECT cid, cv, cent_id,
                  row_number() OVER (PARTITION BY cid
                    ORDER BY ${SQL_DOT("cv", "centv")} DESC, cent_id) AS rk
                FROM corpus, c1) WHERE rk = 1),
              c2 AS (SELECT cent_id, list(m ORDER BY i) AS centv FROM (
                SELECT cent_id, i,
                  CAST(sum(CAST(round(CAST(cv[i] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*) AS m
                FROM a1, range(1, ${SQL_DIM + 1}) t(i)
                GROUP BY cent_id, i) GROUP BY cent_id),
              corpus_a AS (SELECT cid, cv, cent_id FROM (
                SELECT cid, cv, cent_id,
                  row_number() OVER (PARTITION BY cid
                    ORDER BY ${SQL_DOT("cv", "centv")} DESC, cent_id) AS rk
                FROM corpus, c2) WHERE rk = 1),
              q_a AS (SELECT qid, qv, cent_id FROM (
                SELECT qid, qv, cent_id,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY ${SQL_DOT("qv", "centv")} DESC, cent_id) AS rk
                FROM qs, c2) WHERE rk <= 2),
              scored AS (SELECT qid, cid,
                ${SQL_DOT("qv", "cv")} / (${SQL_NORM("qv")} * ${SQL_NORM("cv")}) AS cos
                FROM q_a JOIN corpus_a USING (cent_id))
              SELECT qid, cid, cos,
                CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
              FROM scored
              QUALIFY rk <= 3"""

  /** Probe an ingest-time cent_id-partitioned corpus layout (q168/q172):
    * materialize the layout once per (process, dataset, codebook) under
    * `tag`, collect the ≤ nprobe·|queries| probed centroid ids as a
    * model-sized literal IN filter, and exact-re-rank within the probed
    * partitions. The partition filter is STATIC — the plan never touches
    * the unprobed K−nprobe/K of the corpus files. Tags: "ivfpart" = fixed
    * seed codebook (q168), "ivfpart_tr" = trained codebook (q172); the
    * first caller per tag pays the assignment + write ([[Shared.memo]]).
    */
  private def ivfPartitionedProbe(s: SparkSession, d: String, tag: String,
      cents: Option[DataFrame]): DataFrame = {
    val root = Shared.memo(tag, d) { r =>
      ivfCorpusAssign(s, d, cents).write.mode("overwrite")
        .partitionBy("cent_id").parquet(r)
      r
    }
    val probes = ivfQueryProbes(s, d, nprobe = 2, cents)
    // probed partitions as literals (partition values infer as int)
    val probed = probes.select("cent_id").distinct().collect()
      .map(_.getLong(0).toInt)
    val corpus = s.read.parquet(root)
      .filter(col("cent_id").isin(probed: _*))
      .withColumn("cent_id", col("cent_id").cast("long"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    broadcast(probes).join(corpus, "cent_id")
      .withColumn("cos", dot(col("qv"), col("cv")) /
        (norm(col("qv")) * norm(col("cv"))))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("qid", "cid", "cos", "rk")
  }

  /** PQ sub-centroid table (cent, m, scv): the M=8 8-dim slices of the
    * K=8 seed vectors — q186's sub-codebooks, shared by the encoder
    * (layout build) and the query-side LUT. Model-sized (64 rows).
    */
  private def pqSubCents(s: SparkSession, d: String): DataFrame = {
    val M = 8; val SUB = 8; val K = 8
    val slices = (0 until M).map(m => struct(lit(m).as("m"),
      slice(asDouble(col("embedding")), m * SUB + 1, SUB).as("sv")))
    embeddings(s, d).filter(col("vec_id") < K)
      .select(col("vec_id").as("cent"), explode(array(slices: _*)).as("s"))
      .select(col("cent"), col("s.m").as("m"), col("s.sv").as("scv"))
  }

  /** The IVF-PQ index layout (q189): corpus coarse-assigned to the fixed
    * seed centroids and PQ-ENCODED AT INGEST — each partition directory
    * stores only (cid, m, code) rows, the 3-byte-per-vector serving
    * index; raw corpus floats never leave the build job. Materialized
    * once per (process, dataset) by [[Shared.memo]].
    */
  private[graft] def ivfPqLayout(s: SparkSession, d: String): String =
    Shared.memo("ivfpq", d) { r =>
      pqEncode(s, d, ivfCorpusAssign(s, d, None))
        .write.mode("overwrite").partitionBy("cent_id").parquet(r)
      r
    }

  /** The q189/q198 oracle: coarse assignment + PQ codes + ADC from
    * first principles — shared because the incremental index must
    * answer identically to the one-shot rebuild.
    */
  private lazy val ivfPqOracleSql: String =
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS centv
                FROM embeddings WHERE vec_id < 8),
              corpus AS (SELECT vec_id AS cid, embedding AS v
                FROM embeddings WHERE vec_id >= 13),
              corpus_a AS (SELECT cid, v, cent_id FROM (
                SELECT cid, v, cent_id,
                  row_number() OVER (PARTITION BY cid
                    ORDER BY ${SQL_DOT("v", "centv")} DESC, cent_id) AS rk
                FROM corpus, cent) WHERE rk = 1),
              qs AS (SELECT vec_id AS qid, embedding AS qv
                FROM embeddings WHERE vec_id BETWEEN 8 AND 12),
              q_a AS (SELECT qid, qv, cent_id FROM (
                SELECT qid, qv, cent_id,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY ${SQL_DOT("qv", "centv")} DESC, cent_id) AS rk
                FROM qs, cent) WHERE rk <= 2),
              sc AS (SELECT cent, CAST(m AS BIGINT) AS m,
                  list_transform(range(CAST(m*8+1 AS INT), CAST(m*8+9 AS INT)),
                    i -> CAST(centv[i] AS DOUBLE)) AS scv
                FROM cent c(cent, centv), (SELECT unnest(range(8)) AS m)),
              cd AS (SELECT cid, m, cent,
                  list_aggregate(list_transform(range(1, 9),
                    i -> CAST(v[CAST(m*8 AS INT) + i] AS DOUBLE) * scv[i]),
                    'sum') AS dotv
                FROM corpus_a, sc),
              codes AS (SELECT cid, m, cent AS code FROM (
                SELECT cid, m, cent, row_number() OVER (PARTITION BY cid, m
                  ORDER BY dotv DESC, cent) AS rk FROM cd) WHERE rk = 1),
              lut AS (SELECT qid, m, cent,
                  list_aggregate(list_transform(range(1, 9),
                    i -> CAST(qv[CAST(m*8 AS INT) + i] AS DOUBLE) * scv[i]),
                    'sum') AS qdot
                FROM qs, sc),
              cand AS (SELECT qid, cid FROM q_a JOIN corpus_a USING (cent_id)),
              adc AS (SELECT cand.qid, codes.cid,
                  list_aggregate(list(qdot ORDER BY codes.m), 'sum') AS adc,
                  CAST(sum(code * (8 ** codes.m)) AS BIGINT) AS code_packed
                FROM cand JOIN codes USING (cid)
                  JOIN lut ON lut.qid = cand.qid AND codes.m = lut.m
                    AND codes.code = lut.cent
                GROUP BY 1, 2)
              SELECT qid, cid, code_packed, adc,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY adc DESC, cid) AS BIGINT) AS rk
              FROM adc QUALIFY rk <= 3"""

  /** The IVF-PQ probe over any code layout root: statically pruned code
    * scan + broadcast ADC LUT + fixed-order fold — q189's query body,
    * shared with the incremental index (q198).
    */
  private[graft] def ivfPqProbe(s: SparkSession, d: String,
      root: String): DataFrame = {
    val K = 8
    val probes = ivfQueryProbes(s, d, nprobe = 2, None)
    val probed = probes.select("cent_id").distinct().collect()
      .map(_.getLong(0).toInt)
    val idx = s.read.parquet(root)
      .filter(col("cent_id").isin(probed: _*))
      .withColumn("cent_id", col("cent_id").cast("long"))
    val lut = pqQueryLut(s, d)
      .select(col("qid").as("lqid"), col("m").as("lm"),
        col("cent").as("lcent"), col("qdot"))
    val wTop = Window.partitionBy("qid")
      .orderBy(col("adc").desc, col("cid").asc)
    broadcast(probes.select("cent_id", "qid")).join(idx, "cent_id")
      .join(broadcast(lut),
        col("qid") === col("lqid") && col("m") === col("lm") &&
          col("code") === col("lcent"))
      .groupBy(col("qid"), col("cid"))
      .agg(
        Shared.fsum(transform(
          array_sort(collect_list(struct(col("m").as("m"),
            col("qdot").as("qd")))),
          e2 => e2.getField("qd"))).as("adc"),
        sum(col("code") * pow(lit(K), col("m")).cast("long"))
          .cast("long").as("code_packed"))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= 3)
      .select("qid", "cid", "code_packed", "adc", "rk")
  }

  /** q198's two-phase index: the SAME (cid, cent_id, m, code) rows as
    * [[ivfPqLayout]], but built INCREMENTALLY — the base batch (odd corpus
    * vec_ids) is written first, then the delta batch (even) is encoded
    * with the same frozen codebooks and APPENDED partition-wise, never
    * touching the base files. This is production index maintenance: new
    * corpus arrives, only its codes are computed and written; probes read
    * the union. The q189-vs-q198 hash match (same oracle) plus the
    * row-set spec prove append ≡ one-shot rebuild.
    */
  private[graft] def ivfPqLayoutIncremental(s: SparkSession, d: String): String =
    Shared.memo("ivfpq_inc", d) { r =>
      pqEncode(s, d, ivfCorpusAssign(s, d, None)
          .filter(col("cid") % 2 === 1))
        .write.mode("overwrite").partitionBy("cent_id").parquet(r)
      pqEncode(s, d, ivfCorpusAssign(s, d, None)
          .filter(col("cid") % 2 === 0))
        .write.mode("append").partitionBy("cent_id").parquet(r)
      r
    }

  /** PQ-encode an assigned corpus slice: (cid, cent_id, cv) → one
    * (cid, cent_id, m, code) row per subspace — the shared encoder of
    * [[ivfPqLayout]] and the incremental delta path.
    */
  private def pqEncode(s: SparkSession, d: String,
      assigned: DataFrame): DataFrame = {
    val M = 8; val SUB = 8
    val slices = (0 until M).map(m => struct(lit(m).as("m"),
      slice(asDouble(col("cv")), m * SUB + 1, SUB).as("sv")))
    val sub = assigned
      .select(col("cid"), col("cent_id"), explode(array(slices: _*)).as("s"))
      .select(col("cid"), col("cent_id"),
        col("s.m").as("m"), col("s.sv").as("cv8"))
    val wCode = Window.partitionBy("cid", "m")
      .orderBy(col("dotv").desc, col("cent").asc)
    sub.join(broadcast(pqSubCents(s, d)), "m")
      .withColumn("dotv", dot(col("cv8"), col("scv")))
      .withColumn("rk", row_number().over(wCode))
      .filter(col("rk") === 1)
      .select(col("cid"), col("cent_id"), col("m"), col("cent").as("code"))
  }

  /** q189's query-side ADC lookup table (qid, m, cent, qdot): each query
    * slice dotted against every sub-centroid — model-sized (5·64 rows),
    * broadcast to the code scan.
    */
  private def pqQueryLut(s: SparkSession, d: String): DataFrame = {
    val M = 8; val SUB = 8
    val slices = (0 until M).map(m => struct(lit(m).as("m"),
      slice(asDouble(col("embedding")), m * SUB + 1, SUB).as("sv")))
    embeddings(s, d).filter(col("vec_id").between(8, 12))
      .select(col("vec_id").as("qid"), explode(array(slices: _*)).as("s"))
      .select(col("qid"), col("s.m").as("m"), col("s.sv").as("qv8"))
      .join(broadcast(pqSubCents(s, d)), "m")
      .withColumn("qdot", dot(col("qv8"), col("scv")))
      .select(col("qid"), col("m"), col("cent"), col("qdot"))
  }

  /** q126's corpus→centroid argmax assignment (vid, v, cent_id), memoized
    * to scratch parquet per (process, dataset) by [[Shared.memo]]: first
    * caller pays the one corpus scan + broadcast argmax,
    * every consumer reads the scratch. See the q126 scaladoc for why this
    * replaced exchange reuse (the count branch re-derived the corpus
    * pass).
    */
  private[graft] def semdedupAssigned(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("semdedup", d) { r =>
      val K = 8
      val cent = Tables.embeddings(s, d).filter(col("vec_id") < K)
        .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
      val w = Window.partitionBy("vid")
        .orderBy(col("__d").desc, col("cent_id").asc)
      embeddings(s, d)
        .select(col("vec_id").as("vid"), col("embedding").as("v"))
        .crossJoin(broadcast(cent))
        .withColumn("__d", dot(col("v"), col("centv")))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select("vid", "v", "cent_id")
        .write.mode("overwrite").option("compression", "lz4")
        .parquet(r)
      r
    })
}
