package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis + deduplication operators over the `documents` table
  * (BASELINE.json north-star extensions; SURVEY.md §2.4).
  *
  * Everything here is expressed as declarative DataFrame transforms so
  * Catalyst keeps the whole pipeline in whole-stage codegen; no UDFs, no
  * driver-side loops. The MinHash/SimHash hash family is md5-seeded (the
  * one digest both engines share, computed once per shingle/token) with
  * integer affine transforms per seed — exactly reproducible in the DuckDB
  * oracle since all arithmetic stays below 2^53.
  *
  * Scale notes (100 TB posture):
  *  - exact dedup and fingerprinting are single shuffle-free scans or one
  *    hash aggregation on the content hash;
  *  - MinHash-LSH candidate generation is the banding self-join — cost is
  *    bounded by band-bucket sizes, never all-pairs;
  *  - the all-pairs n-gram Jaccard (q36) is deliberately bounded to a small
  *    deterministic subset; the LSH path (q38) is the at-scale variant.
  */
object TextQueries {

  // tokenization + the 32-bit md5-prefix hash family live in [[Shared]]
  import Shared.{tokens, SQL_TOKENS, h32, SQL_H32,
    minLabelComponents, withCheckpointDir}

  /** word 3-shingles in document order (duplicates preserved); empty array
    * for docs shorter than 3 tokens. Built from the PASSED column via
    * slices + zip_with (an expr() string would capture a column literally
    * named "t" regardless of argument).
    */
  private def rawShingles(t: Column): Column = {
    val n = size(t)
    val joined = zip_with(
      slice(t, lit(1), n - 2),
      zip_with(slice(t, lit(2), n - 2), slice(t, lit(3), n - 2),
        (b, c) => concat(b, lit(" "), c)),
      (a, bc) => concat(a, lit(" "), bc))
    when(n >= 3, joined).otherwise(array().cast("array<string>"))
  }

  /** distinct word 3-shingles (set semantics, for Jaccard/MinHash) */
  private def shingles(t: Column): Column = array_distinct(rawShingles(t))

  private val NUM_HASHES = 16
  private val BANDS = 4
  private val ROWS_PER_BAND = NUM_HASHES / BANDS

  // Per-seed MinHash values derive from Shared.h32 with cheap affine
  // transforms (the universal-hash family h_j(x) = (a_j·h(x) + b_j) mod
  // 2^32) instead of a fresh md5 per seed — 16× less digest work on the
  // hot path. a_j·h < 2^20·2^32 = 2^52, so every intermediate is exact in
  // both Long and DOUBLE-free BIGINT math.
  /** deterministic LCG-derived affine constants (a_j odd, both < 2^20) */
  private def hashA(j: Int): Long = ((1103515245L * (j + 1) + 12345) % 1048576) | 1L
  private def hashB(j: Int): Long = (1103515245L * (j + 101) + 12345) % 1048576

  /** MinHash for seed j over a precomputed base-hash array */
  private def minhash(shh: Column, j: Int): Column =
    array_min(transform(shh, h =>
      (h * lit(hashA(j)) + lit(hashB(j))) % lit(4294967296L)))

  // NOTE(measured): packing all NUM_HASHES seeds into data-side literal
  // arrays (zip_with over seeds, nested transform) shrinks the expression
  // tree but ran ~3× slower at sf0.1 (0.38s → 1.1-1.6s for q37): nested
  // interpreted HOF lambdas lose to the unrolled per-seed expressions.
  // Keep the unrolled form; the fixed analysis cost is paid once per plan.

  // ── SQL fragments shared by the DuckDB oracles (rest in [[Shared]]) ────
  private def SQL_SHINGLES(t: String) =
    s"list_distinct(list_transform(range(1, len($t)-1), i -> $t[i] || ' ' || $t[i+1] || ' ' || $t[i+2]))"
  private def SQL_MINHASH(j: Int) =
    s"list_aggregate(list_transform(shh, h -> (h * ${hashA(j)} + ${hashB(j)}) % 4294967296), 'min')"

  /** Banded LSH keys (doc_id, band, bh) for ANY (doc_id, text) frame —
    * batch or streaming: the q38 signature pipeline without the
    * batch-only repartition (a streaming source brings its own
    * partitioning). Shared with [[graft.streaming.EventStream]]'s online
    * near-dup operator so the two surfaces can never drift.
    */
  private[graft] def bandKeys(docs: DataFrame): DataFrame = {
    val base = docs
      .filter(size(tokens(col("text"))) >= 3)
      .withColumn("t", tokens(col("text")))
      .withColumn("sh", shingles(col("t")))
      .withColumn("shh", transform(col("sh"), h32(_)))
    base
      .select(col("doc_id") +:
        (0 until NUM_HASHES).map(j => minhash(col("shh"), j).as(s"mh$j")): _*)
      .select(col("doc_id"), explode(array((0 until BANDS).map(b =>
        struct(lit(b).as("band"),
          md5(concat_ws(",", (0 until ROWS_PER_BAND).map(r =>
            col(s"mh${b * ROWS_PER_BAND + r}")): _*)).as("bh"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** documents with doc_id, sh (distinct 3-shingles) — both engines.
    *
    * The round-robin repartition spreads the compute-bound shingle→minhash
    * stage across all cores: the test corpus is a single small parquet file
    * (one input split), and the shuffle moves only the raw text — orders of
    * magnitude smaller than the md5 signature expansion it precedes. At
    * cluster scale input splits are already abundant and the exchange is
    * reused across every consumer of the shingle table in one query plan.
    */
  private def withShingles(s: SparkSession, d: String,
      nonEmpty: Boolean = false): DataFrame = {
    val docs = Tables.documents(s, d)
    // A post-shingle `size(sh) > 0` filter would be predicate-pushed BELOW
    // the repartition and evaluate the whole shingle pipeline serially on
    // the pre-shuffle split. Filter on the equivalent cheap token-count
    // predicate before the shuffle instead (≥3 tokens ⟺ ≥1 shingle).
    val pre = if (nonEmpty)
      docs.filter(size(tokens(col("text"))) >= 3) else docs
    pre
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("t", tokens(col("text")))
      .withColumn("sh", shingles(col("t")))
  }
  private val SQL_WITH_SHINGLES =
    s"""WITH tok AS (SELECT doc_id, $SQL_TOKENS AS t FROM documents),
        shingled AS (SELECT doc_id, ${SQL_SHINGLES("t")} AS sh FROM tok)"""

  /** Per-document 32-bit SimHash fingerprint: each token hashes to 32 bits
    * (first 8 md5 hex chars); bit b is set iff the token-frequency-weighted
    * ±1 sum at position b is positive. A per-row sequential fold — zero
    * shuffle, pure whole-stage codegen.
    */
  private def simhashFingerprints(s: SparkSession, d: String): DataFrame = {
    // map tokens → 32-bit hashes FIRST (one md5 per token; the fold below
    // then references each bound hash value, never re-hashing)
    val hv = transform(tokens(col("text")), t => h32(t))
    // Bit lanes iterate over a DATA-side sequence(0,31) instead of 32
    // unrolled expression copies: the expression tree is ~32× smaller, so
    // analysis + codegen compile time stops dominating this per-row stage
    // (the unrolled form cost ~0.5s of fixed Janino work per action).
    val bits = sequence(lit(0), lit(31))
    val counts = aggregate(
      hv,
      array_repeat(lit(0L), 32),
      (acc, h) =>
        zip_with(acc, bits, (a, b) =>
          a + call_function("shiftright", h, b).bitwiseAND(lit(1L)) * lit(2L)
            - lit(1L)))
    val fp = aggregate(
      zip_with(col("counts"), bits, (c, b) =>
        when(c > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L),
      (a, x) => a + x)
    Tables.documents(s, d)
      // single input split; spread the hash fold (see withShingles scaladoc)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("counts", counts)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** DuckDB mirror of [[simhashFingerprints]] (integer sums commute, so the
    * oracle's unnest+GROUP BY form is value-identical to the Spark fold). */
  private val SQL_SIMHASH_FP =
    s"""WITH tok AS (SELECT doc_id, unnest($SQL_TOKENS) AS t FROM documents),
       h AS (SELECT doc_id, CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) AS hv FROM tok),
       bits AS (SELECT doc_id, b,
         CASE WHEN sum(((hv >> CAST(b AS INT)) & 1) * 2 - 1) > 0
              THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END AS v
         FROM h, (SELECT unnest(range(32)) AS b) GROUP BY doc_id, b),
       fp AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS simhash
              FROM bits GROUP BY doc_id)"""

  /** winnowing constants: K-token rolling hash, min of W consecutive.
    * M = 2^20 keeps every intermediate exact (token-hash and power both
    * < M ⟹ products < 2^40, the 8-term sum < 2^43 — far below 2^53) while
    * giving the fingerprint space enough selectivity that the q154 bucket
    * join's pair counts track true overlap, not hash collisions.
    */
  private val WIN_K = 8
  private val WIN_W = 4
  private val WIN_M = 1048576L

  /** q174 banding constants, shared by the Spark plan AND its oracle SQL
    * (r8 ADVICE: the degenerate-slice cap is part of the declared
    * contract, so the two sides must cite ONE definition): 4 bands of 8
    * bits over the 32-bit simhash; band slices shared by more than
    * [[SIMHASH_SLICE_CAP]] docs are corpus boilerplate, not near-dup
    * signal, and are excluded from pair generation on both engines.
    */
  private val SIMHASH_BANDS = 4
  private val SIMHASH_SLICE_CAP = 4096L

  /** SQL-expr string: all ordered (i < j) element pairs of array column
    * `arr`, each rendered by `mk(x, y)` — the per-bucket pair generator
    * q38 and q154 share (array HOFs, never a self-join).
    */
  private def pairExpr(arr: String, mk: (String, String) => String): String =
    s"flatten(transform($arr, (x, i) -> " +
      s"transform(slice($arr, i + 2, size($arr)), y -> ${mk("x", "y")})))"

  /** Shared DuckDB scaffold for the winnow oracles (q152, q154): the
    * tok → hxt → whs → fpcte chain ending in per-doc fingerprint sets.
    * ONE definition so the two oracles can never drift from each other
    * or from the Spark-side constants.
    */
  private lazy val SQL_WINNOW_CTES: String = {
    val K = WIN_K; val W = WIN_W; val M = WIN_M
    val pow = Array.iterate(1L, K)(p => p * 31L % M).reverse
    val terms = (0 until K).map(j =>
      s"(hx[i+$j] * ${pow(j)}) % $M").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, $SQL_TOKENS AS t FROM documents),
        hxt AS (SELECT doc_id,
          list_transform(t, x -> ${SQL_H32("x")} % $M) AS hx
          FROM tok WHERE len(t) >= ${K + W - 1}),
        whs AS (SELECT doc_id, len(hx) - ${K - 1} AS nwin,
          list_transform(range(1, len(hx) - ${K - 1} + 1),
            i -> ($terms) % $M) AS wh
          FROM hxt),
        fpcte AS (SELECT doc_id, nwin, wh,
          list_distinct(list_transform(range(1, nwin - ${W - 1} + 1),
            i -> list_aggregate(wh[i:i+${W - 1}], 'min'))) AS fps
          FROM whs)"""
  }

  /** The PURE winnowing ladder (no materialization): columns doc_id,
    * source, nwin, wh (all window hashes), fps (distinct winnowed
    * fingerprints). Exposed separately so PlanSpec can assert the ladder
    * itself plans as one documents scan with zero joins; every query-facing
    * consumer goes through [[winnowFingerprints]], which materializes this
    * frame to scratch parquet first. See q152's scaladoc for the exact
    * integer-arithmetic contract shared with the oracle.
    */
  private[graft] def winnowLadder(s: SparkSession, d: String): DataFrame = {
    val K = WIN_K; val W = WIN_W; val M = WIN_M
    // 31^(K-1-j) mod M, j = 0..K-1 — precomputed literals, shared
    // verbatim with the SQL oracle
    val pow = Array.iterate(1L, K)(p => p * 31L % M).reverse
    val t = tokens(col("text"))
    val hx = transform(t, x => h32(x) % lit(M))
    val nWin = size(col("hx")) - (K - 1)
    // Every expression below is TOTAL for any row — no conditional
    // branches, just clamped bounds: a downstream generator (q154's
    // explode) plants an implicit predicate on fps that Catalyst may
    // reorder BELOW the row filter, so these get evaluated on rows the
    // filter would have dropped, where sequence(1, n<=0) would run
    // DESCENDING and slice would see start 0. greatest(·, 1) keeps the
    // sequences ascending, and try_element_at turns the then-possible
    // out-of-bounds lookups into nulls instead of ANSI errors; such rows
    // produce one garbage [null] window that the ≥ K+W-1 token filter
    // discards, and on every surviving row the values are identical to
    // the unclamped form.
    val wh = transform(sequence(lit(1), greatest(col("nwin"), lit(1))), i =>
      (0 until K).map(j =>
        try_element_at(col("hx"), (i + lit(j)).cast("int")) * lit(pow(j)) % lit(M))
        .reduce(_ + _) % lit(M))
    val fps = array_distinct(transform(
      sequence(lit(1), greatest(col("nwin") - (W - 1), lit(1))), i =>
        array_min(slice(col("wh"), i.cast("int"), lit(W)))))
    Tables.documents(s, d)
      // ≥ K+W-1 tokens ⟺ ≥ 1 winnow window; cheap pre-shuffle filter,
      // then spread the per-row hash ladder across cores (see
      // withShingles scaladoc)
      .filter(size(tokens(col("text"))) >= K + W - 1)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("hx", hx)
      .withColumn("nwin", nWin)
      .withColumn("wh", wh)
      .withColumn("fps", fps)
      .select(col("doc_id"), col("source"), col("nwin"), col("wh"), col("fps"))
  }

  /** Per-document winnowing fingerprint sets, MATERIALIZED to scratch
    * parquet before any consumer reads them (r4 verdict task 1).
    *
    * Why materialize: the hx → wh → fps expression ladder is one huge
    * projection (8 rolling-hash terms per window, HOF lambdas throughout).
    * Left inline, its generated/interpreted code is large enough that
    * JIT/code-cache pressure in a full-suite run made its cost
    * nondeterministic by ~7× (driver r4: q154 8.66 s vs 1.22 s isolated).
    * Writing the ladder output to scratch parquet evaluates it in exactly
    * ONE well-isolated stage per query invocation; everything downstream
    * (explode, bucket aggregation, containment join) reads plain parquet
    * columns with ordinary small expressions. The write is INSIDE the
    * query function, so benchmarks time the honest end-to-end cost.
    *
    * MEMOIZED per (process, dataset dir): the ladder is a pure function of
    * the documents table, and four suite queries consume it (q152, q154,
    * q155, q158). Before r6 each invocation re-ran the wide-projection
    * stage and rewrote scratch — four times per suite — which amplified
    * machine load into the gated bench total (driver r5: q154 spread
    * [3.5 s, 60.9 s] vs 1.7 s idle). Now the FIRST caller materializes the
    * full ladder once and the rest re-read the same parquet; `keep`
    * becomes a read-side projection, which parquet column pruning serves
    * just as cheaply as the old write-side pruning (wh — one hash per
    * token window, by far the widest column — is only ever decoded for
    * q152). [[Shared.memo]] keys it on the dataset, so distinct inputs
    * never share scratch, and serializes concurrent first callers so the
    * write happens exactly once.
    *
    * At 100 TB this is a deliberate O(fingerprints) scratch write — the
    * price of a deterministic constant factor on the flagship
    * partial-overlap dedup path, same shape as the q150 delta pattern —
    * and memoization makes it once per job rather than once per consumer.
    */
  private[graft] def winnowFingerprints(s: SparkSession, d: String,
      keep: Seq[String] = Seq("doc_id", "source", "nwin", "wh", "fps")): DataFrame = {
    s.read.parquet(Shared.memo("winnow", d) { r =>
      winnowLadder(s, d).write.mode("overwrite").option("compression", "lz4")
        .parquet(r)
      r
    }).select(keep.map(col): _*)
  }

  /** Winnow near-dup components — q154's pairs transitively closed
    * (Shared.minLabelComponents) — memoized to scratch parquet exactly
    * like the ladder above: q158 (cluster sizes) and q165 (representative
    * election) consume the identical label table, and the fixpoint is the
    * expensive part (checkpointed rounds), so the second consumer reads
    * a pair-graph-sized parquet instead of re-running it ([[Shared.memo]]).
    */
  private[graft] def winnowComponents(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("winnowcomp", d) { r =>
      val edges = winnowPairs(s, d).select("a", "b")
      val nodes = edges.select(col("a").as("id"))
        .union(edges.select(col("b").as("id"))).distinct()
      minLabelComponents(s, nodes, edges)
        .write.mode("overwrite").parquet(r)
      r
    })

  /** q154's body — winnow-fingerprint candidate pairs (a, b, n_shared) —
    * exposed so q158 can close them into clusters. See q154's scaladoc
    * for the bucket-cap and >= 2-shared-fingerprints contracts.
    *
    * MEMOIZED (r8 verdict task 5): FOUR suite queries sit on this pair
    * table — q154 itself, q158's closure (via [[winnowComponents]]),
    * q165's representative election, and the q166 capstone — and before
    * r9 each re-ran the bucket explode + capped agg + in-bucket pair
    * HOFs from the fingerprint scratch. [[Shared.memo]]: first caller
    * pays one materialization (attributed to it in the bench's memo
    * ledger), everyone else reads a pair-graph-sized parquet.
    */
  private[graft] def winnowPairs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("winnowpairs", d) { r =>
      winnowPairsLineage(s, d).write.mode("overwrite")
        .option("compression", "lz4").parquet(r)
      r
    })

  private[graft] def winnowPairsLineage(s: SparkSession, d: String): DataFrame =
    winnowFingerprints(s, d, Seq("doc_id", "fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .groupBy("fp")
      .agg(sort_array(
        graft.functions.agg.collectListCapped(col("doc_id"), 64)).as("ids"))
      .filter(size(col("ids")).between(2, 64))
      .select(explode(expr(pairExpr("ids", (x, y) =>
        s"struct($x AS a, $y AS b)"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)

  /** Skew-salted winnow pairs (r5 verdict task 8): q154 DROPS buckets
    * above the cap outright — correct for pair generation (a fingerprint
    * shared by everything is boilerplate, and its pair count is
    * quadratic), but the *evidence* that two documents also share hot
    * fingerprints vanished with the bucket. This variant keeps cold-bucket
    * pair semantics BIT-IDENTICAL to q154 (same explode → capped member
    * list → in-bucket pair HOFs → ≥2-shared filter) and adds
    * `n_hot_shared`: for every surviving pair, the exact count of HOT
    * fingerprints (bucket > `hotAt` members) both endpoints carry.
    *
    * Skew mechanics, in two places:
    *   - membership aggregation is TWO-LEVEL SALTED: level 1 groups by
    *     (fp, doc_id mod 8) with the capped collect bounding every
    *     per-key buffer at O(hotAt), level 2 merges the ≤8 partials —
    *     exact global counts (sums of partial counts) even for a
    *     fingerprint shared by half the corpus, with no single reducer
    *     ever seeing the full hot bucket's members;
    *   - hot evidence attaches by joining pairs to per-DOC hot
    *     fingerprints (docs carry bounded fingerprint sets), never by
    *     expanding the hot bucket itself — linear in pairs, the
    *     quadratic pair cost stays paid only where it's bounded.
    *
    * At `hotAt` = 64 the pair columns are exactly q154 (QueriesSpec
    * asserts equality); the declared q161 runs at `hotAt` = 2 —
    * demonstration threshold, documented there — so the hot path is
    * oracle-exercised on this corpus (whose largest real bucket is 6).
    */
  private[graft] def winnowPairsSalted(s: SparkSession, d: String,
      hotAt: Int): DataFrame = {
    val ex = winnowFingerprints(s, d, Seq("doc_id", "fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    val partial = ex.withColumn("salt", pmod(col("doc_id"), lit(8)))
      .groupBy("fp", "salt")
      .agg(count(lit(1)).as("pn"),
        graft.functions.agg.collectListCapped(col("doc_id"), hotAt + 1)
          .as("pids"))
    val buckets = partial.groupBy("fp")
      .agg(sum(col("pn")).as("n_docs"),
        flatten(collect_list(col("pids"))).as("ids0"))
    // cold buckets: every salt partial was complete (partial size ≤
    // bucket size ≤ hotAt < cap), so the flattened union is the exact
    // member set
    val pairs = buckets.filter(col("n_docs").between(2, hotAt))
      .select(sort_array(col("ids0")).as("ids"))
      .select(explode(expr(pairExpr("ids", (x, y) =>
        s"struct($x AS a, $y AS b)"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    val hotByDoc = ex.join(
      broadcast(buckets.filter(col("n_docs") > hotAt).select("fp")), "fp")
    val ha = hotByDoc.select(col("doc_id").as("a"), col("fp").as("fpa"))
    val hb = hotByDoc.select(col("doc_id").as("hbdoc"), col("fp").as("fpb"))
    pairs
      .join(ha, Seq("a"), "left_outer")
      .join(hb, col("b") === col("hbdoc") && col("fpa") === col("fpb"),
        "left_outer")
      .groupBy("a", "b", "n_shared")
      .agg(sum(when(col("fpb").isNotNull, 1L).otherwise(0L))
        .as("n_hot_shared"))
  }

  /** [[SQL_WINNOW_CTES]] extended through the q154 pair pipeline (ex → ok
    * → wpairs), shared by the q154/q158/q161 oracles so the pair
    * semantics can never drift between the pair query, its closure, and
    * the salted variant. Parameterized on the bucket cap (q161 runs the
    * same pipeline at a different threshold).
    */
  private def sqlWinnowPairCtes(cap: Int): String =
    s"""$SQL_WINNOW_CTES,
        ex AS (SELECT doc_id, unnest(fps) AS fp FROM fpcte),
        ok AS (SELECT fp FROM ex GROUP BY fp
               HAVING count(*) BETWEEN 2 AND $cap),
        wpairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
          FROM ex x JOIN ex y ON x.fp = y.fp AND x.doc_id < y.doc_id
          JOIN ok ON ok.fp = x.fp
          GROUP BY 1, 2
          HAVING count(*) >= 2)"""

  private[graft] lazy val SQL_WINNOW_PAIR_CTES: String = sqlWinnowPairCtes(64)

  val all: Seq[QueryDef] = Seq(

    // ── exact deduplication (hash-groupBy; SURVEY.md §2.4) ────────────────
    QueryDef(
      "q30_dedup_exact",
      (s, d) =>
        Tables.documents(s, d).agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"),
          countDistinct(md5(lower(regexp_replace(col("text"), "\\s+", " "))))
            .as("n_unique_norm")
        ),
      Some("""SELECT count(*) AS n_docs,
              count(DISTINCT md5(text)) AS n_unique,
              count(DISTINCT md5(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS n_unique_norm
              FROM documents"""),
      headline = true
    ),

    QueryDef(
      "q31_dedup_canonical",
      // canonical-row election per content cluster: keep min doc_id. Here the
      // cluster key is an 80-char prefix hash (the corpus has prefix dups).
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(md5(substring(col("text"), 1, 80)).as("h"))
          .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies")),
      Some("""SELECT md5(substring(text, 1, 80)) AS h,
              min(doc_id) AS canonical_id, count(*) AS n_copies
              FROM documents GROUP BY 1""")
    ),

    // ── token counting / text stats ───────────────────────────────────────
    QueryDef(
      "q32_token_stats",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("sum_tokens"),
            (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
            sum(col("n_chars")).as("sum_chars")
          ),
      Some(s"""SELECT lang, count(*) AS n_docs,
              CAST(sum(len($SQL_TOKENS)) AS BIGINT) AS sum_tokens,
              CAST(sum(len($SQL_TOKENS)) AS DOUBLE) / count(*) AS avg_tokens,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars
              FROM documents GROUP BY lang"""),
      headline = true
    ),

    // ── BPE-ish regex tokenization (subword-style pre-tokenizer) ──────────
    QueryDef(
      "q52_bpe_tokens",
      // letter runs | digit runs | single punctuation — the GPT-2-style
      // pre-tokenizer shape; counts agree exactly across engines for this
      // ASCII corpus
      (s, d) => {
        val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
        Tables.documents(s, d)
          .withColumn("n_bpe",
            size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long"))
          .withColumn("n_ws", size(tokens(col("text"))).cast("long"))
          .groupBy("lang")
          .agg(
            sum(col("n_bpe")).as("sum_bpe"),
            sum(col("n_ws")).as("sum_ws"),
            max(col("n_bpe")).as("max_bpe"))
      },
      Some(s"""SELECT lang,
              CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS sum_bpe,
              CAST(sum(len($SQL_TOKENS)) AS BIGINT) AS sum_ws,
              CAST(max(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS max_bpe
              FROM documents GROUP BY lang""")
    ),

    // ── quality scoring (length / alpha-ratio heuristics) ─────────────────
    QueryDef(
      "q33_quality_score",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("len", length(col("text")).cast("long"))
          .withColumn("alpha",
            length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long"))
          .withColumn("alpha_ratio", col("alpha").cast("double") / col("len"))
          .withColumn("quality",
            when(col("len").between(100, 400) && col("alpha_ratio") > 0.75, 1L)
              .otherwise(0L))
          .select("doc_id", "len", "alpha", "alpha_ratio", "quality"),
      Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
              CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha,
              CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                / length(text) AS alpha_ratio,
              CASE WHEN length(text) BETWEEN 100 AND 400
                   AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                       / length(text) > 0.75
                   THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS quality
              FROM documents""")
    ),

    // ── language-ID heuristic (stopword scoring) ──────────────────────────
    QueryDef(
      "q34_lang_id",
      (s, d) => {
        val txt = concat(lit(" "), lower(col("text")), lit(" "))
        def hits(w: String): Column =
          ((length(txt) - length(regexp_replace(txt, s" $w ", " "))) /
            (w.length + 1)).cast("long")
        Tables.documents(s, d)
          // regex-heavy per-row stage: spread the single input split (see
          // withShingles scaladoc for the rationale)
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("en_score", hits("the") + hits("a") + hits("and"))
          .withColumn("lang_pred",
            when(col("en_score") >= 3, "en").otherwise("unk"))
          .groupBy("lang", "lang_pred")
          .agg(count(lit(1)).as("n"), sum(col("en_score")).as("sum_score"))
      },
      Some("""WITH scored AS (
                SELECT lang,
                  CAST((length(' ' || lower(text) || ' ') - length(regexp_replace(' ' || lower(text) || ' ', ' the ', ' ', 'g'))) / 4
                     + (length(' ' || lower(text) || ' ') - length(regexp_replace(' ' || lower(text) || ' ', ' a ', ' ', 'g'))) / 2
                     + (length(' ' || lower(text) || ' ') - length(regexp_replace(' ' || lower(text) || ' ', ' and ', ' ', 'g'))) / 4
                     AS BIGINT) AS en_score
                FROM documents)
              SELECT lang, CASE WHEN en_score >= 3 THEN 'en' ELSE 'unk' END AS lang_pred,
                     count(*) AS n, CAST(sum(en_score) AS BIGINT) AS sum_score
              FROM scored GROUP BY 1, 2""")
    ),

    // ── corpus term frequency: top-k tokens per language ──────────────────
    QueryDef(
      "q56_top_terms",
      // explode → count → per-group top-k (rank window); the frequency
      // table that drives stopword lists and vocabulary builds
      (s, d) => {
        val tok = Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("lang"), explode(tokens(col("text"))).as("tok"))
        val counts = tok.groupBy("lang", "tok").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tok").asc)
        counts.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 5)
      },
      Some(s"""WITH tok AS (SELECT lang, unnest($SQL_TOKENS) AS tok FROM documents),
              c AS (SELECT lang, tok, count(*) AS n FROM tok GROUP BY 1, 2)
              SELECT lang, tok, n,
                CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS BIGINT) AS rk
              FROM c
              QUALIFY rk <= 5""")
    ),

    // ── TF-IDF (log-free exact form: tf · N / df) ─────────────────────────
    QueryDef(
      "q57_tfidf",
      // top-3 terms per document by term frequency with inverse document
      // frequency, over a bounded subset; score = tf · N / df keeps the
      // arithmetic exact across engines (a log() would differ in ulps)
      (s, d) => {
        val tok = Tables.documents(s, d).filter(col("doc_id") < 100)
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        val n = tok.select(countDistinct(col("doc_id")).as("n_docs"))
        val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tok.groupBy("term")
          .agg(countDistinct(col("doc_id")).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("tf").desc, col("term").asc)
        tf.join(df, "term").crossJoin(broadcast(n))
          .withColumn("score",
            col("tf").cast("double") * col("n_docs") / col("df"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select("doc_id", "term", "tf", "df", "score", "rk")
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($SQL_TOKENS) AS term
                FROM documents WHERE doc_id < 100),
              n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
              tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
              df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
              SELECT doc_id, term, tf, df,
                CAST(tf AS DOUBLE) * n_docs / df AS score,
                CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY tf DESC, term) AS BIGINT) AS rk
              FROM tf JOIN df USING (term) CROSS JOIN n
              QUALIFY rk <= 3""")
    ),

    // ── document fingerprinting ───────────────────────────────────────────
    QueryDef(
      "q35_fingerprint",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            substring(md5(lower(regexp_replace(col("text"), "\\s+", " "))), 1, 16)
              .as("fp")),
      Some("""SELECT doc_id,
              substring(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 16) AS fp
              FROM documents""")
    ),

    // ── winnowing fingerprints (rolling hash; Schleimer et al. 2003) ──────
    QueryDef(
      "q152_winnow_fingerprint",
      // The plagiarism-detection / partial-overlap dedup primitive the
      // whole-document hash (q35) can't provide: k-token rolling hashes,
      // winnowed to the minimum of each w-hash window, guarantee any
      // shared token run of length >= k+w-1 yields at least one shared
      // fingerprint — local overlaps surface even when documents differ
      // globally. Pure per-row array math (zero shuffle before the final
      // per-doc projection); every step is exact integer arithmetic
      // below 2^32, so both engines compute identical values:
      //   token hash   = h32(token) mod 2^20        (< 2^20)
      //   window hash  = Σ_j (hx[i+j]·31^(k-1-j) mod 2^20) mod 2^20
      //     (each term reduced BEFORE the sum: products < 2^40, the
      //      8-term sum < 2^23 — exact in BIGINT and double alike)
      //   fingerprints = distinct min of each w=4 consecutive window
      // At 100 TB the downstream join on fingerprint is a hash-shuffle
      // equi-join, same scale shape as q38's band buckets.
      (s, d) =>
        winnowFingerprints(s, d, Seq("doc_id", "nwin", "wh", "fps"))
          .select(col("doc_id"),
            col("nwin").cast("long").as("n_windows"),
            size(col("fps")).cast("long").as("n_fps"),
            array_min(col("wh")).as("min_fp")),
      Some(s"""$SQL_WINNOW_CTES
              SELECT doc_id, CAST(nwin AS BIGINT) AS n_windows,
                CAST(len(fps) AS BIGINT) AS n_fps,
                CAST(list_aggregate(wh, 'min') AS BIGINT) AS min_fp
              FROM fpcte""")
    ),

    // ── winnow-fingerprint candidate pairs (partial-overlap near-dup) ─────
    QueryDef(
      "q154_winnow_pairs",
      // The downstream join q152 exists for: pairs of documents sharing
      // winnowed fingerprints — the PARTIAL-overlap detector (MinHash/q38
      // finds globally similar documents; a shared winnow fingerprint
      // pins a shared local token run, e.g. a quoted passage or common
      // boilerplate, even in globally different documents). Shape is
      // q38's bucket pattern: explode the MATERIALIZED fingerprints
      // (scratch parquet — see winnowFingerprints for why), ONE hash
      // aggregation into per-fingerprint member lists, ordered pairs via
      // array HOFs inside each bucket, then one (a, b) count aggregation —
      // never a self-join over the fingerprint subtree, never cartesian.
      // Guards: buckets above 64 members are dropped (a fingerprint shared
      // by everything is boilerplate, not signal — and quadratic in pair
      // count) with the member list HARD-bounded at 65 entries inside the
      // aggregation buffer (agg.collectListCapped — a hot key accumulates
      // O(cap), not O(bucket), before the size filter sees it), and pairs
      // must share >= 2 fingerprints (one shared value in the 2^20 space
      // can be a collision; two is overlap evidence).
      (s, d) => winnowPairs(s, d),
      Some(s"$SQL_WINNOW_PAIR_CTES SELECT a, b, n_shared FROM wpairs")
    ),

    // ── skew-salted winnow pairs with hot-bucket evidence ─────────────────
    QueryDef(
      "q161_winnow_pairs_salted",
      // q154 with the hot-bucket blind spot closed (see winnowPairsSalted
      // for the two-level salted aggregation and the linear-in-pairs hot
      // evidence join). Runs at hotAt = 2 — a DEMONSTRATION threshold:
      // this corpus's largest real bucket is 6 members, so the production
      // cap (64, where the pair columns are exactly q154 — QueriesSpec
      // asserts that equality) would leave the hot path dead here. At
      // hotAt = 2, buckets of 3..6 members become "hot": their pairs are
      // not enumerated, but each surviving cold pair reports how many hot
      // fingerprints its endpoints share.
      (s, d) => winnowPairsSalted(s, d, hotAt = 2),
      Some(s"""${sqlWinnowPairCtes(2)},
          hot AS (SELECT fp FROM ex GROUP BY fp HAVING count(*) > 2),
          hx AS (SELECT e.doc_id, e.fp FROM ex e JOIN hot USING (fp)),
          h AS (SELECT w.a, w.b, count(*) AS c
                FROM wpairs w JOIN hx x ON x.doc_id = w.a
                JOIN hx y ON y.doc_id = w.b AND y.fp = x.fp
                GROUP BY 1, 2)
          SELECT w.a, w.b, w.n_shared,
            CAST(coalesce(h.c, 0) AS BIGINT) AS n_hot_shared
          FROM wpairs w LEFT JOIN h ON h.a = w.a AND h.b = w.b""")
    ),

    // ── winnow-pair clusters (partial-overlap dedup, closed) ─────────────
    QueryDef(
      "q158_winnow_clusters",
      // The full partial-overlap dedup pipeline, end to end: q154's
      // candidate pairs transitively closed into clusters with the SAME
      // distributed min-label fixpoint q38's output feeds (q73) — the
      // winnow analogue of the MinHash dedup path. Cluster id = min doc_id
      // (the converged label, which is also the canonical-representative
      // election). Pair graph is tiny relative to the corpus (only docs
      // sharing >= 2 winnow fingerprints), so the fixpoint rounds run on
      // checkpointed label tables orders of magnitude smaller than the
      // documents scan that produced them.
      (s, d) =>
        winnowComponents(s, d)
          .groupBy("comp").agg(count(lit(1)).as("n_members")),
      Some("WITH RECURSIVE " + SQL_WINNOW_PAIR_CTES.stripPrefix("WITH ") + """,
           wedges AS (SELECT a, b FROM wpairs
                      UNION ALL SELECT b AS a, a AS b FROM wpairs),
           wnodes AS (SELECT DISTINCT a AS id FROM wedges),
           reach AS (SELECT id, id AS r FROM wnodes
                     UNION
                     SELECT e.b, reach.r FROM reach JOIN wedges e ON e.a = reach.id),
           comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
           SELECT comp, count(*) AS n_members FROM comp GROUP BY comp""")
    ),

    // ── winnow containment score (decontamination, PaLM/GPT-3 style) ─────
    QueryDef(
      "q155_winnow_containment",
      // Per-document CONTAINMENT against a held-out benchmark source: the
      // fraction of a candidate's winnow fingerprints present anywhere in
      // the benchmark. This is the published decontamination heuristic
      // (flag a training doc when ~70% of its n-gram fingerprints appear
      // in an eval set) — q89's ANY-shared-shingle test is the recall-
      // maximal variant; containment GRADES the overlap so borderline
      // docs aren't thrown away. Two-branch shape like q89 over ONE
      // materialized fingerprint table (scratch parquet, written once per
      // invocation — see winnowFingerprints): the src0 filter pushes into
      // each branch's parquet scan, the benchmark's distinct fingerprint
      // set broadcasts, and n_fps falls out of the same exploded stream as
      // n_shared (fingerprints are distinct per doc) — one aggregation, no
      // join back. The 70% test is the exact integer cross-multiplication
      // 10·shared >= 7·total.
      (s, d) => {
        val fp = winnowFingerprints(s, d, Seq("doc_id", "source", "fps"))
        val bench = fp.filter(col("source") === "src0")
          .select(explode_outer(col("fps")).as("fp"))
          .filter(col("fp").isNotNull)
          .distinct()
          .withColumn("hit", lit(1L))
        fp.filter(col("source") =!= "src0")
          .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
          .filter(col("fp").isNotNull)
          .join(broadcast(bench), Seq("fp"), "left_outer")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_fps"),
            sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
          .withColumn("contaminated",
            when(col("n_shared") * 10 >= col("n_fps") * 7, 1L).otherwise(0L))
      },
      Some(s"""$SQL_WINNOW_CTES,
              f AS (SELECT fpcte.doc_id, d.source, fps
                    FROM fpcte JOIN documents d ON fpcte.doc_id = d.doc_id),
              bench AS (SELECT DISTINCT unnest(fps) AS fp FROM f
                        WHERE source = 'src0'),
              ex AS (SELECT doc_id, unnest(fps) AS fp FROM f
                     WHERE source <> 'src0')
              SELECT doc_id, count(*) AS n_fps,
                CAST(sum(CASE WHEN fp IN (SELECT fp FROM bench)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
                CAST(CASE WHEN sum(CASE WHEN fp IN (SELECT fp FROM bench)
                              THEN 1 ELSE 0 END) * 10 >= count(*) * 7
                     THEN 1 ELSE 0 END AS BIGINT) AS contaminated
              FROM ex GROUP BY doc_id""")
    ),

    // ── n-gram Jaccard near-dup, bounded all-pairs variant ────────────────
    QueryDef(
      "q36_ngram_jaccard",
      // All-pairs is O(n²) — only valid on a bounded subset (the scale path
      // is q38's LSH banding). Subset: doc_id < 200, pairs with J >= 0.2.
      (s, d) => {
        val sh = withShingles(s, d).filter(col("doc_id") < 200)
          .select(col("doc_id"), col("sh"))
        val a = sh.select(col("doc_id").as("a"), col("sh").as("sha"))
        val b = sh.select(col("doc_id").as("b"), col("sh").as("shb"))
        a.crossJoin(b).filter(col("a") < col("b"))
          .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
          .withColumn("uni",
            (size(col("sha")) + size(col("shb"))).cast("long") - col("inter"))
          .withColumn("jaccard", col("inter").cast("double") / col("uni"))
          .filter(col("jaccard") >= 0.2)
          .select("a", "b", "inter", "jaccard")
      },
      Some(s"""$SQL_WITH_SHINGLES,
              sub AS (SELECT doc_id, sh FROM shingled WHERE doc_id < 200)
              SELECT * FROM (
                SELECT x.doc_id AS a, y.doc_id AS b,
                  CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS inter,
                  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                    / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
                FROM sub x JOIN sub y ON x.doc_id < y.doc_id)
              WHERE jaccard >= 0.2""")
    ),

    // ── MinHash signatures (oracle-reproducible hash family) ──────────────
    QueryDef(
      "q37_minhash_sig",
      (s, d) => {
        val base = withShingles(s, d, nonEmpty = true)
          .withColumn("shh", transform(col("sh"), h32(_)))
        val sig = concat_ws("|",
          (0 until NUM_HASHES).map(j => minhash(col("shh"), j)): _*)
        base.select(col("doc_id"), sig.as("sig"))
      },
      Some(s"""$SQL_WITH_SHINGLES,
              hashed AS (SELECT doc_id, sh,
                list_transform(sh, s -> ${SQL_H32("s")}) AS shh FROM shingled)
              SELECT doc_id,
                ${(0 until NUM_HASHES).map(j => s"CAST(${SQL_MINHASH(j)} AS VARCHAR)")
                  .mkString(" || '|' || ")} AS sig
              FROM hashed WHERE len(sh) > 0""")
    ),

    // ── SimHash fingerprints (32-bit, frequency-weighted) ─────────────────
    QueryDef(
      "q39_simhash",
      // reads the memoized fingerprint artifact (simhashTable) — the
      // per-token-md5 scan runs once per (process, dataset) for the whole
      // q39/q39b/q80/q174 family
      (s, d) => simhashTable(s, d),
      Some(s"""$SQL_SIMHASH_FP
              SELECT doc_id, simhash FROM fp""")
    ),

    // ── SimHash near-dup pairs by Hamming distance (bounded subset) ───────
    QueryDef(
      "q39b_simhash_pairs",
      // All-pairs Hamming comparison on a bounded subset (the at-scale
      // path is q174's band bucketing).
      (s, d) => {
        val fp = simhashTable(s, d).filter(col("doc_id") < 250)
        val a = fp.select(col("doc_id").as("a"), col("simhash").as("fa"))
        val b = fp.select(col("doc_id").as("b"), col("simhash").as("fb"))
        a.crossJoin(b).filter(col("a") < col("b"))
          .withColumn("hd", bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long"))
          .filter(col("hd") <= 8)
          .select("a", "b", "hd")
      },
      Some(s"""$SQL_SIMHASH_FP,
              sub AS (SELECT doc_id, simhash FROM fp WHERE doc_id < 250)
              SELECT * FROM (
                SELECT x.doc_id AS a, y.doc_id AS b,
                       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hd
                FROM sub x JOIN sub y ON x.doc_id < y.doc_id)
              WHERE hd <= 8""")
    ),

    // ── MinHash + LSH banding: near-dup candidate pairs at scale ──────────
    QueryDef(
      "q38_minhash_lsh",
      // Scale shape: the expensive subtree (shingles → base hashes →
      // minhash signatures) has exactly ONE consumer by construction — the
      // shingle set rides WITH its band keys through the single band hash
      // aggregation, and the Jaccard confirmation reads each bucket's
      // member (id, shingles) list in place, so there are no confirm joins
      // at all and nothing depends on Catalyst ReuseExchange deciding to
      // dedupe a shared subtree (the r3 driver run showed that reuse can
      // silently fail, tripling the signature compute). The price is
      // shipping each doc's shingle set BANDS (=4) times through the band
      // shuffle; the win is a structurally guaranteed single execution —
      // PlanSpec asserts it as "exactly one documents scan, zero joins".
      // Candidate pairs are generated inside each bucket with array HOFs,
      // never via a self-join; a pair caught by several bands recomputes
      // its (cheap, deterministic) Jaccard per bucket and collapses in the
      // final (a, b) dedup, which shuffles only ids + one double.
      (s, d) => {
        val sh = withShingles(s, d, nonEmpty = true)
          .withColumn("shh", transform(col("sh"), h32(_)))
        // band hash = md5 over the band's ROWS_PER_BAND signature values
        val banded = sh
          .select(col("doc_id") +: col("sh") +:
            (0 until NUM_HASHES).map(j => minhash(col("shh"), j).as(s"mh$j")): _*)
          .select(col("doc_id"), col("sh"),
            explode(array((0 until BANDS).map(b =>
              struct(lit(b).as("band"),
                md5(concat_ws(",", (0 until ROWS_PER_BAND).map(r =>
                  col(s"mh${b * ROWS_PER_BAND + r}")): _*)).as("bh"))): _*)).as("bb"))
          .select(col("doc_id"), col("sh"),
            col("bb.band").as("band"), col("bb.bh").as("bh"))
        // one aggregation → bucket member (id, shingles) lists → ordered
        // pairs per bucket with Jaccard computed in place (sort_array on
        // the struct orders by the leading id field, so a < b holds)
        banded
          .groupBy("band", "bh")
          // upper cap: a band bucket every document falls into (empty-ish
          // docs, shared boilerplate) is not near-dup signal, and its
          // member list — which here carries full shingle sets — is the
          // one potentially-unbounded aggregation state in this plan.
          // agg.collectListCapped bounds it INSIDE the aggregation buffer
          // (at most 1025 members accumulate, so a pathological key every
          // document shares can never OOM an executor); the size filter
          // then drops over-cap buckets, mirrored in the oracle's HAVING
          .agg(sort_array(graft.functions.agg.collectListCapped(
            struct(col("doc_id").as("id"), col("sh").as("sh")), 1024)).as("ms"))
          .filter(size(col("ms")).between(2, 1024))
          .select(explode(expr(pairExpr("ms", (x, y) =>
            s"struct($x.id AS a, $y.id AS b, $x.sh AS sha, $y.sh AS shb)")))
            .as("p"))
          .withColumn("inter",
            size(array_intersect(col("p.sha"), col("p.shb"))).cast("long"))
          .withColumn("jaccard", col("inter").cast("double") /
            ((size(col("p.sha")) + size(col("p.shb"))).cast("long") - col("inter")))
          .filter(col("jaccard") >= 0.5)
          .select(col("p.a").as("a"), col("p.b").as("b"), col("jaccard"))
          .dropDuplicates("a", "b")
      },
      Some(s"""$SQL_WITH_SHINGLES,
              hashed AS (SELECT doc_id, sh,
                list_transform(sh, s -> ${SQL_H32("s")}) AS shh FROM shingled),
              sig AS (SELECT doc_id, sh,
                [${(0 until NUM_HASHES).map(SQL_MINHASH).mkString(", ")}] AS mh
                FROM hashed WHERE len(sh) > 0),
              bands AS (SELECT doc_id, sh, b,
                md5(CAST(mh[4*b+1] AS VARCHAR) || ',' || CAST(mh[4*b+2] AS VARCHAR) || ',' ||
                    CAST(mh[4*b+3] AS VARCHAR) || ',' || CAST(mh[4*b+4] AS VARCHAR)) AS bh
                FROM sig, unnest([0,1,2,3]) AS u(b)),
              bsz AS (SELECT b, bh FROM bands GROUP BY b, bh
                      HAVING count(*) BETWEEN 2 AND 1024),
              cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM bands x JOIN bands y
                ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id
                JOIN bsz ON bsz.b = x.b AND bsz.bh = x.bh)
              SELECT * FROM (
                SELECT a, b,
                  CAST(len(list_intersect(xa.sh, xb.sh)) AS DOUBLE)
                    / (len(xa.sh) + len(xb.sh) - len(list_intersect(xa.sh, xb.sh))) AS jaccard
                FROM cand
                JOIN shingled xa ON xa.doc_id = a
                JOIN shingled xb ON xb.doc_id = b)
              WHERE jaccard >= 0.5"""),
      headline = true
    ),

    // ── deterministic train/test split (hash-bucketed sampling) ───────────
    QueryDef(
      "q72_hash_split",
      // The training-pipeline split primitive: bucket = md5(doc_id) mod 100,
      // <80 → train. Stable under reruns, shards, and engine changes —
      // unlike rand()-based sampling — and embarrassingly parallel (a pure
      // per-row projection, no shuffle before the final small aggregation).
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("split",
            when(h32(col("doc_id").cast("string")) % 100 < 80, lit("train"))
              .otherwise(lit("test")))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars")),
      Some(s"""SELECT CASE WHEN ${SQL_H32("CAST(doc_id AS VARCHAR)")} % 100 < 80
                     THEN 'train' ELSE 'test' END AS split,
              lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
              FROM documents GROUP BY 1, 2""")
    ),

    // ── near-dup clusters: connected components over the pair graph ───────
    QueryDef(
      "q73_dup_clusters",
      // The step after pair generation in any dedup pipeline: transitively
      // close the near-dup pairs and elect one representative per cluster
      // (the min doc_id — which is exactly the converged component label).
      // Implementation is distributed min-label propagation to a fixpoint:
      // each round ships every node's current label to its neighbors and
      // keeps the minimum — O(diameter) rounds, each one shuffle join + one
      // shuffle aggregation, with RELIABLE checkpoints truncating the
      // growing lineage (localCheckpoint would pin loop state to executor
      // storage and sever lineage — one lost executor over a many-round
      // job at 100 TB fails the whole query; reliable checkpoint survives
      // it, costing one small write per round of label-table size, not
      // fact size). At extreme scale the round count drops to O(log n)
      // with the large-star/small-star transform; near-dup graph diameters
      // are tiny in practice.
      // Edges here: simhash Hamming ≤ 2 over the bounded q39b subset (at
      // 100 TB the edge source is q38's LSH banding, not all-pairs).
      (s, d) => {
        // fingerprints feed the two cross-join branches AND the initial
        // labels — the memoized scratch artifact (simhashTable) already
        // materializes them exactly once
        val fp = simhashTable(s, d).filter(col("doc_id") < 250)
        val a = fp.select(col("doc_id").as("a"), col("simhash").as("fa"))
        val b = fp.select(col("doc_id").as("b"), col("simhash").as("fb"))
        val edges = a.crossJoin(b).filter(col("a") < col("b"))
          .filter(bit_count(col("fa").bitwiseXOR(col("fb"))) <= 2)
          .select("a", "b")
        val labels = minLabelComponents(s,
          fp.select(col("doc_id").as("id")), edges)
        labels.groupBy("comp").agg(count(lit(1)).as("n_members"))
      },
      Some("WITH RECURSIVE " + SQL_SIMHASH_FP.stripPrefix("WITH ") + """,
           sub AS (SELECT doc_id, simhash FROM fp WHERE doc_id < 250),
           edges AS (SELECT x.doc_id AS a, y.doc_id AS b FROM sub x JOIN sub y
                     ON x.doc_id <> y.doc_id
                        AND bit_count(xor(x.simhash, y.simhash)) <= 2),
           reach AS (SELECT doc_id AS id, doc_id AS r FROM sub
                     UNION
                     SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
           comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
           SELECT comp, count(*) AS n_members FROM comp GROUP BY comp""")
    ),

    // ── n-gram repetition ratio (text-quality signal) ─────────────────────
    QueryDef(
      "q74_repetition_ratio",
      // fraction of repeated 3-grams per document — the classic boilerplate/
      // degenerate-text filter signal. Pure per-row array math, no shuffle.
      (s, d) =>
        Tables.documents(s, d)
          // cheap pre-shuffle filter (≥3 tokens ⟺ ≥1 gram), then spread the
          // array compute across cores — the corpus is one input split (see
          // withShingles scaladoc); filtering BEFORE the repartition keeps
          // Catalyst from pushing an expensive gram-size predicate below it
          .filter(size(tokens(col("text"))) >= 3)
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("g", rawShingles(tokens(col("text"))))
          .select(
            col("doc_id"),
            size(col("g")).cast("long").as("n_grams"),
            size(array_distinct(col("g"))).cast("long").as("n_distinct"),
            (lit(1.0) - size(array_distinct(col("g"))).cast("double") / size(col("g")))
              .as("rep_ratio")),
      Some(s"""WITH tok AS (SELECT doc_id, $SQL_TOKENS AS t FROM documents),
              g AS (SELECT doc_id,
                list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS grams
                FROM tok WHERE len(t) >= 3)
              SELECT doc_id,
                CAST(len(grams) AS BIGINT) AS n_grams,
                CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
                1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) AS rep_ratio
              FROM g WHERE len(grams) > 0""")
    ),

    // ── edit-distance near-dup (fuzzy matching modality) ──────────────────
    QueryDef(
      "q80_edit_distance",
      // Levenshtein on 40-char prefixes over a bounded subset — the fuzzy
      // complement to shingle-Jaccard (q36) and simhash (q39b). Quadratic in
      // both pair count and string length, so the at-scale recipe is
      // LSH-candidate pairs first (q38), edit distance only as the
      // final confirm on candidates.
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("doc_id") < 40)
          .select(col("doc_id"), substring(col("text"), 1, 40).as("pfx"))
        val a = docs.select(col("doc_id").as("a"), col("pfx").as("pa"))
        val b = docs.select(col("doc_id").as("b"), col("pfx").as("pb"))
        a.crossJoin(b).filter(col("a") < col("b"))
          .withColumn("lev", levenshtein(col("pa"), col("pb")).cast("long"))
          .filter(col("lev") <= 20)
          .select("a", "b", "lev")
      },
      Some("""WITH sub AS (SELECT doc_id, substring(text, 1, 40) AS pfx
                           FROM documents WHERE doc_id < 40)
              SELECT * FROM (
                SELECT x.doc_id AS a, y.doc_id AS b,
                       CAST(levenshtein(x.pfx, y.pfx) AS BIGINT) AS lev
                FROM sub x JOIN sub y ON x.doc_id < y.doc_id)
              WHERE lev <= 20""")
    ),

    // ── array higher-order-function suite (filter/exists/forall/reduce) ───
    QueryDef(
      "q87_array_hof",
      // the lambda-function family over token arrays — all whole-stage
      // codegen, no UDFs, no explode (the array never leaves the row)
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("t", tokens(col("text")))
          .select(
            col("doc_id"),
            size(filter(col("t"), x => length(x) > 5)).cast("long").as("n_long"),
            exists(col("t"), x => x === "the").as("has_the"),
            forall(col("t"), x => length(x) < 12).as("all_short"),
            aggregate(col("t"), lit(0L), (acc, x) => acc + length(x))
              .as("total_chars")),
      Some(s"""WITH tok AS (SELECT doc_id, $SQL_TOKENS AS t FROM documents)
              SELECT doc_id,
                CAST(len(list_filter(t, x -> length(x) > 5)) AS BIGINT) AS n_long,
                len(list_filter(t, x -> x = 'the')) > 0 AS has_the,
                len(list_filter(t, x -> length(x) >= 12)) = 0 AS all_short,
                CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS BIGINT) AS total_chars
              FROM tok""")
    ),

    // ── sequence packing (fixed token budget per training batch) ──────────
    QueryDef(
      "q88_seq_packing",
      // greedy contiguous packing: within each lang, docs in doc_id order
      // accumulate into batches of ≤2048 tokens (start-offset assignment).
      // One window cumsum + one aggregation — at scale the partition key is
      // (lang, shard) so no single partition holds a whole language.
      (s, d) => {
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, d)
          .withColumn("nt", size(tokens(col("text"))).cast("long"))
          .withColumn("cum", sum(col("nt")).over(w))
          .groupBy(col("lang"), expr("(cum - nt) div 2048").as("batch_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, lang,
                CAST(len($SQL_TOKENS) AS BIGINT) AS nt FROM documents),
              c AS (SELECT lang, doc_id, nt,
                sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM tok)
              SELECT lang, CAST((cum - nt) // 2048 AS BIGINT) AS batch_id,
                     count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS sum_tokens
              FROM c GROUP BY 1, 2""")
    ),

    // ── benchmark decontamination (n-gram overlap against a held-out set) ─
    QueryDef(
      "q89_contamination",
      // docs from source 'src0' act as the benchmark; a candidate document
      // is contaminated if it shares ANY 3-shingle with the benchmark.
      // Shape: explode shingles → distinct benchmark set → BROADCAST LEFT
      // SEMI join → distinct doc count. The benchmark side (distinct
      // 3-shingles of one held-out source) is orders of magnitude smaller
      // than the candidate corpus and fits an executor build table even at
      // 100 TB corpus scale, so the candidate side never shuffles; if a
      // deployment's benchmark outgrows the broadcast threshold, dropping
      // the hint falls back to the shuffled semi join.
      (s, d) => {
        // two-branch semi join: the src0 filter pushes below the shingle
        // compute so the (small) benchmark side only shingles benchmark
        // docs, and the semi join's build side is the distinct shingle
        // set, broadcast to skip shuffling the exploded candidate side.
        // (Tried: localCheckpoint to share one explode — materialization
        // cost beat the saved recompute; single-pass groupBy(s3)+
        // collect_set — pays for ALL shingles, not just benchmark ones.)
        val sh = withShingles(s, d, nonEmpty = true)
          .select(col("doc_id"), col("source"), explode(col("sh")).as("s3"))
        val bench = sh.filter(col("source") === "src0").select("s3").distinct()
        val contaminated = sh.filter(col("source") =!= "src0")
          .join(broadcast(bench), Seq("s3"), "left_semi")
          .agg(countDistinct(col("doc_id")).as("n_contaminated"))
        val candidates = Tables.documents(s, d)
          .filter(col("source") =!= "src0")
          .agg(countDistinct(col("doc_id")).as("n_candidates"))
        candidates.crossJoin(contaminated)
      },
      Some(s"""$SQL_WITH_SHINGLES,
              x AS (SELECT sh.doc_id, d.source, unnest(sh.sh) AS s3
                    FROM shingled sh JOIN documents d ON sh.doc_id = d.doc_id
                    WHERE len(sh.sh) > 0),
              bench AS (SELECT DISTINCT s3 FROM x WHERE source = 'src0'),
              cont AS (SELECT count(DISTINCT doc_id) AS n_contaminated
                       FROM x WHERE source <> 'src0'
                         AND s3 IN (SELECT s3 FROM bench))
              SELECT (SELECT count(DISTINCT doc_id) FROM documents
                      WHERE source <> 'src0') AS n_candidates,
                     n_contaminated
              FROM cont""")
    ),

    // ── per-source quota sampling (data-mixing quotas) ────────────────────
    QueryDef(
      "q90_source_quota",
      // keep the first 10 docs per source (deterministic by doc_id) — the
      // mixing-ratio primitive for corpus composition; one window ranking,
      // partitioned by source, then a small aggregation
      (s, d) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
        Tables.documents(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars
              FROM (SELECT lang, n_chars,
                      row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                    FROM documents)
              WHERE rn <= 10 GROUP BY lang""")
    ),

    // ── PII redaction (email / phone / long-number scrubbing) ─────────────
    QueryDef(
      "q127_pii_redact",
      // the training-corpus PII scrub: count then replace emails, phone
      // numbers, and long digit runs with typed placeholder tokens. The
      // corpus itself is digit-free, so each doc is first extended with
      // deterministic synthetic PII derived from its own key (identical
      // expression in both engines) — the redaction then does real work on
      // every row and the oracle hash proves pattern-for-pattern parity
      // (patterns stay in the Java-regex ∩ RE2 common subset, like q98).
      // Replacement order matters and is pinned: emails first (they
      // contain digits), then phones, then bare digit runs. Pure per-row
      // compute — zero shuffles, scales linearly.
      (s, d) => {
        val EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val PHONE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
        val NUMID = "\\b[0-9]{4,}\\b"
        val pii = concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@"), col("source"),
          lit(".net or call 415-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ref "), (col("doc_id") * 7919 + 10007).cast("string"))
        Tables.documents(s, d)
          .withColumn("pii_text", pii)
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("pii_text"), lit(EMAIL), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("pii_text"), lit(PHONE), lit(0)))
              .cast("long").as("n_phones"),
            size(regexp_extract_all(col("pii_text"), lit(NUMID), lit(0)))
              .cast("long").as("n_ids"),
            md5(regexp_replace(regexp_replace(regexp_replace(col("pii_text"),
              EMAIL, "<EMAIL>"), PHONE, "<PHONE>"), NUMID, "<ID>"))
              .as("redacted_md5"))
      },
      Some("""WITH pii AS (SELECT doc_id,
                text || ' contact user' || doc_id || '@' || source ||
                  '.net or call 415-555-' ||
                  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                  ' ref ' || CAST(doc_id * 7919 + 10007 AS VARCHAR) AS pii_text
              FROM documents)
              SELECT doc_id,
                CAST(len(regexp_extract_all(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(pii_text, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phones,
                CAST(len(regexp_extract_all(pii_text, '\b[0-9]{4,}\b')) AS BIGINT) AS n_ids,
                md5(regexp_replace(regexp_replace(regexp_replace(pii_text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
                  '\b[0-9]{4,}\b', '<ID>', 'g')) AS redacted_md5
              FROM pii""")
    ),

    // ── temperature-weighted source mixing (training-mix composition) ─────
    QueryDef(
      "q130_temperature_mix",
      // the standard corpus-mixing recipe: per-source quotas ∝ n_s^α with
      // α = 0.5 (temperature flattening — big sources are down-weighted,
      // small ones boosted), then each source contributes its quota of
      // docs ranked by the q33 quality signal. Determinism: sqrt is
      // IEEE-exact in both engines; the weight sum goes through the
      // rounded-decimal trick; the quota division is one pinned double
      // expression; the quality ranking tie-breaks on doc_id. One
      // aggregation + one window + two broadcast joins — fact scanned
      // once per branch, no all-pairs anything.
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("len", length(col("text")).cast("long"))
          .withColumn("alpha_ratio",
            length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
              .cast("double") / length(col("text")))
        val stats = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
          .withColumn("w",
            round(sqrt(col("n_s").cast("double")), 6).cast(DecimalType(18, 6)))
        val tot = stats.agg(sum(col("w")).as("T"))
        val quotas = stats.crossJoin(broadcast(tot))
          .withColumn("quota", floor(lit(1000.0) * col("w").cast("double") /
            col("T").cast("double")))
          .select("source", "quota")
        val rk = Window.partitionBy("source")
          .orderBy(col("alpha_ratio").desc, col("doc_id").asc)
        docs.withColumn("rn", row_number().over(rk).cast("long"))
          .join(broadcast(quotas), "source")
          .filter(col("rn") <= col("quota"))
          .groupBy("source")
          .agg(max(col("quota")).as("quota"),
            count(lit(1)).as("n_selected"),
            sum(col("len")).as("sum_len"))
      },
      Some("""WITH q AS (SELECT doc_id, source,
                CAST(length(text) AS BIGINT) AS len,
                CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                  / length(text) AS alpha_ratio
              FROM documents),
              st AS (SELECT source, count(*) AS n_s,
                CAST(round(sqrt(CAST(count(*) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w
              FROM q GROUP BY 1),
              tot AS (SELECT sum(w) AS T FROM st),
              quotas AS (SELECT source,
                CAST(floor(1000.0 * CAST(w AS DOUBLE) / CAST(T AS DOUBLE)) AS BIGINT) AS quota
              FROM st, tot),
              ranked AS (SELECT doc_id, source, len,
                row_number() OVER (PARTITION BY source
                  ORDER BY alpha_ratio DESC, doc_id) AS rn FROM q)
              SELECT source, max(quota) AS quota,
                count(*) AS n_selected,
                CAST(sum(len) AS BIGINT) AS sum_len
              FROM ranked JOIN quotas USING (source)
              WHERE rn <= quota
              GROUP BY source""")
    )

    ,
    // ── the ONLINE near-dup operator, driver-visible (batch semantics) ────
    QueryDef(
      "q148_online_neardup",
      // [[graft.streaming.EventStream.nearDupCandidates]] run in batch
      // mode: flatMapGroupsWithState executes each LSH bucket group once,
      // the in-batch claimant rule resolves to min doc_id — which is
      // exactly expressible in SQL (owner = min per bucket, candidates =
      // the rest), so the stateful operator's semantics get a hash-exact
      // oracle. Multi-band hits dedupe to distinct pairs.
      (s, d) =>
        graft.streaming.EventStream.nearDupCandidates(
            Tables.documents(s, d).select("doc_id", "text"))
          .toDF().distinct(),
      Some(s"""$SQL_WITH_SHINGLES,
              hashed AS (SELECT doc_id, sh,
                list_transform(sh, s -> ${SQL_H32("s")}) AS shh
                FROM shingled WHERE len(sh) > 0),
              sig AS (SELECT doc_id,
                [${(0 until NUM_HASHES).map(SQL_MINHASH).mkString(", ")}] AS mh
                FROM hashed),
              bands AS (SELECT doc_id, b,
                md5(CAST(mh[4*b+1] AS VARCHAR) || ',' || CAST(mh[4*b+2] AS VARCHAR) || ',' ||
                    CAST(mh[4*b+3] AS VARCHAR) || ',' || CAST(mh[4*b+4] AS VARCHAR)) AS bh
                FROM sig, unnest([0,1,2,3]) AS u(b)),
              owners AS (SELECT b, bh, min(doc_id) AS owner
                FROM bands GROUP BY 1, 2)
              SELECT DISTINCT x.doc_id, o.owner AS dup_of
              FROM bands x JOIN owners o ON x.b = o.b AND x.bh = o.bh
              WHERE x.doc_id <> o.owner""")
    )

    ,
    // ── Gopher/C4-style quality-rule filter (per-rule pass accounting) ────
    QueryDef(
      "q149_quality_rules",
      // The published LLM-corpus quality heuristics (Gopher §A1.1, C4) in
      // EXACT integer form: every ratio threshold is restated as a cross-
      // multiplication (5·n_alpha ≥ 4·n_words ⟺ ratio ≥ 0.8) so both
      // engines compare integers, never doubles. One zero-shuffle per-row
      // pass + a single global aggregate of rule counters.
      (s, d) => {
        val t = tokens(col("text"))
        val nW = size(t).cast("long")
        val sumLen = aggregate(t, lit(0L), (a, w) => a + length(w).cast("long"))
        val nAlpha = size(filter(t, w => w.rlike("[a-zA-Z]"))).cast("long")
        val nSym = (length(col("text")) -
          length(regexp_replace(col("text"), "[#…{}<>\\[\\]]", ""))).cast("long")
        val nChars = length(col("text")).cast("long")
        // "stopwords" = the corpus's own function-word analogs (the test
        // corpus is synthetic word soup with no English the/of/and)
        val stops = size(array_intersect(t,
          array(lit("join"), lit("hash"), lit("row"), lit("scan"), lit("data"))))
        val pLen = nW >= 5 && nW <= 10000
        val pWordLen = sumLen >= nW * 3 && sumLen <= nW * 10
        val pAlpha = nAlpha * 5 >= nW * 4
        val pSym = nSym * 10 < nChars
        val pStop = stops >= 2
        Tables.documents(s, d)
          .select(pLen.as("a"), pWordLen.as("b"), pAlpha.as("c"),
            pSym.as("e"), pStop.as("f"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("a"), 1L).otherwise(0L)).as("n_pass_len"),
            sum(when(col("b"), 1L).otherwise(0L)).as("n_pass_wordlen"),
            sum(when(col("c"), 1L).otherwise(0L)).as("n_pass_alpha"),
            sum(when(col("e"), 1L).otherwise(0L)).as("n_pass_sym"),
            sum(when(col("f"), 1L).otherwise(0L)).as("n_pass_stop"),
            sum(when(col("a") && col("b") && col("c") && col("e") && col("f"),
              1L).otherwise(0L)).as("n_keep"))
      },
      Some(s"""WITH q AS (SELECT
                $SQL_TOKENS AS t,
                length(text) AS n_chars,
                length(text) - length(regexp_replace(text, '[#…{}<>\\[\\]]', '', 'g')) AS n_sym,
                text
              FROM documents),
              r AS (SELECT
                len(t) AS n_w,
                list_aggregate(list_transform(t, w -> len(w)), 'sum') AS sum_len,
                len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha,
                n_sym, n_chars,
                len(list_intersect(t, ['join','hash','row','scan','data'])) AS stops
              FROM q),
              p AS (SELECT
                (n_w >= 5 AND n_w <= 10000) AS a,
                (sum_len >= n_w * 3 AND sum_len <= n_w * 10) AS b,
                (n_alpha * 5 >= n_w * 4) AS c,
                (n_sym * 10 < n_chars) AS e,
                (stops >= 2) AS f
              FROM r)
              SELECT count(*) AS n_docs,
                CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_len,
                CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_wordlen,
                CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_alpha,
                CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_sym,
                CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_stop,
                CAST(sum(CASE WHEN a AND b AND c AND e AND f THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
              FROM p""")
    ),

    // ── exact-substring span dedup (ExactSubstr-style, shingle-granular) ──
    QueryDef(
      "q163_exact_substr_spans",
      // The span-level member of the dedup family (doc-level: q30/q31;
      // near-dup: q37/q38/q152+; semantic: q126): find every MAXIMAL run
      // of tokens, at 8-token resolution, that also appears verbatim in
      // ANOTHER document — the boilerplate/license/mirror detector that
      // doc-granular dedup can't express (Lee et al. 2022 build it on
      // suffix arrays; the k-shingle formulation below is the
      // shuffle-friendly equivalent at k-token resolution).
      //
      // Shape, and why it scales: (1) one scan derives every 8-token
      // shingle with its start position — consumed via posexplode_outer +
      // null filter so the derived-array chain is never inlined into a
      // pushed-down generator predicate (see winnowLadder's notes);
      // (2) duplicated shingles are found by ONE hash aggregation on the
      // 64-bit shingle hash — fixed-width shuffle keys, never the strings
      // (the oracle groups the strings themselves; a 64-bit collision at
      // corpus scale is ~n²/2⁶⁵ — negligible, and only ever ADDS a
      // false duplicated position); (3) duplicated positions come back via
      // a shuffle semi join on the same hash; (4) runs of consecutive
      // duplicated starts merge into maximal spans with the classic
      // positions-minus-row_number islands trick — one window per doc,
      // partitioned by doc_id, so no skew beyond document length. No
      // all-pairs stage anywhere: cost is O(tokens) + two shuffles.
      (s, d) => {
        val K = SubstrK
        // shared starts lineage (doc_id, p, h): materialized ONCE per
        // (process, dataset) and read back as columnar scratch — q170
        // derives the identical table, so both ride [[substrStarts]]
        // ([[Shared.memo]]).
        val starts = substrStarts(s, d)
        val dup = starts.groupBy("h")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select("h")
        val w = Window.partitionBy("doc_id").orderBy("p")
        starts.join(dup, Seq("h"), "left_semi")
          .withColumn("g", col("p") - row_number().over(w))
          .groupBy("doc_id", "g")
          .agg(min(col("p")).as("sp"), (max(col("p")) + (K - 1)).as("ep"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("ep") - col("sp") + 1).cast("long").as("dup_tokens"),
            max(col("ep") - col("sp") + 1).cast("long").as("max_span"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, $SQL_TOKENS AS t FROM documents),
              sh AS (SELECT doc_id, CAST(p AS INT) AS p,
                       array_to_string(t[p:p+7], ' ') AS s
                     FROM (SELECT doc_id, t,
                             unnest(generate_series(1, len(t) - 7)) AS p
                           FROM tok WHERE len(t) >= 8)),
              dup AS (SELECT s FROM sh
                      GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
              isl AS (SELECT doc_id, p,
                        p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
                      FROM sh WHERE s IN (SELECT s FROM dup)),
              sp AS (SELECT doc_id, min(p) AS sp, max(p) + 7 AS ep
                     FROM isl GROUP BY doc_id, g)
              SELECT doc_id, count(*) AS n_spans,
                CAST(sum(ep - sp + 1) AS BIGINT) AS dup_tokens,
                CAST(max(ep - sp + 1) AS BIGINT) AS max_span
              FROM sp GROUP BY doc_id""")
    ),

    // ── bloom-prefiltered cross-snapshot dedup ────────────────────────────
    QueryDef(
      "q164_bloom_snapshot_dedup",
      // Incremental ingest dedup — the 100 TB shape q30 can't reach: is
      // each INCOMING document already in the PRIOR snapshot, when the
      // prior corpus is far too large to broadcast its key set exactly?
      // Pattern (Spark's own runtime bloom-join, made explicit and
      // reusable): (1) ONE aggregation folds the prior keys into a
      // fixed-size bloom filter — map-side partial filters OR-merged, so
      // only numBits/8 bytes ever reach the driver (a bounded model
      // parameter, the q159-centroid precedent — never O(rows));
      // (2) incoming rows probe the filter inside whole-stage codegen:
      // bloom-NEGATIVE rows are definitely new and BYPASS the join —
      // at a 1% false-positive rate, 99% of genuinely-new data never
      // shuffles; (3) only bloom-positive rows take the exact confirm
      // join (left join on the normalized key, prior side distinct).
      // The result is EXACT — the filter's one-sided error only routes
      // rows — so the oracle is the plain join. Prior/incoming split:
      // even/odd doc_id (deterministic snapshot surrogate). Key: the
      // q30 whitespace-collapsed lowercase norm.
      (s, d) => {
        val norm = lower(regexp_replace(col("text"), "\\s+", " "))
        val docs = Tables.documents(s, d)
        val prior = docs.filter(col("doc_id") % 2 === 0)
          .select(norm.as("k")).distinct()
        val bfRow = prior
          .agg(graft.functions.bloom
            .filterAgg(xxhash64(col("k")), 1 << 16, 1L << 19).as("bf"))
          .head
        // an EMPTY prior snapshot aggregates to NULL, not an empty filter:
        // then nothing can be a dup and every incoming row takes the
        // definite-new fast path (the probe column is a constant false)
        val probe =
          if (bfRow.isNullAt(0))
            lit(false)
          else
            graft.functions.bloom.mightContain(xxhash64(col("k")),
              lit(bfRow.getAs[Array[Byte]](0)))
        val incoming = docs.filter(col("doc_id") % 2 === 1)
          .select(col("source"), norm.as("k"))
          .withColumn("maybe", probe)
        val neg = incoming.filter(!col("maybe"))
          .select(col("source"), lit(false).as("is_dup"))
        val pos = incoming.filter(col("maybe"))
          .join(prior.withColumn("m", lit(1)), Seq("k"), "left")
          .select(col("source"), col("m").isNotNull.as("is_dup"))
        neg.union(pos)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
            sum(when(col("is_dup"), 0L).otherwise(1L)).as("n_new"))
      },
      Some("""WITH prior AS (SELECT DISTINCT
                       lower(regexp_replace(text, '\s+', ' ', 'g')) AS k
                     FROM documents WHERE doc_id % 2 = 0),
              inc AS (SELECT source,
                        lower(regexp_replace(text, '\s+', ' ', 'g')) AS k
                      FROM documents WHERE doc_id % 2 = 1)
              SELECT i.source, count(*) AS n_docs,
                CAST(count(p.k) AS BIGINT) AS n_dup,
                CAST(count(*) - count(p.k) AS BIGINT) AS n_new
              FROM inc i LEFT JOIN prior p ON i.k = p.k
              GROUP BY i.source""")
    ),

    // ── dedup APPLY: per-cluster representative election ──────────────────
    QueryDef(
      "q165_dedup_select",
      // The step every dedup pipeline ends with and none of q30-q158
      // performs: decide which rows SURVIVE. Winnow near-dup clusters
      // (q158's closure) elect ONE representative each — the highest
      // quality-signal member (q33's alpha ratio), doc_id tie-break —
      // and docs in no cluster keep themselves. Emitted per source so
      // the oracle pins every keep/drop decision in aggregate.
      //
      // Scale shape: the cluster table is pair-graph-sized (orders
      // smaller than the corpus), so the join back to documents
      // broadcasts; singleton survival costs nothing (coalesce label =
      // doc_id, no join fanout); the election window partitions by
      // cluster — skew-bounded by the q154 bucket cap upstream. One
      // documents scan, one broadcast join, one bounded window.
      (s, d) => {
        val comp = winnowComponents(s, d)
        val docs = Tables.documents(s, d)
          .withColumn("len", length(col("text")).cast("long"))
          .withColumn("alpha",
            length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long"))
          .select(col("doc_id"), col("source"), col("len"), col("alpha"),
            (col("alpha").cast("double") / col("len")).as("alpha_ratio"))
        val labeled = docs
          .join(broadcast(comp), docs("doc_id") === comp("id"), "left")
          .withColumn("comp", coalesce(col("comp"), col("doc_id")))
        val w = Window.partitionBy("comp")
          .orderBy(col("alpha_ratio").desc, col("doc_id").asc)
        labeled
          .withColumn("keep", row_number().over(w) === 1)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
            sum(when(!col("keep"), col("len")).otherwise(0L)).as("chars_removed"))
      },
      Some("WITH RECURSIVE " + SQL_WINNOW_PAIR_CTES.stripPrefix("WITH ") + """,
           wedges AS (SELECT a, b FROM wpairs
                      UNION ALL SELECT b AS a, a AS b FROM wpairs),
           wnodes AS (SELECT DISTINCT a AS id FROM wedges),
           reach AS (SELECT id, id AS r FROM wnodes
                     UNION
                     SELECT e.b, reach.r FROM reach JOIN wedges e ON e.a = reach.id),
           wcomp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
           qual AS (SELECT doc_id, source,
                      CAST(length(text) AS BIGINT) AS len,
                      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha,
                      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                        / length(text) AS alpha_ratio
                    FROM documents),
           lab AS (SELECT q.*, coalesce(c.comp, q.doc_id) AS comp
                   FROM qual q LEFT JOIN wcomp c ON q.doc_id = c.id),
           sel AS (SELECT *, row_number() OVER (PARTITION BY comp
                     ORDER BY alpha_ratio DESC, doc_id ASC) = 1 AS keep
                   FROM lab)
           SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
             CAST(sum(CASE WHEN NOT keep THEN len ELSE 0 END) AS BIGINT) AS chars_removed
           FROM sel GROUP BY source""")
    ),

    // ── end-to-end curation pipeline (the composition capstone) ───────────
    QueryDef(
      "q166_curation_pipeline",
      // The full pretraining-curation funnel as ONE declarative plan —
      // what a user of this library actually runs: quality gate (q33's
      // exact signals) → exact dedup (q31's canonical election on the
      // q30 norm hash) → near-dup dedup (q165's representative election
      // on the shared winnow components) → benchmark decontamination
      // (q155's graded 70% containment, src0 held out) → per-source
      // funnel counts + surviving token budget. Every stage is the
      // already-proven operator; the point is that they COMPOSE into one
      // plan with no materialization between stages (the two winnow
      // artifacts ride the process-wide memos).
      //
      // Scale shape: ONE documents scan feeds the whole funnel — stage
      // membership is carried as per-row FLAGS (quality bool; election
      // ranks ordered flag-first so each window elects among the prior
      // stage's survivors without re-filtering the lineage), and the
      // funnel counts fall out of one conditional aggregation. Separate
      // per-stage aggregates would re-execute the upstream chain once per
      // stage (Catalyst only reuses identical exchanges) — 5× the corpus
      // reads at 100 TB; PlanSpec pins the single-scan property. The
      // component labels and benchmark fingerprint set broadcast
      // (pair-graph-sized and held-out-sized); the only corpus-sized
      // shuffles are the two election windows (hash-partitioned by norm
      // hash / cluster) and the containment aggregation — all keyed, all
      // skew-bounded upstream (q154's bucket cap).
      (s, d) => {
        val base = Tables.documents(s, d)
          .filter(col("source") =!= "src0")
          .withColumn("len", length(col("text")).cast("long"))
          .withColumn("alpha",
            length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long"))
          .withColumn("alpha_ratio", col("alpha").cast("double") / col("len"))
          // q30's normalized exact key. On THIS corpus the stage drops
          // nothing — its duplication is prefix/partial-overlap style
          // (21 of 438 quality passers share an 80-char prefix, zero
          // share normalized bytes), so the near-dup stage below is the
          // one that bites; the funnel reports both honestly.
          .withColumn("h",
            md5(lower(regexp_replace(col("text"), "\\s+", " "))))
          .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
          .select("doc_id", "source", "len", "alpha_ratio", "h", "n_tokens")
        val comp = winnowComponents(s, d)
        // stage flags on one lineage. Flag-first window ordering makes
        // each election happen among the PRIOR stage's survivors: if any
        // survivor exists in the partition, rank 1 lands on the best of
        // them (flags sort true-first via desc), so `prior && rank=1`
        // is exactly "elected among survivors".
        val labeled = base
          .withColumn("q", col("len") >= 100 && col("alpha_ratio") > 0.5)
          .withColumn("rk_e", row_number().over(
            Window.partitionBy("h")
              .orderBy(col("q").desc, col("doc_id").asc)))
          .withColumn("e", col("q") && col("rk_e") === 1)
          .join(broadcast(comp), col("doc_id") === comp("id"), "left")
          .withColumn("comp", coalesce(col("comp"), col("doc_id")))
          .withColumn("rk_n", row_number().over(
            Window.partitionBy("comp")
              .orderBy(col("e").desc, col("alpha_ratio").desc, col("doc_id").asc)))
          .withColumn("n", col("e") && col("rk_n") === 1)
        // q155's containment verbatim, reduced to the contaminated id set
        val fp = winnowFingerprints(s, d, Seq("doc_id", "source", "fps"))
        val bench = fp.filter(col("source") === "src0")
          .select(explode_outer(col("fps")).as("fp"))
          .filter(col("fp").isNotNull)
          .distinct()
          .withColumn("hit", lit(1L))
        val contaminated = fp.filter(col("source") =!= "src0")
          .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
          .filter(col("fp").isNotNull)
          .join(broadcast(bench), Seq("fp"), "left_outer")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_fps"),
            sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
          .filter(col("n_shared") * 10 >= col("n_fps") * 7)
          .select("doc_id")
        labeled
          .join(contaminated.withColumn("bad", lit(1L)), Seq("doc_id"), "left")
          .withColumn("f", col("n") && col("bad").isNull)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
            sum(when(col("e"), 1L).otherwise(0L)).as("n_exact"),
            sum(when(col("n"), 1L).otherwise(0L)).as("n_neardup"),
            sum(when(col("f"), 1L).otherwise(0L)).as("n_final"),
            sum(when(col("f"), col("n_tokens")).otherwise(0L)).as("tokens_final"))
      },
      Some("WITH RECURSIVE " + SQL_WINNOW_PAIR_CTES.stripPrefix("WITH ") + s""",
           wedges AS (SELECT a, b FROM wpairs
                      UNION ALL SELECT b AS a, a AS b FROM wpairs),
           wnodes AS (SELECT DISTINCT a AS id FROM wedges),
           reach AS (SELECT id, id AS r FROM wnodes
                     UNION
                     SELECT e.b, reach.r FROM reach JOIN wedges e ON e.a = reach.id),
           wcomp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
           cbase AS (SELECT doc_id, source,
                       CAST(length(text) AS BIGINT) AS len,
                       CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                         / length(text) AS alpha_ratio,
                       md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS h,
                       CAST(len($SQL_TOKENS) AS BIGINT) AS n_tokens
                     FROM documents WHERE source <> 'src0'),
           cqual AS (SELECT * FROM cbase
                     WHERE len >= 100 AND alpha_ratio > 0.5),
           cexact AS (SELECT * FROM cqual QUALIFY
                        row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1),
           cnear AS (SELECT * FROM
                       (SELECT q.*, coalesce(c.comp, q.doc_id) AS comp
                        FROM cexact q LEFT JOIN wcomp c ON q.doc_id = c.id)
                     QUALIFY row_number() OVER (PARTITION BY comp
                       ORDER BY alpha_ratio DESC, doc_id) = 1),
           cf AS (SELECT fpcte.doc_id, d.source, fps
                  FROM fpcte JOIN documents d ON fpcte.doc_id = d.doc_id),
           cbench AS (SELECT DISTINCT unnest(fps) AS fp FROM cf
                      WHERE source = 'src0'),
           cexfp AS (SELECT doc_id, unnest(fps) AS fp FROM cf
                     WHERE source <> 'src0'),
           ccont AS (SELECT doc_id FROM
                       (SELECT doc_id, count(*) AS n_fps,
                          sum(CASE WHEN fp IN (SELECT fp FROM cbench)
                              THEN 1 ELSE 0 END) AS n_shared
                        FROM cexfp GROUP BY doc_id)
                     WHERE n_shared * 10 >= n_fps * 7),
           cfin AS (SELECT * FROM cnear
                    WHERE doc_id NOT IN (SELECT doc_id FROM ccont))
           SELECT b.source, b.n_docs,
             CAST(coalesce(q.n, 0) AS BIGINT) AS n_quality,
             CAST(coalesce(e.n, 0) AS BIGINT) AS n_exact,
             CAST(coalesce(nn.n, 0) AS BIGINT) AS n_neardup,
             CAST(coalesce(f.n, 0) AS BIGINT) AS n_final,
             CAST(coalesce(f.tk, 0) AS BIGINT) AS tokens_final
           FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                 FROM cbase GROUP BY source) b
           LEFT JOIN (SELECT source, count(*) AS n FROM cqual GROUP BY source) q
             ON b.source = q.source
           LEFT JOIN (SELECT source, count(*) AS n FROM cexact GROUP BY source) e
             ON b.source = e.source
           LEFT JOIN (SELECT source, count(*) AS n FROM cnear GROUP BY source) nn
             ON b.source = nn.source
           LEFT JOIN (SELECT source, count(*) AS n, sum(n_tokens) AS tk
                      FROM cfin GROUP BY source) f
             ON b.source = f.source""")
    ),

    // ── bigram-LM quality scoring (the CCNet/KenLM signal) ────────────────
    QueryDef(
      "q169_bigram_lm_score",
      // The statistical member of the quality family (q33/q149 are
      // heuristic ratios): score every document under a bigram language
      // model TRAINED ON the corpus itself — the CCNet recipe (Wenzek et
      // al. 2020) where an LM fit on a trusted slice ranks the rest.
      // Trusted slice surrogate: even doc_id (the deterministic-split
      // precedent of q164). Add-one smoothing over the train vocabulary.
      //
      // Per the q57 discipline, the score is LOG-FREE so both engines
      // compute identical values: each smoothed conditional probability
      // is kept as exact fixed-point parts-per-million,
      //   ppm(w2|w1) = (10⁶ · (c(w1,w2)+1)) div (c(w1·)+V)
      // — pure BIGINT arithmetic (true perplexity sums log p; the
      // monotone per-bigram surrogate sums ppm, which ranks the same
      // pathologies: OOV runs and improbable transitions score low).
      //
      // Shape, and why it scales: the tokenize→bigram lineage has THREE
      // consumers (eval scoring, bigram counts, context counts), and q38's
      // hard-won rule applies — ReuseExchange can silently fail, so
      // nothing may DEPEND on Catalyst deduping a shared subtree. The
      // bigram table therefore materializes ONCE per (process, dataset)
      // to scratch parquet ([[Shared.memo]]; the
      // README's "persisted signature table" pattern) and every consumer
      // is a cheap column-pruned scan of that flat table. The vocabulary
      // size V collects eagerly as ONE scalar (bounded model parameter —
      // the q164 bloom / q159 centroid precedent). The CONTEXT table c1
      // is vocab-bounded → broadcast (never a shuffle join on w1 alone,
      // whose Zipf head would hot-spot one reducer); the BIGRAM table
      // joins on the composite (w1,w2) key — hash-shuffle equi-join,
      // skew-damped by the second key. At 100 TB the bigram table itself
      // is Zipf-bounded (≪ corpus), and pruning it to top-K rows makes
      // it broadcastable too — the stated production path.
      (s, d) => {
        val (allB, v) = bigramTable(s, d)
        val train = allB.filter(col("doc_id") % 2 === 0)
        val c2 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        val c1 = train.groupBy("w1").agg(count(lit(1)).as("c1"))
        allB
          .join(c2, Seq("w1", "w2"), "left")
          .join(broadcast(c1), Seq("w1"), "left")
          .withColumn("ppm", expr(
            s"""(1000000 * (coalesce(c2, CAST(0 AS BIGINT)) + 1))
               div (coalesce(c1, CAST(0 AS BIGINT)) + ${v}L)"""))
          .withColumn("oov", when(col("c2").isNull, 1L).otherwise(0L))
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("oov")).cast("long").as("n_oov"),
            sum(col("ppm")).cast("long").as("sum_ppm"))
          .withColumn("lm_score",
            col("sum_ppm").cast("double") / col("n_bigrams"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, source, $SQL_TOKENS AS t FROM documents),
              bg AS (SELECT doc_id, source, t[p] AS w1, t[p+1] AS w2
                     FROM (SELECT doc_id, source, t,
                             unnest(generate_series(1, len(t) - 1)) AS p
                           FROM tok WHERE len(t) >= 2)),
              vb AS (SELECT count(DISTINCT tk) AS v FROM
                       (SELECT w1 AS tk FROM bg WHERE doc_id % 2 = 0
                        UNION ALL
                        SELECT w2 FROM bg WHERE doc_id % 2 = 0)),
              c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg
                     WHERE doc_id % 2 = 0 GROUP BY 1, 2),
              c1 AS (SELECT w1, count(*) AS c1 FROM bg
                     WHERE doc_id % 2 = 0 GROUP BY 1),
              sc AS (SELECT doc_id, source,
                       (1000000 * (coalesce(c2.c2, 0) + 1))
                         // (coalesce(c1.c1, 0) + v) AS ppm,
                       CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS oov
                     FROM bg LEFT JOIN c2 USING (w1, w2)
                       LEFT JOIN c1 USING (w1) CROSS JOIN vb)
              SELECT doc_id, source, count(*) AS n_bigrams,
                CAST(sum(oov) AS BIGINT) AS n_oov,
                CAST(sum(ppm) AS BIGINT) AS sum_ppm,
                CAST(sum(ppm) AS DOUBLE) / count(*) AS lm_score
              FROM sc GROUP BY 1, 2""")
    ),

    // ── exact-substring dedup APPLY (excise later-copy spans) ─────────────
    QueryDef(
      "q170_exact_substr_excise",
      // q163 FINDS cross-document duplicated spans; this is the APPLY step
      // that actually deduplicates (the q165 counterpart for the span
      // grain, completing find→apply for the third dedup family): every
      // 8-token run whose canonical owner — the MINIMUM doc_id containing
      // it — is an earlier document gets excised, so the corpus keeps
      // exactly one copy of every shared span (Lee et al. 2022 semantics;
      // within-doc self-repeats are kept — that's q74's signal, not
      // cross-doc dedup). Output pins the surgery exactly: cleaned-text
      // fingerprint + lengths per document.
      //
      // Shape, and why it scales: the POSITIONS-ONLY lineage (doc_id, p,
      // 64-bit shingle hash — q163's exact start derivation, token
      // strings never enter a shuffle) finds each doc's dropped spans:
      // one hash aggregation for owners (a collision can only ADD a
      // drop — q163's accepted ~n²/2⁶⁵ regime), one keyed join back, the
      // islands window, and a per-doc collect of span structs whose state
      // is O(dropped spans) ≤ O(doc tokens). The rebuild then happens IN
      // ARRAY LAND: documents left-join their (small, typically
      // broadcastable) span lists and a single codegen HOF filter keeps
      // the uncovered positions — no token-stream shuffle, no per-token
      // window, no rebuild aggregation. Shuffles are all keyed (h,
      // doc_id); no all-pairs stage anywhere.
      (s, d) => {
        val K = SubstrK
        val base = Tables.documents(s, d)
          .withColumn("t", tokens(col("text")))
          .repartition(s.sparkContext.defaultParallelism)
        // identical (doc_id, p, h) lineage as q163 → one shared scratch
        // materialization per (process, dataset), see [[substrStarts]]
        val starts = substrStarts(s, d)
        val own = starts.groupBy("h").agg(min(col("doc_id")).as("own"))
        val w = Window.partitionBy("doc_id").orderBy("p")
        // dropped starts → maximal consecutive runs (islands); runs that
        // overlap only through the K-1 tail stay separate spans, which
        // coverage below handles identically to a merged interval
        val spans = starts.join(own, Seq("h"))
          .filter(col("own") < col("doc_id"))
          .withColumn("g", col("p") - row_number().over(w))
          .groupBy("doc_id", "g")
          .agg(min(col("p")).as("sp"), (max(col("p")) + (K - 1)).as("ep"))
          .groupBy("doc_id")
          .agg(collect_list(struct(col("sp"), col("ep"))).as("spans"))
        base.join(spans, Seq("doc_id"), "left")
          .withColumn("sp2", coalesce(col("spans"),
            array().cast("array<struct<sp:int,ep:int>>")))
          .withColumn("kept", filter(col("t"), (tok, i0) =>
            !exists(col("sp2"), sp =>
              (i0 + 1) >= sp.getField("sp") && (i0 + 1) <= sp.getField("ep"))))
          .withColumn("clean", array_join(col("kept"), " "))
          .select(col("doc_id"),
            size(col("t")).cast("long").as("n_tokens"),
            (size(col("t")) - size(col("kept"))).cast("long").as("n_dropped"),
            length(col("clean")).cast("long").as("clean_len"),
            substring(md5(col("clean")), 1, 16).as("clean_fp"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, $SQL_TOKENS AS t FROM documents),
              pos AS (SELECT doc_id, CAST(p AS INT) AS p, t[p] AS tk
                      FROM (SELECT doc_id, t,
                              unnest(generate_series(1, len(t))) AS p FROM tok)),
              sh AS (SELECT doc_id, CAST(p AS INT) AS p,
                       array_to_string(t[p:p+7], ' ') AS sg
                     FROM (SELECT doc_id, t,
                             unnest(generate_series(1, len(t) - 7)) AS p
                           FROM tok WHERE len(t) >= 8)),
              own AS (SELECT sg, min(doc_id) AS own FROM sh GROUP BY sg),
              ds AS (SELECT sh.doc_id, sh.p,
                       CASE WHEN own.own < sh.doc_id THEN 1 ELSE 0 END AS ds
                     FROM sh JOIN own USING (sg)),
              cov AS (SELECT pos.doc_id, pos.p, pos.tk,
                        max(coalesce(ds.ds, 0)) OVER (PARTITION BY pos.doc_id
                          ORDER BY pos.p
                          ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
                      FROM pos LEFT JOIN ds
                        ON pos.doc_id = ds.doc_id AND pos.p = ds.p)
              SELECT doc_id, count(*) AS n_tokens,
                CAST(sum(covered) AS BIGINT) AS n_dropped,
                CAST(length(coalesce(string_agg(CASE WHEN covered = 0 THEN tk END,
                  ' ' ORDER BY p), '')) AS BIGINT) AS clean_len,
                substring(md5(coalesce(string_agg(CASE WHEN covered = 0 THEN tk END,
                  ' ' ORDER BY p), '')), 1, 16) AS clean_fp
              FROM cov GROUP BY doc_id""")
    ),

    // ── BPE merge learning (tokenizer induction, chained) ─────────────────
    QueryDef(
      "q171_bpe_merge_learn",
      // The tokenizer-TRAINING stage (q52 applies a BPE-ish tokenization;
      // this LEARNS one): byte-pair-encoding merges (Sennrich et al.
      // 2016) trained to a VOCAB BUDGET of `BpeMerges` rounds with
      // convergence early-stop (r8 verdict task 3; no surviving pair
      // occurs twice → training is done, the standard BPE termination).
      // Each round counts adjacent symbol pairs over the current symbol
      // table weighted by word frequency, takes the argmax (count desc,
      // pair asc — the deterministic tie-break both engines share),
      // APPLIES the merge, and re-ranks. Merge application is greedy
      // left-to-right non-overlapping — exactly the semantics of
      // `replace()` on the delimiter-wrapped symbol string in BOTH
      // engines (each symbol rendered "(sym)", so adjacent matches never
      // share a delimiter character and "(a)(a)(a)" merges to
      // "(aa)(a)", the BPE rule).
      //
      // Shape, and why it scales: the ONLY corpus-sized stage is the word
      // count — a hash aggregation with map-side partial combine (the
      // Zipf head collapses per-mapper), memoized to scratch parquet per
      // (process, dataset) ([[bpeWords]]). The DISTINCT-word table it
      // yields is model-sized (vocab-bounded ≪ corpus), so it is
      // collected ONCE under the [[Shared.collectModelSized]] row guard
      // and every round runs on the driver ([[bpeTrain]]): a weighted
      // pair count, the argmax, one in-memory merge pass, O(vocab) per
      // round and no Spark job at all — the merge list is a MODEL
      // PARAMETER (the q159 trained-centroid precedent: bounded by the
      // merge count, never by data).
      // Words are restricted to alphanumeric ([A-Za-z0-9]+) so the
      // wrapper delimiters can never collide with symbol bytes —
      // punctuation-bearing "words" are noise for tokenizer induction
      // anyway (both engines apply the identical filter).
      (s, d) => {
        import s.implicits._
        bpeLearnMerges(s, d).zipWithIndex
          .map { case ((pair, n), i) => (pair, n, (i + 1).toLong) }
          .toDF("pair", "n", "rk")
      },
      Some(bpeOracleSql)
    ),

    QueryDef(
      "q440_bpe_vocab_target",
      // Tokenizer training TO A TARGET VOCABULARY — the interface real
      // BPE induction ships (|V| = 30k/50k/...), closing r11's "merge
      // budget vs vocab target" gap: the target is base charset + 32,
      // the base charset size is MEASURED from the corpus (distinct
      // single characters over the BPE word universe), and the needed
      // merge count falls out as target − base because each BPE merge
      // adds EXACTLY one new symbol to the vocabulary and never removes
      // one. Greedy BPE is prefix-stable — the first k merges of a
      // longer run ARE the k-merge run — so the trajectory is the
      // [[bpeLearnMerges]] memo's prefix (one shared training run with
      // q171/q175/q271, convergence early-stop included: a corpus whose
      // merges dry up before target yields fewer rows, identically in
      // the unrolled oracle). Output: the merge trajectory with the
      // RUNNING VOCAB SIZE, ending at the target (or convergence).
      //
      // Shape, and why it scales: base-charset measurement is one
      // aggregation over the vocab-bounded word memo (never the corpus);
      // training costs are q171's (one guarded vocabulary collect, then
      // driver-side rounds, each O(vocab)); the emitted table is
      // model-sized.
      (s, d) => {
        import s.implicits._
        val extraSyms = 32
        val base = bpeWords(s, d)
          .select(explode(split(regexp_replace(col("sym0"), "[()]", ""), ""))
            .as("c"))
          .filter(col("c") =!= "")
          .agg(countDistinct(col("c"))).head.getLong(0)
        val targetVocab = base + extraSyms
        bpeLearnMerges(s, d).take((targetVocab - base).toInt).zipWithIndex
          .map { case ((pair, n), i) =>
            (pair, n, (i + 1).toLong, base + i + 1) }
          .toDF("pair", "n", "rk", "vocab_size")
      },
      Some(s"""${bpeRoundsSql(32)},
              merged AS (${(1 to 32).map(k =>
                s"SELECT pair, n, CAST($k AS BIGINT) AS rk FROM t$k")
                .mkString("\nUNION ALL ")}),
              basev AS (SELECT count(DISTINCT substring(word,
                    CAST(i AS INT) + 1, 1)) AS b
                FROM (SELECT word, unnest(range(length(word))) AS i FROM wb))
              SELECT pair, n, rk, CAST(b + rk AS BIGINT) AS vocab_size
              FROM merged, basev""")
    ),

    // ── TRAINED quality classifier (rule-silver distillation) ─────────────
    QueryDef(
      "q173_quality_classifier",
      // The production curation step q33/q149/q169 feed (the
      // fastText/CCNet bootstrap): distill a RULE-based silver label into
      // a trained LINEAR model, then score every document with it. Silver
      // label = q33's quality rule in exact-integer form (len ∈ [100,400]
      // ∧ 4·alpha > 3·len); training = variance-scaled difference of
      // class means (diagonal LDA) over five exact-integer features
      // (chars, tokens, alpha, digit, uppercase counts) on the even-id
      // TRAIN split (the bigramTable split convention); scoring =
      // w·(x − midpoint) over ALL documents. Every trained parameter is
      // a ratio of exact BIGINT sums evaluated in the same textual
      // order in both engines, so weights, scores, and predictions are
      // bit-identical — no SGD, no order-dependent updates, nothing a
      // distributed engine can't reproduce deterministically.
      //
      // Shape, and why it scales: one feature scan over the train split
      // folds to a SINGLE stats row (map-side partial aggregation — the
      // model fits in a closed form, so training is one reduction, the
      // way linear models should train at 100 TB); the scoring pass
      // cross-joins that 1-row broadcast onto the corpus scan — zero
      // shuffles beyond the stats reduction, no driver round-trip at
      // all (the model stays a 1-row DataFrame).
      (s, d) => {
        val feats = Tables.documents(s, d)
          // regex-heavy per-row stage: spread the single input split
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            length(col("text")).cast("long").as("f1"),
            size(tokens(col("text"))).cast("long").as("f2"),
            length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
              .cast("long").as("f3"),
            length(regexp_replace(col("text"), "[^0-9]", ""))
              .cast("long").as("f4"),
            length(regexp_replace(col("text"), "[^A-Z]", ""))
              .cast("long").as("f5"))
          .withColumn("y",
            when(col("f1").between(100, 400) &&
              col("f3") * 4 > col("f1") * 3, 1L).otherwise(0L))
        val fs = Seq("f1", "f2", "f3", "f4", "f5")
        val aggs = Seq(
          sum(when(col("y") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("y") === 0, 1L).otherwise(0L)).as("n0"),
          count(lit(1)).as("n")) ++
          fs.flatMap(fc => Seq(
            sum(when(col("y") === 1, col(fc)).otherwise(0L)).as(s"s1$fc"),
            sum(when(col("y") === 0, col(fc)).otherwise(0L)).as(s"s0$fc"),
            sum(col(fc)).as(s"s$fc"),
            sum(col(fc) * col(fc)).as(s"q$fc")))
        val st = feats.filter(col("doc_id") % 2 === 0)
          .agg(aggs.head, aggs.tail: _*)
        // per-feature weight w = (μ₁−μ₀)/(var+1), midpoint m = (μ₁+μ₀)/2;
        // +1 regularizes zero-variance features and keeps units sane.
        // Degenerate-corpus guard (r8 ADVICE): a single-class train split
        // (n1 or n0 = 0) must yield NULL weights/scores in BOTH engines —
        // DuckDB's x/0 is NULL, so null out the zero denominators here
        // rather than trusting engine-specific division-by-zero behavior.
        def nz(c: Column): Column = when(c > 0, c.cast("double"))
        val model = st.select(fs.flatMap { fc =>
          val mu1 = col(s"s1$fc").cast("double") / nz(col("n1"))
          val mu0 = col(s"s0$fc").cast("double") / nz(col("n0"))
          val mu = col(s"s$fc").cast("double") / nz(col("n"))
          val varr = col(s"q$fc").cast("double") / nz(col("n")) - mu * mu
          Seq(((mu1 - mu0) / (varr + lit(1.0))).as(s"w$fc"),
            ((mu1 + mu0) / 2.0).as(s"m$fc"))
        }: _*)
        val score = fs.map(fc => col(s"w$fc") * (col(fc) - col(s"m$fc")))
          .reduce(_ + _)
        feats.crossJoin(broadcast(model))
          .withColumn("score", score)
          .select(col("doc_id"), col("y"),
            col("score"),
            when(col("score") > 0, 1L).otherwise(0L).as("pred"))
      },
      Some(s"""WITH f AS (SELECT doc_id,
                CAST(length(text) AS BIGINT) AS f1,
                CAST(len($SQL_TOKENS) AS BIGINT) AS f2,
                CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS f3,
                CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS f4,
                CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT) AS f5
              FROM documents),
              lab AS (SELECT doc_id, f1, f2, f3, f4, f5,
                CASE WHEN f1 BETWEEN 100 AND 400 AND f3 * 4 > f1 * 3
                     THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
              FROM f),
              st AS (SELECT
                sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS n1,
                sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS n0,
                count(*) AS n,
                ${Seq("f1", "f2", "f3", "f4", "f5").map(fc =>
                  s"""sum(CASE WHEN y = 1 THEN $fc ELSE 0 END) AS s1$fc,
                      sum(CASE WHEN y = 0 THEN $fc ELSE 0 END) AS s0$fc,
                      sum($fc) AS s$fc, sum($fc * $fc) AS q$fc""")
                  .mkString(",\n")}
              FROM lab WHERE doc_id % 2 = 0),
              w AS (SELECT
                ${Seq("f1", "f2", "f3", "f4", "f5").map(fc =>
                  s"""(CAST(s1$fc AS DOUBLE) / n1 - CAST(s0$fc AS DOUBLE) / n0)
                       / (CAST(q$fc AS DOUBLE) / n
                          - (CAST(s$fc AS DOUBLE) / n) * (CAST(s$fc AS DOUBLE) / n)
                          + 1.0) AS w$fc,
                      (CAST(s1$fc AS DOUBLE) / n1 + CAST(s0$fc AS DOUBLE) / n0)
                        / 2.0 AS m$fc""").mkString(",\n")}
              FROM st),
              sc AS (SELECT doc_id, y,
                ${Seq("f1", "f2", "f3", "f4", "f5").map(fc =>
                  s"w.w$fc * ($fc - w.m$fc)").mkString(" + ")} AS score
              FROM lab, w)
              SELECT doc_id, y, score,
                CASE WHEN score > 0 THEN CAST(1 AS BIGINT)
                     ELSE CAST(0 AS BIGINT) END AS pred
              FROM sc""")
    ),

    // ── mixing APPLY: epoch upsampling of under-represented strata ────────
    QueryDef(
      "q178_mix_upsample",
      // q130 SELECTS (temperature down-sampling of big sources); this is
      // the other half every pretraining mix needs — UPSAMPLING: small
      // strata repeat for multiple epochs (the α=0.5 epoch-boost rule:
      // a stratum k× smaller than the largest runs ceil(√k) epochs).
      // Stratified by language (the skewed column in this corpus; sources
      // are uniform). The APPLY is a real replication — each doc explodes
      // into `rep` epoch rows — and the output pins it per (lang, epoch),
      // so a wrong factor or a lost epoch breaks the hash match.
      //
      // Shape, and why it scales: one count aggregation (tiny), a 1-row
      // max broadcast, a model-sized factor table broadcast back onto the
      // corpus scan, and the explode — zero extra shuffles beyond the
      // final bounded aggregation; output rows = Σ rep (≈ #strata·max
      // epochs). Determinism: n_max/n_l is one pinned double division,
      // sqrt/ceil are IEEE-identical in both engines, and both generate
      // the INCLUSIVE 1..rep epoch series.
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("lang"), length(col("text")).cast("long").as("len"))
        val st = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
        val mx = st.agg(max(col("n_l")).as("n_max"))
        val rep = st.crossJoin(broadcast(mx))
          .withColumn("rep",
            ceil(sqrt(col("n_max").cast("double") / col("n_l"))).cast("long"))
          .select("lang", "rep")
        docs.join(broadcast(rep), "lang")
          .select(col("lang"), col("len"),
            explode(sequence(lit(1L), col("rep"))).as("epoch"))
          .groupBy("lang", "epoch")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("len")).cast("long").as("sum_len"))
      },
      Some("""WITH q AS (SELECT lang, CAST(length(text) AS BIGINT) AS len
                FROM documents),
              st AS (SELECT lang, count(*) AS n_l FROM q GROUP BY 1),
              mx AS (SELECT max(n_l) AS n_max FROM st),
              rep AS (SELECT lang,
                  CAST(ceil(sqrt(CAST(n_max AS DOUBLE) / n_l)) AS BIGINT) AS rep
                FROM st, mx),
              ex AS (SELECT lang, len, CAST(e AS BIGINT) AS epoch
                FROM (SELECT q.lang, q.len,
                        unnest(generate_series(1, rep)) AS e
                      FROM q JOIN rep USING (lang)))
              SELECT lang, epoch, count(*) AS n_docs,
                CAST(sum(len) AS BIGINT) AS sum_len
              FROM ex GROUP BY 1, 2""")
    ),

    // ── SimHash LSH: banded near-dup pairs at corpus scale ────────────────
    QueryDef(
      "q174_simhash_lsh",
      // q39b's NAMED scale path, implemented (the r8 counterpart of
      // q38's MinHash banding): the 32-bit simhash splits into 4 bands
      // of 8 bits, candidate pairs come from exact band-slice equality —
      // a KEYED equi-join, never an all-pairs stage — and candidates
      // exact-confirm by Hamming distance. The PIGEONHOLE GUARANTEE:
      // any pair within Hamming distance 3 differs in at most 3 of the
      // 4 bands, so it MUST collide in at least one. The declared
      // contract is the BANDED semantics including the degenerate-slice
      // cap below, and the oracle mirrors band/cap/confirm exactly (r8
      // ADVICE: an all-pairs oracle silently disagrees the moment a
      // corpus has a slice hotter than the cap — the two forms coincide
      // on corpora with no hot slices, as QueriesSpec pins on a random
      // corpus, but the verified contract must agree at EVERY scale).
      //
      // Shape, and why it's NOT q38's in-bucket-HOF form: fingerprints
      // materialize once to scratch ([[simhashTable]] — 16 bytes/doc, the
      // ingest-time artifact a real deployment stores), so the q38 concern
      // (re-deriving an expensive subtree on both join sides) vanishes,
      // and the pair work distributes across the (band, slice) shuffle
      // instead of running quadratically inside ONE aggregation row per
      // bucket — the first cut did exactly that and sf0.1's hottest
      // slice (~1.3k members → ~900k single-threaded struct pairs) put
      // the query at 5.2 s; the join form parallelizes it (0.9 s). A
      // degenerate-bucket guard drops slices shared by > 4096 docs
      // (corpus boilerplate, not near-dup signal — q38's cap, join
      // form); at real 100 TB scale the slice WIDTH grows (16-bit bands
      // of a 64-bit simhash), keeping buckets small, and hot survivors
      // are AQE-skew-split.
      (s, d) => {
        val B = SIMHASH_BANDS
        val bands = simhashTable(s, d)
          .select(col("doc_id"), col("simhash"),
            explode(array((0 until B).map(b =>
              struct(lit(b).as("band"),
                call_function("shiftright", col("simhash"), lit(b * 8))
                  .bitwiseAND(lit(255L)).as("slice"))): _*)).as("bb"))
          .select(col("doc_id"), col("simhash"),
            col("bb.band").as("band"), col("bb.slice").as("slice"))
        val ok = bands.groupBy("band", "slice")
          .agg(count(lit(1)).as("c"))
          .filter(col("c").between(2, SIMHASH_SLICE_CAP))
          .select("band", "slice")
        val bb = bands.join(ok, Seq("band", "slice"), "left_semi")
        val x = bb.select(col("band"), col("slice"),
          col("doc_id").as("a"), col("simhash").as("fa"))
        val y = bb.select(col("band").as("band2"), col("slice").as("slice2"),
          col("doc_id").as("b"), col("simhash").as("fb"))
        x.join(y, col("band") === col("band2") &&
            col("slice") === col("slice2") && col("a") < col("b"))
          .withColumn("hd",
            bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long"))
          .filter(col("hd") <= 3)
          .select("a", "b", "hd")
          .dropDuplicates("a", "b")
      },
      Some(s"""$SQL_SIMHASH_FP,
              bands AS (SELECT doc_id, simhash, bd AS band,
                  (simhash >> CAST(bd * 8 AS INT)) & 255 AS slice
                FROM fp, (SELECT unnest(range($SIMHASH_BANDS)) AS bd)),
              ok AS (SELECT band, slice FROM bands GROUP BY 1, 2
                     HAVING count(*) BETWEEN 2 AND $SIMHASH_SLICE_CAP),
              cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM bands x
                JOIN ok ON ok.band = x.band AND ok.slice = x.slice
                JOIN bands y ON y.band = x.band AND y.slice = x.slice
                  AND x.doc_id < y.doc_id)
              SELECT c.a, c.b,
                CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hd
              FROM cand c
              JOIN fp fa ON fa.doc_id = c.a
              JOIN fp fb ON fb.doc_id = c.b
              WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3""")
    ),

    // ── BPE APPLY: tokenize the corpus with the learned merges ────────────
    QueryDef(
      "q175_bpe_apply",
      // The application half of tokenizer training (q171 learns, this
      // tokenizes — the q172 compose-the-halves pattern): the learned
      // merge list ([[bpeLearnMerges]], memoized model parameters) is
      // replayed over the vocabulary as a chained `replace` projection,
      // and the output is the corpus-level compression audit every
      // tokenizer build ends with: word count, pre-BPE symbol (char)
      // count, post-BPE token count, and the merged symbol vocabulary
      // size. Everything here is vocab-bounded (the corpus-sized word
      // count is [[bpeWords]]' memoized scratch; training is one guarded
      // collect of it plus driver-side rounds, see q171); the two tiny
      // aggregates join as a 1-row broadcast.
      (s, d) => {
        val merged = bpeMergedSymsCol(bpeLearnMerges(s, d))
        val arr0 = split(col("sym0").substr(lit(2), length(col("sym0")) - 2),
          "\\)\\(")
        val st = bpeWords(s, d)
          .select(col("wcnt"), merged.as("l"), size(arr0).as("nl0"))
        val totals = st.agg(
          sum(col("wcnt")).cast("long").as("n_words"),
          sum(col("nl0") * col("wcnt")).cast("long").as("n_chars"),
          sum(size(col("l")) * col("wcnt")).cast("long").as("n_tokens"))
        val vocab = st.select(explode(col("l")).as("tok"))
          .agg(countDistinct(col("tok")).as("n_vocab"))
        totals.crossJoin(broadcast(vocab))
      },
      Some(s"""${bpeRoundsSql(BpeMerges)},
              s_fin AS (SELECT str_split(sym[2:length(sym)-1], ')(') AS l,
                          wcnt FROM w$BpeMerges)
              SELECT
                (SELECT CAST(sum(wcnt) AS BIGINT) FROM wb) AS n_words,
                (SELECT CAST(sum(length(word) * wcnt) AS BIGINT) FROM wb)
                  AS n_chars,
                (SELECT CAST(sum(len(l) * wcnt) AS BIGINT) FROM s_fin)
                  AS n_tokens,
                (SELECT CAST(count(DISTINCT tok) AS BIGINT)
                 FROM (SELECT unnest(l) AS tok FROM s_fin)) AS n_vocab""")
    ),

    // ── SEQUENCE PACKING: concat-and-chunk training sequences ─────────────
    QueryDef(
      "q181_sequence_packing",
      // The last step of every pretraining data pipeline: concatenate
      // the corpus in a canonical order and cut it into fixed-budget
      // training sequences (GPT-style chunking, B = SeqPackBudget
      // tokens). A document belongs to the sequence where its first
      // token lands; `n_split` counts documents straddling a cut (the
      // attention-mask / document-boundary statistic packing decisions
      // are made on). Declared contract: per-sequence doc count, token
      // count, split count, first doc.
      //
      // Shape, and why it scales: the naive form is a GLOBAL cumulative
      // sum — `Window.orderBy(doc_id)` with no partition key, which
      // Spark executes on ONE partition (the documented anti-pattern).
      // This implementation is the classic DISTRIBUTED PREFIX SUM
      // instead: (1) deterministic range buckets (doc_id / G) get local
      // cumulative sums in a parallel per-bucket window; (2) bucket
      // TOTALS — a bucket-count-sized table, model-sized at any corpus
      // scale — get running offsets in one tiny window; (3) offsets
      // broadcast-join back and local + offset = global prefix, exactly.
      // The oracle states the SPEC (the plain global window DuckDB can
      // afford single-node): the hash match proves the distributed
      // prefix sum ≡ the global cumulative sum.
      (s, d) => {
        val B = SeqPackBudget
        val base = Tables.documents(s, d)
          .select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("nt"))
        Shared.distributedPrefixSum(base, "doc_id", "nt")
          .withColumn("seq_id", floor(col("cum") / B).cast("long"))
          .withColumn("crosses",
            when(col("nt") > 0 &&
              floor((col("cum") + col("nt") - 1) / B) =!= col("seq_id"), 1L)
              .otherwise(0L))
          .groupBy("seq_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nt")).as("sum_tokens"),
            sum(col("crosses")).as("n_split"),
            min(col("doc_id")).as("first_doc"))
      },
      Some(s"""WITH t AS (SELECT doc_id,
                  CAST(len($SQL_TOKENS) AS BIGINT) AS nt
                FROM documents),
              c AS (SELECT doc_id, nt,
                  COALESCE(sum(nt) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cum
                FROM t)
              SELECT CAST(cum // $SeqPackBudget AS BIGINT) AS seq_id,
                count(*) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS sum_tokens,
                CAST(sum(CASE WHEN nt > 0 AND
                    (cum + nt - 1) // $SeqPackBudget != cum // $SeqPackBudget
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_split,
                min(doc_id) AS first_doc
              FROM c GROUP BY 1""")
    ),

    // ── CONSISTENT stratified sampling (deterministic data selection) ─────
    QueryDef(
      "q183_stratified_sample",
      // The subsampling primitive every corpus-ablation run needs:
      // per-stratum (language) samples of K docs ranked by
      // (content hash, doc_id) — "smallest-hash" CONSISTENT sampling:
      // deterministic across reruns and engines (no RNG state), uniform
      // in expectation, stratified by construction, and stable under
      // corpus growth (new docs can only displace sample members, never
      // reshuffle survivors — the property rerun-to-rerun diffing
      // depends on). The hash is the engine-shared md5-derived h32, so
      // the oracle reproduces the exact sample, not just its size.
      //
      // Shape: one hash-partitioned window per stratum (parallel across
      // languages; for a skewed mega-stratum the standard refinement is
      // a per-partition top-K pre-filter before the window — the rank
      // only needs the K smallest hashes, which map-side selection
      // bounds at O(K) per partition). No global sort, no shuffle
      // beyond the stratum partitioning.
      (s, d) => {
        val w = Window.partitionBy("lang")
          .orderBy(col("h").asc, col("doc_id").asc)
        Tables.documents(s, d)
          .withColumn("h", h32(col("text")))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= SampleK)
          .select(col("lang"), col("rk"), col("doc_id"), col("h"))
      },
      Some(s"""WITH h AS (SELECT lang, doc_id, ${SQL_H32("text")} AS h
                FROM documents)
              SELECT lang,
                CAST(row_number() OVER (PARTITION BY lang
                  ORDER BY h, doc_id) AS BIGINT) AS rk,
                doc_id, h
              FROM h QUALIFY rk <= $SampleK""")
    ),

    // ── trigram stupid-backoff LM scoring (the web-scale LM recipe) ───────
    QueryDef(
      "q187_trigram_backoff_score",
      // q169's bigger sibling: score every document under a TRIGRAM model
      // with STUPID BACKOFF (Brants et al. 2007, "Large Language Models in
      // Machine Translation" — the smoothing explicitly designed for
      // web-scale distributed n-gram counts: no discounting state, no
      // normalization pass, just raw count ratios with a fixed 0.4
      // backoff penalty per level, which is exactly why it maps onto a
      // distributed engine with nothing but counts and joins).
      //   S(w3|w1w2) = c(w1w2w3)/c(w1w2·)            if the trigram was seen
      //              = 0.4 · c(w2w3)/c(w2·)          else if the bigram was
      //              = 0.4² · c(w3)/N                else (unigram floor)
      // Per the q57/q169 discipline the score is LOG-FREE fixed-point:
      // each ratio is exact BIGINT ppm (10⁶·c div ctx; the 0.4 penalties
      // fold into the 400 000 / 160 000 numerator constants), so both
      // engines agree bit-for-bit. All counts derive from the ONE train
      // trigram stream (even doc_id — the bigramTable split convention),
      // the standard self-consistent simplification.
      //
      // Shape, and why it scales: the tokenize→trigram lineage has many
      // consumers, so it materializes ONCE per (process, dataset) to
      // scratch parquet ([[trigramTable]], a [[Shared.memo]]) and
      // every count table is a column-pruned scan of that flat table. The
      // trigram/bigram count tables are Zipf-bounded (≪ corpus) and join
      // on COMPOSITE keys — hash equi-joins whose second key damps the
      // Zipf-head skew (never a w1-only shuffle). The unigram context
      // tables are vocab-bounded → broadcast. N is ONE scalar (model
      // parameter — the q159/q164 precedent). At 100 TB the production
      // refinement is count-threshold pruning of the trigram table
      // (Brants et al. store only c ≥ 2), which only shrinks the joins.
      (s, d) => {
        val (allT, n) = trigramTable(s, d)
        val train = allT.filter(col("doc_id") % 2 === 0)
        // the backoff ratios are resolved MODEL-SIDE: numerator and
        // context counts pre-join inside the Zipf-bounded n-gram tables
        // (trigram⋈bigram-context, bigram⋈unigram-context), so the
        // corpus-sized eval stream pays TWO composite-key joins, not
        // four — the model is where the joins belong at 100 TB
        val c3 = train.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
        val c12 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val c23 = train.groupBy("w2", "w3").agg(count(lit(1)).as("c23"))
        val c2 = train.groupBy("w2").agg(count(lit(1)).as("c2"))
        val c1u = train.groupBy("w3").agg(count(lit(1)).as("c1u"))
        val s3 = c3.join(c12, Seq("w1", "w2"))
          .select(col("w1"), col("w2"), col("w3"),
            expr("(1000000 * c3) div c12").as("ppm3"))
        val s2 = c23.join(broadcast(c2), Seq("w2"))
          .select(col("w2"), col("w3"),
            expr("(400000 * c23) div c2").as("ppm2"))
        allT
          .join(s3, Seq("w1", "w2", "w3"), "left")
          .join(s2, Seq("w2", "w3"), "left")
          .join(broadcast(c1u), Seq("w3"), "left")
          .withColumn("ppm", coalesce(col("ppm3"), col("ppm2"),
            expr(s"(160000 * coalesce(c1u, CAST(0 AS BIGINT))) div ${n}L")))
          .withColumn("lvl",
            when(col("ppm3").isNotNull, 3L)
              .when(col("ppm2").isNotNull, 2L).otherwise(1L))
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_trigrams"),
            sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_l3"),
            sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_l2"),
            sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_l1"),
            sum(col("ppm")).cast("long").as("sum_ppm"))
          .withColumn("lm_score",
            col("sum_ppm").cast("double") / col("n_trigrams"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, source, $SQL_TOKENS AS t FROM documents),
              tg AS (SELECT doc_id, source,
                       t[p] AS w1, t[p+1] AS w2, t[p+2] AS w3
                     FROM (SELECT doc_id, source, t,
                             unnest(generate_series(1, len(t) - 2)) AS p
                           FROM tok WHERE len(t) >= 3)),
              tr AS (SELECT * FROM tg WHERE doc_id % 2 = 0),
              c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tr GROUP BY 1, 2, 3),
              c12 AS (SELECT w1, w2, count(*) AS c12 FROM tr GROUP BY 1, 2),
              c23 AS (SELECT w2, w3, count(*) AS c23 FROM tr GROUP BY 1, 2),
              c2 AS (SELECT w2, count(*) AS c2 FROM tr GROUP BY 1),
              c1u AS (SELECT w3, count(*) AS c1u FROM tr GROUP BY 1),
              nn AS (SELECT count(*) AS n FROM tr),
              sc AS (SELECT doc_id, source,
                       CASE WHEN c3.c3 IS NOT NULL THEN (1000000 * c3.c3) // c12.c12
                            WHEN c23.c23 IS NOT NULL THEN (400000 * c23.c23) // c2.c2
                            ELSE (160000 * coalesce(c1u.c1u, 0)) // nn.n END AS ppm,
                       CASE WHEN c3.c3 IS NOT NULL THEN 3
                            WHEN c23.c23 IS NOT NULL THEN 2 ELSE 1 END AS lvl
                     FROM tg LEFT JOIN c3 USING (w1, w2, w3)
                       LEFT JOIN c12 USING (w1, w2)
                       LEFT JOIN c23 USING (w2, w3)
                       LEFT JOIN c2 USING (w2)
                       LEFT JOIN c1u USING (w3) CROSS JOIN nn)
              SELECT doc_id, source, count(*) AS n_trigrams,
                CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_l3,
                CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_l2,
                CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_l1,
                CAST(sum(ppm) AS BIGINT) AS sum_ppm,
                CAST(sum(ppm) AS DOUBLE) / count(*) AS lm_score
              FROM sc GROUP BY 1, 2"""),
      headline = true
    ),

    // ── hashed-n-gram linear quality classifier (the fastText shape) ──────
    QueryDef(
      "q188_hashed_ngram_classifier",
      // q173 distills the q33 rule into a model over 5 HAND-PICKED
      // features; this is the fastText architecture (Joulin et al. 2017)
      // the production quality classifiers actually use: a BAG OF HASHED
      // BIGRAM features (every adjacent word pair hashes into one of
      // [[NbBuckets]] buckets — vocabulary-free, fixed model size by
      // construction) under a linear scorer. Training is class-conditional
      // counting (the multinomial-NB closed form — one aggregation, no
      // SGD, deterministic); scoring is log-free per the q169 discipline:
      // each bucket contributes the exact fixed-point ppm DIFFERENCE
      //   w(b) = ppm(b|1) − ppm(b|0),  ppm(b|c) = 10⁶·(n_c(b)+1) div (N_c+B)
      // (add-one smoothing over the B hashed buckets; denominators are
      // ≥ B so a single-class train split degrades identically in both
      // engines — no div-zero guard needed, the r8 q173 lesson applied
      // by construction). Silver labels = q173's exact-integer q33 rule.
      //
      // Shape, and why it scales: features reuse the memoized
      // [[bigramTable]] scan (zero new corpus passes); the MODEL is
      // ≤ B+1 rows by construction → broadcast to the scoring join (a
      // trained classifier at 100 TB is exactly this: bounded
      // parameters riding a broadcast, corpus-sized streams never
      // joining each other). Labels are doc-bounded (≪ token stream) and
      // join on doc_id — the one keyed doc-grain join. Train stats fold
      // to ONE row. No shuffle anywhere except the per-doc score
      // aggregation and the count aggregations.
      (s, d) => nbScores(s, d),
      Some(nbScoreSql)
    ),

    // ── INVERTED-INDEX phrase search (postings adjacency join) ────────────
    QueryDef(
      "q193_phrase_search",
      // The search-engine primitive the retrieval family was missing:
      // q56/q57/q95 SCORE documents by re-scanning the corpus; this
      // queries an INVERTED INDEX — the positional postings table
      // (doc_id, p, w), the artifact a real deployment builds at ingest
      // ([[postingsTable]], memoized scratch; at 100 TB it's written
      // bucketed by token so each phrase probe opens only its tokens'
      // buckets). Phrase matching is the classic POSITIONAL ADJACENCY
      // JOIN: a 3-token phrase matches where w1@p, w2@p+1, w3@p+2 —
      // three keyed equi-joins on (doc_id, position), never a string
      // rescan. The workload is self-derived (the top-3 corpus trigrams
      // by frequency, a deterministic total order) so the query is
      // closed over the fixture; the oracle recomputes the same matches
      // from the flat trigram stream — proving index probe ≡ corpus
      // scan, the q168 layout-equivalence discipline applied to search.
      (s, d) => {
        val (allT, _) = trigramTable(s, d)
        val phrases = allT.groupBy("w1", "w2", "w3")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("w1").asc, col("w2").asc, col("w3").asc)
          .limit(3)
          .select("w1", "w2", "w3")
        val post = postingsTable(s, d)
        val a = post.select(col("doc_id"), col("p").as("p1"), col("w").as("w1"))
        val b = post.select(col("doc_id").as("d2"), col("p").as("p2"),
          col("w").as("w2"))
        val c = post.select(col("doc_id").as("d3"), col("p").as("p3"),
          col("w").as("w3"))
        a.join(broadcast(phrases), Seq("w1"))
          .join(b, col("d2") === col("doc_id") && col("p2") === col("p1") + 1 &&
            b("w2") === phrases("w2"))
          .join(c, col("d3") === col("doc_id") && col("p3") === col("p1") + 2 &&
            c("w3") === phrases("w3"))
          .groupBy(col("w1"), phrases("w2"), phrases("w3"))
          .agg(count(lit(1)).as("n_occurrences"),
            countDistinct(col("doc_id")).as("n_docs"),
            min(col("doc_id")).as("first_doc"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, $SQL_TOKENS AS t FROM documents),
              tg AS (SELECT doc_id, t[p] AS w1, t[p+1] AS w2, t[p+2] AS w3
                     FROM (SELECT doc_id, t,
                             unnest(generate_series(1, len(t) - 2)) AS p
                           FROM tok WHERE len(t) >= 3)),
              top AS (SELECT w1, w2, w3 FROM (
                        SELECT w1, w2, w3, count(*) AS n FROM tg GROUP BY 1, 2, 3)
                      ORDER BY n DESC, w1, w2, w3 LIMIT 3)
              SELECT w1, w2, w3, count(*) AS n_occurrences,
                count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
              FROM tg JOIN top USING (w1, w2, w3)
              GROUP BY 1, 2, 3""")
    ),

    // ── LENGTH-BUCKETED BATCHING: padding-waste accounting ────────────────
    QueryDef(
      "q196_length_buckets",
      // The training-efficiency counterpart of q181's packing: DYNAMIC
      // BATCHING by length bucket (every serving/finetuning stack pads
      // sequences to a bucket boundary; the op quantifies what that
      // costs). Each document rounds UP to the nearest power-of-two
      // token length — computed EXACTLY via a broadcast powers table +
      // min-over-qualifying join (no float log2 anywhere: both engines
      // pick the identical bucket by integer comparison). Per bucket:
      // docs, real tokens, padded tokens, waste, and the batch count at
      // a fixed B=2048-token budget (capacity = B div bucket, batches =
      // ceil-div — all BIGINT). Docs over the 8192 cap would fall out of
      // the join in BOTH engines; the guard filter makes that contract
      // explicit rather than silent.
      //
      // Shape: one corpus scan, a 14-row broadcast join, one aggregation.
      (s, d) => {
        import s.implicits._
        val powers = (0 to 13).map(i => 1L << i).toDF("bl")
        val base = Tables.documents(s, d)
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("nt"))
          .filter(col("nt") >= 1 && col("nt") <= 8192)
        base.join(broadcast(powers), col("bl") >= col("nt"))
          .groupBy("doc_id", "nt")
          .agg(min(col("bl")).as("bucket_len"))
          .groupBy("bucket_len")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nt")).as("sum_tokens"))
          .withColumn("pad_waste",
            col("bucket_len") * col("n_docs") - col("sum_tokens"))
          .withColumn("n_batches", expr(
            """(n_docs + (2048 div bucket_len) - 1)
               div (2048 div bucket_len)"""))
      },
      Some(s"""WITH base AS (SELECT doc_id,
                  CAST(len($SQL_TOKENS) AS BIGINT) AS nt
                FROM documents),
              pw AS (SELECT CAST(unnest([1,2,4,8,16,32,64,128,256,512,
                  1024,2048,4096,8192]) AS BIGINT) AS bl),
              bk AS (SELECT doc_id, nt, min(bl) AS bucket_len
                FROM base JOIN pw ON bl >= nt
                WHERE nt BETWEEN 1 AND 8192
                GROUP BY 1, 2)
              SELECT bucket_len, count(*) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS sum_tokens,
                CAST(bucket_len * count(*) - sum(nt) AS BIGINT) AS pad_waste,
                CAST((count(*) + (2048 // bucket_len) - 1)
                  // (2048 // bucket_len) AS BIGINT) AS n_batches
              FROM bk GROUP BY 1""")
    ),

    // ── CROSS-SOURCE LEAKAGE MATRIX (who copies from whom) ────────────────
    QueryDef(
      "q197_crosssource_leakage",
      // The curation report layered on the near-dup machinery: the
      // winnow candidate pairs ([[winnowPairs]] — already memoized, so
      // this costs two doc-grain joins, not a fingerprint pass) joined
      // to each member's source and folded into the (source, source)
      // matrix — which corpora share content, the signal that drives
      // per-source dedup budgets and license audits. Source pairs are
      // canonicalized (least, greatest) so the matrix is triangular like
      // the a<b pair convention; the diagonal is within-source
      // duplication.
      (s, d) => {
        val pairs = winnowPairs(s, d)
        val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
          .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
          .groupBy(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("n_shared")).cast("long").as("sum_shared"))
      },
      Some(SQL_WINNOW_PAIR_CTES + """,
           j AS (SELECT least(da.source, db.source) AS source_a,
                   greatest(da.source, db.source) AS source_b, n_shared
                 FROM wpairs JOIN documents da ON wpairs.a = da.doc_id
                   JOIN documents db ON wpairs.b = db.doc_id)
           SELECT source_a, source_b, count(*) AS n_pairs,
             CAST(sum(n_shared) AS BIGINT) AS sum_shared
           FROM j GROUP BY 1, 2""")
    ),

    // ── RAG CONTEXT ASSEMBLY capstone (chunk → embed → retrieve → pack) ───
    QueryDef(
      "q200_rag_context",
      // The retrieval-side counterpart of q166's curation capstone: the
      // full RAG preprocessing pipeline as ONE declarative plan — q116's
      // sliding 64/32 chunking, a deterministic hash-projection embedding
      // per chunk (q46's dyadic md5 features: every value is k/2³², so
      // all cosines are IEEE-identical in both engines), cosine top-5
      // retrieval per query (queries = the first 32 tokens of docs 1–3,
      // own-doc chunks excluded), and BUDGETED CONTEXT PACKING: a
      // running token total in rank order keeps chunks while the 96-token
      // budget holds — the decision every serving stack makes per
      // request. Output = the ranked candidate table with the packing
      // verdict per row, so the oracle pins ranking, tie-breaks, the
      // cumulative sum, and the keep/cut boundary all at once.
      //
      // Shape, and why it scales: chunking + embedding is one zero-
      // shuffle per-row stage; scoring joins the 3-query broadcast onto
      // the chunk stream (the q41 brute demo shape — the IVF/PQ family
      // is the production path for the scoring stage, unchanged); the
      // pack is a per-query window over ≤5 rows.
      (s, d) => {
        def embed(txt: Column): Column = transform(sequence(lit(1), lit(8)),
          k => h32(concat(txt, lit(":"), k.cast("string"))).cast("double") /
            lit(4294967296.0))
        def nrm(v: Column): Column =
          sqrt(Shared.fsum(zip_with(v, v, (a, b) => a * b)))
        val t = tokens(col("text"))
        val chunks = Tables.documents(s, d)
          .filter(col("doc_id") > 3)
          .select(col("doc_id"), t.as("t"),
            (floor((greatest(size(t) - lit(64), lit(0)) + lit(31)) / lit(32))
              .cast("int") + lit(1)).as("nc"))
          .select(col("doc_id"),
            explode(transform(sequence(lit(0), col("nc") - 1), i =>
              struct(i.cast("long").as("chunk_id"),
                array_join(slice(col("t"), i * 32 + 1, lit(64)), " ").as("ctext"),
                size(slice(col("t"), i * 32 + 1, lit(64))).cast("long")
                  .as("n_tokens")))).as("c"))
          .select(col("doc_id"), col("c.chunk_id"), col("c.n_tokens"),
            embed(col("c.ctext")).as("cv"))
        val queries = Tables.documents(s, d)
          .filter(col("doc_id").between(1, 3))
          .select(col("doc_id").as("qid"),
            embed(array_join(slice(t, 1, 32), " ")).as("qv"))
        val wRk = Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("doc_id").asc, col("chunk_id").asc)
        val wCum = Window.partitionBy("qid").orderBy("rk")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        broadcast(queries).crossJoin(chunks)
          .withColumn("cos",
            Shared.fsum(zip_with(col("qv"), col("cv"), (a, b) => a * b)) /
              (nrm(col("qv")) * nrm(col("cv"))))
          .withColumn("rk", row_number().over(wRk).cast("long"))
          .filter(col("rk") <= 5)
          .withColumn("cum_tokens", sum(col("n_tokens")).over(wCum))
          .withColumn("kept", (col("cum_tokens") <= 96).cast("long"))
          .select("qid", "rk", "doc_id", "chunk_id", "cos", "n_tokens",
            "cum_tokens", "kept")
      },
      Some(s"""WITH tok AS (SELECT doc_id, $SQL_TOKENS AS t,
                  CAST(CEIL(greatest(len($SQL_TOKENS) - 64, 0) / 32.0) AS INT) + 1 AS nc
                FROM documents),
              ch AS (SELECT doc_id, u.chunk_id, u.n_tokens, u.ctext
                FROM (SELECT doc_id, unnest(list_transform(range(0, nc),
                    i -> struct_pack(chunk_id := CAST(i AS BIGINT),
                      ctext := array_to_string(t[i*32+1:i*32+64], ' '),
                      n_tokens := CAST(len(t[i*32+1:i*32+64]) AS BIGINT)))) AS u
                  FROM tok WHERE doc_id > 3)),
              cemb AS (SELECT doc_id, chunk_id, n_tokens,
                  list_transform(range(1, 9), k ->
                    CAST(${SQL_H32("ctext || ':' || k")} AS DOUBLE)
                      / 4294967296.0) AS cv
                FROM ch),
              q AS (SELECT doc_id AS qid,
                  list_transform(range(1, 9), k ->
                    CAST(${SQL_H32("array_to_string(t[1:32], ' ') || ':' || k")} AS DOUBLE)
                      / 4294967296.0) AS qv
                FROM tok WHERE doc_id BETWEEN 1 AND 3),
              scored AS (SELECT qid, doc_id, chunk_id, n_tokens,
                  list_aggregate(list_transform(range(1, 9),
                    i -> qv[i] * cv[i]), 'sum')
                  / (sqrt(list_aggregate(list_transform(qv, y -> y*y), 'sum'))
                   * sqrt(list_aggregate(list_transform(cv, y -> y*y), 'sum'))) AS cos
                FROM q CROSS JOIN cemb),
              ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY cos DESC, doc_id, chunk_id) AS BIGINT) AS rk
                FROM scored QUALIFY rk <= 5)
              SELECT qid, rk, doc_id, chunk_id, cos, n_tokens,
                CAST(sum(n_tokens) OVER (PARTITION BY qid ORDER BY rk
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS cum_tokens,
                CAST(CASE WHEN sum(n_tokens) OVER (PARTITION BY qid ORDER BY rk
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 96
                  THEN 1 ELSE 0 END AS BIGINT) AS kept
              FROM ranked""")
    ),

    // ── CLASSIFIER CALIBRATION: decile lift table over q188's scores ──────
    QueryDef(
      "q202_score_deciles",
      // The MLOps step after training a quality classifier: bucket the
      // corpus into score deciles and report positives per bucket — the
      // lift table that decides where to put the keep/drop threshold.
      // Scores come from the SHARED q188 pipeline ([[nbScores]] — one
      // definition, zero drift risk). Deciles are computed WITHOUT a
      // global window (the r9-flagged single-partition ntile is gone):
      // the total order (score desc, doc_id asc) packs into the unique
      // BIGINT key (2³⁰ − score_ppm)·2³² + doc_id (the q227 discipline),
      // [[Shared.distributedPrefixSum]] delivers the exact 0-based global
      // rank with PARALLEL per-bucket windows — the bucket width 2⁴⁸
      // spans 2¹⁶ score units, so the offset table is ≤ ~2¹⁴ rows by the
      // score-range bound, independent of corpus size — and the decile is
      // then ntile's closed form over (rank, n): sizes ⌈n/10⌉ for the
      // first n mod 10 buckets, ⌊n/10⌋ after. Both engines evaluate the
      // identical (key order, formula) pair, so bucketing is pinned; the
      // oracle keeps the plain ntile spec, so the hash match proves the
      // distributed rank ≡ the global window. Bounds contract:
      // |score_ppm| < 2³⁰ (≡ per-doc bigram count < 2³⁰/10⁶ ≈ 1074 — far
      // above the corpus) and doc_id < 2³², ENFORCED by a raise_error
      // guard rather than documented away — an overflowing key aborts the
      // query, never silently mis-ranks.
      (s, d) => {
        val n = bigramTable(s, d)._1.select("doc_id").distinct().count()
        val q10 = n / 10L
        val rem = n % 10L
        val cut = (q10 + 1L) * rem
        val keyed = nbScores(s, d)
          .withColumn("rkey",
            when(abs(col("score_ppm")) >= lit(1L << 30) ||
              col("doc_id") < 0 || col("doc_id") >= lit(1L << 32),
              raise_error(concat(lit("q202: score/doc_id outside the " +
                "packed-key bounds contract: "), col("doc_id"))))
              .otherwise((lit(1L << 30) - col("score_ppm")) * lit(1L << 32) +
                col("doc_id")))
        Shared.distributedPrefixSum(
            keyed.withColumn("one", lit(1L)), "rkey", "one",
            bucket = 1L << 48)
          .withColumn("decile",
            // `div`, not `/`: Long/Long Column `/` is DOUBLE division
            // (q226's lesson) — ntile's arithmetic must stay integral
            when(col("cum") < cut, expr(s"(cum div ${q10 + 1L}L) + 1L"))
              .otherwise(expr(
                s"${rem}L + ((cum - ${cut}L) div ${math.max(q10, 1L)}L) + 1L"))
              .cast("long"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"),
            sum(col("y")).cast("long").as("n_pos"),
            min(col("score_ppm")).as("min_score"),
            max(col("score_ppm")).as("max_score"))
      },
      Some(s"""WITH base AS ($nbScoreSql),
              dd AS (SELECT *, CAST(ntile(10) OVER (
                  ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS decile
                FROM base)
              SELECT decile, count(*) AS n,
                CAST(sum(y) AS BIGINT) AS n_pos,
                min(score_ppm) AS min_score, max(score_ppm) AS max_score
              FROM dd GROUP BY 1""")
    ),

    // ── HTML → TEXT EXTRACTION (tag strip + boilerplate rule) ─────────────
    QueryDef(
      "q234_html_extract",
      // The missing FIRST stage of every crawl-based pipeline (r9
      // verdict): raw pages are HTML, and everything downstream (quality,
      // dedup, LM scoring) assumes extracted text. This is the
      // trafilatura/jusText class of operator, dependency-free, as pure
      // Column expressions:
      //   1. drop <script> blocks whole ((?s) non-greedy — content
      //      inside them is code, not text);
      //   2. block-level closing tags (</p>, </div>, </nav>, </footer>,
      //      </title>, </h1-6>) become segment breaks, every remaining
      //      tag becomes a space (inline tags never glue words);
      //   3. entity-decode &lt;/&gt;/&quot;/&amp; (amp LAST — decoding
      //      it first would double-decode "&amp;lt;");
      //   4. the jusText-style SEGMENT-DENSITY rule keeps a segment iff
      //      ≥10 words AND 5·alpha ≥ 3·chars (exact integer
      //      cross-multiplication, the q149 discipline) — nav strips,
      //      ad interjections, footers and titles all fail one of the
      //      two tests, body prose passes.
      // The page is a deterministic HTML wrap of each document (nav +
      // script + ad + footer chrome around the text), built IDENTICALLY
      // in both engines, so the oracle applies the same four stages in
      // SQL and the md5 fingerprint pins every extracted byte. The
      // extracted text then feeds q33's quality rule UNCHANGED — the
      // composition a real pipeline runs. All regexes live in the
      // Java∩RE2 intersection (q98's contract).
      //
      // Shape, and why it scales: one documents scan, zero shuffles,
      // zero joins — per-row codegen'd string work, embarrassingly
      // parallel at any corpus size.
      (s, d) => {
        val html = concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title>"),
          lit("<script>var x = 1; track(\"pv\");</script></head><body>"),
          lit("<nav><a href=\"/\">home</a> | <a href=\"/a\">about</a>" +
            " | <a href=\"/c\">contact</a></nav>"),
          lit("<p>"), col("text"), lit("</p>"),
          lit("<div class=\"ad\">Buy now &amp; save! Limited offer!</div>"),
          lit("<footer>(c) 2026 example.com</footer></body></html>"))
        val noScript = regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " ")
        val lined = regexp_replace(noScript,
          "</(?:p|div|nav|footer|title|h[1-6])>", "\n")
        val tagless = regexp_replace(lined, "<[^>]*>", " ")
        val decoded = regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(tagless, "&lt;", "<"), "&gt;", ">"),
          "&quot;", "\""), "&amp;", "&")
        val segs = transform(split(decoded, "\n"), x => trim(x))
        def words(t: Column) =
          size(filter(split(t, "\\s+"), x => length(x) > 0))
        def alpha(t: Column) = length(regexp_replace(t, "[^a-zA-Z]", ""))
        val kept = filter(segs, t =>
          words(t) >= 10 && alpha(t) * 5 >= length(t) * 3)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            array_join(kept, " ").as("ext"),
            size(filter(segs, t => length(t) > 0)).cast("long")
              .as("n_segments"),
            size(kept).cast("long").as("n_kept"),
            length(html).cast("long").as("chars_html"))
          .select(col("doc_id"), col("source"), col("n_segments"),
            col("n_kept"), col("chars_html"),
            length(col("ext")).cast("long").as("chars_text"),
            substring(md5(col("ext")), 1, 16).as("fp"),
            // q33's quality rule, applied to the EXTRACTED text unchanged
            when(length(col("ext")).between(100, 400) &&
              length(regexp_replace(col("ext"), "[^a-zA-Z]", "")) * 4 >
                length(col("ext")) * 3, 1L).otherwise(0L).as("quality_ok"))
      },
      Some("""WITH page AS (SELECT doc_id, source,
                  '<html><head><title>Doc ' || doc_id || '</title>'
                  || '<script>var x = 1; track("pv");</script></head><body>'
                  || '<nav><a href="/">home</a> | <a href="/a">about</a>'
                  || ' | <a href="/c">contact</a></nav>'
                  || '<p>' || text || '</p>'
                  || '<div class="ad">Buy now &amp; save! Limited offer!</div>'
                  || '<footer>(c) 2026 example.com</footer></body></html>'
                    AS html
                FROM documents),
              clean AS (SELECT doc_id, source, html,
                  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(regexp_replace(regexp_replace(
                      html,
                      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                      '</(?:p|div|nav|footer|title|h[1-6])>', chr(10), 'g'),
                      '<[^>]*>', ' ', 'g'),
                    '&lt;', '<', 'g'), '&gt;', '>', 'g'),
                    '&quot;', '"', 'g'), '&amp;', '&', 'g') AS decoded
                FROM page),
              seg AS (SELECT doc_id, source, html,
                  list_transform(string_split(decoded, chr(10)),
                    x -> trim(x)) AS segs
                FROM clean),
              ext AS (SELECT doc_id, source, html, segs,
                  array_to_string(list_filter(segs, t ->
                    len(list_filter(string_split_regex(t, '\s+'),
                      x -> len(x) > 0)) >= 10
                    AND length(regexp_replace(t, '[^a-zA-Z]', '', 'g')) * 5
                      >= length(t) * 3), ' ') AS etext,
                  len(list_filter(segs, t -> len(t) > 0)) AS n_segments,
                  len(list_filter(segs, t ->
                    len(list_filter(string_split_regex(t, '\s+'),
                      x -> len(x) > 0)) >= 10
                    AND length(regexp_replace(t, '[^a-zA-Z]', '', 'g')) * 5
                      >= length(t) * 3)) AS n_kept
                FROM seg)
              SELECT doc_id, source,
                CAST(n_segments AS BIGINT) AS n_segments,
                CAST(n_kept AS BIGINT) AS n_kept,
                CAST(length(html) AS BIGINT) AS chars_html,
                CAST(length(etext) AS BIGINT) AS chars_text,
                substring(md5(etext), 1, 16) AS fp,
                CAST(CASE WHEN length(etext) BETWEEN 100 AND 400
                  AND length(regexp_replace(etext, '[^a-zA-Z]', '', 'g')) * 4
                      > length(etext) * 3
                  THEN 1 ELSE 0 END AS BIGINT) AS quality_ok
              FROM ext"""),
    ),

    // ── DEDUP THRESHOLD SENSITIVITY SWEEP (aggressiveness tuning) ─────────
    QueryDef(
      "q240_dedup_threshold_sweep",
      // The decision-support table every dedup deployment needs before
      // picking its aggressiveness: how many near-dup pairs — and how
      // many documents — each evidence threshold would implicate. Sweeps
      // the winnow-pair evidence floor t ∈ [2, 6] over the MEMOIZED
      // candidate pair table ([[winnowPairs]] — zero corpus scans here)
      // via CONTRIBUTION EXPANSION (q225's shape): a pair with n_shared
      // = k feeds thresholds 2..min(k, 6), a document feeds thresholds
      // up to its STRONGEST pair's evidence, one hash aggregation each.
      // Monotone by construction — the table shows exactly where the
      // pair count falls off.
      //
      // Shape, and why it scales: the pair table is near-dup-bounded
      // (≪ corpus); the expansion is ≤ 5× pairs; both aggregations are
      // threshold-grain (≤ 5 rows out).
      (s, d) => {
        val pr = winnowPairs(s, d)
        val nPairs = pr
          .select(explode(sequence(lit(2L), least(col("n_shared"), lit(6L))))
            .as("threshold"))
          .groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
        val nDocs = pr
          .select(explode(array(col("a"), col("b"))).as("doc_id"),
            col("n_shared"))
          .groupBy("doc_id").agg(max(col("n_shared")).as("m"))
          .select(explode(sequence(lit(2L), least(col("m"), lit(6L))))
            .as("threshold"))
          .groupBy("threshold").agg(count(lit(1)).as("n_docs"))
        // pairs at t imply docs at t and vice versa — inner join is total
        nPairs.join(nDocs, "threshold")
      },
      Some(s"""$SQL_WINNOW_PAIR_CTES,
              pt AS (SELECT unnest(generate_series(2, least(n_shared, 6)))
                  AS threshold FROM wpairs),
              np AS (SELECT threshold, count(*) AS n_pairs FROM pt
                GROUP BY 1),
              ds AS (SELECT doc_id, max(n_shared) AS m FROM
                  (SELECT a AS doc_id, n_shared FROM wpairs
                   UNION ALL SELECT b, n_shared FROM wpairs)
                GROUP BY 1),
              dt AS (SELECT unnest(generate_series(2, least(m, 6)))
                  AS threshold FROM ds),
              nd AS (SELECT threshold, count(*) AS n_docs FROM dt
                GROUP BY 1)
              SELECT threshold, n_pairs, n_docs
              FROM np JOIN nd USING (threshold)""")
    ),

    // ── T5-STYLE SPAN CORRUPTION (denoising objective prep) ───────────────
    QueryDef(
      "q241_span_corruption",
      // The training-data TRANSFORM behind T5/UL2 denoising: mask fixed
      // token spans with incrementing sentinels, emit the corrupted
      // input and the reconstruction target. Spans are deterministic
      // (every 7th position starting at the 4th opens a 3-token span —
      // ~43% corruption on long docs, non-overlapping by construction)
      // so both engines build IDENTICAL bytes: position p (1-based) maps
      // to '<x{(p-4) div 7}>' at a span start, drops inside a span, and
      // passes through elsewhere; the target keeps exactly the masked
      // tokens, each span prefixed by its sentinel. md5 fingerprints pin
      // every input/target byte; counts + exact-ppm corruption ratio
      // make the audit columns.
      //
      // Shape, and why it scales: one documents scan, all array HOFs in
      // codegen, zero shuffles — the embarrassingly-parallel per-row
      // transform shape (q234's contract).
      (s, d) => {
        // materialize the token array + position spine ONCE per row —
        // inlining `tokens(col)` into every consumer re-runs the regex
        // split ~6× per row (measured 2.9 s → the split dominated)
        val t = col("t")
        val pos = col("pos")
        def sentinel(p: Column) =
          concat(lit("<x"), ((p - 4) / 7).cast("long").cast("string"),
            lit(">"))
        val corrupted = array_join(filter(transform(pos, p =>
          when(p % 7 === 4, sentinel(p))
            .when(p % 7 === 5 || p % 7 === 6, lit(null))
            .otherwise(element_at(t, p))), x => x.isNotNull), " ")
        val target = array_join(filter(transform(pos, p =>
          when(p % 7 === 4,
            concat(sentinel(p), lit(" "), element_at(t, p)))
            .when(p % 7 === 5 || p % 7 === 6, element_at(t, p))
            .otherwise(lit(null))), x => x.isNotNull), " ")
        val nMasked = size(filter(pos, p =>
          p % 7 === 4 || p % 7 === 5 || p % 7 === 6)).cast("long")
        Tables.documents(s, d)
          .select(col("doc_id"), Shared.tokens(col("text")).as("t"))
          .withColumn("pos", sequence(lit(1), size(t)))
          .select(col("doc_id"),
            size(t).cast("long").as("n_tokens"),
            nMasked.as("n_masked"),
            size(filter(pos, p => p % 7 === 4)).cast("long").as("n_spans"),
            substring(md5(corrupted), 1, 16).as("fp_input"),
            substring(md5(target), 1, 16).as("fp_target"))
          .withColumn("corruption_ppm",
            expr("1000000L * n_masked div n_tokens"))
          .select("doc_id", "n_tokens", "n_masked", "n_spans",
            "corruption_ppm", "fp_input", "fp_target")
      },
      Some(s"""WITH tok AS (SELECT doc_id, $SQL_TOKENS AS t FROM documents),
              m AS (SELECT doc_id, len(t) AS n_tokens,
                  array_to_string(list_filter(list_transform(
                    range(1, len(t) + 1), p ->
                      CASE WHEN p % 7 = 4
                        THEN '<x' || ((p - 4) // 7) || '>'
                      WHEN p % 7 = 5 OR p % 7 = 6 THEN NULL
                      ELSE t[p] END), x -> x IS NOT NULL), ' ') AS corrupted,
                  array_to_string(list_filter(list_transform(
                    range(1, len(t) + 1), p ->
                      CASE WHEN p % 7 = 4
                        THEN '<x' || ((p - 4) // 7) || '> ' || t[p]
                      WHEN p % 7 = 5 OR p % 7 = 6 THEN t[p]
                      ELSE NULL END), x -> x IS NOT NULL), ' ') AS target,
                  len(list_filter(range(1, len(t) + 1), p ->
                    p % 7 IN (4, 5, 6))) AS n_masked,
                  len(list_filter(range(1, len(t) + 1), p ->
                    p % 7 = 4)) AS n_spans
                FROM tok)
              SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(n_masked AS BIGINT) AS n_masked,
                CAST(n_spans AS BIGINT) AS n_spans,
                1000000 * n_masked // n_tokens AS corruption_ppm,
                substring(md5(corrupted), 1, 16) AS fp_input,
                substring(md5(target), 1, 16) AS fp_target
              FROM m""")
    ),

    // ── NEAR-DUP CLUSTER COHESION AUDIT (dedup quality control) ───────────
    QueryDef(
      "q248_cluster_cohesion",
      // The QC report after clustering near-dups: are the clusters tight
      // (every member pair candidate-connected) or chained (long sparse
      // components that over-merge)? Per cluster-size bucket: cluster
      // count, realized candidate edges vs the C(n,2) possible, edge
      // density in exact ppm, and total shared-fingerprint evidence —
      // the table that says whether the q154 evidence threshold is
      // over- or under-merging BEFORE the q165 election deletes data.
      //
      // Shape, and why it scales: rides the memoized [[winnowPairs]] +
      // [[winnowComponents]] scratches (zero corpus scans); one keyed
      // join label→edges, two model-sized aggregations. Components have
      // ≥ 2 members by construction (labels exist only for docs with an
      // edge), so the density division can't hit zero.
      (s, d) => {
        val comp = winnowComponents(s, d)
        val clus = comp.groupBy("comp").agg(count(lit(1)).as("n_docs"))
        val ce = winnowPairs(s, d)
          .join(comp.select(col("id").as("a"), col("comp")), "a")
          .groupBy("comp")
          .agg(count(lit(1)).as("n_edges"),
            sum(col("n_shared")).as("sum_evidence"))
        clus.join(ce, "comp")
          .groupBy("n_docs")
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("n_edges")).as("total_edges"),
            sum(expr("n_docs * (n_docs - 1) div 2L")).as("total_possible"),
            sum(col("sum_evidence")).as("total_evidence"))
          .withColumn("density_ppm",
            expr("1000000L * total_edges div total_possible"))
      },
      Some("WITH RECURSIVE " + SQL_WINNOW_PAIR_CTES.stripPrefix("WITH ") +
        """,
           wedges AS (SELECT a, b FROM wpairs
                      UNION ALL SELECT b AS a, a AS b FROM wpairs),
           wnodes AS (SELECT DISTINCT a AS id FROM wedges),
           reach AS (SELECT id, id AS r FROM wnodes
                     UNION
                     SELECT e.b, reach.r FROM reach
                       JOIN wedges e ON e.a = reach.id),
           lab AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
           cl AS (SELECT comp, count(*) AS n_docs FROM lab GROUP BY 1),
           ce AS (SELECT lab.comp, count(*) AS n_edges,
                    sum(n_shared) AS sum_evidence
                  FROM wpairs p JOIN lab ON p.a = lab.id GROUP BY 1)
           SELECT n_docs, count(*) AS n_clusters,
             CAST(sum(n_edges) AS BIGINT) AS total_edges,
             CAST(sum(n_docs * (n_docs - 1) // 2) AS BIGINT)
               AS total_possible,
             CAST(sum(sum_evidence) AS BIGINT) AS total_evidence,
             1000000 * CAST(sum(n_edges) AS BIGINT)
               // CAST(sum(n_docs * (n_docs - 1) // 2) AS BIGINT)
               AS density_ppm
           FROM cl JOIN ce USING (comp)
           GROUP BY 1""")
    ),

    // ── CLASSIFIER AUC (exact tie-invariant Mann-Whitney) ─────────────────
    QueryDef(
      "q249_classifier_auc",
      // The third leg of the classifier-eval family (q188 scores, q202
      // lift): exact ROC AUC as the Mann-Whitney statistic — the
      // probability a positive outranks a negative, ties at half
      // credit. Computed TIE-INVARIANTLY from the score-grain table:
      // AUC·2n₁n₀ = Σ_s (2·pos(s)·negs_below(s) + pos(s)·neg(s)),
      // all BIGINT; the one division is pinned double (q103
      // discipline). negs_below is an EXCLUSIVE prefix sum over the
      // unique score grain — [[Shared.distributedPrefixSum]] with
      // scores shifted non-negative (|score| < 2³⁰ enforced by a
      // raise_error guard, the q202 contract), never a global window.
      //
      // Shape, and why it scales: one score pass to score grain (≤ one
      // row per distinct score), a prefix-sum round on that bounded
      // table, one scalar fold. The oracle states the textbook global
      // window; the hash match proves the distributed form ≡ it.
      (s, d) => {
        val g = nbScores(s, d)
          .groupBy(col("score_ppm").as("sv"))
          .agg(sum(when(col("y") === 1, 1L).otherwise(0L)).as("np"),
            sum(when(col("y") === 0, 1L).otherwise(0L)).as("nn"))
          .withColumn("sk",
            when(abs(col("sv")) >= lit(1L << 30),
              raise_error(concat(lit("q249: |score| breaks the shift " +
                "bound: "), col("sv"))))
              .otherwise(col("sv") + lit(1L << 31)))
        Shared.distributedPrefixSum(g, "sk", "nn", bucket = 1L << 16)
          .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
            sum(expr("2L * np * cum + np * nn")).as("num2"))
          .withColumn("auc", expr(
            "CAST(num2 AS DOUBLE) / nullif(CAST(2 * n_pos * n_neg AS DOUBLE), 0.0)"))
          .select("n_pos", "n_neg", "auc")
      },
      Some(s"""WITH base AS ($nbScoreSql),
              g AS (SELECT score_ppm AS sv,
                  sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
                  sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nn
                FROM base GROUP BY 1),
              c AS (SELECT sv, np, nn,
                  coalesce(sum(nn) OVER (ORDER BY sv
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cum
                FROM g),
              t AS (SELECT sum(np) AS n1, sum(nn) AS n0,
                  sum(2 * np * cum + np * nn) AS num2
                FROM c)
              SELECT CAST(n1 AS BIGINT) AS n_pos,
                CAST(n0 AS BIGINT) AS n_neg,
                CAST(num2 AS DOUBLE)
                  / nullif(CAST(2 * n1 * n0 AS DOUBLE), 0.0) AS auc
              FROM t""")
    ),

    // ── LABEL PROPAGATION over the near-dup graph (label spreading) ───────
    QueryDef(
      "q256_label_propagation",
      // SEMI-supervised quality labeling: only the even-doc_id half is
      // labeled (q33's rule as 0/10⁶ ppm — the q72/q173 split
      // discipline); odd docs seed NEUTRAL (500000) and must earn a
      // label from their winnow neighbors — the Zhu/Ghahramani
      // label-spreading idea on the similarity graph, in exact
      // fixed-point arithmetic (q145's PageRank discipline: ppm-scaled
      // BIGINT, truncating division — both engines iterate
      // identically). Two unrolled rounds of s' = (s + Σ_neighbors s)
      // div (deg + 1) over the SYMMETRIZED memoized pair graph; output
      // = final-score bucket census + how many UNLABELED docs the graph
      // resolved out of the neutral band (toward high or low quality).
      //
      // Shape, and why it scales: the pair graph is near-dup-bounded
      // (memoized scratch, zero corpus scans); each round is one keyed
      // join + one aggregation on that graph — never corpus-sized;
      // isolated docs keep their seed by construction (left join,
      // coalesce 0 neighbors).
      (s, d) => {
        val seed = Tables.documents(s, d)
          .select(col("doc_id"),
            when(col("doc_id") % 2 =!= 0, 500000L)
              .when(length(col("text")).between(100, 400) &&
                length(regexp_replace(col("text"), "[^a-zA-Z]", "")) * 4 >
                  length(col("text")) * 3, 1000000L)
              .otherwise(0L).as("s0"))
        val edges = winnowPairs(s, d)
          .select(col("a"), col("b"))
        val sym = edges.unionAll(edges.select(col("b").as("a"),
          col("a").as("b")))
        def round(scores: DataFrame, out: String, in: String): DataFrame = {
          val nb = sym.join(scores.select(col("doc_id").as("b"),
              col(in).as("sb")), "b")
            .groupBy(col("a").as("doc_id"))
            .agg(count(lit(1)).as("deg"), sum(col("sb")).as("nsum"))
          scores.join(nb, Seq("doc_id"), "left_outer")
            .withColumn(out, expr(
              s"($in + coalesce(nsum, 0L)) div (coalesce(deg, 0L) + 1L)"))
            .select(col("doc_id"), col("s0"), col(out))
        }
        val r2 = round(round(seed.withColumn("s1", col("s0")), "s1", "s0")
          .select(col("doc_id"), col("s0"), col("s1")), "s2", "s1")
        r2.select(col("doc_id"), col("s0"), col("s2"))
          .withColumn("bucket", expr("s2 div 100000L"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") % 2 =!= 0, 1L).otherwise(0L))
              .as("n_unlabeled"),
            sum(when(col("doc_id") % 2 =!= 0 && col("s2") > 550000L, 1L)
              .otherwise(0L)).as("n_resolved_high"),
            sum(when(col("doc_id") % 2 =!= 0 && col("s2") < 450000L, 1L)
              .otherwise(0L)).as("n_resolved_low"))
      },
      Some("WITH " + SQL_WINNOW_PAIR_CTES.stripPrefix("WITH ") + """,
           seed AS (SELECT doc_id,
               CASE WHEN doc_id % 2 <> 0 THEN 500000
                 WHEN length(text) BETWEEN 100 AND 400
                 AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 4
                     > length(text) * 3
                 THEN 1000000 ELSE 0 END AS s0
             FROM documents),
           sym AS (SELECT a, b FROM wpairs
                   UNION ALL SELECT b AS a, a AS b FROM wpairs),
           n1 AS (SELECT sym.a AS doc_id, count(*) AS deg,
                    sum(seed.s0) AS nsum
                  FROM sym JOIN seed ON sym.b = seed.doc_id GROUP BY 1),
           r1 AS (SELECT seed.doc_id, seed.s0,
                    (seed.s0 + coalesce(n1.nsum, 0))
                      // (coalesce(n1.deg, 0) + 1) AS s1
                  FROM seed LEFT JOIN n1 USING (doc_id)),
           n2 AS (SELECT sym.a AS doc_id, count(*) AS deg,
                    sum(r1.s1) AS nsum
                  FROM sym JOIN r1 ON sym.b = r1.doc_id GROUP BY 1),
           r2 AS (SELECT r1.doc_id, r1.s0,
                    (r1.s1 + coalesce(n2.nsum, 0))
                      // (coalesce(n2.deg, 0) + 1) AS s2
                  FROM r1 LEFT JOIN n2 USING (doc_id))
           SELECT CAST(s2 // 100000 AS BIGINT) AS bucket,
             count(*) AS n_docs,
             CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_unlabeled,
             CAST(sum(CASE WHEN doc_id % 2 <> 0 AND s2 > 550000
               THEN 1 ELSE 0 END) AS BIGINT) AS n_resolved_high,
             CAST(sum(CASE WHEN doc_id % 2 <> 0 AND s2 < 450000
               THEN 1 ELSE 0 END) AS BIGINT) AS n_resolved_low
           FROM r2 GROUP BY 1""")
    ),

    // ── THRESHOLD CALIBRATION AT TARGET FPR (conformal-style) ─────────────
    QueryDef(
      "q257_threshold_at_fpr",
      // The deployment step after scoring (q188), ranking (q202), and
      // AUC (q249): pick the DECISION THRESHOLD that caps the false
      // positive rate at 5% on the labeled calibration split, then
      // report what that threshold actually does on held-out data — the
      // split-conformal recipe. The threshold is an exact rank
      // statistic: the smallest calibration-negative score t with
      // #(neg ≤ t) ≥ ⌈0.95·n₀⌉ (predict positive strictly above t), so
      // FPR_cal ≤ 5% by construction. Selection runs on the negative
      // score grain via [[Shared.distributedPrefixSum]] + a limit(1)
      // min — never a global window; held-out confusion counts are
      // exact BIGINTs, rates are pinned ppm divisions.
      //
      // Shape, and why it scales: score-grain prefix sum (bounded by
      // distinct scores), 1-row threshold broadcast, one held-out pass.
      (s, d) => {
        val sc = nbScores(s, d)
        val cal = sc.filter(col("doc_id") % 4 === 1)
        val neg = cal.filter(col("y") === 0)
          .groupBy(col("score_ppm").as("sv"))
          .agg(count(lit(1)).as("nn"))
          .withColumn("sk",
            when(abs(col("sv")) >= lit(1L << 30),
              raise_error(concat(lit("q257: |score| breaks the shift " +
                "bound: "), col("sv"))))
              .otherwise(col("sv") + lit(1L << 31)))
        val n0 = cal.filter(col("y") === 0).count()
        val need = (95L * n0 + 99L) / 100L  // ⌈0.95·n0⌉ in integers
        val thr = Shared.distributedPrefixSum(neg, "sk", "nn",
            bucket = 1L << 16)
          .filter(col("cum") + col("nn") >= need) // inclusive rank
          .agg(min(col("sv")).as("threshold"))
        val hold = sc.filter(col("doc_id") % 4 === 3)
          .crossJoin(broadcast(thr))
          .withColumn("pos", (col("score_ppm") > col("threshold"))
            .cast("long"))
        hold.agg(
            min(col("threshold")).as("threshold"),
            lit(n0).as("n_cal_neg"),
            sum(when(col("pos") === 1 && col("y") === 0, 1L).otherwise(0L))
              .as("fp"),
            sum(when(col("pos") === 1 && col("y") === 1, 1L).otherwise(0L))
              .as("tp"),
            sum(when(col("pos") === 0 && col("y") === 0, 1L).otherwise(0L))
              .as("tn"),
            sum(when(col("pos") === 0 && col("y") === 1, 1L).otherwise(0L))
              .as("fn"))
          .withColumn("fpr_ppm", expr("1000000L * fp div (fp + tn)"))
          .withColumn("tpr_ppm", expr("1000000L * tp div (tp + fn)"))
      },
      Some(s"""WITH base AS ($nbScoreSql),
              cal AS (SELECT * FROM base WHERE doc_id % 4 = 1),
              n0t AS (SELECT count(*) AS n0 FROM cal WHERE y = 0),
              thr AS (SELECT min(sv) AS threshold FROM (
                  SELECT score_ppm AS sv,
                    sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)
                      OVER (ORDER BY score_ppm
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cneg
                  FROM cal WHERE y = 0) q CROSS JOIN n0t
                WHERE cneg >= (95 * n0 + 99) // 100),
              hold AS (SELECT h.*, thr.threshold,
                  CASE WHEN h.score_ppm > thr.threshold THEN 1 ELSE 0 END
                    AS pos
                FROM base h CROSS JOIN thr WHERE h.doc_id % 4 = 3),
              agg AS (SELECT CAST(min(threshold) AS BIGINT) AS threshold,
                  CAST(sum(CASE WHEN pos = 1 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fp,
                  CAST(sum(CASE WHEN pos = 1 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp,
                  CAST(sum(CASE WHEN pos = 0 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tn,
                  CAST(sum(CASE WHEN pos = 0 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fn
                FROM hold)
              SELECT threshold,
                (SELECT CAST(n0 AS BIGINT) FROM n0t) AS n_cal_neg,
                fp, tp, tn, fn,
                1000000 * fp // (fp + tn) AS fpr_ppm,
                1000000 * tp // (tp + fn) AS tpr_ppm
              FROM agg""")
    ),

    // ── RANK FUSION of quality signals (Borda ensemble) ───────────────────
    QueryDef(
      "q258_rank_fusion",
      // No single quality signal survives contact with a web corpus —
      // production curation ENSEMBLES them. Borda-fuses three
      // independent signals at the RANK level (rank fusion beats score
      // averaging because the signals live on incomparable scales):
      // the trained classifier margin (memoized [[nbScores]]), an
      // n-gram repetition penalty (distinct/total bigrams, exact ppm —
      // q74's signal), and length proximity to the 250-char sweet spot.
      // Each signal ranks via the packed-key distributed prefix sum
      // (q202's discipline — unique (score, doc_id) keys, raise_error
      // bound guards, NO global window anywhere); the Borda sum orders
      // the final keep list. Output: top-20 by (borda asc = best,
      // doc_id) with per-signal ranks — the explainable keep decision.
      //
      // Shape, and why it scales: one documents scan (repetition +
      // length), one memo scan (classifier), then the doc-grain signal
      // table is RELIABLY CHECKPOINTED before ranking — each prefix-sum
      // round bifurcates its input's lineage (per-bucket windows +
      // offsets), so three chained rounds would re-run the signal
      // pipeline up to 8× without the cut (measured 36 s → sub-second);
      // the rounds themselves are doc-grain-cheap. One model-sized
      // top-K closes.
      (s, d) => Shared.withCheckpointDir(s) {
        val t = col("t")
        val bg = transform(
          sequence(lit(1), greatest(size(t) - 1, lit(1))),
          i => concat_ws(" ", element_at(t, i.cast("int")),
            element_at(t, (i + lit(1)).cast("int"))))
        val withBg = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            Shared.tokens(col("text")).as("t"))
          .withColumn("bgs", bg)
          .select(col("doc_id"),
            when(size(col("t")) >= 2,
              expr("1000000L * size(array_distinct(bgs)) div size(bgs)"))
              .otherwise(1000000L).as("uniq_ppm"),
            (lit(0L) - abs(col("n_chars") - 250L)).as("len_score"))
        val cls = nbScores(s, d).select(col("doc_id"), col("score_ppm"))
        val base = withBg.join(cls, "doc_id").checkpoint()
        // rank r = #docs with strictly better signal (0-based; better =
        // LARGER score, so rank ascending on the NEGATED packed key)
        def rank(df: DataFrame, sigCol: String, out: String): DataFrame =
          Shared.distributedPrefixSum(
            df.withColumn("__k",
              when(abs(col(sigCol)) >= lit(1L << 30),
                raise_error(concat(lit(s"q258: |$sigCol| breaks the " +
                  "packing bound"), col(sigCol))))
                .otherwise((lit(1L << 30) - col(sigCol)) * lit(1L << 32) +
                  col("doc_id")))
              .withColumn("__one", lit(1L)), "__k", "__one", 1L << 48)
            .withColumn(out, col("cum")).drop("__k", "__one", "cum")
        val ranked = rank(rank(rank(base, "score_ppm", "r_cls"),
          "uniq_ppm", "r_rep"), "len_score", "r_len")
        ranked
          .withColumn("borda", col("r_cls") + col("r_rep") + col("r_len"))
          .orderBy(col("borda").asc, col("doc_id").asc)
          .limit(20)
          .select("doc_id", "r_cls", "r_rep", "r_len", "borda")
      },
      Some(s"""WITH base0 AS ($nbScoreSql),
              tok AS (SELECT doc_id, n_chars, $SQL_TOKENS AS t
                FROM documents),
              rep AS (SELECT doc_id,
                  CASE WHEN len(t) >= 2 THEN 1000000 *
                    len(list_distinct(list_transform(
                      range(1, len(t)), i -> t[i] || ' ' || t[i+1])))
                    // len(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1]))
                  ELSE 1000000 END AS uniq_ppm,
                  0 - abs(n_chars - 250) AS len_score
                FROM tok),
              j AS (SELECT r.doc_id, r.uniq_ppm, r.len_score, b.score_ppm
                FROM rep r JOIN base0 b ON r.doc_id = b.doc_id),
              rk AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id)
                    - 1 AS BIGINT) AS r_cls,
                  CAST(row_number() OVER (ORDER BY uniq_ppm DESC, doc_id)
                    - 1 AS BIGINT) AS r_rep,
                  CAST(row_number() OVER (ORDER BY len_score DESC, doc_id)
                    - 1 AS BIGINT) AS r_len
                FROM j)
              SELECT doc_id, r_cls, r_rep, r_len,
                r_cls + r_rep + r_len AS borda
              FROM rk
              ORDER BY borda, doc_id
              LIMIT 20""")
    ),

    // ── DATASET CARD (corpus nutrition label, one declarative plan) ───────
    QueryDef(
      "q259_dataset_card",
      // The summary artifact every released corpus ships with (the
      // "datasheets for datasets" practice): size, composition,
      // duplication, and quality in ONE long-form metric table, each
      // number an exact BIGINT a downstream consumer can re-verify.
      // Metrics: docs, sources, languages, chars, tokens, min/max doc
      // tokens, exact-duplicate docs (q30's normalized-md5 rule),
      // quality-rule passes (q33), and benchmark-overlap docs (q89's
      // src0 ANY-shingle-overlap rule) — every rule shared verbatim
      // with its standalone operator, so the card can never drift from
      // the audits it summarizes.
      //
      // Shape, and why it scales: two documents scans (stats + the
      // shingle overlap semi-join's probe side), one broadcast of the
      // benchmark shingle set, model-sized output.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val t = Shared.tokens(col("text"))
        val norm = md5(lower(regexp_replace(col("text"), "\\s+", " ")))
        val stats = docs.select(col("doc_id"), col("source"), col("lang"),
            col("n_chars"), size(t).cast("long").as("ntok"), norm.as("h"),
            when(length(col("text")).between(100, 400) &&
              length(regexp_replace(col("text"), "[^a-zA-Z]", "")) * 4 >
                length(col("text")) * 3, 1L).otherwise(0L).as("q"))
        val dup = stats.groupBy("h").agg(count(lit(1)).as("n"))
          .agg(sum(when(col("n") >= 2, col("n")).otherwise(0L))
            .as("n_dup_docs"))
        val sh = withShingles(s, d, nonEmpty = true)
          .select(col("doc_id"), col("source"), explode(col("sh")).as("s3"))
        val bench = sh.filter(col("source") === "src0")
          .select("s3").distinct()
        val contaminated = sh.filter(col("source") =!= "src0")
          .join(broadcast(bench), Seq("s3"), "left_semi")
          .agg(countDistinct(col("doc_id")).as("n_overlap_docs"))
        val agg = stats.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("ntok")).as("total_tokens"),
          min(col("ntok")).as("min_doc_tokens"),
          max(col("ntok")).as("max_doc_tokens"),
          sum(col("q")).as("n_quality_ok"))
        val row = agg.crossJoin(broadcast(dup))
          .crossJoin(broadcast(contaminated))
        val metrics = Seq("n_docs", "n_sources", "n_langs", "total_chars",
          "total_tokens", "min_doc_tokens", "max_doc_tokens",
          "n_quality_ok", "n_dup_docs", "n_overlap_docs")
        row.select(explode(array(metrics.map(m =>
            struct(lit(m).as("metric"), col(m).cast("long").as("value")))
            : _*)).as("e"))
          .select(col("e.metric").as("metric"), col("e.value").as("value"))
      },
      Some(s"""$SQL_WITH_SHINGLES,
              tk AS (SELECT doc_id, source, lang, n_chars, text,
                  $SQL_TOKENS AS t FROM documents),
              st AS (SELECT doc_id, source, lang, n_chars,
                  len(t) AS ntok,
                  md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS h,
                  CASE WHEN length(text) BETWEEN 100 AND 400
                    AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                        * 4 > length(text) * 3
                    THEN 1 ELSE 0 END AS q
                FROM tk),
              dup AS (SELECT sum(CASE WHEN n >= 2 THEN n ELSE 0 END)
                    AS n_dup_docs
                  FROM (SELECT h, count(*) AS n FROM st GROUP BY 1)),
              x AS (SELECT sh.doc_id, d.source, unnest(sh.sh) AS s3
                    FROM shingled sh JOIN documents d
                      ON sh.doc_id = d.doc_id
                    WHERE len(sh.sh) > 0),
              bsh AS (SELECT DISTINCT s3 FROM x WHERE source = 'src0'),
              cont AS (SELECT count(DISTINCT doc_id) AS n_overlap_docs
                FROM x WHERE source <> 'src0'
                  AND s3 IN (SELECT s3 FROM bsh)),
              agg AS (SELECT count(*) AS n_docs,
                  count(DISTINCT source) AS n_sources,
                  count(DISTINCT lang) AS n_langs,
                  sum(n_chars) AS total_chars,
                  sum(ntok) AS total_tokens,
                  min(ntok) AS min_doc_tokens,
                  max(ntok) AS max_doc_tokens,
                  sum(q) AS n_quality_ok
                FROM st)
              SELECT metric, CAST(value AS BIGINT) AS value FROM (
                SELECT 'n_docs' AS metric, n_docs AS value FROM agg
                UNION ALL SELECT 'n_sources', n_sources FROM agg
                UNION ALL SELECT 'n_langs', n_langs FROM agg
                UNION ALL SELECT 'total_chars', total_chars FROM agg
                UNION ALL SELECT 'total_tokens', total_tokens FROM agg
                UNION ALL SELECT 'min_doc_tokens', min_doc_tokens FROM agg
                UNION ALL SELECT 'max_doc_tokens', max_doc_tokens FROM agg
                UNION ALL SELECT 'n_quality_ok', n_quality_ok FROM agg
                UNION ALL SELECT 'n_dup_docs', n_dup_docs FROM dup
                UNION ALL SELECT 'n_overlap_docs', n_overlap_docs
                  FROM cont)""")
    ),

    // ── PMI CO-OCCURRENCE (distributional association mining) ─────────────
    QueryDef(
      "q209_pmi_cooccur",
      // The word2vec-era distributional-semantics statistic: which token
      // pairs co-occur within a ±2 window far above chance. The
      // association score is the exact PMI RATIO
      //   p(w1,w2) / (p(w1)·p(w2)) = c12·N² / (W·c1·c2)
      // computed as doubles from exact BIGINT counts in a pinned
      // multiplication order (log-free per the q57 discipline — the
      // ratio ranks identically to PMI). Count floor c12 ≥ 5 kills the
      // hapax noise; top-20 by (ratio desc, pair asc).
      //
      // Shape, and why it scales: ZERO new corpus scans — the ±1 pairs
      // are the memoized [[bigramTable]], the ±2 skip-grams project from
      // the memoized [[trigramTable]] (w1, w3), and unigram counts scan
      // the memoized [[postingsTable]]; N and W are two scalar model
      // parameters. Pair counting is one hash aggregation; the unigram
      // attach is a broadcast (vocab-bounded) join.
      (s, d) => {
        val (bg, _) = bigramTable(s, d)
        val (tg, _) = trigramTable(s, d)
        val pairs = bg.select(least(col("w1"), col("w2")).as("a"),
            greatest(col("w1"), col("w2")).as("b"))
          .unionAll(tg.select(least(col("w1"), col("w3")).as("a"),
            greatest(col("w1"), col("w3")).as("b")))
        val post = postingsTable(s, d)
        val n = post.count()
        val w = pairs.count()
        val uni = post.groupBy("w").agg(count(lit(1)).as("c"))
        pairs.groupBy("a", "b").agg(count(lit(1)).as("c12"))
          .filter(col("c12") >= 5)
          .join(broadcast(uni.select(col("w").as("a"), col("c").as("ca"))), "a")
          .join(broadcast(uni.select(col("w").as("b"), col("c").as("cb"))), "b")
          .withColumn("pmi_ratio",
            col("c12").cast("double") * lit(n.toDouble) * lit(n.toDouble) /
              (lit(w.toDouble) * col("ca").cast("double") *
                col("cb").cast("double")))
          .select(col("a").as("w1"), col("b").as("w2"), col("c12"),
            col("pmi_ratio"))
          .orderBy(col("pmi_ratio").desc, col("w1").asc, col("w2").asc)
          .limit(20)
      },
      Some(s"""WITH tok AS (SELECT doc_id, $SQL_TOKENS AS t FROM documents),
              bg AS (SELECT least(t[p], t[p+1]) AS a,
                       greatest(t[p], t[p+1]) AS b
                     FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS p
                           FROM tok WHERE len(t) >= 2)),
              sk AS (SELECT least(t[p], t[p+2]) AS a,
                       greatest(t[p], t[p+2]) AS b
                     FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS p
                           FROM tok WHERE len(t) >= 3)),
              pairs AS (SELECT * FROM bg UNION ALL SELECT * FROM sk),
              c12 AS (SELECT a, b, count(*) AS c12 FROM pairs
                      GROUP BY 1, 2 HAVING count(*) >= 5),
              uni AS (SELECT w, count(*) AS c FROM
                        (SELECT unnest(t) AS w FROM tok) GROUP BY 1),
              nn AS (SELECT count(*) AS n FROM (SELECT unnest(t) FROM tok)),
              ww AS (SELECT count(*) AS wtot FROM pairs)
              SELECT a AS w1, b AS w2, c12,
                CAST(c12 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                  / (CAST(wtot AS DOUBLE) * CAST(ca.c AS DOUBLE)
                     * CAST(cb.c AS DOUBLE)) AS pmi_ratio
              FROM c12 JOIN uni ca ON c12.a = ca.w
                JOIN uni cb ON c12.b = cb.w
                CROSS JOIN nn CROSS JOIN ww
              ORDER BY pmi_ratio DESC, w1, w2 LIMIT 20"""),
      headline = true
    ),

    // ── TRAINED LANGUAGE-ID (char-trigram NB) + confusion matrix ──────────
    QueryDef(
      "q210_langid_trained",
      // q34's heuristic lang-ID upgraded to the TRAINED form real
      // pipelines use (the langid.py/CLD architecture): per-language
      // char-trigram models fit on the even-id split, every document
      // scored under every language with add-one-smoothed log-free ppm
      // sums (the q169/q188 convention — exact BIGINT, engine-identical
      // argmax with the (score desc, lang asc) tie-break), and the
      // self-evaluation reported as the confusion matrix against the
      // corpus's own lang labels — the artifact a model audit reads.
      //
      // Shape, and why it scales: the MODEL is dense (train-trigram
      // universe × languages) but char-trigram-bounded (≲ |charset|³·L
      // rows) → broadcast; unseen eval trigrams take the per-language
      // smoothing floor via a 5-row broadcast fan-out. One corpus scan
      // feeds train counting and scoring; scoring is one broadcast join
      // + one (doc, lang) aggregation + one per-doc argmax window.
      (s, d) => Shared.withCheckpointDir(s) {
        val tri = Tables.documents(s, d)
          .filter(length(col("text")) >= 3)
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("lang").as("true_lang"),
            explode(transform(sequence(lit(1), length(col("text")) - 2),
              i => col("text").substr(i, lit(3)))).as("g"))
        val train = tri.filter(col("doc_id") % 2 === 0)
        // ONE train pass (r17): the (g, lang) count table is the whole
        // model's sufficient statistic — n_lang (Σc per lang), |V|
        // (distinct g) and the per-trigram scores all derive from it.
        // Before, the train split re-ran the corpus explode FOUR times
        // (cnts, nl, the |V| scalar, the model's distinct-g leg); the
        // reliable checkpoint makes it one pass, trigram-vocab-sized.
        val cnts = train.groupBy("g", "true_lang")
          .agg(count(lit(1)).as("c"))
          .withColumnRenamed("true_lang", "lang")
          .checkpoint()
        // model parameters (langs are a model-sized panel — the nl/floor
        // broadcast of the previous form, collected once)
        val langRows = cnts.groupBy("lang").agg(sum(col("c")).as("n_lang"))
          .orderBy(col("lang").asc).collect()
        val langs = langRows.map(_.getString(0)).toSeq
        val nLang = langRows.map(_.getLong(1)).toSeq
        val v = cnts.select("g").distinct().count()
        // an empty training split has no language to score against: the
        // result is empty, as the oracle's `tri CROSS JOIN fl` is
        if (langs.isEmpty)
          tri.select(col("true_lang").as("lang"),
            col("true_lang").as("pred_lang"), lit(0L).as("n_docs")).limit(0)
        else {
          // per-trigram score VECTOR (one row per g, one column per lang)
          // instead of universe × langs rows: the scoring stream then stays
          // at one row per eval trigram where the crossJoin(langs) form
          // carried |langs|× that (the 26-CPU-second stage of the before
          // profile). Scores are the identical integers: an unseen (g,
          // lang) pair takes (10⁶·(0+1)) div (n_lang+|V|) — exactly the
          // smoothing floor the old coalesce(ppm, floor) applied, whether
          // g is in the train universe or not.
          val modelByG = cnts.groupBy("g").pivot("lang", langs)
            .agg(sum(col("c")))
            .select(col("g") +: langs.indices.map(i =>
              expr(s"""(1000000 * (coalesce(`${langs(i)}`,
                  CAST(0 AS BIGINT)) + 1)) div (${nLang(i)}L + ${v}L)""")
                .as(s"sc_$i")): _*)
          val floors = langs.indices.map(i => 1000000L / (nLang(i) + v))
          val scoredDoc = tri.join(broadcast(modelByG), Seq("g"), "left")
            .groupBy("doc_id", "true_lang")
            .agg(sum(coalesce(col("sc_0"), lit(floors(0)))).as("sc_0"),
              langs.indices.drop(1).map(i =>
                sum(coalesce(col(s"sc_$i"), lit(floors(i)))).as(s"sc_$i")): _*)
          val wBest = Window.partitionBy("doc_id")
            .orderBy(col("score").desc, col("lang").asc)
          scoredDoc
            .select(col("doc_id"), col("true_lang"), explode(array(
              langs.indices.map(i => struct(lit(langs(i)).as("lang"),
                col(s"sc_$i").cast("long").as("score"))): _*)).as("s"))
            .select(col("doc_id"), col("true_lang"),
              col("s.lang").as("lang"), col("s.score").as("score"))
            .withColumn("rn", row_number().over(wBest))
            .filter(col("rn") === 1)
            .groupBy(col("true_lang").as("lang"), col("lang").as("pred_lang"))
            .agg(count(lit(1)).as("n_docs"))
        }
      },
      Some("""WITH tri AS (SELECT doc_id, lang,
                  unnest(list_transform(range(1, CAST(length(text) - 1 AS INT)),
                    i -> substring(text, i, 3))) AS g
                FROM documents WHERE length(text) >= 3),
              tr AS (SELECT * FROM tri WHERE doc_id % 2 = 0),
              cnts AS (SELECT g, lang, count(*) AS c FROM tr GROUP BY 1, 2),
              nl AS (SELECT lang, count(*) AS n_lang FROM tr GROUP BY 1),
              vv AS (SELECT count(DISTINCT g) AS v FROM tr),
              gu AS (SELECT DISTINCT g FROM tr),
              model AS (SELECT gu.g, nl.lang,
                  (1000000 * (coalesce(c, 0) + 1)) // (n_lang + v) AS ppm
                FROM gu CROSS JOIN nl CROSS JOIN vv
                  LEFT JOIN cnts ON gu.g = cnts.g AND nl.lang = cnts.lang),
              fl AS (SELECT lang, 1000000 // (n_lang + v) AS fl
                FROM nl CROSS JOIN vv),
              sc AS (SELECT tri.doc_id, tri.lang AS true_lang,
                  fl.lang AS cand,
                  CAST(sum(coalesce(ppm, fl.fl)) AS BIGINT) AS score
                FROM tri CROSS JOIN fl
                  LEFT JOIN model ON tri.g = model.g AND fl.lang = model.lang
                GROUP BY 1, 2, 3),
              pred AS (SELECT doc_id, true_lang, cand AS pred_lang FROM sc
                QUALIFY row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, cand) = 1)
              SELECT true_lang AS lang, pred_lang, count(*) AS n_docs
              FROM pred GROUP BY 1, 2""")
    ),

    // ── BUDGET APPORTIONMENT (largest-remainder sampling quotas) ──────────
    QueryDef(
      "q208_budget_apportion",
      // The budget-allocation step between weighting (q130's temperature
      // mix decides PROPORTIONS) and sampling (q183 draws the rows): turn
      // per-source token masses into INTEGER document quotas summing to
      // exactly N=1000 via the largest-remainder method — base quota
      // ⌊N·T_s/T⌋, then the N−Σ⌊⌋ leftover seats go to the largest
      // remainders (N·T_s mod T, ties by source name). Every quantity is
      // exact BIGINT, so the apportionment is engine-identical including
      // the tie order — the property a reproducible data recipe needs.
      // Shape: one corpus aggregation to source masses (tiny), then
      // windows over the source table (model-sized at any corpus scale).
      (s, d) => {
        val N = 1000L
        val masses = Tables.documents(s, d)
          .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
          .groupBy("source").agg(sum(col("nt")).as("tokens"))
        val wTot = Window.partitionBy()
        val wRk = Window.orderBy(col("rem").desc, col("source").asc)
        masses
          .withColumn("total", sum(col("tokens")).over(wTot))
          .withColumn("base", expr(s"($N * tokens) div total"))
          .withColumn("rem", expr(s"($N * tokens) % total"))
          .withColumn("leftover", lit(N) - sum(col("base")).over(wTot))
          .withColumn("rk", row_number().over(wRk).cast("long"))
          .withColumn("extra", (col("rk") <= col("leftover")).cast("long"))
          .withColumn("quota", col("base") + col("extra"))
          .select("source", "tokens", "base", "extra", "quota")
      },
      Some(s"""WITH m AS (SELECT source,
                  CAST(sum(len($SQL_TOKENS)) AS BIGINT) AS tokens
                FROM documents GROUP BY 1),
              a AS (SELECT source, tokens,
                  sum(tokens) OVER () AS total FROM m),
              b AS (SELECT source, tokens,
                  (1000 * tokens) // total AS base,
                  (1000 * tokens) % total AS rem FROM a),
              c AS (SELECT *, 1000 - sum(base) OVER () AS leftover,
                  CAST(row_number() OVER (ORDER BY rem DESC, source)
                    AS BIGINT) AS rk FROM b)
              SELECT source, tokens, CAST(base AS BIGINT) AS base,
                CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
                  AS extra,
                CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                  AS BIGINT) AS quota
              FROM c""")
    ),

    // ── VOCABULARY GROWTH CURVE (Heaps' law) ─────────────────────────────
    QueryDef(
      "q211_vocab_growth",
      // The corpus-statistics curve every scaling study plots: cumulative
      // distinct vocabulary vs cumulative tokens at 10 checkpoints of the
      // corpus in doc_id order (Heaps' law V(n) ≈ K·n^β — the curve
      // itself; no float fit). "First occurrence" is exact: a token's
      // entry point is min(doc_id), so vocab at checkpoint k counts the
      // tokens whose min lands in buckets ≤ k.
      //
      // Shape, and why it scales: checkpoints are FIXED doc_id ranges
      // ((doc_id·10) div (max+1)) — a scalar probe plus a map-side bucket
      // tag, never a global row_number sort over the corpus. One pass
      // over the memoized [[postingsTable]] feeds both aggregations
      // (per-bucket token/doc counts; per-token min then per-bucket
      // counts); the cumulative window runs over the 10-row bucket table
      // — model-sized at any corpus scale.
      (s, d) => {
        val post = postingsTable(s, d)
        val nb = Tables.documents(s, d)
          .agg(max(col("doc_id"))).head.getLong(0) + 1
        def bktOf(c: String) = expr(s"(($c * 10) div ${nb}L) + 1")
        val spine = post.withColumn("bucket", bktOf("doc_id"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_tok"),
            countDistinct(col("doc_id")).as("n_docs"))
        val firsts = post.groupBy("w").agg(min(col("doc_id")).as("fd"))
          .withColumn("bucket", bktOf("fd"))
          .groupBy("bucket").agg(count(lit(1)).as("n_new"))
        val w = Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(firsts, Seq("bucket"), "left")
          .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
          .select(col("bucket"),
            sum(col("n_docs")).over(w).as("docs_cum"),
            sum(col("n_tok")).over(w).as("tokens_cum"),
            sum(col("n_new")).over(w).as("vocab_cum"))
      },
      Some(s"""WITH nbs AS (SELECT max(doc_id) + 1 AS nb FROM documents),
              tok AS (SELECT doc_id, unnest($SQL_TOKENS) AS w FROM documents),
              tb AS (SELECT ((doc_id * 10) // nb) + 1 AS bucket, doc_id, w
                     FROM tok CROSS JOIN nbs),
              spine AS (SELECT bucket, count(*) AS n_tok,
                          count(DISTINCT doc_id) AS n_docs
                        FROM tb GROUP BY 1),
              fo AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY 1),
              fb AS (SELECT ((fd * 10) // nb) + 1 AS bucket,
                       count(*) AS n_new
                     FROM fo CROSS JOIN nbs GROUP BY 1),
              j AS (SELECT spine.bucket, n_docs, n_tok,
                      coalesce(n_new, 0) AS n_new
                    FROM spine LEFT JOIN fb ON spine.bucket = fb.bucket)
              SELECT bucket,
                CAST(sum(n_docs) OVER w AS BIGINT) AS docs_cum,
                CAST(sum(n_tok) OVER w AS BIGINT) AS tokens_cum,
                CAST(sum(n_new) OVER w AS BIGINT) AS vocab_cum
              FROM j WINDOW w AS (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")
    ),

    // ── EXACT SIMILARITY JOIN VIA PREFIX FILTERING (AllPairs/PPJoin) ─────
    QueryDef(
      "q212_jaccard_prefix_join",
      // The EXACT counterpart to the approximate near-dup family
      // (MinHash q38, SimHash q174, winnowing q154): every document pair
      // with hashed-3-shingle-set Jaccard ≥ 0.8, found by PREFIX
      // FILTERING (Bayardo et al., WWW'07; Chaudhuri et al., ICDE'06 —
      // the published exact-similarity-join technique) instead of an
      // all-pairs scan. Order every doc's shingle set by GLOBAL document
      // frequency ascending (rarest first, id tie-break); a pair with
      // Jaccard ≥ τ must share at least one token inside the two
      // prefixes of length |X| − ⌈τ·|X|⌉ + 1, so candidates come from a
      // keyed equi-join on prefix shingles alone. The size filter
      // 4·max(|A|,|B|) ≤ 5·min(|A|,|B|) (τ = 4/5 cross-multiplied — all
      // BIGINT, no doubles) prunes length-incompatible pairs in the join
      // condition; verification counts the exact intersection and keeps
      // 5·i ≥ 4·(|A|+|B|−i). The similarity universe is the hashed
      // shingle set (Shared.h32, the q37 declared convention), mirrored
      // bit-for-bit by the oracle.
      //
      // Shape, and why it scales: the per-doc frequency ordering is a
      // doc-partitioned window (never a global vocab sort); candidate
      // generation touches only prefix tokens — rare by construction, so
      // bucket lists stay short where an inverted index over ALL tokens
      // would explode on stopword shingles; verification is two keyed
      // equi-joins on the memoized [[shingleSetTable]]. No stage is
      // quadratic in corpus size — the published contrast to the capped
      // all-pairs demos (q36/q43).
      (s, d) =>
        jaccardPrefixPairs(s, d)
          .select(col("d1").as("doc1"), col("d2").as("doc2"),
            col("inter_sz"), col("union_sz"),
            (col("inter_sz").cast("double") / col("union_sz").cast("double"))
              .as("jaccard")),
      Some(s"""$SQL_JPAIR_CTES
              SELECT d1 AS doc1, d2 AS doc2, inter_sz, union_sz,
                CAST(inter_sz AS DOUBLE)
                  / CAST(union_sz AS DOUBLE) AS jaccard
              FROM jp"""),
      headline = true
    ),

    // ── GROUP-AWARE TRAIN/VAL/TEST SPLIT (leakage-safe) ──────────────────
    QueryDef(
      "q217_split_assign",
      // The split step every training pipeline runs after dedup: assign
      // docs to train/val/test at CLUSTER granularity — near-dup
      // clusters from q212's exact-Jaccard pairs transitively closed
      // (Shared.minLabelComponents; singletons keep their own id) — so
      // near-duplicates can never straddle a split boundary, the
      // eval-contamination bug doc-level hashing causes. Assignment is
      // deterministic: cluster label mod 10 (0-7 train, 8 val, 9 test).
      // Two audits ship with the table: cross_pairs counts near-dup
      // pairs landing in different splits under THIS assignment (proved
      // 0 by the oracle compare, not assumed), and naive_cross_pairs
      // counts what doc-granular id-mod-10 assignment WOULD have leaked
      // — the nonzero number that justifies the operator.
      //
      // Shape, and why it scales: pairs come from the prefix-filter
      // join (never all-pairs); the component fixpoint runs on the
      // pair graph, orders of magnitude smaller than the corpus; the
      // audits join only within the pair list; output is the 3-row
      // split table.
      (s, d) => {
        val jp = jaccardPrefixPairs(s, d).select("d1", "d2")
        val docs = Tables.documents(s, d).select("doc_id")
        val comps = Shared.minLabelComponents(s,
          docs.select(col("doc_id").as("id")),
          jp.select(col("d1").as("a"), col("d2").as("b")))
        val asg = docs
          .join(comps.select(col("id").as("doc_id"), col("comp")),
            Seq("doc_id"), "left")
          .withColumn("cl", coalesce(col("comp"), col("doc_id")))
          .withColumn("split",
            when(col("cl") % 10 <= 7, "train")
              .when(col("cl") % 10 === 8, "val").otherwise("test"))
          .select("doc_id", "split")
        val pairs = jp
          .join(asg.select(col("doc_id").as("d1"), col("split").as("sa")),
            "d1")
          .join(asg.select(col("doc_id").as("d2"), col("split").as("sb")),
            "d2")
        val cross = pairs.filter(col("sa") =!= col("sb"))
          .groupBy(col("sa").as("split"))
          .agg(count(lit(1)).as("cross_pairs"))
        val naive = pairs.filter(col("d1") % 10 =!= col("d2") % 10)
          .groupBy(col("sa").as("split"))
          .agg(count(lit(1)).as("naive_cross_pairs"))
        asg.groupBy("split").agg(count(lit(1)).as("n_docs"))
          .join(cross, Seq("split"), "left")
          .join(naive, Seq("split"), "left")
          .select(col("split"), col("n_docs"),
            coalesce(col("cross_pairs"), lit(0L)).as("cross_pairs"),
            coalesce(col("naive_cross_pairs"), lit(0L))
              .as("naive_cross_pairs"))
      },
      Some(s"""WITH RECURSIVE ${SQL_JPAIR_CTES.stripPrefix("WITH ")},
              wedges AS (SELECT d1 AS a, d2 AS b FROM jp
                         UNION ALL SELECT d2, d1 FROM jp),
              nodes AS (SELECT doc_id AS id FROM documents),
              reach AS (SELECT id, id AS r FROM nodes
                        UNION
                        SELECT e.b, reach.r FROM reach
                          JOIN wedges e ON e.a = reach.id),
              comp AS (SELECT id AS doc_id, min(r) AS cl
                       FROM reach GROUP BY 1),
              asg AS (SELECT doc_id,
                  CASE WHEN cl % 10 <= 7 THEN 'train'
                       WHEN cl % 10 = 8 THEN 'val'
                       ELSE 'test' END AS split
                FROM comp),
              pairs AS (SELECT jp.d1, jp.d2, a1.split AS sa, a2.split AS sb
                FROM jp JOIN asg a1 ON jp.d1 = a1.doc_id
                  JOIN asg a2 ON jp.d2 = a2.doc_id),
              cross_t AS (SELECT sa AS split, count(*) AS cross_pairs
                FROM pairs WHERE sa <> sb GROUP BY 1),
              naive AS (SELECT sa AS split, count(*) AS naive_cross_pairs
                FROM pairs WHERE (d1 % 10) <> (d2 % 10) GROUP BY 1),
              spl AS (SELECT split, count(*) AS n_docs FROM asg GROUP BY 1)
              SELECT spl.split, CAST(n_docs AS BIGINT) AS n_docs,
                CAST(coalesce(cross_pairs, 0) AS BIGINT) AS cross_pairs,
                CAST(coalesce(naive_cross_pairs, 0) AS BIGINT)
                  AS naive_cross_pairs
              FROM spl
                LEFT JOIN cross_t ON spl.split = cross_t.split
                LEFT JOIN naive ON spl.split = naive.split""")
    ),

    // ── CLIPPED BIGRAM OVERLAP (ROUGE-2/BLEU-style pair scoring) ─────────
    QueryDef(
      "q219_ngram_overlap",
      // The eval-pipeline score behind ROUGE-2 and BLEU's modified
      // precision, applied where training pipelines use it: grading HOW
      // MUCH of a near-dup pair is actually shared text. For each q212
      // pair, clipped bigram overlap = Σ_g min(c1(g), c2(g)) over
      // bigram MULTIPLICITIES (the clipping that stops a repeated
      // bigram from over-counting), precision = overlap/|bigrams(d2)|,
      // recall = overlap/|bigrams(d1)|, F1 with both divisions pinned.
      // All counts exact BIGINT; both engines derive identical doubles.
      //
      // Shape, and why it scales: pair-scoped — the candidate list
      // comes from the prefix-filter join, bigram counts project from
      // the memoized [[bigramTable]], and the overlap is two keyed
      // equi-joins + one aggregation per pair. Never corpus-quadratic.
      (s, d) => {
        val jp = jaccardPrefixPairs(s, d).select("d1", "d2")
        val (bg, _) = bigramTable(s, d)
        val cnt = bg.filter(col("w1").isNotNull)
          .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("c"))
        val tot = cnt.groupBy("doc_id").agg(sum(col("c")).as("nb"))
        val ov = jp
          .join(cnt.select(col("doc_id").as("d1"), col("w1"), col("w2"),
            col("c").as("c1")), Seq("d1"))
          .join(cnt.select(col("doc_id").as("d2"), col("w1"), col("w2"),
            col("c").as("c2")), Seq("d2", "w1", "w2"))
          .groupBy("d1", "d2")
          .agg(sum(least(col("c1"), col("c2"))).as("overlap"))
        jp.join(ov, Seq("d1", "d2"), "left")
          .withColumn("overlap", coalesce(col("overlap"), lit(0L)))
          .join(tot.select(col("doc_id").as("d1"), col("nb").as("nb1")), "d1")
          .join(tot.select(col("doc_id").as("d2"), col("nb").as("nb2")), "d2")
          .withColumn("p", col("overlap").cast("double") /
            col("nb2").cast("double"))
          .withColumn("r", col("overlap").cast("double") /
            col("nb1").cast("double"))
          .withColumn("f1",
            when(col("p") + col("r") === 0.0, lit(0.0))
              .otherwise(lit(2.0) * col("p") * col("r") /
                (col("p") + col("r"))))
          .select(col("d1").as("doc1"), col("d2").as("doc2"),
            col("overlap"), col("nb1"), col("nb2"), col("p"), col("r"),
            col("f1"))
      },
      Some(s"""WITH RECURSIVE ${SQL_JPAIR_CTES.stripPrefix("WITH ")},
              bg AS (SELECT doc_id, t[p] AS w1, t[p+1] AS w2
                     FROM (SELECT doc_id, t,
                             unnest(generate_series(1, len(t) - 1)) AS p
                           FROM tok WHERE len(t) >= 2)),
              cnt AS (SELECT doc_id, w1, w2, count(*) AS c
                      FROM bg GROUP BY 1, 2, 3),
              tot AS (SELECT doc_id, sum(c) AS nb FROM cnt GROUP BY 1),
              ov AS (SELECT jp.d1, jp.d2,
                       sum(least(a.c, b.c)) AS overlap
                     FROM jp
                       JOIN cnt a ON a.doc_id = jp.d1
                       JOIN cnt b ON b.doc_id = jp.d2
                         AND a.w1 = b.w1 AND a.w2 = b.w2
                     GROUP BY 1, 2),
              sc AS (SELECT jp.d1 AS doc1, jp.d2 AS doc2,
                       CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap,
                       CAST(t1.nb AS BIGINT) AS nb1,
                       CAST(t2.nb AS BIGINT) AS nb2
                     FROM jp
                       LEFT JOIN ov ON jp.d1 = ov.d1 AND jp.d2 = ov.d2
                       JOIN tot t1 ON jp.d1 = t1.doc_id
                       JOIN tot t2 ON jp.d2 = t2.doc_id)
              SELECT doc1, doc2, overlap, nb1, nb2,
                CAST(overlap AS DOUBLE) / CAST(nb2 AS DOUBLE) AS p,
                CAST(overlap AS DOUBLE) / CAST(nb1 AS DOUBLE) AS r,
                CASE WHEN CAST(overlap AS DOUBLE) / CAST(nb2 AS DOUBLE)
                        + CAST(overlap AS DOUBLE) / CAST(nb1 AS DOUBLE) = 0
                  THEN 0.0
                  ELSE 2.0 * (CAST(overlap AS DOUBLE) / CAST(nb2 AS DOUBLE))
                         * (CAST(overlap AS DOUBLE) / CAST(nb1 AS DOUBLE))
                       / (CAST(overlap AS DOUBLE) / CAST(nb2 AS DOUBLE)
                          + CAST(overlap AS DOUBLE) / CAST(nb1 AS DOUBLE))
                  END AS f1
              FROM sc""")
    ),

    // ── N-GRAM NOVELTY SCAN (per-source memorization profile) ────────────
    QueryDef(
      "q221_novelty_scan",
      // The scaling-literature novelty statistic: what fraction of each
      // source's 8-gram positions introduce an 8-gram never seen in any
      // EARLIER document (doc_id order)? Low novelty flags boilerplate
      // and template-heavy sources before they dilute a training mix;
      // it is the corpus-level reading of the span-dedup signal. An
      // 8-gram's entry point is min(doc_id) over its occurrences, so a
      // position is novel iff its doc IS that minimum — exact, no
      // sketches.
      //
      // Shape, and why it scales: the position stream is the memoized
      // [[substrStarts]] scratch (built once, shared with q163/q170);
      // first-occurrence is one hash aggregation on the 8-gram key; the
      // novelty flags aggregate per doc BEFORE the tiny source attach,
      // so the join moves doc-grain rows, not positions.
      (s, d) => {
        val st = substrStarts(s, d)
        val fd = st.groupBy("h").agg(min(col("doc_id")).as("fd"))
        val perDoc = st.join(fd, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_pos"),
            sum(when(col("doc_id") === col("fd"), 1L).otherwise(0L))
              .as("n_novel"))
        perDoc
          .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
          .groupBy("source")
          .agg(sum(col("n_pos")).as("n_pos"),
            sum(col("n_novel")).as("n_novel"))
          .select(col("source"), col("n_pos"), col("n_novel"),
            (col("n_novel").cast("double") / col("n_pos").cast("double"))
              .as("novelty"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, source, $SQL_TOKENS AS t
                  FROM documents),
              st AS (SELECT doc_id, source,
                  array_to_string(list_slice(t, p, p + 7), ' ') AS g
                FROM (SELECT doc_id, source, t,
                        unnest(generate_series(1, len(t) - 7)) AS p
                      FROM tok WHERE len(t) >= 8)),
              fd AS (SELECT g, min(doc_id) AS fd FROM st GROUP BY 1),
              per AS (SELECT st.source, count(*) AS n_pos,
                  sum(CASE WHEN st.doc_id = fd.fd THEN 1 ELSE 0 END)
                    AS n_novel
                FROM st JOIN fd USING (g) GROUP BY 1)
              SELECT source, CAST(n_pos AS BIGINT) AS n_pos,
                CAST(n_novel AS BIGINT) AS n_novel,
                CAST(n_novel AS DOUBLE) / CAST(n_pos AS DOUBLE) AS novelty
              FROM per""")
    ),

    // ── SOURCE-OVERLAP CONTAINMENT MATRIX (corpus data map) ──────────────
    QueryDef(
      "q223_source_overlap_matrix",
      // The data map curation reads before mixing sources: for every
      // ordered source pair (A, B), what fraction of A's distinct
      // 8-word-window shingle vocabulary also appears in B? Asymmetric
      // containment (not Jaccard) is the right lens — a small source
      // fully contained in a big one is a redundancy signal the
      // symmetric score hides. Exact distinct-set arithmetic over the
      // hashed 3-shingle universe.
      //
      // Shape, and why it scales: the per-source shingle sets project
      // from the memoized [[shingleSetTable]] + a doc-grain source
      // attach; the pair intersection is ONE keyed equi-join on the
      // shingle hash whose fan-out per key is bounded by the SOURCE
      // count (model-sized), never by corpus size; output is the
      // sources² matrix.
      (s, d) => {
        val sg = shingleSetTable(s, d) // memo carries source — no corpus join
          .select("source", "g").distinct()
        val sz = sg.groupBy("source").agg(count(lit(1)).as("sz"))
        sg.select(col("source").as("src_a"), col("g"))
          .join(sg.select(col("source").as("src_b"), col("g")), "g")
          .filter(col("src_a") =!= col("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter_sz"))
          .join(broadcast(sz.select(col("source").as("src_a"),
            col("sz").as("sz_a"))), "src_a")
          .select(col("src_a"), col("src_b"), col("inter_sz"), col("sz_a"),
            (col("inter_sz").cast("double") / col("sz_a").cast("double"))
              .as("containment"))
      },
      Some(s"""$SQL_WITH_SHINGLES,
              e AS (SELECT DISTINCT doc_id, ${Shared.SQL_H32("w")} AS g
                    FROM (SELECT doc_id, unnest(sh) AS w FROM shingled)),
              sg AS (SELECT DISTINCT d.source, e.g
                     FROM e JOIN documents d ON e.doc_id = d.doc_id),
              sz AS (SELECT source, count(*) AS sz FROM sg GROUP BY 1),
              ov AS (SELECT a.source AS src_a, b.source AS src_b,
                       count(*) AS inter_sz
                     FROM sg a JOIN sg b ON a.g = b.g
                       AND a.source <> b.source
                     GROUP BY 1, 2)
              SELECT src_a, src_b, CAST(inter_sz AS BIGINT) AS inter_sz,
                CAST(sz.sz AS BIGINT) AS sz_a,
                CAST(inter_sz AS DOUBLE) / CAST(sz.sz AS DOUBLE)
                  AS containment
              FROM ov JOIN sz ON ov.src_a = sz.source""")
    ),

    // ── MINHASH CALIBRATION (estimator vs exact, per pair) ───────────────
    QueryDef(
      "q224_minhash_calibration",
      // The index-quality report for the approximate dedup path: over
      // the verified near-dup pairs, how close is the 16-hash MinHash
      // estimate (matching signature positions / 16) to the EXACT
      // hashed-shingle Jaccard the prefix-filter join proves? This is
      // the measurement that justifies (or re-sizes) the signature
      // budget — the same audit q151/q159 run for ANN recall, applied
      // to the MinHash family.
      //
      // Shape, and why it scales: signatures are computed ONLY for
      // pair members (a semi-join pushes the pair-id filter below the
      // md5 fan-out); exact Jaccard rides along from the pair stream;
      // the comparison is a model-sized join of two signature rows per
      // pair.
      (s, d) => {
        val jp = jaccardPrefixPairs(s, d)
        val members = jp.select(col("d1").as("doc_id"))
          .union(jp.select(col("d2").as("doc_id"))).distinct()
        val base = withShingles(s, d, nonEmpty = true)
          .join(members, Seq("doc_id"), "left_semi")
          .withColumn("shh", transform(col("sh"), h32(_)))
        val sig = base.select(col("doc_id") +:
          (0 until NUM_HASHES).map(j => minhash(col("shh"), j).as(s"mh$j")): _*)
        val s1 = sig.select(col("doc_id").as("d1") +:
          (0 until NUM_HASHES).map(j => col(s"mh$j").as(s"a$j")): _*)
        val s2 = sig.select(col("doc_id").as("d2") +:
          (0 until NUM_HASHES).map(j => col(s"mh$j").as(s"b$j")): _*)
        val matches = (0 until NUM_HASHES)
          .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
          .reduce(_ + _)
        jp.join(s1, "d1").join(s2, "d2")
          .withColumn("matches", matches)
          .withColumn("est_jaccard",
            col("matches").cast("double") / lit(NUM_HASHES.toDouble))
          .withColumn("exact_jaccard",
            col("inter_sz").cast("double") / col("union_sz").cast("double"))
          .select(col("d1").as("doc1"), col("d2").as("doc2"),
            col("matches"), col("est_jaccard"), col("exact_jaccard"),
            abs(col("est_jaccard") - col("exact_jaccard")).as("abs_err"))
      },
      Some(s"""WITH RECURSIVE ${SQL_JPAIR_CTES.stripPrefix("WITH ")},
              members AS (SELECT DISTINCT doc_id FROM
                          (SELECT d1 AS doc_id FROM jp
                           UNION ALL SELECT d2 FROM jp)),
              hashed AS (SELECT s.doc_id,
                  list_transform(s.sh, x -> ${SQL_H32("x")}) AS shh
                FROM shingled s JOIN members m ON s.doc_id = m.doc_id
                WHERE len(s.sh) > 0),
              sig AS (SELECT doc_id,
                  ${(0 until 16).map(j => s"${SQL_MINHASH(j)} AS mh$j")
                    .mkString(", ")}
                FROM hashed),
              cmp AS (SELECT jp.d1, jp.d2, jp.inter_sz, jp.union_sz,
                  ${(0 until 16).map(j =>
                    s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
                    .mkString(" + ")} AS matches
                FROM jp JOIN sig a ON jp.d1 = a.doc_id
                  JOIN sig b ON jp.d2 = b.doc_id)
              SELECT d1 AS doc1, d2 AS doc2,
                CAST(matches AS BIGINT) AS matches,
                CAST(matches AS DOUBLE) / 16.0 AS est_jaccard,
                CAST(inter_sz AS DOUBLE) / CAST(union_sz AS DOUBLE)
                  AS exact_jaccard,
                abs(CAST(matches AS DOUBLE) / 16.0
                  - CAST(inter_sz AS DOUBLE) / CAST(union_sz AS DOUBLE))
                  AS abs_err
              FROM cmp""")
    ),

    // ── SYSTEMATIC PPS SAMPLE (size-weighted corpus subsetting) ───────────
    QueryDef(
      "q265_pps_sample",
      // Probability-proportional-to-size systematic sampling — the
      // survey-statistics workhorse (Madow 1949) a corpus builder uses
      // to draw a char-budget-faithful subset: walk the cumulative
      // n_chars line in doc_id order and take a doc every W/k chars, so
      // a doc's selection count is proportional to its size, EXACTLY
      // and deterministically — no RNG, no transcendental key (the
      // Efraimidis-Spirakis u^(1/w) trick would hinge on cross-engine
      // ln/pow bit-equality). A doc is picked with multiplicity
      // floor(k·ci/W) − floor(k·ce/W), ci/ce its inclusive/exclusive
      // char prefix — pure BIGINT arithmetic both engines compute
      // identically.
      //
      // Shape, and why it scales: the char prefix line comes from
      // [[Shared.distributedPrefixSum]] (bucketed parallel windows +
      // one model-sized offset window — never a corpus-sized
      // single-partition sort); the k/W scalars are one driver-probed
      // aggregate (the q218 idiom); selection is a stateless projected
      // filter. Output is ≤ k rows by construction.
      (s, d) => {
        val k = 50L
        val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        val w = docs.agg(sum(col("n_chars"))).head.getLong(0)
        val pre = Shared.distributedPrefixSum(docs, "doc_id", "n_chars")
        pre
          .select(col("doc_id"), col("n_chars"),
            expr(s"(${k}L * (cum + n_chars)) div ${w}L").as("fi"),
            expr(s"(${k}L * cum) div ${w}L").as("fe"))
          .filter(col("fi") > col("fe"))
          .select(col("doc_id"), col("n_chars"),
            (col("fi") - col("fe")).as("multiplicity"))
      },
      Some("""WITH docs AS (SELECT doc_id, n_chars FROM documents),
              w AS (SELECT sum(n_chars) AS w FROM docs),
              pre AS (SELECT doc_id, n_chars,
                  coalesce(sum(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                FROM docs),
              sel AS (SELECT doc_id, n_chars,
                  CAST(50 * (cum + n_chars) AS BIGINT) // w AS fi,
                  CAST(50 * cum AS BIGINT) // w AS fe
                FROM pre CROSS JOIN w)
              SELECT doc_id, n_chars,
                CAST(fi - fe AS BIGINT) AS multiplicity
              FROM sel WHERE fi > fe""")
    ),

    // ── CLASSIFIER F1 REPORT (fixed-threshold confusion matrix) ───────────
    QueryDef(
      "q266_f1_report",
      // The fourth leg of the classifier-eval family (q188 scores, q202
      // lift, q249 AUC): the operating-point report — confusion matrix
      // at the model's decision threshold (score > 0) on the HELD-OUT
      // half (odd doc_ids; training used the even half), plus
      // precision / recall / F1 / accuracy. Counts are exact BIGINTs;
      // each ratio is ONE pinned double division (nullif-guarded), so
      // the single output row hash-matches.
      //
      // Shape, and why it scales: reads the memoized [[nbScores]] doc-
      // grain table (built once per process, shared with q188/q202/
      // q249) — this query itself is one projected scan + one scalar
      // aggregation, no joins, no windows.
      (s, d) => {
        val ho = nbScores(s, d).filter(col("doc_id") % 2 === 1)
        ho.agg(
            sum(when(col("y") === 1 && col("pred") === 1, 1L).otherwise(0L))
              .as("tp"),
            sum(when(col("y") === 0 && col("pred") === 1, 1L).otherwise(0L))
              .as("fp"),
            sum(when(col("y") === 1 && col("pred") === 0, 1L).otherwise(0L))
              .as("fn"),
            sum(when(col("y") === 0 && col("pred") === 0, 1L).otherwise(0L))
              .as("tn"))
          .select(col("tp"), col("fp"), col("fn"), col("tn"),
            expr("CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)")
              .as("prec"),
            expr("CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0)")
              .as("rec"),
            expr("CAST(2 * tp AS DOUBLE) / " +
              "nullif(CAST(2 * tp + fp + fn AS DOUBLE), 0.0)").as("f1"),
            expr("CAST(tp + tn AS DOUBLE) / " +
              "CAST(tp + fp + fn + tn AS DOUBLE)").as("acc"))
      },
      Some(s"""WITH base AS ($nbScoreSql),
              ho AS (SELECT * FROM base WHERE doc_id % 2 = 1),
              cm AS (SELECT
                  sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS tp,
                  sum(CASE WHEN y = 0 AND pred = 1 THEN 1 ELSE 0 END) AS fp,
                  sum(CASE WHEN y = 1 AND pred = 0 THEN 1 ELSE 0 END) AS fn,
                  sum(CASE WHEN y = 0 AND pred = 0 THEN 1 ELSE 0 END) AS tn
                FROM ho)
              SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
                CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)
                  AS prec,
                CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0)
                  AS rec,
                CAST(2 * tp AS DOUBLE) /
                  nullif(CAST(2 * tp + fp + fn AS DOUBLE), 0.0) AS f1,
                CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
                  AS acc
              FROM cm""")
    ),

    // ── HASH BOOTSTRAP CONFIDENCE INTERVAL (uncertainty quantification) ───
    QueryDef(
      "q268_bootstrap_ci",
      // The resampling answer to "how sure are we about this corpus
      // statistic": a 200-replicate bootstrap CI for the mean document
      // length. Randomness is the DETERMINISTIC shared digest — sample
      // i of replicate r draws doc index h32(global_id) mod N — so both
      // engines materialize the IDENTICAL resample and the interval is
      // bit-reproducible run-to-run (the property an auditable pipeline
      // needs from its error bars; no RNG state, no seed plumbing).
      // Percentile endpoints use the exact order statistics (5th and
      // 195th of 200 replicate means) via sort-limit on the model-sized
      // means table, ties broken by replicate id.
      //
      // Shape, and why it scales: the resample spine is a range() ×
      // keyed equi-join against the doc table (never a driver loop);
      // replicate means are one hash aggregation to R rows; the
      // endpoint probes run on that R-row table (the q218 scalar
      // idiom). R is a constant — total cost is R·N join rows, linear
      // in the corpus.
      (s, d) => {
        val reps = 200L
        val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        val n = docs.count()
        val spine = s.range(reps * n).select(
          expr(s"id div ${n}L").as("rep"),
          (Shared.h32(col("id").cast("string")) % lit(n)).as("idx"))
        val means = spine.join(docs, spine("idx") === docs("doc_id"))
          .groupBy("rep")
          .agg(sum(col("n_chars")).as("sc"), count(lit(1)).as("cnt"))
          .select(col("rep"),
            (col("sc").cast("double") / col("cnt").cast("double")).as("m"))
        val lo = means.orderBy(col("m").asc, col("rep").asc).limit(5)
          .agg(max(col("m"))).head.getDouble(0)
        val hi = means.orderBy(col("m").desc, col("rep").asc).limit(6)
          .agg(min(col("m"))).head.getDouble(0)
        docs.agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("schars"))
          .select(col("n_docs"), lit(reps).as("n_reps"),
            (col("schars").cast("double") / col("n_docs").cast("double"))
              .as("mean_chars"),
            lit(lo).as("ci_lo"), lit(hi).as("ci_hi"))
      },
      Some(s"""WITH docs AS (SELECT doc_id, n_chars FROM documents),
              nn AS (SELECT count(*) AS n FROM docs),
              idx0 AS (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS i
                FROM docs),
              spine AS (SELECT rr.rep,
                  ${SQL_H32("CAST(rr.rep * nn.n + idx0.i AS VARCHAR)")}
                    % nn.n AS idx
                FROM range(0, 200) rr(rep) CROSS JOIN nn CROSS JOIN idx0),
              means AS (SELECT rep,
                  CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
                FROM spine JOIN docs ON idx = doc_id GROUP BY rep),
              lo AS (SELECT max(m) AS lo FROM
                (SELECT m FROM means ORDER BY m, rep LIMIT 5)),
              hi AS (SELECT min(m) AS hi FROM
                (SELECT m FROM means ORDER BY m DESC, rep LIMIT 6))
              SELECT CAST(n AS BIGINT) AS n_docs,
                CAST(200 AS BIGINT) AS n_reps,
                (SELECT CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  FROM docs) AS mean_chars,
                lo AS ci_lo, hi AS ci_hi
              FROM nn CROSS JOIN lo CROSS JOIN hi""")
    ),

    // ── TOKENIZER FERTILITY BY LANGUAGE (multilingual tokenizer audit) ────
    QueryDef(
      "q271_fertility",
      // The tokenizer-equity metric from the multilingual-NLP
      // literature: FERTILITY = subword tokens per word, per language,
      // under the q171-learned BPE model. A tokenizer trained on a
      // skewed mix quietly taxes under-represented languages with more
      // tokens per word — this is the audit that catches it, plus the
      // compression view (chars per token). The learned merge list
      // ([[bpeLearnMerges]], memoized model parameters) replays over
      // the per-(lang, word) vocabulary as the same chained-replace
      // projection q175 uses; counts are exact BIGINTs, the two ratios
      // pinned double divisions.
      //
      // Shape, and why it scales: one corpus scan to (lang, word)
      // counts (vocabulary-bounded, not corpus-bounded); the 50-merge
      // replay is a stateless codegen'd projection over that grain; one
      // lang-keyed aggregation. The oracle re-derives each word from
      // the merged symbol string (sym0 wraps every char, so stripping
      // parens inverts it) and replays the identical merge table.
      (s, d) => {
        val merged = bpeMergedSymsCol(bpeLearnMerges(s, d))
        val lw = Tables.documents(s, d)
          .select(col("lang"), explode(tokens(col("text"))).as("word"))
          .filter(col("word").rlike("^[A-Za-z0-9]+$"))
          .groupBy("lang", "word").agg(count(lit(1)).as("wcnt"))
          .select(col("lang"), col("wcnt"),
            length(col("word")).as("wlen"),
            regexp_replace(col("word"), "(.)", "($1)").as("sym0"))
        lw.select(col("lang"), col("wcnt"), col("wlen"),
            size(merged).as("ntok"))
          .groupBy("lang").agg(
            sum(col("wcnt")).cast("long").as("n_words"),
            sum(col("wcnt") * col("wlen")).cast("long").as("n_chars"),
            sum(col("wcnt") * col("ntok")).cast("long").as("n_tokens"))
          .select(col("lang"), col("n_words"), col("n_tokens"),
            (col("n_tokens").cast("double") / col("n_words").cast("double"))
              .as("fertility"),
            (col("n_chars").cast("double") / col("n_tokens").cast("double"))
              .as("chars_per_token"))
      },
      Some(s"""${bpeRoundsSql(BpeMerges)},
              wtok AS (SELECT replace(replace(sym, '(', ''), ')', '')
                    AS word,
                  len(str_split(sym[2:length(sym)-1], ')(')) AS ntok
                FROM w$BpeMerges),
              tokk AS (SELECT lang, $SQL_TOKENS AS t FROM documents),
              lw AS (SELECT lang, word, count(*) AS wcnt
                FROM (SELECT lang, unnest(t) AS word FROM tokk)
                WHERE regexp_full_match(word, '[A-Za-z0-9]+')
                GROUP BY 1, 2)
              SELECT lang,
                CAST(sum(wcnt) AS BIGINT) AS n_words,
                CAST(sum(wcnt * ntok) AS BIGINT) AS n_tokens,
                CAST(sum(wcnt * ntok) AS DOUBLE) / CAST(sum(wcnt) AS DOUBLE)
                  AS fertility,
                CAST(sum(wcnt * length(word)) AS DOUBLE) /
                  CAST(sum(wcnt * ntok) AS DOUBLE) AS chars_per_token
              FROM lw JOIN wtok USING (word)
              GROUP BY lang""")
    ),

    // ── RAKE KEYWORD EXTRACTION (stopword-delimited phrase mining) ────────
    QueryDef(
      "q286_rake_keywords",
      // The classic unsupervised keyword extractor (Rose et al. 2010):
      // candidate phrases are maximal stopword-free token runs (found
      // with the gaps-and-islands trick — run id = position minus the
      // non-stop row number, a doc-partitioned window), capped at 3
      // tokens per RAKE practice; each word scores degree/frequency
      // (degree = Σ lengths of the runs it appears in) as an exact ppm
      // integer division, and a phrase scores the SUM of its word
      // scores — pure BIGINT end to end, so the top-10 ranking ties out
      // exactly. Stop list: the corpus's function words ('the', 'a').
      //
      // Shape, and why it scales: one corpus scan to positioned tokens;
      // islands via doc-partitioned windows (never global); word scores
      // are a vocabulary-bounded aggregation re-attached by broadcast;
      // output is 10 rows.
      (s, d) => Shared.withCheckpointDir(s) {
        val stop = Seq("the", "a")
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(tokens(col("text"))))
          .select(col("doc_id"), col("pos").as("p"), col("col").as("w"))
        val runs = tok.filter(!col("w").isInCollection(stop))
          .withColumn("rn", row_number().over(
            Window.partitionBy("doc_id").orderBy("p")))
          .withColumn("grp", col("p") - col("rn"))
        val runLen = runs.groupBy("doc_id", "grp")
          .agg(count(lit(1)).as("len"))
          .filter(col("len") <= 3)
        // three consumers (word scores, phrase strings, phrase scores) —
        // checkpoint the capped-run membership so the corpus
        // tokenize+window pipeline runs once, not once per consumer
        val members = runs.join(runLen, Seq("doc_id", "grp")).checkpoint()
        val wscore = members.groupBy("w")
          .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
          .withColumn("wscore", expr("deg * 1000000L div freq"))
        val phrases = members
          .groupBy("doc_id", "grp")
          .agg(concat_ws(" ", transform(
            sort_array(collect_list(struct(col("p"), col("w")))),
            e => e.getField("w"))).as("phrase"))
        val scored = members.join(broadcast(wscore.select("w", "wscore")), "w")
          .groupBy("doc_id", "grp")
          .agg(sum(col("wscore")).as("score"))
        phrases.join(scored, Seq("doc_id", "grp"))
          .groupBy("phrase", "score")
          .agg(count(lit(1)).as("n_occurrences"))
          .orderBy(col("score").desc, col("phrase").asc)
          .limit(10)
          .select("phrase", "n_occurrences", "score")
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($SQL_TOKENS) AS w,
                  generate_subscripts($SQL_TOKENS, 1) AS p
                FROM documents),
              runs AS (SELECT doc_id, p, w,
                  p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
                    AS grp
                FROM tok WHERE w NOT IN ('the', 'a')),
              runlen AS (SELECT doc_id, grp, count(*) AS len
                FROM runs GROUP BY 1, 2 HAVING count(*) <= 3),
              members AS (SELECT r.doc_id, r.grp, r.p, r.w, len
                FROM runs r JOIN runlen USING (doc_id, grp)),
              wscore AS (SELECT w,
                  sum(len) * 1000000 // count(*) AS wscore
                FROM members GROUP BY 1),
              phrases AS (SELECT doc_id, grp,
                  string_agg(w, ' ' ORDER BY p) AS phrase
                FROM members GROUP BY 1, 2),
              scored AS (SELECT doc_id, grp,
                  CAST(sum(wscore) AS BIGINT) AS score
                FROM members JOIN wscore USING (w) GROUP BY 1, 2)
              SELECT phrase, count(*) AS n_occurrences, score
              FROM phrases JOIN scored USING (doc_id, grp)
              GROUP BY 1, 3
              ORDER BY score DESC, phrase LIMIT 10""")
    ),

    // ── DPO PAIR MINING (preference-pair construction accounting) ─────────
    QueryDef(
      "q289_dpo_pairs",
      // The RLHF-era data op: build (chosen, rejected) preference pairs
      // from a scored corpus under MAX-MARGIN pairing — i-th best
      // positive with i-th worst negative — and account for the margin
      // budget that pairing yields. The trick that keeps it 100 TB-
      // shaped: the pair LIST is never materialized. Both sides reduce
      // to score-grain step functions (distinct score → count), and the
      // top-P/bottom-P sums come from exclusive prefix sums with a
      // clamped partial take at the boundary grain — so the exact
      // total and mean margin of all P pairs emerge from two
      // domain-bounded prefix-sum passes. Scores/labels are the
      // memoized [[nbScores]] table (zero new corpus scans).
      //
      // Shape, and why it scales: grain tables bounded by the ppm score
      // domain; [[Shared.distributedPrefixSum]] twice (bucketed
      // windows); P and the totals are driver-probed scalars; output is
      // 1 row.
      (s, d) => Shared.withCheckpointDir(s) {
        val g = nbScores(s, d)
          .groupBy(col("score_ppm").as("sv"))
          .agg(sum(when(col("y") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("y") === 0, 1L).otherwise(0L)).as("n0"))
          .withColumn("sk",
            when(abs(col("sv")) >= lit(1L << 30),
              raise_error(concat(lit("q289: |score| breaks the shift " +
                "bound: "), col("sv"))))
              .otherwise(col("sv") + lit(1L << 31)))
          .checkpoint()
        val tot = g.agg(sum(col("n1")), sum(col("n0"))).head
        val (t1, t0) = (tot.getLong(0), tot.getLong(1))
        val p = math.min(t1, t0)
        // chosen side: top-P by score desc → rank by DESCENDING key
        val ch = Shared.distributedPrefixSum(
            g.filter(col("n1") > 0)
              .select((lit(2L * (1L << 31)) - col("sk")).as("dk"),
                col("sv"), col("n1")),
            "dk", "n1", bucket = 1L << 16)
          .select(col("sv"), col("n1"), col("cum"))
          .agg(sum(col("sv") *
            greatest(lit(0L), least(col("n1"), lit(p) - col("cum"))))
            .as("sum_chosen"))
        // rejected side: bottom-P by score asc → rank by ASCENDING key
        val rj = Shared.distributedPrefixSum(
            g.filter(col("n0") > 0).select(col("sk"), col("sv"), col("n0")),
            "sk", "n0", bucket = 1L << 16)
          .agg(sum(col("sv") *
            greatest(lit(0L), least(col("n0"), lit(p) - col("cum"))))
            .as("sum_rejected"))
        ch.crossJoin(broadcast(rj))
          .select(lit(t1).as("n_chosen"), lit(t0).as("n_rejected"),
            lit(p).as("n_pairs"),
            (col("sum_chosen") - col("sum_rejected")).as("sum_margin_ppm"),
            expr(s"CAST(sum_chosen - sum_rejected AS DOUBLE) / " +
              s"nullif(CAST(${p}L AS DOUBLE), 0.0D)").as("mean_margin_ppm"))
      },
      Some(s"""WITH base AS ($nbScoreSql),
              g AS (SELECT score_ppm AS sv,
                  sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS n1,
                  sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS n0
                FROM base GROUP BY 1),
              tot AS (SELECT sum(n1) AS t1, sum(n0) AS t0,
                  least(sum(n1), sum(n0)) AS p
                FROM g),
              ch AS (SELECT coalesce(sum(sv * greatest(0,
                    least(n1, p - cum))), 0) AS sum_chosen
                FROM (SELECT sv, n1,
                    coalesce(sum(n1) OVER (ORDER BY sv DESC ROWS BETWEEN
                      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                  FROM g WHERE n1 > 0) CROSS JOIN tot),
              rj AS (SELECT coalesce(sum(sv * greatest(0,
                    least(n0, p - cum))), 0) AS sum_rejected
                FROM (SELECT sv, n0,
                    coalesce(sum(n0) OVER (ORDER BY sv ASC ROWS BETWEEN
                      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                  FROM g WHERE n0 > 0) CROSS JOIN tot)
              SELECT CAST(t1 AS BIGINT) AS n_chosen,
                CAST(t0 AS BIGINT) AS n_rejected,
                CAST(p AS BIGINT) AS n_pairs,
                CAST(sum_chosen - sum_rejected AS BIGINT) AS sum_margin_ppm,
                CAST(sum_chosen - sum_rejected AS DOUBLE) /
                  nullif(CAST(p AS DOUBLE), 0.0) AS mean_margin_ppm
              FROM ch CROSS JOIN rj CROSS JOIN tot""")
    ),

    // ── SFT LOSS-MASK ACCOUNTING (chat-template token budgeting) ──────────
    QueryDef(
      "q290_sft_mask_accounting",
      // The supervised-fine-tuning counterpart to q181's pretraining
      // packing: conversations are templated (role tag + content + end
      // tag per turn, 3 overhead tokens each) and the loss applies ONLY
      // to assistant turns — so the numbers a trainer budgets with are
      // loss tokens vs masked tokens, not raw tokens. Conversations
      // here are the deterministic grouping doc_id div 4 within source
      // (≤4 turns), roles alternating by doc_id parity — which makes
      // role assignment a pure PROJECTION, no window, no ordering
      // anywhere. Reported per source: conversations, turns, total
      // templated tokens, loss tokens, and the loss fraction every SFT
      // run multiplies its step budget by.
      //
      // Shape, and why it scales: one corpus scan, stateless role/cost
      // projection, one source-grain aggregation; output is
      // source-bounded.
      (s, d) => {
        val t = Tables.documents(s, d).select(col("source"),
          expr("doc_id div 4").as("conv"),
          (size(tokens(col("text"))).cast("long") + 3L).as("turn_tokens"),
          (col("doc_id") % 2 === 1).as("is_assistant"))
        t.groupBy("source").agg(
            countDistinct(col("conv")).as("n_conversations"),
            count(lit(1)).as("n_turns"),
            sum(col("turn_tokens")).as("total_tokens"),
            sum(when(col("is_assistant"), col("turn_tokens")).otherwise(0L))
              .as("loss_tokens"))
          .select(col("source"), col("n_conversations"), col("n_turns"),
            col("total_tokens"), col("loss_tokens"),
            (col("loss_tokens").cast("double") /
              col("total_tokens").cast("double")).as("loss_fraction"))
      },
      Some(s"""WITH t AS (SELECT source, doc_id // 4 AS conv,
                  len($SQL_TOKENS) + 3 AS turn_tokens,
                  doc_id % 2 = 1 AS is_assistant
                FROM documents)
              SELECT source,
                count(DISTINCT conv) AS n_conversations,
                count(*) AS n_turns,
                CAST(sum(turn_tokens) AS BIGINT) AS total_tokens,
                CAST(sum(CASE WHEN is_assistant THEN turn_tokens ELSE 0 END)
                  AS BIGINT) AS loss_tokens,
                CAST(sum(CASE WHEN is_assistant THEN turn_tokens ELSE 0 END)
                  AS DOUBLE) / CAST(sum(turn_tokens) AS DOUBLE)
                  AS loss_fraction
              FROM t GROUP BY 1""")
    ),

    // ── DSIR IMPORTANCE RESAMPLING (target-domain data selection) ─────────
    QueryDef(
      "q291_dsir_resample",
      // The data-selection method behind several modern pretraining
      // mixes (hashed n-gram importance resampling, Xie et al.): weight
      // every document by how much more likely its features are under a
      // TARGET domain model than under the general source model, then
      // keep the top of the distribution. Both models are
      // hashed-bigram count tables (the q188 fastText trick — bucket
      // count fixed at NbBuckets, broadcastable at any corpus size);
      // the log-ratio is the q188 additive ppm proxy (exact integer
      // division, engine-identical); selection is exact top-1000 by
      // (weight desc, doc_id). Target = src0; output = where the
      // selected mass comes from — the composition shift the method
      // exists to produce.
      //
      // Shape, and why it scales: bigrams come from the memoized
      // [[bigramTable]] (no new corpus scan); the two models are
      // bucket-grain aggregations attached back as broadcasts; doc
      // weights are one keyed aggregation; top-k is a distributed
      // TakeOrdered, never a global window.
      (s, d) => {
        val (bg0, _) = bigramTable(s, d)
        val bg = bg0.filter(col("w1").isNotNull)
          .select(col("doc_id"), col("source"),
            (h32(concat(col("w1"), lit(" "), col("w2"))) % NbBuckets)
              .as("b"))
        val tgt = bg.filter(col("source") === "src0")
        val src = bg.filter(col("source") =!= "src0")
        val tTot = tgt.count()
        val sTot = src.count()
        val tm = tgt.groupBy("b").agg(count(lit(1)).as("ct"))
        val sm = src.groupBy("b").agg(count(lit(1)).as("cs"))
        val w = bg
          .join(broadcast(tm), Seq("b"), "left")
          .join(broadcast(sm), Seq("b"), "left")
          .withColumn("wt", expr(
            s"""(1000000 * (coalesce(ct, CAST(0 AS BIGINT)) + 1))
                div (${tTot}L + $NbBuckets)
              - (1000000 * (coalesce(cs, CAST(0 AS BIGINT)) + 1))
                div (${sTot}L + $NbBuckets)"""))
          .groupBy("doc_id", "source")
          .agg(sum(col("wt")).as("wppm"))
        w.orderBy(col("wppm").desc, col("doc_id").asc).limit(1000)
          .groupBy("source")
          .agg(count(lit(1)).as("n_selected"),
            sum(col("wppm")).as("sum_weight_ppm"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, source, $SQL_TOKENS AS t
                FROM documents),
              bg AS (SELECT doc_id, source,
                  ${SQL_H32("t[p] || ' ' || t[p+1]")} % $NbBuckets AS b
                FROM (SELECT doc_id, source, t,
                    unnest(generate_series(1, len(t) - 1)) AS p
                  FROM tok WHERE len(t) >= 2)),
              tt AS (SELECT count(*) AS t_tot FROM bg WHERE source = 'src0'),
              ts AS (SELECT count(*) AS s_tot FROM bg WHERE source <> 'src0'),
              tm AS (SELECT b, count(*) AS ct FROM bg WHERE source = 'src0'
                GROUP BY 1),
              sm AS (SELECT b, count(*) AS cs FROM bg WHERE source <> 'src0'
                GROUP BY 1),
              w AS (SELECT bg.doc_id, bg.source,
                  CAST(sum((1000000 * (coalesce(ct, 0) + 1))
                      // (t_tot + $NbBuckets)
                    - (1000000 * (coalesce(cs, 0) + 1))
                      // (s_tot + $NbBuckets)) AS BIGINT) AS wppm
                FROM bg LEFT JOIN tm USING (b) LEFT JOIN sm USING (b)
                  CROSS JOIN tt CROSS JOIN ts
                GROUP BY 1, 2),
              sel AS (SELECT doc_id, source, wppm FROM w
                ORDER BY wppm DESC, doc_id LIMIT 1000)
              SELECT source, count(*) AS n_selected,
                CAST(sum(wppm) AS BIGINT) AS sum_weight_ppm
              FROM sel GROUP BY 1""")
    ),

    // ── SHARD BALANCE AUDIT (hash vs size-aware sharding) ─────────────────
    QueryDef(
      "q293_shard_balance",
      // The layout decision behind every materialized corpus: 8 output
      // shards by HASH (placement-free, but byte-blind) vs by the
      // SIZE-AWARE systematic walk (q265's arithmetic: shard = floor(
      // 8·prefix/W) — contiguous AND byte-balanced by construction).
      // Reported per strategy: exact max/min shard bytes and the spread
      // as ppm of total — the number that decides whether stragglers
      // eat the write stage.
      //
      // Shape, and why it scales: hash side is one 8-group aggregation;
      // size-aware side rides [[Shared.distributedPrefixSum]] over the
      // doc-grain byte line; both fold to 1-row summaries; output is
      // 2 rows.
      (s, d) => Shared.withCheckpointDir(s) {
        val docs = Tables.documents(s, d).select(col("doc_id"),
          col("n_chars").cast("long").as("nb"))
        val wTot = docs.agg(sum(col("nb"))).head.getLong(0)
        def summarize(tag: String, byShard: DataFrame) =
          byShard.groupBy("shard").agg(sum(col("nb")).as("bytes"))
            .agg(lit(tag).as("strategy"), count(lit(1)).as("n_shards"),
              max(col("bytes")).as("max_bytes"),
              min(col("bytes")).as("min_bytes"))
            .withColumn("spread_ppm",
              expr(s"(max_bytes - min_bytes) * 1000000L div ${wTot}L"))
        val hash = docs.withColumn("shard",
          h32(col("doc_id").cast("string")) % 8)
        val sized = Shared.distributedPrefixSum(docs, "doc_id", "nb")
          .withColumn("shard", expr(s"(8L * cum) div ${wTot}L"))
        summarize("hash", hash).unionAll(summarize("size_aware", sized))
      },
      Some(s"""WITH docs AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS nb
                FROM documents),
              w AS (SELECT sum(nb) AS wt FROM docs),
              h AS (SELECT ${SQL_H32("CAST(doc_id AS VARCHAR)")} % 8
                    AS shard, nb
                FROM docs),
              hs AS (SELECT shard, sum(nb) AS bytes FROM h GROUP BY 1),
              pre AS (SELECT doc_id, nb,
                  coalesce(sum(nb) OVER (ORDER BY doc_id ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                FROM docs),
              sz AS (SELECT CAST(8 * cum AS BIGINT) // wt AS shard, nb
                FROM pre CROSS JOIN w),
              ss AS (SELECT shard, sum(nb) AS bytes FROM sz GROUP BY 1)
              SELECT 'hash' AS strategy,
                CAST(count(*) AS BIGINT) AS n_shards,
                CAST(max(bytes) AS BIGINT) AS max_bytes,
                CAST(min(bytes) AS BIGINT) AS min_bytes,
                CAST((max(bytes) - min(bytes)) * 1000000
                  // (SELECT wt FROM w) AS BIGINT) AS spread_ppm
              FROM hs
              UNION ALL
              SELECT 'size_aware', CAST(count(*) AS BIGINT),
                CAST(max(bytes) AS BIGINT), CAST(min(bytes) AS BIGINT),
                CAST((max(bytes) - min(bytes)) * 1000000
                  // (SELECT wt FROM w) AS BIGINT)
              FROM ss""")
    ),

    // ── OOV CURVE (vocabulary-size sweep) ─────────────────────────────────
    QueryDef(
      "q294_oov_curve",
      // The tokenizer-sizing input next to q211's vocabulary-growth
      // curve: at vocabulary budget V (top-V tokens by frequency), what
      // fraction of token OCCURRENCES falls out-of-vocabulary? Ranks
      // come from a vocabulary-bounded COUNT self-join (rank = 1 +
      // tokens strictly ahead in the (count desc, token asc) total
      // order) — no window at all, and the join is vocab², not
      // corpus-sized. OOV rates are exact ppm integer divisions.
      //
      // Shape, and why it scales: one corpus scan to token counts
      // (vocab-bounded), a vocab² broadcast self-join for ranks, a
      // 3-budget conditional fold; output is 3 rows.
      (s, d) => {
        val cnt = Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val ahead = cnt.select(col("w").as("w2"), col("c").as("c2"))
        val ranked = cnt.join(broadcast(ahead),
            col("c2") > col("c") ||
              (col("c2") === col("c") && col("w2") < col("w")), "left")
          .groupBy("w", "c")
          .agg((count(col("w2")) + 1L).as("rank"))
        val tot = cnt.agg(sum(col("c"))).head.getLong(0)
        val budgets = Seq(8, 16, 24)
        val aggs = budgets.map(v =>
          sum(when(col("rank") <= v, col("c")).otherwise(0L))
            .as(s"cov$v"))
        ranked.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(budgets.map(v =>
            struct(lit(v.toLong).as("vocab_budget"),
              expr(s"(${tot}L - cov$v) * 1000000L div ${tot}L")
                .as("oov_ppm"))): _*)).as("e"))
          .select(col("e.vocab_budget").as("vocab_budget"),
            col("e.oov_ppm").as("oov_ppm"))
      },
      Some(s"""WITH tok AS (SELECT unnest($SQL_TOKENS) AS w FROM documents),
              cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
              tot AS (SELECT sum(c) AS t FROM cnt),
              ranked AS (SELECT a.w, a.c, 1 + count(b.w) AS rank
                FROM cnt a LEFT JOIN cnt b
                  ON b.c > a.c OR (b.c = a.c AND b.w < a.w)
                GROUP BY 1, 2),
              cov AS (SELECT
                  sum(CASE WHEN rank <= 8 THEN c ELSE 0 END) AS cov8,
                  sum(CASE WHEN rank <= 16 THEN c ELSE 0 END) AS cov16,
                  sum(CASE WHEN rank <= 24 THEN c ELSE 0 END) AS cov24
                FROM ranked)
              SELECT CAST(8 AS BIGINT) AS vocab_budget,
                CAST((t - cov8) * 1000000 // t AS BIGINT) AS oov_ppm
              FROM cov CROSS JOIN tot
              UNION ALL SELECT 16, CAST((t - cov16) * 1000000 // t AS BIGINT)
              FROM cov CROSS JOIN tot
              UNION ALL SELECT 24, CAST((t - cov24) * 1000000 // t AS BIGINT)
              FROM cov CROSS JOIN tot""")
    ),

    // ── IN-BATCH FALSE-NEGATIVE HYGIENE (contrastive training batches) ────
    QueryDef(
      "q292_inbatch_negatives",
      // The contrastive-training trap q217 guards splits against, at
      // BATCH granularity: in-batch negatives are only valid if the
      // batch holds no near-duplicates of the anchor — a near-dup in
      // the same batch is a FALSE negative that actively teaches the
      // model to separate the same content. Audited here: naive hash
      // batching (batch = h32(doc) mod B, size ≈ 32) vs dedup-first
      // batching (only each near-dup cluster's canonical min-doc
      // representative is batched). Collision counts come from the
      // memoized near-dup pair list; the dedup-first count is PROVED 0
      // by the oracle compare, not assumed.
      //
      // Shape, and why it scales: pairs and components ride the
      // existing memo/fixpoint machinery (pair-graph-sized, not
      // corpus-sized); batch assignment is a stateless projection; the
      // audits are keyed joins on the pair list; output is 2 rows.
      (s, d) => {
        val jp = jaccardPrefixPairs(s, d).select("d1", "d2")
        val docs = Tables.documents(s, d).select("doc_id")
        val n = docs.count()
        val nb = math.max(n / 32L, 1L)
        val comps = Shared.minLabelComponents(s,
          docs.select(col("doc_id").as("id")),
          jp.select(col("d1").as("a"), col("d2").as("b")))
        val reps = docs
          .join(comps.select(col("id").as("doc_id"), col("comp")),
            Seq("doc_id"), "left")
          .withColumn("cl", coalesce(col("comp"), col("doc_id")))
          .filter(col("doc_id") === col("cl"))
          .select("doc_id")
        def audit(tag: String, pop: DataFrame) = {
          val asg = pop.withColumn("batch",
            h32(col("doc_id").cast("string")) % nb)
          val coll = jp
            .join(asg.select(col("doc_id").as("d1"), col("batch").as("b1")),
              "d1")
            .join(asg.select(col("doc_id").as("d2"), col("batch").as("b2")),
              "d2")
            .filter(col("b1") === col("b2"))
          val cc = coll.agg(count(lit(1)).as("n_pair_collisions"),
            countDistinct(col("b1")).as("n_contaminated_batches")).head
          (tag, asg.count(), cc.getLong(0), cc.getLong(1))
        }
        val rows = Seq(audit("naive", docs), audit("dedup_first", reps))
        import s.implicits._
        rows.toDF("strategy", "n_docs_batched", "n_pair_collisions",
          "n_contaminated_batches")
      },
      Some(s"""WITH RECURSIVE ${SQL_JPAIR_CTES.stripPrefix("WITH ")},
              docs AS (SELECT doc_id FROM documents),
              nb AS (SELECT greatest(count(*) // 32, 1) AS nb FROM docs),
              wedges AS (SELECT d1 AS a, d2 AS b FROM jp
                         UNION ALL SELECT d2, d1 FROM jp),
              reach AS (SELECT doc_id AS id, doc_id AS r FROM docs
                        UNION
                        SELECT e.b, reach.r FROM reach
                          JOIN wedges e ON e.a = reach.id),
              comp AS (SELECT id AS doc_id, min(r) AS cl
                       FROM reach GROUP BY 1),
              reps AS (SELECT doc_id FROM comp WHERE doc_id = cl),
              na AS (SELECT doc_id,
                  ${SQL_H32("CAST(doc_id AS VARCHAR)")} % nb AS batch
                FROM docs CROSS JOIN nb),
              nc AS (SELECT count(*) AS pc,
                  count(DISTINCT a1.batch) AS cb
                FROM jp JOIN na a1 ON jp.d1 = a1.doc_id
                  JOIN na a2 ON jp.d2 = a2.doc_id
                WHERE a1.batch = a2.batch),
              da AS (SELECT doc_id,
                  ${SQL_H32("CAST(doc_id AS VARCHAR)")} % nb AS batch
                FROM reps CROSS JOIN nb),
              dc AS (SELECT count(*) AS pc,
                  count(DISTINCT a1.batch) AS cb
                FROM jp JOIN da a1 ON jp.d1 = a1.doc_id
                  JOIN da a2 ON jp.d2 = a2.doc_id
                WHERE a1.batch = a2.batch)
              SELECT 'naive' AS strategy,
                (SELECT count(*) FROM docs) AS n_docs_batched,
                CAST(pc AS BIGINT) AS n_pair_collisions,
                CAST(cb AS BIGINT) AS n_contaminated_batches
              FROM nc
              UNION ALL
              SELECT 'dedup_first', (SELECT count(*) FROM reps),
                CAST(pc AS BIGINT), CAST(cb AS BIGINT)
              FROM dc""")
    ),

    // ── DUP-CLUSTER SIZE HISTOGRAM (the dedup power-law readout) ──────────
    QueryDef(
      "q296_cluster_size_histogram",
      // The one-glance answer to "how duplicated is this corpus":
      // near-dup cluster sizes log₂-binned (1, 2, 3-4, 5-8, 9-16, 17+)
      // with cluster and document mass per bin — the heavy-tail
      // readout that decides whether dedup is worth a pipeline stage
      // and how much it will remove. Clusters are the q217/q73
      // transitive closure over the memoized pair graph; singletons
      // count as size-1 clusters.
      //
      // Shape, and why it scales: the component fixpoint runs on the
      // pair graph (orders of magnitude smaller than the corpus);
      // sizes are one label-grain aggregation; binning is a stateless
      // CASE; output is ≤ 6 rows.
      (s, d) => {
        val jp = jaccardPrefixPairs(s, d).select("d1", "d2")
        val docs = Tables.documents(s, d).select("doc_id")
        val comps = Shared.minLabelComponents(s,
          docs.select(col("doc_id").as("id")),
          jp.select(col("d1").as("a"), col("d2").as("b")))
        val sizes = docs
          .join(comps.select(col("id").as("doc_id"), col("comp")),
            Seq("doc_id"), "left")
          .withColumn("cl", coalesce(col("comp"), col("doc_id")))
          .groupBy("cl").agg(count(lit(1)).as("sz"))
        sizes.withColumn("bin",
            when(col("sz") === 1, "1").when(col("sz") === 2, "2")
              .when(col("sz") <= 4, "3-4").when(col("sz") <= 8, "5-8")
              .when(col("sz") <= 16, "9-16").otherwise("17+"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
      },
      Some(s"""WITH RECURSIVE ${SQL_JPAIR_CTES.stripPrefix("WITH ")},
              docs AS (SELECT doc_id FROM documents),
              wedges AS (SELECT d1 AS a, d2 AS b FROM jp
                         UNION ALL SELECT d2, d1 FROM jp),
              reach AS (SELECT doc_id AS id, doc_id AS r FROM docs
                        UNION
                        SELECT e.b, reach.r FROM reach
                          JOIN wedges e ON e.a = reach.id),
              comp AS (SELECT id, min(r) AS cl FROM reach GROUP BY 1),
              sizes AS (SELECT cl, count(*) AS sz FROM comp GROUP BY 1)
              SELECT CASE WHEN sz = 1 THEN '1' WHEN sz = 2 THEN '2'
                  WHEN sz <= 4 THEN '3-4' WHEN sz <= 8 THEN '5-8'
                  WHEN sz <= 16 THEN '9-16' ELSE '17+' END AS bin,
                count(*) AS n_clusters,
                CAST(sum(sz) AS BIGINT) AS n_docs
              FROM sizes GROUP BY 1""")
    ),

    // ── RELEASE FUNNEL (the corpus-release capstone) ──────────────────────
    QueryDef(
      "q300_release_funnel",
      // The number-300 capstone: the five-stage funnel a corpus release
      // actually walks — raw → quality gate (q33's rule) → exact dedup
      // (q30's normalized-md5, keep min doc) → near-dedup (cluster
      // canonical reps over the q212 pair graph, minimum among the
      // stage's survivors) → decontamination (drop the benchmark source
      // and every doc sharing ANY 3-shingle with it, q89/q259's rule) —
      // with doc and char mass at every stage. Every rule is shared
      // VERBATIM with its standalone operator, so the funnel can never
      // drift from the audits it summarizes (the q259 dataset-card
      // contract, extended to the apply path).
      //
      // Shape, and why it scales: stage membership rides as per-row FLAGS
      // on ONE documents lineage (q166's single-scan discipline — the r11
      // form ran five separate driver actions, each re-executing the
      // upstream funnel: ~5 corpus scans at 100 TB; PlanSpec now pins the
      // single scan). Elections are flag-first windows (hash-partitioned
      // by norm hash / cluster — rank 1 lands on the prior stage's best
      // survivor); components and the benchmark shingle set broadcast
      // (pair-graph- and held-out-sized); pairs and shingle sets ride the
      // existing memos; the five (docs, chars) pairs fall out of one
      // conditional aggregation, unpivoted to 5 rows by stack().
      // Decontamination matches on the memoized HASHED shingle universe
      // (the q212/q219 contract) — the same "shares ANY 3-shingle" rule,
      // with h32 collisions mirrored exactly by the oracle.
      (s, d) => {
        val jp = jaccardPrefixPairs(s, d).select("d1", "d2")
        val nodes = jp.select(col("d1").as("id"))
          .union(jp.select(col("d2").as("id"))).distinct()
        val comps = Shared.minLabelComponents(s, nodes,
          jp.select(col("d1").as("a"), col("d2").as("b")))
        val sst = shingleSetTable(s, d)
        val benchG = sst.filter(col("source") === "src0")
          .select("g").distinct()
        val overlap = sst.join(broadcast(benchG), Seq("g"), "left_semi")
          .select("doc_id").distinct().withColumn("ovl", lit(1L))
        val flagged = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
          .withColumn("q",
            length(col("text")).between(100, 400) &&
              length(regexp_replace(col("text"), "[^a-zA-Z]", "")) * 4 >
                length(col("text")) * 3)
          .withColumn("h",
            md5(lower(regexp_replace(col("text"), "\\s+", " "))))
          .drop("text")
          .withColumn("rk_e", row_number().over(Window.partitionBy("h")
            .orderBy(col("q").desc, col("doc_id").asc)))
          .withColumn("e", col("q") && col("rk_e") === 1)
          .join(broadcast(comps.select(col("id").as("doc_id"), col("comp"))),
            Seq("doc_id"), "left")
          .withColumn("cl", coalesce(col("comp"), col("doc_id")))
          .withColumn("rk_n", row_number().over(Window.partitionBy("cl")
            .orderBy(col("e").desc, col("doc_id").asc)))
          .withColumn("n", col("e") && col("rk_n") === 1)
          .join(overlap, Seq("doc_id"), "left")
          .withColumn("f",
            col("n") && col("source") =!= "src0" && col("ovl").isNull)
        def cnt(f: org.apache.spark.sql.Column) =
          sum(when(f, 1L).otherwise(0L))
        def chars(f: org.apache.spark.sql.Column) =
          coalesce(sum(when(f, col("n_chars"))), lit(0L))
        flagged.agg(
            count(lit(1)).as("c1"),
            coalesce(sum(col("n_chars")), lit(0L)).as("s1"),
            cnt(col("q")).as("c2"), chars(col("q")).as("s2"),
            cnt(col("e")).as("c3"), chars(col("e")).as("s3"),
            cnt(col("n")).as("c4"), chars(col("n")).as("s4"),
            cnt(col("f")).as("c5"), chars(col("f")).as("s5"))
          .select(expr("""stack(5,
            '1_raw', c1, s1,
            '2_quality', c2, s2,
            '3_exact_dedup', c3, s3,
            '4_near_dedup', c4, s4,
            '5_decontaminated', c5, s5) AS (stage, n_docs, n_chars)"""))
      },
      Some(s"""WITH RECURSIVE ${SQL_JPAIR_CTES.stripPrefix("WITH ")},
              docs AS (SELECT doc_id, source, n_chars, text FROM documents),
              qual AS (SELECT * FROM docs
                WHERE length(text) BETWEEN 100 AND 400
                  AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 4
                    > length(text) * 3),
              qh AS (SELECT *,
                  md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS h
                FROM qual),
              exact AS (SELECT qh.* FROM qh
                JOIN (SELECT h, min(doc_id) AS mn FROM qh GROUP BY 1) m
                  ON qh.h = m.h AND qh.doc_id = m.mn),
              wedges AS (SELECT d1 AS a, d2 AS b FROM jp
                         UNION ALL SELECT d2, d1 FROM jp),
              reach AS (SELECT doc_id AS id, doc_id AS r FROM docs
                        UNION
                        SELECT e2.b, reach.r FROM reach
                          JOIN wedges e2 ON e2.a = reach.id),
              comp AS (SELECT id, min(r) AS cl FROM reach GROUP BY 1),
              wcl AS (SELECT exact.*, comp.cl FROM exact
                JOIN comp ON exact.doc_id = comp.id),
              near AS (SELECT wcl.* FROM wcl
                JOIN (SELECT cl, min(doc_id) AS mnc FROM wcl GROUP BY 1) m
                  ON wcl.cl = m.cl AND wcl.doc_id = m.mnc),
              shx AS (SELECT e.doc_id, d2.source, e.g
                FROM e JOIN docs d2 ON e.doc_id = d2.doc_id),
              bsh AS (SELECT DISTINCT g FROM shx WHERE source = 'src0'),
              ovl AS (SELECT DISTINCT doc_id FROM shx
                WHERE g IN (SELECT g FROM bsh)),
              decon AS (SELECT * FROM near WHERE source <> 'src0'
                AND doc_id NOT IN (SELECT doc_id FROM ovl))
              SELECT '1_raw' AS stage, count(*) AS n_docs,
                CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS n_chars
              FROM docs
              UNION ALL SELECT '2_quality', count(*),
                CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM qual
              UNION ALL SELECT '3_exact_dedup', count(*),
                CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM exact
              UNION ALL SELECT '4_near_dedup', count(*),
                CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM near
              UNION ALL SELECT '5_decontaminated', count(*),
                CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM decon""")
    ),

    // ── RAKING / IPF (marginal-matched corpus reweighting) ────────────────
    QueryDef(
      "q304_raking",
      // The survey-statistics reweighting (iterative proportional
      // fitting, Deming-Stephan 1940) a corpus builder uses to hit TWO
      // marginal targets at once — here: equal mass per source AND
      // equal mass per language — without destroying the joint
      // structure. Three unrolled scaling rounds (rows → cols → rows,
      // the q254 unrolled-state-machine discipline) in EXACT integer
      // milli-weights: every scale step is (w · target) div marginal —
      // deterministic truncation both engines compute identically, and
      // integer SUMS are order-free where double sums would not be.
      //
      // Shape, and why it scales: the joint table is (sources ×
      // languages)-bounded — a model-sized grain at any corpus scale —
      // and each round is one grain aggregation + one broadcast-back
      // join; weights stay < 2^63 up to ~10⁹-doc corpora (then the
      // same ladder runs in coarser units).
      (s, d) => Shared.withCheckpointDir(s) {
        // the joint grain feeds the totals probe + three scaling rounds,
        // and each round's output feeds a marginal agg AND the next
        // round — checkpoint each (model-sized) stage so the corpus
        // aggregation runs once
        val g = Tables.documents(s, d)
          .groupBy("source", "lang").agg(count(lit(1)).as("n"))
          .checkpoint()
        val t = g.agg(sum(col("n")).cast("long"),
          countDistinct(col("source")), countDistinct(col("lang"))).head
        val (nTot, nSrc, nLang) = (t.getLong(0), t.getLong(1), t.getLong(2))
        val ts = nTot * 1000L / nSrc
        val cl = nTot * 1000L / nLang
        def scaleBy(df: DataFrame, w: String, key: String, target: Long,
            out: String): DataFrame = {
          val m = df.groupBy(key).agg(sum(col(w)).as("__m"))
          df.join(broadcast(m), key)
            .withColumn(out, expr(s"($w * ${target}L) div __m"))
            .drop("__m")
            .checkpoint()
        }
        val w0 = g.withColumn("w0", col("n") * 1000L)
        val w1 = scaleBy(w0, "w0", "source", ts, "w1")
        val w2 = scaleBy(w1, "w1", "lang", cl, "w2")
        val w3 = scaleBy(w2, "w2", "source", ts, "w3")
        w3.select(col("source"), col("lang"), col("n"),
          col("w3").as("w_milli"))
      },
      Some("""WITH g AS (SELECT source, lang, count(*) AS n
                FROM documents GROUP BY 1, 2),
              t AS (SELECT sum(n) AS ntot,
                  count(DISTINCT source) AS ns,
                  count(DISTINCT lang) AS nl
                FROM g),
              tg AS (SELECT ntot * 1000 // ns AS ts,
                  ntot * 1000 // nl AS cl FROM t),
              w0 AS (SELECT source, lang, n, n * 1000 AS w FROM g),
              r0 AS (SELECT source, sum(w) AS m FROM w0 GROUP BY 1),
              w1 AS (SELECT w0.source, lang, n,
                  (w * ts) // m AS w
                FROM w0 JOIN r0 ON w0.source = r0.source CROSS JOIN tg),
              c1 AS (SELECT lang, sum(w) AS m FROM w1 GROUP BY 1),
              w2 AS (SELECT source, w1.lang, n,
                  (w * cl) // m AS w
                FROM w1 JOIN c1 ON w1.lang = c1.lang CROSS JOIN tg),
              r2 AS (SELECT source, sum(w) AS m FROM w2 GROUP BY 1),
              w3 AS (SELECT w2.source, lang, n,
                  (w * ts) // m AS w
                FROM w2 JOIN r2 ON w2.source = r2.source CROSS JOIN tg)
              SELECT source, lang, CAST(n AS BIGINT) AS n,
                CAST(w AS BIGINT) AS w_milli
              FROM w3""")
    ),

    // ── SCORE-BIN RELIABILITY (classifier calibration table) ──────────────
    QueryDef(
      "q308_reliability_bins",
      // The calibration diagnostic between q249's AUC (ranking) and
      // q257's threshold (operating point): binned score vs observed
      // positive rate — a well-calibrated margin should show the
      // positive rate rising monotonically across bins, and the gap
      // between bin score and bin outcome is what Platt/isotonic
      // post-calibration would fix. Bins are clamped fixed-width score
      // bands; every statistic is exact integer arithmetic (rates and
      // means as exact ppm integer divisions — no doubles anywhere).
      //
      // Shape, and why it scales: reads the memoized [[nbScores]] doc
      // grain; one bounded-bin aggregation; output ≤ 10 rows.
      (s, d) => {
        nbScores(s, d)
          .select(col("y"),
            greatest(lit(-5L), least(lit(4L),
              expr("score_ppm div 2000L"))).as("bin"),
            col("score_ppm"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            sum(col("y")).as("n_pos"),
            sum(col("score_ppm")).as("ssum"))
          .select(col("bin"), col("n"), col("n_pos"),
            expr("n_pos * 1000000L div n").as("pos_rate_ppm"),
            expr("ssum div n").as("mean_score_ppm"))
      },
      Some(s"""WITH base AS ($nbScoreSql),
              b AS (SELECT y,
                  greatest(-5, least(4, score_ppm // 2000)) AS bin,
                  score_ppm
                FROM base)
              SELECT bin, count(*) AS n,
                CAST(sum(y) AS BIGINT) AS n_pos,
                CAST(sum(y) * 1000000 // count(*) AS BIGINT)
                  AS pos_rate_ppm,
                CAST(sum(score_ppm) // count(*) AS BIGINT)
                  AS mean_score_ppm
              FROM b GROUP BY 1""")
    ),

    // ── CONTENT-DEFINED CHUNKING (storage-dedup boundary detection) ───────
    QueryDef(
      "q309_cdc_chunking",
      // The chunking strategy behind dedup storage (restic/borgbackup/
      // LBFS): cut where the CONTENT says so — at tokens whose rolling
      // 3-gram hash ≡ 0 mod 16 — so an insertion near a document's head
      // shifts only the chunks it touches, where fixed-width chunking
      // would shift every later boundary (the resync property that
      // makes CDC the storage-dedup default). Chunk ids are per-token
      // prefix sums of the cut flags computed ARRAY-NATIVELY inside
      // each document row (bounded by doc length — no window, no
      // shuffle); chunk identity is the md5 of the space-joined tokens.
      //
      // Shape, and why it scales: cut detection + chunk assignment are
      // one codegen'd projection per doc; the only shuffle is the
      // (doc, chunk) regroup and the distinct-hash count; output is
      // 1 row.
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 1)
          .withColumn("cuts", expr("""transform(sequence(1, size(t)),
            q -> CASE WHEN q <= size(t) - 2 AND
              CAST(conv(substring(md5(element_at(t, q) || ' ' ||
                element_at(t, q + 1) || ' ' || element_at(t, q + 2)),
                1, 8), 16, 10) AS BIGINT) % 16 = 0
              THEN 1 ELSE 0 END)"""))
          .withColumn("e", expr("""explode(transform(sequence(1, size(t)),
            p -> struct(p AS p, element_at(t, p) AS w,
              aggregate(slice(cuts, 1, p), 0, (a, x) -> a + x) AS c)))"""))
          .select(col("doc_id"), col("e.p").as("p"), col("e.w").as("w"),
            col("e.c").as("c"))
        val chunks = base.groupBy("doc_id", "c")
          .agg(count(lit(1)).as("len"),
            md5(concat_ws(" ", transform(
              sort_array(collect_list(struct(col("p"), col("w")))),
              e => e.getField("w")))).as("h"))
        chunks.agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("h")).as("n_distinct_chunks"),
            sum(col("len")).as("n_tokens"),
            max(col("len")).as("max_chunk_tokens"))
          .select(col("n_chunks"), col("n_distinct_chunks"),
            expr("""(n_chunks - n_distinct_chunks) * 1000000L
              div n_chunks""").as("dup_chunk_ppm"),
            expr("n_tokens div n_chunks").as("mean_chunk_tokens"),
            col("max_chunk_tokens"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, $SQL_TOKENS AS t FROM documents
                WHERE len($SQL_TOKENS) >= 1),
              cu AS (SELECT doc_id, t,
                  list_transform(range(1, len(t) + 1),
                    q -> CASE WHEN q <= len(t) - 2 AND
                      ${SQL_H32("t[q] || ' ' || t[q+1] || ' ' || t[q+2]")}
                        % 16 = 0
                    THEN 1 ELSE 0 END) AS cuts
                FROM tk),
              px AS (SELECT doc_id, p, t[p] AS w,
                  list_aggregate(cuts[1:p], 'sum') AS c
                FROM cu, unnest(range(1, len(t) + 1)) AS u(p)),
              chunks AS (SELECT doc_id, c, count(*) AS len,
                  md5(string_agg(w, ' ' ORDER BY p)) AS h
                FROM px GROUP BY 1, 2)
              SELECT count(*) AS n_chunks,
                count(DISTINCT h) AS n_distinct_chunks,
                CAST((count(*) - count(DISTINCT h)) * 1000000 // count(*)
                  AS BIGINT) AS dup_chunk_ppm,
                CAST(sum(len) // count(*) AS BIGINT) AS mean_chunk_tokens,
                CAST(max(len) AS BIGINT) AS max_chunk_tokens
              FROM chunks""")
    )
  )

  /** BPE vocab BUDGET: the maximum number of chained merges q171 learns
    * (compile-time constant — `val all` above reads it during object
    * init). r8 trained 5 as a proof of chain; r9 trains to a real budget
    * with convergence early-stop (no pair occurs twice), the loop
    * structure a production tokenizer extends to tens of thousands.
    */
  private final val BpeMerges = 50

  /** q181's training-sequence token budget (compile-time: `val all`
    * reads it during object init). 512 keeps the sequence count
    * corpus-proportional at every test sf; a production run sets its
    * context length here.
    */
  private final val SeqPackBudget = 512L

  /** q183's per-stratum sample size (compile-time: `val all` reads it). */
  private final val SampleK = 50L

  /** Shared DuckDB scaffold for the BPE oracles (q171, q175): the base
    * vocabulary (wb), the wrapped symbol table (w0), and `n` unrolled
    * merge rounds (the q159 Lloyd-iteration precedent), each with the
    * identical pair count, CONVERGENCE filter (n ≥ 2 — the Spark loop's
    * early stop), argmax tie-break, and wrapped-string `replace` merge
    * application. Early stop degrades identically in both engines: once
    * t_k is empty the CASE carries the symbol table forward UNCHANGED
    * (exactly the Spark loop doing nothing after `done`), so every later
    * t_j is empty too and the q171 union simply has < n rows.
    */
  private def bpeRoundsSql(n: Int): String = {
    val rounds = (1 to n).map { k =>
      s"""s$k AS (SELECT sym[2:length(sym)-1] AS body, wcnt FROM w${k - 1}),
         l$k AS (SELECT str_split(body, ')(') AS l, wcnt FROM s$k),
         p$k AS (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT)+1] AS pair,
                   CAST(sum(wcnt) AS BIGINT) AS n
                 FROM (SELECT l, wcnt,
                         unnest(generate_series(1, len(l) - 1)) AS i
                       FROM l$k WHERE len(l) >= 2)
                 GROUP BY 1),
         t$k AS MATERIALIZED (SELECT pair, n FROM p$k WHERE n >= 2
                 ORDER BY n DESC, pair LIMIT 1),
         w$k AS MATERIALIZED (SELECT CASE WHEN NOT EXISTS (SELECT 1 FROM t$k) THEN sym
                   ELSE replace(sym,
                     '(' || replace((SELECT pair FROM t$k), ' ', ')(') || ')',
                     '(' || replace((SELECT pair FROM t$k), ' ', '') || ')')
                   END AS sym,
                 wcnt FROM w${k - 1})"""
    }.mkString(",\n")
    s"""WITH wb AS MATERIALIZED (SELECT word, count(*) AS wcnt
                FROM (SELECT unnest($SQL_TOKENS) AS word FROM documents)
                WHERE regexp_full_match(word, '[A-Za-z0-9]+')
                GROUP BY 1),
       w0 AS MATERIALIZED (SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS sym, wcnt
              FROM wb),
       $rounds"""
  }

  /** q171's oracle: the merge rounds, emitting the ordered merge list. */
  private def bpeOracleSql: String = {
    val union = (1 to BpeMerges)
      .map(k => s"SELECT pair, n, CAST($k AS BIGINT) AS rk FROM t$k")
      .mkString("\nUNION ALL ")
    s"""${bpeRoundsSql(BpeMerges)}
       $union"""
  }

  /** Learn the first [[BpeMerges]] BPE merges — q171's training, shared
    * with q175/q271/q440: ONE guarded collect ([[Shared.collectModelSized]])
    * of the memoized base vocabulary ([[bpeWords]]), then every round on
    * the driver ([[bpeTrain]]). The learned list memoizes per (process,
    * dataset) — model parameters, the trainedCodebook precedent.
    */
  private[graft] def bpeLearnMerges(s: SparkSession, d: String): Vector[(String, Long)] =
    Shared.memo("bpemerges", d) { _ =>
      bpeTrain(Shared.collectModelSized(bpeWords(s, d))
        .map(r => (r.getString(0), r.getLong(1))), BpeMerges)
    }

  /** BPE training over an in-memory vocabulary (sym0 "(c)(a)(t)", wcnt),
    * up to `budget` merges. Each round counts adjacent symbol pairs
    * weighted by wcnt, keeps those seen n ≥ 2 times (CONVERGENCE stop,
    * mirrored in the oracle's t_k: a pair seen once compresses nothing),
    * takes the argmax (n desc, "a b" asc — words are ASCII alphanumeric,
    * so String order is the oracle's byte order) and merges greedily left
    * to right without overlap: what `replace` of "(a)(b)" by "(ab)" does
    * on the wrapped string in both engines.
    */
  private[graft] def bpeTrain(vocab: Seq[(String, Long)], budget: Int): Vector[(String, Long)] = {
    var words = vocab.map { case (sym0, n) =>
      (sym0.substring(1, sym0.length - 1).split("\\)\\(").toList, n) }
    var merges = Vector.empty[(String, Long)] // ("a b", n)
    var done = false
    while (!done && merges.size < budget) {
      words.flatMap { case (l, n) => l.zip(l.tail).map { case (a, b) => (s"$a $b", n) } }
        .groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 >= 2)
        .minByOption { case (pair, n) => (-n, pair) } match {
        case None => done = true // converged (or fully merged)
        case Some((pair, n)) =>
          merges :+= ((pair, n))
          val Array(a, b) = pair.split(" ", 2)
          @annotation.tailrec // a word may be one long alphanumeric run
          def merge(l: List[String], out: List[String]): List[String] = l match {
            case `a` :: `b` :: rest => merge(rest, (a + b) :: out)
            case x :: rest => merge(rest, x :: out)
            case Nil => out.reverse
          }
          words = words.map { case (l, n) => (merge(l, Nil), n) }
      }
    }
    merges
  }

  /** Symbol array of `sym0` after replaying `merges` in order: the chained
    * greedy-left-to-right `replace` over the wrapped representation,
    * unwrapped and split — "apply the model" as a Spark projection, the
    * one q175 (tokenization audit) and q271 (fertility) use; its
    * per-word result matches [[bpeTrain]]'s merge rule.
    */
  private[graft] def bpeMergedSymsCol(merges: Seq[(String, Long)]): org.apache.spark.sql.Column = {
    val sym = merges.foldLeft(col("sym0")) { case (c, (pair, _)) =>
      val Array(a, b) = pair.split(" ", 2)
      replace(c, lit(s"($a)($b)"), lit(s"($a$b)"))
    }
    split(sym.substr(lit(2), length(sym) - 2), "\\)\\(")
  }

  /** Bigram table (doc_id, source, w1, w2) over documents with ≥2 tokens,
    * materialized once per (process, dataset) to scratch parquet by
    * [[Shared.memo]] (first caller pays, consumers read column-pruned
    * parquet). Exists
    * because the LM query consumes this lineage three ways and structural
    * single execution beats hoping ReuseExchange fires (q38's lesson).
    * Returns the table plus the TRAIN-split vocabulary size (every token
    * of an even-id document appears as some bigram's w1 or w2 — docs
    * here are ≥2 tokens), memoized alongside so repeat callers pay no
    * extra job for the scalar.
    */
  private[graft] def bigramTable(s: SparkSession, d: String): (DataFrame, Long) = {
    val (root, v) = Shared.memo("bigram", d) { r =>
      val bg = transform(
        // clamped bounds: generators must never see a partial expression
        // (winnowLadder's rule); the size≥2 filter is the semantic bound,
        // greatest() keeps the sequence total anyway
        sequence(lit(1), greatest(size(col("t")) - 1, lit(1))),
        i => struct(
          element_at(col("t"), i.cast("int")).as("w1"),
          element_at(col("t"), (i + lit(1)).cast("int")).as("w2")))
      Tables.documents(s, d)
        .withColumn("t", tokens(col("text")))
        .filter(size(col("t")) >= 2)
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("bg", bg)
        .select(col("doc_id"), col("source"), explode_outer(col("bg")).as("b"))
        .filter(col("b").isNotNull)
        .select(col("doc_id"), col("source"),
          col("b.w1").as("w1"), col("b.w2").as("w2"))
        .write.mode("overwrite").option("compression", "lz4")
        .parquet(r)
      val tr = s.read.parquet(r).filter(col("doc_id") % 2 === 0)
      val vocab = tr.select(col("w1").as("tk"))
        .union(tr.select(col("w2").as("tk")))
        .agg(countDistinct(col("tk"))).head.getLong(0)
      (r, vocab)
    }
    (s.read.parquet(root), v)
  }

  /** Hashed-feature bucket count of the q188 classifier (fastText's `-hash`
    * bin parameter): the model is ≤ this many rows regardless of corpus
    * vocabulary, which is what keeps it broadcastable at every scale.
    */
  private[graft] final val NbBuckets = 4096

  /** q188's oracle (the full per-doc score SELECT) — shared so the
    * q202 calibration CTE wraps the identical definition. */
  private[operators] lazy val nbScoreSql: String =
    s"""WITH tok AS (SELECT doc_id, source, $SQL_TOKENS AS t FROM documents),
              bg AS (SELECT doc_id, source,
                       ${SQL_H32("t[p] || ' ' || t[p+1]")} % $NbBuckets AS bucket
                     FROM (SELECT doc_id, source, t,
                             unnest(generate_series(1, len(t) - 1)) AS p
                           FROM tok WHERE len(t) >= 2)),
              lab AS (SELECT doc_id,
                        CASE WHEN length(text) BETWEEN 100 AND 400
                          AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 4
                              > length(text) * 3
                          THEN 1 ELSE 0 END AS y
                      FROM documents),
              trf AS (SELECT bucket, y FROM bg JOIN lab USING (doc_id)
                      WHERE doc_id % 2 = 0),
              model AS (SELECT bucket,
                          sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS n1,
                          sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS n0
                        FROM trf GROUP BY 1),
              st AS (SELECT sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS t1,
                       sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS t0 FROM trf),
              sc AS (SELECT doc_id, source,
                       (1000000 * (coalesce(n1, 0) + 1)) // (t1 + $NbBuckets)
                       - (1000000 * (coalesce(n0, 0) + 1)) // (t0 + $NbBuckets) AS w
                     FROM bg LEFT JOIN model USING (bucket) CROSS JOIN st)
              SELECT doc_id, source, CAST(lab.y AS BIGINT) AS y,
                count(*) AS n_feats,
                CAST(sum(w) AS BIGINT) AS score_ppm,
                CAST(CASE WHEN sum(w) > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
              FROM sc JOIN lab USING (doc_id)
              GROUP BY doc_id, source, lab.y"""

  /** q188's full train-and-score pipeline as a frame:
    * (doc_id, source, y, n_feats, score_ppm, pred) — shared with the
    * q202 calibration table so the score definition can never drift.
    */
  /** q188's scored corpus (doc_id, source, y, n_feats, score_ppm, pred),
    * MEMOIZED to scratch parquet per (process, dataset) — THREE suite
    * queries consume the full scoring pipeline (q188 itself, q202's
    * deciles, q249's AUC) and before r10 each re-ran the train + score
    * joins from the bigram scratch. [[Shared.memo]]: first caller pays
    * one materialization (attributed in the bench memo ledger), everyone
    * else reads a doc-grain parquet.
    */
  private[graft] def nbScores(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("nbscores", d) { r =>
      nbScoresBuild(s, d).write.mode("overwrite")
        .option("compression", "lz4").parquet(r)
      r
    })

  /** the actual scoring pipeline — see [[nbScores]] */
  private def nbScoresBuild(s: SparkSession, d: String): DataFrame = {
    val B = NbBuckets
    val (allB, _) = bigramTable(s, d)
    val labels = Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("f1"),
        length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
          .cast("long").as("f3"))
      .select(col("doc_id"),
        when(col("f1").between(100, 400) &&
          col("f3") * 4 > col("f1") * 3, 1L).otherwise(0L).as("y"))
    val feats = allB.withColumn("bucket",
      pmod(h32(concat_ws(" ", col("w1"), col("w2"))), lit(B.toLong)))
    val trainF = feats.filter(col("doc_id") % 2 === 0)
      .join(labels, Seq("doc_id"))
    val model = trainF.groupBy("bucket").agg(
      sum(when(col("y") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("y") === 0, 1L).otherwise(0L)).as("n0"))
    val stats = trainF.agg(
      sum(when(col("y") === 1, 1L).otherwise(0L)).as("t1"),
      sum(when(col("y") === 0, 1L).otherwise(0L)).as("t0"))
    feats
      .join(broadcast(model), Seq("bucket"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("w", expr(
        s"""(1000000 * (coalesce(n1, CAST(0 AS BIGINT)) + 1)) div (t1 + $B)
            - (1000000 * (coalesce(n0, CAST(0 AS BIGINT)) + 1)) div (t0 + $B)"""))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_feats"),
        sum(col("w")).cast("long").as("score_ppm"))
      .join(labels, Seq("doc_id"))
      .withColumn("pred", (col("score_ppm") > 0).cast("long"))
      .select("doc_id", "source", "y", "n_feats", "score_ppm", "pred")
  }

  /** Trigram table (doc_id, source, w1, w2, w3), materialized once per
    * (process, dataset) to scratch parquet by [[Shared.memo]] — plus the
    * train-split trigram total N (the q187 unigram-floor
    * denominator), collected eagerly as ONE scalar model parameter.
    */
  private[graft] def trigramTable(s: SparkSession, d: String): (DataFrame, Long) = {
    val (root, n) = Shared.memo("trigram", d) { r =>
      val tg = transform(
        // clamped bounds: generators must never see a partial expression
        // (winnowLadder's rule); the size≥3 filter is the semantic bound
        sequence(lit(1), greatest(size(col("t")) - 2, lit(1))),
        i => struct(
          element_at(col("t"), i.cast("int")).as("w1"),
          element_at(col("t"), (i + lit(1)).cast("int")).as("w2"),
          element_at(col("t"), (i + lit(2)).cast("int")).as("w3")))
      Tables.documents(s, d)
        .withColumn("t", tokens(col("text")))
        .filter(size(col("t")) >= 3)
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("tg", tg)
        .select(col("doc_id"), col("source"), explode_outer(col("tg")).as("g"))
        .filter(col("g").isNotNull)
        .select(col("doc_id"), col("source"),
          col("g.w1").as("w1"), col("g.w2").as("w2"), col("g.w3").as("w3"))
        .write.mode("overwrite").option("compression", "lz4")
        .parquet(r)
      val total = s.read.parquet(r)
        .filter(col("doc_id") % 2 === 0).count()
      (r, total)
    }
    (s.read.parquet(root), n)
  }

  /** Positional postings table (doc_id, p, w) — the inverted-index
    * artifact q193's phrase probes join against, materialized once per
    * (process, dataset) by [[Shared.memo]]. p is 1-based
    * token position. At 100 TB the production layout buckets this by w
    * so a phrase probe opens only its tokens' buckets; the adjacency
    * join downstream is unchanged.
    */
  private[graft] def postingsTable(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("postings", d) { r =>
      Tables.documents(s, d)
        .withColumn("t", tokens(col("text")))
        .filter(size(col("t")) >= 1)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), posexplode(col("t")).as(Seq("p0", "w")))
        .select(col("doc_id"), (col("p0") + 1).as("p"), col("w"))
        .write.mode("overwrite").option("compression", "lz4")
        .parquet(r)
      r
    })

  /** Hashed-3-shingle SET table (doc_id, source, g): each doc's distinct
    * shingles under Shared.h32 — the similarity universe the MinHash
    * family already declares, materialized once per (process, dataset) to
    * scratch parquet ([[Shared.memo]]) because the
    * prefix-filter join (q212) consumes this lineage four ways (sizes,
    * document frequencies, prefix ordering, verification) and structural
    * single execution beats hoping ReuseExchange fires. Shingle strings
    * never leave the build stage — the scratch carries (i64, str, i64)
    * rows; `source` rides along (dictionary-encoded, near-free) so
    * source-scoped consumers (q219's containment matrix, q300's
    * decontamination stage) never re-join the corpus for it.
    */
  private[graft] def shingleSetTable(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("shingleset", d) { r =>
      shingleSetBuild(s, d)
        .write.mode("overwrite").option("compression", "lz4").parquet(r)
      r
    })

  /** the shingleset memo's build FRAME (un-memoized) — exposed so
    * `graft.tools.Profile` can time and stage-profile the build in
    * isolation
    */
  private[operators] def shingleSetBuild(s: SparkSession, d: String): DataFrame =
    withShingles(s, d, nonEmpty = true)
      .select(col("doc_id"), col("source"), explode(col("sh")).as("w"))
      .select(col("doc_id"), col("source"), h32(col("w")).as("g"))
      .distinct()

  /** q212's verified pair stream — (d1, d2, sz1, sz2, inter_sz,
    * union_sz) with hashed-shingle Jaccard ≥ 4/5 — extracted so the
    * split assigner (q217), the overlap scorer (q219) and the MinHash
    * calibration (q224) cluster/score on the same contract the
    * similarity join reports. All comparisons are integer
    * cross-multiplications; see the q212 QueryDef for the prefix-filter
    * completeness argument.
    *
    * Materialized once per (process, dataset) to scratch parquet
    * ([[Shared.memo]]): four queries consume this
    * lineage, and the prefix window + verify joins are the expensive
    * part of each — first caller pays ~one q212, every other consumer
    * reads a pair-count-sized parquet.
    */
  private[graft] def jaccardPrefixPairs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("jpairs", d) { r =>
      jaccardPrefixPairsBuild(s, d)
        .write.mode("overwrite").option("compression", "lz4").parquet(r)
      r
    })

  /** the actual pair pipeline — see [[jaccardPrefixPairs]].
    *
    * Doc-grain array form (r13 verdict task 4): ONE aggregation folds
    * the shingle stream into per-document (df, g)-sorted hash arrays —
    * the document's size is the array's size (no separate sz
    * aggregation/join) and the df-ordered PREFIX is an array slice (no
    * per-row window sort). Verification then joins the near-dup-bounded
    * candidate list against the doc-grain table twice and intersects
    * the two sorted arrays row-locally (`array_intersect` over distinct
    * hashes ≡ the exact intersection count) — the (d2, g)-keyed shuffle
    * of the candidate-expanded shingle stream (Σ sz1 over candidates,
    * ~10M rows at sf1) becomes a candidate-grain join carrying two
    * bounded arrays. Measured at sf1: pref 5.6 s → in-array, verify
    * 7.2 s → candidate-grain; jpairs build 19.0 s → ~8 s.
    */
  private[operators] def jaccardPrefixPairsBuild(s: SparkSession, d: String): DataFrame =
    Shared.withCheckpointDir(s) {
    val e = shingleSetTable(s, d)
    val dfq = e.groupBy("g").agg(count(lit(1)).as("df"))
    // per-doc shingle hashes in (df, g) order; arrays are doc-length-
    // bounded (shingles per document), the same bound the old window
    // sort held per partition
    val docArr = e.join(dfq, "g")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("fg"))
      .select(col("doc_id"),
        transform(col("fg"), f => f("g")).as("gs"),
        size(col("fg")).cast("long").as("sz"))
      .checkpoint() // three consumers: prefix explode + both verify sides
    val pref = docArr.select(col("doc_id"),
        explode(slice(col("gs"), lit(1),
          (col("sz") - expr("(4 * sz + 4) div 5") + 1).cast("int")))
          .as("g"),
        col("sz"))
    val cand = pref.select(col("doc_id").as("d1"), col("g"),
        col("sz").as("sz1"))
      .join(pref.select(col("doc_id").as("d2"), col("g"),
        col("sz").as("sz2")), "g")
      .filter(col("d1") < col("d2") &&
        lit(4) * greatest(col("sz1"), col("sz2")) <=
          lit(5) * least(col("sz1"), col("sz2")))
      .select("d1", "d2", "sz1", "sz2").distinct()
    // the surviving candidate list is near-dup-bounded (tiny next to the
    // shingle stream) — broadcast it onto the doc-grain array table,
    // attach the second side's array keyed, intersect row-locally
    docArr.select(col("doc_id").as("d1"), col("gs").as("g1"))
      .join(broadcast(cand), Seq("d1"))
      .join(docArr.select(col("doc_id").as("d2"), col("gs").as("g2")),
        Seq("d2"))
      .select(col("d1"), col("d2"), col("sz1"), col("sz2"),
        size(array_intersect(col("g1"), col("g2"))).cast("long")
          .as("inter_sz"))
      .withColumn("union_sz", col("sz1") + col("sz2") - col("inter_sz"))
      .filter(lit(5) * col("inter_sz") >= lit(4) * col("union_sz"))
  }

  /** q212's pair CTEs for the oracle, ending in jp(d1, d2, inter_sz,
    * union_sz) — shared verbatim by q212 and q217 (the
    * sqlWinnowPairCtes precedent: one definition, zero drift).
    */
  private[graft] def SQL_JPAIR_CTES: String =
    s"""$SQL_WITH_SHINGLES,
        e AS (SELECT DISTINCT doc_id, ${Shared.SQL_H32("w")} AS g
              FROM (SELECT doc_id, unnest(sh) AS w FROM shingled)),
        szt AS (SELECT doc_id, count(*) AS sz FROM e GROUP BY 1),
        dft AS (SELECT g, count(*) AS df FROM e GROUP BY 1),
        ord AS (SELECT e.doc_id, e.g, szt.sz,
                  row_number() OVER (PARTITION BY e.doc_id
                    ORDER BY dft.df, e.g) AS rn
                FROM e JOIN szt ON e.doc_id = szt.doc_id
                  JOIN dft ON e.g = dft.g),
        pref AS (SELECT doc_id, g, sz FROM ord
                 WHERE rn <= sz - ((4 * sz + 4) // 5) + 1),
        cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                   a.sz AS sz1, b.sz AS sz2
                 FROM pref a JOIN pref b ON a.g = b.g
                   AND a.doc_id < b.doc_id
                 WHERE 4 * greatest(a.sz, b.sz)
                   <= 5 * least(a.sz, b.sz)),
        inter AS (SELECT d1, d2, sz1, sz2, count(*) AS inter_sz
                  FROM cand
                    JOIN e ea ON ea.doc_id = cand.d1
                    JOIN e eb ON eb.doc_id = cand.d2
                      AND ea.g = eb.g
                  GROUP BY 1, 2, 3, 4),
        jp AS (SELECT d1, d2, inter_sz,
                 sz1 + sz2 - inter_sz AS union_sz
               FROM inter
               WHERE 5 * inter_sz >= 4 * (sz1 + sz2 - inter_sz))"""

  /** Shingle length of the exact-substring dedup family (q163/q170). */
  private[graft] final val SubstrK = 8

  /** Exact-substring START table (doc_id, p, h): position p's
    * [[SubstrK]]-token shingle hash per document with ≥ SubstrK tokens —
    * the lineage BOTH q163 (find) and q170 (apply) derive. Materialized
    * once per (process, dataset) to scratch parquet ([[Shared.memo]]:
    * first caller pays the tokenize + hash scan, every consumer reads
    * fixed-width columnar scratch). Token strings
    * never leave the executors — the scratch carries only (i64, i32, i64)
    * rows, the shuffle- and storage-friendly form at 100 TB.
    */
  private[graft] def substrStarts(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("substr", d) { r =>
      val K = SubstrK
      // total-by-construction shingle-hash array (clamped bounds) — see
      // the winnowLadder scaladoc for why generators must never see a
      // partial expression. Tokenize ONCE, hash each K-token slice
      // directly: equal token runs ⇔ equal arrays, so hashing the array
      // skips materializing a K-token string per position.
      val sh = transform(
        sequence(lit(1), greatest(size(col("t")) - (K - 1), lit(1))),
        i => xxhash64(slice(col("t"), i.cast("int"), lit(K))))
      Tables.documents(s, d)
        .withColumn("t", tokens(col("text")))
        .filter(size(col("t")) >= K)
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("sh", sh)
        .select(col("doc_id"), posexplode_outer(col("sh")).as(Seq("p0", "h")))
        .filter(col("h").isNotNull)
        .select(col("doc_id"), (col("p0") + 1).as("p"), col("h"))
        .write.mode("overwrite").option("compression", "lz4")
        .parquet(r)
      r
    })

  /** BPE base vocabulary (sym0, wcnt): corpus word counts with each word
    * rendered as its wrapped character-symbol string ("(c)(a)(t)") — the
    * representation q171's merge rounds `replace` over. The ONE
    * corpus-sized aggregation of BPE training, materialized per
    * (process, dataset) by [[Shared.memo]]; training then collects this
    * vocab-bounded table once. Alphanumeric words only — see q171's scaladoc.
    */
  private[graft] def bpeWords(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("bpewords", d) { r =>
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(tokens(col("text"))).as("word"))
        .filter(col("word").rlike("^[A-Za-z0-9]+$"))
        .groupBy("word").agg(count(lit(1)).as("wcnt"))
        .select(regexp_replace(col("word"), "(.)", "($1)").as("sym0"),
          col("wcnt"))
        .write.mode("overwrite").option("compression", "lz4")
        .parquet(r)
      r
    })

  /** SimHash fingerprint table (doc_id, simhash), materialized once per
    * (process, dataset) to scratch parquet by [[Shared.memo]]:
    * the per-token-md5 corpus scan runs once; q39/q39b/q80/q174 all read
    * 16-byte columnar rows after that. This is the ingest-time artifact a
    * real deployment stores next to the corpus (fingerprint at write,
    * band-join at dedup time).
    */
  private[graft] def simhashTable(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Shared.memo("simhash", d) { r =>
      simhashFingerprints(s, d).write.mode("overwrite")
        .option("compression", "lz4").parquet(r)
      r
    })
}
