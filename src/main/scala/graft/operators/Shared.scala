package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, TimestampType}

/** Cross-engine determinism helpers shared by every operator file.
  *
  * Each convention exists in exactly one place — a Spark-side form and,
  * where the oracles need it, a token-identical DuckDB mirror (`SQL_*`) so
  * the decimal promotion chain / hash family can never drift between
  * queries or engines (the driver compare is value-hash exact).
  */
private[graft] object Shared {

  // ── exact decimal arithmetic (order-independent aggregation) ───────────
  /** exact 2-decimal cast — makes double aggregation order-independent */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  def dec12(c: Column): Column = c.cast(DecimalType(12, 2))
  def dec3(c: Column): Column = c.cast(DecimalType(3, 2))
  val one: Column = lit(1).cast(DecimalType(3, 2))
  /** order-independent exact sum of a 2-decimal double, as double */
  def sumd(c: Column): Column = sum(dec(c)).cast("double")
  def SUMD(c: String) = s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  /** exact discounted revenue: price × (1 − discount), all DECIMAL */
  def rev: Column =
    dec12(col("l_extendedprice")) * (one - dec3(col("l_discount")))
  val SQL_REV =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"

  /** timestamp literal (session timezone is pinned to UTC everywhere) */
  def ts(s: String): Column = lit(s).cast(TimestampType)

  // ── text tokenization + the shared 32-bit hash family ──────────────────
  /** whitespace tokens of the trimmed text */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** ensure a RELIABLE checkpoint dir is set (deployment: durable HDFS/S3
    * path; single-node runs default to the local tmpdir), then run body
    */
  def withCheckpointDir[T](s: org.apache.spark.sql.SparkSession)(body: => T): T = {
    if (s.sparkContext.getCheckpointDir.isEmpty)
      s.sparkContext.setCheckpointDir(
        sys.props("java.io.tmpdir") + "/graft-checkpoints")
    body
  }

  /** Distributed connected components via alternating LARGE-STAR /
    * SMALL-STAR contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14 — the published O(log n)-round
    * algorithm; the step after pair generation in any dedup pipeline:
    * q73's loop, extracted so every candidate-pair source can reuse it).
    *
    * Each round rewrites the EDGE set (never a per-node label table):
    *   - large-star: every node links each of its LARGER neighbors to the
    *     minimum of its closed neighborhood — distances to the component
    *     minimum roughly halve, which is what buys O(log n) rounds where
    *     plain min-label propagation needs O(diameter) (r5 verdict: a
    *     27-node chain overran the old 25-round cap and threw);
    *   - small-star: every node links its smaller neighbors and itself to
    *     their collective minimum, compacting the partial stars.
    * Both operators preserve connectivity, and their common fixpoint is
    * exactly a disjoint star forest centered at each component's minimum
    * id. That structure is checked DIRECTLY each round (one aggregation:
    * a star forest ⟺ no node is both a center and a leaf, and every leaf
    * has exactly one distinct center — with the canonical a&lt;b invariant
    * the center of each star is then necessarily its component minimum),
    * which both avoids an extra edge-set-comparison job per round and
    * terminates the round the forest first forms instead of one
    * confirming round later. No checksum heuristics that could pass
    * wrongly: the check is an exact characterization of the fixpoint.
    *
    * Every round's edge set is RELIABLY checkpointed, truncating the
    * growing lineage (localCheckpoint would pin loop state to executor
    * storage and sever lineage — one lost executor over a many-round job
    * at 100 TB fails the whole query; reliable checkpoint survives it,
    * costing one small write per round of edge-table size, not fact
    * size). The 50-round cap is an algorithmic-bug backstop (log2 of any
    * conceivable node count is far below it), not a diameter limit; a
    * wrong answer must never be silent, so overrunning it still throws.
    *
    * Input: `nodes` with column id, `edges` with columns (a, b), treated
    * as undirected. Output: (id, comp), comp = the component's min id.
    */
  def minLabelComponents(s: org.apache.spark.sql.SparkSession,
      nodes: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withCheckpointDir(s) {
      type DF = org.apache.spark.sql.DataFrame
      // canonical undirected edge set: a < b, self-loops dropped, distinct
      def canon(e: DF): DF =
        e.select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
          .filter(col("a") =!= col("b")).distinct()
      def symmetric(e: DF): DF =
        e.union(e.select(col("b").as("a"), col("a").as("b")))

      // large-star(u): m = min(Γ(u) ∪ {u}); for each neighbor v > u emit
      // (v, m) — output stays canonical because m ≤ u < v. Duplicate
      // edges are tolerated here (min/groupBy are dup-invariant and
      // smallStar's final distinct cleans up) — skipping a distinct saves
      // one shuffle per round
      def largeStar(e: DF): DF = {
        val sym = symmetric(e)
        val m = sym.groupBy("a").agg(min("b").as("mb"))
          .select(col("a"), least(col("mb"), col("a")).as("m"))
        sym.join(m, "a").filter(col("b") > col("a"))
          .select(col("m").as("a"), col("b").as("b"))
      }
      // small-star(u): over smaller neighbors Γ⁻(u), m = min(Γ⁻(u)); emit
      // (v, m) for v ∈ Γ⁻(u)\{m} and (u, m) — canonical since m ≤ v < u
      def smallStar(e: DF): DF = {
        val smaller = symmetric(e).filter(col("b") < col("a"))
        val m = smaller.groupBy("a").agg(min("b").as("m"))
        smaller.join(m, "a")
          .select(col("m").as("na"), col("b").as("nb"))
          .filter(col("na") =!= col("nb"))
          .union(m.select(col("m").as("na"), col("a").as("nb")))
          .select(col("na").as("a"), col("nb").as("b"))
          .distinct()
      }
      // exact fixpoint test (see scaladoc): zero violating nodes ⟺ e is
      // a disjoint star forest centered at per-component minima. One
      // shuffle + a tiny filter; its action also materializes the round's
      // lazy checkpoint, so each round costs exactly one job.
      def isStarForest(e: DF): Boolean =
        e.select(col("a").as("n"), lit(true).as("c"),
            lit(null).cast("long").as("p"))
          .union(e.select(col("b").as("n"), lit(false).as("c"),
            col("a").as("p")))
          .groupBy("n")
          .agg(max(col("c")).as("hasCenter"), min(col("c")).as("allCenter"),
            countDistinct(col("p")).as("nCenters"))
          .filter((col("hasCenter") && !col("allCenter")) ||
            col("nCenters") > 1)
          .isEmpty

      var e = canon(edges.select("a", "b")).checkpoint()
      var iter = 0
      while (!isStarForest(e)) {
        if (iter >= 50) throw new IllegalStateException(
          s"minLabelComponents: star contraction did not converge in $iter rounds")
        // LAZY checkpoint: the next isStarForest probe is the action that
        // materializes it — subsequent reads reuse the checkpoint files
        e = smallStar(largeStar(e)).checkpoint(eager = false)
        iter += 1
      }
      // star forest: every edge is (center=component min, leaf); isolated
      // nodes label themselves
      val comp = e.select(col("b").as("id"), col("a").as("comp"))
        .union(e.select(col("a").as("id"), col("a").as("comp")))
        .groupBy("id").agg(min("comp").as("comp"))
      nodes.select("id").join(comp, Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    }

  /** Fixed scratch root for queries that materialize layouts/intermediates:
    * one directory per (tag, JVM, dataset dir), so repeated invocations in
    * a process overwrite one directory instead of accumulating copies,
    * while concurrent sessions on the same machine (different pids) and
    * different datasets (128-bit MD5 of the full dataset key — two keys
    * live in one JVM can't collide the way a 32-bit String.hashCode
    * could, which would have silently cross-served scratch between
    * datasets) never race on the same path. Every root handed out is registered for recursive
    * deletion at JVM exit, and the first call per process also sweeps
    * stale `graft_*` roots whose owning pid is no longer alive, so
    * repeated benchmark/test processes don't accumulate unbounded tmp
    * usage (the roots hold sf-sized bucketed table copies / fingerprint
    * ladders).
    *
    * Staleness (closed in r9): every memo built on this root goes
    * through [[memo]], which keys on [[datasetKey]] (path + file listing
    * fingerprint), so regenerating a dataset in place within one process
    * produces a fresh key and fresh derivations instead of serving stale
    * scratch.
    */
  def scratchRoot(tag: String, d: String): java.nio.file.Path = {
    scratchJanitor // one-time per process: exit hook + stale sweep
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${tag}_${ProcessHandle.current().pid()}_$hex")
    createdScratchRoots.add(p)
    p
  }

  private val createdScratchRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      // best-effort: a file vanishing mid-walk (another cleaner, the OS
      // tmp reaper) must not abort the rest of the sweep
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach {
        (q: Path) => try Files.deleteIfExists(q)
          catch { case _: java.io.IOException => () }
      } finally walk.close()
    }
  }

  /** One-time janitor: (a) an exit hook deleting every scratch root this
    * JVM created — scratch is by definition reproducible, so nothing of
    * value can be lost; (b) a startup sweep of `graft_<tag>_<pid>_<hash>`
    * directories whose pid is dead (crashed/killed JVMs never reach their
    * exit hook). Live pids — including this one — are never touched, so
    * concurrent sessions remain safe.
    */
  private lazy val scratchJanitor: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      createdScratchRoots.forEach(deleteRecursively(_))))
    val self = ProcessHandle.current().pid()
    val pat = java.util.regex.Pattern.compile("graft_.+_(\\d+)_[0-9a-f]+")
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val ls = java.nio.file.Files.list(tmp)
    try ls.forEach { (p: java.nio.file.Path) =>
      val m = pat.matcher(p.getFileName.toString)
      if (m.matches()) {
        val pid = m.group(1).toLong
        if (pid != self && !ProcessHandle.of(pid).map[Boolean](_.isAlive)
              .orElse(false))
          deleteRecursively(p)
      }
    } finally ls.close()
  }
  /** Dataset identity for scratch-memo keys: the normalized absolute path
    * PLUS a digest of the directory's (relative name, size, mtime) file
    * listing. The r8 caveat at [[scratchRoot]] was that memos keyed on
    * PATH alone would serve stale derivations if a dataset were
    * regenerated in place within one JVM — and the r8 testdata
    * regeneration showed datasets really do change shape under a stable
    * path. Folding the listing into the key makes regeneration produce a
    * fresh key (parquet writers always change file names/sizes/mtimes),
    * so every memo built on it derives afresh; the stale entry just ages
    * out with the JVM. Cost: one directory walk (tens of entries for an
    * sf dir) per memo LOOKUP — nanoseconds against the build it guards.
    * The walk tolerates files vanishing mid-walk (another session's
    * janitor): identity only needs to be stable for live datasets.
    */
  def datasetKey(d: String): String = {
    import java.nio.file.{Files, Path}
    val root = java.nio.file.Paths.get(d).toAbsolutePath.normalize
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.forEach { (p: Path) =>
        try if (Files.isRegularFile(p))
          entries += s"${root.relativize(p)}|${Files.size(p)}|" +
            s"${Files.getLastModifiedTime(p).toMillis}"
        catch { case _: java.io.IOException => () }
      } finally walk.close()
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    val hex = md.digest().take(8).map("%02x".format(_)).mkString
    s"$root#$hex"
  }

  /** The one scratch memo: build once per (tag, dataset) per JVM, then
    * serve the built value. `build` gets the entry's scratch root
    * ([[scratchRoot]] of tag and [[datasetKey]]) — a frame memo writes
    * there and returns the path, a driver-value memo just returns its
    * value. Same tag, same value type: the registry is keyed on
    * (tag, dataset key) and casts back.
    *
    *   - Each registry value is a per-entry cell: the build runs under
    *     that cell's lock, never inside the map's bin lock, so a build may
    *     call other memos (the r16 sf1 "Recursive update" crash was two
    *     nested `computeIfAbsent` builds colliding in one bin).
    *   - Concurrent first callers build exactly once; the rest wait on
    *     the cell and read its value.
    *   - A build that throws leaves the cell empty, so the next call
    *     rebuilds.
    *   - The ledger ([[memoBuildLedger]]) records each build's own
    *     seconds, excluding memo builds nested inside it, so per-tag
    *     seconds sum to the wall time of the outermost builds.
    */
  def memo[T](tag: String, d: String)(build: String => T): T = {
    val key = datasetKey(d)
    memos.computeIfAbsent((tag, key), _ => new MemoCell).get {
      timedMemoBuild(tag)(build(scratchRoot(tag, key).toString))
    }.asInstanceOf[T]
  }

  private final class MemoCell {
    @volatile private var value: Option[Any] = None
    def get(build: => Any): Any = {
      if (value.isEmpty) synchronized {
        if (value.isEmpty) value = Some(build)
      }
      value.get
    }
  }

  private val memos =
    new java.util.concurrent.ConcurrentHashMap[(String, String), MemoCell]()

  /** Per-process memo-build cost ledger (r8 verdict task 1): the bench
    * reads cumulative build seconds before and after each query and
    * attributes each build to the query that paid it — making
    * cold-vs-warm readable straight from the driver-visible bench line
    * instead of reverse-engineered from run spreads.
    */
  private val memoBuildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** nanoseconds the build running on this thread has spent in nested builds */
  private val nestedNanos = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Times `body` as a build of `tag`, net of the builds nested in it.
    * Only q153's session-keyed layout calls this outside [[memo]].
    */
  private[operators] def timedMemoBuild[T](tag: String)(body: => T): T = {
    val outer = nestedNanos.get
    nestedNanos.set(0L)
    val t0 = System.nanoTime()
    try {
      val r = body
      memoBuildSecs.merge(tag,
        (System.nanoTime() - t0 - nestedNanos.get) / 1e9, (a, b) => a + b)
      r
    } finally nestedNanos.set(outer + (System.nanoTime() - t0))
  }

  /** cumulative memo-build seconds so far, per tag */
  def memoBuildLedger: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    memoBuildSecs.forEach((k, v) => b += k -> v.doubleValue())
    b.result()
  }

  val SQL_TOKENS = "regexp_split_to_array(trim(text), '\\s+')"

  /** Rewrite every `name AS (` CTE definition in an oracle to
    * `name AS MATERIALIZED (` — DuckDB otherwise re-inlines a CTE at
    * each reference site, and an oracle whose rounds each reference the
    * previous round plus a shared `graph`/`q`/`c` table (the HNSW beam
    * unrolls) explodes into an exponentially-sized expression tree that
    * spills tens of GB. Materializing evaluates each CTE exactly once.
    *
    * ANCHORED, not a blind global replace: a ` AS (` inside a
    * single-quoted string literal is left untouched, and every ` AS (`
    * outside literals must be a CTE definition — immediately preceded
    * by an identifier (`name AS (`) or an identifier with a column
    * list (`name(a, b) AS (`). Any other occurrence (e.g. a
    * parenthesized subquery aliased without a name, `) AS (`) throws
    * rather than silently emitting corrupted SQL, so a future oracle
    * that breaks the dialect assumption fails loudly at Verify time
    * instead of producing an undiagnosable DuckDB parse error.
    */
  def materializeCtes(sql: String): String = {
    def identChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '"'
    // is position j (pointing at the space of " AS (") preceded by a CTE
    // head — an identifier, optionally followed by a (column list)?
    def anchored(j: Int): Boolean = {
      if (j == 0) return false
      val p = sql.charAt(j - 1)
      if (identChar(p)) true
      else if (p == ')') {
        // scan back to the matching '(' of the column list; the char
        // before it must be an identifier char (`name(a, b) AS (`)
        var depth = 1
        var k = j - 2
        while (k >= 0 && depth > 0) {
          val c = sql.charAt(k)
          if (c == ')') depth += 1 else if (c == '(') depth -= 1
          k -= 1
        }
        depth == 0 && k >= 0 && identChar(sql.charAt(k))
      } else false
    }
    val out = new StringBuilder(sql.length + 64)
    var i = 0
    var inStr = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inStr) {
        out.append(c); if (c == '\'') inStr = false; i += 1
      } else if (c == '\'') {
        out.append(c); inStr = true; i += 1
      } else if (sql.startsWith(" AS (", i)) {
        if (!anchored(i))
          throw new IllegalArgumentException(
            s"materializeCtes: un-anchored ' AS (' at offset $i " +
              s"(context: …${sql.slice(math.max(0, i - 30), i + 6)}…) — " +
              "not a CTE definition; rewrite the oracle or extend the anchor")
        out.append(" AS MATERIALIZED (")
        i += 5
      } else {
        out.append(c); i += 1
      }
    }
    out.result()
  }

  /** Pin a MODEL-SIZED frame as a LocalRelation: one collect, then a
    * local-rows DataFrame with the identical schema and values.
    *
    * This replaces `.checkpoint()` on frames that are bounded by
    * construction (beam = probes × W rows, seed lists = probes ×
    * (bands·cap + hubs) — never corpus-sized, at ANY scale: that
    * boundedness is the point of beam search). A reliable checkpoint
    * there was pure overhead measured at ~0.3–0.6 s per round at sf0.1:
    * Spark computes the frame once for the materializing action and a
    * SECOND time for the checkpoint write job, both through full
    * scheduling round trips, to fault-tolerantly persist a few dozen
    * rows. Pinning costs ONE job; the LocalRelation truncates lineage
    * exactly like the checkpoint did (each beam round re-consumes its
    * predecessor twice, so without truncation rounds re-execute
    * upstream exponentially), makes the next round's broadcast of the
    * beam free (rows are already on the driver), and loses nothing at
    * 100 TB — losing the driver loses the query anyway, and the
    * recompute-on-failure cost of a model-sized frame is one round.
    * Corpus-sized frames (graphs, edge tables) MUST keep reliable
    * `.checkpoint()`; the row-count guard makes a mis-use loud.
    */
  def pinModelSized(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(collectModelSized(df): _*), df.schema)

  /** Collect a MODEL-SIZED frame to the driver; more than 200,000 rows
    * fails loudly (IllegalArgumentException) — [[pinModelSized]]'s guard,
    * and the one driver-side training (BPE's vocabulary) collects under.
    */
  def collectModelSized(df: org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.Row] = {
    // ONE-JOB collect, guard AFTER. A take/limit-collect form (the r16
    // advice) would stop shipping rows past the cap, but take's
    // incremental partition scale-up (1 → 4 → 16 → all,
    // spark.sql.limit.scaleUpFactor) schedules up to FOUR jobs per pin
    // on an aggregated input whose rows spread over every shuffle
    // partition — and the beam loops pin every round, so the serve
    // paths pay 2-3 extra scheduling round trips per round. The
    // misuse guard stays loud through the require below plus the plan
    // specs that pin every call site's frame to a model-sized bound;
    // the OOM-before-require window is accepted deliberately: every
    // site is model-sized (≤ probes×W, or BPE's distinct words), and a
    // bug that unbounds one surfaces at sf0.001 in QueriesSpec long
    // before any driver-sized corpus exists.
    val rows = df.collect()
    require(rows.length <= 200000,
      s"collectModelSized: ${rows.length} rows — not model-sized; use checkpoint()")
    rows
  }

  /** 32-bit base hash of a string: first 8 md5 hex chars as a Long — the
    * one digest both engines share. MinHash seeds derive from it with
    * affine transforms (see TextQueries) rather than fresh digests.
    */
  def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")
  def SQL_H32(x: String) =
    s"CAST(('0x' || substring(md5($x), 1, 8)) AS BIGINT)"

  /** sequential left-to-right sum fold — matches DuckDB list_aggregate sum
    * (double addition is order-sensitive; never use a parallel reduce)
    */
  def fsum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** DISTRIBUTED PREFIX SUM (q181/q184's packing backbone): `cum` =
    * Σ valCol over rows ordered before this one by the non-negative
    * numeric orderCol — the global-cumulative-sum SPEC, computed without
    * the single-partition global window Spark would otherwise plan:
    * (1) deterministic range buckets (orderCol / bucket) get local
    * cumulative sums in a parallel per-bucket window; (2) bucket TOTALS —
    * a bucket-count-sized table, model-sized at any corpus scale — get
    * running offsets in one tiny window; (3) offsets broadcast back and
    * local + offset = the exact global prefix.
    */
  def distributedPrefixSum(df: org.apache.spark.sql.DataFrame,
      orderCol: String, valCol: String,
      bucket: Long = 256L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.withColumn("__bkt", (col(orderCol) / bucket).cast("long"))
    val wLocal = Window.partitionBy("__bkt").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = base.withColumn("__lcum",
      coalesce(sum(col(valCol)).over(wLocal), lit(0L)))
    val wOff = Window.orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("__bkt").agg(sum(col(valCol)).as("__bt"))
      .withColumn("__off", coalesce(sum(col("__bt")).over(wOff), lit(0L)))
      .select("__bkt", "__off")
    local.join(broadcast(offsets), "__bkt")
      .withColumn("cum", col("__off") + col("__lcum"))
      .drop("__bkt", "__lcum", "__off")
  }
}
