package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke-level invariants of the declared query library over sf0.001 —
  * every query runs, is non-degenerate where expected, and a few known
  * aggregates hold. The real hash-exact gate is graft.Verify + the DuckDB
  * oracle (tools/check.py) at sf0.01.
  */
class QueriesSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  test("every declared query name is unique and has a runnable plan") {
    val names = SparkEntry.defs.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.defs.foreach { q =>
    test(s"${q.name} executes at sf0.001") {
      // count() forces full execution of every operator in the plan
      val n = q.fn(spark, sf).count()
      assert(n >= 0)
    }
  }

  test("scratch memos key on the dataset FINGERPRINT — in-process regeneration yields fresh derivations") {
    import graft.operators.TextQueries
    val s = spark
    import s.implicits._
    // the r8 caveat: memos keyed on PATH alone would serve the first
    // corpus's derivations after the dataset is regenerated under the
    // same path within one JVM (exactly what this test does)
    val dir = java.nio.file.Files.createTempDirectory("memokey").toString
    def gen(n: Int): Unit = (1L to n.toLong)
      .map(id => (id, (1 to 12).map(i => s"tok${(id + i) % 7}").mkString(" "), "s1"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    gen(3)
    val d1 = TextQueries.winnowFingerprints(spark, dir)
      .select("doc_id").distinct().count()
    assert(d1 == 3L, s"first corpus: $d1 docs")
    gen(5) // regenerate IN PLACE: same path, different corpus
    val d2 = TextQueries.winnowFingerprints(spark, dir)
      .select("doc_id").distinct().count()
    assert(d2 == 5L,
      s"stale memo: regenerated corpus served $d2 docs (expected 5)")
    // a second lookup of the unchanged corpus must still hit the memo
    // (same fingerprint → same key → no rebuild): assert via the build
    // ledger staying flat across the repeat call
    val before = graft.operators.Shared.memoBuildLedger.getOrElse("winnow", 0.0)
    TextQueries.winnowFingerprints(spark, dir).count()
    val after = graft.operators.Shared.memoBuildLedger.getOrElse("winnow", 0.0)
    assert(after == before, "unchanged dataset re-paid the memo build")
  }

  test("BPE budget loop: hand-computed merge order, convergence early-stop, monotone compression") {
    import graft.operators.TextQueries
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe1").toString
    // "aaa aaa aa cd": pair "a a" occurs 5× (2 per 'aaa' × wcnt 2 + 1 in
    // 'aa'), then "aa a" 2×, then nothing reaches the n ≥ 2 convergence
    // bar — training must stop at TWO merges, far below the 50 budget
    Seq((1L, "aaa aaa aa cd", "s1")).toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val merges = TextQueries.bpeLearnMerges(spark, dir)
    assert(merges == Vector(("a a", 5L), ("aa a", 2L)),
      s"merge sequence diverged: $merges")
    // monotone compression: each applied merge fires >= 2 times, so the
    // weighted token count strictly decreases along the merge chain
    val st = TextQueries.bpeWords(spark, dir)
    val counts = (0 to merges.size).map { k =>
      st.select(sum(size(TextQueries.bpeMergedSymsCol(merges.take(k)))
        * col("wcnt")).cast("long")).head.getLong(0)
    }
    assert(counts.zip(counts.tail).forall { case (a, b) => b < a },
      s"token counts not strictly decreasing: $counts")
  }

  test("BPE: identical corpora at different paths learn identical merge sequences (determinism)") {
    import graft.operators.TextQueries
    val s = spark
    import s.implicits._
    // two copies → two memo keys → two INDEPENDENT full training runs;
    // structured words give dozens of repeated pairs so the run goes
    // deep into the budget
    val text = (1 to 400).map(i => s"w${i % 23}x${i % 7}").mkString(" ")
    val dirs = Seq("bpeA", "bpeB").map { t =>
      val dir = java.nio.file.Files.createTempDirectory(t).toString
      Seq((1L, text, "s1")).toDF("doc_id", "text", "source")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    val Seq(m1, m2) = dirs.map(TextQueries.bpeLearnMerges(spark, _))
    assert(m1 == m2, s"nondeterministic training:\n$m1\nvs\n$m2")
    assert(m1.size >= 10 && m1.size <= 50,
      s"expected a deep run inside the budget, got ${m1.size} merges")
  }

  test("BPE on a corpus with no alphanumeric word: no merges, empty q171/q440, no exception") {
    import graft.operators.TextQueries
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe_empty").toString
    Seq((1L, "-- ?? !!", "s1"), (2L, "!! --", "s1"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    assert(TextQueries.bpeLearnMerges(spark, dir) == Vector.empty)
    assert(SparkEntry.queries("q171_bpe_merge_learn")(spark, dir).collect().isEmpty)
    assert(SparkEntry.queries("q440_bpe_vocab_target")(spark, dir).collect().isEmpty)
  }

  test("model-sized guard: collecting or pinning 200,001 rows fails loudly") {
    import graft.operators.Shared
    val big = spark.range(200001).toDF
    intercept[IllegalArgumentException](Shared.collectModelSized(big))
    intercept[IllegalArgumentException](Shared.pinModelSized(big))
    assert(Shared.collectModelSized(spark.range(3).toDF).length == 3)
  }

  test("PQ ADC: every packed code fits 24 bits; ADC ranking recalls exact-dot neighbors") {
    val rows = SparkEntry.queries("q186_ann_pq_adc")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the compression claim is literal: M=8 sub-codes, K=8 ⟹ 24 bits
    assert(rows.forall { r =>
      val c = r.getLong(2); c >= 0 && c < (1L << 24) },
      "packed code out of 24-bit range")
    val adcTop = rows.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // exact inner-product top-3 on the same split, computed in memory
    // (ADC approximates the dot, so that's the recall reference)
    val all = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) e").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val corpus = all.filter(_._1 >= 13L)
    val recalls = adcTop.map { case (q, approx) =>
      val qv = all(q)
      val exact = corpus.toSeq
        .map { case (cid, cv) =>
          cid -> cv.zip(qv).map { case (a, b) => a * b }.sum }
        .sortBy { case (cid, s) => (-s, cid) }.take(3).map(_._1).toSet
      approx.intersect(exact).size / 3.0
    }
    val mean = recalls.sum / recalls.size
    // 8 untrained seed centroids per subspace make a coarse quantizer;
    // the pin is that ADC carries REAL signal: a random top-3 over this
    // ~2k-vector corpus recalls ~0.005 in expectation, so the 0.1 floor
    // is ~20x random (measured 0.13 at spec-writing; training the
    // sub-codebooks — the trainedCodebook composition — is the
    // documented path to higher recall, not part of this contract)
    assert(mean >= 0.1,
      s"mean recall@3 $mean below the ~20x-random floor (${recalls.toSeq})")
  }

  test("q04_tpch_q1 groups to the expected key space") {
    val rows = SparkEntry.queries("q04_tpch_q1")(spark, sf).collect()
    assert(rows.length > 0 && rows.length <= 9) // |returnflag| x |linestatus|
  }

  test("q30_dedup_exact counts all documents") {
    val r = SparkEntry.queries("q30_dedup_exact")(spark, sf).collect().head
    assert(r.getAs[Long]("n_docs") == 500L)
    assert(r.getAs[Long]("n_unique") <= 500L)
  }

  test("q41_knn_brute returns exactly 3 neighbors per query vector") {
    val rows = SparkEntry.queries("q41_knn_brute")(spark, sf).collect()
    assert(rows.length == 15) // 5 queries x top-3
    assert(rows.map(_.getAs[Long]("rk")).forall(rk => rk >= 1 && rk <= 3))
  }

  test("winnowing HOF ladder matches a plain-Scala reference on a random corpus") {
    import graft.operators.TextQueries
    val s = spark
    import s.implicits._
    // tiny alphabet + repeated tokens force hash collisions and repeated
    // runs — the regimes where an off-by-one in the window ladder hides
    val rnd = new scala.util.Random(42)
    val docs = (0 until 100).map { i =>
      val n = 11 + rnd.nextInt(60)
      (i.toLong, (0 until n).map(_ =>
        ("abcde" (rnd.nextInt(5))).toString * (1 + rnd.nextInt(3))).mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("winprop").toString
    docs.map { case (id, t) => (id, t, s"src${id % 3}") }
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val got = TextQueries.winnowFingerprints(spark, dir)
      .select("doc_id", "fps").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // independent plain-Scala evaluation of the same contract
    def h32(x: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val M = 1048576L; val K = 8; val W = 4
    val pow = Array.iterate(1L, K)(p => p * 31L % M).reverse
    val want = docs.map { case (id, text) =>
      val hx = text.trim.split("\\s+").map(h32(_) % M)
      val wh = (0 to hx.length - K).map(i =>
        (0 until K).map(j => hx(i + j) * pow(j) % M).sum % M)
      id -> (0 to wh.length - W).map(i => wh.slice(i, i + W).min).toSet
    }.toMap
    assert(got == want)
  }

  test("multi-probe IVF recall@3 dominates single-probe and is exact at nprobe=K") {
    import graft.operators.SimilarityQueries
    // ground truth: independent brute-force top-3 on the same splits
    val truth = SimilarityQueries.exactTop3(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nprobe: Int): Double = {
      val got = SimilarityQueries.ivfMultiprobe(spark, sf, nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got intersect truth).size.toDouble / truth.size
    }
    val r1 = recall(1); val r2 = recall(2); val rK = recall(8)
    assert(r2 >= r1, s"nprobe=2 recall $r2 below single-probe $r1")
    // at nprobe=K every bucket is probed — the candidate set is the whole
    // corpus, so the result IS the exact top-3
    assert(rK == 1.0, s"nprobe=K recall $rK != 1.0")
    // floor: these synthetic embeddings are near-uniform (no real cluster
    // structure), so IVF recall tracks raw bucket coverage ~ nprobe/K —
    // probing 2 of 8 buckets must recover at least that coverage fraction
    // (measured 0.4 on this fixture; real clustered corpora sit far higher)
    assert(r2 >= 2.0 / 8, s"nprobe=2 recall $r2 below bucket coverage")
  }

  test("trained IVF codebook: recall@3 curve is monotone and exact at full probe") {
    import graft.operators.SimilarityQueries
    val truth = SimilarityQueries.exactTop3(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = SimilarityQueries.trainedCodebook(spark, sf)
    // Lloyd can drop empty clusters; probe counts range over what's left
    val k = cents.count().toInt
    assert(k >= 2 && k <= 8, s"degenerate codebook: $k centroids")
    val curve = (1 to k).map { np =>
      val got = SimilarityQueries.ivfMultiprobe(spark, sf, np, Some(cents))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got intersect truth).size.toDouble / truth.size
    }
    // candidate sets grow with nprobe, so recall must never decrease …
    curve.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a, s"recall curve not monotone: $curve")
    }
    // … and at nprobe=k every bucket is probed: the result IS exact top-3
    assert(curve.last == 1.0, s"full probe must be exact: $curve")
    info(s"trained-codebook recall@3 by nprobe: " +
      curve.zipWithIndex.map { case (r, i) => s"${i + 1}→$r" }.mkString(", "))
  }

  test("trained+partitioned IVF (q172) reproduces the trained in-query path and its recall") {
    import graft.operators.SimilarityQueries
    // same codebook, same splits, same nprobe → the partitioned layout
    // must change WHERE bytes come from, never WHAT comes back
    val trained = SparkEntry.queries("q159_ann_ivf_trained")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val part = SparkEntry.queries("q172_ann_ivf_trained_partitioned")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(part == trained, s"partitioned path diverged:\n$part\nvs\n$trained")
    // recall of the trained PARTITIONED path against brute-force truth
    val truth = SimilarityQueries.exactTop3(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = part.map { case (q, c, _) => (q, c) }
    val recall = (pairs intersect truth).size.toDouble / truth.size
    assert(recall > 0.0 && recall <= 1.0, s"degenerate recall $recall")
    info(s"trained partitioned-layout recall@3 at nprobe=2: $recall")
  }

  test("quality classifier (q173) separates a constructed corpus") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("qualclf").toString
    // good docs: ~150 chars of mostly-letters prose (alpha ratio ≈ 0.82,
    // inside the silver rule); bad docs: digit/symbol junk (ratio ≈ 0)
    val good = "The quick brown fox jumps over the lazy dog and keeps " +
      "running through the quiet forest while birds sing softly in the " +
      "warm morning light"
    val bad = "000 111 222 333 444 555 666 777 888 999 12345 67890 " +
      "!!! ### 000 111 222 333 444 555 666 777 888 999 12345 67890"
    val docs = (0L until 10L).map(i => (i, s"$good v$i", "s1")) ++
      (10L until 20L).map(i => (i, s"$bad v$i", "s1"))
    docs.toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q173_quality_classifier")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rows.length == 20)
    // trained on the even-id half only, the model must still classify
    // EVERY doc (train + held-out odd ids) to its silver label
    rows.foreach { case (id, y, pred) =>
      assert(pred == y, s"doc $id: pred $pred != silver label $y")
    }
    assert(rows.count(_._2 == 1L) == 10, "silver labels must split 10/10")
  }

  test("convergence-driven PageRank reaches an exact integer fixpoint") {
    import graft.operators.GraphQueries
    val s = spark
    import s.implicits._
    // symmetric triangle: every node src+dst, outdeg 2 — by symmetry the
    // exact fixed-point iterate stabilizes after one correction round
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 2L), (2L, 1L))
      .toDF("src", "dst")
    val (ranks, iters, converged) = GraphQueries.pageRankConverged(tri, 60)
    assert(converged, s"triangle did not converge in 60 rounds")
    assert(iters >= 2 && iters < 60, s"unexpected round count $iters")
    val rs = ranks.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rs.keySet == Set(1L, 2L, 3L), rs)
    assert(rs.values.toSet.size == 1, s"symmetric graph, unequal ranks: $rs")
    // asymmetric hub: 2 is every node's target — if the fixed-point
    // iterate converges (damping contracts in real arithmetic; integer
    // truncation makes this worth asserting, hence the probe), the hub
    // must dominate and the symmetric leaves must tie
    val hub = Seq((1L, 2L), (2L, 1L), (3L, 2L), (2L, 3L)).toDF("src", "dst")
    val (ranks2, iters2, converged2) = GraphQueries.pageRankConverged(hub, 200)
    assert(converged2, s"hub graph hit the 200-round cap")
    val rs2 = ranks2.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rs2(2L) > rs2(1L), rs2)
    assert(rs2(1L) == rs2(3L), rs2)
    info(s"fixpoint rounds: triangle=$iters, hub=$iters2")
  }

  test("IVF re-rank: top-1 is brute-force-exact whenever the true bucket was probed") {
    import graft.operators.SimilarityQueries
    // the candidate SET is approximate (probed buckets); the ORDER within
    // it must be exact (cosine on full vectors) — so whenever a query's
    // probe set covers the true nearest neighbor's bucket, IVF top-1 must
    // equal the brute-force top-1, at EVERY nprobe
    val truth1 = SimilarityQueries.exactTop3(spark, sf).collect()
      .filter(_.getLong(3) == 1L).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bucketOf = SimilarityQueries.ivfCorpusAssign(spark, sf)
      .select("cid", "cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var covered = 0
    (1 to 8).foreach { nprobe =>
      val probed = SimilarityQueries.ivfQueryProbes(spark, sf, nprobe)
        .select("qid", "cent_id").collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val got1 = SimilarityQueries.ivfMultiprobe(spark, sf, nprobe).collect()
        .filter(_.getLong(3) == 1L).map(r => r.getLong(0) -> r.getLong(1)).toMap
      truth1.foreach { case (qid, cid) =>
        if (probed(qid).contains(bucketOf(cid))) {
          covered += 1
          assert(got1(qid) == cid,
            s"nprobe=$nprobe qid=$qid: true bucket probed but top-1 " +
              s"${got1(qid)} != brute-force $cid")
        }
      }
    }
    // the property must not hold vacuously (at nprobe=8 every bucket is
    // probed, so every query is covered at least once)
    assert(covered >= truth1.size, s"only $covered covered cases")
  }

  test("salted winnow pairs at the production cap are exactly q154's pairs") {
    import graft.operators.TextQueries
    val plain = TextQueries.winnowPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val salted = TextQueries.winnowPairsSalted(spark, sf, hotAt = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(salted.view.mapValues(_._1).toMap == plain,
      "cold-bucket pair semantics must be preserved bit-for-bit")
    // this corpus's largest bucket is 6 members: nothing is hot at 64
    assert(salted.values.forall(_._2 == 0L))
  }

  test("salted winnow pairs surface hot-bucket evidence without enumerating it") {
    import graft.operators.TextQueries
    val s = spark
    import s.implicits._
    // runs A and B are shared ONLY by docs 1,2 (cold buckets of 2);
    // run C is shared by docs 1,2,3,4 (bucket >= 4: hot at hotAt=2).
    // Unique per-doc filler keeps boundary windows out of shared buckets.
    def run(tag: String) = (1 to 11).map(i => s"$tag$i").mkString(" ")
    def fill(doc: Int, tag: String) =
      (1 to 11).map(i => s"f$doc$tag$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("winsalt").toString
    Seq(
      (1L, s"${run("A")} ${fill(1, "x")} ${run("B")} ${fill(1, "y")} ${run("C")}", "s1"),
      (2L, s"${run("A")} ${fill(2, "x")} ${run("B")} ${fill(2, "y")} ${run("C")}", "s2"),
      (3L, s"${fill(3, "x")} ${run("C")} ${fill(3, "y")}", "s3"),
      (4L, s"${fill(4, "x")} ${run("C")} ${fill(4, "y")}", "s1"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val rows = TextQueries.winnowPairsSalted(spark, dir, hotAt = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // only (1,2) shares >= 2 cold fingerprints; C's buckets are hot, so
    // they contribute evidence counts, not pairs — (1,3),(3,4) etc. absent
    assert(rows.keySet == Set((1L, 2L)), s"got ${rows.keySet}")
    val (nShared, nHot) = rows((1L, 2L))
    assert(nShared >= 2, s"cold shared fingerprints: $nShared")
    assert(nHot >= 1, s"hot evidence must survive the cap: $nHot")
  }

  test("exact-substring spans: maximal shared runs recovered exactly, " +
      "separate runs stay separate") {
    val s = spark
    import s.implicits._
    // RUN20: a 20-token run shared by docs 1,2 at DIFFERENT offsets amid
    // unique filler → each doc reports exactly ONE span of 20 tokens
    // (k=8: duplicated shingle starts merge into one island).
    // Docs 4,5 share an 8-token run and a 12-token run separated by
    // unique tokens → TWO spans (8, 12), never merged. Doc 3 shares
    // nothing → absent from the output.
    def toks(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val run20 = toks("r", 20)
    val run8 = toks("p", 8)
    val run12 = toks("q", 12)
    val dir = java.nio.file.Files.createTempDirectory("substr").toString
    Seq(
      (1L, s"${toks("u1f", 10)} $run20 ${toks("u1g", 10)}", "s1"),
      (2L, s"${toks("u2f", 5)} $run20 ${toks("u2g", 5)}", "s2"),
      (3L, toks("u3f", 30), "s3"),
      (4L, s"$run8 ${toks("u4f", 6)} $run12", "s1"),
      (5L, s"${toks("u5f", 4)} $run8 ${toks("u5g", 7)} $run12 ${toks("u5h", 3)}", "s2"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q163_exact_substr_spans")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows.keySet == Set(1L, 2L, 4L, 5L), s"got ${rows.keySet}")
    assert(rows(1L) == ((1L, 20L, 20L)), s"doc1: ${rows(1L)}")
    assert(rows(2L) == ((1L, 20L, 20L)), s"doc2: ${rows(2L)}")
    assert(rows(4L) == ((2L, 20L, 12L)), s"doc4: ${rows(4L)}")
    assert(rows(5L) == ((2L, 20L, 12L)), s"doc5: ${rows(5L)}")
  }

  test("simhash LSH banding equals all-pairs at hd <= 3 on random corpora") {
    import graft.operators.TextQueries
    val s = spark
    import s.implicits._
    // random docs over a tiny vocabulary (fingerprints cluster) plus
    // exact copies (hd = 0 pairs guaranteed) — the pigeonhole property
    // (any hd <= 3 pair collides in >= 1 of the 4 bands) must make the
    // banded result EQUAL the brute force, not approximate it
    val rnd = new scala.util.Random(20260815L)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val base = (1L to 60L).map { id =>
      id -> Array.fill(5 + rnd.nextInt(16))(vocab(rnd.nextInt(vocab.length)))
    }
    val docs = base ++ base.take(8).map { case (id, t) => (id + 100L) -> t }
    val dir = java.nio.file.Files.createTempDirectory("simlsh").toString
    docs.map { case (id, t) => (id, t.mkString(" "), "s1") }
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val banded = SparkEntry.queries("q174_simhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fp = TextQueries.simhashTable(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, fa) <- fp; (b, fb) <- fp if a < b
      hd = java.lang.Long.bitCount(fa ^ fb) if hd <= 3
    } yield (a, b, hd.toLong)).toSet
    assert(brute.nonEmpty, "degenerate fixture: no close pairs at all")
    assert(banded == brute,
      s"banded missed ${brute.diff(banded)} / invented ${banded.diff(brute)}")
  }

  test("exact-substring spans match an independent brute force on random corpora") {
    val s = spark
    import s.implicits._
    val K = 8
    // deterministic high-collision corpus: tiny vocabulary → many shared
    // 8-grams, overlapping and adjacent runs, internal repeats
    val rnd = new scala.util.Random(20260813L)
    val vocab = Array("a", "b", "c", "d", "e", "f")
    val docs: Map[Long, Array[String]] = (1L to 40L).map { id =>
      id -> Array.fill(15 + rnd.nextInt(16))(vocab(rnd.nextInt(vocab.length)))
    }.toMap
    // brute force: positions whose 8-gram appears in >= 2 DISTINCT docs,
    // consecutive positions merged into maximal spans
    val owners = docs.toSeq
      .flatMap { case (id, t) =>
        (0 to t.length - K).map(i => (t.slice(i, i + K).mkString(" "), id)) }
      .groupBy(_._1).map { case (sh, xs) => sh -> xs.map(_._2).distinct.size }
    val expected = docs.flatMap { case (id, t) =>
      val dup = (0 to t.length - K)
        .filter(i => owners(t.slice(i, i + K).mkString(" ")) >= 2)
        .map(_ + 1)
      if (dup.isEmpty) None
      else {
        val spans = dup.foldLeft(List.empty[(Int, Int)]) {
          case ((a, b) :: rest, p) if p == b + 1 => (a, p) :: rest
          case (acc, p) => (p, p) :: acc
        }.map { case (a, b) => (a, b + K - 1) }
        val lens = spans.map { case (a, b) => (b - a + 1).toLong }
        Some(id -> ((spans.size.toLong, lens.sum, lens.max)))
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("substrprop").toString
    docs.toSeq.map { case (id, t) => (id, t.mkString(" "), "s1") }
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q163_exact_substr_spans")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected,
      s"mismatch keys: ${(got.keySet diff expected.keySet) ++ (expected.keySet diff got.keySet)}; " +
        s"diffs: ${expected.collect { case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }.take(5)}")
  }

  test("substring excise matches an independent brute force on random corpora") {
    val s = spark
    import s.implicits._
    val K = 8
    def fp(x: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    // same high-collision regime as the q163 property test: tiny vocab →
    // shared, overlapping, and self-repeated 8-grams everywhere
    val rnd = new scala.util.Random(20260814L)
    val vocab = Array("a", "b", "c", "d", "e", "f")
    val docs: Map[Long, Array[String]] = (1L to 40L).map { id =>
      id -> Array.fill(15 + rnd.nextInt(16))(vocab(rnd.nextInt(vocab.length)))
    }.toMap
    // brute force: owner(8-gram) = min doc_id containing it; a position is
    // dropped iff covered by a start whose owner is an EARLIER doc
    val owner = docs.toSeq
      .flatMap { case (id, t) =>
        (0 to t.length - K).map(i => (t.slice(i, i + K).mkString(" "), id)) }
      .groupBy(_._1).map { case (sh, xs) => sh -> xs.map(_._2).min }
    val expected = docs.map { case (id, t) =>
      val covered = (0 to t.length - K)
        .filter(i => owner(t.slice(i, i + K).mkString(" ")) < id)
        .flatMap(i => i until (i + K)).toSet
      val kept = t.indices.filterNot(covered).map(t)
      id -> ((t.length.toLong, covered.size.toLong, fp(kept.mkString(" "))))
    }
    val dir = java.nio.file.Files.createTempDirectory("exciseprop").toString
    docs.toSeq.map { case (id, t) => (id, t.mkString(" "), "s1") }
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q170_exact_substr_excise")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(4))))
      .toMap
    assert(got == expected,
      s"diffs: ${expected.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(5)}")
  }

  test("bloom snapshot dedup survives an empty prior snapshot") {
    val s = spark
    import s.implicits._
    // all doc_ids odd → the even-id prior snapshot is EMPTY and the bloom
    // aggregate evaluates to NULL; every incoming row must come back as
    // definitely new (no NPE, no dropped rows)
    val dir = java.nio.file.Files.createTempDirectory("bloomempty").toString
    Seq((1L, "some text here", "s1"), (3L, "other text there", "s1"),
        (5L, "third document text", "s2"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q164_bloom_snapshot_dedup")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows == Map("s1" -> ((2L, 0L, 2L)), "s2" -> ((1L, 0L, 1L))), rows)
  }

  test("bigram LM score: fluent text outranks OOV gibberish; OOV counted exactly") {
    val s = spark
    import s.implicits._
    // train split (even ids) = four copies of a fluent sentence; eval has
    // one in-distribution doc and one all-OOV doc — the LM must rank them
    val dir = java.nio.file.Files.createTempDirectory("bigramlm").toString
    val train = "the cat sat on the mat and the dog ran off"
    Seq(
      (0L, train, "s1"), (2L, train, "s1"), (4L, train, "s1"), (6L, train, "s1"),
      (1L, "the cat sat on the mat", "s1"),
      (3L, "qq ww ee rr tt yy uu", "s1"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    // columns: doc_id, source, n_bigrams, n_oov, sum_ppm, lm_score
    val rows = SparkEntry.queries("q169_bigram_lm_score")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(5))))
      .toMap
    assert(rows(3L)._1 == 6L && rows(3L)._2 == 6L, rows) // all 6 bigrams OOV
    assert(rows(1L)._2 == 0L, rows) // in-distribution doc: every bigram seen
    assert(rows(1L)._3 > rows(3L)._3, rows) // fluent outranks gibberish
    assert(rows(0L)._3 > rows(3L)._3, rows) // a train member does too
  }

  test("incremental IVF-PQ append yields the identical code row-set as one-shot") {
    import graft.operators.SimilarityQueries
    def rows(root: String) = spark.read.parquet(root)
      .select("cid", "cent_id", "m", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    val one = rows(SimilarityQueries.ivfPqLayout(spark, sf))
    val inc = rows(SimilarityQueries.ivfPqLayoutIncremental(spark, sf))
    assert(one.nonEmpty && one == inc,
      s"append diverged from rebuild: ${(one -- inc).take(3)} vs ${(inc -- one).take(3)}")
  }

  test("IVF-PQ results stay inside each query's probed coarse partitions") {
    import graft.operators.SimilarityQueries
    // composition invariant: every returned candidate belongs to a coarse
    // partition the QUERY probed (the oracle pins exact ADC values; this
    // pins the IVF candidate-set semantics independently)
    val rows = SparkEntry.queries("q189_ann_ivfpq")(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 15, s"5 queries x top-3 expected, got ${rows.length}")
    val assign = SimilarityQueries.ivfCorpusAssign(spark, sf)
      .select("cid", "cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probes = SimilarityQueries.ivfQueryProbes(spark, sf, 2)
      .select("qid", "cent_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    rows.foreach { case (qid, cid) =>
      assert(probes(qid).contains(assign(cid)),
        s"candidate $cid of query $qid sits outside the probed partitions")
    }
  }

  test("length buckets: exact power-of-two rounding, waste, and ceil-div batches") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lenbuck").toString
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    // token counts 5, 8, 9, 1 -> buckets 8, 8, 16, 1
    Seq((1L, words(5), "s1"), (2L, words(8), "s1"),
        (3L, words(9), "s1"), (4L, words(1), "s1"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    // columns: bucket_len, n_docs, sum_tokens, pad_waste, n_batches
    val rows = SparkEntry.queries("q196_length_buckets")(spark, dir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(rows == Map(
      1L -> ((1L, 1L, 0L, 1L)),
      8L -> ((2L, 13L, 3L, 1L)),
      16L -> ((1L, 9L, 7L, 1L))), rows)
  }

  test("trained language-ID: distinct char distributions classify held-out docs") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("langid").toString
    // two synthetic languages with disjoint character inventories; even
    // ids train, odd ids are held out — the confusion matrix must be
    // purely diagonal
    val aa = "aba bab aab bba aba bab"
    val zz = "zyz yzy zzy yyz zyz yzy"
    Seq((0L, aa, "aa"), (2L, aa, "aa"), (1L, aa, "aa"), (3L, aa, "aa"),
        (4L, zz, "zz"), (6L, zz, "zz"), (5L, zz, "zz"), (7L, zz, "zz"))
      .map { case (id, t, l) => (id, t, l, "s1") }
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val m = SparkEntry.queries("q210_langid_trained")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(m == Map(("aa", "aa") -> 4L, ("zz", "zz") -> 4L), m)
  }

  test("trained language-ID: an empty training split yields an empty " +
      "confusion matrix with the usual schema, not an exception") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("langid_empty").toString
    // no even-id document reaches length 3: the even id is too short and
    // every other document is odd, so the model has no language at all
    Seq((0L, "ab", "aa"), (1L, "aba bab", "aa"), (3L, "zyz yzy", "zz"))
      .map { case (id, t, l) => (id, t, l, "s1") }
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q210_langid_trained")(spark, dir)
    assert(out.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("lang" -> "string", "pred_lang" -> "string", "n_docs" -> "bigint"),
      out.schema)
    assert(out.collect().isEmpty)
  }

  test("PMI co-occurrence: a planted high-association pair ranks first") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pmi").toString
    // "qq ww" always adjacent (6 co-occurrences) while filler tokens
    // co-occur with everything — the planted pair must rank top
    val docs = (1L to 6L).map(i =>
      (i, s"qq ww f${i}a f${i}b f${i}c f${i}d f${i}e f${i}f", "s1"))
    docs.toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q209_pmi_cooccur")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.head._1 == "qq" && rows.head._2 == "ww"
      && rows.head._3 >= 6L, rows.toSeq)
  }

  test("HTML extraction: chrome dropped, body kept byte-exact, entities decoded") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("htmlx").toString
    val body1 = "the quick brown fox jumps over the lazy dog again and again"
    val body3 = "alpha &amp; beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((1L, body1, "s1"),
        (2L, "too short", "s1"),           // body fails the ≥10-word rule
        (3L, body3, "s1"))                 // &amp; must decode to &
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val rows = SparkEntry.queries("q234_html_extract")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getString(6)))).toMap
    // 5 non-empty segments each (title, nav, body, ad, footer); only the
    // body survives the density rule, and its bytes are pinned by md5
    assert(rows(1L) == ((5L, 1L, md5hex(body1))), rows(1L))
    assert(rows(2L)._2 == 0L && rows(2L)._3 == md5hex(""), rows(2L))
    assert(rows(3L) == ((5L, 1L,
      md5hex(body3.replace("&amp;", "&")))), rows(3L))
  }

  test("2D skyline: strict dominance only — price ties never dominate") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("skyline").toString
    // parts 2 and 4 are dominated (something cheaper AND larger exists);
    // 5 ties 1 on price, so neither dominates the other and both survive
    Seq((1L, 10.00, 5), (2L, 20.00, 3), (3L, 5.00, 2),
        (4L, 30.00, 7), (5L, 10.00, 9))
      .toDF("p_partkey", "p_retailprice", "p_size")
      .write.parquet(s"$dir/part.parquet")
    val keep = SparkEntry.queries("q207_skyline_2d")(spark, dir)
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    assert(keep == Set(1L, 3L, 5L), keep)
  }

  test("budget apportionment: quotas sum exactly to N, remainder ties by source") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("apport").toString
    // masses 7/7/3 (total 17): bases 411/411/176 sum 998, remainders
    // 13/13/8 -> the two leftover seats go to sA and sB (tie on 13,
    // source-name order), never sC
    def doc(id: Long, n: Int, src: String) =
      (id, (1 to n).map(i => s"t$i").mkString(" "), src)
    Seq(doc(1, 7, "sA"), doc(2, 7, "sB"), doc(3, 3, "sC"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q208_budget_apportion")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(rows == Map("sA" -> ((411L, 1L, 412L)), "sB" -> ((411L, 1L, 412L)),
      "sC" -> ((176L, 0L, 176L))), rows)
    assert(rows.values.map(_._3).sum == 1000L)
  }

  test("PCA power iteration recovers a planted dominant direction") {
    val s = spark
    import s.implicits._
    // only dimension 1 varies after centering -> the top component must
    // be ±e1 (loading magnitude ~1 on dim 1, ~0 elsewhere)
    val dir = java.nio.file.Files.createTempDirectory("pca").toString
    (0 until 6).map { i =>
      val v = Array.fill(64)(7.0f); v(0) = (i % 5).toFloat
      (i.toLong, v, 0)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val loads = SparkEntry.queries("q199_pca_power")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(math.abs(loads(1L)) - 1.0) < 1e-9, loads(1L))
    (2L to 64L).foreach(j =>
      assert(math.abs(loads(j)) < 1e-9, s"dim $j loading ${loads(j)}"))
  }

  test("MMR rerank: diversity demotes the near-duplicate a relevance ranking keeps") {
    val s = spark
    import s.implicits._
    // query e1; candidate 14 is a near-dup of top pick 13 (higher raw
    // relevance than 15) but MMR must pick the DIVERSE 15 second and
    // push 14 to third — the exact behavior relevance-only top-k lacks
    val dir = java.nio.file.Files.createTempDirectory("mmr").toString
    Seq(
      (8L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (13L, Array(1.0f, 0.1f, 0.0f, 0.0f), 0),
      (14L, Array(1.0f, 0.11f, 0.0f, 0.0f), 0),
      (15L, Array(1.0f, -0.1f, 0.0f, 0.0f), 0),
      (16L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val picks = SparkEntry.queries("q195_mmr_rerank")(spark, dir)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(picks == Map(1L -> 13L, 2L -> 15L, 3L -> 14L), picks)
  }

  test("indexed phrase search: overlapping matches counted, workload deterministic") {
    val s = spark
    import s.implicits._
    // trigram counts: (x,y,z)=4 > {(q,q,q),(y,z,x),(z,x,y)}=2 — the lex
    // tie-break picks (q,q,q) and (y,z,x); "q q q q" pins OVERLAPPING
    // occurrences (p=4 and p=5) which a naive disjoint-chunk index misses
    val dir = java.nio.file.Files.createTempDirectory("phrase").toString
    Seq((1L, "x y z x y z x y z", "s1"), (2L, "x y z q q q q", "s1"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q193_phrase_search")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(rows == Map(
      ("x", "y", "z") -> ((4L, 2L, 1L)),
      ("q", "q", "q") -> ((2L, 1L, 2L)),
      ("y", "z", "x") -> ((2L, 1L, 1L))), rows)
  }

  test("trigram stupid backoff: level selection exact; fluent outranks gibberish") {
    val s = spark
    import s.implicits._
    // train split (even ids) = the fluent sentence; eval exercises each
    // backoff level exactly once: doc 1 all-seen trigrams (level 3),
    // doc 3 unseen trigram over a seen bigram (level 2), doc 5 fully OOV
    // (level 1 with an unseen unigram → ppm 0)
    val dir = java.nio.file.Files.createTempDirectory("trigramlm").toString
    Seq(
      (0L, "the cat sat on the mat", "s1"),
      (1L, "the cat sat on the mat", "s1"),
      (3L, "a cat sat", "s1"),
      (5L, "qq ww ee", "s1"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    // columns: doc_id, source, n_trigrams, n_l3, n_l2, n_l1, sum_ppm, lm_score
    val rows = SparkEntry.queries("q187_trigram_backoff_score")(spark, dir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getDouble(7))))
      .toMap
    assert(rows(1L)._1 == 4L && rows(1L)._2 == 4L, rows) // all trigrams seen
    // doc 3: one trigram, backed off to the seen (cat, sat) bigram with
    // context count c2(cat)=1 → ppm = 400000·1 div 1
    assert(rows(3L) == ((1L, 0L, 1L, 0L, 400000L, 400000.0)), rows)
    // doc 5: fully OOV → unigram floor with unseen w3 → ppm 0
    assert(rows(5L) == ((1L, 0L, 0L, 1L, 0L, 0.0)), rows)
    assert(rows(1L)._6 > rows(3L)._6 && rows(3L)._6 > rows(5L)._6, rows)
  }

  test("hashed n-gram classifier separates good/bad text incl. held-out ids") {
    val s = spark
    import s.implicits._
    // good text: 119 chars, alpha-dominant → silver y=1; bad text: digits
    // → y=0. Train = even ids; odd ids are HELD OUT and share the same
    // bigram features, so the learned bucket weights must classify them.
    val good = (Seq.fill(4)("worda wordb wordc wordd worde")).mkString(" ")
    val bad = (Seq.fill(10)("12345 67890")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("nbhash").toString
    Seq((0L, good, "s1"), (2L, good, "s1"), (4L, bad, "s1"), (6L, bad, "s1"),
        (1L, good, "s1"), (3L, bad, "s1"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    // columns: doc_id, source, y, n_feats, score_ppm, pred
    val rows = SparkEntry.queries("q188_hashed_ngram_classifier")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(4), r.getLong(5))))
      .toMap
    rows.foreach { case (id, (y, score, pred)) =>
      assert(pred == y, s"doc $id: pred $pred != silver $y ($rows)")
      assert((score > 0) == (y == 1L), s"doc $id score sign ($rows)")
    }
    assert(rows.keySet == Set(0L, 1L, 2L, 3L, 4L, 6L), rows)
  }

  test("substring excise: later copy removed exactly, owner and bystander untouched") {
    val s = spark
    import s.implicits._
    def fp(x: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val run = (1 to 10).map(i => s"sh$i").mkString(" ") // 10-token shared run
    val dir = java.nio.file.Files.createTempDirectory("excise").toString
    Seq(
      (1L, s"u1 u2 u3 $run v1 v2", "s1"),   // owner: keeps its copy
      (2L, s"w1 w2 $run x1 x2 x3", "s1"),   // later copy: run excised
      (3L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12", "s1")) // bystander
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    // columns: doc_id, n_tokens, n_dropped, clean_len, clean_fp
    val rows = SparkEntry.queries("q170_exact_substr_excise")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(4))))
      .toMap
    assert(rows(1L) == ((15L, 0L, fp(s"u1 u2 u3 $run v1 v2"))), rows)
    assert(rows(2L) == ((15L, 10L, fp("w1 w2 x1 x2 x3"))), rows)
    assert(rows(3L) == ((12L, 0L, fp("b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"))), rows)
  }

  test("BPE merge learn: chained merges apply greedily and re-rank") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpemerge").toString
    // "aaa" appears 3× and contains the (a,a) pair TWICE per occurrence —
    // merge #1 must count 6, not 3. Applying it greedily left-to-right
    // turns a,a,a into aa,a (NOT aa,aa), so merge #2 is (aa,a) ×3; the
    // count-1 pairs (b,b)/(c,c) then fall below the r9 convergence bar
    // (n ≥ 2) and training stops at TWO merges.
    Seq((1L, "aaa bb aaa", "s1"), (2L, "aaa cc", "s1"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q171_bpe_merge_learn")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(rows == List(("a a", 6L, 1L), ("aa a", 3L, 2L)), rows)
    // APPLY audit on the same corpus (shares the memoized merges): the 2
    // learned merges collapse every "aaa" to one symbol while bb/cc stay
    // two chars — 5 word occurrences, 13 chars, 3 + 2 + 2 = 7 post-BPE
    // tokens, vocab {aaa, b, c}
    val audit = SparkEntry.queries("q175_bpe_apply")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(audit.toList == List((5L, 13L, 7L, 3L)), audit.toList)
  }

  test("winnowing guarantee: a shared run of >= k+w-1 tokens shares a fingerprint") {
    import graft.operators.TextQueries
    val s = spark
    import s.implicits._
    // two documents that only overlap in one 11-token run (k+w-1 = 11):
    // winnowing MUST select at least one common fingerprint from it,
    // while globally the documents differ
    val run = (1 to 11).map(i => s"shared$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("winnow").toString
    Seq(
      (1L, s"alpha beta gamma delta epsilon zeta $run tail1 tail2", "s1"),
      (2L, s"$run one two three four five six seven eight nine", "s2"),
      (3L, "totally different text with nothing in common at all " +
        "padding words to pass the minimum token filter easily", "s3"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val fps = TextQueries.winnowFingerprints(spark, dir)
      .select("doc_id", "fps").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty,
      s"shared run produced no shared fingerprint: ${fps(1L)} vs ${fps(2L)}")
    assert((fps(1L) intersect fps(3L)).isEmpty,
      "unrelated documents should not collide on this fixture")
  }

  test("approx_count_distinct (HLL) lands within 5% of exact") {
    // sketch output can't hash-match a DuckDB oracle (different sketch
    // impls), so accuracy is asserted here instead of in the query list
    import org.apache.spark.sql.functions._
    val r = Tables.lineitem(spark, sf)
      .agg(countDistinct(col("l_partkey")).as("exact"),
        approx_count_distinct(col("l_partkey")).as("approx"))
      .collect().head
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("approx_percentile (sketch) lands within its accuracy bound of exact") {
    // same rationale as HLL: sketch outputs differ across engines, so the
    // oracle-checked query (q63) uses exact percentile and the sketch's
    // accuracy contract is asserted here. accuracy=100 ⇒ rank error ≤ 1%.
    import org.apache.spark.sql.functions._
    val r = Tables.lineitem(spark, sf)
      .agg(expr("percentile(l_extendedprice, 0.5)").as("exact"),
        expr("approx_percentile(l_extendedprice, 0.5, 100)").as("approx"),
        count(lit(1)).as("n"))
      .collect().head
    val (exact, approx) = (r.getDouble(0), r.getDouble(1))
    // convert the 1%-rank bound to a value bound via the observed spread
    val spread = Tables.lineitem(spark, sf)
      .agg(expr("percentile(l_extendedprice, 0.55)") -
        expr("percentile(l_extendedprice, 0.45)"))
      .collect().head.getDouble(0)
    assert(math.abs(approx - exact) <= spread,
      s"exact=$exact approx=$approx spread=$spread")
  }

  test("approx_top_k recovers the exact top-3 heavy hitters") {
    import org.apache.spark.sql.functions._
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").count()
      .orderBy(col("count").desc).limit(3)
      .collect().map(_.getString(0)).toSet
    val approx = Tables.lineitem(spark, sf)
      .agg(expr("approx_top_k(l_returnflag, 3)").as("tk"))
      .selectExpr("explode(tk) AS e").select("e.item")
      .collect().map(_.getString(0)).toSet
    // 3 items over a 3-value column: the sketch must be exact here
    assert(approx == exact, s"approx=$approx exact=$exact")
  }

  test("datasketches HLL (hll_sketch_agg/estimate) lands within 5% of exact") {
    // the mergeable-sketch path (vs approx_count_distinct's in-plan HLL++):
    // sketches union across partitions/days — the 100 TB rollup shape
    import org.apache.spark.sql.functions._
    val r = Tables.lineitem(spark, sf)
      .agg(countDistinct(col("l_partkey")).as("exact"),
        expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))").as("approx"))
      .collect().head
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("seeded sampling is deterministic and near the requested fraction") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber")
    val a = li.sample(withReplacement = false, fraction = 0.1, seed = 42L)
    val b = li.sample(withReplacement = false, fraction = 0.1, seed = 42L)
    val (ca, cb) = (a.count(), b.count())
    assert(ca == cb, "same seed must select the same rows")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val n = li.count().toDouble
    assert(math.abs(ca / n - 0.1) < 0.03, s"fraction off: ${ca / n}")
    // stratified: per-stratum fractions honored (Bernoulli per key)
    val sb = Tables.lineitem(spark, sf)
      .stat.sampleBy("l_returnflag", Map("A" -> 0.2, "N" -> 0.05, "R" -> 0.0), 7L)
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!sb.contains("R"), "0-fraction stratum must be empty")
    val base = Tables.lineitem(spark, sf).groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(sb("A").toDouble / base("A") - 0.2) < 0.05)
    assert(math.abs(sb("N").toDouble / base("N") - 0.05) < 0.03)
  }

  test("vocab growth: cumulative curve is monotone and exact on a planted corpus") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("heaps").toString
    // 10 docs (ids 0..9 -> one per bucket); doc i introduces exactly one
    // NEW token (n$i) plus the repeat token r -- vocab_cum must be i+2
    // at bucket i+1 (the 11th distinct token is r, first seen in doc 0)
    (0L to 9L).map(i => (i, s"r n$i r", "s1"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q211_vocab_growth")(spark, dir)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 10)
    rows.zipWithIndex.foreach { case ((b, dc, tc, vc), i) =>
      assert(b == i + 1 && dc == i + 1 && tc == 3L * (i + 1) && vc == i + 2,
        s"bucket $b: ($dc, $tc, $vc)")
    }
  }

  test("prefix-filter Jaccard join equals brute-force all-pairs at threshold") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("ppjoin").toString
    // docs 1/2: identical 12-token text (jac 1.0); doc 3: one token
    // changed near the end (high jac, above 0.8); doc 4: half different
    // (below); docs 5/6: unrelated
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val nearD = ((1 to 11).map(i => s"w$i") :+ "zz").mkString(" ")
    val far = ((1 to 6).map(i => s"w$i") ++ (1 to 6).map(i => s"x$i")).mkString(" ")
    Seq((1L, base, "s"), (2L, base, "s"), (3L, nearD, "s"),
        (4L, far, "s"), (5L, "aa bb cc dd ee", "s"), (6L, "ff gg hh ii jj", "s"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q212_jaccard_prefix_join")(spark, dir)
      .select("doc1", "doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same hashed-shingle universe
    val e = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(split(trim(text), '\\\\s+')) - 2)," +
          " i -> concat_ws(' ', slice(split(trim(text), '\\\\s+'), i, 3)))")))
        .as("w"))
      .select(col("doc_id"), expr(
        "cast(conv(substring(md5(w), 1, 8), 16, 10) as long)").as("g"))
      .distinct()
    val sz = e.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val brute = e.as("a").join(e.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("d1"), col("sz").as("s1")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("sz").as("s2")), "d2")
      .filter(lit(5) * col("i") >= lit(4) * (col("s1") + col("s2") - col("i")))
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"got $got, brute $brute")
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)))
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("markov transitions: exact pair counts with (ts, event_id) tie-break") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("markov").toString
    // user 1: A B A B A in ts order; the two t=30 events order by
    // event_id (4 then 5), so the final transitions are B->A then A->A
    Seq((1L, 10L, 1L, "A", 0.0, "{}"), (2L, 20L, 1L, "B", 0.0, "{}"),
        (3L, 25L, 1L, "A", 0.0, "{}"), (4L, 30L, 1L, "B", 0.0, "{}"),
        (5L, 30L, 1L, "A", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val m = SparkEntry.queries("q213_markov_transitions")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(m == Map(("A", "B") -> 2L, ("B", "A") -> 2L), m)
  }

  test("touch attribution: first/last credit and the (none) channel conserve totals") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("attrib").toString
    Seq((1L, 10L, 1L, "click", 0.0, "{}"), (2L, 20L, 1L, "view", 0.0, "{}"),
        (3L, 30L, 1L, "purchase", 10.00, "{}"),
        (4L, 40L, 1L, "purchase", 5.00, "{}"),
        (5L, 10L, 2L, "purchase", 7.00, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q214_touch_attribution")(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // user 1's two purchases: first touch = click, last touch differs
    // per purchase (view for the 1st; the preceding purchase doesn't
    // count as a touch, so view again for the 2nd); user 2 has no touch
    assert(rows("click") == ((0L, 0L, 2L, 1500L)), rows)
    assert(rows("view") == ((2L, 1500L, 0L, 0L)), rows)
    assert(rows("(none)") == ((1L, 700L, 1L, 700L)), rows)
    val purchases = rows.values.map(_._1).sum
    assert(purchases == 3L, s"last-touch credits must conserve: $rows")
  }

  test("source ablation: leave-one-out means are exact on a planted corpus") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ablate").toString
    // sA: 2 docs x 4 tokens; sB: 2 docs x 2 tokens -> full mean 3.0;
    // without sA the mean drops to 2.0, without sB it rises to 4.0
    Seq((1L, "a b c d", "sA"), (2L, "e f g h", "sA"),
        (3L, "i j", "sB"), (4L, "k l", "sB"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val m = SparkEntry.queries("q215_source_ablation")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(m("sA") == ((2L, 8L, 3.0, 2.0)), m)
    assert(m("sB") == ((2L, 4L, 3.0, 4.0)), m)
  }

  test("quantile normalization: same decile -> same normalized score across sources") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("qnorm").toString
    // sA docs are 10x longer than sB; after normalization the i-th
    // ranked doc of each source must share the identical score
    val docs = (1 to 10).map(i => (i.toLong, "x", "sA", i * 100L)) ++
      (1 to 10).map(i => (i + 10L, "x", "sB", i * 10L))
    docs.toDF("doc_id", "text", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q216_quantile_normalize")(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(3), r.getDouble(4)))
    val byDecile = rows.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    byDecile.foreach { case (dk, scores) =>
      assert(scores.size == 1, s"decile $dk has split scores $scores")
    }
    // decile k holds one doc per source: mean of (k*100, k*10) = 55k
    val d1 = rows.filter(_._2 == 1L).head._3
    assert(d1 == 55.0, d1)
  }

  test("group-aware split: a near-dup cluster straddling the naive boundary stays together") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("split").toString
    // docs 7 and 18: identical 12-token text (a near-dup pair) whose ids
    // land in DIFFERENT naive id-mod-10 buckets; cluster label = min id
    // = 7 -> both must land in train, cross_pairs 0, naive_cross 1
    val dup = (1 to 12).map(i => s"w$i").mkString(" ")
    val fillers = (0 to 30).filter(i => i != 7 && i != 18)
      .map(i => (i.toLong, s"f${i}a f${i}b f${i}c f${i}d f${i}e", "s"))
    (fillers ++ Seq((7L, dup, "s"), (18L, dup, "s")))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q217_split_assign")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.values.map(_._2).sum == 0L, s"cluster split leaked: $rows")
    assert(rows("train")._3 == 1L, s"naive leak not detected: $rows")
    assert(rows.values.map(_._1).sum == 31L, rows)
  }

  test("triangle count: oriented wedge closure is exact on a planted graph") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tri").toString
    // order 1 holds parts {1,2,3} (one triangle), order 2 holds {3,4}
    // (dangling edge), order 3 repeats {1,2} (duplicate edge, no new
    // triangle): K4 minus two edges -> exactly 1 triangle, 4 edges
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 1L), (3L, 2L))
      .toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q218_triangle_count")(spark, dir).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 4L, 1L)), r)
  }

  test("ngram overlap: clipped multiplicities on a planted containment pair") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rouge").toString
    // doc 1 repeats "x y" 3x, doc 2 once, over a shared 60-token tail:
    // doc 2's shingle set is contained in doc 1's (jac 60/62 >= 0.8),
    // and the clipped bigram overlap is 61 = min(3,1)[xy] + 0[yx]
    // + 1[y-t1] + 59 tail pairs -- the clip is what keeps p at 1.0
    val tail60 = (1 to 60).map(i => s"t$i").mkString(" ")
    Seq((1L, s"x y x y x y $tail60", "s"), (2L, s"x y $tail60", "s"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q219_ngram_overlap")(spark, dir).collect()
    assert(r.length == 1)
    val row = r(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4)) == ((1L, 2L, 61L, 65L, 61L)), row)
    val (p, rr) = (1.0, 61.0 / 65.0)
    assert(row.getDouble(5) == p && row.getDouble(6) == rr)
    assert(math.abs(row.getDouble(7) - 2.0 * p * rr / (p + rr)) < 1e-12)
  }

  test("seasonal forecast: holdout week scored against prior same-weekday means") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("seasonal").toString
    val dayNs = 86400L * 1000L * 1000L * 1000L
    // 21 days of type A: one 1.00 event per day in the 14 training days
    // (two prior samples per weekday -> forecast 100 cents), one 3.00
    // event per day in the holdout week -> error 200 cents on all 7 days
    val ev = (0 to 20).map { d =>
      (d.toLong, d * dayNs + 1L, 1L, "A", if (d < 14) 1.00 else 3.00, "{}")
    }
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q220_seasonal_forecast")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.length == 7, rows.toSeq)
    assert(rows.map(_._1).toSet == (0L to 6L).toSet)
    rows.foreach { case (_, actual, fc, err) =>
      assert(actual == 300L && fc == 100.0 && err == 200.0)
    }
  }

  test("novelty scan: a verbatim copy source scores zero novelty") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("novel").toString
    // srcA introduces 10 tokens (3 8-gram positions, all novel);
    // srcB repeats the identical text under a LATER doc_id -> 0 novel
    val txt = (1 to 10).map(i => s"n$i").mkString(" ")
    Seq((1L, txt, "srcA"), (2L, txt, "srcB"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val m = SparkEntry.queries("q221_novelty_scan")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(m("srcA") == ((3L, 3L, 1.0)), m)
    assert(m("srcB") == ((3L, 0L, 0.0)), m)
  }

  test("cusum changepoint: a planted level shift is located exactly") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cusum").toString
    val dayNs = 86400L * 1000L * 1000L * 1000L
    // type A: 1 event/day for days 0..9, then 5 events/day for 10..19
    // -> the cut between day 9 and 10 maximizes |n*pref - rn*s|
    val ev = ((0 to 9).flatMap(dd => Seq((dd, 1))) ++
      (10 to 19).flatMap(dd => (1 to 5).map(k => (dd, k))))
      .zipWithIndex.map { case ((dd, _), i) =>
        (i.toLong, dd * dayNs + i, 1L, "A", 0.0, "{}")
      }
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q222_cusum_changepoint")(spark, dir).collect()(0)
    assert(r.getString(0) == "A" && r.getLong(1) == 9L, r)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 5.0, r)
  }

  test("source overlap matrix: containment is asymmetric and exact") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("srcov").toString
    // srcB's 5-token text is a prefix of srcA's 8-token text: B's 3
    // shingles are all in A (containment 1.0), while A->B covers 3/6
    Seq((1L, "a b c d e f g h", "srcA"), (2L, "a b c d e", "srcB"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val m = SparkEntry.queries("q223_source_overlap_matrix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(m(("srcB", "srcA")) == ((3L, 3L, 1.0)), m)
    assert(m(("srcA", "srcB")) == ((3L, 6L, 0.5)), m)
  }

  test("minhash calibration: identical docs estimate 1.0 with zero error") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mhcal").toString
    val txt = (1 to 20).map(i => s"w$i").mkString(" ")
    Seq((1L, txt, "s"), (2L, txt, "s"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q224_minhash_calibration")(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getLong(2) == 16L && r(0).getDouble(3) == 1.0 &&
      r(0).getDouble(4) == 1.0 && r(0).getDouble(5) == 0.0, r(0))
  }

  test("rolling active users: sliding distinct counts users once per window") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wau").toString
    val dayNs = 86400L * 1000L * 1000L * 1000L
    // user 1 active on days 0 and 3 (multiple events on day 0 must not
    // double-count); user 2 active on day 8 only
    val ev = Seq((1L, 0L), (2L, 0L), (3L, 3L), (4L, 8L)).zipWithIndex.map {
      case ((u0, dd), i) =>
        val u = if (dd == 8L) 2L else 1L
        (i.toLong, dd * dayNs + i, u, "click", 0.0, "{}")
    }
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val m = SparkEntry.queries("q225_rolling_active_users")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // day 3: user 1 active that day, window {0..3} holds only user 1
    assert(m(3L) == ((1L, 1L)), m)
    // day 8: user 2 is the DAU; window {2..8} holds users 1 (day 3) and 2
    assert(m(8L) == ((1L, 2L)), m)
    // windows never extend past dmax
    assert(!m.contains(9L) && !m.contains(14L), m)
  }

  test("inter-event times: exact millisecond gaps and moments") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gaps").toString
    val msNs = 1000L * 1000L
    // type A at 0ms, 100ms, 400ms -> gaps 100, 300: mean 200, var 10000
    val ev = Seq(0L, 100L, 400L).zipWithIndex.map { case (ms, i) =>
      (i.toLong, ms * msNs, 1L, "A", 0.0, "{}")
    }
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q226_interevent_times")(spark, dir).collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 100L, 300L)), r)
    assert(r.getDouble(4) == 200.0 && r.getDouble(5) == 10000.0, r)
  }

  test("rfm segments: quintile ranks are exact on five distinct users") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rfm").toString
    val dayNs = 86400L * 1000L * 1000L * 1000L
    // user u purchases once on day u for u dollars: recency ranks
    // reverse user order, frequency ties break by user_id, monetary
    // follows user order -> segment r-f-m = (6-u)-(u)-(6-u)
    val ev = (1 to 5).map(u => (u.toLong, u * dayNs, u.toLong, "purchase",
      u * 1.0, "{}"))
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val m = SparkEntry.queries("q227_rfm_segments")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = (1 to 5).map(u => s"${6 - u}-$u-${6 - u}" -> 1L).toMap
    assert(m == expect, m)
  }

  test("revenue concentration: exact Gini and minimal top-80% set") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gini").toString
    // revenues 1,1,1,1,16 dollars: gini = 6000/(5*2000) = 0.6; the
    // single 16-dollar whale is exactly the minimal 80% cover
    val ev = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 1.0), (5L, 16.0))
      .map { case (u, v) => (u, u * 1000L, u, "purchase", v, "{}") }
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q228_revenue_concentration")(spark, dir)
      .collect()(0)
    assert(r.getLong(0) == 5L && r.getLong(1) == 2000L, r)
    assert(r.getDouble(2) == 0.6, r)
    assert(r.getLong(3) == 1L && r.getDouble(4) == 0.8, r)
  }

  test("class separability: identical-label clusters separate from a shifted one") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fisher").toString
    // 64-dim vectors: label 0 at the origin, label 1 shifted by +1 in
    // dim 1 only, both with zero within-class variance in dims 2..64
    // and a tiny split in dim 1 for label 0 -> dist2 dominates
    def vec(d1: Float) = (d1 +: Array.fill(63)(0.0f)).toSeq
    val rows = Seq((1L, vec(0.0f), 0), (2L, vec(0.0f), 0),
      (3L, vec(1.0f), 1), (4L, vec(1.0f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("q229_class_separability")(spark, dir)
      .collect()(0)
    // micro-units: dist2 = (1e6)^2, both within-traces exactly 0
    assert(r.getLong(0) == 0L && r.getLong(1) == 1L, r)
    assert(r.getDouble(2) == 1e12 && r.getDouble(3) == 0.0 &&
      r.getDouble(4) == 0.0, r)
    // zero within-class scatter -> separability is NULL by contract
    assert(r.isNullAt(5), r)
  }

  test("peak load: the busiest sliding hour is found across minute gaps") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("peak").toString
    val minNs = 60L * 1000L * 1000L * 1000L
    // type A: 1 event at minute 0, then 3 events spread over minutes
    // 100..150 (gap-separated) -> best window starts at minute 91,
    // the earliest anchor covering minutes 100..150
    val ev = (Seq(0L) ++ Seq(100L, 120L, 150L)).zipWithIndex.map {
      case (m, i) => (i.toLong, m * minNs + i, 1L, "A", 0.0, "{}")
    }
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q230_peak_load")(spark, dir).collect()(0)
    assert(r.getString(0) == "A" && r.getLong(1) == 91L && r.getLong(2) == 3L,
      r)
  }

  test("association rules: confidence is asymmetric, lift exact, support pruned") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rules").toString
    // 6 baskets: {1,2} x3 (frequent pair), {1} x2 alone, {3,4} once
    // (below support) -> rules 1->2 (conf 3/5) and 2->1 (conf 1)
    val li = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 2L),
      (4L, 1L), (5L, 1L), (6L, 3L), (6L, 4L))
    li.toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
    val rows = SparkEntry.queries("q231_association_rules")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(rows.keySet == Set((1L, 2L), (2L, 1L)), rows)
    assert(rows((1L, 2L)) == ((3L, 0.6, 6.0 * 3.0 / (5.0 * 3.0))), rows)
    assert(rows((2L, 1L)) == ((3L, 1.0, 6.0 * 3.0 / (3.0 * 5.0))), rows)
  }

  test("embedding drift: a planted centroid shift between halves is exact") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    // label 0: first half at 0.0, second half at 0.5 in dim 1 ->
    // drift2 = (5e5 micro)^2 = 2.5e11; label 1 identical halves -> 0
    def vec(d1: Float) = (d1 +: Array.fill(63)(0.0f)).toSeq
    val rows = Seq((0L, vec(0.0f), 0), (1L, vec(0.0f), 1),
      (2L, vec(0.5f), 0), (3L, vec(0.0f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val m = SparkEntry.queries("q232_embedding_drift")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(m(0L) == ((1L, 1L, 2.5e11)), m)
    assert(m(1L) == ((1L, 1L, 0.0)), m)
  }

  test("oracle SQL exists for every query unless explicitly rows-only") {
    val missing = SparkEntry.defs.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"rows-only queries (document why): $missing")
  }
}
