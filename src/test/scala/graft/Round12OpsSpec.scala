package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-fixture and independent-reimplementation proofs for the
  * round-12 batch-1 operators (graph ANN, target-vocab BPE, MJPEG video).
  */
class Round12OpsSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("knn graph build: keyed joins only, symmetric, no self-loops, degree-bounded") {
    val g = operators.R12Queries.knnGraphEdges(spark, sf)
    val p = g.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"graph build must never go all-pairs:\n$p")
    val edges = g.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    assert(edges.forall { case (a, b) => a != b }, "no self loops")
    val eset = edges.toSet
    assert(edges.forall { case (a, b) => eset((b, a)) },
      "every edge traversable both ways")
    // out-degree ≤ KnnM before symmetrization ⟹ |E| ≤ 2·M·|V|
    val nodes = edges.map(_._1).distinct.length
    assert(edges.length <= 2 * 6 * nodes, s"${edges.length} edges, $nodes nodes")
  }

  test("pairsOfKeyed: a duplicated keyed row yields no self-pair and the same pair set") {
    val s = spark
    import s.implicits._
    val keyed = Seq((1L, 0, 7L), (2L, 0, 7L), (3L, 0, 7L), (2L, 1, 9L), (4L, 1, 9L))
      .toDF("cid", "band", "bk")
    def pairs(k: org.apache.spark.sql.DataFrame) =
      operators.R12Queries.pairsOfKeyed(k).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val clean = pairs(keyed)
    val dup = pairs(keyed.union(Seq((2L, 0, 7L)).toDF("cid", "band", "bk")))
    assert(clean == Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L)), clean)
    assert(dup.forall { case (a, b) => a != b }, s"self-pair emitted: $dup")
    assert(dup == clean)
  }

  test("q439: recall@3 monotone in beam width; the wide beam recovers the brute top-3") {
    val out = run("q439_ann_knn_graph").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(4L, 16L))
    assert(out(16L) >= out(4L),
      s"recall must not degrade with beam width: $out")
    // measured trajectories: 6→8 of 15 at sf0.001, 7→13 at sf0.01 (the
    // oracle pins the exact values; this floor catches a broken router)
    assert(out(4L) >= 4L, s"narrow beam below floor: $out")
    assert(out(16L) >= 7L, s"wide beam below floor: $out")
  }

  test("q440: target-vocab trajectory is q171's prefix; vocab size steps by exactly one from the measured base") {
    val t = run("q440_bpe_vocab_target").collect()
    val full = run("q171_bpe_merge_learn").collect()
    assert(t.length == math.min(32, full.length))
    t.zip(full).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0) && a.getLong(1) == b.getLong(1),
        "greedy BPE prefix stability")
    }
    val base = t.head.getLong(3) - 1
    t.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(2) == i + 1 && r.getLong(3) == base + i + 1)
    }
    // base charset recomputed independently of the bpeWords memo
    val chars = Tables.documents(spark, sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w").rlike("^[A-Za-z0-9]+$"))
      .select(explode(split(col("w"), "")).as("c"))
      .filter(col("c") =!= "")
      .agg(countDistinct(col("c"))).head.getLong(0)
    assert(base == chars, s"base charset $base vs independent $chars")
  }

  test("q442 fixture separates all 97 keys; canonical ids are the key-minimal docs") {
    val out = run("q442_mjpeg_vhash_dedup").collect()
    // 500 docs mod 97 → every key has ≥ 2 carriers; the block formula
    // gives every key a distinct fingerprint (verified exhaustively),
    // so exactly 97 groups covering all 500 docs
    assert(out.length == 97, s"expected 97 dup groups, got ${out.length}")
    assert(out.map(_.getLong(1)).sum == 500L)
    assert(out.map(_.getLong(2)).sorted.toSeq == (0L until 97L),
      "canonical = min doc_id per key = the key itself")
  }

  test("q441: frame count and pixel sum match the closed-form block formula") {
    val out = run("q441_mjpeg_decode").collect()
    assert(out.length == 500)
    out.foreach { r =>
      val id = r.getLong(0)
      val nf = id % 3 + 2
      assert(r.getLong(1) == nf && r.getLong(2) == 32 && r.getLong(3) == 32)
      val want = (0L until nf).flatMap(f => (0 until 16).map(b =>
        graft.multimodal.Multimodal.mjpegBlockValue(id, f.toInt, b).toLong * 64)).sum
      assert(r.getLong(4) == want, s"id $id")
    }
  }
}
