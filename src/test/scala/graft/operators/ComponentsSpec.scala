package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Direct contract tests for [[Shared.minLabelComponents]] — the
  * large-star/small-star contraction behind q73/q158. The r5 driver run
  * proved the old min-label propagation threw past diameter 25; these pin
  * the shapes that killed it (long chains) plus the structural edge cases
  * a pure query-level oracle can't isolate (isolated nodes, multi-edges,
  * self-loops, reversed duplicates).
  */
class ComponentsSpec extends AnyFunSuite with graft.SparkFixture {

  private def components(
      nodeIds: Seq[Long], edgePairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val nodes = nodeIds.toDF("id")
    val edges = edgePairs.toDF("a", "b")
    Shared.minLabelComponents(s, nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("100-node chain converges (old 25-round propagation threw at 27)") {
    val n = 100L
    val got = components(1L to n, (1L until n).map(i => (i, i + 1)))
    assert(got == (1L to n).map(_ -> 1L).toMap)
  }

  test("mixed graph: two components, isolated node, noisy edge forms") {
    // component {1,2,3,4} as a chain given in reversed/duplicated forms,
    // component {10,11,12} as a triangle with a self-loop, 99 isolated
    val edges = Seq(
      (2L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (11L, 11L))
    val got = components(Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L), edges)
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
  }

  test("star already centered at a NON-minimum collapses to the true min") {
    // hub 50 with leaves 1..5: the component min (1) is a leaf, so the
    // final relabeling must move the center, not keep the hub's id
    val got = components(Seq(1L, 2L, 3L, 4L, 5L, 50L),
      (1L to 5L).map(i => (50L, i)))
    assert(got.values.toSet == Set(1L))
  }

  test("empty edge set labels every node as itself") {
    val got = components(Seq(7L, 8L, 9L), Seq.empty)
    assert(got == Map(7L -> 7L, 8L -> 8L, 9L -> 9L))
  }

  test("random graphs match a sequential union-find oracle") {
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { trial =>
      val n = 60
      val ids = (1L to n).toSeq
      val edges = (0 until 80).map(_ =>
        (1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
      // sequential oracle: classic union-find, then min id per root
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val minOfRoot = ids.groupBy(find).map { case (r, m) => r -> m.min }
      val want = ids.map(i => i -> minOfRoot(find(i))).toMap
      assert(components(ids, edges) == want, s"trial $trial")
    }
  }
}
