package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** [[TextQueries.bpeTrain]] against a reference that replays the Spark
  * merge loop it replaced, on wrapped symbol strings: `replace` of
  * "(a)(b)" by "(ab)", split on ")(", argmax (n desc, pair asc in byte
  * order), stop when the best pair is seen fewer than 2 times. No Spark
  * session: both sides run on in-memory vocabularies (sym0, wcnt).
  */
class BpeTrainSpec extends AnyFunSuite {

  private val byteOrder: Ordering[String] = Ordering.fromLessThan((x, y) =>
    java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8)) < 0)

  private def reference(vocab: Seq[(String, Long)], budget: Int): Vector[(String, Long)] = {
    var cur = vocab
    var merges = Vector.empty[(String, Long)]
    var done = false
    while (!done && merges.size < budget) {
      val pairs = cur.flatMap { case (sym, n) =>
        sym.substring(1, sym.length - 1).split("\\)\\(").toSeq.sliding(2)
          .collect { case Seq(a, b) => (s"$a $b", n) }
      }
      val top = pairs.groupMapReduce(_._1)(_._2)(_ + _).toSeq
        .filter(_._2 >= 2)
        .sorted(Ordering.Tuple2(Ordering.Long.reverse, byteOrder)
          .on[(String, Long)] { case (p, n) => (n, p) })
        .headOption
      top match {
        case None => done = true
        case Some((pair, n)) =>
          merges :+= ((pair, n))
          val Array(a, b) = pair.split(" ", 2)
          cur = cur.map { case (sym, w) => (sym.replace(s"($a)($b)", s"($a$b)"), w) }
      }
    }
    merges
  }

  private def wrap(word: String): String = word.map(c => s"($c)").mkString

  private def vocab(words: (String, Long)*): Seq[(String, Long)] =
    words.map { case (w, n) => (wrap(w), n) }

  private def agrees(v: Seq[(String, Long)], budget: Int = 50): Vector[(String, Long)] = {
    val got = TextQueries.bpeTrain(v, budget)
    val want = reference(v, budget)
    assert(got == want, s"vocab $v, budget $budget")
    got
  }

  private def randomVocabs(alphabet: String, seed: Long, n: Int): Seq[Seq[(String, Long)]] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val words = Seq.fill(1 + rnd.nextInt(12)) {
        Seq.fill(1 + rnd.nextInt(10))(alphabet(rnd.nextInt(alphabet.length))).mkString
      }.distinct
      vocab(words.map(w => (w, 1L + rnd.nextInt(5))): _*)
    }
  }

  test("seeded random vocabularies over {a,b} and {a,b,c,1} match the reference") {
    for ((alphabet, seed) <- Seq(("ab", 1L), ("abc1", 2L));
         v <- randomVocabs(alphabet, seed, 400)) {
      agrees(v)
      agrees(v, budget = 3)
    }
  }

  test("overlapping runs merge greedily left to right without overlap") {
    // "aaaa" holds "a a" three times (count 3·2) and merges to (aa)(aa);
    // "aaa" holds it twice and merges to (aa)(a), never (a)(aa)
    assert(agrees(vocab("aaaa" -> 2L)) == Vector(("a a", 6L), ("aa aa", 2L)))
    assert(agrees(vocab("aaa" -> 3L, "bb" -> 1L, "cc" -> 1L)) ==
      Vector(("a a", 6L), ("aa a", 3L)))
  }

  test("a 100,000-symbol word trains like a short one") {
    agrees(vocab("ab" * 50000 -> 1L, "ba" -> 3L))
  }

  test("count ties go to the lowest pair in byte order") {
    assert(agrees(vocab("cd" -> 2L, "ab" -> 2L)) == Vector(("a b", 2L), ("c d", 2L)))
    // digits and capitals sort before lowercase letters
    assert(agrees(vocab("ab" -> 2L, "1a" -> 2L)).head == (("1 a", 2L)))
    assert(agrees(vocab("ab" -> 2L, "Ba" -> 2L)).head == (("B a", 2L)))
  }

  test("one-character words contribute no pairs") {
    assert(agrees(vocab("a" -> 9L, "b" -> 4L)) == Vector.empty)
    assert(agrees(vocab("a" -> 9L, "ab" -> 2L, "b" -> 4L)) == Vector(("a b", 2L)))
  }

  test("training converges before the budget when no pair reaches n >= 2") {
    val v = vocab("aaa" -> 2L, "aa" -> 1L, "cd" -> 1L)
    assert(agrees(v) == Vector(("a a", 5L), ("aa a", 2L)))
    // a budget below the convergence point keeps the prefix
    assert(agrees(v, budget = 1) == Vector(("a a", 5L)))
  }

  test("an empty vocabulary learns no merges") {
    assert(agrees(Seq.empty) == Vector.empty)
  }
}
