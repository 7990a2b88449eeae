package graft.operators

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** [[Shared.memo]]'s contract, without a Spark session: builds run once
  * per (tag, dataset) even under concurrent first callers, builds may
  * nest, a failed build is retried, and the ledger records each tag's
  * own seconds. Every test uses its own tags, since the registry and the
  * ledger live for the whole JVM.
  */
class MemoSpec extends AnyFunSuite {

  private lazy val d =
    java.nio.file.Files.createTempDirectory("graft_memospec_").toString

  test("memo hands the build its scratch root and serves the built value") {
    val built = new AtomicInteger()
    val r1 = Shared.memo("memospec_root", d) { r => built.incrementAndGet(); r }
    val r2 = Shared.memo("memospec_root", d) { r => built.incrementAndGet(); r }
    assert(r1 == Shared.scratchRoot("memospec_root", Shared.datasetKey(d)).toString)
    assert(r2 == r1)
    assert(built.get == 1)
  }

  test("eight threads making the same first call build exactly once") {
    val built = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(8)
    val go = new CountDownLatch(1)
    try {
      val futures = (1 to 8).map(i => pool.submit(new Callable[String] {
        def call(): String = {
          go.await()
          Shared.memo("memospec_once", d) { _ =>
            built.incrementAndGet()
            Thread.sleep(200)
            s"built-by-$i"
          }
        }
      }))
      go.countDown()
      val values = futures.map(_.get(30, TimeUnit.SECONDS)).toSet
      assert(built.get == 1)
      assert(values.size == 1, values)
    } finally pool.shutdownNow()
  }

  test("a memo build may call other memos (nested builds, any depth)") {
    // 64 children built inside one parent build: under per-site
    // computeIfAbsent nesting, keys sharing the parent's hash bin threw
    // "Recursive update"; here every nested build must simply work
    val total = Shared.memo("memospec_parent", d) { _ =>
      (1 to 64).map { i =>
        Shared.memo(s"memospec_child$i", d) { _ =>
          Shared.memo(s"memospec_grandchild$i", d)(_ => i) * 2
        }
      }.sum
    }
    assert(total == (1 to 64).sum * 2)
    assert(Shared.memo("memospec_child7", d)(_ => -1) == 14,
      "a nested build's value must be served to later callers")
  }

  test("a build that throws leaves no value, so the next call rebuilds") {
    val built = new AtomicInteger()
    intercept[IllegalStateException] {
      Shared.memo("memospec_retry", d) { _ =>
        built.incrementAndGet()
        throw new IllegalStateException("transient")
      }
    }
    assert(Shared.memo("memospec_retry", d) { _ => built.incrementAndGet(); "ok" } == "ok")
    assert(Shared.memo("memospec_retry", d) { _ => built.incrementAndGet(); "again" } == "ok")
    assert(built.get == 2)
  }

  test("the ledger records a parent's own seconds, excluding its nested child") {
    val t0 = System.nanoTime()
    Shared.memo("memospec_ledger_parent", d) { _ =>
      Thread.sleep(100)
      Shared.memo("memospec_ledger_child", d) { _ => Thread.sleep(400); 1 }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val ledger = Shared.memoBuildLedger
    val parent = ledger("memospec_ledger_parent")
    val child = ledger("memospec_ledger_child")
    assert(child >= 0.4, ledger)
    assert(parent >= 0.1 && parent < 0.3,
      s"parent must exclude the child's 0.4 s: parent=$parent child=$child")
    assert(parent + child <= wall + 1e-3, s"$parent + $child > wall $wall")
  }
}
