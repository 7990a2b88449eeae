package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** `catalog.DB` has one commit path and one table state: every write verb
  * commits through `commit`, the manifest is the only record of a table's
  * files, and no code path falls back to listing the table directory.
  */
class CommitPathSpec extends AnyFunSuite {

  private val db =
    Files.readString(Paths.get("src/main/scala/graft/catalog/DB.scala"))

  test("commitSnapshot has exactly one call site") {
    val calls = """(?<!def )\bcommitSnapshot\(""".r.findAllIn(db).size
    assert(calls == 1, s"commitSnapshot( called $calls times")
  }

  test("no manifest-existence branch and no directory-listing fallback") {
    Seq("Files.exists(snapshotPath", "getOrElse(listRelParquet").foreach { n =>
      assert(!db.contains(n), s"DB.scala still contains `$n`")
    }
  }
}
