package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]] is the only session builder in the source tree, and
  * the session it builds has the config every harness relies on.
  */
class SessionFactorySpec extends AnyFunSuite with SparkFixture {

  private def scalaFiles(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("the session builder is called only in GraftSession.scala") {
    // the needle is split so this file does not match itself
    val builder = ("SparkSession" + """\s*\.\s*builder\b""").r
    val files = scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
    assert(files.exists(_.endsWith("GraftSession.scala")), files)
    val callers = files.filter(f =>
      builder.findFirstIn(Files.readString(f)).isDefined)
    assert(callers.map(_.getFileName.toString) == Seq("GraftSession.scala"),
      callers.mkString(", "))
  }

  test("the factory's session: local[cpus], one shuffle partition per core, UTC, no UI") {
    val s = GraftSession.local(4)
    assert(s eq spark)
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }
}
