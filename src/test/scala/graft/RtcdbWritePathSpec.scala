package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.sources.rtcdb.RtcdbFormat
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The rtcdb source has one append path: `RtcdbFormat.write` drives the
  * DSv2 task writer and batch commit on the driver, so the format's block
  * encoder exists once, and the serial writer's whole-file bytes stay
  * pinned to the values the format has always produced.
  */
class RtcdbWritePathSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("event", StringType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("id", LongType, nullable = false)))

  private def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  test("three serial appends produce the pinned bytes in every table file") {
    val dir = Files.createTempDirectory("rtcdb_bytepin")
    RtcdbFormat.writeMetadata(dir, Seq("events" -> schema))
    val root = dir.toString
    // 3,000 mixed rows: unsorted keys, string lengths 3..17
    RtcdbFormat.write(root, "events", schema, (0L until 3000L).map { i =>
      Row(s"ev${(i * 7919) % 1000}" + "x" * (i % 13).toInt,
        1700000000L + (i * 37) % 3000, i)
    })
    // 2,500 descending rows: the leading column runs backwards
    RtcdbFormat.write(root, "events", schema, (2500L to 1L by -1L).map { i =>
      Row(f"d$i%05d", 1800000000L - i, 10000L + i)
    })
    // a 2-row tail with an empty string and a multi-byte character
    RtcdbFormat.write(root, "events", schema,
      Seq(Row("", 0L, 20000L), Row("tail-é", 1900000000L, 20001L)))
    val got = new java.io.File(root).list().filter(_ != "metadata.json")
      .sorted.map(n => n -> sha256(Files.readAllBytes(Paths.get(root, n)))).toSeq
    val pinned = Seq(
      "events.event.bloom" -> "7f16b289977c7648f959035e38d46e5c1a1b2df349064f10ff0fc7dcb3119122",
      "events.event.data" -> "1eb6dfa10497701eadf93c525ca909d24d47beb45440fefd54c6162ae0c0e445",
      "events.event.index" -> "47032081e859023e9b63c27b427cc8f029b1edb36e080f4ea859d1f70bc64525",
      "events.id.bloom" -> "5d59f5eb68c81a1b905ca4de51c0f6c42e4540a3393b5d7041c60b18e43b0c96",
      "events.id.data" -> "d344735a7045ae3e274261e5962f7c2d3692feea7101337049404f0649204a62",
      "events.id.index" -> "ee5b906b72302750a8fcf9c64424216c1132de69d79ef7eba7bba0cd1c2b5d5d",
      "events.timestamp.bloom" -> "4e79c9deb34184c715e546209f01a10adb9d813a068999eb0f96f742e9fc1c2d",
      "events.timestamp.data" -> "950c06fe9d4be0bf02d0c968698fea8042f98e7a75f3dea0ee1d9079d53f2bcb",
      "events.timestamp.index" -> "5bebf3ac00619b98c0ab72d4ce671121936a6b28b3525d37e9fa3039bb207bb7",
      // the empty unsorted marker
      "events.unsorted" -> "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")
    assert(got == pinned, got.map { case (n, h) => s""""$n" -> "$h"""" }
      .mkString("\n", ",\n", ""))
  }

  test("the rtcdb sources compress blocks at exactly one call site") {
    val dir = Paths.get("src/main/scala/graft/sources/rtcdb")
    val listing = Files.list(dir)
    val calls = try listing.iterator().asScala.toSeq
      .map(p => """\.compress\(""".r.findAllIn(Files.readString(p)).size).sum
    finally listing.close()
    assert(calls == 1, s"LZ4 .compress( called at $calls sites")
  }
}
