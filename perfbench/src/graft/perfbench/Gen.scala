package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Seeded generator of rtcdb-rw's inputs: a wide, events-shaped table of
  * uint64 and string columns (the reference's whole type system), sorted
  * on its leading timestamp, and a keyed user table for the catalog.
  * The same seed gives the same rows.
  */
final class Gen(seed: Long) {
  import Gen._

  private val rng = new java.util.SplittableRandom(seed)
  private var clock = 1700000000000L // epoch ms of the first event
  private var nextUser = 0L

  private def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.size))

  /** Events skew towards the first names in each list. */
  private def skewed[A](xs: IndexedSeq[A]): A = {
    val u = rng.nextDouble()
    xs(math.min(xs.size - 1, (u * u * xs.size).toInt))
  }

  /** `n` events after every event generated so far, in timestamp order */
  def events(n: Int): IndexedSeq[Array[Any]] = IndexedSeq.fill(n) {
    clock += 1 + rng.nextInt(20)
    val path = s"/p/${rng.nextInt(5000)}/${pick(Slugs)}"
    Array[Any](
      clock,
      rng.nextLong() & Long.MaxValue, // id: scattered, so zone maps cannot prune it
      rng.nextLong(UserSpace),
      rng.nextLong(1L << 40),
      skewed(EventNames),
      skewed(Countries),
      pick(Devices),
      path,
      pick(Referrers),
      rng.nextLong(100000L), // v1: amount in cents
      rng.nextLong(3600000L), // v2: duration ms
      rng.nextLong(1L << 32), // v3: bytes
      rng.nextLong(1000L), // v4: score
      rng.nextLong(10L), // v5: quantity
      rng.nextLong(1L << 20)) // v6: latency us
  }

  /** `n` users with fresh keys */
  def newUsers(n: Int): IndexedSeq[Array[Any]] = IndexedSeq.fill(n) {
    nextUser += 1 + rng.nextInt(3)
    user(nextUser)
  }

  /** a new version of user `key` */
  def user(key: Long): Array[Any] = Array[Any](key, s"user-${key.toHexString}-${pick(Slugs)}",
    skewed(Countries), pick(Plans), rng.nextLong(1000000L), rng.nextLong(10000L), clock)

  def nextInt(bound: Int): Int = rng.nextInt(bound)
  def nextDouble(): Double = rng.nextDouble()
  def nextLong(): Long = rng.nextLong() & Long.MaxValue
}

object Gen {
  val UserSpace = 1000000L
  val EventNames: IndexedSeq[String] = IndexedSeq("page_view", "click", "scroll", "search",
    "add_to_cart", "remove_from_cart", "checkout", "purchase", "login", "logout",
    "share", "error")
  val Countries: IndexedSeq[String] = IndexedSeq("US", "DE", "GB", "FR", "IN", "BR", "JP",
    "CA", "AU", "NL", "SE", "ES", "IT", "MX", "KR", "PL", "CH", "NO", "FI", "DK", "IE",
    "NZ", "SG", "ZA")
  val Devices: IndexedSeq[String] = IndexedSeq("ios", "android", "web", "tv", "desktop")
  val Referrers: IndexedSeq[String] = IndexedSeq("", "https://search.example/",
    "https://social.example/feed", "https://news.example/article/123", "email",
    "https://partner.example/landing?ref=spring")
  val Slugs: IndexedSeq[String] = IndexedSeq("home", "shoes", "running-shoes-blue",
    "kitchen/knives/chef", "a", "garden-hose-extra-long-50m", "books", "sale")
  val Plans: IndexedSeq[String] = IndexedSeq("free", "pro", "team", "enterprise")

  val eventsSchema: StructType = StructType(Seq(
    "ts" -> LongType, "id" -> LongType, "user_id" -> LongType, "session_id" -> LongType,
    "event" -> StringType, "country" -> StringType, "device" -> StringType,
    "url" -> StringType, "referrer" -> StringType,
    "v1" -> LongType, "v2" -> LongType, "v3" -> LongType, "v4" -> LongType,
    "v5" -> LongType, "v6" -> LongType)
    .map { case (n, t) => StructField(n, t, nullable = false) })

  val usersSchema: StructType = StructType(Seq(
    "user_id" -> LongType, "name" -> StringType, "country" -> StringType,
    "plan" -> StringType, "score" -> LongType, "visits" -> LongType,
    "updated_ts" -> LongType)
    .map { case (n, t) => StructField(n, t, nullable = false) })

  /** the reference's logical size of a row: 8 bytes per uint64, the UTF-8
    * length of each string */
  def logicalBytes(row: Array[Any]): Long = row.map {
    case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
    case _ => 8L
  }.sum

  def toRow(a: Array[Any]): Row = Row.fromSeq(a.toSeq)
}
