package graft.sources.rtcdb

import java.io.RandomAccessFile
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import net.jpountz.lz4.LZ4Factory
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The rtcdb on-disk format, re-implemented from the reference's behavior
  * (NOT a code port):
  *
  *  - one `{table}.{col}.data` + `{table}.{col}.index` file pair per column
  *    (`/root/reference/src/storage.rs:353-359`), in the DB root;
  *  - values: u64 → 8-byte big-endian; string → u32-BE length prefix +
  *    UTF-8 bytes (`src/storage.rs:361-394`);
  *  - blocks of 1024 rows (`src/storage.rs:17`), each column's block buffer
  *    LZ4 block-compressed (`src/storage.rs:264-268`; lz4-java's raw block
  *    format is the same LZ4 block spec as the reference's lz4_flex);
  *  - a 40-byte big-endian index entry per block per column:
  *    start_position, compressed_size, decompressed_size (8B each), then
  *    min and max as 8 bytes — the u64 BE, or the first 8 bytes of the
  *    string zero-padded (`src/storage.rs:72-106`, golden-tested below and
  *    in the reference at `src/storage.rs:108-139`);
  *  - `metadata.json` = `{"tables":[{"name":…,"columns":[{"name":…,
  *    "dtype":"Uint64"|"String"}]}]}` (`src/metadata.rs:9-46`).
  *
  * Divergence from the reference, deliberate (SURVEY.md §1.4.1): the
  * reference writes the whole preallocated compression buffer (zero
  * padding included) while advancing its bookkeeping by `compressed_len`,
  * leaving files whose stored offsets don't match their bytes — its own
  * read path could never have worked. This writer writes exactly
  * `compressed_len` bytes, which is the behavior the index format implies.
  *
  * Type mapping (SURVEY.md §1.2): Uint64 ↔ LongType (test data stays in
  * signed range; min/max compare as signed), String ↔ StringType with
  * byte-wise UTF-8 ordering (Rust `String` `<`), nothing nullable.
  */
object RtcdbFormat {

  val RowsPerBlock = 1024
  val IndexEntryBytes = 40

  /** Per-block bloom sidecar (`{table}.{col}.bloom`) — OUR extension, not
    * part of the reference format. Additive: `.data`/`.index` bytes stay
    * byte-identical to the reference, and a reader that ignores the
    * sidecar (the reference, older versions of this source) sees the same
    * table. Purpose: the 40-byte zone maps prune nothing for equality
    * predicates on NON-leading columns whose values scatter across blocks
    * (every block's [min,max] spans the domain) and for strings sharing an
    * 8-byte prefix — at 10⁹ blocks a point lookup on such a column decodes
    * every block. One bloom per block per column closes that: 10240 bits /
    * 7 hashes over the block's FULL values (whole string bytes, not the
    * prefix) ≈ 1% false positives at 1024 rows — so an equality scan
    * decodes ~1% of blocks instead of all of them, and a false positive
    * only costs a wasted decode (row-level eval still filters exactly).
    * The file is headerless like the index: block k's filter lives at
    * byte offset k*1280, so append and concat-commit work identically to
    * index entries. Consistency contract: a column's bloom is VALID only
    * when it satisfies the size equation [[bloomInLockstep]] — the commit
    * either appends both in lockstep or deletes the sidecar (legacy
    * tables, lost files), and readers verify the equation before
    * consulting it, so a stale sidecar degrades to "no pruning", never to
    * a wrong skip.
    */
  val BloomBytesPerBlock = 1280
  val BloomHashes = 7
  private val BloomBits = BloomBytesPerBlock * 8

  def bloomPath(root: Path, table: String, col: String): Path =
    root.resolve(s"$table.$col.bloom")

  private def fnv64(bytes: Array[Byte], seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** set the value's k bit positions in `bits` (double hashing) */
  def bloomInsert(bits: Array[Byte], value: Array[Byte]): Unit = {
    val h1 = fnv64(value, 0xcbf29ce484222325L)
    val h2 = fnv64(value, 0x84222325cbf29ce4L) | 1L
    var i = 0
    while (i < BloomHashes) {
      val bit = (((h1 + i * h2) % BloomBits + BloomBits) % BloomBits).toInt
      bits(bit >>> 3) = (bits(bit >>> 3) | (1 << (bit & 7))).toByte
      i += 1
    }
  }

  /** false ⇒ the value is PROVABLY absent from the block */
  def bloomMayContain(bits: Array[Byte], value: Array[Byte]): Boolean = {
    val h1 = fnv64(value, 0xcbf29ce484222325L)
    val h2 = fnv64(value, 0x84222325cbf29ce4L) | 1L
    var i = 0
    while (i < BloomHashes) {
      val bit = (((h1 + i * h2) % BloomBits + BloomBits) % BloomBits).toInt
      if ((bits(bit >>> 3) & (1 << (bit & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** a value's bloom key, the one definition the encoder inserts and the
    * reader probes: a u64's 8 big-endian bytes, a string's whole UTF-8
    * bytes (not the zone map's 8-byte prefix) */
  def bloomValueBytes(isLong: Boolean, v: Any): Array[Byte] =
    if (isLong) longToBytes8(v.asInstanceOf[Long])
    else v.asInstanceOf[String].getBytes(StandardCharsets.UTF_8)

  private val lz4 = LZ4Factory.fastestInstance()

  // ── value codecs ────────────────────────────────────────────────────────

  def encodeLong(buf: java.io.ByteArrayOutputStream, v: Long): Unit =
    buf.write(ByteBuffer.allocate(8).putLong(v).array())

  def encodeString(buf: java.io.ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    buf.write(ByteBuffer.allocate(4).putInt(b.length).array())
    buf.write(b)
  }

  /** first 8 UTF-8 bytes, zero-padded (string zone-map precision) */
  def prefix8(s: String): Array[Byte] = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    java.util.Arrays.copyOf(b, 8)
  }

  def longToBytes8(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).putLong(v).array()

  /** unsigned byte-array comparison (Rust byte-wise string order) */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  // ── 40-byte index entry ─────────────────────────────────────────────────

  final case class IndexEntry(
      startPosition: Long,
      compressedSize: Long,
      decompressedSize: Long,
      min: Array[Byte],  // 8 bytes
      max: Array[Byte]) {

    def toBytes: Array[Byte] = {
      val bb = ByteBuffer.allocate(IndexEntryBytes)
      bb.putLong(startPosition).putLong(compressedSize).putLong(decompressedSize)
      bb.put(min).put(max)
      bb.array()
    }
  }

  object IndexEntry {
    def fromBytes(bytes: Array[Byte]): IndexEntry = {
      val bb = ByteBuffer.wrap(bytes)
      val (sp, cs, ds) = (bb.getLong, bb.getLong, bb.getLong)
      val min = new Array[Byte](8); bb.get(min)
      val max = new Array[Byte](8); bb.get(max)
      IndexEntry(sp, cs, ds, min, max)
    }
  }

  // ── metadata.json (reference serde shape) ──────────────────────────────

  private val mapper = new ObjectMapper()

  def writeMetadata(root: Path, tables: Seq[(String, StructType)]): Unit = {
    val doc = mapper.createObjectNode()
    val arr = doc.putArray("tables")
    tables.foreach { case (name, schema) =>
      val t = arr.addObject()
      t.put("name", name)
      val cols = t.putArray("columns")
      schema.fields.foreach { f =>
        val c = cols.addObject()
        c.put("name", f.name)
        c.put("dtype", f.dataType match {
          case LongType   => "Uint64"
          case StringType => "String"
          case other => throw new IllegalArgumentException(
            s"rtcdb supports only Uint64/String columns, got $other")
        })
      }
    }
    Files.writeString(root.resolve("metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(doc))
  }

  def readMetadata(root: Path): Seq[(String, StructType)] = {
    val doc = mapper.readTree(Files.readString(root.resolve("metadata.json")))
    doc.get("tables").elements().asScala.map { t =>
      val fields = t.get("columns").elements().asScala.map { c =>
        val dt = c.get("dtype").asText() match {
          case "Uint64" => LongType
          case "String" => StringType
          case other => throw new IllegalArgumentException(s"Unknown dtype $other")
        }
        StructField(c.get("name").asText(), dt, nullable = false)
      }.toArray
      t.get("name").asText() -> StructType(fields)
    }.toSeq
  }

  /** `{table}.unsorted` — an empty marker saying the leading column's
    * blocks are NOT in order (some block's min falls below the previous
    * block's max), so the driver's binary search over the leading index
    * would skip matching blocks. Readers that find it plan the full block
    * range; executors still prune every block by its zone map. OUR
    * extension, additive like the bloom sidecar; a truncating write
    * deletes it.
    */
  def unsortedPath(root: Path, table: String): Path =
    root.resolve(s"$table.unsorted")

  /** The leading-column order check the commit runs on every block it
    * appends, in order: seeded with the table's current last index entry,
    * it creates the fsync'd [[unsortedPath]] marker on the first block
    * whose min sorts below the previous block's max. Call [[append]]
    * BEFORE publishing that block's index entry, so no reader can see an
    * out-of-order entry without the marker.
    */
  final class OrderGuard(root: Path, table: String, lead: StructField) {
    private val marker = unsortedPath(root, table)
    private var marked = Files.exists(marker)
    private var prevMax: Array[Byte] = {
      val n = entryCount(root, table, lead.name).toInt
      if (marked || n == 0) null
      else RtcdbPruning.readEntryRange(
        indexPath(root, table, lead.name).toString, n - 1, n).head.max
    }
    private def below(a: Array[Byte], b: Array[Byte]): Boolean =
      if (lead.dataType == LongType)
        ByteBuffer.wrap(a).getLong < ByteBuffer.wrap(b).getLong
      else compareBytes(a, b) < 0

    def append(min: Array[Byte], max: Array[Byte]): Unit = {
      if (!marked && prevMax != null && below(min, prevMax)) {
        val ch = java.nio.channels.FileChannel.open(marker,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try ch.force(true) finally ch.close()
        marked = true
      }
      prevMax = max
    }
  }

  def dataPath(root: Path, table: String, col: String): Path =
    root.resolve(s"$table.$col.data")
  def indexPath(root: Path, table: String, col: String): Path =
    root.resolve(s"$table.$col.index")

  private def sizeOrZero(p: Path): Long =
    if (Files.exists(p)) Files.size(p) else 0L

  /** A column's entry count: the whole 40-byte entries of its index (a
    * torn trailing fragment is no entry). A MISSING index counts as 0 —
    * the crash window between a first commit's per-column index publishes
    * — so every reader, the repair pass and the order check see the same
    * consistent empty/old view.
    */
  def entryCount(root: Path, table: String, col: String): Long =
    sizeOrZero(indexPath(root, table, col)) / IndexEntryBytes

  /** The bloom size equation: a column's sidecar is in lockstep with its
    * index when it holds exactly one whole filter per index entry (a
    * missing sidecar holds none). Only a sidecar in lockstep is consulted
    * by readers or appended to by the commit.
    */
  def bloomInLockstep(root: Path, table: String, col: String): Boolean =
    sizeOrZero(bloomPath(root, table, col)) ==
      entryCount(root, table, col) * BloomBytesPerBlock

  /** 'Never published' vs 'lost': a missing per-column index normally
    * means the crash window between a FIRST commit's per-column index
    * publishes, and every reader/repair path treats it as the consistent
    * empty view. But an index lost to external causes (disk fault,
    * partial copy, manual deletion) has the same signature — and there the
    * empty view silently hides the whole table, and the next append's
    * truncate-to-min repair makes the loss permanent. The two cases are
    * not distinguishable from file sizes alone (a torn first commit also
    * leaves non-empty siblings), so when a declared column's index is
    * ABSENT while sibling indexes hold entries, warn loudly naming the
    * files — the operator can restore them BEFORE the next append
    * (r5 advice). Returns true when that suspicious shape was seen.
    */
  def warnIfAbsentIndexes(root: Path, table: String,
      fields: Seq[String], context: String): Boolean = {
    val missing = fields.filterNot(c => Files.exists(indexPath(root, table, c)))
    val held = fields.map(c => c -> entryCount(root, table, c)).filter(_._2 > 0L)
    val suspicious = missing.nonEmpty && held.nonEmpty
    if (suspicious)
      org.slf4j.LoggerFactory.getLogger("graft.rtcdb").warn(
        s"$context: table '$table' declares column(s) " +
          missing.mkString("[", ", ", "]") +
          " with NO index file while sibling indexes are non-empty (" +
          held.map { case (c, n) => s"$c=$n" }.mkString(", ") +
          " entries). Treating this as the never-published empty view; " +
          "if these index files were lost to external causes, restore " +
          "them NOW — the next append's truncate-to-min repair makes the " +
          "loss permanent.")
    suspicious
  }

  // ── writer (append-only batch ingest, storage.rs:224-297 semantics) ────

  /** Append `rows` to a declared table in caller order (no sort), on the
    * driver. It runs the one append path the distributed writer runs: a
    * single [[RtcdbDataWriter]] encodes the blocks into staged parts, and
    * [[RtcdbBatchWrite]]'s commit repairs, stitches and publishes them.
    * The batch is whole or nothing: a row of the wrong arity, a cell of
    * the wrong type or a null ("Mismatched data type"), or a negative
    * u64 aborts it with nothing committed and no staged part left.
    */
  def write(root: String, table: String, schema: StructType,
      rows: Seq[Row]): Unit = {
    val writer = new RtcdbDataWriter(root, table, schema, 0, 0)
    val message =
      try {
        rows.foreach(r => writer.write(toInternalRow(schema, r)))
        writer.commit()
      } catch { case e: Throwable => writer.abort(); throw e }
    val batch = new RtcdbBatchWrite(root, table, schema, truncate = false)
    try batch.commit(Array(message))
    catch { case e: Throwable => batch.abort(Array(message)); throw e }
  }

  private def toInternalRow(schema: StructType, r: Row): InternalRow = {
    if (r.length != schema.length)
      throw new IllegalArgumentException("Mismatched data type")
    new GenericInternalRow(Array.tabulate[Any](schema.length) { i =>
      (schema.fields(i).dataType, r.get(i)) match {
        case (LongType, l: java.lang.Long) => l
        case (StringType, s: String) => UTF8String.fromString(s)
        case _ => throw new IllegalArgumentException("Mismatched data type")
      }
    })
  }

  // ── block decode (the read path the reference declared but left dead) ──

  /** decompress one column block's bytes (decoded by [[decodeLongs]] or
    * [[decodeUtf8]]) */
  def readBlock(file: RandomAccessFile, e: IndexEntry): Array[Byte] = {
    val comp = new Array[Byte](e.compressedSize.toInt)
    file.seek(e.startPosition)
    file.readFully(comp)
    lz4.fastDecompressor().decompress(comp, e.decompressedSize.toInt)
  }

  def decodeLongs(raw: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(raw)
    val out = new Array[Long](raw.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  /** a string block's values as views over `raw` (no per-value copy) */
  def decodeUtf8(raw: Array[Byte]): Array[UTF8String] = {
    val bb = ByteBuffer.wrap(raw)
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    while (bb.remaining() > 0) {
      val len = bb.getInt
      if (len < 0 || len > bb.remaining())
        throw new IllegalStateException(
          s"rtcdb: string of $len bytes overruns its block (${bb.remaining()} left)")
      out += UTF8String.fromBytes(raw, bb.position(), len)
      bb.position(bb.position() + len)
    }
    out.toArray
  }

  /** Rows of a u64 column's block, from its index entry alone (the fixed
    * 8-byte codec): a trusted entry holds 1..[[RowsPerBlock]] whole values
    * and a non-empty compressed block. Anything else is a damaged index and
    * throws, naming the table, the column and the block, so an index-only
    * fold can never turn it into a count.
    */
  def u64EntryRows(table: String, col: String, block: Long, e: IndexEntry): Int = {
    val d = e.decompressedSize
    if (d <= 0 || d % 8 != 0 || d > RowsPerBlock * 8L || e.compressedSize <= 0)
      throw new IllegalStateException(
        s"rtcdb: table '$table' column '$col' block $block has a damaged index " +
          s"entry (decompressed $d bytes, compressed ${e.compressedSize} bytes; " +
          s"a u64 block holds 1..$RowsPerBlock values of 8 bytes); refusing to read")
    (d / 8).toInt
  }
}
