package graft.sources.rtcdb

import java.io.{ByteArrayOutputStream, RandomAccessFile}

import scala.jdk.CollectionConverters._
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.UUID

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import RtcdbFormat._

/** The rtcdb byte format's one append path. Distributed:
  * `df.write.format("rtcdb").option("path", root).option("table", t).save()`;
  * serial: [[RtcdbFormat.write]] runs one [[RtcdbDataWriter]] and this
  * commit on the driver, in caller order (no sort).
  *
  * The reference ingests through a single-threaded driver loop
  * (`/root/reference/src/storage.rs:224-297`); this writer keeps its exact
  * on-disk bytes (per-column `.data`/`.index` pairs, LZ4 blocks, 40-byte
  * entries — golden-tested) while distributing the expensive work:
  *
  *  - **sort contract, natively**: the format requires rows sorted by
  *    column order (`README.md:44`) — declared to Spark via
  *    [[RequiresDistributionAndOrdering]], so the planner inserts the
  *    range-repartition + per-partition sort itself (the idiomatic DSv2
  *    mechanism, not a manual pre-shuffle);
  *  - **per-task encode**: each task encodes+compresses its own sorted
  *    slice into staged per-column part files with range-local index
  *    entries — all CPU-heavy work (LZ4, codecs, zone maps) runs on
  *    executors;
  *  - **driver commit = concatenation only**: commit stitches the staged
  *    parts in partition order with `FileChannel.transferTo` (zero-copy
  *    byte moves, no decode) and appends the index entries with their
  *    start positions rebased — O(bytes moved) I/O, zero compute. On a
  *    distributed filesystem this step maps to the FS concat primitive.
  *
  * Mid-file short blocks (a task's trailing block < 1024 rows) are format-
  * legal: every reader derives rows-per-block from the index entry's
  * decompressed size, never from the constant.
  *
  * Semantics match the reference's batch ingest: append-only (overwrite
  * supported via truncate), per-cell type check with the reference's
  * "Mismatched data type" whole-batch abort (a failed task aborts the job
  * and its staged parts are deleted — no partial batch becomes visible),
  * nulls and negative u64 values rejected (the format has no null
  * encoding, data.rs:10-13), and only into a table metadata.json declares
  * with the same column names and types.
  */
class RtcdbWriteBuilder(root: String, table: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    schema.fields.foreach { f =>
      if (f.dataType != LongType && f.dataType != StringType)
        throw new IllegalArgumentException(
          s"rtcdb supports only Uint64/String columns, got ${f.dataType} " +
            s"for '${f.name}'")
    }
    new RtcdbWrite(root, table, schema, doTruncate)
  }
}

class RtcdbWrite(root: String, table: String, schema: StructType,
    truncate: Boolean) extends Write with RequiresDistributionAndOrdering {

  // rows sorted by column order, range-distributed: Spark plans the
  // repartitionByRange + sortWithinPartitions (README.md:44's contract)
  override def requiredDistribution(): Distribution =
    Distributions.ordered(ordering())
  override def requiredOrdering(): Array[SortOrder] = ordering()
  private def ordering(): Array[SortOrder] =
    schema.fieldNames.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))

  override def toBatch: BatchWrite = new RtcdbBatchWrite(root, table, schema,
    truncate)
}

/** per-column staged part: file path + its 40-byte entries (raw bytes) +
  * the per-block bloom sidecar bytes (1280 B/block, RtcdbFormat) */
final case class RtcdbColPart(partPath: String, entryBytes: Array[Byte],
    dataLength: Long, bloomBytes: Array[Byte]) extends Serializable
final case class RtcdbTaskCommit(parts: Array[RtcdbColPart])
    extends WriterCommitMessage

class RtcdbBatchWrite(root: String, table: String, schema: StructType,
    truncate: Boolean) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new RtcdbWriterFactory(root, table, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rootP = Paths.get(root)
    // the table must be declared (the provider resolves its schema from
    // metadata.json at planning, so no write reaches here undeclared);
    // compare names+types only: nullability is a Spark-surface artifact
    // (the format has no nulls; the task writers enforce that per cell)
    val declared = readMetadata(rootP).toMap.getOrElse(table,
      throw new IllegalArgumentException(s"Table not found: $table"))
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    if (shape(declared) != shape(schema))
      throw new IllegalArgumentException(
        s"rtcdb: table '$table' exists with a different schema")
    if (truncate) {
      schema.fieldNames.foreach { c =>
        Files.deleteIfExists(dataPath(rootP, table, c))
        Files.deleteIfExists(indexPath(rootP, table, c))
        Files.deleteIfExists(bloomPath(rootP, table, c))
      }
      Files.deleteIfExists(unsortedPath(rootP, table))
    }
    // Repair pass: a crash BETWEEN a prior commit's per-column index
    // renames leaves columns at different commit generations (one column
    // carries the crashed commit's entries, another doesn't). Appending
    // onto that state would positionally misalign blocks across columns —
    // readers zip block k of every column into rows, so counts would stay
    // consistent while ROWS silently interleaved two commits. Truncate
    // every index to the common minimum entry count first: that is
    // exactly the prefix every reader already observed under the
    // shortest-column rule, and data files are append-only, so dropping
    // the orphaned tail entries never invalidates a live reference (the
    // tail's data bytes stay as inert dangling bytes).
    // the repair below is DESTRUCTIVE when an index was lost rather than
    // never published (truncate-to-min discards every committed row) —
    // warn with the file names before making that permanent (RtcdbFormat)
    RtcdbFormat.warnIfAbsentIndexes(rootP, table, schema.fieldNames.toSeq,
      "rtcdb append repair")
    val entryCounts = schema.fieldNames.map(entryCount(rootP, table, _))
    val minEntries = entryCounts.minOption.getOrElse(0L)
    schema.fieldNames.zip(entryCounts).foreach { case (c, n) =>
      if (n > minEntries)
        publishIndex(rootP, indexPath(rootP, table, c)) { tmp =>
          val ch = FileChannel.open(tmp, StandardOpenOption.WRITE)
          try ch.truncate(minEntries * IndexEntryBytes) finally ch.close()
        }
    }
    // bloom sidecars follow the index repair positionally: truncate each
    // holding whole filters past the repaired entry count back to it;
    // anything NOT in lockstep with its index after that (legacy table,
    // lost or odd-sized file) is deleted — blooms are advisory, and only
    // the size equation makes a skip sound
    val bloomOk: Map[String, Boolean] = schema.fieldNames.map { c =>
      val bp = bloomPath(rootP, table, c)
      if (Files.exists(bp) && Files.size(bp) / BloomBytesPerBlock > minEntries) {
        val ch = FileChannel.open(bp, StandardOpenOption.WRITE)
        try ch.truncate(minEntries * BloomBytesPerBlock) finally ch.close()
      }
      val ok = bloomInLockstep(rootP, table, c)
      if (!ok) Files.deleteIfExists(bp)
      c -> ok
    }.toMap
    // Stitch parts in partition order — data first, index published LAST:
    // phase 1 appends every column's data bytes (zero-copy channel
    // transfer) and collects that column's rebased index entries in
    // memory; phase 2 then publishes each column's index via
    // copy-to-temp + atomic rename. Every reader derives its scan length
    // from the SHORTEST column's index (the min-across-columns rule in
    // both scan paths), and data bytes are durable before any index
    // entry references them — so a concurrent reader observes a
    // consistent prefix (old or new table state, never a per-column
    // mixed block count that would let a pushed COUNT disagree with the
    // row path), and a crash mid-commit leaves only whole-entry index
    // files — no torn trailing entry. The index copy is cheap next to
    // the data move (40 B/block vs the block bytes themselves).
    val newEntries: Array[Array[Byte]] =
      schema.fieldNames.zipWithIndex.map { case (c, ci) =>
        val dataOut = FileChannel.open(dataPath(rootP, table, c),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE,
          StandardOpenOption.APPEND)
        val entryBuf = new ByteArrayOutputStream()
        val bloomBuf = new ByteArrayOutputStream()
        try {
          var base = dataOut.size()
          messages.foreach {
            case RtcdbTaskCommit(parts) if parts.nonEmpty =>
              val part = parts(ci)
              val in = FileChannel.open(Paths.get(part.partPath),
                StandardOpenOption.READ)
              try {
                var pos = 0L
                while (pos < in.size()) pos += in.transferTo(pos,
                  in.size() - pos, dataOut)
              } finally in.close()
              // rebase each entry's start position onto the final file
              part.entryBytes.grouped(IndexEntryBytes).foreach { eb =>
                val e = IndexEntry.fromBytes(eb)
                entryBuf.write(
                  e.copy(startPosition = e.startPosition + base).toBytes)
              }
              bloomBuf.write(part.bloomBytes)
              base += part.dataLength
            case _ => ()
          }
          dataOut.force(false)
        } finally dataOut.close()
        // bloom appended BEFORE the index publish: in the crash window the
        // sidecar is longer than the index, which readers ignore (size
        // equation) and the next commit's repair re-truncates — never a
        // misaligned skip
        if (bloomOk(c)) {
          val bOut = FileChannel.open(bloomPath(rootP, table, c),
            StandardOpenOption.CREATE, StandardOpenOption.WRITE,
            StandardOpenOption.APPEND)
          try {
            bOut.write(java.nio.ByteBuffer.wrap(bloomBuf.toByteArray))
            bOut.force(false)
          } finally bOut.close()
        }
        entryBuf.toByteArray
      }
    // the leading column's new blocks, checked against the (repaired)
    // committed tail before any index entry is published
    val order = new OrderGuard(rootP, table, schema.fields.head)
    newEntries(0).grouped(IndexEntryBytes).map(IndexEntry.fromBytes)
      .foreach(e => order.append(e.min, e.max))
    schema.fieldNames.zipWithIndex.foreach { case (c, ci) =>
      publishIndex(rootP, indexPath(rootP, table, c)) { tmp =>
        Files.write(tmp, newEntries(ci), StandardOpenOption.APPEND)
      }
    }
    // staged parts consumed — clean up
    messages.foreach {
      case RtcdbTaskCommit(parts) =>
        parts.foreach(p => Files.deleteIfExists(Paths.get(p.partPath)))
      case _ => ()
    }
  }

  /** Publish one column's index: sweep stale temps, copy the current
    * index to a temp sibling, apply `mutate` to the temp, fsync it, and
    * atomically rename it over the canonical path — then best-effort
    * fsync the directory so the rename itself survives power loss (the
    * in-place append this replaced left old index bytes durable by
    * construction; the rename path must not regress that).
    */
  private def publishIndex(rootP: java.nio.file.Path,
      idx: java.nio.file.Path)(mutate: java.nio.file.Path => Unit): Unit = {
    // sweep temps a crashed prior commit left behind (they are inert —
    // readers only open the canonical index path — but unbounded litter
    // otherwise)
    val listing = Files.list(rootP)
    try listing.iterator().asScala
      .filter(_.getFileName.toString.startsWith(s".${idx.getFileName}.commit-"))
      .foreach(p => Files.deleteIfExists(p))
    finally listing.close()
    val tmp = idx.resolveSibling(
      s".${idx.getFileName}.commit-${UUID.randomUUID().toString.take(8)}")
    if (Files.exists(idx)) Files.copy(idx, tmp) else Files.createFile(tmp)
    // chop any torn trailing fragment (crash artifact smaller than one
    // 40-byte entry) BEFORE mutating: readers already ignore it (they
    // floor to whole entries), but appending after it would misalign
    // every subsequent entry boundary
    val whole = Files.size(tmp) / IndexEntryBytes * IndexEntryBytes
    if (Files.size(tmp) != whole) {
      val tch = FileChannel.open(tmp, StandardOpenOption.WRITE)
      try tch.truncate(whole) finally tch.close()
    }
    mutate(tmp)
    val ch = FileChannel.open(tmp, StandardOpenOption.WRITE)
    try ch.force(true) finally ch.close()
    try Files.move(tmp, idx, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, idx,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // POSIX requires a directory fsync to make the rename durable; not
    // every filesystem supports opening a directory channel, hence
    // best-effort
    try {
      val dch = FileChannel.open(rootP, StandardOpenOption.READ)
      try dch.force(true) finally dch.close()
    } catch { case _: Exception => () }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case RtcdbTaskCommit(parts) =>
        parts.foreach(p => Files.deleteIfExists(Paths.get(p.partPath)))
      case _ => ()
    }
}

class RtcdbWriterFactory(root: String, table: String, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new RtcdbDataWriter(root, table, schema, partitionId, taskId)
}

/** Task-side writer: buffers up to 1024 rows, then encodes+compresses one
  * block per column into this task's staged part files (reference block
  * layout, storage.rs:253-297 — re-expressed, not ported).
  */
class RtcdbDataWriter(root: String, table: String, schema: StructType,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {

  private val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
  private val uuid = UUID.randomUUID().toString.take(8)
  private val partPaths: Array[Path] = schema.fieldNames.map(c =>
    Paths.get(root, s".$table.$c.part-$partitionId-$taskId-$uuid"))
  private val outs = partPaths.map(p => new RandomAccessFile(p.toFile, "rw"))
  private val entryBufs = Array.fill(schema.length)(new ByteArrayOutputStream())
  private val bloomBufs = Array.fill(schema.length)(new ByteArrayOutputStream())
  private val positions = Array.fill(schema.length)(0L)

  private val buffer = new scala.collection.mutable.ArrayBuffer[InternalRow](RowsPerBlock)

  override def write(row: InternalRow): Unit = {
    buffer += row.copy()
    if (buffer.length >= RowsPerBlock) flushBlock()
  }

  private def flushBlock(): Unit = {
    if (buffer.isEmpty) return
    schema.fields.zipWithIndex.foreach { case (field, ci) =>
      val buf = new ByteArrayOutputStream()
      var minB: Array[Byte] = null
      var maxB: Array[Byte] = null
      var minL = Long.MaxValue
      var maxL = Long.MinValue
      val bloom = new Array[Byte](BloomBytesPerBlock)
      val isLong = field.dataType == LongType
      buffer.foreach { row =>
        if (row.isNullAt(ci))
          throw new IllegalArgumentException("Mismatched data type")
        val v: Any = field.dataType match {
          case LongType =>
            val l = row.getLong(ci)
            if (l < 0) throw new IllegalArgumentException(
              s"rtcdb: negative value $l in uint64 column '${field.name}'")
            encodeLong(buf, l)
            minL = math.min(minL, l); maxL = math.max(maxL, l)
            l
          case StringType =>
            val s = row.getUTF8String(ci).toString
            encodeString(buf, s)
            val p = prefix8(s)
            if (minB == null || compareBytes(p, minB) < 0) minB = p
            if (maxB == null || compareBytes(p, maxB) > 0) maxB = p
            s
          case _ =>
            throw new IllegalArgumentException("Mismatched data type")
        }
        bloomInsert(bloom, bloomValueBytes(isLong, v))
      }
      val raw = buf.toByteArray
      val comp = lz4.compress(raw)
      outs(ci).write(comp)
      val entry = IndexEntry(positions(ci), comp.length.toLong, raw.length.toLong,
        if (isLong) longToBytes8(minL) else minB,
        if (isLong) longToBytes8(maxL) else maxB)
      entryBufs(ci).write(entry.toBytes)
      bloomBufs(ci).write(bloom)
      positions(ci) += comp.length
    }
    buffer.clear()
  }

  override def commit(): WriterCommitMessage = {
    flushBlock()
    outs.foreach(_.close())
    RtcdbTaskCommit(schema.indices.map(ci =>
      RtcdbColPart(partPaths(ci).toString, entryBufs(ci).toByteArray,
        positions(ci), bloomBufs(ci).toByteArray)).toArray)
  }

  override def abort(): Unit = {
    outs.foreach(_.close())
    partPaths.foreach(p => Files.deleteIfExists(p))
  }

  override def close(): Unit = ()
}
