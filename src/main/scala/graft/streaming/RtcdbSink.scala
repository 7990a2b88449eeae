package graft.streaming

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.DataFrame

import graft.sources.rtcdb.RtcdbFormat

/** Exactly-once micro-batch append into an rtcdb table — the
  * `writeStream.foreachBatch` sink where the streaming surface meets the
  * byte format. Structured Streaming's contract is AT-LEAST-ONCE delivery
  * to foreachBatch (the last batch is redelivered after every restart);
  * this ledger turns that into exactly-once on the table.
  *
  * Protocol, per batch id (single-writer: a streaming sink has exactly
  * one driver):
  *   1. `batch-<id>.done` exists → the batch committed fully; the replay
  *      is a no-op.
  *   2. `batch-<id>.pending` exists → a previous attempt crashed after
  *      starting to append. Every rtcdb file is APPEND-ONLY, so the
  *      pending record's pre-append lengths identify the exact consistent
  *      prefix: truncate each data/index/bloom file back to it (delete
  *      files the record marks absent) and fall through to a fresh
  *      attempt.
  *   3. Fresh attempt: write pending (current lengths) → distributed
  *      DSv2 append → write done → delete pending.
  *
  * A crash at ANY point therefore leaves either a replay-skippable done
  * mark (data fully present) or a rollback-able pending mark (partial or
  * full bytes that the next attempt truncates away) — never a duplicated
  * or torn batch. This is the same write-ahead-intent idea the
  * reference's batch-oriented ingest implies but never needed (its
  * writes were single-process, `/root/reference/src/storage.rs:141-258`);
  * under a restarting stream driver it becomes load-bearing.
  */
object RtcdbSink {

  /** Commit one micro-batch. Returns true if this call appended, false
    * if the ledger proved the batch already committed (replay no-op).
    */
  def commitBatch(dbRoot: String, table: String, ledger: Path,
      batchId: Long, batch: DataFrame): Boolean = {
    val done = ledger.resolve(f"batch-$batchId%06d.done")
    val pending = ledger.resolve(f"batch-$batchId%06d.pending")
    if (Files.exists(done)) return false
    if (Files.exists(pending)) rollback(dbRoot, table, pending)
    val rootP = Paths.get(dbRoot)
    // bootstrap: declare the DB and/or THIS table if absent (the V2
    // provider resolves the table's schema from metadata.json at
    // planning, and the write's commit only appends to a declared table
    // — so a second table joining an existing DB must be declared here too)
    Files.createDirectories(rootP)
    val declared = org.apache.spark.sql.types.StructType(
      batch.schema.fields.map(_.copy(nullable = false)))
    if (!Files.exists(rootP.resolve("metadata.json")))
      RtcdbFormat.writeMetadata(rootP, Seq(table -> declared))
    else {
      val existing = RtcdbFormat.readMetadata(rootP)
      if (!existing.exists(_._1 == table))
        RtcdbFormat.writeMetadata(rootP, existing :+ (table -> declared))
    }
    def len(p: Path) = if (Files.exists(p)) Files.size(p) else -1L
    // the record's ','/'\n' separators must not occur in column names —
    // a name containing one would corrupt the rollback parse
    batch.schema.fieldNames.foreach { c =>
      require(!c.exists(ch => ch == ',' || ch == '\n' || ch == '\r'),
        s"rtcdb sink: column name '$c' contains a ledger separator " +
          "character (',' or newline) — rename the column")
    }
    val rec = batch.schema.fieldNames.map { c =>
      s"$c,${len(RtcdbFormat.dataPath(rootP, table, c))}," +
        s"${len(RtcdbFormat.indexPath(rootP, table, c))}," +
        s"${len(RtcdbFormat.bloomPath(rootP, table, c))}"
    }.mkString("\n")
    Files.createDirectories(ledger)
    // write-then-ATOMIC_MOVE: the pending mark either exists complete or
    // not at all — a crash mid-write can never leave a torn record that
    // would wedge every subsequent restart's rollback parse
    val tmp = ledger.resolve(pending.getFileName.toString + ".tmp")
    Files.write(tmp, rec.getBytes("UTF-8"))
    try Files.move(tmp, pending,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        // some network/overlay mounts can't promise atomicity — degrade
        // to a plain move (the torn-record window reopens: a crash
        // exactly mid-rename could leave a partial mark) rather than
        // wedging every commit on such filesystems. Loud, once per move:
        // operators who need the full guarantee relocate the ledger to a
        // local/POSIX path.
        System.err.println(
          s"[graft.RtcdbSink] WARN: filesystem at $ledger does not " +
            "support atomic moves; pending mark written non-atomically")
        Files.move(tmp, pending,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    batch.write.format("rtcdb").option("path", dbRoot)
      .option("table", table).mode("append").save()
    Files.write(done, Array.emptyByteArray)
    Files.delete(pending)
    true
  }

  /** Restore every column file to its pending-recorded pre-append length
    * (append-only files make truncation the complete undo), then retire
    * the pending mark.
    *
    * Concurrency contract: rollback runs under the stream driver's
    * single-writer lock (a Structured Streaming query has exactly one
    * driver, and foreachBatch is serial), but it also assumes READERS
    * are quiesced OR tolerate a shrinking tail. To minimize the window
    * where a concurrent rtcdb reader could plan blocks it then cannot
    * read, INDEX files are truncated first: planning derives the block
    * count from the shortest column's index, so once every index is back
    * to its pre-append length no new scan will plan into the region
    * still being rolled back in the data/bloom files.
    */
  private[graft] def rollback(dbRoot: String, table: String,
      pending: Path): Unit = {
    val rootP = Paths.get(dbRoot)
    def restore(p: Path, l: Long): Unit =
      if (l < 0L) { Files.deleteIfExists(p); () }
      else if (Files.exists(p) && Files.size(p) > l) {
        val ch = FileChannel.open(p, StandardOpenOption.WRITE)
        try ch.truncate(l) finally ch.close()
        ()
      }
    val lines = new String(Files.readAllBytes(pending), "UTF-8")
      .split("\n").filter(_.nonEmpty)
    // parse the WHOLE record before touching any file: a malformed
    // record (possible only from a pre-atomic-move ledger, or outside
    // tampering) must fail loudly with an actionable message, not
    // half-truncate and then MatchError on every restart
    val parsed = lines.map { line =>
      line.split(",", 4) match {
        case Array(c, dl, il, bl) =>
          try (c, dl.toLong, il.toLong, bl.toLong)
          catch { case _: NumberFormatException =>
            throw new IllegalStateException(
              s"rtcdb sink: unparsable pending record line '$line' in " +
                s"$pending — the ledger is corrupt; inspect the table " +
                "files manually, then delete the pending mark to resume")
          }
        case _ => throw new IllegalStateException(
          s"rtcdb sink: malformed pending record line '$line' in " +
            s"$pending — the ledger is corrupt; inspect the table " +
            "files manually, then delete the pending mark to resume")
      }
    }
    // pass 1: index files (the planning visibility gate), then the rest
    parsed.foreach { case (c, _, il, _) =>
      restore(RtcdbFormat.indexPath(rootP, table, c), il)
    }
    parsed.foreach { case (c, dl, _, bl) =>
      restore(RtcdbFormat.dataPath(rootP, table, c), dl)
      restore(RtcdbFormat.bloomPath(rootP, table, c), bl)
    }
    Files.delete(pending)
  }
}
