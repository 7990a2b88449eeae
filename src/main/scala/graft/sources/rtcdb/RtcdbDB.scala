package graft.sources.rtcdb

import java.nio.file.{Files, Paths, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The reference's public API (`/root/reference/src/lib.rs:16-49`) over the
  * reference's OWN byte format — `DB::init` / `DB::open` / `write_data`
  * plus the working read path it never shipped, surfaced as a DataFrame so
  * the declared query pipeline (`README.md:51-62`) composes through
  * Catalyst with real column pruning and zone-map block skipping
  * ([[RtcdbDataSource]]).
  *
  * This is byte-format parity; [[graft.catalog.DB]] is the same API over
  * Parquet, the recommended layout at scale (splittable files, columnar
  * batches, footer statistics). A reference user can switch to either.
  */
final class RtcdbDB private (val root: Path, val spark: SparkSession) {

  def tables: Map[String, StructType] = RtcdbFormat.readMetadata(root).toMap

  /** append-only batch ingest in caller order (`src/storage.rs:224-297`
    * semantics): [[RtcdbFormat.write]] checks every cell and aborts the
    * whole batch on a mismatched type, a null (`src/data.rs:10-13` has no
    * Null variant) or a negative u64, and commits through the same
    * crash-safe commit as the distributed path below
    */
  def write(name: String, rows: Seq[Row]): Unit = {
    val schema = tables.getOrElse(name,
      throw new IllegalArgumentException(s"Table not found: $name"))
    RtcdbFormat.write(root.toString, name, schema, rows)
  }

  /** Distributed append ingest — the 100 TB path for the byte format:
    * delegates to the DSv2 writer ([[RtcdbWrite]]), which declares the
    * format's sort contract to Spark (range-sort planned by Catalyst),
    * encodes+compresses per task, and commits by zero-copy concatenation.
    * Same per-cell semantics as the row path (nulls, mismatches and
    * negative u64 values abort the batch, enforced executor-side).
    */
  def write(name: String, df: DataFrame): Unit = {
    val schema = tables.getOrElse(name,
      throw new IllegalArgumentException(s"Table not found: $name"))
    if (df.schema.fields.map(f => (f.name, f.dataType)).toSeq !=
        schema.fields.map(f => (f.name, f.dataType)).toSeq)
      throw new IllegalArgumentException("Mismatched data type")
    df.write.format("rtcdb")
      .option("path", root.toString).option("table", name)
      .mode("append").save()
  }

  /** the read path (`src/storage.rs:299-351`'s intent, alive): a DataFrame
    * over the block format with pruning + pushdown via the V2 source
    */
  def table(name: String): DataFrame = {
    if (!tables.contains(name))
      throw new IllegalArgumentException(s"Table not found: $name")
    spark.read.format("rtcdb")
      .option("path", root.toString)
      .option("table", name)
      .load()
  }
}

object RtcdbDB {
  /** ≙ `DB::init` (`src/lib.rs:31-38`) */
  def init(path: String, tables: Seq[(String, StructType)])(
      implicit spark: SparkSession): RtcdbDB = {
    val root = Paths.get(path)
    Files.createDirectories(root)
    RtcdbFormat.writeMetadata(root, tables)
    new RtcdbDB(root, spark)
  }

  /** ≙ `DB::open` (`src/lib.rs:22-29`) */
  def open(path: String)(implicit spark: SparkSession): RtcdbDB = {
    val root = Paths.get(path)
    if (!Files.exists(root.resolve("metadata.json")))
      throw new IllegalArgumentException(s"No database at $path")
    new RtcdbDB(root, spark)
  }
}
