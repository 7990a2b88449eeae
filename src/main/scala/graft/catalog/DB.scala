package graft.catalog

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{coalesce, col, lit, max, raise_error, when}
import org.apache.spark.sql.types.{DataType, StructType}

/** The `DB` facade — capability-parity port of the reference's public API
  * (`/root/reference/src/lib.rs:16-49`):
  *
  *   - [[DB.init]]  ≙ `DB::init`  (`src/lib.rs:31-38`) — create a database
  *     directory with a `metadata.json` catalog (`src/metadata.rs:62-76`).
  *   - [[DB.open]]  ≙ `DB::open`  (`src/lib.rs:22-29`) — load the catalog
  *     (`src/metadata.rs:44-60`).
  *   - [[DB.write]] ≙ `DB::write_data` (`src/lib.rs:40-49`,
  *     `src/storage.rs:224-297`) — validated, append-only batch ingest.
  *   - [[DB.table]] — the read path the reference declared but left dead
  *     (`src/storage.rs:299-351`, SURVEY.md §1.4.2), returned as a DataFrame
  *     so the whole declared query pipeline (`README.md:51-62`) composes on
  *     top via Catalyst.
  *
  * Storage mapping (SURVEY.md §1.3): each table is a directory of Parquet
  * files, and its `_snapshot.json` manifest is the only record of which of
  * them are committed (every write verb commits through `commit`). The
  * files carry LZ4-compressed column chunks — the same capability set as the
  * reference's per-column `.data`/`.index` block files (columnar layout,
  * per-block compression, per-column min/max zone maps) supplied natively by
  * the format. The reference's sort-order contract (`README.md:44`: rows
  * sorted by column order so leading-column filters prune) is realized at
  * write time by a range-repartition + within-partition sort on the schema
  * columns, which is what makes Parquet row-group statistics pruning
  * effective.
  */
final class DB private (val root: Path, val spark: SparkSession) {

  /** table name → declared schema, as recorded in metadata.json */
  def tables: Map[String, StructType] = Catalog.read(root)

  private def tableDir(name: String): Path = root.resolve(name)

  private def schemaOf(name: String): StructType = tables.getOrElse(name,
    throw new IllegalArgumentException(s"Table not found: $name"))

  /** Schema-enforced scan of a table — delivers the reference's projected
    * scan (O10) and full scan (O11) plus the declared prune/filter pipeline
    * (D1-D3) through Catalyst; see SURVEY.md §4. The table is exactly the
    * files its manifest commits; a table that never committed is empty.
    */
  def table(name: String): DataFrame =
    read(name, snapshotFiles(name).getOrElse(Nil))

  /** TIME TRAVEL: the table exactly as manifest `version` committed it.
    * Valid until [[expireSnapshots]] drops the version.
    */
  def tableAsOf(name: String, version: Long): DataFrame =
    read(name, snapshotFilesAsOf(name, version).getOrElse(
      throw new IllegalArgumentException(
        s"No retained snapshot v$version for table '$name' " +
          s"(retained: ${snapshotVersions(name).mkString(", ")})")))

  /** The one read path: `files` (manifest-relative) under the declared
    * schema. basePath keeps partition-column inference (and PartitionFilters
    * pruning) for directory-partitioned layouts, which surface partition
    * columns LAST — the select pins the declared order so positional access
    * never depends on the physical layout.
    */
  private def read(name: String, files: Seq[String]): DataFrame = {
    val schema = schemaOf(name)
    val dir = tableDir(name)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.option("basePath", dir.toString).schema(schema)
      .parquet(files.map(f => dir.resolve(f).toString): _*)
      .select(schema.fieldNames.map(col): _*)
  }

  // ── snapshot manifest: the only record of a table's files ──────────────
  /** `_snapshot.json` — the per-table pointer every write verb commits
    * through [[commit]]. Holds the relative paths of every committed data
    * file; any other parquet file in the table dir is uncommitted residue.
    * Absent only for a table that has never committed (it reads as empty).
    */
  private def snapshotPath(name: String): Path =
    tableDir(name).resolve("_snapshot.json")

  /** `_snapshots/vN.json` — one retained manifest per committed version.
    * Written BEFORE the pointer swap (a crash in between leaves an
    * orphan history file one version ahead of the pointer; the next
    * commit re-derives the same version number and overwrites it —
    * self-healing). Data files referenced by ANY retained manifest are
    * never swept, so [[tableAsOf]] reads stay valid until
    * [[expireSnapshots]] releases them — the Iceberg/Delta snapshot
    * lifecycle on plain parquet.
    */
  private def historyDir(name: String): Path =
    tableDir(name).resolve("_snapshots")

  private def historyPath(name: String, version: Long): Path =
    historyDir(name).resolve(s"v$version.json")

  private val mapper = new ObjectMapper()

  /** the manifest codec: (version, files) of one document, None if absent */
  private def readManifest(p: Path): Option[(Long, Seq[String])] =
    if (!Files.exists(p)) None
    else {
      val doc = mapper.readTree(Files.readString(p))
      Some((doc.path("version").asLong(0L),
        doc.get("files").elements().asScala.map(_.asText()).toSeq))
    }

  /** current committed file set, or None when the table never committed */
  private[graft] def snapshotFiles(name: String): Option[Seq[String]] =
    readManifest(snapshotPath(name)).map(_._2)

  /** version of the CURRENT pointer (0 = never committed) */
  private def currentVersion(name: String): Long =
    readManifest(snapshotPath(name)).fold(0L)(_._1)

  /** file list of a retained manifest version (None: expired/never) */
  private[graft] def snapshotFilesAsOf(name: String,
      version: Long): Option[Seq[String]] =
    readManifest(historyPath(name, version)).map(_._2)

  /** retained snapshot versions, ascending (empty: no commits yet) */
  def snapshotVersions(name: String): Seq[Long] =
    if (!Files.exists(historyDir(name))) Seq.empty
    else walk(historyDir(name)).map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d+\\.json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted

  /** every data file some retained manifest (history or pointer) still
    * references — the sweep exclusion set
    */
  private def retainedFiles(name: String): Set[String] =
    (snapshotFiles(name).getOrElse(Nil) ++ snapshotVersions(name)
      .flatMap(v => snapshotFilesAsOf(name, v).getOrElse(Nil))).toSet

  /** Delete every data file no retained manifest references (a crashed
    * write's residue, expired generations), together with the `.{file}.crc`
    * checksum Hadoop writes beside each file a direct append creates. Only
    * a file outside the current manifest needs the history manifests
    * parsed, so an append-only table's sweep reads one manifest, not every
    * retained one. Returns (surviving listing, #files deleted).
    */
  private def sweep(name: String): (Seq[String], Int) = {
    val current = snapshotFiles(name).getOrElse(Nil).toSet
    lazy val retained = retainedFiles(name)
    val (kept, orphans) =
      listRelParquet(name).partition(f => current(f) || retained(f))
    orphans.map(tableDir(name).resolve).foreach { p =>
      Files.deleteIfExists(p)
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }
    (kept, orphans.size)
  }

  /** Release history: keep the newest `keepLast` versions (the pointer's
    * version always survives), delete older manifests, then delete every
    * data file no longer referenced by ANY retained manifest — the
    * space-reclamation half of the snapshot lifecycle. Returns
    * (#versions expired, #data files reclaimed).
    */
  def expireSnapshots(name: String, keepLast: Int = 1): (Int, Int) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val cur = currentVersion(name)
    val drop = snapshotVersions(name).dropRight(keepLast).filterNot(_ == cur)
    drop.foreach(v => Files.deleteIfExists(historyPath(name, v)))
    (drop.size, sweep(name)._2)
  }

  /** THE commit path of every write verb, in four steps:
    *  1. sweep residue no retained manifest references (a crashed write's
    *     files are never adopted, even on a table that never committed);
    *  2. list the table dir;
    *  3. run `write`, which adds files to the table dir and deletes none;
    *  4. commit the current manifest minus the files `replaces(added)`
    *     names, plus exactly the files this write `added`.
    * A failure before step 4 leaves the committed view untouched and only
    * unreferenced files behind, swept by the next commit. Replaced files
    * stay on disk for the previous retained manifest ([[tableAsOf]]);
    * [[expireSnapshots]] is the reclamation point.
    */
  private def commit(name: String, replaces: Seq[String] => String => Boolean)(
      write: => Unit): Unit = {
    val before = sweep(name)._1.toSet
    write
    val added = listRelParquet(name).filterNot(before)
    val replaced = replaces(added)
    commitSnapshot(name,
      snapshotFiles(name).getOrElse(Nil).filterNot(replaced) ++ added)
  }

  private val ReplacesNothing: Seq[String] => String => Boolean = _ => _ => false

  /** The commit point: write the versioned manifest into the history dir,
    * then stage the same doc to a temp sibling and atomically move it over
    * `_snapshot.json`, fsync'ing each file and then the directory — the
    * same staged-rename discipline as the rtcdb index commit
    * (RtcdbWrite.scala), so readers see the old file set or the new one,
    * never a mix, even across power loss.
    */
  private def commitSnapshot(name: String, files: Seq[String]): Unit = {
    val version = currentVersion(name) + 1
    val doc = mapper.createObjectNode()
    doc.put("version", version)
    val arr = doc.putArray("files")
    files.sorted.foreach(arr.add)
    val bytes = mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(doc)
    // history first: a retained copy must exist before the pointer can
    // name this version (see historyDir scaladoc for the crash window)
    Files.createDirectories(historyDir(name))
    writeSynced(historyPath(name, version), bytes)
    val tmp = tableDir(name).resolve("_snapshot.json.tmp")
    writeSynced(tmp, bytes)
    Files.move(tmp, snapshotPath(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // POSIX: the rename itself needs a directory fsync to be durable;
    // not every filesystem allows opening a directory channel — best
    // effort, matching the rtcdb write path
    try {
      val dch = FileChannel.open(tableDir(name), StandardOpenOption.READ)
      try dch.force(true) finally dch.close()
    } catch { case _: Exception => () }
  }

  private def writeSynced(p: Path, bytes: Array[Byte]): Unit = {
    val ch = FileChannel.open(p, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try { ch.write(ByteBuffer.wrap(bytes)); ch.force(true) } finally ch.close()
  }

  /** every path under `p` (the stream is closed before returning) */
  private def walk(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toList finally s.close()
  }

  private def parquetFiles(p: Path): Seq[Path] =
    walk(p).filter(_.toString.endsWith(".parquet"))

  /** data files under the table dir, relative to it (manifest encoding) */
  private def listRelParquet(name: String): Seq[String] = {
    val dir = tableDir(name)
    if (!Files.exists(dir)) Seq.empty
    else parquetFiles(dir).map(f => dir.relativize(f).toString)
  }

  /** relative parent dir of a relative file path ("" at table root) */
  private def parentRel(relFile: String): String = {
    val i = relFile.lastIndexOf('/')
    if (i < 0) "" else relFile.substring(0, i)
  }

  /** Run `body` on the scratch dir `{root}/{name}.__{tag}`, wiped before
    * and after, so a failed verb leaves no staging residue.
    */
  private def withScratch[T](name: String, tag: String)(body: Path => T): T = {
    val tmp = root.resolve(s"$name.__$tag")
    def wipe(): Unit = if (Files.exists(tmp)) walk(tmp).reverse.foreach(Files.delete)
    wipe()
    try body(tmp) finally wipe()
  }

  // ── validation ──────────────────────────────────────────────────────────
  private def checkShape(df: DataFrame, schema: StructType): Unit =
    if (df.schema.fields.map(f => (f.name, f.dataType)).toSeq !=
        schema.fields.map(f => (f.name, f.dataType)).toSeq)
      throw new IllegalArgumentException("Mismatched data type")

  private def requireKeys(verb: String, keys: Seq[String],
      schema: StructType): Unit =
    require(keys.nonEmpty && keys.forall(schema.fieldNames.contains),
      s"$verb keys must be table columns, got $keys")

  /** The validation of the DataFrame ingest verbs: schema equality, then a
    * pre-scan that rejects null batches BEFORE any file is written (the
    * reference aborts the whole write on a bad cell — partial appends
    * would be worse than an extra scan), then [[nullGuarded]] so a
    * non-deterministic source that produces nulls only on the write-time
    * evaluation still cannot land them in the table.
    */
  private def validated(name: String, df: DataFrame): (StructType, DataFrame) = {
    val schema = schemaOf(name)
    checkShape(df, schema)
    if (!df.filter(schema.fieldNames.map(col(_).isNull).reduce(_ || _)).isEmpty)
      throw new IllegalArgumentException("Mismatched data type")
    (schema, nullGuarded(df, schema))
  }

  /** Null-guarded projection: the written plan itself raises on any null
    * cell, so a NON-DETERMINISTIC source that passes the pre-scan null
    * check cannot materialize nulls on the (separate) write-time
    * evaluation. Shared by every write path — the pre-scan gives the
    * clean whole-batch abort before any file exists; this guard makes
    * the abort airtight without persisting the input.
    */
  private def nullGuarded(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map { f =>
      when(col(f.name).isNull,
        raise_error(lit("Mismatched data type")).cast(f.dataType))
        .otherwise(col(f.name)).as(f.name)
    }.toSeq: _*)

  /** STAGE-AND-VALIDATE in ONE evaluation, for the merge verbs whose plan
    * reads the batch more than once ([[upsertPartitioned]]: the touched
    * tuples, then the merge; [[upsertScd2]]: the change join, its keys and
    * the new rows): the shape check, then the null-guarded projection
    * raises on any null cell while the batch is staged to an invisible
    * scratch dir — the same whole-batch abort a pre-scan gives (staging
    * residue is wiped, the table untouched), but the caller's plan is
    * evaluated exactly once. `body` reads the staged batch back as tiny
    * parquet instead of re-running that plan per consumer. [[upsert]] and
    * [[delete]] read their batch once and need no staging ([[mergeByKey]]).
    */
  private def staged[T](name: String, df: DataFrame, schema: StructType)(
      body: DataFrame => T): T = {
    checkShape(df, schema)
    withScratch(name, "stage") { tmp =>
      nullGuarded(df, schema).write
        .option("compression", "lz4").parquet(tmp.toString)
      body(spark.read.schema(StructType(schema.fields.map(_.copy(nullable = true))))
        .parquet(tmp.toString))
    }
  }

  // ── write verbs ─────────────────────────────────────────────────────────
  /** Append-only batch ingest of driver-side rows, mirroring
    * `write_data`'s per-cell validation (`src/storage.rs:250-252`: a
    * mismatched value aborts the whole write) and the reference's no-null
    * type system (`src/data.rs:10-13` has no Null variant).
    */
  def write(name: String, rows: Seq[Row]): Unit = {
    val schema = schemaOf(name)
    rows.foreach { r =>
      if (r.length != schema.length)
        throw new IllegalArgumentException("Mismatched data type")
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val v = r.get(i)
        if (v == null) throw new IllegalArgumentException("Mismatched data type")
        val ok = (f.dataType.typeName, v) match {
          case ("long", _: java.lang.Long)      => true
          case ("integer", _: java.lang.Integer) => true
          case ("double", _: java.lang.Double)  => true
          case ("string", _: String)            => true
          case ("timestamp", _: java.sql.Timestamp) => true
          case ("boolean", _: java.lang.Boolean) => true
          case _ => false
        }
        if (!ok) throw new IllegalArgumentException("Mismatched data type")
      }
    }
    appendSorted(name, schema, spark.createDataFrame(rows.asJava, schema))
  }

  /** Distributed append ingest: the 100 TB path. Schema must match the
    * catalog exactly; nulls anywhere fail the batch ([[validated]]).
    */
  def write(name: String, df: DataFrame): Unit = {
    val (schema, guarded) = validated(name, df)
    appendSorted(name, schema, guarded)
  }

  /** Range-sorted LZ4 Parquet append — realizes `README.md:44`'s sort
    * contract so min/max pruning works (SURVEY.md §1.3, §7.4.3).
    */
  private def appendSorted(name: String, schema: StructType, df: DataFrame): Unit = {
    val sortCols = schema.fieldNames.map(col).toSeq
    commit(name, ReplacesNothing) {
      df.repartitionByRange(sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .write.mode("append").option("compression", "lz4")
        .parquet(tableDir(name).toString)
    }
  }

  /** Directory-partitioned append ingest (`{table}/{col}={value}/...`):
    * coarse-grained data skipping — filters on the partition columns prune
    * whole directories before any file is opened (PartitionFilters in the
    * scan, asserted in DBSpec). The complement of the range-sort layout:
    * partition on low-cardinality operational keys (date, category),
    * range-sort within partitions for row-group pruning on the rest.
    */
  def writePartitioned(name: String, df: DataFrame,
      partitionCols: Seq[String]): Unit = {
    val (schema, guarded) = validated(name, df)
    commit(name, ReplacesNothing) {
      appendPartitioned(name, schema, guarded, partitionCols)
    }
  }

  /** The partitioned write shared by [[writePartitioned]],
    * [[upsertPartitioned]] and [[compactPartitions]]. Partition columns
    * lead the in-partition sort: the dynamic-partition writer requires
    * ordering by them, so leading with them means our sort satisfies that
    * requirement (no second SortExec) and the data-column ordering inside
    * each directory is preserved exactly.
    */
  private def appendPartitioned(name: String, schema: StructType,
      df: DataFrame, partitionCols: Seq[String]): Unit =
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++
        schema.fieldNames.filterNot(partitionCols.contains)).map(col): _*)
      .write.mode("append").option("compression", "lz4")
      .partitionBy(partitionCols: _*)
      .parquet(tableDir(name).toString)

  /** Z-ordered (Morton-curve) ingest: rows sort by the bit-interleave of
    * two long columns, so per-file min/max ranges stay tight on BOTH
    * dimensions — a filter on EITHER column prunes files/row-groups,
    * where a linear sort only ever prunes on its leading column. This is
    * the multi-dimensional clustering layout (Databricks OPTIMIZE ZORDER,
    * Iceberg sort orders) expressed as a pure Column expression: the
    * classic mask-spread interleave, 12 bitwise ops per row, whole-stage
    * codegen, no UDF.
    *
    * Same validation as [[write]]; appends compose (re-[[compact]] after
    * many appends to restore global clustering).
    */
  def writeZOrdered(name: String, df: DataFrame, colA: String,
      colB: String): Unit = {
    val longCols = schemaOf(name).fields
      .collect { case f if f.dataType.typeName == "long" => f.name }
    require(Seq(colA, colB).forall(longCols.contains),
      s"z-order columns must be long table columns, got $colA/$colB")
    val (_, guarded) = validated(name, df)
    commit(name, ReplacesNothing) {
      guarded.withColumn("__z", DB.zValue(col(colA), col(colB)))
        .repartitionByRange(col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
        .write.mode("append").option("compression", "lz4")
        .parquet(tableDir(name).toString)
    }
  }

  /** Write `merge(input)` as the table's new range-sorted contents,
    * replacing every committed file. The rewrite is staged to
    * `{name}.__rewrite` FIRST (it reads the generation it supersedes), then
    * only its `.parquet` files move into the table dir under a
    * `g{version}-` prefix — no `.crc` or `_SUCCESS` litter — and [[commit]]
    * swaps the manifest. Every rewrite verb ([[upsert]], [[upsertScd2]],
    * [[delete]], [[compact]]) gets the same old-or-new durability and time
    * travel as the partitioned merge.
    *
    * When the caller doesn't pin a file count n, it is derived from the
    * COMMITTED generation's size (≈ the rewrite's size for merge-style
    * rewrites; superseded-but-retained files must not inflate it): file
    * count scales with data at 100 TB, while a small table rewrites to ONE
    * file instead of spark.sql.shuffle.partitions shards.
    *
    * n = 1 (every table under 128 MB) is `coalesce(1)` BELOW `merge` plus
    * one in-partition sort: the single partition already satisfies a keyed
    * merge's clustering, so merge, sort and write run as one task of one
    * job with no exchange. n > 1 range-partitions `merge`'s output (an
    * exchange plus its sampling job) into n sorted files.
    */
  private def atomicRewrite(name: String, input: DataFrame, schema: StructType,
      nFiles: Option[Int], merge: DataFrame => DataFrame = identity): Unit = {
    val dir = tableDir(name)
    val sortCols = schema.fieldNames.map(col).toSeq
    val n = nFiles.getOrElse {
      val bytes = snapshotFiles(name).getOrElse(Nil)
        .map(f => Files.size(dir.resolve(f))).sum
      math.max(1, math.ceil(bytes.toDouble / (128L * 1024 * 1024)).toInt)
    }
    val partitioned =
      if (n == 1) merge(input.coalesce(1))
      else merge(input).repartitionByRange(n, sortCols: _*)
    withScratch(name, "rewrite") { tmp =>
      commit(name, _ => _ => true) {
        partitioned.sortWithinPartitions(sortCols: _*)
          .write.mode("overwrite").option("compression", "lz4")
          .parquet(tmp.toString)
        Files.createDirectories(dir)
        val gen = s"g${currentVersion(name) + 1}"
        parquetFiles(tmp).foreach(p =>
          Files.move(p, dir.resolve(s"$gen-${p.getFileName}")))
      }
    }
  }

  /** Compaction — the small-files remedy every append-only warehouse
    * needs: N appends leave N×P files whose per-file row-group statistics
    * overlap, degrading both scan planning (file-listing cost) and
    * zone-map pruning (overlapping min/max ranges prune nothing). Rewrites
    * the table as one globally range-sorted layout targeting
    * `targetFileBytes` per file through [[atomicRewrite]]; the old
    * generation stays readable via [[tableAsOf]] until
    * [[expireSnapshots]] reclaims it.
    *
    * Returns (filesBefore, filesAfter), committed files only: superseded
    * generations retained for time travel are not part of the table.
    */
  def compact(name: String, targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val schema = schemaOf(name)
    val before = snapshotFiles(name).getOrElse(Nil)
    if (before.isEmpty) return (0, 0)
    val totalBytes = before.map(f => Files.size(tableDir(name).resolve(f))).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    atomicRewrite(name, table(name), schema, Some(nFiles))
    (before.size, snapshotFiles(name).getOrElse(Nil).size)
  }

  /** SCD1 upsert (MERGE semantics on plain parquet): rows of `df` REPLACE
    * existing rows sharing the same `keys` values; everything else is
    * preserved, and every batch row lands (duplicate keys inside the batch
    * included). Schema equality is checked up front; the batch is
    * [[nullGuarded]], so a null cell aborts the rewrite job before its
    * commit (the scratch output is wiped, the table untouched). The merge
    * is one sort-merge pass inside the rewrite ([[mergeByKey]]): the batch
    * is evaluated once, and a table under 128 MB merges, sorts and writes
    * in one Spark job. The commit goes through [[atomicRewrite]], so
    * readers either see the old table or the fully-merged one — never a
    * partial state.
    *
    * Scale note: this is the rewrite-on-merge form (cost O(table)); the
    * at-scale refinement is [[upsertPartitioned]] on [[writePartitioned]]
    * layouts (only directories containing touched keys re-write).
    */
  def upsert(name: String, df: DataFrame, keys: Seq[String]): Unit = {
    val schema = schemaOf(name)
    requireKeys("upsert", keys, schema)
    checkShape(df, schema)
    mergeByKey(name, nullGuarded(df, schema), keys, keepBatch = true)
  }

  /** Keyed DELETE — the MERGE family's third verb: rows matching any key
    * tuple in `keyDf` are removed, committed through the same atomic
    * snapshot rewrite (old-or-new, the deleted version stays readable via
    * [[tableAsOf]] until [[expireSnapshots]]). `keyDf` must carry exactly
    * the key columns, at types that widen losslessly to the table's; its
    * tuples enter [[mergeByKey]] as batch rows that are dropped after the
    * merge.
    */
  def delete(name: String, keyDf: DataFrame, keys: Seq[String]): Unit = {
    val schema = schemaOf(name)
    requireKeys("delete", keys, schema)
    require(keyDf.schema.fieldNames.toSeq == keys,
      s"keyDf must carry exactly the key columns $keys, " +
        s"got ${keyDf.schema.fieldNames.toSeq}")
    // the markers take the table's key types; only a lossless widening
    // (int -> long) may get there, so a cast never changes which key matches
    require(keys.forall(k => Cast.canUpCast(keyDf.schema(k).dataType,
        schema(k).dataType)),
      s"keyDf key types ${keyDf.schema.simpleString} must widen to the " +
        s"table's ${schema.simpleString}")
    val markers = keyDf.select(schema.fields.map { f =>
      (if (keys.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)
    }.toSeq: _*)
    mergeByKey(name, markers, keys, keepBatch = false)
  }

  /** The keyed merge of [[upsert]] and [[delete]], one sort-merge pass: the
    * committed rows (tag 0) unioned by name with `batch` (tag 1), and per
    * key only the rows carrying the key's highest tag survive — every
    * batch row, and a table row only when no batch row shares its key
    * (exactly `table anti-join batch-keys ∪ batch`). `keepBatch = false`
    * then drops the batch rows: a keyed delete. The window runs inside
    * [[atomicRewrite]]'s job, above its layout step, so the batch is
    * evaluated once and needs no staging or broadcast. `nFiles` pins the
    * rewrite's file count (as for [[compact]]; None derives it).
    */
  private[graft] def mergeByKey(name: String, batch: DataFrame,
      keys: Seq[String], keepBatch: Boolean,
      nFiles: Option[Int] = None): Unit = {
    val schema = schemaOf(name)
    val top = max(col("__tag")).over(Window.partitionBy(keys.map(col): _*))
    atomicRewrite(name,
      table(name).withColumn("__tag", lit(0))
        .unionByName(batch.withColumn("__tag", lit(1))),
      schema, nFiles,
      _.withColumn("__top", top)
        .filter(col("__tag") === col("__top") &&
          col("__tag") <= (if (keepBatch) 1 else 0))
        .select(schema.fieldNames.map(col).toSeq: _*))
  }

  /** Change-data-capture DIFF between two retained snapshot versions (the
    * Delta CDF / Iceberg changelog read, on plain parquet): one full
    * outer join of `tableAsOf(vOld)` against `vNew` (default: current) on
    * the keys, rows classified I / U / D, unchanged keys emitted not at
    * all. Output: `op`, the keys, and `before_X` / `after_X` for every
    * non-key column. The downstream of every incremental pipeline —
    * "what changed since the version I last processed" — as one keyed
    * join over two MV-sized snapshots.
    */
  def diff(name: String, keys: Seq[String], vOld: Long,
      vNew: Option[Long] = None): DataFrame = {
    val schema = schemaOf(name)
    requireKeys("diff", keys, schema)
    val attrs = schema.fieldNames.filterNot(keys.contains).toSeq
    val o = tableAsOf(name, vOld).as("o")
    val n = vNew.map(tableAsOf(name, _)).getOrElse(table(name)).as("n")
    val cond = keys.map(k => col(s"o.$k") === col(s"n.$k")).reduce(_ && _)
    val oldExists = col(s"o.${keys.head}").isNotNull
    val newExists = col(s"n.${keys.head}").isNotNull
    val changed = attrs.map(a => !(col(s"o.$a") <=> col(s"n.$a")))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(n, cond, "full_outer")
      .withColumn("op",
        when(!oldExists, lit("I")).when(!newExists, lit("D"))
          .when(changed, lit("U")))
      .filter(col("op").isNotNull)
      .select(Seq(col("op")) ++
        keys.map(k => coalesce(col(s"o.$k"), col(s"n.$k")).as(k)) ++
        attrs.flatMap(a => Seq(col(s"o.$a").as(s"before_$a"),
          col(s"n.$a").as(s"after_$a"))): _*)
  }

  /** History-preserving SCD2 upsert (the warehouse dimension-history
    * pattern): the table's pinned schema is the BUSINESS columns plus the
    * system pair (`valid_from`, `valid_to` — BIGINT versions; current
    * rows carry `valid_to = Long.MaxValue` so the no-null ingest contract
    * holds). For a delta batch at `version`:
    *   - keys whose current row differs in ANY business attribute get the
    *     old row CLOSED (`valid_to = version`) and a new current row
    *     appended (`valid_from = version`);
    *   - brand-new keys append as current;
    *   - attribute-identical rows are a NO-OP (standard SCD2 change
    *     detection — re-sending an unchanged dimension must not spawn
    *     history).
    * Point-in-time view: `valid_from <= t < valid_to`; current view:
    * `valid_to = Long.MaxValue`. Commit goes through [[atomicRewrite]]
    * (snapshot-manifest swap), so readers see old-or-new, never a mix;
    * at scale the same merge drops onto [[upsertPartitioned]]'s
    * touched-partition machinery since closures only touch the delta's
    * key partitions.
    */
  def upsertScd2(name: String, df: DataFrame, keys: Seq[String],
      version: Long): Unit = {
    val schema = schemaOf(name)
    val sys = Seq("valid_from", "valid_to")
    require(sys.forall(schema.fieldNames.contains),
      s"SCD2 table $name must declare valid_from/valid_to BIGINT columns")
    val bizSchema = StructType(schema.fields.filterNot(f => sys.contains(f.name)))
    require(keys.nonEmpty && keys.forall(bizSchema.fieldNames.contains),
      s"upsert keys must be business columns, got $keys")
    val attrs = bizSchema.fieldNames.filterNot(keys.contains).toSeq
    staged(name, df, bizSchema) { batch =>
      val hist = table(name)
      val cur = hist.filter(col("valid_to") === Long.MaxValue)
      val past = hist.filter(col("valid_to") =!= Long.MaxValue)
      val joinCond = keys.map(k => col(s"d.$k") === col(s"c.$k"))
        .reduce(_ && _)
      val joined = batch.as("d").join(cur.as("c"), joinCond, "left_outer")
      // changed = new key (no current row) OR any attribute differs
      val isChanged = col(s"c.${keys.head}").isNull ||
        attrs.map(a => !(col(s"d.$a") <=> col(s"c.$a"))).reduce(_ || _)
      val changed = joined.filter(isChanged)
        .select(bizSchema.fieldNames.map(f => col(s"d.$f").as(f)).toSeq: _*)
      val changedKeys = changed.select(keys.map(col): _*).distinct()
      val newRows = changed
        .withColumn("valid_from", lit(version))
        .withColumn("valid_to", lit(Long.MaxValue))
        .select(schema.fieldNames.map(col).toSeq: _*)
      val closed = cur.join(changedKeys, keys, "left_semi")
        .withColumn("valid_to", lit(version))
        .select(schema.fieldNames.map(col).toSeq: _*)
      val keptCur = cur.join(changedKeys, keys, "left_anti")
      atomicRewrite(name,
        past.unionByName(keptCur).unionByName(closed).unionByName(newRows),
        schema, None)
    }
  }

  /** Partition-scoped SCD1 upsert — the at-scale refinement of [[upsert]]:
    * on a directory-partitioned table (written via [[writePartitioned]]),
    * rows of `df` replace same-key rows and ONLY the partitions `df`
    * touches are rewritten — merge cost is O(touched partitions), not
    * O(table), which is what makes MERGE affordable on a 100 TB fact table
    * where a day's update touches a handful of date partitions.
    *
    * Contract: `partitionCols ⊆ keys` — a key must not move between
    * partitions, otherwise its old row (in an untouched partition) would
    * survive alongside the new one. Enforced with `require`.
    *
    * Mechanics: the batch is [[staged]]; [[upsertMergeInput]] builds the
    * merged content of the touched partitions (read side statically
    * pruned, asserted in DBSpec), and its write APPENDS a new generation
    * next to the old one — nothing is deleted or overwritten. Every
    * touched partition carries ≥1 batch row, so the directories this write
    * adds files to are exactly the touched partitions, and [[commit]]
    * replaces only their files — the single manifest swap commits every
    * touched partition at once, and untouched directories stay
    * byte-identical (asserted in DBSpec).
    */
  def upsertPartitioned(name: String, df: DataFrame,
      partitionCols: Seq[String], keys: Seq[String],
      literalCap: Int = DB.UpsertPruneLiteralCap): Unit = {
    val schema = schemaOf(name)
    requireKeys("upsert", keys, schema)
    require(partitionCols.nonEmpty && partitionCols.forall(keys.contains),
      s"partition columns must be part of the upsert key, got $partitionCols vs $keys")
    staged(name, df, schema) { batch =>
      // empty batch: nothing to merge, nothing to commit
      upsertMergeInput(name, batch, partitionCols, keys, literalCap)
        .foreach { merged =>
          val touched: Seq[String] => String => Boolean = added => {
            val dirs = added.map(parentRel).toSet
            f => dirs(parentRel(f))
          }
          commit(name, touched) {
            appendPartitioned(name, schema, merged, partitionCols)
          }
        }
    }
  }

  /** The partition-pruned merge input for [[upsertPartitioned]]: current
    * rows of the TOUCHED partitions only, minus same-key rows, plus the
    * batch. Exposed for DBSpec's pruning assertion. Returns None for an
    * empty batch.
    *
    * Prune form is capacity-tiered: up to `literalCap` touched
    * partitions, the touched tuples are collected (one small driver
    * round trip, one row per touched partition) and pushed as a literal
    * filter — static partition pruning the planner can never decline.
    * ABOVE the cap, a collected disjunction would itself be the problem
    * (a 10⁵-term filter is a pathological plan: analysis/codegen cost
    * scales with plan size, and the driver holds every tuple), so the
    * prune switches to a broadcast-semi-join of the touched-partition
    * frame against the table — runtime DPP/semi-join pruning instead of
    * static pruning, the right trade once the touched set is no longer
    * plan-sized. The cap is a parameter so the fallback is testable
    * without staging a thousand partition directories.
    */
  private[graft] def upsertMergeInput(name: String, batch: DataFrame,
      partitionCols: Seq[String], keys: Seq[String],
      literalCap: Int = DB.UpsertPruneLiteralCap): Option[DataFrame] = {
    val touchedDf = batch.select(partitionCols.map(col): _*).distinct()
    // collect at most cap+1 tuples: enough to decide the tier without
    // ever materializing an unbounded touched list on the driver
    val touched = touchedDf.limit(literalCap + 1).collect()
    if (touched.isEmpty) None
    else {
      val pruned =
        if (touched.length <= literalCap) {
          val prune = touched.map(r =>
            partitionCols.zipWithIndex
              .map { case (c, i) => col(c) === lit(r.get(i)) }
              .reduce(_ && _))
            .reduce(_ || _)
          table(name).filter(prune)
        } else
          table(name).join(
            org.apache.spark.sql.functions.broadcast(touchedDf),
            partitionCols, "left_semi")
      val kept = pruned
        .join(batch.select(keys.map(col): _*).distinct(), keys, "left_anti")
      Some(kept.unionByName(batch))
    }
  }

  /** Partition-preserving compaction — the small-files remedy for
    * DIRECTORY-PARTITIONED tables, where [[compact]]'s whole-table
    * range-sort rewrite would flatten the layout (and with it every
    * PartitionFilters prune). Each partition's committed files are
    * rewritten into one output file per partition (append-only new
    * generation, partition columns re-derived from the directory names),
    * then ONE [[commit]] replaces every compacted partition's files at
    * once — readers see the complete old file set or the complete new
    * one. Victims stay referenced by the pre-compaction retained manifest
    * (time travel must still see that layout) until [[expireSnapshots]].
    * At 100 TB this is the nightly maintenance job: N streaming appends
    * leave N small files per partition whose row-group stats overlap;
    * compaction restores one well-sorted file per partition without ever
    * taking the table offline or touching partitions that are already
    * compact.
    *
    * Returns (committedFilesBefore, committedFilesAfter).
    */
  def compactPartitions(name: String): (Int, Int) = {
    val schema = schemaOf(name)
    val current = snapshotFiles(name).getOrElse(Nil)
    val byPart = current.groupBy(parentRel)
    require(!byPart.contains(""),
      s"compactPartitions requires a directory-partitioned table; " +
        s"'$name' has files at the table root (use compact)")
    val victims = byPart.filter { case (_, fs) => fs.size > 1 }
    if (victims.isEmpty) return (current.size, current.size)
    // partition column names, from the directory structure itself
    val partitionCols = victims.head._1.split('/').map(_.split("=")(0)).toSeq
    commit(name, _ => f => victims.contains(parentRel(f))) {
      appendPartitioned(name, schema,
        read(name, victims.values.flatten.toSeq), partitionCols)
    }
    (current.size, snapshotFiles(name).getOrElse(Nil).size)
  }

  /** session-catalog identifier for a bucketed table, unique per DB root */
  private def bucketedName(name: String): String =
    s"graft_${name}_${java.lang.Integer.toHexString(root.toString.hashCode)}"

  /** Bucketed ingest: hash-bucket the table by `bucketCols` into `numBuckets`
    * files, sorted within buckets. Joins and aggregations between tables
    * bucketed the same way on the same keys then run WITHOUT a shuffle —
    * the co-located-join layout that matters most at 100 TB (a fact-fact
    * join at that scale is otherwise a full-network shuffle of both sides).
    *
    * Registered in the Spark session catalog (bucketing metadata lives
    * there) as an external table under `{root}/{name}.bucketed`, outside
    * the manifest-committed table dir. Batch-validates like [[write]].
    */
  def writeBucketed(name: String, df: DataFrame, numBuckets: Int,
      bucketCols: Seq[String]): Unit = {
    val (_, guarded) = validated(name, df)
    val cat = bucketedName(name)
    spark.sql(s"DROP TABLE IF EXISTS $cat")
    guarded.write
      .mode("overwrite")
      .option("compression", "lz4")
      .option("path", tableDir(s"$name.bucketed").toString)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(cat)
  }

  /** Scan of a bucketed table written by [[writeBucketed]] — carries the
    * bucketing metadata, so equi-joins/aggs on the bucket keys skip the
    * exchange (asserted in DBSpec).
    */
  def bucketedTable(name: String): DataFrame =
    spark.table(bucketedName(name))
}

object DB {

  /** [[DB.upsertMergeInput]]'s tier boundary: the most touched-partition
    * tuples worth pushing as a collected literal disjunction before the
    * plan itself becomes the cost (each literal term is an analysis +
    * codegen node, and the driver holds the whole list). ~1000 terms is
    * comfortably plan-sized; beyond it the broadcast-semi-join prune wins.
    */
  val UpsertPruneLiteralCap = 1000

  /** Morton (Z-order) value: bit-interleave of the low 32 bits of two
    * longs — `spread(a) | spread(b) << 1` with the classic mask-spread
    * ladder. Pure Column arithmetic (codegen'd); inputs beyond 32 bits
    * contribute their low 32 (the curve's usual domain contract — rank or
    * bucket wider keys first).
    */
  def zValue(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft}
    def spread(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      var v = x.bitwiseAND(lit(0xFFFFFFFFL))
      v = (v.bitwiseOR(shiftleft(v, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      v = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      v = (v.bitwiseOR(shiftleft(v, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      v = (v.bitwiseOR(shiftleft(v, 2))).bitwiseAND(lit(0x3333333333333333L))
      v = (v.bitwiseOR(shiftleft(v, 1))).bitwiseAND(lit(0x5555555555555555L))
      v
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Create a database: writes `metadata.json` holding every table's schema
    * (≙ `DB::init`, `/root/reference/src/lib.rs:31-38`).
    */
  def init(path: String, tables: Seq[(String, StructType)])(
      implicit spark: SparkSession): DB = {
    val root = Paths.get(path)
    Files.createDirectories(root)
    Catalog.write(root, tables)
    new DB(root, spark)
  }

  /** Open an existing database (≙ `DB::open`, `/root/reference/src/lib.rs:22-29`);
    * fails if `metadata.json` is absent, like the reference's
    * `fs::read_to_string` error path (`src/metadata.rs:46`).
    */
  def open(path: String)(implicit spark: SparkSession): DB = {
    val root = Paths.get(path)
    if (!Files.exists(Catalog.metadataFile(root)))
      throw new IllegalArgumentException(s"No database at $path")
    new DB(root, spark)
  }
}

/** `metadata.json` codec — same role as the reference's serde round-trip
  * (`/root/reference/src/metadata.rs:44-76`), with Spark `StructType` JSON
  * as the per-table schema encoding.
  *
  * Shape: `{"tables": [{"name": "...", "schema": <StructType.json>}]}`.
  */
object Catalog {
  private val mapper = new ObjectMapper()

  def metadataFile(root: Path): Path = root.resolve("metadata.json")

  def write(root: Path, tables: Seq[(String, StructType)]): Unit = {
    val doc = mapper.createObjectNode()
    val arr = doc.putArray("tables")
    tables.foreach { case (name, schema) =>
      val t = arr.addObject()
      t.put("name", name)
      t.set[ObjectNode]("schema", mapper.readTree(schema.json).asInstanceOf[ObjectNode])
    }
    Files.writeString(metadataFile(root),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(doc))
  }

  def read(root: Path): Map[String, StructType] = {
    val doc = mapper.readTree(Files.readString(metadataFile(root)))
    doc.get("tables").elements().asScala.map { t =>
      t.get("name").asText() ->
        DataType.fromJson(t.get("schema").toString).asInstanceOf[StructType]
    }.toMap
  }
}
