package graft.sources.rtcdb

import java.io.RandomAccessFile
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min, Count}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import RtcdbFormat._

/** DataSource V2 reader for the rtcdb on-disk format — the query pipeline
  * the reference *declares* (`/root/reference/README.md:51-62`) but never
  * shipped (its read path is dead code, SURVEY.md §1.4.2), expressed as a
  * first-class Spark source:
  *
  *  - **column pruning** (README stage "read only needed columns"): only
  *    the requested columns' `.data`/`.index` files are ever opened —
  *    [[SupportsPushDownRequiredColumns]];
  *  - **index range location** (README stage 1, the declared binary
  *    search, `README.md:54`): filters on the LEADING column — the sort
  *    key under the format's "rows pre-sorted by column order" contract
  *    (`README.md:44`) — are binary-searched against the index on the
  *    driver: O(log n) single-entry probes locate the qualifying block
  *    range, so driver planning work is O(log n + #columns), never
  *    O(#blocks). At 10⁹ blocks that is ~30 probes of 40 bytes vs tens of
  *    GB of driver reads;
  *  - **zone-map block filtering** (README stage 2) runs in the EXECUTOR
  *    readers: each input partition bulk-reads its own slice of the index
  *    (40 B/block/column) and drops non-qualifying blocks before opening
  *    any data bytes — [[SupportsPushDownFilters]]. String zone maps are
  *    8-byte prefixes, so string pruning is conservative (a block is only
  *    skipped when the prefix comparison *proves* no row matches); all
  *    filters are also left in the plan for exact row-level evaluation
  *    (README stage 3 = Spark's FilterExec);
  *  - blocks are split across input partitions for parallel scan — the
  *    stage the single-threaded reference could never reach;
  *  - COUNT/MIN/MAX aggregates are answered from the index alone, as a
  *    PARTIAL pushdown: each partition folds its index slice executor-side
  *    and Spark's final aggregate merges the partials — the index fold is
  *    distributed, not a driver loop.
  *
  * Usage:
  * `spark.read.format("rtcdb").option("path", root).option("table", t).load()`
  */
class RtcdbDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "rtcdb"

  private def tableOf(options: CaseInsensitiveStringMap): (String, String, StructType) = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("rtcdb: 'path' option required"))
    val table = Option(options.get("table")).getOrElse(
      throw new IllegalArgumentException("rtcdb: 'table' option required"))
    val schema = readMetadata(Paths.get(root)).toMap.getOrElse(table,
      throw new IllegalArgumentException(s"Table not found: $table"))
    (root, table, schema)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    tableOf(options)._3

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (root, table, declared) = tableOf(opts)
    new RtcdbTable(root, table, declared)
  }
}

class RtcdbTable(root: String, table: String, declared: StructType)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"rtcdb:$table"
  // surfaced nullable for write compatibility (AppendData.byName rejects
  // nullable→non-null); the format itself has NO null encoding — the
  // writer enforces non-nullness per cell at runtime, the reference's
  // batch-abort semantics (data.rs:10-13)
  override def schema(): StructType =
    StructType(declared.fields.map(_.copy(nullable = true)))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RtcdbScanBuilder(root, table, declared,
      // admission control for the streaming read path (backfill pacing):
      // cap each micro-batch at N committed row blocks
      Option(options.get("maxBlocksPerTrigger")).map(_.toInt))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new RtcdbWriteBuilder(root, table, info.schema())
}

class RtcdbScanBuilder(root: String, table: String, declared: StructType,
    maxBlocksPerTrigger: Option[Int] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: StructType = declared
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[Seq[RtcdbAggSpec]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accept comparisons on declared columns for block pruning; zone maps
    // are conservative, so EVERY filter stays a residual for row-level eval
    pushed = filters.filter(f =>
      RtcdbPruning.filterColumn(f).exists(declared.fieldNames.contains))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  // ── aggregate pushdown: answer COUNT/MIN/MAX from the index alone ──────
  // The reference's design goal is "fast aggregate queries" backed by the
  // sparse index (/root/reference/README.md:8,44). Its zone maps make
  // global COUNT(*)/COUNT(col)/MIN/MAX on uint64 columns answerable from
  // the 40-byte index entries without touching ANY data block:
  //  - row count: Σ decompressed_size/8 over a uint64 column's entries
  //    (fixed 8-byte codec, src/storage.rs:372-374);
  //  - min/max: fold of exact per-block zone maps (src/storage.rs:277-290).
  // String min/max are 8-byte PREFIXES (truncated, src/storage.rs:30-37) —
  // not exact values — so they are never pushed. Filters or grouping force
  // row-level evaluation, so those plans are not pushed either.
  // Pushdown is PARTIAL (supportCompletePushDown = false): each input
  // partition folds its own index slice and Spark's final aggregate merges
  // the per-partition rows — at 10⁹ blocks the fold runs on executors, not
  // as a driver loop over the whole index.
  private def parseAgg(agg: Aggregation): Option[Seq[RtcdbAggSpec]] = {
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty) return None
    val longCols = declared.fields.filter(_.dataType == LongType).map(_.name)
    if (longCols.isEmpty) return None // row counts need a fixed-width column
    def refName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          Some(nr.fieldNames.head)
        case _ => None
      }
    val specs = agg.aggregateExpressions.map {
      case _: CountStar => Some(RtcdbCountAll(longCols.head))
      case c: Count if !c.isDistinct =>
        // rtcdb columns are non-nullable (no Null DValue, data.rs:10-13),
        // so COUNT(col) ≡ COUNT(*)
        refName(c.column).filter(declared.fieldNames.contains)
          .map(_ => RtcdbCountAll(longCols.head))
      case m: Min => refName(m.column).filter(longCols.contains)
        .map(RtcdbMinLong)
      case m: Max => refName(m.column).filter(longCols.contains)
        .map(RtcdbMaxLong)
      case _ => None
    }
    if (specs.forall(_.isDefined)) Some(specs.flatten.toSeq) else None
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean = false

  override def pushAggregation(agg: Aggregation): Boolean = {
    parseAgg(agg) match {
      case some @ Some(_) => pushedAgg = some; true
      case None => false
    }
  }

  override def build(): Scan = pushedAgg match {
    case Some(specs) => new RtcdbAggScan(root, table, declared, specs)
    case None => new RtcdbScan(root, table, declared, required, pushed,
      maxBlocksPerTrigger)
  }
}

sealed trait RtcdbAggSpec extends Serializable
/** COUNT(*): row count derived from `countVia`'s fixed-width entries */
final case class RtcdbCountAll(countVia: String) extends RtcdbAggSpec
final case class RtcdbMinLong(col: String) extends RtcdbAggSpec
final case class RtcdbMaxLong(col: String) extends RtcdbAggSpec

/** one index-slice fold task: blocks [blockStart, blockEnd) */
final case class RtcdbAggPartition(specs: Seq[RtcdbAggSpec],
    indexPaths: Map[String, String], blockStart: Int, blockEnd: Int)
    extends InputPartition

/** Index-only aggregate scan (PARTIAL pushdown): the driver plans
  * block-range slices from index-file *sizes* alone (one stat call per
  * column, no entry reads); each executor partition folds its slice of
  * 40-byte entries and emits one partial row; Spark's final aggregate
  * merges. Data files are never opened — RtcdbSourceSpec proves it by
  * deleting them first.
  */
class RtcdbAggScan(root: String, table: String, declared: StructType,
    specs: Seq[RtcdbAggSpec]) extends Scan with Batch {

  override def readSchema(): StructType = StructType(specs.map {
    case RtcdbCountAll(_) => StructField("count", LongType, nullable = false)
    case RtcdbMinLong(c)  => StructField(s"min_$c", LongType, nullable = true)
    case RtcdbMaxLong(c)  => StructField(s"max_$c", LongType, nullable = true)
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"rtcdb table=$table PushedAggregates=[${specs.mkString(", ")}] (index-only)"

  override def planInputPartitions(): Array[InputPartition] = {
    // scan length = shortest column across the WHOLE table (the reference's
    // loop-termination rule, src/storage.rs:313-322) — from index-file
    // SIZES only. The row scan enforces the same rule, so a pushed
    // COUNT/MIN/MAX can never disagree with the row path. A MISSING index
    // file counts as 0 entries — the same rule the commit repair pass
    // applies (RtcdbWrite) — so the crash window between a first commit's
    // per-column index publishes reads as the consistent empty/old view
    // instead of throwing on the unpublished column. A directory with no
    // index files at all is likewise an empty table.
    // absent-while-siblings-non-empty is also the LOST-index signature:
    // same empty view either way, but say so loudly (see RtcdbFormat)
    RtcdbFormat.warnIfAbsentIndexes(Paths.get(root), table,
      declared.fieldNames.toSeq, "rtcdb agg scan")
    val nBlocks = RtcdbPlanning.committedBlocks(root, table, declared)
    if (nBlocks == 0) return Array.empty
    val involved = specs.map {
      case RtcdbCountAll(via) => via
      case RtcdbMinLong(c) => c
      case RtcdbMaxLong(c) => c
    }.distinct
    val paths = involved.map(c =>
      c -> indexPath(Paths.get(root), table, c).toString).toMap
    RtcdbPlanning.slices(0, nBlocks).map { case (s, e) =>
      RtcdbAggPartition(specs, paths, s, e): InputPartition }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RtcdbAggReaderFactory
}

class RtcdbAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RtcdbAggPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      private lazy val row: InternalRow = {
        val cache = scala.collection.mutable.Map.empty[String, Array[IndexEntry]]
        def entries(c: String) = cache.getOrElseUpdate(c,
          RtcdbPruning.readEntryRange(p.indexPaths(c), p.blockStart, p.blockEnd))
        def guard(c: String, es: Array[IndexEntry]): Unit =
          es.foreach(RtcdbPruning.guardU64(c, _))
        val vals = p.specs.map {
          case RtcdbCountAll(via) =>
            // fixed 8-byte big-endian codec ⇒ decompressed bytes / 8 = rows.
            // Block-grain consistency contract: every writer (reference
            // storage.rs and RtcdbDataWriter alike) emits the SAME
            // rows-per-block for every column of a block, so counting via
            // any one long column agrees with the row path.
            entries(via).map(_.decompressedSize / 8).sum
          case RtcdbMinLong(c) =>
            val es = entries(c); guard(c, es)
            es.map(e => java.nio.ByteBuffer.wrap(e.min).getLong).min
          case RtcdbMaxLong(c) =>
            val es = entries(c); guard(c, es)
            es.map(e => java.nio.ByteBuffer.wrap(e.max).getLong).max
        }
        new GenericInternalRow(vals.toArray[Any])
      }
      override def next(): Boolean =
        if (emitted) false else { emitted = true; row; true }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** test/observability hook: block counts from the most recent planning.
  * Executor readers update planned/pruned; the driver's binary search
  * updates driverIndexEntryReads. Plain statics are exact under local[*]
  * (one JVM — the test environment); a multi-node deployment would surface
  * the same counts as SQL metrics instead.
  */
object RtcdbScanStats {
  val plannedBlocks = new AtomicLong(0)
  val prunedBlocks = new AtomicLong(0)
  val runtimeFilteredScans = new AtomicLong(0)
  /** blocks the zone maps ADMITTED but the bloom sidecar proved empty —
    * the sidecar's whole value (equality on scattered non-leading columns,
    * where every block's [min,max] spans the domain) */
  val bloomPrunedBlocks = new AtomicLong(0)
  /** 40-byte entries read ON THE DRIVER during planning — the O(log n)
    * proof (RtcdbSourceSpec asserts this stays logarithmic + constant) */
  val driverIndexEntryReads = new AtomicLong(0)
  def reset(): Unit = {
    plannedBlocks.set(0); prunedBlocks.set(0); runtimeFilteredScans.set(0)
    bloomPrunedBlocks.set(0)
    driverIndexEntryReads.set(0)
  }
}

/** shared block-level pruning logic — driver (binary search probes) and
  * executor readers (zone-map evaluation) use the identical predicates
  */
object RtcdbPruning extends Serializable {

  /** the column a pushable comparison constrains (None: not pushable) */
  def filterColumn(f: Filter): Option[String] = f match {
    case EqualTo(a, _)            => Some(a)
    case GreaterThan(a, _)        => Some(a)
    case GreaterThanOrEqual(a, _) => Some(a)
    case LessThan(a, _)           => Some(a)
    case LessThanOrEqual(a, _)    => Some(a)
    case _ => None
  }

  def guardU64(c: String, e: IndexEntry): Unit = {
    if (java.nio.ByteBuffer.wrap(e.min).getLong < 0 ||
        java.nio.ByteBuffer.wrap(e.max).getLong < 0)
      throw new IllegalStateException(
        s"rtcdb: column '$c' holds uint64 values >= 2^63, which are not " +
          "representable as Spark LongType; refusing to read")
  }

  /** bulk-read entries [from, until) of one index file */
  def readEntryRange(path: String, from: Int, until: Int): Array[IndexEntry] = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val n = math.max(0, until - from)
      val buf = new Array[Byte](n * IndexEntryBytes)
      raf.seek(from.toLong * IndexEntryBytes)
      raf.readFully(buf)
      Array.tabulate(n)(i => IndexEntry.fromBytes(
        java.util.Arrays.copyOfRange(buf, i * IndexEntryBytes,
          (i + 1) * IndexEntryBytes)))
    } finally raf.close()
  }

  /** can any row in this block satisfy the filter? (false ⇒ provably none) */
  def blockMayMatch(col: String, isLong: Boolean, e: IndexEntry,
      f: Filter): Boolean = {
    if (isLong) {
      val mn = java.nio.ByteBuffer.wrap(e.min).getLong
      val mx = java.nio.ByteBuffer.wrap(e.max).getLong
      f match {
        case EqualTo(`col`, v: Long)            => v >= mn && v <= mx
        case GreaterThan(`col`, v: Long)        => mx > v
        case GreaterThanOrEqual(`col`, v: Long) => mx >= v
        case LessThan(`col`, v: Long)           => mn < v
        case LessThanOrEqual(`col`, v: Long)    => mn <= v
        case _ => true
      }
    } else {
      // 8-byte prefix zone map: skip only when the prefix order PROVES
      // emptiness (prefix(a) < prefix(b) ⇒ a < b; equal prefixes prove
      // nothing)
      def p(v: Any): Array[Byte] = prefix8(v.asInstanceOf[String])
      f match {
        case EqualTo(`col`, v) =>
          !(compareBytes(p(v), e.min) < 0 || compareBytes(p(v), e.max) > 0)
        case GreaterThan(`col`, v)        => !(compareBytes(e.max, p(v)) < 0)
        case GreaterThanOrEqual(`col`, v) => !(compareBytes(e.max, p(v)) < 0)
        case LessThan(`col`, v)           => !(compareBytes(e.min, p(v)) > 0)
        case LessThanOrEqual(`col`, v)    => !(compareBytes(e.min, p(v)) > 0)
        case _ => true
      }
    }
  }

  /** any value of the (sorted) runtime key set inside the block's range? */
  def anyKeyInRange(sorted: Array[Long], mn: Long, mx: Long): Boolean = {
    val i = java.util.Arrays.binarySearch(sorted, mn)
    val from = if (i >= 0) i else -(i + 1)
    from < sorted.length && sorted(from) <= mx
  }

  /** bulk-read bloom filters for blocks [from, until) of one sidecar file
    * (block k's 1280 bytes live at offset k*BloomBytesPerBlock — same
    * headerless positional contract as the index) */
  def readBloomRange(path: String, from: Int, until: Int): Array[Array[Byte]] = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val n = math.max(0, until - from)
      val buf = new Array[Byte](n * BloomBytesPerBlock)
      raf.seek(from.toLong * BloomBytesPerBlock)
      raf.readFully(buf)
      Array.tabulate(n)(i => java.util.Arrays.copyOfRange(buf,
        i * BloomBytesPerBlock, (i + 1) * BloomBytesPerBlock))
    } finally raf.close()
  }
}

/** Driver-side planning shared by the row scan, the aggregate scan and the
  * micro-batch stream: the committed block count, the per-column specs,
  * and the split of a block range into input partitions.
  */
object RtcdbPlanning {

  /** committed row blocks: the SHORTEST column's [[RtcdbFormat.entryCount]]
    * (a missing index counts as 0, the rule the commit repair pass applies),
    * from index-file SIZES only — one stat per column.
    */
  def committedBlocks(root: String, table: String, declared: StructType): Int =
    declared.fieldNames.map(c => entryCount(Paths.get(root), table, c).toInt)
      .minOption.getOrElse(0)

  def colSpec(root: String, table: String, declared: StructType,
      c: String): RtcdbColSpec = {
    val rootP = Paths.get(root)
    // bloom validity (RtcdbFormat.bloomInLockstep): a stale, torn, or
    // legacy sidecar fails the size equation and the scan silently
    // degrades to zone-map-only pruning. Driver-side stat calls only.
    val bp = bloomPath(rootP, table, c)
    val bloomValid = Files.exists(bp) && bloomInLockstep(rootP, table, c)
    RtcdbColSpec(c, declared(c).dataType == LongType,
      dataPath(rootP, table, c).toString, indexPath(rootP, table, c).toString,
      if (bloomValid) bp.toString else null)
  }

  /** [lo, hi) as contiguous ranges across the default parallelism; none
    * when the range is empty (a leading-column range that pruned every
    * block, or a micro-batch with no new blocks)
    */
  def slices(lo: Int, hi: Int): Seq[(Int, Int)] = {
    if (hi <= lo) return Seq.empty
    val parallelism = org.apache.spark.sql.SparkSession.active
      .sparkContext.defaultParallelism
    val per = math.ceil((hi - lo).toDouble /
      math.max(1, math.min(hi - lo, parallelism))).toInt
    (lo until hi by per).map(s => (s, math.min(s + per, hi)))
  }

  /** Row-scan partitions over blocks [lo, hi): executors bulk-read their
    * own 40 B/block/column index slices and zone-map filter there — the
    * driver never materializes per-block entries. Output columns are the
    * required schema, or the first declared column for count-only scans
    * (row counts still need one column); filter columns outside the output
    * only have their index read.
    */
  def rowPartitions(root: String, table: String, declared: StructType,
      required: StructType, pushed: Array[Filter],
      runtimeInSets: Map[String, Array[Long]], lo: Int,
      hi: Int): Array[InputPartition] = {
    val outNames =
      if (required.fieldNames.isEmpty) Array(declared.fieldNames.head)
      else required.fieldNames
    val filterCols = (pushed.flatMap(RtcdbPruning.filterColumn) ++
      runtimeInSets.keys).distinct.filterNot(outNames.contains)
    val outputCols = outNames.map(colSpec(root, table, declared, _))
    val filterOnly = filterCols.map(colSpec(root, table, declared, _))
    slices(lo, hi).map { case (s, e) =>
      RtcdbInputPartition(outputCols, filterOnly, s, e, pushed,
        runtimeInSets): InputPartition }.toArray
  }
}

/** `bloomPath` is null unless the column's bloom sidecar passed the
  * size-equation validity check at planning time (exists, whole-filter
  * aligned, block count in exact lockstep with its index entry count) —
  * the contract that makes a bloom skip sound; anything else degrades to
  * "no bloom pruning", never to a wrong skip */
final case class RtcdbColSpec(name: String, isLong: Boolean,
    dataPath: String, indexPath: String, bloomPath: String = null)
final case class RtcdbInputPartition(
    outputCols: Array[RtcdbColSpec],
    /** filter/runtime columns NOT in the output — index entries needed for
      * zone-map eval, data files never opened */
    filterOnlyCols: Array[RtcdbColSpec],
    blockStart: Int, blockEnd: Int,
    pushed: Array[Filter],
    runtimeInSets: Map[String, Array[Long]]) extends InputPartition

class RtcdbScan(root: String, table: String, declared: StructType,
    required: StructType, pushed: Array[Filter],
    maxBlocksPerTrigger: Option[Int] = None) extends Scan with Batch
    with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"rtcdb table=$table cols=${required.fieldNames.mkString(",")} " +
      s"pushed=${pushed.mkString(",")}"

  // ── runtime filtering (DSv2 dynamic pruning) ───────────────────────────
  // A broadcast-join build side's key set arrives here AFTER that side has
  // executed (AQE re-plan): blocks whose zone map contains none of the keys
  // are dropped before any data file is opened — the reference's sparse
  // index doing the work of dynamic partition pruning. Only uint64 columns
  // participate (string zone maps are 8-byte prefixes; equality can't be
  // proven, only range-disproven — not worth advertising for runtime IN).
  private var runtimeInSets: Map[String, Array[Long]] = Map.empty

  override def filterAttributes(): Array[NamedReference] =
    // only columns of the PRUNED output schema: Spark resolves these against
    // the scan's output, so advertising a pruned-away column fails analysis
    required.fields.filter(_.dataType == LongType)
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal}
    val sets = predicates.flatMap { p =>
      p.name() match {
        case "IN" => p.children().toSeq match {
          case Seq(ref: NamedReference, rest @ _*)
              if ref.fieldNames.length == 1 &&
                rest.forall(_.isInstanceOf[V2Literal[_]]) =>
            val vals = rest.collect {
              case l: V2Literal[_] if l.value().isInstanceOf[Long] =>
                l.value().asInstanceOf[Long]
            }.toArray
            if (vals.length == rest.size) Some(ref.fieldNames.head -> vals)
            else None
          case _ => None
        }
        case "=" => p.children().toSeq match {
          case Seq(ref: NamedReference, l: V2Literal[_])
              if ref.fieldNames.length == 1 && l.value().isInstanceOf[Long] =>
            Some(ref.fieldNames.head -> Array(l.value().asInstanceOf[Long]))
          case _ => None
        }
        case _ => None
      }
    }
    // intersect across predicates in this call AND any earlier filter()
    // call — Spark may deliver runtime filters from different joins in
    // separate invocations, and each one can only shrink the key sets
    val incoming = sets.groupBy(_._1).map { case (c, vs) =>
      c -> vs.map(_._2.toSet).reduce(_ intersect _)
    }
    runtimeInSets = (runtimeInSets.keySet ++ incoming.keySet).iterator.map {
      c =>
        val merged = (runtimeInSets.get(c).map(_.toSet).toSeq ++
          incoming.get(c).toSeq).reduce(_ intersect _)
        c -> merged.toArray.sorted
    }.toMap
  }

  private def isLongCol(name: String): Boolean =
    declared(name).dataType == LongType

  // ── driver-side binary search on the leading (sorted) column ───────────
  // While the leading column's per-block mins AND maxes are non-decreasing
  // — which both writers check on every append, marking the table
  // `{table}.unsorted` otherwise (RtcdbFormat.OrderGuard) — each
  // conservative block predicate (the same ones blockMayMatch evaluates)
  // is monotone over the block sequence, so a lower-bound binary search
  // locates its boundary in ⌈log₂ n⌉ single-entry probes. Executors
  // re-evaluate every filter per block inside the returned range, so the
  // search can only SKIP provably-empty prefixes/suffixes, never admit a
  // wrong row. A marked table plans the full range, with all pruning
  // still executor-side.
  private def probe(raf: RandomAccessFile, b: Int): IndexEntry = {
    raf.seek(b.toLong * IndexEntryBytes)
    val buf = new Array[Byte](IndexEntryBytes)
    raf.readFully(buf)
    RtcdbScanStats.driverIndexEntryReads.incrementAndGet()
    val e = IndexEntry.fromBytes(buf)
    if (isLongCol(declared.fieldNames.head)) RtcdbPruning.guardU64(
      declared.fieldNames.head, e)
    e
  }

  /** first block in [0, n) satisfying monotone `pred`, else n */
  private def lowerBound(raf: RandomAccessFile, n: Int,
      pred: IndexEntry => Boolean): Int = {
    var lo = 0; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (pred(probe(raf, mid))) hi = mid else lo = mid + 1
    }
    lo
  }

  /** block range [lo, hi) that may satisfy all leading-column filters */
  private def leadingRange(nBlocks: Int): (Int, Int) = {
    val leading = declared.fieldNames.head
    val fs = pushed.filter(RtcdbPruning.filterColumn(_).contains(leading))
    if (fs.isEmpty || Files.exists(unsortedPath(Paths.get(root), table)))
      return (0, nBlocks)
    val raf = new RandomAccessFile(
      indexPath(Paths.get(root), table, leading).toString, "r")
    try {
      val isLong = isLongCol(leading)
      // u64 guard over the WHOLE index in O(1) probes: the binary search
      // below compares entries as SIGNED longs, but the format sorts
      // uint64 UNSIGNED — a file holding values >= 2^63 (negative as
      // signed Long) would make lowerBound land on wrong boundaries and
      // silently exclude matching blocks, and those excluded entries are
      // never probed, so a probe-local guard can't see them. Under the
      // unsigned sort contract any such value sorts to the tail, so the
      // LAST entry's max catches it; probing the first entry too guards
      // the trivially-cheap other end. probe() itself raises the
      // "refusing to read" error for a long leading column.
      if (isLong) { probe(raf, 0); probe(raf, nBlocks - 1) }
      def mn(e: IndexEntry) = java.nio.ByteBuffer.wrap(e.min).getLong
      def mx(e: IndexEntry) = java.nio.ByteBuffer.wrap(e.max).getLong
      def pfx(v: Any) = prefix8(v.asInstanceOf[String])
      var lo = 0
      var hi = nBlocks
      fs.foreach { f =>
        val (flo, fhi) = (f, isLong) match {
          case (EqualTo(_, v: Long), true) =>
            (lowerBound(raf, nBlocks, mx(_) >= v),
              lowerBound(raf, nBlocks, mn(_) > v))
          case (GreaterThan(_, v: Long), true) =>
            (lowerBound(raf, nBlocks, mx(_) > v), nBlocks)
          case (GreaterThanOrEqual(_, v: Long), true) =>
            (lowerBound(raf, nBlocks, mx(_) >= v), nBlocks)
          case (LessThan(_, v: Long), true) =>
            (0, lowerBound(raf, nBlocks, mn(_) >= v))
          case (LessThanOrEqual(_, v: Long), true) =>
            (0, lowerBound(raf, nBlocks, mn(_) > v))
          // string bounds mirror blockMayMatch's conservative prefix rules
          case (EqualTo(_, v), false) =>
            (lowerBound(raf, nBlocks, e => compareBytes(e.max, pfx(v)) >= 0),
              lowerBound(raf, nBlocks, e => compareBytes(e.min, pfx(v)) > 0))
          case (GreaterThan(_, v), false) =>
            (lowerBound(raf, nBlocks, e => compareBytes(e.max, pfx(v)) >= 0),
              nBlocks)
          case (GreaterThanOrEqual(_, v), false) =>
            (lowerBound(raf, nBlocks, e => compareBytes(e.max, pfx(v)) >= 0),
              nBlocks)
          case (LessThan(_, v), false) =>
            (0, lowerBound(raf, nBlocks, e => compareBytes(e.min, pfx(v)) > 0))
          case (LessThanOrEqual(_, v), false) =>
            (0, lowerBound(raf, nBlocks, e => compareBytes(e.min, pfx(v)) > 0))
          case _ => (0, nBlocks)
        }
        lo = math.max(lo, flo)
        hi = math.min(hi, fhi)
      }
      (lo, math.max(lo, hi))
    } finally raf.close()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // scan length = shortest column across the WHOLE table, not just the
    // projected subset — from index-file SIZES only (one stat per column;
    // the reference stops at the shortest column *being read*,
    // src/storage.rs:313-322, which makes row counts depend on the
    // projection for inconsistent tables — a §1.4-class defect we don't
    // replicate). A MISSING index file counts as 0 entries, matching the
    // commit repair pass (RtcdbWrite): a crash between a first commit's
    // per-column index publishes must read as the consistent empty/old
    // view, not a FileNotFoundException on the unpublished column. No
    // index entry is read driver-side except the O(log n) binary-search
    // probes below.
    // absent-while-siblings-non-empty is also the LOST-index signature:
    // same empty view either way, but say so loudly (see RtcdbFormat)
    RtcdbFormat.warnIfAbsentIndexes(Paths.get(root), table,
      declared.fieldNames.toSeq, "rtcdb row scan")
    val nBlocks = RtcdbPlanning.committedBlocks(root, table, declared)
    if (nBlocks == 0) return Array.empty

    // README.md:54's declared binary search: O(log n) driver probes
    val (lo, hi) = leadingRange(nBlocks)
    RtcdbScanStats.prunedBlocks.addAndGet((nBlocks - (hi - lo)).toLong)
    if (runtimeInSets.nonEmpty)
      RtcdbScanStats.runtimeFilteredScans.incrementAndGet()
    RtcdbPlanning.rowPartitions(root, table, declared, required, pushed,
      runtimeInSets, lo, hi)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RtcdbReaderFactory(required.fieldNames.isEmpty)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new RtcdbMicroBatchStream(root, table, declared, required, pushed,
      maxBlocksPerTrigger)
}

class RtcdbReaderFactory(countOnly: Boolean) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new RtcdbPartitionReader(partition.asInstanceOf[RtcdbInputPartition], countOnly)
}

/** Stream offset = count of committed row blocks (the lockstep MIN over
  * every column's index entry count — the same shortest-column rule the
  * batch scan reads by, so a torn multi-column append is simply "not yet
  * visible"). Blocks are immutable once their index entries land, making
  * the block counter a valid monotone offset.
  */
final case class RtcdbStreamOffset(blocks: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = blocks.toString
}

/** Tail-the-table streaming read of an rtcdb table — the source half of
  * the streaming story ([[graft.streaming.RtcdbSink]] is the sink half):
  * each micro-batch covers the row blocks committed since the last
  * offset, read by the SAME executor-side partition reader as the batch
  * scan (zone maps, column pruning, pushed filters all apply per block).
  * No binary-search planning here: append batches are each range-sorted
  * internally but the leading column is not globally sorted across
  * appends, so the executors' per-block zone-map checks do all pruning —
  * the conservative path that is always sound.
  */
class RtcdbMicroBatchStream(root: String, table: String,
    declared: StructType, required: StructType, pushed: Array[Filter],
    maxBlocksPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def committedBlocks: Int =
    RtcdbPlanning.committedBlocks(root, table, declared)

  // AvailableNow pins its catch-up target ONCE at query start: blocks
  // appended while the drain runs belong to the next run, and the drain
  // still paces itself through maxBlocksPerTrigger
  private var availableNowTarget: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(committedBlocks)

  override def initialOffset(): Offset = RtcdbStreamOffset(0)
  override def latestOffset(): Offset = RtcdbStreamOffset(
    availableNowTarget.getOrElse(committedBlocks))
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val target = availableNowTarget.getOrElse(committedBlocks)
    val start = startOffset.asInstanceOf[RtcdbStreamOffset].blocks
    // backfill pacing: cap each micro-batch at N committed row blocks so
    // a long-idle consumer catches up in bounded-memory steps instead of
    // one giant batch
    RtcdbStreamOffset(maxBlocksPerTrigger match {
      case Some(m) => math.min(target, start + m)
      case None => target
    })
  }
  override def reportLatestOffset(): Offset =
    RtcdbStreamOffset(committedBlocks)
  override def deserializeOffset(json: String): Offset =
    RtcdbStreamOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val lo = start.asInstanceOf[RtcdbStreamOffset].blocks
    val hi = end.asInstanceOf[RtcdbStreamOffset].blocks
    RtcdbPlanning.rowPartitions(root, table, declared, required, pushed,
      Map.empty, lo, hi)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RtcdbReaderFactory(required.fieldNames.isEmpty)
}

/** Executor-side reader: bulk-reads its slice of index entries (one seek +
  * one read per column), evaluates zone maps + runtime IN sets per block
  * (README stage 2, moved off the driver), then decodes only surviving
  * blocks' data bytes.
  */
class RtcdbPartitionReader(part: RtcdbInputPartition, countOnly: Boolean)
    extends PartitionReader[InternalRow] {

  private val nBlocksInRange = part.blockEnd - part.blockStart

  // entries for every involved column, for this partition's block range
  private val outputEntries: Array[Array[IndexEntry]] =
    part.outputCols.map(c =>
      RtcdbPruning.readEntryRange(c.indexPath, part.blockStart, part.blockEnd))
  private val filterEntries: Array[Array[IndexEntry]] =
    part.filterOnlyCols.map(c =>
      RtcdbPruning.readEntryRange(c.indexPath, part.blockStart, part.blockEnd))

  locally {
    // u64 guard: the reference format allows values >= 2^63, but those
    // decode negative as Spark LongType and invert zone-map ordering
    // (signed vs unsigned). The write path already rejects them; reject
    // such files at read time too instead of silently mis-pruning.
    part.outputCols.zip(outputEntries).foreach { case (c, es) =>
      if (c.isLong) es.foreach(RtcdbPruning.guardU64(c.name, _))
    }
    part.filterOnlyCols.zip(filterEntries).foreach { case (c, es) =>
      if (c.isLong) es.foreach(RtcdbPruning.guardU64(c.name, _))
    }
  }

  // ── bloom sidecar consult (equality predicates only) ───────────────────
  // Zone maps prune nothing for equality on a NON-leading column whose
  // values scatter (every block's [min,max] spans the domain) — exactly
  // the case the per-block bloom sidecar (RtcdbFormat) closes. Slices are
  // bulk-read once per partition (1280 B/block), only for columns that
  // (a) passed the driver's size-equation validity check (bloomPath set)
  // and (b) carry an equality predicate here. A failed probe PROVES the
  // value absent from the block; a false positive only costs a wasted
  // decode (row-level FilterExec still evaluates exactly).
  private val MaxBloomRuntimeKeys = 256
  private val bloomEligible: Set[String] =
    part.pushed.collect { case EqualTo(a, _) => a }.toSet ++
      part.runtimeInSets.collect {
        case (c, ks) if ks.length <= MaxBloomRuntimeKeys => c
      }
  private val bloomSlices: Map[String, (Boolean, Array[Array[Byte]])] =
    (part.outputCols ++ part.filterOnlyCols).iterator
      .filter(c => c.bloomPath != null && bloomEligible.contains(c.name))
      .map(c => c.name -> (c.isLong, RtcdbPruning.readBloomRange(
        c.bloomPath, part.blockStart, part.blockEnd)))
      .toMap

  /** zone-map + runtime-set + bloom evaluation for block `b`
    * (range-relative) */
  private def blockSurvives(b: Int): Boolean = {
    // an EMPTY runtime IN-set proves no row can match: prune up front,
    // before zone/bloom evaluation, so bloomPrunedBlocks only counts
    // blocks an actual bloom probe refused (the spec-asserted stat) —
    // previously keys.exists(...)==false fell through the bloom branch
    // and inflated that counter without a probe
    if (part.runtimeInSets.exists(_._2.isEmpty)) return false
    def colEntry(name: String): Option[(RtcdbColSpec, IndexEntry)] = {
      val oi = part.outputCols.indexWhere(_.name == name)
      if (oi >= 0) Some((part.outputCols(oi), outputEntries(oi)(b)))
      else {
        val fi = part.filterOnlyCols.indexWhere(_.name == name)
        if (fi >= 0) Some((part.filterOnlyCols(fi), filterEntries(fi)(b)))
        else None
      }
    }
    val zoneOk = part.pushed.forall { f =>
      RtcdbPruning.filterColumn(f).flatMap(colEntry).forall { case (c, e) =>
        RtcdbPruning.blockMayMatch(c.name, c.isLong, e, f)
      }
    } && part.runtimeInSets.forall { case (name, keys) =>
      colEntry(name).forall { case (c, e) =>
        !c.isLong || RtcdbPruning.anyKeyInRange(keys,
          java.nio.ByteBuffer.wrap(e.min).getLong,
          java.nio.ByteBuffer.wrap(e.max).getLong)
      }
    }
    if (!zoneOk) return false
    val bloomOk = part.pushed.forall {
      case EqualTo(a, v) => bloomSlices.get(a).forall { case (isLong, s) =>
        // type-guard mirrors blockMayMatch's literal patterns: only probe
        // when the literal carries the column's exact runtime type
        val typed = if (isLong) v.isInstanceOf[Long] else v.isInstanceOf[String]
        !typed || bloomMayContain(s(b), bloomValueBytes(isLong, v))
      }
      case _ => true
    } && part.runtimeInSets.forall { case (name, keys) =>
      bloomSlices.get(name) match {
        case Some((true, s)) =>
          keys.exists(k => bloomMayContain(s(b), bloomValueBytes(true, k)))
        case _ => true
      }
    }
    if (!bloomOk) RtcdbScanStats.bloomPrunedBlocks.incrementAndGet()
    bloomOk
  }

  private val files = part.outputCols.map(c => new RandomAccessFile(c.dataPath, "r"))
  private var blockIdx = -1
  private var rows: Array[InternalRow] = Array.empty
  private var rowIdx = 0
  private val empty = InternalRow.empty

  private def loadNextBlock(): Boolean = {
    blockIdx += 1
    while (blockIdx < nBlocksInRange && !blockSurvives(blockIdx)) {
      RtcdbScanStats.prunedBlocks.incrementAndGet()
      blockIdx += 1
    }
    if (blockIdx >= nBlocksInRange) return false
    RtcdbScanStats.plannedBlocks.incrementAndGet()
    val colVals: Array[Array[Any]] = part.outputCols.zipWithIndex.map { case (c, i) =>
      val raw = readBlock(files(i), outputEntries(i)(blockIdx))
      if (c.isLong) decodeLongs(raw).map(_.asInstanceOf[Any])
      else decodeStringBytes(raw)
        .map(UTF8String.fromBytes(_).asInstanceOf[Any])
    }
    val n = colVals.head.length
    rows = Array.tabulate(n) { r =>
      if (countOnly) empty
      else new GenericInternalRow(part.outputCols.indices.map(c => colVals(c)(r)).toArray)
    }
    rowIdx = 0
    true
  }

  override def next(): Boolean = {
    while (rowIdx >= rows.length) if (!loadNextBlock()) return false
    true
  }

  override def get(): InternalRow = {
    val r = rows(rowIdx); rowIdx += 1; r
  }

  override def close(): Unit = files.foreach(_.close())
}
