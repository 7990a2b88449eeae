package graft.sources.rtcdb

import java.io.RandomAccessFile
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecificInternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
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
  *    (40 B/block/column) and drops blocks that zone maps, runtime IN-sets
  *    or bloom sidecars prove empty before opening any data bytes;
  *  - **exact WHERE** (README stage 3): comparisons of a declared column
  *    with a literal of its own type, and IS NOT NULL, are evaluated by the
  *    source itself ([[SupportsPushDownFilters]] returns only the rest), on
  *    the decoded filter columns first; the other columns are decoded only
  *    for blocks with at least one matching row ([[RtcdbBlockCursor]]);
  *  - **aggregate fold** (README stage 4): COUNT, and SUM/MIN/MAX over
  *    u64 columns, with or without GROUP BY on plain columns, fold inside
  *    the partition reader. A read that fits one input partition is a
  *    COMPLETE pushdown — one job, no Filter, Exchange or HashAggregate;
  *    a larger ungrouped one is partial (Spark merges the per-partition
  *    rows). With no GROUP BY and no comparison, COUNT/MIN/MAX answer from
  *    the index entries alone;
  *  - blocks are split across input partitions by Spark's file-split rule
  *    (`spark.sql.files.*`) — the stage the single-threaded reference
  *    could never reach.
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
  private var pushedAgg: Option[RtcdbAggPlan] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // the source evaluates these exactly; only the rest stay in the plan
    val (exact, residual) = filters.partition(RtcdbPruning.isExact(declared, _))
    pushed = exact
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** the block range every scan of this builder reads: computed once, on
    * first use after the filters are pushed */
  private lazy val range = new RtcdbBlockRange(root, table, declared, pushed)

  // ── aggregate pushdown: fold COUNT/SUM/MIN/MAX inside the reader ───────
  // The reference's design goal is "fast aggregate queries" of wide rows
  // (the reference README.md:8). Spark offers an aggregate only when no
  // residual filter is left, so every row the fold sees has passed the
  // exact WHERE. String MIN/MAX (the zone maps are 8-byte prefixes, and
  // the fold keeps to u64 arithmetic), DISTINCT, AVG and expression GROUP
  // BY are declined. A plan that fits one input partition is a complete
  // pushdown; a larger one pushes only ungrouped aggregates, partially —
  // Spark's partial aggregate can spill, a source-side group map cannot.
  private var offered: Aggregation = _
  private var offeredPlan: Option[RtcdbAggPlan] = None
  private var declined = false

  /** the plan for `agg`, made once per offer. After one decline every later
    * offer declines too: Spark re-offers a declined AVG as SUM/COUNT, whose
    * long sum overflows where AVG's double sum does not. */
  private def planFor(agg: Aggregation): Option[RtcdbAggPlan] = {
    if (!(offered eq agg)) {
      offered = agg
      offeredPlan = if (declined) None else parseAgg(agg).map(aggPlan)
      declined = offeredPlan.isEmpty
    }
    offeredPlan
  }

  private def parseAgg(agg: Aggregation): Option[RtcdbFold] = {
    def ref(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            declared.fieldNames.contains(nr.fieldNames.head) =>
          Some(nr.fieldNames.head)
        case _ => None
      }
    def u64(e: org.apache.spark.sql.connector.expressions.Expression) =
      ref(e).filter(declared(_).dataType == LongType)
    val groupBy = agg.groupByExpressions.toSeq.map(ref)
    val aggs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(RtcdbCount)
      // rtcdb columns hold no nulls (data.rs:10-13): COUNT(col) ≡ COUNT(*)
      case c: Count if !c.isDistinct => ref(c.column).map(_ => RtcdbCount)
      case s: Sum if !s.isDistinct => u64(s.column).map(RtcdbSum)
      case m: Min => u64(m.column).map(RtcdbMin)
      case m: Max => u64(m.column).map(RtcdbMax)
      case _ => None
    }
    if (groupBy.exists(_.isEmpty) || aggs.exists(_.isEmpty)) return None
    val g = groupBy.flatten
    val a = aggs.flatten
    // index-only rule: with no grouping, no comparison and no SUM, every
    // block answers from its index entry (rows = decompressed bytes / 8 of
    // a u64 column; MIN/MAX = exact u64 zone maps)
    val comparisons = pushed.exists(RtcdbPruning.filterColumn(_).isDefined)
    val countVia = declared.fields.find(_.dataType == LongType).map(_.name)
      .filter(_ => g.isEmpty && !comparisons && !a.exists(_.isInstanceOf[RtcdbSum]))
    Some(RtcdbFold(g, a, SQLConf.get.ansiEnabled, countVia))
  }

  private def aggPlan(fold: RtcdbFold): RtcdbAggPlan = {
    val aggCols = fold.aggs.collect { case a: RtcdbColumnAgg => a.col }
    val cols = fold.countVia match {
      case Some(via) => (via +: aggCols).distinct
      case None => RtcdbPlanning.cursorColumns(declared, pushed,
        fold.groupBy ++ aggCols)
    }
    // a global aggregate over no block still answers one row: plan one
    // empty partition
    val slices = RtcdbPlanning.slices(root, table, cols, range.lo, range.hi,
      indexOnly = fold.countVia.isDefined) match {
      case Seq() => Seq((range.lo, range.lo))
      case s => s
    }
    RtcdbAggPlan(fold, cols.map(RtcdbPlanning.colSpec(root, table, declared, _))
      .toArray, slices)
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    planFor(agg).exists(_.slices.size == 1)

  override def pushAggregation(agg: Aggregation): Boolean = {
    pushedAgg = planFor(agg).filter(p => p.slices.size == 1 || p.fold.groupBy.isEmpty)
    pushedAgg.isDefined
  }

  override def build(): Scan = pushedAgg match {
    case Some(plan) => new RtcdbAggScan(table, declared, pushed, plan)
    case None => new RtcdbScan(root, table, declared, required, pushed, range,
      maxBlocksPerTrigger)
  }
}

/** The aggregates the reader folds: COUNT, or one over a u64 `col`. */
sealed trait RtcdbAgg extends Serializable
case object RtcdbCount extends RtcdbAgg
sealed trait RtcdbColumnAgg extends RtcdbAgg { def col: String }
final case class RtcdbSum(col: String) extends RtcdbColumnAgg
final case class RtcdbMin(col: String) extends RtcdbColumnAgg
final case class RtcdbMax(col: String) extends RtcdbColumnAgg

/** One pushed aggregation: GROUP BY `groupBy`, emitting `aggs` in order.
  * `ansi` is `spark.sql.ansi.enabled` when the scan was planned: SUM then
  * throws on overflow as Spark's does, else it wraps. `countVia` is set
  * when the fold answers from the index alone, counting rows by that u64
  * column's entries.
  */
final case class RtcdbFold(groupBy: Seq[String], aggs: Seq[RtcdbAgg],
    ansi: Boolean, countVia: Option[String])

/** a pushed aggregation with its cursor columns and block slices */
final case class RtcdbAggPlan(fold: RtcdbFold, cols: Array[RtcdbColSpec],
    slices: Seq[(Int, Int)])

/** The pushed-aggregate scan: one fold per input partition. Its rows are
  * the GROUP BY columns, then the aggregates — the final rows when the plan
  * is one partition (complete pushdown), per-partition partials for Spark
  * to merge otherwise.
  */
class RtcdbAggScan(table: String, declared: StructType, pushed: Array[Filter],
    plan: RtcdbAggPlan) extends Scan with Batch {

  override def readSchema(): StructType = StructType(
    plan.fold.groupBy.map(c => StructField(c, declared(c).dataType)) ++
      plan.fold.aggs.map {
        case RtcdbCount => StructField("count", LongType, nullable = false)
        case RtcdbSum(c) => StructField(s"sum_$c", LongType)
        case RtcdbMin(c) => StructField(s"min_$c", LongType)
        case RtcdbMax(c) => StructField(s"max_$c", LongType)
      })
  override def toBatch: Batch = this
  override def description(): String =
    s"rtcdb table=$table PushedAggregates=[${plan.fold.aggs.mkString(", ")}] " +
      s"PushedGroupBy=[${plan.fold.groupBy.mkString(", ")}] " +
      s"pushed=${pushed.mkString(",")} partitions=${plan.slices.size}" +
      (if (plan.fold.countVia.isDefined) " (index-only)" else "")

  override def planInputPartitions(): Array[InputPartition] =
    plan.slices.map { case (s, e) =>
      RtcdbInputPartition(table, plan.cols, s, e, pushed, Map.empty,
        Array.empty, Some(plan.fold)): InputPartition }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new RtcdbReaderFactory
}

/** test/observability hook: block counts from the most recent planning.
  * Executor readers update planned/pruned; the driver's binary search
  * updates driverIndexEntryReads and adds the blocks it excluded to
  * prunedBlocks. Plain statics are exact under local[*] (one JVM — the
  * test environment); a multi-node deployment would surface the same
  * counts as SQL metrics instead.
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

  /** the column a pushable comparison constrains (None: not a comparison) */
  def filterColumn(f: Filter): Option[String] = f match {
    case EqualTo(a, _)            => Some(a)
    case GreaterThan(a, _)        => Some(a)
    case GreaterThanOrEqual(a, _) => Some(a)
    case LessThan(a, _)           => Some(a)
    case LessThanOrEqual(a, _)    => Some(a)
    case _ => None
  }

  /** Can the source evaluate `f` exactly? A comparison of a declared column
    * with a literal of the column's own type (`Long` for u64, `String` for
    * string), or IS NOT NULL (the format holds no nulls). Everything else
    * (IN, OR, NOT, prefixes, casts) stays a residual filter.
    */
  def isExact(declared: StructType, f: Filter): Boolean = {
    def typed(a: String, v: Any) = declared.fieldNames.contains(a) &&
      (declared(a).dataType match {
        case LongType => v.isInstanceOf[Long]
        case StringType => v.isInstanceOf[String]
        case _ => false
      })
    f match {
      case IsNotNull(a) => declared.fieldNames.contains(a)
      case EqualTo(a, v) => typed(a, v)
      case GreaterThan(a, v) => typed(a, v)
      case GreaterThanOrEqual(a, v) => typed(a, v)
      case LessThan(a, v) => typed(a, v)
      case LessThanOrEqual(a, v) => typed(a, v)
      case _ => false
    }
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

/** The committed block range [lo, hi) a batch scan reads, narrowed by a
  * driver-side binary search on the leading (sorted) column. Computed once
  * per scan builder: the probes count in driverIndexEntryReads and the
  * blocks it excludes in prunedBlocks exactly once, and an empty table
  * opens no file.
  *
  * While the leading column's per-block mins AND maxes are non-decreasing
  * — which both writers check on every append, marking the table
  * `{table}.unsorted` otherwise (RtcdbFormat.OrderGuard) — each
  * conservative block predicate (the same ones blockMayMatch evaluates)
  * is monotone over the block sequence, so a lower-bound binary search
  * locates its boundary in ⌈log₂ n⌉ single-entry probes. Executors
  * re-evaluate every filter per block inside the returned range, so the
  * search can only SKIP provably-empty prefixes/suffixes, never admit a
  * wrong row. A marked table plans the full range, with all pruning
  * still executor-side.
  */
final class RtcdbBlockRange(root: String, table: String, declared: StructType,
    pushed: Array[Filter]) {

  private lazy val bounds: (Int, Int) = {
    // scan length = shortest column across the WHOLE table, not just the
    // projected subset — from index-file SIZES only (one stat per column;
    // the reference stops at the shortest column *being read*,
    // src/storage.rs:313-322, which makes row counts depend on the
    // projection for inconsistent tables — a §1.4-class defect we don't
    // replicate). A MISSING index file counts as 0 entries, matching the
    // commit repair pass (RtcdbWrite): a crash between a first commit's
    // per-column index publishes must read as the consistent empty/old
    // view, not a FileNotFoundException on the unpublished column.
    // absent-while-siblings-non-empty is also the LOST-index signature:
    // same empty view either way, but say so loudly (see RtcdbFormat)
    RtcdbFormat.warnIfAbsentIndexes(Paths.get(root), table,
      declared.fieldNames.toSeq, "rtcdb scan")
    val nBlocks = RtcdbPlanning.committedBlocks(root, table, declared)
    if (nBlocks == 0) (0, 0)
    else {
      val (lo, hi) = leadingRange(nBlocks)
      RtcdbScanStats.prunedBlocks.addAndGet((nBlocks - (hi - lo)).toLong)
      (lo, hi)
    }
  }
  def lo: Int = bounds._1
  def hi: Int = bounds._2

  private val leading = declared.fieldNames.head
  private val leadingIsLong = declared(leading).dataType == LongType

  private def probe(raf: RandomAccessFile, b: Int): IndexEntry = {
    raf.seek(b.toLong * IndexEntryBytes)
    val buf = new Array[Byte](IndexEntryBytes)
    raf.readFully(buf)
    RtcdbScanStats.driverIndexEntryReads.incrementAndGet()
    val e = IndexEntry.fromBytes(buf)
    if (leadingIsLong) RtcdbPruning.guardU64(leading, e)
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
    val fs = pushed.filter(RtcdbPruning.filterColumn(_).contains(leading))
    if (fs.isEmpty || Files.exists(unsortedPath(Paths.get(root), table)))
      return (0, nBlocks)
    val raf = new RandomAccessFile(
      indexPath(Paths.get(root), table, leading).toString, "r")
    try {
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
      if (leadingIsLong) { probe(raf, 0); probe(raf, nBlocks - 1) }
      def mn(e: IndexEntry) = java.nio.ByteBuffer.wrap(e.min).getLong
      def mx(e: IndexEntry) = java.nio.ByteBuffer.wrap(e.max).getLong
      def pfx(v: Any) = prefix8(v.asInstanceOf[String])
      var lo = 0
      var hi = nBlocks
      fs.foreach { f =>
        val (flo, fhi) = (f, leadingIsLong) match {
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

  /** The columns a block cursor walks: the comparison filters' columns
    * first (they are decoded first), then `values`. A read that needs no
    * column still decodes the first declared one, to count rows.
    */
  def cursorColumns(declared: StructType, pushed: Array[Filter],
      values: Seq[String]): Seq[String] =
    (pushed.flatMap(RtcdbPruning.filterColumn).toSeq ++ values).distinct match {
      case Seq() => Seq(declared.fieldNames.head)
      case cs => cs
    }

  /** [lo, hi) split by Spark's file-split rule
    * ([[FilePartition.maxSplitBytes]]: `spark.sql.files.maxPartitionBytes`,
    * `openCostInBytes`, `minPartitionNum`) into contiguous ranges of about
    * equal bytes; none when the range is empty. The bytes are estimated
    * from file sizes alone — each column's data file pro rata to the
    * range's share of its index entries, or the 40-byte entries for an
    * index-only fold — one stat call per column, no entry read.
    */
  def slices(root: String, table: String, cols: Seq[String], lo: Int, hi: Int,
      indexOnly: Boolean = false): Seq[(Int, Int)] = {
    if (hi <= lo) return Seq.empty
    val rootP = Paths.get(root)
    val blocks = (hi - lo).toLong
    val bytes = cols.map { c =>
      if (indexOnly) blocks * IndexEntryBytes
      else {
        val d = dataPath(rootP, table, c)
        val size = if (Files.exists(d)) Files.size(d) else 0L
        (BigInt(size) * blocks / math.max(1L, entryCount(rootP, table, c))).toLong
      }
    }.sum
    val split = FilePartition.maxSplitBytes(
      org.apache.spark.sql.SparkSession.active, bytes)
    val n = math.min(blocks, math.max(1L, (bytes + split - 1) / split)).toInt
    (0 until n).map(i => (lo + (blocks * i / n).toInt, lo + (blocks * (i + 1) / n).toInt))
  }

  /** Row-scan partitions over blocks [lo, hi): executors bulk-read their
    * own 40 B/block/column index slices and prune there — the driver never
    * materializes per-block entries. The cursor walks the filter columns
    * and the required ones; a count-only scan emits empty rows.
    */
  def rowPartitions(root: String, table: String, declared: StructType,
      required: StructType, pushed: Array[Filter],
      runtimeInSets: Map[String, Array[Long]], lo: Int,
      hi: Int): Array[InputPartition] = {
    val names = cursorColumns(declared, pushed, required.fieldNames.toSeq)
    val cols = names.map(colSpec(root, table, declared, _)).toArray
    val output = required.fieldNames.map(names.indexOf(_))
    slices(root, table, names, lo, hi).map { case (s, e) =>
      RtcdbInputPartition(table, cols, s, e, pushed, runtimeInSets, output,
        None): InputPartition }.toArray
  }
}

/** `bloomPath` is null unless the column's bloom sidecar passed the
  * size-equation validity check at planning time (exists, whole-filter
  * aligned, block count in exact lockstep with its index entry count) —
  * the contract that makes a bloom skip sound; anything else degrades to
  * "no bloom pruning", never to a wrong skip */
final case class RtcdbColSpec(name: String, isLong: Boolean,
    dataPath: String, indexPath: String, bloomPath: String = null)

/** One input partition: blocks [blockStart, blockEnd) walked by a
  * [[RtcdbBlockCursor]] over `cols`. A row scan emits cursor columns
  * `output` of every matching row; a pushed aggregate (`fold`) emits the
  * fold's rows instead.
  */
final case class RtcdbInputPartition(
    table: String,
    cols: Array[RtcdbColSpec],
    blockStart: Int, blockEnd: Int,
    pushed: Array[Filter],
    runtimeInSets: Map[String, Array[Long]],
    output: Array[Int],
    fold: Option[RtcdbFold]) extends InputPartition

class RtcdbScan(root: String, table: String, declared: StructType,
    required: StructType, pushed: Array[Filter], range: RtcdbBlockRange,
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

  override def planInputPartitions(): Array[InputPartition] = {
    // README.md:54's declared binary search: O(log n) driver probes, made
    // once per scan however often Spark plans its partitions
    if (runtimeInSets.nonEmpty)
      RtcdbScanStats.runtimeFilteredScans.incrementAndGet()
    RtcdbPlanning.rowPartitions(root, table, declared, required, pushed,
      runtimeInSets, range.lo, range.hi)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RtcdbReaderFactory

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new RtcdbMicroBatchStream(root, table, declared, required, pushed,
      maxBlocksPerTrigger)
}

class RtcdbReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RtcdbInputPartition]
    p.fold match {
      case Some(fold) => new RtcdbFoldReader(p, fold)
      case None => new RtcdbRowReader(p)
    }
  }
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
    new RtcdbReaderFactory
}

/** One partition's walk over blocks [blockStart, blockEnd) — the one block
  * path the row reader and the aggregate fold share (README stages 2–3,
  * with late materialization):
  *
  *  1. a block is skipped when its zone map, a runtime IN-set or a bloom
  *     filter proves that no row can match;
  *  2. the comparison filters' columns are decoded first, and the filters
  *     select the matching rows exactly (signed `Long` order; unsigned-byte
  *     UTF-8 order, `UTF8String.compareTo`) — a block with no match decodes
  *     nothing else;
  *  3. any other column is decoded on demand ([[column]]), for the current
  *     block only.
  *
  * Every column decoded for a block must hold the same row count; a table
  * whose column files disagree throws instead of misaligning rows. Data
  * files are opened on first decode, and an empty range opens no file.
  */
final class RtcdbBlockCursor(part: RtcdbInputPartition) extends AutoCloseable {
  import RtcdbBlockCursor._

  private val cols = part.cols
  val blocks: Int = math.max(0, part.blockEnd - part.blockStart)

  /** every column's index entries for this range, u64 zone maps guarded:
    * the reference format allows values >= 2^63, but those decode negative
    * as Spark LongType and invert zone-map ordering (signed vs unsigned).
    * The write path already rejects them; reject such files at read time
    * too instead of silently mis-pruning. */
  val entries: Array[Array[IndexEntry]] = cols.map { c =>
    val es =
      if (blocks == 0) Array.empty[IndexEntry]
      else RtcdbPruning.readEntryRange(c.indexPath, part.blockStart, part.blockEnd)
    if (c.isLong) es.foreach(RtcdbPruning.guardU64(c.name, _))
    es
  }
  private val colIndex: Map[String, Int] = cols.map(_.name).zipWithIndex.toMap

  // ── bloom sidecar consult (equality predicates only) ───────────────────
  // Zone maps prune nothing for equality on a NON-leading column whose
  // values scatter (every block's [min,max] spans the domain) — exactly
  // the case the per-block bloom sidecar (RtcdbFormat) closes. Slices are
  // bulk-read once per partition (1280 B/block), only for columns that
  // (a) passed the driver's size-equation validity check (bloomPath set)
  // and (b) carry an equality predicate here. A failed probe PROVES the
  // value absent from the block; a false positive only costs a wasted
  // decode (the exact row filter still drops every non-match).
  private val bloomEligible: Set[String] =
    part.pushed.collect { case EqualTo(a, _) => a }.toSet ++
      part.runtimeInSets.collect {
        case (c, ks) if ks.length <= MaxBloomRuntimeKeys => c
      }
  private val bloomSlices: Map[String, (Boolean, Array[Array[Byte]])] =
    if (blocks == 0) Map.empty
    else cols.iterator
      .filter(c => c.bloomPath != null && bloomEligible.contains(c.name))
      .map(c => c.name -> (c.isLong, RtcdbPruning.readBloomRange(
        c.bloomPath, part.blockStart, part.blockEnd)))
      .toMap

  /** zone-map + runtime-set + bloom evaluation for block `b`
    * (range-relative) */
  private def blockSurvives(b: Int): Boolean = {
    // an EMPTY runtime IN-set proves no row can match: prune up front,
    // before zone/bloom evaluation, so bloomPrunedBlocks only counts
    // blocks an actual bloom probe refused
    if (part.runtimeInSets.exists(_._2.isEmpty)) return false
    def colEntry(name: String): Option[(RtcdbColSpec, IndexEntry)] =
      colIndex.get(name).map(i => (cols(i), entries(i)(b)))
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
        bloomMayContain(s(b), bloomValueBytes(isLong, v))
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

  private val preds: Array[RowPred] = part.pushed.flatMap { f =>
    RtcdbPruning.filterColumn(f).map { c =>
      val i = colIndex(c)
      val (op, v) = f match {
        case EqualTo(_, v) => (Eq, v)
        case GreaterThan(_, v) => (Gt, v)
        case GreaterThanOrEqual(_, v) => (Ge, v)
        case LessThan(_, v) => (Lt, v)
        case LessThanOrEqual(_, v) => (Le, v)
        case other => throw new IllegalStateException(s"not a comparison: $other")
      }
      if (cols(i).isLong) new RowPred(i, op, v.asInstanceOf[Long], null)
      else new RowPred(i, op, 0L, UTF8String.fromString(v.asInstanceOf[String]))
    }
  }
  private val predCols = preds.map(_.col).distinct

  private val files = new Array[RandomAccessFile](cols.length)
  private val decoded = new Array[AnyRef](cols.length)
  private val decodedAt = Array.fill(cols.length)(-1)
  private var b = -1
  private var n = 0
  private var countedBy = -1

  /** the current block's matching rows: `sel(0 until nSel)`, ascending */
  var sel: Array[Int] = new Array[Int](RowsPerBlock)
  var nSel = 0

  /** advance to the next block with at least one matching row */
  def next(): Boolean = {
    b += 1
    while (b < blocks) {
      if (!blockSurvives(b)) RtcdbScanStats.prunedBlocks.incrementAndGet()
      else {
        RtcdbScanStats.plannedBlocks.incrementAndGet()
        countedBy = -1
        if (predCols.isEmpty) column(0) else predCols.foreach(column)
        if (sel.length < n) sel = new Array[Int](n)
        var k = 0
        while (k < n) { sel(k) = k; k += 1 }
        nSel = n
        var p = 0
        while (p < preds.length && nSel > 0) {
          nSel = preds(p).refine(decoded(preds(p).col), sel, nSel)
          p += 1
        }
        if (nSel > 0) return true
      }
      b += 1
    }
    nSel = 0
    false
  }

  /** column `i`'s values in the current block: `Array[Long]` or
    * `Array[UTF8String]` views over the decompressed bytes */
  def column(i: Int): AnyRef = {
    if (decodedAt(i) != b) {
      val c = cols(i)
      if (files(i) == null) files(i) = new RandomAccessFile(c.dataPath, "r")
      val raw = readBlock(files(i), entries(i)(b))
      val (v, len): (AnyRef, Int) =
        if (c.isLong) { val l = decodeLongs(raw); (l, l.length) }
        else { val s = decodeUtf8(raw); (s, s.length) }
      if (countedBy < 0) { n = len; countedBy = i }
      else if (len != n) throw misaligned(part.blockStart.toLong + b, c.name,
        len, cols(countedBy).name, n)
      decoded(i) = v
      decodedAt(i) = b
    }
    decoded(i)
  }

  /** Block `b`'s row count from its index entries alone — the index-only
    * fold, where every column is u64: each entry must pass
    * [[RtcdbFormat.u64EntryRows]], and all must agree. */
  def entryRows(b: Int): Int = {
    val block = part.blockStart.toLong + b
    val rows = cols.indices.map(i =>
      u64EntryRows(part.table, cols(i).name, block, entries(i)(b)))
    rows.indices.find(rows(_) != rows(0)).foreach(i =>
      throw misaligned(block, cols(i).name, rows(i), cols(0).name, rows(0)))
    rows(0)
  }

  private def misaligned(block: Long, col: String, rows: Int, other: String,
      otherRows: Int) = new IllegalStateException(
    s"rtcdb: table '${part.table}' block $block: column '$col' holds $rows " +
      s"rows but column '$other' holds $otherRows; the column files are " +
      "misaligned, refusing to read")

  override def close(): Unit = files.foreach(f => if (f != null) f.close())
}

object RtcdbBlockCursor {
  private val MaxBloomRuntimeKeys = 256
  private final val Eq = 0
  private final val Gt = 1
  private final val Ge = 2
  private final val Lt = 3
  private final val Le = 4

  /** one exact comparison of cursor column `col` with a literal: `long`
    * for a u64 column, `str` for a string column */
  private final class RowPred(val col: Int, op: Int, long: Long, str: UTF8String) {
    private def holds(c: Int): Boolean = op match {
      case Eq => c == 0
      case Gt => c > 0
      case Ge => c >= 0
      case Lt => c < 0
      case _ => c <= 0
    }

    /** keep the rows of `sel(0 until nSel)` that satisfy it; the new count */
    def refine(values: AnyRef, sel: Array[Int], nSel: Int): Int = {
      var out = 0
      var k = 0
      if (str == null) {
        val vs = values.asInstanceOf[Array[Long]]
        while (k < nSel) {
          val r = sel(k)
          if (holds(java.lang.Long.compare(vs(r), long))) { sel(out) = r; out += 1 }
          k += 1
        }
      } else {
        val vs = values.asInstanceOf[Array[UTF8String]]
        while (k < nSel) {
          val r = sel(k)
          if (holds(vs(r).compareTo(str))) { sel(out) = r; out += 1 }
          k += 1
        }
      }
      out
    }
  }
}

/** Row scan: emits the output columns of every matching row, decoding them
  * only for blocks with a match. A count-only scan emits empty rows. The
  * emitted row is reused; Spark copies it into an unsafe row.
  */
final class RtcdbRowReader(part: RtcdbInputPartition)
    extends PartitionReader[InternalRow] {
  private val cursor = new RtcdbBlockCursor(part)
  private val out = part.output
  private val isLong = out.map(part.cols(_).isLong)
  private val row = new SpecificInternalRow(isLong.toSeq.map(l =>
    if (l) LongType else StringType: DataType))
  private val values = new Array[AnyRef](out.length)
  private var k = 0

  override def next(): Boolean = {
    while (k >= cursor.nSel) {
      if (!cursor.next()) return false
      k = 0
      var i = 0
      while (i < out.length) { values(i) = cursor.column(out(i)); i += 1 }
    }
    val r = cursor.sel(k)
    k += 1
    var i = 0
    while (i < out.length) {
      if (isLong(i)) row.setLong(i, values(i).asInstanceOf[Array[Long]](r))
      else row.update(i, values(i).asInstanceOf[Array[UTF8String]](r))
      i += 1
    }
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = cursor.close()
}

/** Pushed aggregate: folds the partition's matching rows into one row per
  * group (GROUP BY columns, then the aggregates), or exactly one row
  * without GROUP BY — COUNT 0 and SUM/MIN/MAX null over no rows. With
  * `countVia` set, each block answers from its index entries and no data
  * file is opened.
  */
final class RtcdbFoldReader(part: RtcdbInputPartition, fold: RtcdbFold)
    extends PartitionReader[InternalRow] {
  private val nAggs = fold.aggs.length
  private val aggCol: Array[Int] = fold.aggs.map {
    case a: RtcdbColumnAgg => part.cols.indexWhere(_.name == a.col)
    case RtcdbCount => -1
  }.toArray
  private val kind: Array[Int] = fold.aggs.map {
    case RtcdbCount => 0
    case _: RtcdbSum => 1
    case _: RtcdbMin => 2
    case _: RtcdbMax => 3
  }.toArray

  /** fresh accumulators: slot nAggs counts the rows folded */
  private def newAcc(): Array[Long] = {
    val acc = new Array[Long](nAggs + 1)
    var j = 0
    while (j < nAggs) {
      acc(j) = kind(j) match {
        case 2 => Long.MaxValue
        case 3 => Long.MinValue
        case _ => 0L
      }
      j += 1
    }
    acc
  }

  private def add(a: Long, b: Long, col: Int): Long =
    if (!fold.ansi) a + b
    else try Math.addExact(a, b) catch {
      case e: ArithmeticException => throw new ArithmeticException(
        s"rtcdb: SUM(${part.cols(col).name}) overflows a long " +
          s"(spark.sql.ansi.enabled=true): ${e.getMessage}")
    }

  /** fold the value at row `r` of each aggregate's column into `acc` */
  private def foldRow(acc: Array[Long], cols: Array[Array[Long]], r: Int): Unit = {
    var j = 0
    while (j < nAggs) {
      kind(j) match {
        case 0 => acc(j) += 1
        case 1 => acc(j) = add(acc(j), cols(j)(r), aggCol(j))
        case 2 => acc(j) = math.min(acc(j), cols(j)(r))
        case _ => acc(j) = math.max(acc(j), cols(j)(r))
      }
      j += 1
    }
    acc(nAggs) += 1
  }

  private def aggValues(acc: Array[Long]): Seq[Any] =
    (0 until nAggs).map(j =>
      if (kind(j) != 0 && acc(nAggs) == 0) null else acc(j))

  private lazy val rows: Iterator[InternalRow] = {
    val cursor = new RtcdbBlockCursor(part)
    try {
      if (fold.countVia.isDefined) Iterator(indexOnly(cursor))
      else if (fold.groupBy.isEmpty) Iterator(ungrouped(cursor))
      else grouped(cursor)
    } finally cursor.close()
  }

  private def indexOnly(cursor: RtcdbBlockCursor): InternalRow = {
    val acc = newAcc()
    var b = 0
    while (b < cursor.blocks) {
      val n = cursor.entryRows(b)
      var j = 0
      while (j < nAggs) {
        kind(j) match {
          case 0 => acc(j) += n
          case 2 => acc(j) = math.min(acc(j),
            java.nio.ByteBuffer.wrap(cursor.entries(aggCol(j))(b).min).getLong)
          case _ => acc(j) = math.max(acc(j),
            java.nio.ByteBuffer.wrap(cursor.entries(aggCol(j))(b).max).getLong)
        }
        j += 1
      }
      acc(nAggs) += n
      b += 1
    }
    new GenericInternalRow(aggValues(acc).toArray)
  }

  private def aggColumns(cursor: RtcdbBlockCursor): Array[Array[Long]] =
    aggCol.map(i => if (i < 0) null else cursor.column(i).asInstanceOf[Array[Long]])

  private def ungrouped(cursor: RtcdbBlockCursor): InternalRow = {
    val acc = newAcc()
    while (cursor.next()) {
      val cols = aggColumns(cursor)
      var k = 0
      while (k < cursor.nSel) { foldRow(acc, cols, cursor.sel(k)); k += 1 }
    }
    new GenericInternalRow(aggValues(acc).toArray)
  }

  private def grouped(cursor: RtcdbBlockCursor): Iterator[InternalRow] = {
    val groupCol = fold.groupBy.map(c => part.cols.indexWhere(_.name == c)).toArray
    val groups = new java.util.LinkedHashMap[AnyRef, Array[Long]]
    // a key's values: boxed longs, or UTF8String views (copied when a new
    // key is stored, so no group map entry pins a block buffer)
    def value(col: AnyRef, r: Int, own: Boolean): AnyRef = col match {
      case ls: Array[Long] => java.lang.Long.valueOf(ls(r))
      case ss: Array[UTF8String] => if (own) ss(r).copy() else ss(r)
    }
    def key(keyCols: Array[AnyRef], r: Int, own: Boolean): AnyRef =
      if (keyCols.length == 1) value(keyCols(0), r, own)
      else keyCols.toList.map(value(_, r, own))
    while (cursor.next()) {
      val keyCols = groupCol.map(cursor.column)
      val cols = aggColumns(cursor)
      var k = 0
      while (k < cursor.nSel) {
        val r = cursor.sel(k)
        var acc = groups.get(key(keyCols, r, own = false))
        if (acc == null) {
          acc = newAcc()
          groups.put(key(keyCols, r, own = true), acc)
        }
        foldRow(acc, cols, r)
        k += 1
      }
    }
    val single = groupCol.length == 1
    groups.entrySet().iterator().asScala.map { e =>
      val keys: Seq[Any] =
        if (single) Seq(e.getKey) else e.getKey.asInstanceOf[List[Any]]
      new GenericInternalRow((keys ++ aggValues(e.getValue)).toArray): InternalRow
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
