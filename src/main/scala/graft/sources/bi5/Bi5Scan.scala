package graft.sources.bi5

import java.util.OptionalLong

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/**
 * Scan pipeline of the bi5 source: ScanBuilder -> Scan/Batch -> InputPartition
 * -> PartitionReader.
 *
 * Design notes vs the reference (BI5DataSource.scala:54-202):
 *  - Default partitioning reproduces the reference's observable rule — one
 *    input partition per immediate child of the load root, one for a plain
 *    file (reference :68-79; partition counts are asserted by its tests).
 *  - `split=files` opts into scale-friendly planning: a driver-side recursive
 *    listing bin-packed into ~maxPartitionBytes partitions, so a root with 2
 *    year-dirs but millions of hour files fans out over the whole cluster
 *    instead of 2 tasks.
 *  - Column pruning (SupportsPushDownRequiredColumns) and filter pushdown
 *    (SupportsPushDownFilters on `ticker`/`ts`) are new; the reference
 *    decodes all 6 columns of every file unconditionally. Pushed filters
 *    prune directories and files against path-derived metadata (the moral
 *    equivalent of Hive partition pruning), and the exact ones are checked
 *    on every row the readers emit, so Spark plans no Filter for them.
 *  - Skip-corrupt semantics are preserved exactly: any failure opening or
 *    mid-file silently truncates that file's contribution
 *    (reference :149-186, asserted by its tests on garbage/empty fixtures).
 */
class Bi5ScanBuilder(opts: Bi5Options)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: StructType = Bi5Schema.schema
  private var pushed: Array[Filter] = Array.empty
  private var aggsPushed: Seq[Bi5Agg] = Nil

  // Resolved once, driver-side (needs the session's Hadoop conf in scope);
  // serialized into every reader factory so executors use the same store.
  private val store: Bi5Store = Bi5Store.forPath(opts.path)

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // Metadata-answerable aggregates only — COUNT(*) (lzma headers) and
    // MIN/MAX(ts) (boundary-hour decode) — with no grouping, only when the
    // user opted into trusting file metadata, and only with no filters.
    // Spark offers aggregates only when every filter was consumed, which
    // exact ticker/ts filters are, but the header count and the
    // boundary-hour bounds ignore filters, so any pushed filter refuses.
    // Partial pushdown: each partition emits one row of partials; Spark
    // runs the final aggregation.
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (!opts.trustHeaders || pushed.nonEmpty) return false
    if (!aggregation.groupByExpressions().isEmpty) return false
    def tsColumn(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference => r.fieldNames.sameElements(Array("ts"))
        case _                 => false
      }
    val mapped = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar              => Some(Bi5Agg.Count)
      case m: Min if tsColumn(m.column) => Some(Bi5Agg.MinTs)
      case m: Max if tsColumn(m.column) => Some(Bi5Agg.MaxTs)
      case _                         => None
    }
    if (mapped.isEmpty || mapped.exists(_.isEmpty)) return false
    aggsPushed = mapped.flatten
    true
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Spark hands us the subset of columns the query actually reads; empty
    // for pure count(*) shapes — the reader then emits zero-field rows.
    required = requiredSchema
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(Bi5FilePruner.supported)
    // Every supported filter prunes; the exact ones are also checked on each
    // row by the readers (Bi5FileCursor), so Spark plans no Filter for them
    // and re-evaluates only the rest. Both rest on the layout invariant that
    // a file's rows fall in its path-derived hour (see Bi5FilePruner).
    filters.filterNot(Bi5FilePruner.exact)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    if (aggsPushed.nonEmpty) new Bi5AggScan(opts, aggsPushed, store)
    else new Bi5Scan(opts, required, pushed, store)
}

class Bi5Scan(opts: Bi5Options, required: StructType, filters: Array[Filter], store: Bi5Store)
    extends Scan
    with Batch
    with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  // Runtime (DPP-style) filters delivered after planning but before
  // execution — e.g. the ticker IN (...) set from a broadcast join's build
  // side. Merged into the same file-pruning machinery as planning-time
  // filters, so a join against a small filtered dimension skips whole
  // subtrees of hour files at run time.
  private var runtimeFilters: Array[Filter] = Array.empty

  private def allFilters: Array[Filter] = filters ++ runtimeFilters

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns that survived pruning: Spark resolves these against the
    // scan OUTPUT, so advertising a pruned-away column fails analysis
    required.fieldNames
      .filter(n => n == "ticker" || n == "ts")
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(newFilters: Array[Filter]): Unit = {
    runtimeFilters = newFilters.filter(Bi5FilePruner.supported)
  }

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new Bi5MicroBatchStream(opts, required, filters, checkpointLocation, store)

  override def description(): String =
    s"bi5 path=${opts.path} digits=${opts.digits} pushed=[${allFilters.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    if (!opts.splitPerFile) Bi5Scan.perChildPartitions(opts.path, store)
    else planFileBins()

  /** Scale mode: list the files on the driver, prune by pushed filters, then
    * bin-pack by compressed size ([[Bi5Scan.packBins]]). With the DEFAULT byte
    * cap the bin target also shrinks to totalBytes / (2 * defaultParallelism):
    * a byte cap alone would collapse any dataset smaller than one cap into a
    * single partition and run the whole scan on one core (observed: a 53 MB
    * tree decoding single-threaded under the 128 MiB default). */
  private def planFileBins(): Array[InputPartition] = {
    val runtime = new Bi5FilePruner.Checks(runtimeFilters)
    val files = listedFiles
      .filter { case (p, _) => runtime.mayMatch(p, opts.monthOffset) }
      .sortBy { case (_, size) => -size }
    val totalBytes = files.map(_._2).sum
    val parallelism =
      try org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism
      catch { case NonFatal(_) => 8 }
    // An explicitly-set maxPartitionBytes is the user's tuning decision —
    // honor it exactly in either direction. Only the DEFAULT engages the
    // parallelism heuristic (with a 1 MB floor so small datasets fan out
    // without shattering into confetti).
    val targetBytes =
      if (opts.maxPartitionBytesExplicit) opts.maxPartitionBytes
      else math.min(
        opts.maxPartitionBytes,
        math.max(1L << 20, totalBytes / math.max(1, 2 * parallelism) + 1))
    val bins = Bi5Scan.packBins(files, targetBytes)
    if (bins.isEmpty) Array(Bi5Partition(Array.empty, walk = false))
    else bins.map(b => Bi5Partition(b, walk = false): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new Bi5PartitionReaderFactory(opts, required, allFilters, store)

  // ONE listing per scan, shared by stats and split=files planning, pruned by
  // the planning-time filters down to the directory level. Runtime filters
  // can only narrow it, so planning applies them per file on top. Matches
  // the stock file source's load()-time index snapshot semantics.
  private lazy val listedFiles: Seq[(String, Long)] =
    Bi5FileLister.listPruned(store, opts.path, opts.monthOffset, new Bi5FilePruner.Checks(filters))

  override def estimateStatistics(): Statistics = {
    // No footer/stats exist in bi5 files; estimate from compressed bytes with
    // the ~4.2x LZMA ratio observed on the reference fixtures, 20 B/record.
    // Pushed filters prune the listing first so a ticker/ts-restricted scan
    // reports its actual magnitude (broadcast decisions depend on this).
    val compressed = listedFiles.map(_._2).sum
    val rows = (compressed * 4.2 / Bi5Codec.RecordBytes).toLong
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(math.max(rows * 48L, 1L))
      override def numRows(): OptionalLong = OptionalLong.of(rows)
    }
  }
}

object Bi5Scan {

  /** Sequential packing over a size-DESC-sorted listing into ~targetBytes
    * bins: O(files). First-fit against all open bins would be O(files x
    * bins) — hours of driver time at the million-file scale, for
    * near-identical partition quality on size-sorted input. */
  def packBins(filesBySizeDesc: Seq[(String, Long)], targetBytes: Long): Array[Array[String]] = {
    val bins = ArrayBuffer.empty[Array[String]]
    val bin = ArrayBuffer.empty[String]
    var used = 0L
    filesBySizeDesc.foreach { case (path, size) =>
      if (bin.nonEmpty && used + size > targetBytes) {
        bins += bin.toArray
        bin.clear()
        used = 0L
      }
      bin += path
      used += size
    }
    if (bin.nonEmpty) bins += bin.toArray
    bins.toArray
  }

  /** Reference partitioning rule: one partition per immediate child of a
    * directory root (dirs AND stray files alike — recursion happens
    * executor-side), a single partition for a plain file. Shared by the data
    * scan and the count scan. */
  def perChildPartitions(path: String, store: Bi5Store): Array[InputPartition] = {
    if (store.isDirectory(path)) {
      store.children(path).map(_.path).sorted
        .map(c => Bi5Partition(Array(c), walk = true): InputPartition)
        .toArray
    } else {
      Array(Bi5Partition(Array(path), walk = true))
    }
  }
}

/** Serializable partition descriptor: either recursive-walk roots (default
  * mode) or an explicit pre-planned file list (`split=files` mode). */
case class Bi5Partition(roots: Array[String], walk: Boolean) extends InputPartition

class Bi5PartitionReaderFactory(
    opts: Bi5Options,
    required: StructType,
    filters: Array[Filter],
    store: Bi5Store)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new Bi5PartitionReader(partition.asInstanceOf[Bi5Partition], opts, required, filters, store)

  // Emit ColumnarBatches: downstream operators consume vectors directly and
  // Spark's per-row reader pipeline (iterator + unsafe projection per record)
  // disappears — measured ~2.3x over the row reader on a 4.8M-record scan.
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new Bi5ColumnarReader(partition.asInstanceOf[Bi5Partition], opts, required, filters, store)
}

/**
 * Executor-side row reader (the columnar reader handles the default path;
 * this one serves engines/paths that ask for row output). Shares the file
 * walk/prune/open/skip-corrupt logic with the columnar reader via
 * [[Bi5FileCursor]]. Memory per task: the cursor's decoded file (see
 * [[Bi5FileCursor]]) plus one row.
 */
class Bi5PartitionReader(
    partition: Bi5Partition,
    opts: Bi5Options,
    required: StructType,
    filters: Array[Filter],
    store: Bi5Store)
    extends PartitionReader[InternalRow] {

  private[this] val colIds = Bi5FileCursor.columnIds(required)
  private[this] val divisor = opts.priceDivisor
  private[this] val numFields = colIds.length

  private[this] val cursor = new Bi5FileCursor(partition, opts, filters, store)
  private[this] var current: Bi5FileCursor.OpenFile = _
  private[this] var row: InternalRow = _

  override def next(): Boolean = {
    while (current == null || !current.next()) {
      cursor.nextFile() match {
        case Some(f) => current = f
        case None    => return false
      }
    }
    val f = current
    val r = new GenericInternalRow(numFields)
    var i = 0
    while (i < numFields) {
      colIds(i) match {
        case 0 => r.update(i, f.tickerUtf8)
        case 1 => r.setLong(i, f.tsMicros)
        case 2 => r.setDouble(i, f.askRaw / divisor)
        case 3 => r.setDouble(i, f.bidRaw / divisor)
        case 4 => r.setDouble(i, f.askVol.toDouble)
        case 5 => r.setDouble(i, f.bidVol.toDouble)
      }
      i += 1
    }
    row = r
    true
  }

  override def get(): InternalRow = row

  override def close(): Unit = cursor.close()
}

/** Listing helpers shared by planning, stats, streaming and the readers. */
object Bi5FileLister {

  // Directory tails of the layout `<ticker>/<YYYY>/<mm>/<dd>/<hh>h_ticks.bi5`,
  // matched against a directory PATH during a pruned descent. Mutually
  // exclusive: the year component's fixed 4 digits anchors the depth.
  private val DayDirTail = """/([a-zA-Z0-9]+)/(\d{4})/(\d{1,2})/(\d{1,2})$""".r
  private val MonthDirTail = """/([a-zA-Z0-9]+)/(\d{4})/(\d{1,2})$""".r
  private val YearDirTail = """/([a-zA-Z0-9]+)/(\d{4})$""".r

  private[bi5] final val HourMicros = 3600L * 1000 * 1000

  /**
   * The ticker and the `[lo, hi]` row-timestamp interval (µs) of every file
   * the layout places under `dirPath`, from the directory name alone, or
   * None when the tail is not a `<T>/<YYYY>`, `<T>/<YYYY>/<mm>` or
   * `<T>/<YYYY>/<mm>/<dd>` level. EXACT, not heuristic: the missing
   * components are `\d{1,2}` (0 to 99), the lenient Calendar the file path
   * goes through is monotone in each field, and a file's rows span its hour
   * — so plugging 0 and 99 into that same Calendar bounds every file below,
   * roll-over dirs such as `2019/11/31` included. The one shape outside the
   * bound is a complete ticker hierarchy nested INSIDE a date directory,
   * which the layout contract excludes (see [[Bi5FilePruner]]).
   */
  def subtreeBounds(dirPath: String, monthOffset: Int): Option[(String, Long, Long)] = {
    val normalized = dirPath.replace('\\', '/')
    def span(ticker: String, year: String, month0Lo: Int, month0Hi: Int, dayLo: Int, dayHi: Int) =
      (ticker,
        Bi5PathMeta.lenientBaseMicros(year.toInt, month0Lo, dayLo, 0),
        Bi5PathMeta.lenientBaseMicros(year.toInt, month0Hi, dayHi, 99) + HourMicros - 1)
    DayDirTail.findFirstMatchIn(normalized).map { m =>
      val month0 = m.group(3).toInt - monthOffset
      val day = m.group(4).toInt
      span(m.group(1), m.group(2), month0, month0, day, day)
    }.orElse(MonthDirTail.findFirstMatchIn(normalized).map { m =>
      val month0 = m.group(3).toInt - monthOffset
      span(m.group(1), m.group(2), month0, month0, 0, 99)
    }).orElse(YearDirTail.findFirstMatchIn(normalized).map { m =>
      span(m.group(1), m.group(2), -monthOffset, 99 - monthOffset, 0, 99)
    })
  }

  /**
   * Streaming-tail listing: like [[Bi5Store.listBi5Files]] but skips (never
   * even enumerates) directories whose EVERY possible file sorts strictly
   * before hour base `minBaseMicros` — the committed offset's hour. An idle
   * tail over years of history then re-lists only the frontier day/month
   * dirs instead of re-walking the whole archive every trigger:
   * O(new + frontier) driver work per micro-batch, not O(corpus). It
   * descends through [[Bi5Store.children]] on every store, so an object
   * store is LISTed one frontier directory at a time rather than with a
   * whole-tree flat listing.
   *
   * Files AT `minBaseMicros` are still listed (the caller's exact
   * (base, path) key filter owns the tiebreak), so nothing the full walk
   * would admit is lost — up to the layout contract's one exception, shared
   * with the batch scan: a complete ticker hierarchy nested INSIDE a pruned
   * date directory is not read (see [[Bi5FilePruner]]).
   *
   * `onDirEnumerated` is a test seam: invoked once per directory whose
   * children this walk actually reads.
   */
  def listBi5FilesSince(
      store: Bi5Store,
      root: String,
      minBaseMicros: Long,
      monthOffset: Int,
      onDirEnumerated: String => Unit = _ => ()): Seq[(String, Long)] = {
    val out = Vector.newBuilder[(String, Long)]
    // skip iff the latest hour base below the dir sorts before the frontier
    def enter(dir: String): Boolean =
      subtreeBounds(dir, monthOffset).forall { case (_, _, hi) => hi - HourMicros + 1 >= minBaseMicros }
    def descend(dir: String): Unit = {
      onDirEnumerated(dir)
      store.children(dir).foreach { child =>
        if (child.isDir) {
          if (enter(child.path)) descend(child.path)
        } else if (Bi5Store.isBi5Name(child.path)) {
          out += ((child.path, child.size))
        }
      }
    }
    if (store.isDirectory(root)) descend(root)
    else if (store.exists(root)) out += ((root, store.fileSize(root)))
    out.result()
  }

  /** Candidate files under `root` for `checks`, strict: subtrees the
    * filters rule out are never listed, and every listed file passed the
    * file-level check. `root` itself is not judged (see
    * [[Bi5Store.walkBi5Files]]). */
  def listPruned(
      store: Bi5Store,
      root: String,
      monthOffset: Int,
      checks: Bi5FilePruner.Checks): Seq[(String, Long)] =
    store.listBi5Files(root, checks.dirFilter(monthOffset))
      .filter { case (p, _) => checks.mayMatch(p, monthOffset) }

  /** All candidate .bi5 files of a partition, strict (streams closed). */
  def partitionFiles(partition: Bi5Partition, store: Bi5Store): Seq[String] =
    if (partition.walk) {
      partition.roots.flatMap(root => store.listBi5Files(root).map(_._1)).toSeq
    } else {
      partition.roots.toSeq
    }
}

/**
 * Pruning with pushed source filters, evaluated against path-derived
 * metadata: `ticker` equals the path's ticker exactly, and a file's rows
 * span `[base, base + 1h)` (offsets are milliseconds within the named hour).
 * Conservative: a check returns true unless a filter PROVES no row can
 * match.
 *
 * The same filters judge whole DIRECTORIES: a `<T>/<YYYY>[/<mm>[/<dd>]]`
 * directory covers one ticker and a bounded time span
 * ([[Bi5FileLister.subtreeBounds]]), and a walk never lists a directory
 * whose span no filter admits. A file's check is the one-hour case of the
 * same interval test, and a row's check ([[Checks.rowPasses]]) is its
 * one-point case, which is exact for the filters [[exact]] accepts. The
 * readers check every row of every file they read whenever an exact filter
 * is present.
 *
 * Layout contract. Pruning, at both levels, relies on every file sitting at
 * `<ticker>/<YYYY>/<mm>/<dd>/<hh>h_ticks.bi5` with its rows inside that
 * hour. Its one known exception: a complete ticker hierarchy nested INSIDE
 * a date directory (`…/EURUSD/2020/1/2/GBPUSD/2024/…`) is not read when the
 * outer date directory is pruned — by a filter in a batch scan, or by the
 * committed hour in a stream. The load root itself is never
 * judged by its name. Rows of a malformed file whose offsets leave its hour
 * can likewise be pruned away with a ts filter present; since every row
 * read is checked, the contract can only drop rows, never return ones a
 * filter rejects.
 */
object Bi5FilePruner {

  import Bi5FileLister.HourMicros

  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _)            => a == "ticker" || a == "ts"
    case In(a, _)                 => a == "ticker"
    case GreaterThan(a, _)        => a == "ts"
    case GreaterThanOrEqual(a, _) => a == "ts"
    case LessThan(a, _)           => a == "ts"
    case LessThanOrEqual(a, _)    => a == "ts"
    case And(l, r)                => supported(l) && supported(r)
    case Or(l, r)                 => supported(l) && supported(r)
    case _                        => false
  }

  /** True when the readers decide `f` exactly on every row, so Spark need
    * not evaluate it again: a [[supported]] shape whose every literal is a
    * `String` (ticker) or a `java.sql.Timestamp` / `java.time.Instant` (ts).
    * A `LocalDateTime` only ever prunes, conservatively. */
  def exact(f: Filter): Boolean = compile(f).exact

  /** One-off file check, converting `filters` on each call. A listing or a
    * reader builds one [[Checks]] and reuses it. */
  def mayMatch(path: String, monthOffset: Int, filters: Array[Filter]): Boolean =
    new Checks(filters).mayMatch(path, monthOffset)

  /** `filters` with their literals converted once, for the checks a walk or
    * a reader makes per directory, per file and per row. */
  final class Checks(filters: Array[Filter]) {
    private[this] val conds = filters.map(compile)
    private[this] val exactConds = conds.filter(_.exact)

    /** true = some row of `ticker` with ts in `[lo, hi]` may pass every filter. */
    private def mayMatchSpan(ticker: String, lo: Long, hi: Long): Boolean =
      conds.forall(_.mayMatch(ticker, lo, hi))

    def mayMatch(path: String, monthOffset: Int): Boolean =
      Bi5PathMeta.parse(path, monthOffset) match {
        case Some(meta) => mayMatchMeta(meta)
        case None       => true // undecodable path: let the reader's own skip logic decide
      }

    def mayMatchMeta(meta: Bi5PathMeta): Boolean =
      mayMatchSpan(meta.ticker, meta.baseEpochMicros, meta.baseEpochMicros + HourMicros - 1)

    /** The directory predicate of a walk pruned by the filters: false only
      * when the directory's name proves no file below it can match. */
    def dirFilter(monthOffset: Int): String => Boolean =
      if (conds.isEmpty) Bi5Store.EveryDir
      else dir => Bi5FileLister.subtreeBounds(dir, monthOffset).forall {
        case (ticker, lo, hi) => mayMatchSpan(ticker, lo, hi)
      }

    /** No exact filter, so the readers emit every row unchecked. */
    def rowsNeedNoCheck: Boolean = exactConds.isEmpty

    /** The row of `ticker` at `tsMicros` passes every exact filter. */
    def rowPasses(ticker: String, tsMicros: Long): Boolean =
      exactConds.forall(_.mayMatch(ticker, tsMicros, tsMicros))
  }

  /** One filter with its literals converted: the (ticker, ts) points it
    * admits. `exact` is false when a literal was converted conservatively
    * or not at all. */
  private sealed trait Cond {
    def exact: Boolean
    /** Some point of `ticker` x `[lo, hi]` passes; exact when `lo == hi`. */
    def mayMatch(ticker: String, lo: Long, hi: Long): Boolean
  }

  private final case class Tickers(names: Set[String], exact: Boolean) extends Cond {
    def mayMatch(ticker: String, lo: Long, hi: Long): Boolean = names.contains(ticker)
  }

  /** `ts` in `[from, to]` (µs, inclusive); empty when `from > to`. */
  private final case class TsRange(from: Long, to: Long, exact: Boolean) extends Cond {
    def mayMatch(ticker: String, lo: Long, hi: Long): Boolean = math.max(from, lo) <= math.min(to, hi)
  }

  private final case class Both(l: Cond, r: Cond) extends Cond {
    val exact: Boolean = l.exact && r.exact
    def mayMatch(ticker: String, lo: Long, hi: Long): Boolean =
      l.mayMatch(ticker, lo, hi) && r.mayMatch(ticker, lo, hi)
  }

  private final case class OneOf(l: Cond, r: Cond) extends Cond {
    val exact: Boolean = l.exact && r.exact
    def mayMatch(ticker: String, lo: Long, hi: Long): Boolean =
      l.mayMatch(ticker, lo, hi) || r.mayMatch(ticker, lo, hi)
  }

  /** A filter the source cannot judge: it may match anything. */
  private case object Anything extends Cond {
    def exact: Boolean = false
    def mayMatch(ticker: String, lo: Long, hi: Long): Boolean = true
  }

  private final val Empty = (1L, 0L)

  private def compile(f: Filter): Cond = f match {
    case EqualTo("ticker", v)        => tickers(Array(v))
    case In("ticker", vs)            => tickers(vs)
    case EqualTo("ts", v)            => ts(v, m => (m, m))
    case GreaterThan("ts", v)        => ts(v, m => if (m == Long.MaxValue) Empty else (m + 1, Long.MaxValue))
    case GreaterThanOrEqual("ts", v) => ts(v, m => (m, Long.MaxValue))
    case LessThan("ts", v)           => ts(v, m => if (m == Long.MinValue) Empty else (Long.MinValue, m - 1))
    case LessThanOrEqual("ts", v)    => ts(v, m => (Long.MinValue, m))
    case And(l, r)                   => Both(compile(l), compile(r))
    case Or(l, r)                    => OneOf(compile(l), compile(r))
    case _                           => Anything
  }

  /** A value that is not a `String` equals no ticker. */
  private def tickers(vs: Array[Any]): Cond =
    Tickers(vs.collect { case s: String => s }.toSet, exact = vs.forall(_.isInstanceOf[String]))

  /** The range a `ts` comparison admits, its literal converted to µs the way
    * Spark converts it, so the rows kept are the rows Spark's own `Filter`
    * would keep. A `LocalDateTime` is read as UTC and never exact. */
  private def ts(v: Any, range: Long => (Long, Long)): Cond = {
    def cond(m: Long, exact: Boolean) = { val (from, to) = range(m); TsRange(from, to, exact) }
    v match {
      case t: java.sql.Timestamp => cond(DateTimeUtils.fromJavaTimestamp(t), exact = true)
      case i: java.time.Instant  => cond(DateTimeUtils.instantToMicros(i), exact = true)
      case l: java.time.LocalDateTime =>
        cond(l.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L + l.getNano / 1000, exact = false)
      case _ => Anything
    }
  }
}
