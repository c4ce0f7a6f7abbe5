package perfbench

import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What an operation produced: the rows it delivered, counted as they were
  * consumed, or the rows themselves when the operation collects. */
sealed trait Output
final case class Counted(rows: Long) extends Output
final case class Collected(rows: Array[Row]) extends Output

/**
 * One benchmark operation. `build` makes the DataFrame through the
 * library's public surface; the runner plans it, executes it, and hands the
 * output to `check`, which returns a description of what is wrong, if
 * anything.
 */
final case class Op(
    label: String,
    build: SparkSession => DataFrame,
    collect: Boolean,
    check: Output => Option[String])

/** A workload: its fixture, its warm-up and its stream of operations. The
  * run loop stops only between passes; a pass is `passSize` operations. */
trait Workload {
  def name: String
  /** Builds the fixture under `dir`. Called several times per run, each in
    * a fresh directory; the last build is the one the operations use. */
  def build(dir: Path, seed: Long): Unit
  def warmUp(spark: SparkSession): Unit
  def ops(seed: Long): Iterator[Op]
  def passSize: Int = 1
  /** Passes timed even when they outlast the requested duration. */
  def minPasses: Int = 1
  /** Untimed checks after the timed loop; they count as attempted ops. */
  def finalChecks: Seq[Op] = Nil
  /** The bi5 tree the listing probe walks, if the workload has one. */
  def tree: Option[(Path, TreeSpec)] = None
  /** Whether the operations' rows measure bi5 decode throughput. */
  def bi5Rows: Boolean = false
}

object Workloads {

  val Tickers: Seq[String] = Seq("EURUSD", "GBPUSD", "USDCHF", "AUDUSD")
  val FirstDay: LocalDate = LocalDate.of(2024, 1, 1)

  /** Few large files: decode dominates. */
  val ScanSpec: TreeSpec = TreeSpec(Tickers, FirstDay, days = 4, ticksPerFile = 5000)
  /** Many small files: listing, pruning and per-query fixed cost dominate. */
  val LookupSpec: TreeSpec = TreeSpec(Tickers, FirstDay, days = 168, ticksPerFile = 100)

  def read(spark: SparkSession, root: Path, spec: TreeSpec, splitFiles: Boolean): DataFrame = {
    val r = spark.read.format("bi5").option("digits", spec.digits.toLong)
    (if (splitFiles) r.option("split", "files") else r).load(root.toString)
  }

  def expectRows(want: Long): Output => Option[String] = {
    case Counted(n) if n == want => None
    case Counted(n) => Some(s"delivered $n rows, expected $want")
    case Collected(rs) => Some(s"collected ${rs.length} rows where a count was expected")
  }

  def expectTally(want: Tally, digits: Int): Output => Option[String] = {
    case Collected(rs) =>
      val got = tallyOf(rs, digits)
      if (got == want) None else Some(s"checksum $got, expected $want")
    case Counted(n) => Some(s"counted $n rows where collected rows were expected")
  }

  /** The checksum of collected `format("bi5")` rows. */
  def tallyOf(rows: Array[Row], digits: Int): Tally = {
    val scale = math.pow(10, digits)
    rows.foldLeft(Tally.Zero) { (acc, r) =>
      val ms = r.get(1) match {
        case t: java.sql.Timestamp => t.getTime
        case i: Instant => i.toEpochMilli
        case other => throw new IllegalStateException(s"unexpected ts value $other")
      }
      acc + Tally(1, ms % Tally.TsModulus,
        math.round(r.getDouble(2) * scale), math.round(r.getDouble(3) * scale),
        (r.getDouble(4) * 16).toLong, (r.getDouble(5) * 16).toLong, Tally.crc(r.getString(0)))
    }
  }

  /** `--corrupt-expected 1` adds one row to every expected answer, so a
    * run shows that its checks catch a wrong answer. */
  def skew(opts: Map[String, String]): Long = if (opts.get("corrupt-expected").contains("1")) 1 else 0

  def apply(name: String, opts: Map[String, String]): Workload = name match {
    case "bi5-scan" => new ScanWorkload(skew(opts))
    case "bi5-lookup" => new LookupWorkload(skew(opts))
    case "query-suite" => new SuiteWorkload(opts)()
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Full 6-column scans of a tree of large hour files, alternating the
  * default per-child partitioning with `split=files`. */
final class ScanWorkload(skew: Long = 0) extends Workload {
  import Workloads._
  val name = "bi5-scan"
  private val spec = ScanSpec
  private var root: Path = _
  private var tally: Tally = _

  def build(dir: Path, seed: Long): Unit = {
    root = dir.resolve("ticks")
    val t = Gen.writeTree(root, seed, spec, Runtime.getRuntime.availableProcessors)._1
    tally = t.copy(rows = t.rows + skew)
  }

  private def scan(split: Boolean): Op =
    Op(if (split) "scan:split=files" else "scan:default",
      s => read(s, root, spec, split), collect = false, expectRows(tally.rows))

  /** Eight scans: after them the first and second halves of the timed
    * scans have the same median time. */
  def warmUp(spark: SparkSession): Unit = (0 until 8).foreach(i => Runner.quiet(spark, scan(i % 2 == 1)))

  def ops(seed: Long): Iterator[Op] = Iterator.from(0).map(i => scan(i % 2 == 1))

  override def finalChecks: Seq[Op] = Seq(false, true).map { split =>
    Op(s"checksum:${if (split) "split=files" else "default"}",
      s => read(s, root, spec, split).selectExpr(Tally.sql(spec.digits): _*),
      collect = true, {
        case Collected(Array(r)) =>
          val got = Tally.fromRow(r)
          if (got == tally) None else Some(s"checksum $got, expected $tally")
        case other => Some(s"unexpected checksum output $other")
      })
  }

  override def tree: Option[(Path, TreeSpec)] = Some((root, spec))
  override def bi5Rows: Boolean = true
}

/** Seeded point reads: one ticker, a two-hour `ts` window starting at a
  * random minute, default options, rows collected to the driver. */
final class LookupWorkload(skew: Long = 0) extends Workload {
  import Workloads._
  val name = "bi5-lookup"
  private val spec = LookupSpec
  private var root: Path = _
  private var seed = 0L
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  def build(dir: Path, seed: Long): Unit = {
    root = dir.resolve("ticks")
    this.seed = seed
    Gen.writeTree(root, seed, spec, Runtime.getRuntime.availableProcessors)
  }

  def lookup(k: Int, h: Int, minute: Int): Op = {
    val ticker = spec.tickers(k)
    val from = spec.hourMs(h) + minute * 60000L
    val until = from + 2 * 3600000L
    // the window overlaps hours h, h+1 and h+2; regenerate them for the answer
    val want = (h to h + 2).foldLeft(Tally.Zero) { (acc, hh) =>
      acc + Gen.tally(ticker, spec.hourMs(hh), Gen.hour(seed, spec, k, hh), from, until)
    }.pipe(t => t.copy(rows = t.rows + skew))
    val (lo, hi) = (fmt.format(Instant.ofEpochMilli(from)), fmt.format(Instant.ofEpochMilli(until)))
    Op(s"lookup:$ticker@$lo",
      s => read(s, root, spec, splitFiles = false)
        .where(s"ticker = '$ticker' AND ts >= TIMESTAMP '$lo' AND ts < TIMESTAMP '$hi'"),
      collect = true, expectTally(want, spec.digits))
  }

  /** Twenty lookups. After them the first half of the timed lookups is
    * still about a tenth slower than the second (with twelve it was up to
    * 1.6 times), the same in every run; more would lengthen every run. */
  def warmUp(spark: SparkSession): Unit =
    (0 until 20).foreach(i => Runner.quiet(spark, lookup(i % spec.tickers.size, 48 * i + i % 24, i % 60)))

  def ops(seed: Long): Iterator[Op] = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    Iterator.continually(lookup(
      rnd.nextInt(spec.tickers.size), rnd.nextInt(spec.hours - 2), rnd.nextInt(60)))
  }

  override def tree: Option[(Path, TreeSpec)] = Some((root, spec))
}

/**
 * The library's queries (`graft.SparkEntry.queries`) over the parquet
 * tables bundled with the benchmark, each checked against the row count
 * DuckDB gives for its oracle SQL. The seed permutes the order of every
 * pass. By default the suite is every eighteenth query in name order, which is
 * as much as one run can hold; `--queries all` runs all of them.
 */
final class SuiteWorkload(opts: Map[String, String])(
    data: Path = SuiteWorkload.DataDir, goldenFile: Path = SuiteWorkload.GoldenFile)
    extends Workload {
  val name = "query-suite"
  private val golden: Map[String, Long] =
    Golden.load(goldenFile).map { case (k, v) => k -> (v + Workloads.skew(opts)) }
  private val all = graft.SparkEntry.queries.toSeq.sortBy(_._1)
  private val selected: Seq[(String, (SparkSession, String) => DataFrame)] =
    opts.getOrElse("queries", "stride") match {
      case "all" => all
      case "stride" => all.zipWithIndex.collect { case (q, i) if i % SuiteWorkload.Stride == 0 => q }
      case list =>
        val want = list.split(',').map(_.trim).toSet
        val unknown = want -- all.map(_._1)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        all.filter(q => want(q._1))
    }
  private var sfDir: String = _

  def build(dir: Path, seed: Long): Unit = {
    // a private copy per run: no query can leave anything beside the tables
    // that a later run would see
    val out = Files.createDirectories(dir.resolve("sf"))
    Files.list(data).forEach(p => Files.copy(p, out.resolve(p.getFileName)))
    sfDir = out.toString
  }

  private def query(name: String, fn: (SparkSession, String) => DataFrame): Op =
    Op(name, s => fn(s, sfDir), collect = false, Golden.check(golden, name))

  /** One untimed pass over the selected queries, in name order. Cold, the
    * first queries of a pass pay for warming the JVM (the first one about
    * 1.7 times its warm time, the effect fading over some 20 queries), and
    * which queries those are would depend on the seed's order. */
  def warmUp(spark: SparkSession): Unit =
    selected.foreach { case (n, fn) => Runner.quiet(spark, query(n, fn)) }

  def ops(seed: Long): Iterator[Op] = Iterator.from(0).flatMap { pass =>
    new scala.util.Random(seed * 1000003L + pass).shuffle(selected)
      .map { case (n, fn) => query(n, fn) }
  }

  override def passSize: Int = selected.size
  /** Two passes, so that every query is timed twice in a run and the suite's
    * percentiles rest on twice as many samples. */
  override def minPasses: Int = 2
}

object SuiteWorkload {
  /** The bundled tables and their DuckDB row counts, from the checkout root. */
  val DataDir: Path = java.nio.file.Paths.get("perfbench/data/sf0.001")
  val GoldenFile: Path = java.nio.file.Paths.get("perfbench/golden/sf0.001.json")

  /** One query in this many, by name order, makes the default suite. */
  final val Stride = 18
}

/** Golden row counts, one `"query": rows` pair per line of a JSON object. */
object Golden {
  private val Pair = "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r

  def load(p: Path): Map[String, Long] = {
    if (!Files.exists(p)) Map.empty
    else Pair.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  /** A query's output must have the row count DuckDB gives for its oracle. */
  def check(golden: Map[String, Long], name: String): Output => Option[String] = {
    case Counted(n) => golden.get(name) match {
      case Some(g) if g == n => None
      case Some(g) => Some(s"delivered $n rows, the DuckDB oracle gives $g")
      case None => Some("no golden row count for this query")
    }
    case other => Some(s"unexpected output $other")
  }
}
