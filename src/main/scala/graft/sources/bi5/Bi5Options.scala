package graft.sources.bi5

import org.apache.spark.sql.types._

/**
 * Validated options of the `bi5` source.
 *
 * User surface (reference README.md:25-36):
 * {{{
 * spark.read.format("bi5")
 *   .option("digits", 5)        // required, >= 0; decimal places of the pair
 *   .option("january", 0|1)     // optional, default 0; month-dir convention
 *   .load(pathToFileOrDir)
 * }}}
 *
 * Scale extensions (this engine only, default-off so the reference's
 * observable partitioning semantics stay intact):
 *  - `split=files`   : plan one input partition per bin-packed group of files
 *                      instead of one per immediate child directory — the mode
 *                      to use on a real cluster where a load root has few
 *                      children but millions of files.
 *  - `maxPartitionBytes` : target compressed bytes per partition in
 *                      `split=files` mode. When set explicitly it is honored
 *                      exactly; when defaulted (128 MiB) the planner also
 *                      shrinks the target to totalBytes / (2 x parallelism)
 *                      so small datasets still fan out across all cores.
 *  - `trustHeaders=true` : allow metadata-only COUNT(*) pushdown from the
 *                      lzma-alone header's uncompressed-size field (exact on
 *                      well-formed Dukascopy files; a corrupt body under a
 *                      valid header would over-count, hence opt-in).
 *  - `maxFilesPerTrigger`, `backfillLookbackHours` : streaming only — pacing
 *                      and late-file pickup (see [[Bi5MicroBatchStream]]).
 *
 * Error messages are verbatim observable contract
 * (reference BI5DataSource.scala:34-46, asserted at BI5DataSourceTestSuite.scala:164-214).
 */
final case class Bi5Options(
    path: String,
    digits: Int,
    monthOffset: Int,
    splitPerFile: Boolean,
    maxPartitionBytes: Long,
    maxPartitionBytesExplicit: Boolean,
    trustHeaders: Boolean,
    maxFilesPerTrigger: Int,
    backfillLookbackHours: Int = 0) {
  def priceDivisor: Double = Bi5Codec.priceDivisor(digits)
}

object Bi5Options {

  final val DefaultMaxPartitionBytes: Long = 128L * 1024 * 1024

  /** Parse + validate from a case-insensitive key lookup; throws the exact
    * reference IllegalArgumentExceptions. Called eagerly at `load()` time. */
  def from(get: String => Option[String]): Bi5Options = {
    val path = get("path").getOrElse(
      throw new IllegalArgumentException("'path' must be specified for BI5 data."))
    // Existence checked through the path's store, so `file://`/`hdfs://`/
    // `s3a://` roots validate at load() exactly like bare local paths
    if (!Bi5Store.forPath(path).exists(path)) {
      throw new IllegalArgumentException("Invalid path")
    }
    val digits = get("digits").getOrElse(
      throw new IllegalArgumentException("'digits' should be the digits for the currency")).toInt
    if (digits < 0) {
      throw new IllegalArgumentException("digits cannot be smaller than 0")
    }
    val january = get("january").getOrElse("0").toInt
    if (january < 0 || january > 1) {
      throw new IllegalArgumentException("january can only be 0 or 1")
    }
    val splitPerFile = get("split").map(_.trim.toLowerCase).getOrElse("children") match {
      case "files"    => true
      case "children" => false
      case other =>
        throw new IllegalArgumentException(s"split must be 'children' or 'files', got '$other'")
    }
    val maxBytesOpt = get("maxpartitionbytes").map(_.toLong)
    maxBytesOpt.foreach { b =>
      if (b <= 0) throw new IllegalArgumentException("maxPartitionBytes must be positive")
    }
    val trustHeaders = get("trustheaders").exists(_.trim.equalsIgnoreCase("true"))
    // 0 internally means "no limit" (the unset default); an EXPLICIT 0 is
    // rejected — a user writing 0 expects throttling, not an unpaced batch
    val maxFilesPerTriggerOpt = get("maxfilespertrigger").map(_.toInt)
    maxFilesPerTriggerOpt.foreach { v =>
      if (v <= 0) throw new IllegalArgumentException("maxFilesPerTrigger must be positive")
    }
    val maxFilesPerTrigger = maxFilesPerTriggerOpt.getOrElse(0)
    // 0 (default) keeps the Spark-file-source contract: a file landing
    // at-or-before the committed offset is skipped. N > 0 opts the stream
    // into exactly-once pickup of files published out of order up to N hours
    // behind the frontier (the offset then carries a bounded seen-set).
    val backfill = get("backfilllookbackhours").map(_.toInt).getOrElse(0)
    if (backfill < 0) {
      throw new IllegalArgumentException("backfillLookbackHours cannot be negative")
    }
    Bi5Options(
      path, digits, january, splitPerFile,
      maxBytesOpt.getOrElse(DefaultMaxPartitionBytes),
      maxPartitionBytesExplicit = maxBytesOpt.isDefined,
      trustHeaders = trustHeaders,
      maxFilesPerTrigger = maxFilesPerTrigger,
      backfillLookbackHours = backfill)
  }
}

/** The fixed 6-column tick schema (reference BI5DataSource.scala:57-66). */
object Bi5Schema {
  val schema: StructType = StructType(Seq(
    StructField("ticker", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("ask", DoubleType, nullable = false),
    StructField("bid", DoubleType, nullable = false),
    StructField("ask_volume", DoubleType, nullable = false),
    StructField("bid_volume", DoubleType, nullable = false)
  ))
}
