package graft.sources.warc

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * `spark.read.format("warc")` — a second zero-dependency DSv2 source beside
 * the bi5 connector, covering the container a web-scraped pretraining
 * corpus actually arrives in (Common Crawl publishes `.warc.gz` where every
 * record is its own gzip member; `java.util.zip.GZIPInputStream` reads
 * concatenated members natively, so decompression needs nothing beyond the
 * JDK). Same architectural conventions as the bi5 source (eager load()-time
 * option validation, fixed schema, skip-corrupt truncation, column pruning
 * and record-level filter pushdown) — see reference
 * BI5DataSource.scala:24-50 for the registration shape both follow.
 */
class WarcDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "warc"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    WarcOptions.from(k => Option(options.get(k)))
    WarcSchema.schema
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new WarcTable(WarcOptions.from(k => Option(options.get(k))))
  }
}

/** Validated options: `path` (required), `extensions` (CSV of accepted
  * file suffixes, default ".warc,.warc.gz") and `maxFilesPerTrigger`
  * (streaming admission control, 0 = unbounded). */
final case class WarcOptions(
    path: String,
    extensions: Seq[String],
    maxFilesPerTrigger: Int)

object WarcOptions {
  def from(get: String => Option[String]): WarcOptions = {
    val path = get("path").getOrElse(
      throw new IllegalArgumentException("'path' must be specified for WARC data."))
    val exts = get("extensions").getOrElse(".warc,.warc.gz")
      .split(",").toSeq.map(_.trim.toLowerCase).filter(_.nonEmpty)
    if (exts.isEmpty)
      throw new IllegalArgumentException("'extensions' must name at least one file suffix")
    val maxFiles = get("maxFilesPerTrigger").map(_.trim) match {
      case None => 0
      case Some(s) => s.toIntOption.filter(_ >= 0).getOrElse(
        throw new IllegalArgumentException(
          "'maxFilesPerTrigger' must be a non-negative integer"))
    }
    WarcOptions(path, exts, maxFiles)
  }
}

object WarcSchema {
  /** Fixed 8-column schema; payload prunes to a byte-skip, never a read. */
  val schema: StructType = StructType(Seq(
    StructField("record_id", StringType),
    StructField("record_type", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", TimestampType),
    StructField("content_type", StringType),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("source_file", StringType, nullable = false)))
}

/** Batch-readable WARC table. */
class WarcTable(opts: WarcOptions) extends Table with SupportsRead {

  override def name(): String = s"warc(${opts.path})"

  override def schema(): StructType = WarcSchema.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(opts)
}
