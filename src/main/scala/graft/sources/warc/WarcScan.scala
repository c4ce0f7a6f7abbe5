package graft.sources.warc

import java.util.zip.GZIPInputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.bi5.Bi5Store
import graft.sources.warc.WarcCodec.{WarcHeader, WarcRecord}

/**
 * Scan pipeline of the warc source. Scale shape for a Common-Crawl-sized
 * corpus (100 TB = ~100k gzip segment files):
 *
 *  - ONE input partition per file — gzip streams are not split-points, so
 *    the file is the parallel unit; real crawls ship tens of thousands of
 *    ~1 GB segments per dump, which out-fans any cluster. Listing walks
 *    the same [[Bi5Store]] filesystem seam as the tick connector (java.nio
 *    locally, Hadoop FileSystem for s3a://... URIs).
 *  - Column pruning reaches the BYTE level: a query that never reads
 *    `payload` skips Content-Length bytes per record instead of
 *    allocating them (on gzip that still decompresses, but allocation and
 *    row width drop to the header fields).
 *  - `record_type` filters (EqualTo/In) push into the reader and are
 *    applied from the header alone — a `WHERE record_type = 'response'`
 *    scan (the standard Common Crawl shape: ~1/3 of records) never
 *    materializes request/metadata payloads at all. Pushed filters are
 *    also returned as residual, so Spark re-checking them stays correct
 *    even if a future reader change widens emission.
 *  - Skip-corrupt parity with the bi5 connector: a malformed record
 *    truncates that FILE's remaining contribution and the scan moves to
 *    the next file — retention-deleted or half-uploaded segments cost
 *    rows, never the job.
 */
class WarcScanBuilder(opts: WarcOptions)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = WarcSchema.schema
  private var pushedTypes: Option[Set[String]] = None
  private var pushedArr: Array[Filter] = Array.empty

  private val store: Bi5Store = Bi5Store.forPath(opts.path)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = filters.collect {
      case f @ EqualTo("record_type", v: String) => (f, Set(v))
      case f @ In("record_type", vs) if vs.forall(_.isInstanceOf[String]) =>
        (f, vs.map(_.asInstanceOf[String]).toSet)
      case f @ IsNotNull("record_type") => (f, null: Set[String])
    }
    val sets = accepted.map(_._2).filter(_ != null)
    if (sets.nonEmpty) pushedTypes = Some(sets.reduce(_ intersect _))
    pushedArr = accepted.map(_._1)
    filters // everything residual: Spark re-applies (exactness belt+braces)
  }

  override def pushedFilters(): Array[Filter] = pushedArr

  override def build(): Scan = new WarcScan(opts, store, required, pushedTypes)
}

class WarcScan(
    opts: WarcOptions,
    store: Bi5Store,
    required: StructType,
    typeKeep: Option[Set[String]])
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  /** ONE listing per scan, shared by statistics and partition planning
    * (AQE may consult statistics more than once). */
  private lazy val listed: Vector[(String, Long)] =
    WarcLister.list(store, opts.path, opts.extensions)

  /** On-disk (compressed) byte total of the matched files — a deliberate
    * UNDER-estimate for gzip (decompressed rows are larger), which errs
    * toward broadcasting a small crawl side; row count is unknowable
    * without parsing, so only sizeInBytes is reported. */
  override def estimateStatistics(): Statistics = {
    val total = listed.map(_._2).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(total)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }

  override def description(): String = {
    val t = typeKeep.map(s => s.toSeq.sorted.mkString("record_type IN (", ",", ")"))
      .getOrElse("none")
    s"warc(${opts.path}) pushedTypeFilter=[$t]"
  }

  /** One partition per file: gzip streams are not split-points. */
  override def planInputPartitions(): Array[InputPartition] =
    listed.map { case (f, _) => WarcFilePartition(f): InputPartition }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(store, required, typeKeep)

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new WarcMicroBatchStream(
      opts, required, typeKeep, opts.maxFilesPerTrigger, store)
}

final case class WarcFilePartition(file: String) extends InputPartition

object WarcFilePartition {
  /** Open `p`'s file for record parsing: `.gz` through the JDK's
    * GZIPInputStream (which reads concatenated members), anything else
    * buffered as is. */
  def openRecordStream(store: Bi5Store, p: WarcFilePartition): java.io.InputStream = {
    val raw = store.open(p.file)
    try {
      if (p.file.toLowerCase.endsWith(".gz")) new GZIPInputStream(raw, 64 * 1024)
      else new java.io.BufferedInputStream(raw, 64 * 1024)
    } catch {
      case e: Throwable =>
        try raw.close() catch { case _: Exception => () }
        throw e
    }
  }
}

class WarcReaderFactory(
    store: Bi5Store,
    required: StructType,
    typeKeep: Option[Set[String]])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WarcPartitionReader(
      store, partition.asInstanceOf[WarcFilePartition], required.fieldNames, typeKeep)

  // Header-only scans (payload pruned away) — the dominant crawl-audit
  // access pattern — emit ColumnarBatches: fixed-width-ish header fields
  // decode straight into on-heap vectors and Spark's per-row reader
  // pipeline disappears (the Bi5ColumnarReader discipline). Payload-bearing
  // scans keep the row reader: one multi-MB binary per row has no
  // vectorization win and batches would hold BatchRows payloads at once.
  override def supportColumnarReads(partition: InputPartition): Boolean =
    !required.fieldNames.contains("payload")

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new WarcColumnarReader(
      store, partition.asInstanceOf[WarcFilePartition], required, typeKeep)
}

object WarcColumnarReader {
  final val BatchRows = 4096
}

/**
 * Vectorized header-only WARC reader: identical walk/filter/skip-corrupt
 * semantics to [[WarcPartitionReader]] (same [[WarcCodec.RecordIterator]],
 * payload bytes SKIPPED, never allocated) — only the output shape changes.
 */
class WarcColumnarReader(
    store: Bi5Store,
    part: WarcFilePartition,
    required: StructType,
    typeKeep: Option[Set[String]])
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import WarcColumnarReader.BatchRows

  private[this] val fieldNames = required.fieldNames
  private[this] val numFields = fieldNames.length
  private[this] val fileBytes = part.file.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private[this] val vectors =
    org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
      .allocateColumns(BatchRows, required)
  private[this] val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
    vectors.toArray[org.apache.spark.sql.vectorized.ColumnVector])

  private[this] var in: java.io.InputStream = _
  private[this] var it: Iterator[WarcRecord] = _

  private def ensureOpen(): Unit = if (it == null) {
    it =
      try {
        in = WarcFilePartition.openRecordStream(store, part)
        val keep: WarcHeader => Boolean = typeKeep match {
          case Some(ts) => h => h.recordType != null && ts.contains(h.recordType)
          case None     => _ => true
        }
        new WarcCodec.RecordIterator(in, keep, wantPayload = false)
      } catch {
        case scala.util.control.NonFatal(_) =>
          close(); Iterator.empty // unopenable/garbage-gzip file: zero rows
      }
  }

  private def hasMore: Boolean =
    try it.hasNext
    catch { case scala.util.control.NonFatal(_) => false } // mid-file garbage

  private def putStr(
      v: org.apache.spark.sql.execution.vectorized.OnHeapColumnVector,
      row: Int, s: String): Unit =
    if (s == null) v.putNull(row)
    else v.putByteArray(row, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  override def next(): Boolean = {
    ensureOpen()
    var i = 0
    while (i < numFields) { vectors(i).reset(); i += 1 }
    var row = 0
    while (row < BatchRows && hasMore) {
      val h = it.next().header
      var c = 0
      while (c < numFields) {
        val v = vectors(c)
        fieldNames(c) match {
          case "record_id"      => putStr(v, row, h.recordId)
          case "record_type"    => putStr(v, row, h.recordType)
          case "target_uri"     => putStr(v, row, h.targetUri)
          case "warc_date" =>
            if (h.dateMicros == null) v.putNull(row)
            else v.putLong(row, h.dateMicros)
          case "content_type"   => putStr(v, row, h.contentType)
          case "content_length" => v.putLong(row, h.contentLength)
          case "source_file"    => v.putByteArray(row, fileBytes)
          case other => throw new IllegalStateException(s"unknown WARC column $other")
        }
        c += 1
      }
      row += 1
    }
    batch.setNumRows(row)
    row > 0
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch

  override def close(): Unit = {
    if (in != null) { try in.close() catch { case _: Exception => () }; in = null }
    batch.close()
  }
}

class WarcPartitionReader(
    store: Bi5Store,
    part: WarcFilePartition,
    fieldNames: Array[String],
    typeKeep: Option[Set[String]])
    extends PartitionReader[InternalRow] {

  private val wantPayload = fieldNames.contains("payload")
  private val fileUtf8 = UTF8String.fromString(part.file)

  // open lazily so a file that fails to open contributes zero rows
  // (skip-corrupt) without failing the task
  private var in: java.io.InputStream = _
  private var it: Iterator[WarcRecord] = _
  private var row: WarcRecord = _

  private def ensureOpen(): Unit = if (it == null) {
    it =
      try {
        in = WarcFilePartition.openRecordStream(store, part)
        val keep: WarcHeader => Boolean = typeKeep match {
          case Some(ts) => h => h.recordType != null && ts.contains(h.recordType)
          case None     => _ => true
        }
        new WarcCodec.RecordIterator(in, keep, wantPayload)
      } catch {
        case scala.util.control.NonFatal(_) =>
          close(); Iterator.empty // unopenable/garbage-gzip file: zero rows
      }
  }

  override def next(): Boolean = {
    ensureOpen()
    val has =
      try it.hasNext
      catch { case scala.util.control.NonFatal(_) => false } // mid-file garbage gzip
    if (has) row = it.next()
    has
  }

  override def get(): InternalRow = {
    val h = row.header
    val r = new GenericInternalRow(fieldNames.length)
    var i = 0
    while (i < fieldNames.length) {
      r.update(i, fieldNames(i) match {
        case "record_id"      => UTF8String.fromString(h.recordId)
        case "record_type"    => UTF8String.fromString(h.recordType)
        case "target_uri"     => UTF8String.fromString(h.targetUri)
        case "warc_date"      => h.dateMicros
        case "content_type"   => UTF8String.fromString(h.contentType)
        case "content_length" => h.contentLength
        case "payload"        => row.payload
        case "source_file"    => fileUtf8
        case other => throw new IllegalStateException(s"unknown WARC column $other")
      })
      i += 1
    }
    r
  }

  override def close(): Unit = {
    if (in != null) { try in.close() catch { case _: Exception => () }; in = null }
  }
}
