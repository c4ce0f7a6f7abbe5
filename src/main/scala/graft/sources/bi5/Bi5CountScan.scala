package graft.sources.bi5

import java.io.DataInputStream

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}

/** Aggregates the bi5 source can answer from metadata + boundary decodes. */
sealed trait Bi5Agg
object Bi5Agg {
  /** COUNT(*) from the lzma header's uncompressed-size field. */
  case object Count extends Bi5Agg
  /** MIN(ts): decode only the earliest-hour file group. */
  case object MinTs extends Bi5Agg
  /** MAX(ts): decode only the latest-hour file group. */
  case object MaxTs extends Bi5Agg
}

/**
 * Metadata-driven aggregate scan (COUNT(*) / MIN(ts) / MAX(ts), no grouping).
 *
 * COUNT(*): the `.lzma`-alone header of every `.bi5` file carries the
 * uncompressed size (bytes 5-12, little-endian), so the record count is
 * `size / 20` without decompressing anything — verified exact against all
 * golden fixtures. Unknown/implausible headers fall back to decode-counting
 * just that file.
 *
 * MIN/MAX(ts): every record's timestamp is its file's path-derived hour base
 * plus an in-record offset in [0, 1h) (the same layout invariant the
 * ticker/ts file pruning rests on — Bi5FilePruner). Under that invariant the
 * global minimum lives in the earliest-hour file group and the maximum in
 * the latest-hour group, so only those files are decoded: two file decodes
 * instead of a full-corpus scan. Empty/corrupt boundary groups fall back to
 * the next hour group in order.
 *
 * Gated behind `.option("trustHeaders", true)`: a corrupt file violating the
 * header contract (count) or the offset invariant (min/max) would diverge
 * from the reference's decode-everything answer, so the default stays
 * decode-exact.
 *
 * Partial-aggregate contract: each partition emits one row of partial
 * results in the pushed aggregation's column order; Spark's final
 * aggregation sums the counts and min/maxes the bounds.
 */
class Bi5AggScan(opts: Bi5Options, aggs: Seq[Bi5Agg], store: Bi5Store) extends Scan with Batch {

  override def readSchema(): StructType = StructType(aggs.map {
    case Bi5Agg.Count => StructField("count(*)", LongType, nullable = false)
    case Bi5Agg.MinTs => StructField("min(ts)", TimestampType, nullable = true)
    case Bi5Agg.MaxTs => StructField("max(ts)", TimestampType, nullable = true)
  })

  override def toBatch: Batch = this

  override def description(): String = {
    val parts = aggs.map {
      case Bi5Agg.Count => "COUNT(*) via lzma headers"
      case Bi5Agg.MinTs => "MIN(ts) via earliest-hour decode"
      case Bi5Agg.MaxTs => "MAX(ts) via latest-hour decode"
    }
    s"bi5 path=${opts.path} pushedAggregate=[${parts.mkString(", ")}]"
  }

  // header reads / boundary decodes are cheap; per-child planning is plenty
  override def planInputPartitions(): Array[InputPartition] =
    Bi5Scan.perChildPartitions(opts.path, store)

  override def createReaderFactory(): PartitionReaderFactory =
    new Bi5AggReaderFactory(opts, aggs, store)
}

class Bi5AggReaderFactory(opts: Bi5Options, aggs: Seq[Bi5Agg], store: Bi5Store)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new Bi5AggReader(partition.asInstanceOf[Bi5Partition], opts, aggs, store)
}

class Bi5AggReader(partition: Bi5Partition, opts: Bi5Options, aggs: Seq[Bi5Agg], store: Bi5Store)
    extends PartitionReader[InternalRow] {

  private[this] var emitted = false

  /** Uncompressed size from the 13-byte lzma-alone header, or -1 when the
    * header is implausible (garbage bytes would otherwise parse as a huge
    * bogus size — e.g. ASCII text yields ~4e17). Sanity gates: valid lzma
    * props byte, whole 20-byte records, and a sane compression ratio. */
  private def headerSize(path: String): Long = {
    val in = new DataInputStream(store.open(path))
    try {
      val header = new Array[Byte](13)
      in.readFully(header)
      if ((header(0) & 0xff) >= 225) return -1L // props = lc + lp*9 + pb*45 < 225
      var size = 0L
      var i = 12
      while (i >= 5) { size = (size << 8) | (header(i) & 0xffL); i -= 1 }
      val compressed = store.fileSize(path)
      val plausible = size >= 0 &&
        size % Bi5Codec.RecordBytes == 0 &&
        size <= compressed * 2000 // LZMA ratios stay far below this
      if (plausible) size else -1L
    } finally in.close()
  }

  /** Decode one file's tick timestamps (micros); empty when it cannot be
    * opened. Materialized so the stream closes here (boundary files are
    * small). */
  private def decodeTs(path: String, meta: Bi5PathMeta): Iterator[Long] =
    Bi5Codec.openLzma(store, path) match {
      case Some(in) =>
        try Bi5Codec.ticks(in).map(t => meta.baseEpochMicros + t.msOffset * 1000L).toArray.iterator
        finally try in.close() catch { case NonFatal(_) => }
      case None => Iterator.empty
    }

  private lazy val metaFiles: Seq[(String, Bi5PathMeta)] =
    Bi5FileLister.partitionFiles(partition, store)
      .flatMap(p => Bi5PathMeta.parse(p, opts.monthOffset).map(p -> _))

  private def countFiles(): Long = {
    var total = 0L
    metaFiles.foreach { case (path, _) =>
      val size = try headerSize(path) catch { case NonFatal(_) => -1L }
      if (size >= 0) {
        total += size / Bi5Codec.RecordBytes
      } else {
        // unknown/unreadable size: decode-count this one file exactly
        // (a file that cannot be opened is corrupt and contributes 0)
        Bi5Codec.openLzma(store, path).foreach { in =>
          try total += Bi5Codec.ticks(in).size
          finally try in.close() catch { case NonFatal(_) => }
        }
      }
    }
    total
  }

  /** Boundary bound: walk hour groups in base-timestamp order, decode each
    * group's files, return the bound of the first group that yields any
    * record (null when nothing in the partition decodes). */
  private def boundTs(ascending: Boolean): java.lang.Long = {
    val groups = metaFiles.groupBy(_._2.baseEpochMicros).toSeq
      .sortBy(g => if (ascending) g._1 else -g._1)
    groups.foreach { case (_, files) =>
      var best: java.lang.Long = null
      files.foreach { case (p, m) =>
        decodeTs(p, m).foreach { v =>
          if (best == null || (if (ascending) v < best else v > best)) best = v
        }
      }
      if (best != null) return best
    }
    null
  }

  override def next(): Boolean = !emitted && { emitted = true; true }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(aggs.length)
    aggs.zipWithIndex.foreach {
      case (Bi5Agg.Count, i) => row.setLong(i, countFiles())
      case (Bi5Agg.MinTs, i) =>
        val v = boundTs(ascending = true)
        if (v == null) row.setNullAt(i) else row.setLong(i, v.longValue())
      case (Bi5Agg.MaxTs, i) =>
        val v = boundTs(ascending = false)
        if (v == null) row.setNullAt(i) else row.setLong(i, v.longValue())
    }
    row
  }

  override def close(): Unit = ()
}
