package graft.sources.bi5

import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/**
 * Vectorized bi5 reader: decodes up to [[Bi5ColumnarReader.BatchRows]]
 * records at a time straight into on-heap column vectors and hands Spark a
 * [[ColumnarBatch]]. Identical semantics to the row reader (same file walk,
 * pruning, skip-corrupt, lenient dates) — only the output shape changes:
 * downstream whole-stage codegen reads the vectors directly instead of
 * pulling one InternalRow per record through an iterator.
 *
 * This is the piece that makes the scan survive scale: per-record cost drops
 * to the LZMA decode plus a handful of primitive array writes, read in place
 * from the decoded file.
 */
object Bi5ColumnarReader {
  final val BatchRows = 4096
}

class Bi5ColumnarReader(
    partition: Bi5Partition,
    opts: Bi5Options,
    required: StructType,
    filters: Array[Filter],
    store: Bi5Store)
    extends PartitionReader[ColumnarBatch] {

  import Bi5ColumnarReader.BatchRows

  private[this] val colIds = Bi5FileCursor.columnIds(required)
  private[this] val divisor = opts.priceDivisor
  private[this] val numFields = colIds.length

  private[this] val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(BatchRows, required)
      .map(_.asInstanceOf[OnHeapColumnVector])
  private[this] val batch = new ColumnarBatch(vectors.toArray[org.apache.spark.sql.vectorized.ColumnVector])

  private[this] val cursor = new Bi5FileCursor(partition, opts, filters, store)
  private[this] var current: Bi5FileCursor.OpenFile = _
  private[this] var tickerBytes: Array[Byte] = _ // cached per file, not per row

  override def next(): Boolean = {
    var row = 0
    var i = 0
    while (i < numFields) { vectors(i).reset(); i += 1 }
    while (row < BatchRows) {
      if (current != null && current.next()) {
        val f = current
        var c = 0
        while (c < numFields) {
          colIds(c) match {
            case 0 => vectors(c).putByteArray(row, tickerBytes)
            case 1 => vectors(c).putLong(row, f.tsMicros)
            case 2 => vectors(c).putDouble(row, f.askRaw / divisor)
            case 3 => vectors(c).putDouble(row, f.bidRaw / divisor)
            case 4 => vectors(c).putDouble(row, f.askVol.toDouble)
            case 5 => vectors(c).putDouble(row, f.bidVol.toDouble)
          }
          c += 1
        }
        row += 1
      } else {
        cursor.nextFile() match {
          case Some(f) =>
            current = f
            tickerBytes = f.tickerUtf8.getBytes
          case None =>
            batch.setNumRows(row)
            return row > 0
        }
      }
    }
    batch.setNumRows(row)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    cursor.close()
    batch.close()
  }
}
