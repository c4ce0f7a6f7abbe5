package graft.sources.bi5

import scala.util.control.NonFatal

import org.apache.spark.sql.sources.Filter
import org.apache.spark.unsafe.types.UTF8String

/**
 * Shared executor-side file cursor for both bi5 readers (row + columnar),
 * which serve batch scans and the stream alike: walks/iterates a
 * partition's candidate files, prunes by path metadata and pushed filters
 * (planning-time and runtime alike), decodes each remaining file whole
 * ([[Bi5Codec.decodeFile]]) and hands the readers its records in place,
 * less the rows the exact filters reject ([[Bi5FilePruner.exact]]).
 *
 * Fault model ([[Bi5Codec]]): a file that cannot be read or has an invalid
 * header yields no records, and a corrupt or truncated one yields the
 * complete records decoded before the fault (reference
 * BI5DataSource.scala:149-159,166-186); NonFatal failures only, so an
 * interrupt or a fatal JVM error propagates and fails the task.
 *
 * All filesystem access goes through the partition's [[Bi5Store]] — local
 * java.nio or Hadoop FileSystem, decided by the load path's scheme. Walk
 * mode streams paths LAZILY from the store (no subtree-sized list in task
 * memory; the first record decodes before the traversal finishes), never
 * lists a directory the filters rule out ([[Bi5FilePruner.Checks.dirFilter]]
 * — partition roots included, since they sit below the load root), and each
 * store's walk embeds its own fault contract (nio: a traversal fault ends
 * the supply — local skip-corrupt; Hadoop: FileNotFound ends the supply,
 * transient faults fail the retryable task). A file is read and closed
 * within [[nextFile]]; the cursor owns only the open walks, released by
 * [[close]].
 *
 * Memory per task: one file's compressed bytes while it decodes, and the
 * decoded bytes of the file being read (the previous file's until the next
 * one replaces it) — each capped at [[Bi5Lzma.MaxBytes]]. Tick data
 * decodes to about 4x its compressed size: about 100 KB for a 5,000-tick
 * hour.
 */
final class Bi5FileCursor(
    partition: Bi5Partition,
    opts: Bi5Options,
    filters: Array[Filter],
    store: Bi5Store) {

  import Bi5FileCursor.OpenFile

  private[this] val walks = scala.collection.mutable.ArrayBuffer.empty[Bi5Store.FileWalk]

  private[this] val checks = new Bi5FilePruner.Checks(filters)

  private[this] val files: Iterator[String] =
    if (partition.walk) {
      val enterDir = checks.dirFilter(opts.monthOffset)
      partition.roots.iterator.filter(enterDir).flatMap { root =>
        val w = store.walkBi5Files(root, enterDir)
        walks += w
        w.files.map(_._1)
      }
    } else {
      partition.roots.iterator
    }

  /** The next file that passes the path checks, decoded, or None when
    * exhausted. */
  def nextFile(): Option[OpenFile] = {
    while (files.hasNext) {
      val path = files.next()
      Bi5PathMeta.parse(path, opts.monthOffset) match {
        case Some(meta) if checks.mayMatchMeta(meta) =>
          return Some(new OpenFile(meta, Bi5Codec.decodeFile(store, path), checks))
        case _ => // non-matching layout (reference throws+swallows) or pruned
      }
    }
    None
  }

  def close(): Unit = {
    walks.foreach(w => try w.close() catch { case NonFatal(_) => })
    walks.clear()
  }
}

object Bi5FileCursor {

  /** One decoded file, read in place: [[next]] steps to the next record
    * the exact filters keep, and the accessors read that record. The check
    * reads the path's ticker and the record's own offset, so it holds
    * whichever columns the scan emits; with no exact filter every record is
    * kept. */
  final class OpenFile private[Bi5FileCursor] (
      val meta: Bi5PathMeta,
      decoded: Array[Byte],
      checks: Bi5FilePruner.Checks) {

    val tickerUtf8: UTF8String = UTF8String.fromString(meta.ticker)

    private[this] val end = decoded.length - decoded.length % Bi5Codec.RecordBytes
    private[this] var p = -Bi5Codec.RecordBytes

    /** Step to the next kept record; false once the file is exhausted. */
    def next(): Boolean = {
      p += Bi5Codec.RecordBytes
      if (!checks.rowsNeedNoCheck) {
        while (p < end && !checks.rowPasses(meta.ticker, tsMicros)) p += Bi5Codec.RecordBytes
      }
      p < end
    }

    def tsMicros: Long = meta.tsMicros(Bi5Codec.msOffset(decoded, p))
    def askRaw: Int = Bi5Codec.askRaw(decoded, p)
    def bidRaw: Int = Bi5Codec.bidRaw(decoded, p)
    def askVol: Float = Bi5Codec.askVol(decoded, p)
    def bidVol: Float = Bi5Codec.bidVol(decoded, p)
  }

  /** Pruned-schema field -> fixed column ordinal used by both readers. */
  def columnIds(required: org.apache.spark.sql.types.StructType): Array[Int] =
    required.fields.map { f =>
      f.name match {
        case "ticker"     => 0
        case "ts"         => 1
        case "ask"        => 2
        case "bid"        => 3
        case "ask_volume" => 4
        case "bid_volume" => 5
        case other => throw new IllegalArgumentException(s"Unknown bi5 column: $other")
      }
    }
}
