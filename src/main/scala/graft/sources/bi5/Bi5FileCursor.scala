package graft.sources.bi5

import java.io.InputStream

import scala.util.control.NonFatal

import org.apache.spark.sql.sources.Filter
import org.apache.spark.unsafe.types.UTF8String

/**
 * Shared executor-side file cursor for both bi5 readers (row + columnar):
 * walks/iterates a partition's candidate files, prunes by path metadata and
 * pushed filters (planning-time and runtime alike), opens the LZMA stream,
 * drops the rows the exact filters reject ([[Bi5FilePruner.exact]]), and
 * applies the skip-corrupt rule: a NonFatal failure opening a file
 * silently advances to the next (reference BI5DataSource.scala:149-159); an
 * interrupt or a fatal JVM error propagates and fails the task.
 *
 * All filesystem access goes through the partition's [[Bi5Store]] — local
 * java.nio or Hadoop FileSystem, decided by the load path's scheme. Walk
 * mode streams paths LAZILY from the store (no subtree-sized list in task
 * memory; the first record decodes before the traversal finishes), never
 * lists a directory the filters rule out ([[Bi5FilePruner.dirFilter]] —
 * partition roots included, since they sit below the load root), and each
 * store's walk embeds its own fault contract (nio: a traversal fault ends
 * the supply — local skip-corrupt; Hadoop: FileNotFound ends the supply,
 * transient faults fail the retryable task). Owns the current decompression
 * stream AND the open walks, all released by [[close]].
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

  private[this] var currentIn: InputStream = _

  /** Advance to the next decodable file, or None when exhausted. */
  def nextFile(): Option[OpenFile] = {
    closeCurrent()
    while (files.hasNext) {
      val path = files.next()
      Bi5PathMeta.parse(path, opts.monthOffset) match {
        case Some(meta) if checks.mayMatchMeta(meta) =>
          Bi5Codec.openLzma(store, path) match {
            case Some(in) =>
              currentIn = in
              return Some(OpenFile(meta, UTF8String.fromString(meta.ticker), kept(meta, Bi5Codec.ticks(in))))
            case None => // corrupt: skip
          }
        case _ => // non-matching layout (reference throws+swallows) or pruned
      }
    }
    None
  }

  /** The file's ticks less the rows the exact filters reject. With no exact
    * filter the readers iterate the decoder directly. The check reads the
    * path's ticker and the record's own offset, so it holds whichever
    * columns the scan emits. */
  private[this] def kept(meta: Bi5PathMeta, ticks: Iterator[Bi5Codec.Tick]): Iterator[Bi5Codec.Tick] =
    if (checks.rowsNeedNoCheck) ticks
    else ticks.filter(t => checks.rowPasses(meta.ticker, meta.tsMicros(t.msOffset)))

  private[this] def closeCurrent(): Unit = {
    if (currentIn != null) {
      try currentIn.close() catch { case NonFatal(_) => }
      currentIn = null
    }
  }

  def close(): Unit = {
    closeCurrent()
    walks.foreach(w => try w.close() catch { case NonFatal(_) => })
    walks.clear()
  }
}

object Bi5FileCursor {

  /** One successfully opened file, ready to decode. */
  final case class OpenFile(
      meta: Bi5PathMeta,
      tickerUtf8: UTF8String,
      ticks: Iterator[Bi5Codec.Tick])

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
