package graft.sources.bi5

import java.nio.file.Files

import org.apache.spark.sql.connector.read.PartitionReader
import org.scalatest.funsuite.AnyFunSuite

/** Skip-corrupt is narrow: a file that cannot be decoded is skipped, but an
  * interrupt raised while opening one fails the read instead of passing for
  * a corrupt file. */
class Bi5FaultSpec extends AnyFunSuite {

  /** The nio store, except that opening `interrupting` throws. */
  private final class InterruptingStore(interrupting: String) extends Bi5Store {
    override def exists(path: String): Boolean = NioBi5Store.exists(path)
    override def isDirectory(path: String): Boolean = NioBi5Store.isDirectory(path)
    override def children(path: String): Seq[Bi5Store.Entry] = NioBi5Store.children(path)
    override def walkBi5Files(root: String, enterDir: String => Boolean): Bi5Store.FileWalk =
      NioBi5Store.walkBi5Files(root, enterDir)
    override def open(path: String): java.io.InputStream =
      if (path == interrupting) throw new InterruptedException(s"interrupted opening $path")
      else NioBi5Store.open(path)
    override def fileSize(path: String): Long = NioBi5Store.fileSize(path)
  }

  private def drain[T](r: PartitionReader[T])(rows: T => Int): Int =
    try {
      var n = 0
      while (r.next()) n += rows(r.get())
      n
    } finally r.close()

  test("an interrupt while opening a file propagates; garbage and empty files are still skipped") {
    val root = Files.createTempDirectory("bi5fault")
    try {
      val day = "EURUSD/2020/0/1"
      val good = Bi5TreeFixture.putHour(root, s"$day/0h_ticks.bi5", 1).toString
      val garbage = Bi5TreeFixture.put(root, s"$day/1h_ticks.bi5", Bi5TreeFixture.Garbage).toString
      val empty = Bi5TreeFixture.put(root, s"$day/2h_ticks.bi5", Array.empty).toString
      val interrupted = Bi5TreeFixture.putHour(root, s"$day/3h_ticks.bi5", 3).toString
      val opts = Bi5Options.from(Map("path" -> root.toString, "digits" -> "5").get)
      val schema = Bi5Schema.schema
      val store = new InterruptingStore(interrupted)
      def rowReader(p: Bi5Partition) = new Bi5PartitionReader(p, opts, schema, Array.empty, store)
      def columnarReader(p: Bi5Partition) = new Bi5ColumnarReader(p, opts, schema, Array.empty, store)

      val corruptOnly = Bi5Partition(Array(garbage, empty, good), walk = false)
      assert(drain(rowReader(corruptOnly))(_ => 1) === 3)
      assert(drain(columnarReader(corruptOnly))(_.numRows()) === 3)

      for (p <- Seq(
          Bi5Partition(Array(garbage, interrupted, good), walk = false),
          Bi5Partition(Array(s"$root/EURUSD"), walk = true))) {
        intercept[InterruptedException](drain(rowReader(p))(_ => 1))
        intercept[InterruptedException](drain(columnarReader(p))(_.numRows()))
        // the metadata count path opens files through the same store
        intercept[InterruptedException](new Bi5AggReader(p, opts, Seq(Bi5Agg.Count), store).get())
      }
    } finally Bi5TreeFixture.deleteTree(root)
  }
}
