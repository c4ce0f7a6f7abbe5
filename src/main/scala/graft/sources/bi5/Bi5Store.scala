package graft.sources.bi5

import java.io.InputStream

import scala.util.control.NonFatal

/**
 * Filesystem seam of the bi5 source. The reference walks the local
 * filesystem with `Files.walk` (reference BI5DataSource.scala:103-109) —
 * faithful for local/NFS trees, but a 100 TB tick archive lives on
 * S3/HDFS/GCS. Every listing/open in the source goes through this trait:
 *
 *  - bare paths (`/data/ticks`) use [[NioBi5Store]] — java.nio, identical
 *    behavior (and performance) to the reference's local contract;
 *  - URI paths (`file://`, `hdfs://`, `s3a://`, …) use [[HadoopBi5Store]] —
 *    Hadoop `FileSystem`, resolved per scheme from the session's Hadoop
 *    configuration, which carries credentials/endpoints the user set in
 *    `spark.hadoop.*`.
 *
 * Instances are created DRIVER-side (where the active session's Hadoop conf
 * is in scope) and serialized into partition reader factories, so executors
 * open files through the same store — the conf rides along via
 * [[SerializableHadoopConf]].
 */
trait Bi5Store extends Serializable {

  def exists(path: String): Boolean

  def isDirectory(path: String): Boolean

  /** Immediate children of a directory (files and dirs), unsorted. */
  def children(path: String): Seq[Bi5Store.Entry]

  /**
   * LAZY recursive walk over the regular `.bi5` files under root, as
   * (path, size) in pre-order; the root itself when it is a plain `.bi5`
   * file. Files stream out as the traversal advances (no subtree-sized
   * materialization; the first row decodes before the walk completes). The
   * caller owns [[Bi5Store.FileWalk.close]].
   *
   * `enterDir` is asked about every directory strictly BELOW root; a
   * directory it rejects is never listed, so no file under it is returned.
   * The root itself is never judged — a load root's own name says nothing
   * about the files under it (`/data/2024` may hold `EURUSD/2024/…`).
   *
   * Fault contract differs by store: [[NioBi5Store]] ends the supply on any
   * traversal fault (the reference's local skip-corrupt contract — a dir
   * deleted mid-walk is retention, not an error); [[HadoopBi5Store]] ends it
   * only on FileNotFound (deleted-while-listing) and PROPAGATES transient
   * faults (throttling, auth, network), because silently truncating an
   * object-store listing turns a retryable RPC failure into missing data.
   */
  def walkBi5Files(root: String, enterDir: String => Boolean = Bi5Store.EveryDir): Bi5Store.FileWalk

  /** [[walkBi5Files]] drained and closed: the STRICT form used by
    * driver-side planning and listing, with the same fault contract (a
    * fault that ends the walk yields the partial accumulation). */
  def listBi5Files(root: String, enterDir: String => Boolean = Bi5Store.EveryDir): Seq[(String, Long)] = {
    val w = walkBi5Files(root, enterDir)
    try w.files.toVector
    finally w.close()
  }

  def open(path: String): InputStream

  def fileSize(path: String): Long
}

object Bi5Store {

  final case class Entry(path: String, isDir: Boolean, size: Long)

  /** The directory predicate that prunes nothing. */
  val EveryDir: String => Boolean = _ => true

  /** A lazy (path, size) file traversal plus the handle to release its
    * resources. */
  trait FileWalk extends AutoCloseable {
    def files: Iterator[(String, Long)]
    override def close(): Unit
  }

  /** Case-insensitive `.bi5` suffix test, without lower-casing the path. */
  private[bi5] def isBi5Name(path: String): Boolean =
    path.regionMatches(true, path.length - 4, ".bi5", 0, 4)

  private val SchemePrefix = "^[a-zA-Z][a-zA-Z0-9+.\\-]*://".r

  /** Route a load path to its store. Driver-side only (touches the active
    * session for the Hadoop conf); the returned store is serializable. */
  def forPath(path: String): Bi5Store =
    if (SchemePrefix.findPrefixOf(path).isDefined)
      new HadoopBi5Store(new SerializableHadoopConf(activeHadoopConf()))
    else NioBi5Store

  private def activeHadoopConf(): org.apache.hadoop.conf.Configuration =
    try org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    catch { case NonFatal(_) => new org.apache.hadoop.conf.Configuration() }
}

/** Local-filesystem store: the reference's java.nio contract. */
object NioBi5Store extends Bi5Store {

  import java.nio.file.{Files, Paths}

  override def exists(path: String): Boolean = Files.exists(Paths.get(path))

  override def isDirectory(path: String): Boolean = Files.isDirectory(Paths.get(path))

  override def children(path: String): Seq[Bi5Store.Entry] = {
    val s =
      try Files.list(Paths.get(path))
      catch { case NonFatal(_) => return Seq.empty }
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map { p =>
        val dir = Files.isDirectory(p)
        Bi5Store.Entry(
          p.toString, dir,
          if (dir) 0L else (try Files.size(p) catch { case NonFatal(_) => 0L }))
      }.toVector
    } finally s.close()
  }

  override def walkBi5Files(root: String, enterDir: String => Boolean): Bi5Store.FileWalk =
    new NioFileWalk(Paths.get(root), enterDir)

  override def open(path: String): InputStream = new java.io.FileInputStream(path)

  override def fileSize(path: String): Long = new java.io.File(path).length()
}

/**
 * The nio store's one traversal: an explicit stack of open directory
 * streams, advanced one entry per step, so the walk is lazy and never lists
 * a directory `enterDir` rejected. It keeps the order and rules of the
 * reference's `Files.walk(root, FOLLOW_LINKS)`:
 *  - pre-order, each directory's entries in readdir order;
 *  - links are followed, and a directory that is its own ancestor (same
 *    file key) is a loop;
 *  - a traversal fault (loop, unreadable or vanished directory, entry gone
 *    between readdir and stat) ENDS this root's supply instead of failing
 *    the task — the local skip-corrupt contract. Only NonFatal: an OOM or an
 *    interrupt must still kill the task.
 */
private final class NioFileWalk(root: java.nio.file.Path, enterDir: String => Boolean)
    extends Bi5Store.FileWalk {

  import java.nio.file.{DirectoryStream, FileSystemLoopException, Files, LinkOption, Path}
  import java.nio.file.attribute.BasicFileAttributes

  private final class Level(val dir: Path, val key: AnyRef, val stream: DirectoryStream[Path]) {
    val entries: java.util.Iterator[Path] = stream.iterator()
  }

  private[this] val stack = new java.util.ArrayDeque[Level]()
  private[this] var started = false
  private[this] var done = false
  private[this] var pending: (String, Long) = _

  // Like Files.walk: follow links, but report a broken link as itself.
  private[this] def attributes(p: Path): BasicFileAttributes =
    try Files.readAttributes(p, classOf[BasicFileAttributes])
    catch {
      case _: java.io.IOException =>
        Files.readAttributes(p, classOf[BasicFileAttributes], LinkOption.NOFOLLOW_LINKS)
    }

  private[this] def push(dir: Path, attrs: BasicFileAttributes): Unit = {
    val key = attrs.fileKey()
    stack.forEach { ancestor =>
      val same = if (key != null) key == ancestor.key else Files.isSameFile(dir, ancestor.dir)
      if (same) throw new FileSystemLoopException(dir.toString)
    }
    stack.push(new Level(dir, key, Files.newDirectoryStream(dir)))
  }

  private[this] def offer(p: Path, attrs: BasicFileAttributes): Boolean = {
    val s = p.toString
    val hit = attrs.isRegularFile && Bi5Store.isBi5Name(s)
    if (hit) pending = (s, attrs.size())
    hit
  }

  /** Fill `pending` with the next file, or end the supply. */
  private[this] def advance(): Unit =
    try {
      if (!started) {
        started = true
        val attrs = attributes(root) // a missing root throws: empty supply
        if (attrs.isDirectory) push(root, attrs)
        else if (offer(root, attrs)) return
      }
      while (!stack.isEmpty) {
        val top = stack.peek()
        if (!top.entries.hasNext) stack.pop().stream.close()
        else {
          val p = top.entries.next()
          val attrs = attributes(p)
          if (attrs.isDirectory) { if (enterDir(p.toString)) push(p, attrs) }
          else if (offer(p, attrs)) return
        }
      }
      done = true
    } catch { case NonFatal(_) => close() }

  override val files: Iterator[(String, Long)] = new Iterator[(String, Long)] {
    override def hasNext: Boolean = {
      if (pending == null && !done) advance()
      pending != null
    }
    override def next(): (String, Long) = {
      if (!hasNext) throw new NoSuchElementException("end of bi5 walk")
      val f = pending
      pending = null
      f
    }
  }

  override def close(): Unit = {
    done = true
    while (!stack.isEmpty) {
      try stack.pop().stream.close() catch { case NonFatal(_) => }
    }
  }
}

/**
 * Hadoop-FileSystem store: one class serves every scheme Hadoop can mount
 * (file, hdfs, s3a, gs, abfs, …). `FileSystem.get` caches per (scheme,
 * authority, ugi), so per-call resolution is a map lookup.
 *
 * The recursive listing uses `FileSystem.listFiles(recursive = true)`, which
 * object stores implement as flat paged LIST calls — O(files / page) round
 * trips instead of one RPC per directory, the difference between minutes and
 * hours on a million-object bucket.
 */
class HadoopBi5Store(conf: SerializableHadoopConf) extends Bi5Store {

  import java.io.FileNotFoundException

  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  private def fsOf(p: HPath): FileSystem = p.getFileSystem(conf.value)

  // Fault contract (deliberately NOT the nio store's swallow-everything):
  // FileNotFound means the path/subtree vanished — tolerated, it's retention
  // or a bad user path. Anything else (credential, throttling, network) is a
  // REAL error and propagates: a load() over s3a with broken credentials
  // must say so, not report "Invalid path", and a transient LIST failure
  // must fail the (retryable) job, not silently shrink its input.

  override def exists(path: String): Boolean = {
    val p = new HPath(path)
    fsOf(p).exists(p) // internally FNF -> false; other faults propagate
  }

  override def isDirectory(path: String): Boolean = {
    val p = new HPath(path)
    try fsOf(p).getFileStatus(p).isDirectory
    catch { case _: FileNotFoundException => false }
  }

  override def children(path: String): Seq[Bi5Store.Entry] = {
    val p = new HPath(path)
    try fsOf(p).listStatus(p).toSeq.map { st =>
      Bi5Store.Entry(st.getPath.toString, st.isDirectory, if (st.isDirectory) 0L else st.getLen)
    } catch { case _: FileNotFoundException => Seq.empty }
  }

  override def walkBi5Files(root: String, enterDir: String => Boolean): Bi5Store.FileWalk =
    new Bi5Store.FileWalk {
      // listFiles(recursive) pages lazily (RemoteIterator); nothing to close
      override val files: Iterator[(String, Long)] = {
        val p = new HPath(root)
        try {
          val fs = fsOf(p)
          val st = fs.getFileStatus(p)
          if (!st.isDirectory) {
            if (Bi5Store.isBi5Name(st.getPath.toString)) Iterator.single((st.getPath.toString, st.getLen))
            else Iterator.empty
          } else {
            val it = fs.listFiles(p, true)
            val admitted = new AdmittedDirs(st.getPath.depth, enterDir)
            new Iterator[org.apache.hadoop.fs.LocatedFileStatus] {
              // FNF mid-paging = subtree deleted: supply ends. Transient RPC
              // faults propagate — the task fails and Spark retries it, which
              // beats silently truncating an object-store read
              override def hasNext: Boolean =
                try it.hasNext catch { case _: FileNotFoundException => false }
              override def next(): org.apache.hadoop.fs.LocatedFileStatus = it.next()
            }.collect {
              case f if f.isFile && Bi5Store.isBi5Name(f.getPath.toString) &&
                  admitted(f.getPath.getParent) =>
                (f.getPath.toString, f.getLen)
            }
          }
        } catch { case _: FileNotFoundException => Iterator.empty }
      }
      override def close(): Unit = ()
    }

  /** The flat listing's stand-in for a pruned descent: a file is admitted
    * iff `enterDir` accepts every directory between the root (exclusive)
    * and the file, which is exactly the set a pruned descent would reach.
    * The listing returns a directory's files together, so the verdict of
    * the last parent is reused. */
  private final class AdmittedDirs(rootDepth: Int, enterDir: String => Boolean) {
    private[this] var lastDir: HPath = _
    private[this] var lastVerdict = true

    def apply(dir: HPath): Boolean = {
      if (dir != lastDir) {
        lastDir = dir
        var d = dir
        lastVerdict = true
        while (lastVerdict && d.depth > rootDepth) {
          lastVerdict = enterDir(d.toString)
          d = d.getParent
        }
      }
      lastVerdict
    }
  }

  override def open(path: String): InputStream = {
    val p = new HPath(path)
    fsOf(p).open(p)
  }

  override def fileSize(path: String): Long = {
    val p = new HPath(path)
    try fsOf(p).getFileStatus(p).getLen
    catch { case _: FileNotFoundException => 0L }
  }
}

/** Java-serializable Hadoop `Configuration` (the standard write/readFields
  * envelope), so executor-side readers see the driver's `spark.hadoop.*`
  * settings — S3 credentials, endpoints, timeouts. */
class SerializableHadoopConf(@transient private var conf: org.apache.hadoop.conf.Configuration)
    extends Serializable {

  def value: org.apache.hadoop.conf.Configuration = conf

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}
