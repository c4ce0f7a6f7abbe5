package graft.sources.warc

import graft.sources.bi5.Bi5Store

/**
 * Listing of the warc source — shared by the batch scan, the statistics
 * estimate, and the micro-batch stream, so "which files exist" is computed
 * exactly once per planning decision and with the same rules everywhere.
 *
 * `sincePath` committed-subtree PRUNING (streaming): WARC stream offsets
 * are lexicographic path frontiers, so a directory whose entire path space
 * provably sorts before the frontier can be skipped without enumerating
 * it. An idle tail over a multi-dump archive then re-lists only the
 * frontier's own subtree plus genuinely new directories — not the whole
 * archive every trigger (the bi5 stream's `listBi5FilesSince` discipline,
 * generalized from date-parsed hours to the raw path order this source's
 * offsets use). Pruning never changes WHAT is listed.
 */
object WarcLister {

  /** Does `p` carry one of the accepted suffixes (case-insensitive)? */
  def matches(p: String, extensions: Seq[String]): Boolean = {
    val lower = p.toLowerCase
    extensions.exists(lower.endsWith)
  }

  /** Every file path under directory `dir` starts with `dir + "/"`, so the
    * subtree can be skipped iff ALL strings with that prefix sort at or
    * before `sincePath` — true exactly when `sincePath` is greater than the
    * prefix AND does not itself continue into the subtree (if it does, the
    * frontier is inside and newer siblings may follow it). */
  def subtreeFullyCommitted(dirPath: String, sincePath: String): Boolean = {
    val pfx = dirPath + "/"
    sincePath > pfx && !sincePath.startsWith(pfx)
  }

  /** Sorted recursive listing of matching files as (path, size), visiting
    * only subtrees that can still hold paths AFTER `sincePath` ("" = all).
    * Deterministic: sorted child visits plus a final global sort (child
    * order alone is not path order — "a.b" sorts before "a/x"). */
  def list(
      store: Bi5Store,
      root: String,
      extensions: Seq[String],
      sincePath: String = ""): Vector[(String, Long)] = {
    val out = Vector.newBuilder[(String, Long)]
    def walk(p: String): Unit =
      store.children(p).sortBy(_.path).foreach { e =>
        if (e.isDir) {
          if (!subtreeFullyCommitted(e.path, sincePath)) walk(e.path)
        } else if (matches(e.path, extensions) && e.path > sincePath)
          out += ((e.path, e.size))
      }
    if (store.exists(root)) {
      if (store.isDirectory(root)) walk(root)
      else if (matches(root, extensions) && root > sincePath)
        out += ((root, try store.fileSize(root) catch { case _: Exception => 0L }))
    }
    out.result().sortBy(_._1)
  }
}
