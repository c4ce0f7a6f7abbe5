package graft.sources.bi5

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/**
 * Micro-batch streaming over a growing bi5 tree: each trigger picks up hour
 * files that appeared since the last processed offset. The natural workflow
 * for this format — Dukascopy publishes one `<hh>h_ticks.bi5` per hour — so
 * `spark.readStream.format("bi5")` tails the directory.
 *
 * Offset model: the (derived hour base, path) KEY of the last processed
 * file, with files totally ordered by that key. A batch covers the key range
 * `(start, end]`, so the assignment of files to batches is a pure predicate
 * on the key — stable under listing shifts. Two deliberate choices:
 *
 *  - Ordering by the PATH-DERIVED HOUR TIMESTAMP (path as tiebreak), not the
 *    raw path: the layout regex admits unpadded components (`9h_ticks.bi5`),
 *    and lexicographic path order would sort hour 10 BEFORE hour 9 — newly
 *    published files would land behind the committed offset and be silently
 *    skipped. Event-time order is publication order for this format.
 *  - Not a count-based offset (index into the sorted list): a back-filled
 *    file arriving behind the cursor renumbers every index after it, and
 *    retention deleting a processed file shifts indices down — both re-emit
 *    or lose files. With key ranges, a late file sorting inside a *future*
 *    batch's range is simply processed then; only files at-or-before the
 *    committed offset are skipped (same contract as Spark's file source
 *    without `latestFirst`).
 *
 * `backfillLookbackHours = N` upgrades that skip contract: the offset then
 * also carries the set of processed paths whose hour is within N hours of
 * the frontier, and a file published out of order inside that window is
 * picked up exactly once (outside it, the skip rule stands — the window is
 * what bounds offset size). Pair with `maxFilesPerTrigger` when starting
 * over a large backlog, since the first batch's manifest rides in the
 * offset. Enabling it on an existing default-mode checkpoint may reprocess
 * the trailing window once (those files were never recorded as seen);
 * replays of a batch pending across the toggle are safe either way, because
 * planInputPartitions derives membership from the offsets' own content.
 *
 * Admission control: `maxFilesPerTrigger` bounds each batch, so starting a
 * stream over years of history progresses in resumable increments instead of
 * one giant batch 0.
 *
 * Batch readers (row + columnar) are reused verbatim — identical
 * decode/skip-corrupt semantics in both execution modes.
 */
class Bi5MicroBatchStream(
    opts: Bi5Options,
    required: StructType,
    filters: Array[Filter],
    checkpointLocation: String,
    store: Bi5Store)
    extends MicroBatchStream
    with SupportsAdmissionControl {

  /** All decodable-layout files keyed by (hour base micros, path) at or after
    * the given hour base, sorted. The listing itself is PRUNED by the
    * committed hour: day/month/year directories whose names prove every file
    * inside sorts before `minBaseMicros` are never enumerated, so an idle
    * tail re-lists the frontier, not the archive. Files whose path doesn't
    * parse can't produce rows (skip-corrupt) and carry no event time, so
    * they are excluded from the stream. */
  private def listSorted(minBaseMicros: Long): Vector[(Long, String)] = {
    val checks = new Bi5FilePruner.Checks(filters)
    Bi5FileLister.listBi5FilesSince(store, opts.path, minBaseMicros, opts.monthOffset)
      .filter { case (p, _) => checks.mayMatch(p, opts.monthOffset) }
      .flatMap { case (p, _) =>
        Bi5PathMeta.parse(p, opts.monthOffset).map(m => (m.baseEpochMicros, p))
      }
      .sorted
      .toVector
  }

  private def key(o: Offset): (Long, String) = {
    val s = o.asInstanceOf[Bi5StreamOffset]
    (s.baseMicros, s.lastPath)
  }

  private def gt(a: (Long, String), b: (Long, String)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 > b._2)

  private val lookbackMicros: Long = opts.backfillLookbackHours.toLong * 3600L * 1000000L

  /** Listing floor for a frontier: lookback mode must also see the trailing
    * window behind the committed hour. MinValue (initial) stays MinValue. */
  private def windowFloor(baseMicros: Long): Long =
    if (lookbackMicros == 0 || baseMicros == Long.MinValue) baseMicros
    else baseMicros - lookbackMicros

  override def initialOffset(): Offset = Bi5StreamOffset.Initial

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

  override def getDefaultReadLimit: ReadLimit =
    if (opts.maxFilesPerTrigger > 0) ReadLimit.maxFiles(opts.maxFilesPerTrigger)
    else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[Bi5StreamOffset]
    val from = key(so)
    val listing = listSorted(windowFloor(so.baseMicros))
    // Back-fill (lookback mode only): files at-or-before the frontier whose
    // hour lies within the window and that were never processed. They sort
    // ahead of the new-file range, so admission control drains the past
    // before the present.
    val backfill =
      if (lookbackMicros == 0 || so.baseMicros == Long.MinValue) Vector.empty
      else listing.filter(k =>
        !gt(k, from) && k._1 >= so.baseMicros - lookbackMicros && !so.seen.contains(k._2))
    val pending = backfill ++ listing.filter(gt(_, from))
    val capped = limit match {
      case m: ReadMaxFiles => pending.take(m.maxFiles())
      case _               => pending
    }
    if (capped.isEmpty) return start
    val advancing = capped.filter(gt(_, from))
    val (newBase, newPath) = if (advancing.isEmpty) from else advancing.last
    // Lookback mode keeps the offset's seen-set = this batch's files plus
    // prior entries still inside the window of the NEW frontier. Batch files
    // are always retained (they are the plan-time manifest — see
    // planInputPartitions) and age out on the next advance.
    val newSeen =
      if (lookbackMicros == 0) Set.empty[String]
      else {
        val cappedPaths = capped.map(_._2).toSet
        val floor = newBase - lookbackMicros
        (so.seen ++ cappedPaths).filter { p =>
          cappedPaths.contains(p) ||
            Bi5PathMeta.parse(p, opts.monthOffset).exists(_.baseEpochMicros >= floor)
        }
      }
    Bi5StreamOffset(newBase, newPath, newSeen)
  }

  override def deserializeOffset(json: String): Offset = Bi5StreamOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[Bi5StreamOffset]
    val eo = end.asInstanceOf[Bi5StreamOffset]
    val from = key(so)
    val to = key(eo)
    // Batch membership derives from the OFFSET CONTENT, not the current
    // option value: a pending batch replayed after the user toggles
    // backfillLookbackHours must plan the same files its end offset
    // described, or the replay silently reads nothing (toggle-on) or drops
    // the batch's back-fill files (toggle-off).
    //  - end offset carries a seen-set → it IS the batch manifest (range
    //    files and back-fills alike entered it at latestOffset time), so
    //    membership never depends on a listing taken later — a file
    //    appearing between latestOffset and here waits for the next trigger
    //    instead of slipping into this batch unrecorded (which would
    //    double-read it as back-fill later);
    //  - no seen-set → the legacy pure key-range predicate.
    if (eo.seen.nonEmpty) {
      val manifest = eo.seen -- so.seen
      // listing floor from the manifest itself, so replays see the batch's
      // back-fill hours even if the lookback option is now smaller/off
      val floor = manifest.iterator
        .flatMap(p => Bi5PathMeta.parse(p, opts.monthOffset))
        .map(_.baseEpochMicros)
        .foldLeft(windowFloor(so.baseMicros))(math.min)
      val files = listSorted(floor).filter(k => manifest.contains(k._2))
      files.map { case (_, f) => Bi5Partition(Array(f), walk = false): InputPartition }.toArray
    } else {
      val newFiles = listSorted(so.baseMicros).filter(k => gt(k, from) && !gt(k, to))
      // one partition per arriving hour file: hour files are small (a few MB
      // compressed), and per-file tasks keep latency low per trigger
      newFiles.map { case (_, f) => Bi5Partition(Array(f), walk = false): InputPartition }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new Bi5PartitionReaderFactory(opts, required, filters, store)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** Checkpoint offset: the frontier `<hourBaseMicros>|<path>` of the last
  * processed file (empty string = nothing processed yet), plus — only when
  * `backfillLookbackHours` is on — the bounded set of processed paths whose
  * hour base lies within the lookback window of the frontier. With the set
  * empty the legacy v1 string is emitted, so default-config checkpoints stay
  * byte-compatible across versions.
  *
  * NB: the Offset base class implements equals() by comparing json()
  * strings, so json() must never itself compare offsets (infinite mutual
  * recursion) — and `seen` serializes SORTED so equal sets render equal. */
case class Bi5StreamOffset(baseMicros: Long, lastPath: String, seen: Set[String] = Set.empty)
    extends Offset {
  override def json(): String =
    if (seen.isEmpty) {
      if (baseMicros == Long.MinValue && lastPath.isEmpty) "" else s"$baseMicros|$lastPath"
    } else {
      val m = Bi5StreamOffset.mapper
      val node = m.createObjectNode()
      node.put("v", 2)
      node.put("base", baseMicros)
      node.put("path", lastPath)
      val arr = node.putArray("seen")
      seen.toSeq.sorted.foreach(arr.add)
      m.writeValueAsString(node)
    }
}

object Bi5StreamOffset {
  val Initial: Bi5StreamOffset = Bi5StreamOffset(Long.MinValue, "")

  // Offset.equals compares json() strings, so json() runs several times per
  // trigger; ObjectMapper construction is expensive and the instance is
  // thread-safe after configuration — share one.
  private[bi5] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Strict parse: an unrecognized offset (e.g. a checkpoint written by a
    * different source or format revision) must fail LOUDLY — accepting it
    * as a path would silently stall or re-read the stream forever. */
  def fromJson(json: String): Bi5StreamOffset = {
    if (json.isEmpty) return Initial
    if (json.startsWith("{")) {
      try {
        val n = mapper.readTree(json)
        if (n.path("v").asInt() == 2 && n.hasNonNull("base") && n.hasNonNull("path")) {
          val seen = Set.newBuilder[String]
          n.path("seen").forEach(e => seen += e.asText())
          return Bi5StreamOffset(n.get("base").asLong(), n.get("path").asText(), seen.result())
        }
      } catch { case scala.util.control.NonFatal(_) => }
    } else {
      val sep = json.indexOf('|')
      if (sep > 0) {
        try return Bi5StreamOffset(json.substring(0, sep).toLong, json.substring(sep + 1))
        catch { case _: NumberFormatException => }
      }
    }
    throw new IllegalStateException(
      s"Unrecognized bi5 streaming offset '$json' (expected '<epochMicros>|<path>' or " +
        "the v2 JSON form); the checkpoint was written by an incompatible version — " +
        "restart the query with a fresh checkpointLocation.")
  }
}
