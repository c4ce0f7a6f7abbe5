package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One LSH band claim: document `doc_id` occupies bucket `band_key` of
  * band `band_no`. */
final case class BandClaim(band_no: Int, band_key: String, doc_id: Long)

/** Screen verdict for one (document, band) pair: `novel` = the bucket was
  * unclaimed when this document's micro-batch began. */
final case class BandVerdict(doc_id: Long, band_no: Int, band_key: String, novel: Boolean)

/** One exact-content claim/verdict pair (md5 of the full text). */
final case class HashClaim(h: String, doc_id: Long)
final case class HashVerdict(doc_id: Long, h: String, novel: Boolean)

/** One w-token segment occurrence / its keep-first verdict (the streaming
  * twin of [[graft.operators.Dedup.keepFirstSegments]]'s election). */
final case class SegClaim(doc_id: Long, seg_no: Int, seg: String)
final case class SegVerdict(doc_id: Long, seg_no: Int, seg: String, kept: Boolean)

/** State per distinct segment: the canonical (first) occurrence. */
final case class SegOwner(doc_id: Long, seg_no: Int)

/**
 * Streaming near-duplicate screening — the live-ingest tail of the batch
 * incremental dedup (q79): documents arrive on a stream, and each is graded
 * against the LSH band buckets (near-dup) and exact content hashes
 * (exact-dup) accumulated from every PRIOR micro-batch.
 *
 * Semantics match q79's batch-probes-corpus discipline exactly: a verdict
 * reflects the state as of the previous micro-batch close, so two documents
 * colliding WITHIN one micro-batch do not flag each other (the batch pass
 * handles intra-batch dups; the stream screen answers "is this new vs
 * everything already ingested?"). That is what makes streaming == batch
 * provable on closed batches.
 *
 * State bound: ONE long (first claimant id) per distinct band bucket /
 * content hash — the minimal LSH membership memory, O(distinct keys) not
 * O(documents x bands), hash-partitioned across executors by the state
 * store. Production deployments cap it with a state TTL
 * (`GroupStateTimeout.ProcessingTimeTimeout` + `setTimeoutDuration`) when
 * "duplicate of anything in the last N days" is the actual contract; the
 * default here is NoTimeout = duplicate-of-anything-ever.
 */
object DedupStreams {

  /** Map-only MinHash band derivation — the IDENTICAL spelling the batch
    * queries use (q25/q79): word-3-gram 48-bit shingle hashes, 4 MinHash
    * permutations from [[graft.functions.HashConventions]], 2x2 bands.
    * Works unchanged on batch and streaming frames (pure projection). */
  def minhashBands(spark: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.NativeFunctions.register(spark)
    val P = graft.functions.HashConventions.MinhashP
    val perms = graft.functions.HashConventions.MinhashPerms
    val minhs = perms.zipWithIndex.map { case ((a, b), i) =>
      s"array_min(transform(hs, h -> ($a * (h % $P) + $b) % $P)) as minh$i"
    }
    val sigs = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("hs", expr("word_ngram_hash48(toks, 3)"))
      .selectExpr(Seq("doc_id") ++ minhs: _*)
    sigs
      .select(col("doc_id"), lit(0).as("band_no"),
        concat_ws("_", col("minh0"), col("minh1")).as("band_key"))
      .unionByName(sigs
        .select(col("doc_id"), lit(1).as("band_no"),
          concat_ws("_", col("minh2"), col("minh3")).as("band_key")))
  }

  /**
   * LSH band-membership screen over a streaming (doc_id, text) frame:
   * emits one [[BandVerdict]] per (document, band). A document is a
   * near-dup candidate iff ANY of its verdicts has `novel = false`
   * (aggregate downstream). Append-mode stateful — one state row per
   * distinct band bucket.
   */
  def bandMembershipScreen(spark: SparkSession, docs: DataFrame): Dataset[BandVerdict] = {
    import spark.implicits._
    minhashBands(spark, docs).as[BandClaim]
      .groupByKey(c => (c.band_no, c.band_key))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Int, String), rows: Iterator[BandClaim], state: GroupState[Long]) => {
          val rs = rows.toArray
          // claimed-at-batch-open: verdicts ignore same-batch arrivals
          val claimed = state.exists
          if (!claimed && rs.nonEmpty) {
            var minId = rs(0).doc_id
            var i = 1
            while (i < rs.length) { if (rs(i).doc_id < minId) minId = rs(i).doc_id; i += 1 }
            state.update(minId)
          }
          rs.iterator.map(c => BandVerdict(c.doc_id, key._1, key._2, !claimed))
        })
  }

  /**
   * Exact-content screen over a streaming (doc_id, text) frame: one
   * [[HashVerdict]] per document, `novel = false` iff the full md5 of the
   * text was already ingested in a prior micro-batch. Same state-at-batch-
   * open semantics and O(distinct hashes) state bound as the band screen.
   */
  def exactHashScreen(spark: SparkSession, docs: DataFrame): Dataset[HashVerdict] = {
    import spark.implicits._
    docs.select(md5(col("text")).as("h"), col("doc_id")).as[HashClaim]
      .groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[HashClaim], state: GroupState[Long]) => {
          val rs = rows.toArray
          val claimed = state.exists
          if (!claimed && rs.nonEmpty) {
            var minId = rs(0).doc_id
            var i = 1
            while (i < rs.length) { if (rs(i).doc_id < minId) minId = rs(i).doc_id; i += 1 }
            state.update(minId)
          }
          rs.iterator.map(c => HashVerdict(c.doc_id, key, !claimed))
        })
  }

  /**
   * Streaming keep-first segment dedup — the live-ingest twin of
   * [[graft.operators.Dedup.keepFirstSegments]] (q233): every
   * non-overlapping w-token segment keeps exactly ONE occurrence ever,
   * the globally first by (doc_id, seg_no); every later occurrence gets
   * `kept = false`. Emits one [[SegVerdict]] per segment occurrence —
   * reassembly into clean text is a per-doc aggregation downstream
   * (batch-side, or foreachBatch in the pipeline).
   *
   * Unlike the band/hash SCREENS above (state-at-batch-open: same-batch
   * collisions don't flag each other), this is a full ELECTION: within a
   * micro-batch the minimal (doc_id, seg_no) occurrence wins, matching
   * the batch operator's min-struct election exactly. Parity with the
   * batch result therefore needs only the MONOTONE-INGEST contract —
   * docs must arrive in nondecreasing (doc_id, seg_no) order across
   * micro-batches — and the contract is LOUD: an arrival ordered before
   * an already-elected owner throws (append mode cannot retract the
   * earlier verdict), rather than silently diverging from batch.
   *
   * State bound: one (long, int) owner per distinct segment —
   * O(distinct segments), hash-partitioned by the state store; cap with
   * a state TTL in production when the contract is "dedup against the
   * last N days".
   */
  def keepFirstSegmentScreen(
      spark: SparkSession,
      docs: DataFrame,
      w: Int): Dataset[SegVerdict] = {
    import spark.implicits._
    graft.operators.Dedup.segments(docs, "doc_id", "text", w)
      .select(col("doc_id"), col("seg_no").cast("int").as("seg_no"), col("seg"))
      .as[SegClaim]
      .groupByKey(_.seg)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (seg: String, rows: Iterator[SegClaim], state: GroupState[SegOwner]) => {
          val rs = rows.toArray.sortBy(r => (r.doc_id, r.seg_no))
          if (rs.isEmpty) Iterator.empty
          else {
          val prior = state.getOption
          prior.foreach { p =>
            if (rs.nonEmpty &&
              (rs(0).doc_id < p.doc_id ||
                (rs(0).doc_id == p.doc_id && rs(0).seg_no < p.seg_no)))
              throw new IllegalStateException(
                s"DedupStreams.keepFirstSegmentScreen: monotone-ingest contract " +
                  s"violated for segment '${seg.take(40)}': occurrence " +
                  s"(${rs(0).doc_id}, ${rs(0).seg_no}) arrived after owner " +
                  s"(${p.doc_id}, ${p.seg_no}) was already elected — batch " +
                  s"parity is unrecoverable in append mode")
          }
          if (prior.isEmpty)
            state.update(SegOwner(rs(0).doc_id, rs(0).seg_no))
          val owner = state.get
          // kept = "is the elected owner", NOT "won in this batch": an
          // at-least-once source re-delivering the owner's own occurrence
          // passes the monotone check (equal, not before) and must get
          // kept=true again — idempotent re-delivery, no silent flip.
          rs.iterator.map(r => SegVerdict(r.doc_id, r.seg_no, r.seg,
            r.doc_id == owner.doc_id && r.seg_no == owner.seg_no))
          }
        })
  }
}
