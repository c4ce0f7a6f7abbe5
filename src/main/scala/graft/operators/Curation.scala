package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The full training-data curation pass, composed from the library's
 * LLM-pipeline operators into the single call a corpus owner actually runs:
 * per-document quality signals, intra-doc repetition, benchmark
 * decontamination, exact dedup, and near-dup clustering, folded into one
 * keep-list with a first-failing `drop_reason` per document.
 *
 * Signals are computed CORPUS-WIDE and the keep policy applied at the end
 * (rather than re-filtering between stages): that is how production
 * pipelines run it, because a policy change then re-evaluates instantly
 * over stored signals instead of recomputing five stages. It also keeps
 * every stage independently auditable ("how many documents would each rule
 * drop?").
 *
 * Scale shape at 100 TB: quality + repetition are map-only; decontamination
 * broadcasts the (tiny) eval shingle set; exact dedup is one hash shuffle;
 * near-dup candidates are LSH-bucket-bounded and clustering runs on the
 * (small) pair graph. The final assembly is a handful of doc-id-keyed
 * joins — every side already hash-partitioned by document id.
 */
object Curation {

  /** Keep-policy thresholds. Defaults mirror the library's standalone
    * queries (q29 quality rule, q55 repetition, q56 decontamination). */
  final case class Params(
      minTokens: Int = 20,
      minAvgTokenLen: Double = 2.0,
      maxAvgTokenLen: Double = 8.0,
      maxDupFrac: Double = 0.2,
      maxContamFrac: Double = 0.5,
      shingleN: Int = 3)

  /**
   * One row per corpus document:
   * (idCol, n_tokens, avg_token_len, quality_ok, dup_frac, repetition_ok,
   * contam_frac, decontam_ok, is_canonical, neardup_keeper, kept,
   * drop_reason). `kept` is the conjunction of the five stage verdicts;
   * `drop_reason` names the FIRST failing stage in pipeline order
   * (quality, repetition, contaminated, exact_dup, near_dup) or '(kept)'.
   *
   * @param corpus  documents to curate; `idCol` unique, `textCol` non-null
   * @param eval    held-out benchmark documents to decontaminate against
   *                (shingle set must be broadcast-small — it is a fixed
   *                benchmark, not a second corpus)
   */
  def keepList(
      spark: SparkSession,
      corpus: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      p: Params = Params()): DataFrame = {
    graft.functions.NativeFunctions.register(spark)
    require(p.shingleN >= 1 && p.minTokens >= 1, s"invalid params: $p")
    val reserved = Set("toks", "n_tokens", "avg_token_len", "quality_ok",
      "dup_frac", "repetition_ok", "n_sh", "n_overlap",
      "contam_frac", "decontam_ok", "content_hash", "group_size",
      "is_canonical", "cluster_id", "neardup_keeper", "kept", "drop_reason")
    val clash = corpus.columns.toSet.intersect(reserved)
    require(clash.isEmpty, s"corpus columns collide with reserved names: $clash")

    // -- stages 1+2: map-only per-document signals (definitions shared
    // with q29/q55 via TextSignals — the operator cannot diverge from the
    // oracle-verified spellings) ------------------------------------------
    val signals = corpus
      .withColumn("toks", split(col(textCol), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("avg_token_len",
        TextSignals.avgTokenLen(col(textCol), col("n_tokens")))
      .withColumn("quality_ok",
        col("n_tokens") >= p.minTokens &&
          col("avg_token_len") >= p.minAvgTokenLen &&
          col("avg_token_len") <= p.maxAvgTokenLen)
      .withColumn("dup_frac", TextSignals.dupFrac5(expr("word_ngrams(toks, 5)")))
      .withColumn("repetition_ok", col("dup_frac") <= p.maxDupFrac)
      .select(col(idCol), col("n_tokens"), col("avg_token_len"),
        col("quality_ok"), col("dup_frac"), col("repetition_ok"))

    // -- stage 3: decontamination (q56's screen, shared definition) -------
    val contam = TextSignals.contamStats(corpus, eval, idCol, textCol, p.shingleN)
      .select(col(idCol), col("contam_frac"))

    // -- stage 4: exact dedup (canonical election) ------------------------
    val exactFlags = Dedup.exact(corpus.select(col(idCol), col(textCol)), idCol, textCol)
      .select(col(idCol), col("is_canonical"))

    // -- stage 5: near-dup keep-list (LSH candidates -> clusters) ---------
    val cand = Dedup.minhashLshCandidates(spark, corpus, idCol, textCol, p.shingleN)
    val cc = Dedup.clusters(cand).withColumnRenamed("id", idCol)

    // -- policy ------------------------------------------------------------
    signals
      .join(contam, Seq(idCol), "left")
      // docs too short to shingle have no posting rows: zero contamination
      .withColumn("contam_frac", coalesce(col("contam_frac"), lit(0.0)))
      .withColumn("decontam_ok", col("contam_frac") <= p.maxContamFrac)
      .join(exactFlags, Seq(idCol))
      .join(cc, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("neardup_keeper", col("cluster_id") === col(idCol))
      .drop("cluster_id")
      .withColumn("kept",
        col("quality_ok") && col("repetition_ok") && col("decontam_ok") &&
          col("is_canonical") && col("neardup_keeper"))
      .withColumn("drop_reason",
        when(!col("quality_ok"), "quality")
          .when(!col("repetition_ok"), "repetition")
          .when(!col("decontam_ok"), "contaminated")
          .when(!col("is_canonical"), "exact_dup")
          .when(!col("neardup_keeper"), "near_dup")
          .otherwise("(kept)"))
  }
}
