package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The per-document signal definitions shared by the standalone queries
 * (q29 quality, q55 repetition, q56 decontamination) and the composed
 * [[Curation]] pipeline — ONE definition each, so the operator can never
 * silently diverge from its oracle-verified query spelling (the same role
 * `HashConventions` plays for the minhash scheme).
 *
 * All three are cross-engine exact: integer ratios emitted as doubles.
 */
object TextSignals {

  /** The BPE-ish subword pattern: greedy letter runs in <= 4-char pieces,
    * single digits, single punctuation marks (spaces are free). Stays in
    * the RE2-safe subset (no lookaround/backrefs), and leftmost-greedy
    * alternation behaves identically in Java and RE2 — so the count is
    * exact cross-engine. A real BPE yields ~1 token per 3-4 chars of
    * English; this deterministic proxy budgets the same order without a
    * merge table, which is what context budgeting needs (the exact token
    * ids it does not). */
  final val BpeishPattern = "[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]"

  /** BPE-ish subword token count of `text`: one codegen'd regexp pass.
    * DuckDB twin: `len(regexp_extract_all(text, BpeishPattern))`. */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeishPattern)).cast("long")

  /** q29's average token length: `(chars - spaces) / tokens` as an exact
    * integer ratio in double (single-space tokenization assumed, like the
    * whitespace `split` it pairs with). */
  def avgTokenLen(text: Column, nTokens: Column): Column =
    (length(text) - (nTokens - 1)).cast("double") / nTokens

  /** q55's duplicate-5-gram fraction over a `word_ngrams(toks, 5)` column;
    * 0.0 for documents too short to produce any 5-gram. */
  def dupFrac5(g5: Column): Column =
    when(size(g5) > 0,
      (size(g5) - size(array_distinct(g5))).cast("double") / size(g5))
      .otherwise(lit(0.0))

  /**
   * q56's benchmark-decontamination screen: per corpus document, the count
   * and fraction of its DISTINCT word-`n`-gram shingles that also appear in
   * the (broadcast-small) eval set. Returns `(idCol, n_sh, n_overlap,
   * contam_frac)`; corpus documents with fewer than `n` tokens produce no
   * shingles and are ABSENT (callers treat missing as zero contamination).
   *
   * Scale shape: the eval shingle set broadcasts; the corpus side is one
   * explode + broadcast left join + per-doc aggregation — no corpus-sized
   * shuffle beyond the doc-id aggregation.
   */
  def contamStats(
      corpus: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    graft.functions.NativeFunctions.register(corpus.sparkSession)
    val reserved = Set("__toks", "__shingle", "__hit", "n_sh", "n_overlap", "contam_frac")
    val clash = (corpus.columns ++ eval.columns).toSet.intersect(reserved)
    require(clash.isEmpty, s"input columns collide with reserved names: $clash")
    // script-aware tokens (whitespace runs / CJK char bigrams): benchmark
    // text in an unspaced script still shingles and still screens —
    // degenerates exactly to split-on-space on clean spaced text
    def shingled(df: DataFrame) = df
      .withColumn("__toks", expr(s"tokenize_text(`$textCol`)"))
      .filter(size(col("__toks")) >= n)
    val posts = shingled(corpus).select(
      col(idCol),
      explode(array_distinct(expr(s"word_ngrams(__toks, $n)"))).as("__shingle"))
    val evalSet = shingled(eval)
      .select(explode(expr(s"word_ngrams(__toks, $n)")).as("__shingle"))
      .distinct()
      .withColumn("__hit", lit(1L))
    posts
      .join(broadcast(evalSet), Seq("__shingle"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_sh"),
        coalesce(sum("__hit"), lit(0L)).as("n_overlap"))
      .withColumn("contam_frac", col("n_overlap").cast("double") / col("n_sh"))
  }
}
