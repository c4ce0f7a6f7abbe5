package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * BYTE-LEVEL batched BPE trainer — [[BpeInt.fitCore]]'s election run over
 * the UTF-8 BYTE base alphabet (base symbols 0–255, merge k =
 * `256 + k - 1` — the GPT-2 id layout, see
 * [[graft.functions.BpeByteKit]]). This is the representation production
 * tokenizer runtimes consume: merges may cross UTF-8 continuation-byte
 * boundaries, any byte string tokenizes with no unknown-token escape,
 * and the trained model round-trips through the published
 * `merges.txt`/`vocab.json` artifact shape ([[BpeArtifact]]).
 *
 * The election loop is IDENTICAL to the int-symbol trainer (same L/R
 * batch-acceptance rule, same tie-breaks, same per-round spec
 * re-derivation, same bounded model-sized collects) — only the base
 * alphabet and the applied expression (`bpe_encode_bytes`) differ, so
 * the two trainers can never drift. Output: one row per merge,
 * `(midx, rnd, a, b, id, n)`.
 *
 * Reference context: the reference engine has no tokenizer
 * (spark-2.4/…/BI5DataSource.scala:24 is a tick-data connector); this is
 * beyond-reference LLM-pipeline surface (SURVEY.md §2.5).
 */
object BpeByte {

  /** First merge id — [[graft.functions.BpeByteKit.IdBase]] (256). */
  val IdBase: Int = graft.functions.BpeByteKit.IdBase

  /** GPT-2 pre-token unit counts — the trainer front production
    * byte-level tokenizers use: units are `pretokenize_gpt2` pieces
    * (space-prefixed words, digit runs, punctuation runs, contraction
    * suffixes), so a model trained here agrees with `bpe_encode_gpt2`
    * about which boundaries merges may cross — none. (The word-n-gram
    * front ([[BpeInt.fourgramCounts]]) lets merges glue across spaces;
    * applying such a model through the GPT-2 encoder silently forfeits
    * its cross-word merges.) One row per distinct pre-token with its
    * corpus occurrence count — aggregation is map-side combinable and
    * the result is vocabulary-sized, never corpus-sized. */
  def pretokenCounts(df: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.NativeFunctions.register(df.sparkSession)
    df.select(explode(expr(s"pretokenize_gpt2(`$textCol`)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wcnt"))
  }

  def fitBlocked(
      spark: SparkSession,
      words: DataFrame,
      wordCol: String,
      countCol: String,
      nMerges: Int,
      maxRounds: Int = 64,
      candCap: Int = 16384,
      acceptCap: Int = 1024): DataFrame = {
    graft.functions.NativeFunctions.register(spark)
    BpeInt.fitCore(spark, words, wordCol, countCol, nMerges, maxRounds,
      candCap, acceptCap, IdBase, "bpe_encode_bytes", "BpeByte.fitBlocked",
      Bpe.LocalFitMaxChars)
  }

  /** The trained model as a `bpe_encode_bytes` spec string — same
    * contiguity contract as [[BpeInt.specOf]] (id-agnostic: the spec
    * carries pairs in merge order). */
  def specOf(merges: DataFrame): String = BpeInt.specOf(merges)
}
