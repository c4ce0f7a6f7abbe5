package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Byte-pair-encoding TRAINER and APPLIER at arbitrary merge count — the
 * generalization of q156's 3 unrolled rounds into a driver-loop operator
 * (the `Ann.kmeansFit` pattern: `localCheckpoint` pins each round so round
 * r+1 never recomputes rounds 1..r; the driver sees model-sized election
 * rows, never corpus data).
 *
 * Model: the classic word-level BPE of Sennrich et al. 2016 ("Neural
 * Machine Translation of Rare Words with Subword Units") restricted to the
 * library's whitespace token model — train on the DISTINCT-WORD table
 * (vocab-sized, never corpus text), elect the globally most frequent
 * adjacent symbol pair each round (count-desc, pair-asc tie-break), merge
 * it everywhere into a fresh single-character placeholder symbol, repeat.
 * `replace()` merges left-to-right non-overlapping in Spark and DuckDB
 * alike, which IS greedy BPE application — the q156 contract, now held for
 * any `nMerges`.
 *
 * Placeholder alphabet: merge r becomes the single BMP character with
 * code point `baseCp + r - 1` (default U+E000 — the Unicode private-use
 * area: 6400 code points that no real corpus text carries, clear of every
 * whitespace control the old C0 default collided with, and single-char in
 * Spark and DuckDB alike). Single-character symbols keep every adjacent
 * pair a 2-character substring, so each round's pair scan stays one
 * `substring(w, i, 2)` pass. The corpus-cleanliness precondition (no word
 * already contains a placeholder code point) is enforced loudly inside the
 * plan with `raise_error` — a silent collision would corrupt every later
 * merge.
 *
 * The 100 TB shape: one corpus scan builds the (word, count) table — the
 * only corpus-sized shuffle; every training round then runs over the
 * vocab-sized table (pair explode ~ avg word length x vocab), collects
 * its top candidates via `TakeOrderedAndProject`, and folds the elected
 * pairs back in as literal `replace()`s. All trainers share one election
 * ([[elect]]); sequential [[fit]] is its one-pair batch. Application to
 * new text is map-only: the trained merge
 * table collapses to ONE array-of-struct row broadcast to every task and
 * folded per word with the `aggregate` HOF — and because it is a
 * stream-static broadcast, [[applyMerges]]/[[tokenCounts]] run UNCHANGED
 * on a streaming frame (train once offline, tokenize the live ingest
 * tail with the frozen model; BpeStreamsSpec locks streaming == batch).
 *
 * Reference context: the reference engine has no tokenizer
 * (spark-2.4/…/DefaultSource.scala:24 is a tick-data connector); this is
 * beyond-reference LLM-pipeline surface (SURVEY.md §2.5).
 */
object Bpe {

  /** Default placeholder base: the Unicode private-use area (U+E000). */
  val DefaultBaseCp: Int = 0xE000

  /** The single-character placeholder of 1-based merge index `idx`. */
  def placeholderSym(baseCp: Int, idx: Int): String = (baseCp + idx - 1).toChar.toString

  /** Placeholders must be single BMP characters in Spark AND DuckDB, so
    * the range has to stay below U+10000 and clear of the UTF-16
    * surrogate block (U+D800..U+DFFF, not encodable as lone chars). */
  private def requirePlaceholderRange(baseCp: Int, n: Int): Unit = {
    val end = baseCp + n // exclusive
    require(baseCp >= 1 && end <= 0x10000 && !(baseCp < 0xE000 && end > 0xD800),
      s"placeholder code points [$baseCp, $end) must be single-char BMP and " +
        "not cross the surrogate block [0xD800, 0xE000)")
  }

  /** Java-regex character class matching the whole placeholder range —
    * the corpus-cleanliness guard's probe. */
  private def placeholderClass(baseCp: Int, n: Int): String =
    "[\\u%04x-\\u%04x]".format(baseCp, baseCp + n - 1)

  /** The library's word-count table: one row per distinct token with its
    * corpus frequency — BPE's training input. Tokenization is the
    * script-aware [[graft.functions.TokenizeText]] grammar (whitespace
    * runs for spaced scripts, character bigrams for CJK segments), which
    * degenerates exactly to split-on-space on clean spaced text, so a
    * multilingual corpus trains real units instead of treating an entire
    * unspaced CJK document as one giant "word". One hash shuffle. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame = {
    graft.functions.NativeFunctions.register(df.sparkSession)
    df.select(explode(expr(s"tokenize_text(`$textCol`)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wcnt"))
  }

  /** Adjacent word-BIGRAM units ("w1 w2", space kept inside the unit),
    * weighted by corpus frequency — the training table that lets merges
    * cross word boundaries (GPT-2-style space-inclusive tokens). The
    * 31-word toy vocabulary a whitespace model caps out on yields ~900
    * distinct bigram units, enough headroom for 512+ merges. One hash
    * shuffle; docs with fewer than two words contribute nothing. */
  def bigramCounts(df: DataFrame, textCol: String): DataFrame = {
    graft.functions.NativeFunctions.register(df.sparkSession)
    df.select(expr(s"tokenize_text(`$textCol`)").as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(__toks) - 1),
             i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1)))"""))
        .as("w"))
      .groupBy("w").agg(count(lit(1)).as("wcnt"))
  }

  /**
   * Train `nMerges` BPE merge rounds over a `(wordCol, countCol)` table —
   * the exact Sennrich sequence, one pair per round. Returns the merge
   * table `(round int, pair string, sym string, n bigint)` in training
   * order; `pair` is spelled in the CURRENT symbol alphabet of its round
   * (earlier placeholders may appear inside it), `sym` is the single
   * placeholder character the pair merged into. Stops early (fewer than
   * `nMerges` rows) if the vocabulary runs out of adjacent pairs — real
   * trainers stop, they don't loop on an empty election.
   *
   * This IS [[fitBlocked]] with a one-pair batch: with `candCap = 1` the
   * walk sees only the round's top pair (n desc, pair asc), which the L/R
   * rule always accepts, so each round merges exactly that pair.
   */
  def fit(
      spark: SparkSession,
      words: DataFrame,
      wordCol: String,
      countCol: String,
      nMerges: Int,
      baseCp: Int = DefaultBaseCp): DataFrame =
    fitBlocked(spark, words, wordCol, countCol, nMerges, maxRounds = nMerges,
      candCap = 1, acceptCap = 1, baseCp)

  /** [[fit]] straight from a corpus text column. */
  def fitOnText(
      spark: SparkSession,
      df: DataFrame,
      textCol: String,
      nMerges: Int,
      baseCp: Int = DefaultBaseCp): DataFrame =
    fit(spark, wordCounts(df, textCol), "w", "wcnt", nMerges, baseCp)

  /**
   * BATCHED BPE trainer for production merge counts — [[fit]] elects one
   * pair per round (512 merges = 512 driver rounds), this variant elects
   * a whole GREEDY BATCH per round: the LEFT/RIGHT walk of [[elect]] over
   * the round's top `candCap` pairs (count desc, pair asc), a pair `ab`
   * being its two code points. Batch members never overlap, so the batch
   * applies as a literal replace fold in any order; 512 merges train in
   * ~8 rounds.
   *
   * The election itself is a bounded driver step: the top-`candCap`
   * (pair, count) rows — aggregate MODEL data, the `Logit.fit` gradient-
   * row discipline, never corpus rows — are collected, the walk runs
   * driver-side, and the accepted batch returns to the plan as literal
   * `replace()` folds (codegen'd; no HOF on the training path), each
   * round `localCheckpoint`-pinned. A vocab-sized word table skips the
   * per-round jobs: it is collected once and trained by the int-symbol
   * incremental election ([[BpeInt.fitLocal]], code points as symbols,
   * placeholder `baseCp + k - 1` as merge id k) — the same rows, locked by
   * BpeLocalFitSpec.
   *
   * Output: `round` = GLOBAL merge index in election order, `pair` in the
   * current alphabet of its round, `sym`, `n`, so [[applyMerges]]/
   * [[decodeSpellings]]/[[tokenCounts]] apply it. Training stops early
   * when the vocabulary runs out of pairs or `maxRounds` is hit (both
   * engines of an oracle replay see the same bound, so a fixed-round
   * generated twin stays exact).
   */
  def fitBlocked(
      spark: SparkSession,
      words: DataFrame,
      wordCol: String,
      countCol: String,
      nMerges: Int,
      maxRounds: Int = 32,
      candCap: Int = 512,
      acceptCap: Int = 64,
      baseCp: Int = DefaultBaseCp): DataFrame =
    fitBlockedWith(spark, words, wordCol, countCol, nMerges, maxRounds, candCap,
      acceptCap, baseCp, LocalFitMaxChars)

  /** [[fitBlocked]] with the local-fit threshold of [[localUnits]] as an
    * argument, so a spec can force either path. */
  private[operators] def fitBlockedWith(
      spark: SparkSession,
      words: DataFrame,
      wordCol: String,
      countCol: String,
      nMerges: Int,
      maxRounds: Int,
      candCap: Int,
      acceptCap: Int,
      baseCp: Int,
      maxChars: Long): DataFrame = {
    val who = "Bpe.fitBlocked"
    requireKnobs(nMerges, maxRounds, candCap, acceptCap)
    requirePlaceholderRange(baseCp, nMerges)
    // no word may already contain a placeholder code point
    var wc = unitTable(words, wordCol, countCol, who,
      col(wordCol).rlike(placeholderClass(baseCp, nMerges)),
      "must be non-null and contain no placeholder code points in " +
        s"[$baseCp, ${baseCp + nMerges}); got word ")
    def pair(m: Merge): String =
      new String(Character.toChars(m.a)) + new String(Character.toChars(m.b))
    val merges = localUnits(wc, maxChars) match {
      case Some(units) =>
        BpeInt.fitLocal(units, nMerges, maxRounds, candCap, acceptCap, baseCp,
          byteLevel = false, who)
      case None =>
        elect(nMerges, maxRounds, acceptCap, who) { () =>
          wc.filter(length(col("w")) >= 2)
            .select(col("wcnt"), explode(expr(
              "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
              .as("pair"))
            .groupBy("pair").agg(sum("wcnt").as("n"))
            .orderBy(col("n").desc, col("pair"))
            .limit(candCap)
            .collect().map { r =>
              // a pair is two code points; UTF-8 byte order of the pair is
              // (a, b) code-point order
              val p = r.getString(0)
              val a = p.codePointAt(0)
              (a, p.codePointAt(Character.charCount(a)), r.getLong(1))
            }
        } { batch =>
          // no-overlap => the sequential literal fold IS the batch apply
          wc = batch.foldLeft(wc) { (df, m) =>
            df.withColumn("w",
              replace(col("w"), lit(pair(m)), lit(placeholderSym(baseCp, m.midx))))
          }.select("w", "wcnt").localCheckpoint(true)
        }
    }
    import spark.implicits._
    merges.map(m => (m.midx, pair(m), placeholderSym(baseCp, m.midx), m.n))
      .toDF("round", "pair", "sym", "n")
  }

  /** One elected merge: global 1-based index, election round, the pair's
    * two symbols, and the count it was elected at. */
  private[operators] final case class Merge(midx: Int, rnd: Int, a: Int, b: Int, n: Long)

  private[operators] def requireKnobs(
      nMerges: Int, maxRounds: Int, candCap: Int, acceptCap: Int): Unit = {
    require(nMerges >= 1, s"nMerges ($nMerges) must be positive")
    require(maxRounds >= 1 && candCap >= 1 && acceptCap >= 1,
      s"maxRounds ($maxRounds), candCap ($candCap), acceptCap ($acceptCap) must be positive")
  }

  /** The checkpointed `(w, wcnt)` training table. Null words or counts and
    * `bad` words fail loudly INSIDE the projected column (the kmeansFit/
    * GlobalRank pattern — pruning can never drop the check). */
  private[operators] def unitTable(
      words: DataFrame,
      wordCol: String,
      countCol: String,
      who: String,
      bad: Column,
      badMsg: String): DataFrame = {
    require(words.columns.contains(wordCol) && words.columns.contains(countCol),
      s"words must carry $wordCol and $countCol")
    val guarded = when(col(wordCol).isNull || col(countCol).isNull || bad,
      raise_error(concat(lit(s"$who: $wordCol/$countCol $badMsg"),
        coalesce(col(wordCol), lit("null")))).cast("string"))
      .otherwise(col(wordCol))
    words.select(guarded.as("w"), col(countCol).cast("long").as("wcnt"))
      .localCheckpoint(true)
  }

  /** Unit tables up to this many chars train on the driver. */
  private[operators] val LocalFitMaxChars = 32L * 1024 * 1024

  /** Size-adaptive dispatch shared by every trainer: the collected
    * `(w, wcnt)` units when the checkpointed table's char volume is at
    * most `maxChars` (the public trainers pass [[LocalFitMaxChars]]; 0
    * takes the distributed path for any non-empty table), else None. The
    * unit table is model-class data (distinct words / n-grams with
    * counts); a table that outgrows the threshold takes the distributed
    * per-round path. */
  private[operators] def localUnits(
      wc: DataFrame, maxChars: Long): Option[Array[(String, Long)]] = {
    val chars = wc.agg(coalesce(sum(length(col("w"))), lit(0L))).collect()(0).getLong(0)
    if (chars <= maxChars) Some(wc.collect().map(r => (r.getString(0), r.getLong(1))))
    else None
  }

  /**
   * The election loop every trainer runs, local or distributed. Each
   * round `ranked()` yields this round's top-`candCap` candidate pairs
   * `(a, b, n)` ranked (n desc, a asc, b asc) — empty once the vocabulary
   * runs out of pairs. The L/R walk accepts pair (a, b) iff `a` is no
   * accepted pair's RIGHT symbol and `b` is no accepted pair's LEFT symbol
   * (a self-pair (a, a) needs `a` on neither side), stopping at
   * `min(acceptCap, nMerges - merged)`. Two occurrences of accepted pairs
   * can only overlap when one's right symbol is the other's left symbol,
   * so batch members never overlap: applying the batch together equals
   * applying it one pair at a time in rank order, and no accepted count
   * is stale. Rank-1 is never blocked, so every round with candidates
   * makes progress. `apply(batch)` merges the accepted batch into the
   * caller's state before the next round.
   */
  private[operators] def elect(nMerges: Int, maxRounds: Int, acceptCap: Int, who: String)(
      ranked: () => Array[(Int, Int, Long)])(apply: Seq[Merge] => Unit): Seq[Merge] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var round = 0
    var exhausted = false
    while (out.length < nMerges && round < maxRounds && !exhausted) {
      round += 1
      val cand = ranked()
      if (cand.isEmpty) exhausted = true
      else {
        val cap = math.min(acceptCap, nMerges - out.length)
        val batch = scala.collection.mutable.ArrayBuffer.empty[Merge]
        val usedL = scala.collection.mutable.Set.empty[Int]
        val usedR = scala.collection.mutable.Set.empty[Int]
        var j = 0
        while (j < cand.length && batch.length < cap) {
          val (a, b, n) = cand(j)
          if (!usedR.contains(a) && !usedL.contains(b)) {
            batch += Merge(out.length + batch.length + 1, round, a, b, n)
            usedL += a; usedR += b
          }
          j += 1
        }
        apply(batch.toSeq)
        out ++= batch
      }
    }
    require(out.nonEmpty, s"$who: vocabulary has no adjacent pairs — nothing to train on")
    out.toSeq
  }

  /** The trained model as ONE broadcastable row: `__ms`, the merge structs
    * sorted by round (sort_array on struct arrays orders by the first
    * field — training order is the fold order, and BPE application is
    * order-sensitive). */
  private def mergeArray(merges: DataFrame): DataFrame =
    merges.agg(sort_array(collect_list(struct(
      col("round"), col("pair"), col("sym")))).as("__ms"))

  /**
   * Apply a trained merge table to a word/text column: appends `out` =
   * `col` with every merge replayed in training order (greedy
   * left-to-right within each round — exactly the trainer's own merge
   * semantics, so train-time and apply-time tokenizations agree).
   * Map-only: the model is a 1-row broadcast; the fold is the `aggregate`
   * HOF over nMerges structs per row. The HOF evaluates interpreted —
   * acceptable on the tokenizer-apply path where the per-row work IS the
   * nMerges replace chain; a codegen'd spelling would run the same chain.
   */
  def applyMerges(df: DataFrame, textCol: String, merges: DataFrame,
      out: String): DataFrame = {
    require(!df.columns.contains("__ms"), "input column __ms is reserved")
    df.crossJoin(broadcast(mergeArray(merges)))
      .withColumn(out,
        expr(s"aggregate(__ms, $textCol, (acc, m) -> replace(acc, m.pair, m.sym))"))
      .drop("__ms")
  }

  /**
   * Decode a merge table's placeholder spellings back to SURFACE text:
   * appends `out` = `textCol` with every placeholder recursively expanded
   * to the characters it stands for. Expansion replays the merge list in
   * REVERSE training order — round r's pair may contain placeholders from
   * rounds < r, so replacing chr(r) by pair_r from the last round down to
   * the first fully grounds every symbol. This is how the trained
   * vocabulary ships to humans and to other tokenizer runtimes (q229):
   * fit emits rules in placeholder alphabet, decode emits "ing"/"the".
   * Map-only, 1-row reversed-model broadcast.
   */
  def decodeSpellings(df: DataFrame, textCol: String, merges: DataFrame,
      out: String): DataFrame = {
    require(!df.columns.contains("__msr"), "input column __msr is reserved")
    val rev = merges.agg(reverse(sort_array(collect_list(struct(
      col("round"), col("pair"), col("sym"))))).as("__msr"))
    df.crossJoin(broadcast(rev))
      .withColumn(out,
        expr(s"aggregate(__msr, $textCol, (acc, m) -> replace(acc, m.sym, m.pair))"))
      .drop("__msr")
  }

  /**
   * Trained-model token counting: appends `out` = the number of BPE
   * symbols in `textCol` under `merges` — per whitespace word, apply the
   * merge chain and count characters (every character IS one symbol once
   * merges collapse pairs into single placeholders), then sum across
   * words. This is the token column `Packer.withSequenceOffsets` /
   * `Chunker` budgets accept — context-window packing under the REAL
   * trained tokenizer instead of the whitespace approximation (q106).
   * Empty text counts 0 symbols. Map-only + 1-row model broadcast.
   *
   * Fast path: when no merge pair contains a space (every word-trained
   * model — `wordCounts` vocabularies cannot produce one), applying the
   * chain to the WHOLE text and subtracting the space count is exactly
   * the per-word sum — pairs and placeholder syms are space-free, so no
   * occurrence can span a word boundary and spaces survive every
   * replace. That is ONE fold per document instead of one per word
   * (same replace work, a words-per-doc factor fewer HOF evaluations).
   * A model with space-bearing pairs (bigram-unit training) takes the
   * literal per-word branch, keeping the documented per-word semantics.
   */
  def tokenCounts(df: DataFrame, textCol: String, merges: DataFrame,
      out: String): DataFrame = {
    require(!df.columns.contains("__ms"), "input column __ms is reserved")
    df.crossJoin(broadcast(mergeArray(merges)))
      .withColumn(out, expr(
        s"""if(exists(__ms, m -> contains(m.pair, ' ')),
              aggregate(
                transform(split($textCol, ' '),
                  w0 -> length(aggregate(__ms, w0, (acc, m) -> replace(acc, m.pair, m.sym)))),
                0L, (a, x) -> a + cast(x as bigint)),
              cast(length(aggregate(__ms, $textCol, (acc, m) -> replace(acc, m.pair, m.sym)))
                   - (length($textCol) - length(replace($textCol, ' ', ''))) as bigint))"""))
      .drop("__ms")
  }
}
