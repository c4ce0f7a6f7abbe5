package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Byte-pair-encoding TRAINER and APPLIER at arbitrary merge count — the
 * generalization of q156's 3 unrolled rounds into a driver-loop operator
 * (the `Ann.kmeansFit` pattern: per-round 1-row elections stay DataFrames,
 * `localCheckpoint` pins each round so round r+1 never recomputes rounds
 * 1..r; the driver never sees corpus data).
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
 * vocab-sized table (pair explode ~ avg word length x vocab), elects a
 * 1-row winner via `TakeOrderedAndProject`, and broadcasts it back into
 * `replace()`. Application to new text is map-only: the trained merge
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
   * Train `nMerges` BPE merge rounds over a `(wordCol, countCol)` table.
   * Returns the merge table `(round int, pair string, sym string, n bigint)`
   * in training order; `pair` is spelled in the CURRENT symbol alphabet of
   * its round (earlier placeholders may appear inside it), `sym` is the
   * single placeholder character the pair merged into. Stops early (fewer
   * than `nMerges` rows) if the vocabulary runs out of adjacent pairs —
   * real trainers stop, they don't loop on an empty election.
   *
   * Control plane: one 1-row `localCheckpoint` + one `isEmpty` probe per
   * round (the bounded per-round driver reads `Dedup.clusters` documents);
   * corpus/vocab data never reaches the driver.
   */
  def fit(
      spark: SparkSession,
      words: DataFrame,
      wordCol: String,
      countCol: String,
      nMerges: Int,
      baseCp: Int = DefaultBaseCp): DataFrame = {
    require(nMerges >= 1, s"nMerges ($nMerges) must be positive")
    requirePlaceholderRange(baseCp, nMerges)
    val reserved = Set("w", "wcnt", "pair", "sym", "n", "round", "__bp")
    // the training frame is rebuilt with exactly (w, wcnt); only name
    // collisions on the INPUT columns we read matter
    require(words.columns.contains(wordCol) && words.columns.contains(countCol),
      s"words must carry $wordCol and $countCol")
    // loud precondition INSIDE the projected column (the kmeansFit/GlobalRank
    // pattern — pruning can never drop it): no word may already contain a
    // placeholder code point, and words/counts must be non-null
    val guarded = when(
      col(wordCol).isNull || col(countCol).isNull ||
        col(wordCol).rlike(placeholderClass(baseCp, nMerges)),
      raise_error(concat(
        lit(s"Bpe.fit: $wordCol/$countCol must be non-null and contain no " +
          s"placeholder code points in [$baseCp, ${baseCp + nMerges}); got word "),
        coalesce(col(wordCol), lit("null")))).cast("string"))
      .otherwise(col(wordCol))
    var wc = words
      .select(guarded.as("w"), col(countCol).cast("long").as("wcnt"))
      .localCheckpoint(true)
    // Size-adaptive dispatch (optimization round r11 — the BpeInt.fitLocal
    // discipline): a vocab-sized word table runs the IDENTICAL election
    // locally over one collect instead of 2 Spark jobs per merge round
    // (the guard already executed during the checkpoint). Same counts
    // (adjacent code-point pairs, overlap-inclusive, wcnt-weighted), same
    // (n desc, pair asc in UTF-8 byte order) top-1, same replace
    // semantics — locked by BpeLocalFitSpec.
    if (localFitFits(spark, wc)) {
      val units = wc.collect().map(r => (r.getString(0), r.getLong(1)))
      return fitLocalSeq(spark, units, nMerges, baseCp)
    }
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val sym = placeholderSym(baseCp, r)
      // this round's election: every adjacent 2-char pair, wcnt-weighted,
      // top-1 by (n desc, pair asc) — TakeOrderedAndProject, 1 row
      val top = wc.filter(length(col("w")) >= 2)
        .select(col("wcnt"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum("wcnt").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(1)
        .select(lit(r).as("round"), col("pair"), lit(sym).as("sym"), col("n"))
        .localCheckpoint(true)
      if (top.isEmpty) {
        exhausted = true
      } else {
        rounds += top
        // merge the winner everywhere; Column-API replace keeps the control
        // character out of any SQL text that would need parsing
        wc = wc.crossJoin(broadcast(top.select(col("pair").as("__bp"))))
          .withColumn("w", replace(col("w"), col("__bp"), lit(sym)))
          .select("w", "wcnt")
          .localCheckpoint(true)
        r += 1
      }
    }
    require(rounds.nonEmpty,
      "Bpe.fit: vocabulary has no adjacent pairs — nothing to train on")
    rounds.reduce(_.unionByName(_))
  }

  /** [[fit]] straight from a corpus text column. */
  def fitOnText(
      spark: SparkSession,
      df: DataFrame,
      textCol: String,
      nMerges: Int,
      baseCp: Int = DefaultBaseCp): DataFrame =
    fit(spark, wordCounts(df, textCol), "w", "wcnt", nMerges, baseCp)

  /**
   * BATCHED BPE trainer for production merge counts — `fit` elects one
   * pair per round (the exact Sennrich sequence: 512 merges = 512 driver
   * rounds), this variant elects a whole GREEDY BATCH per round under
   * the LEFT/RIGHT acceptance rule (the [[BpeInt.fitBlocked]]
   * discipline): rank this round's pair counts (count desc, pair asc),
   * walk the top `candCap` in rank order accepting pair `ab` iff `a` is
   * not the RIGHT char of an already-accepted pair and `b` is not the
   * LEFT char of one (a self-pair `aa` needs `a` on neither side), stop
   * at `min(acceptCap, nMerges - merged)`. Two occurrences of accepted
   * pairs can only overlap when one's right char is the other's left
   * char, so batch members never overlap — applying them together (or
   * as a literal replace fold in any order) equals applying them
   * one-by-one, each accepted merge is real, and none records a stale
   * count (unlike the unrestricted top-k heuristic). Same-left and
   * same-right pairs batch together, so 512 merges train in ~8 rounds
   * where the char-disjoint rule took ~20 and sequential fit takes 512.
   *
   * The election itself is a bounded driver step: the top-`candCap`
   * (pair, count) rows — aggregate MODEL data, the `Logit.fit` gradient-
   * row discipline, never corpus rows — are collected, the greedy walk
   * runs driver-side, and the accepted batch returns to the plan as
   * `candCap`-bounded literal `replace()` folds (codegen'd; no HOF on
   * the training path). Rounds are `localCheckpoint`-pinned like `fit`.
   *
   * Output schema = `fit`'s (`round` = GLOBAL merge index in election
   * order, `pair` in the current alphabet of its round, `sym`, `n`), so
   * [[applyMerges]]/[[decodeSpellings]]/[[tokenCounts]] work unchanged.
   * Training stops early when the vocabulary runs out of pairs or
   * `maxRounds` is hit (both engines of an oracle replay see the same
   * bound, so a fixed-round generated twin stays exact).
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
      baseCp: Int = DefaultBaseCp): DataFrame = {
    require(nMerges >= 1, s"nMerges ($nMerges) must be positive")
    require(maxRounds >= 1 && candCap >= 1 && acceptCap >= 1,
      s"maxRounds ($maxRounds), candCap ($candCap), acceptCap ($acceptCap) must be positive")
    requirePlaceholderRange(baseCp, nMerges)
    require(words.columns.contains(wordCol) && words.columns.contains(countCol),
      s"words must carry $wordCol and $countCol")
    val guarded = when(
      col(wordCol).isNull || col(countCol).isNull ||
        col(wordCol).rlike(placeholderClass(baseCp, nMerges)),
      raise_error(concat(
        lit(s"Bpe.fitBlocked: $wordCol/$countCol must be non-null and contain no " +
          s"placeholder code points in [$baseCp, ${baseCp + nMerges}); got word "),
        coalesce(col(wordCol), lit("null")))).cast("string"))
      .otherwise(col(wordCol))
    var wc = words
      .select(guarded.as("w"), col(countCol).cast("long").as("wcnt"))
      .localCheckpoint(true)
    // Size-adaptive dispatch (r11): identical batched election locally
    // when the word table is vocab-sized — see [[fit]]'s dispatch note.
    if (localFitFits(spark, wc)) {
      val units = wc.collect().map(r => (r.getString(0), r.getLong(1)))
      return fitBlockedLocal(spark, units, nMerges, maxRounds, candCap,
        acceptCap, baseCp)
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var merged = 0
    var round = 0
    var exhausted = false
    while (merged < nMerges && round < maxRounds && !exhausted) {
      round += 1
      // bounded model-sized collect: top-candCap (pair, n), rank order
      val cand = wc.filter(length(col("w")) >= 2)
        .select(col("wcnt"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum("wcnt").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(candCap)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      if (cand.isEmpty) exhausted = true
      else {
        // greedy L/R walk (rank-1 is never blocked => progress): reject
        // pair ab iff a is an accepted pair's RIGHT or b is an accepted
        // pair's LEFT — accepted occurrences then never overlap
        val cap = math.min(acceptCap, nMerges - merged)
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        val usedL = scala.collection.mutable.Set.empty[Char]
        val usedR = scala.collection.mutable.Set.empty[Char]
        var j = 0
        while (j < cand.length && accepted.length < cap) {
          val (p, n) = cand(j)
          if (!usedR.contains(p.charAt(0)) && !usedL.contains(p.charAt(1))) {
            accepted += ((p, n)); usedL += p.charAt(0); usedR += p.charAt(1)
          }
          j += 1
        }
        val batch = accepted.toSeq.zipWithIndex.map { case ((p, n), i) =>
          (merged + i + 1, p, placeholderSym(baseCp, merged + i + 1), n)
        }
        rows ++= batch
        // no-overlap => the sequential literal fold IS the batch apply
        wc = batch.foldLeft(wc) { case (df, (_, p, sym, _)) =>
          df.withColumn("w", replace(col("w"), lit(p), lit(sym)))
        }.select("w", "wcnt").localCheckpoint(true)
        merged += batch.size
      }
    }
    require(rows.nonEmpty,
      "Bpe.fitBlocked: vocabulary has no adjacent pairs — nothing to train on")
    import spark.implicits._
    rows.toSeq.toDF("round", "pair", "sym", "n")
  }

  /** r11 dispatch probe: true when the (already-checkpointed) word table's
    * char volume fits `spark.graft.bpe.localFitMaxChars` (default 32M —
    * the BpeInt.fitLocal threshold; 0 forces the distributed path). */
  private def localFitFits(spark: SparkSession, wc: DataFrame): Boolean = {
    val maxChars = spark.conf.getOption("spark.graft.bpe.localFitMaxChars")
      .map(_.toLong).getOrElse(32L * 1024 * 1024)
    val szRow = wc.agg(count(lit(1)).as("n"),
      coalesce(sum(length(col("w"))), lit(0L)).as("chars")).collect()(0)
    szRow.getLong(1) <= maxChars
  }

  /** Spark's string ORDER BY is UTF-8 byte order; Java's compareTo is
    * UTF-16 unit order — they differ for supplementary characters, so the
    * local elections compare encoded bytes. */
  private val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int = {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }

  /** Adjacent 2-code-point pair counts (overlap-inclusive, wcnt-weighted)
    * over the current local words — the distributed round's
    * `explode(substring(w, i, 2)) groupBy sum(wcnt)` exactly. */
  private def localPairCounts(
      ws: Array[String], cs: Array[Long]): java.util.HashMap[String, Long] = {
    val m = new java.util.HashMap[String, Long]()
    var u = 0
    while (u < ws.length) {
      val w = ws(u)
      val c = cs(u)
      if (w.codePointCount(0, w.length) >= 2) {
        var i = 0 // UTF-16 index of the pair's first code point
        var next = w.offsetByCodePoints(0, 1)
        while (next < w.length) {
          val end = w.offsetByCodePoints(next, 1)
          m.merge(w.substring(i, end), c, (x, y) => x + y)
          i = next
          next = end
        }
      }
      u += 1
    }
    m
  }

  /** Driver-local [[fit]]: one top-1 election per merge round over the
    * collected vocab-sized table — identical output rows. */
  private def fitLocalSeq(
      spark: SparkSession,
      units: Array[(String, Long)],
      nMerges: Int,
      baseCp: Int): DataFrame = {
    val ws = units.map(_._1)
    val cs = units.map(_._2)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val m = localPairCounts(ws, cs)
      if (m.isEmpty) exhausted = true
      else {
        var bestP: String = null
        var bestN = Long.MinValue
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue > bestN ||
            (e.getValue == bestN && utf8Order.compare(e.getKey, bestP) < 0)) {
            bestP = e.getKey; bestN = e.getValue
          }
        }
        val sym = placeholderSym(baseCp, r)
        rows += ((r, bestP, sym, bestN))
        var u = 0
        while (u < ws.length) { ws(u) = ws(u).replace(bestP, sym); u += 1 }
        r += 1
      }
    }
    require(rows.nonEmpty,
      "Bpe.fit: vocabulary has no adjacent pairs — nothing to train on")
    import spark.implicits._
    rows.toSeq.toDF("round", "pair", "sym", "n")
  }

  /** Driver-local [[fitBlocked]]: the identical L/R batched election over
    * the collected vocab-sized table — identical output rows. */
  private def fitBlockedLocal(
      spark: SparkSession,
      units: Array[(String, Long)],
      nMerges: Int,
      maxRounds: Int,
      candCap: Int,
      acceptCap: Int,
      baseCp: Int): DataFrame = {
    val ws = units.map(_._1)
    val cs = units.map(_._2)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var merged = 0
    var round = 0
    var exhausted = false
    while (merged < nMerges && round < maxRounds && !exhausted) {
      round += 1
      val m = localPairCounts(ws, cs)
      if (m.isEmpty) exhausted = true
      else {
        val cand = new Array[(String, Long)](m.size())
        val it = m.entrySet().iterator()
        var k = 0
        while (it.hasNext) { val e = it.next(); cand(k) = (e.getKey, e.getValue); k += 1 }
        // (n desc, pair asc in UTF-8 byte order), truncated to candCap —
        // the distributed round's orderBy + limit
        java.util.Arrays.sort(cand, new java.util.Comparator[(String, Long)] {
          def compare(x: (String, Long), y: (String, Long)): Int =
            if (x._2 != y._2) java.lang.Long.compare(y._2, x._2)
            else utf8Order.compare(x._1, y._1)
        })
        val lim = math.min(candCap, cand.length)
        val cap = math.min(acceptCap, nMerges - merged)
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        val usedL = scala.collection.mutable.Set.empty[Char]
        val usedR = scala.collection.mutable.Set.empty[Char]
        var j = 0
        while (j < lim && accepted.length < cap) {
          val (p, n) = cand(j)
          if (!usedR.contains(p.charAt(0)) && !usedL.contains(p.charAt(1))) {
            accepted += ((p, n)); usedL += p.charAt(0); usedR += p.charAt(1)
          }
          j += 1
        }
        val batch = accepted.toSeq.zipWithIndex.map { case ((p, n), i) =>
          (merged + i + 1, p, placeholderSym(baseCp, merged + i + 1), n)
        }
        rows ++= batch
        batch.foreach { case (_, p, sym, _) =>
          var u = 0
          while (u < ws.length) { ws(u) = ws(u).replace(p, sym); u += 1 }
        }
        merged += batch.size
      }
    }
    require(rows.nonEmpty,
      "Bpe.fitBlocked: vocabulary has no adjacent pairs — nothing to train on")
    import spark.implicits._
    rows.toSeq.toDF("round", "pair", "sym", "n")
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
