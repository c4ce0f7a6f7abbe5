package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * INT-SYMBOL batched BPE trainer — [[Bpe.fitBlocked]] past the
 * single-character-placeholder ceiling. Symbols are ints (base = code
 * point, merge k = `0x110000 + k - 1`, see
 * [[graft.functions.BpeIntKit]]), so the merge count is unbounded by any
 * character range, no corpus-cleanliness precondition exists (ids live
 * above all of Unicode), and the trained model rides the plan as ONE
 * compact spec literal inside a single [[graft.functions.BpeEncode]]
 * expression — plan size is O(1) in the merge count where the string
 * trainer's replace-fold was O(nMerges). 8192-merge GPT-class
 * vocabularies train in ~52 rounds on the fixture corpus.
 *
 * Election per round (the [[Bpe.fitBlocked]] discipline in the int
 * domain, with the tighter LEFT/RIGHT acceptance rule): rank this
 * round's adjacent-pair counts (count desc, then (a, b) asc — int
 * order), walk the top `candCap` in rank order accepting pair (a, b)
 * iff `a` is not the RIGHT symbol of an already-accepted pair and `b`
 * is not the LEFT symbol of one (for a self-pair (a, a) this reduces
 * to "a appears on neither side"), stop at
 * `min(acceptCap, nMerges - merged)`. Two occurrences of accepted
 * pairs can only overlap when one's right symbol is the other's left
 * symbol, so under this rule batch members never overlap — applying
 * the batch together equals applying its members one at a time in
 * rank order, every accepted merge is real, and none records a stale
 * count (same-left pairs (a,b)/(a,d) and same-right pairs (a,b)/(c,b)
 * are now batchable: their occurrences are position-disjoint by
 * construction). Consecutive matched positions still only occur inside
 * (a, a) self-pair runs — any other adjacency would put a symbol on
 * both sides — so greedy left-to-right application remains the
 * odd-parity-of-run rule the oracle replays. Rank-1 is never blocked,
 * so every round with candidates makes progress; the wider batches cut
 * the 8192-merge round count roughly 3x vs the symbol-disjoint rule.
 *
 * The per-round state is the trained spec itself: each round re-derives
 * the working vocabulary as `bpe_encode(w, spec-so-far)` over the
 * checkpointed word table (min-rank-first replay == the sequential
 * merge history — later merges never enable earlier ones), so the only
 * mutable state is a driver-side string and the plan never grows with
 * rounds. The election is a bounded MODEL-sized collect (top-candCap
 * (a, b, n) rows — the `Logit.fit` gradient-row discipline; corpus rows
 * never reach the driver).
 *
 * Output: one row per merge, `(midx, rnd, a, b, id, n)` — global merge
 * index, the election round it came from (the logged round count), the
 * merged pair, its id, and the count it was elected at.
 *
 * Reference context: the reference engine has no tokenizer
 * (spark-2.4/…/BI5DataSource.scala:24 is a tick-data connector); this is
 * beyond-reference LLM-pipeline surface (SURVEY.md §2.5).
 */
object BpeInt {

  /** First merge id — [[graft.functions.BpeIntKit.IdBase]]. */
  val IdBase: Int = graft.functions.BpeIntKit.IdBase

  /** Word 4-gram units (spaces kept inside the unit), weighted by corpus
    * frequency — the training table with enough combinatorial headroom
    * for 8k+ merges (the bigram table exhausts near 1k, 3-grams slow to
    * a crawl past ~5k). Tokenization is the script-aware
    * [[graft.functions.TokenizeText]] grammar; docs with fewer than four
    * tokens contribute nothing. One hash shuffle. */
  def fourgramCounts(df: DataFrame, textCol: String): DataFrame = {
    graft.functions.NativeFunctions.register(df.sparkSession)
    df.select(expr(s"tokenize_text(`$textCol`)").as("__toks"))
      .filter(size(col("__toks")) >= 4)
      .select(explode(expr(
        """transform(sequence(1, size(__toks) - 3),
             i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1),
                         ' ', element_at(__toks, i + 2), ' ', element_at(__toks, i + 3)))"""))
        .as("w"))
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
    fitCore(spark, words, wordCol, countCol, nMerges, maxRounds, candCap,
      acceptCap, IdBase, "bpe_encode", "BpeInt.fitBlocked")
  }

  /** The shared int-symbol election loop — [[fitBlocked]] parameterized
    * by the encode function and id base so the byte-level trainer
    * ([[BpeByte]]) runs the IDENTICAL election (L/R rule, tie-breaks,
    * per-round re-derivation) over its own symbol space. */
  private[operators] def fitCore(
      spark: SparkSession,
      words: DataFrame,
      wordCol: String,
      countCol: String,
      nMerges: Int,
      maxRounds: Int,
      candCap: Int,
      acceptCap: Int,
      idBase: Int,
      encodeFn: String,
      who: String): DataFrame = {
    require(nMerges >= 1, s"nMerges ($nMerges) must be positive")
    require(nMerges + idBase < graft.functions.BpeIntKit.SymLimit,
      s"nMerges ($nMerges) exceeds the packed-symbol limit")
    require(maxRounds >= 1 && candCap >= 1 && acceptCap >= 1,
      s"maxRounds ($maxRounds), candCap ($candCap), acceptCap ($acceptCap) must be positive")
    require(words.columns.contains(wordCol) && words.columns.contains(countCol),
      s"words must carry $wordCol and $countCol")
    // loud null contract INSIDE the projected column (pruning-proof); no
    // placeholder-collision guard is needed — merge ids live above the
    // base alphabet by construction (above Unicode / above byte 255)
    val guarded = when(col(wordCol).isNull || col(countCol).isNull,
      raise_error(lit(s"$who: $wordCol/$countCol must be non-null"))
        .cast("string"))
      .otherwise(col(wordCol))
    val wc = words
      .select(guarded.as("w"), col(countCol).cast("long").as("wcnt"))
      .localCheckpoint(true)
    // Size-adaptive dispatch (optimization round r11, guide §1.2 step 1):
    // the unit table is model-class data (distinct pre-tokens / n-gram
    // vocabulary with counts), and when it fits the driver the WHOLE
    // election can run locally over one collect — the per-round
    // Spark-job loop (one full re-encode + explode + aggregate + top-K
    // job per round, 16-52 rounds) collapses into one job plus a
    // driver-side incremental pair-count election producing the
    // IDENTICAL merge table (same counts, same (n desc, a, b) ranking,
    // same L/R acceptance — locked by BpeLocalFitSpec). The threshold is
    // the broadcast-join discipline: configurable, char-volume-based, and
    // at 100 TB a corpus whose unit table outgrows it takes the existing
    // distributed per-round path unchanged.
    val maxChars = spark.conf.getOption("spark.graft.bpe.localFitMaxChars")
      .map(_.toLong).getOrElse(32L * 1024 * 1024)
    val szRow = wc.agg(count(lit(1)).as("n"),
      coalesce(sum(length(col("w"))), lit(0L)).as("chars")).collect()(0)
    if (szRow.getLong(1) <= maxChars) {
      val units = wc.collect().map(r => (r.getString(0), r.getLong(1)))
      return fitLocal(spark, units, nMerges, maxRounds, candCap, acceptCap,
        idBase, encodeFn == "bpe_encode_bytes", who)
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int, Int, Long)]
    val specSb = new java.lang.StringBuilder
    var merged = 0
    var round = 0
    var exhausted = false
    while (merged < nMerges && round < maxRounds && !exhausted) {
      round += 1
      // spec is pure digits/':'/';' — safe to splice into SQL text
      val cand = wc
        .withColumn("syms", expr(s"$encodeFn(w, '${specSb.toString}')"))
        .filter(size(col("syms")) >= 2)
        .select(col("wcnt"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
               i -> named_struct('a', element_at(syms, i), 'b', element_at(syms, i + 1)))"""))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b")).agg(sum("wcnt").as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(candCap)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      if (cand.isEmpty) exhausted = true
      else {
        val cap = math.min(acceptCap, nMerges - merged)
        // L/R rule: reject (a, b) iff a is some accepted pair's RIGHT or b
        // is some accepted pair's LEFT (self-pairs land in both sets) —
        // occurrences of the accepted batch then never overlap, so batch
        // application == sequential application in rank order
        val usedL = scala.collection.mutable.Set.empty[Int]
        val usedR = scala.collection.mutable.Set.empty[Int]
        var taken = 0
        var j = 0
        while (j < cand.length && taken < cap) {
          val (a, b, n) = cand(j)
          if (!usedR.contains(a) && !usedL.contains(b)) {
            taken += 1
            val midx = merged + taken
            rows += ((midx, round, a, b, idBase + midx - 1, n))
            usedL += a; usedR += b
            if (specSb.length > 0) specSb.append(';')
            specSb.append(a).append(':').append(b)
          }
          j += 1
        }
        merged += taken
      }
    }
    require(rows.nonEmpty,
      s"$who: vocabulary has no adjacent pairs — nothing to train on")
    import spark.implicits._
    rows.toSeq.toDF("midx", "rnd", "a", "b", "id", "n")
  }

  /** Driver-local election over a collected unit table — the IDENTICAL
    * election [[fitCore]]'s distributed loop runs (same positional
    * adjacent-pair counts weighted by `wcnt`, same (n desc, a asc, b asc)
    * candidate ranking and `candCap` truncation, same L/R batch
    * acceptance, same per-round ids), computed incrementally: pair counts
    * are maintained under merge application (subtract an affected unit's
    * adjacencies, apply the round's accepted batch min-rank-first via the
    * shared [[graft.functions.BpeIntKit.replayMinRank]] kernel, re-add),
    * so each round touches only units containing an accepted pair. A
    * merge never makes two PRE-EXISTING symbols adjacent (it replaces two
    * symbols by one), so new pairs always involve a new id and the
    * pair->units index stays complete by construction; stale entries
    * (unit no longer carries the pair) are harmless — the
    * subtract/apply/re-add cycle is a no-op on them. */
  private[operators] def fitLocal(
      spark: SparkSession,
      units: Array[(String, Long)],
      nMerges: Int,
      maxRounds: Int,
      candCap: Int,
      acceptCap: Int,
      idBase: Int,
      byteLevel: Boolean,
      who: String): DataFrame = {
    val nU = units.length
    val syms = new Array[Array[Int]](nU)
    val lens = new Array[Int](nU)
    val wcnts = new Array[Long](nU)
    var i = 0
    while (i < nU) {
      val (w, c) = units(i)
      syms(i) =
        if (byteLevel) {
          val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val a = new Array[Int](b.length)
          var k = 0
          while (k < b.length) { a(k) = b(k) & 0xff; k += 1 }
          a
        } else {
          val a = new Array[Int](w.length)
          var n = 0
          var j = 0
          while (j < w.length) {
            val cp = w.codePointAt(j)
            a(n) = cp; n += 1
            j += Character.charCount(cp)
          }
          if (n == a.length) a else java.util.Arrays.copyOf(a, n)
        }
      lens(i) = syms(i).length
      wcnts(i) = c
      i += 1
    }
    val Lim = graft.functions.BpeIntKit.SymLimit
    def key(a: Int, b: Int): Long = a.toLong * Lim + b
    val counts = new java.util.HashMap[Long, Long]()
    val index = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
    // indexFloor: index only pairs with a symbol >= indexFloor — on
    // re-add after a round's merges, pairs of two OLDER symbols can never
    // be new (a merge replaces two symbols by one; it never makes two
    // pre-existing symbols adjacent), so they are already indexed.
    def addPairs(u: Int, indexFloor: Int): Unit = {
      val s = syms(u); val n = lens(u); val c = wcnts(u)
      var j = 0
      while (j < n - 1) {
        val k = key(s(j), s(j + 1))
        counts.merge(k, c, (x, y) => x + y)
        if (s(j) >= indexFloor || s(j + 1) >= indexFloor) {
          val lst = index.computeIfAbsent(k, _ => scala.collection.mutable.ArrayBuffer.empty[Int])
          if (lst.isEmpty || lst(lst.length - 1) != u) lst += u
        }
        j += 1
      }
    }
    def subPairs(u: Int): Unit = {
      val s = syms(u); val n = lens(u); val c = wcnts(u)
      var j = 0
      while (j < n - 1) {
        val k = key(s(j), s(j + 1))
        // r12 (ADVICE): the counts/index completeness invariant is
        // load-bearing — fail loudly (not as an unboxing NPE) if a future
        // change ever breaks it
        val left = counts.getOrDefault(k, 0L) - c
        require(left >= 0L,
          s"BpeInt.fitLocal: pair-count invariant broken for key $k (count went negative)")
        if (left == 0L) counts.remove(k) else counts.put(k, left)
        j += 1
      }
    }
    i = 0
    while (i < nU) { addPairs(i, indexFloor = 0); i += 1 }

    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int, Int, Long)]
    val specSb = new java.lang.StringBuilder
    val stamp = new Array[Int](nU) // round-visited marks for affected dedup
    var merged = 0
    var round = 0
    var exhausted = false
    while (merged < nMerges && round < maxRounds && !exhausted) {
      round += 1
      if (counts.isEmpty) exhausted = true
      else {
        // candidate frame: every live pair, ranked (n desc, a asc, b asc),
        // truncated to candCap — the distributed loop's orderBy + limit
        val it = counts.entrySet().iterator()
        val cand = new Array[(Int, Int, Long)](counts.size())
        var m = 0
        while (it.hasNext) {
          val e = it.next()
          cand(m) = ((e.getKey / Lim).toInt, (e.getKey % Lim).toInt, e.getValue)
          m += 1
        }
        java.util.Arrays.sort(cand, new java.util.Comparator[(Int, Int, Long)] {
          def compare(x: (Int, Int, Long), y: (Int, Int, Long)): Int = {
            if (x._3 != y._3) java.lang.Long.compare(y._3, x._3)
            else if (x._1 != y._1) Integer.compare(x._1, y._1)
            else Integer.compare(x._2, y._2)
          }
        })
        val lim = math.min(candCap, cand.length)
        val cap = math.min(acceptCap, nMerges - merged)
        val usedL = scala.collection.mutable.Set.empty[Int]
        val usedR = scala.collection.mutable.Set.empty[Int]
        val batch = new java.util.HashMap[Long, Integer]()
        var taken = 0
        var j = 0
        while (j < lim && taken < cap) {
          val (a, b, n) = cand(j)
          if (!usedR.contains(a) && !usedL.contains(b)) {
            taken += 1
            val midx = merged + taken
            rows += ((midx, round, a, b, idBase + midx - 1, n))
            usedL += a; usedR += b
            // replayMinRank reads GLOBAL ranks: id = idBase + rank - 1
            batch.put(key(a, b), Integer.valueOf(midx))
            if (specSb.length > 0) specSb.append(';')
            specSb.append(a).append(':').append(b)
          }
          j += 1
        }
        // apply the batch to every unit listed under an accepted pair
        val affected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val bit = batch.keySet().iterator()
        while (bit.hasNext) {
          val lst = index.get(bit.next())
          if (lst != null) {
            var p = 0
            while (p < lst.length) {
              val u = lst(p)
              if (stamp(u) != round) { stamp(u) = round; affected += u }
              p += 1
            }
          }
        }
        var q = 0
        while (q < affected.length) {
          val u = affected(q)
          subPairs(u)
          lens(u) = graft.functions.BpeIntKit.replayMinRank(syms(u), lens(u), batch, idBase)
          addPairs(u, indexFloor = idBase + merged)
          q += 1
        }
        merged += taken
      }
    }
    require(rows.nonEmpty,
      s"$who: vocabulary has no adjacent pairs — nothing to train on")
    import spark.implicits._
    rows.toSeq.toDF("midx", "rnd", "a", "b", "id", "n")
  }

  /** The trained model as a [[graft.functions.BpeEncode]] spec string —
    * a bounded MODEL-sized collect (one short row per merge). */
  def specOf(merges: DataFrame): String = {
    val ms = merges.select("midx", "a", "b").orderBy("midx")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    require(ms.nonEmpty, "BpeInt.specOf: empty merge table")
    ms.zipWithIndex.foreach { case ((midx, _, _), i) =>
      require(midx == i + 1, s"BpeInt.specOf: merge indices must be contiguous from 1, got $midx at $i")
    }
    ms.map { case (_, a, b) => s"$a:$b" }.mkString(";")
  }

  /** Surface spelling of every trained symbol id — the human-readable
    * vocabulary dump. Driver-side recursive expansion over the
    * model-sized merge list (id -> a b -> … -> code points). */
  def spellings(merges: DataFrame): Seq[(Int, String)] = {
    val ms = merges.select("midx", "a", "b").orderBy("midx")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    val memo = scala.collection.mutable.Map.empty[Int, String]
    def spell(sym: Int): String =
      if (sym < IdBase) new String(Character.toChars(sym))
      else memo.getOrElseUpdate(sym, {
        val (_, a, b) = ms(sym - IdBase)
        spell(a) + spell(b)
      })
    ms.map { case (midx, _, _) => (midx, spell(IdBase + midx - 1)) }.toSeq
  }
}
