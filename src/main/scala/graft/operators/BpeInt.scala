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
 * Election per round: [[Bpe.elect]], the L/R batch walk every trainer
 * shares, over int symbols ranked (count desc, then (a, b) asc). Batch
 * members never overlap, and consecutive matched positions only occur
 * inside (a, a) self-pair runs — any other adjacency would put a symbol
 * on both sides — so greedy left-to-right application is the
 * odd-parity-of-run rule the oracle replays.
 *
 * The per-round state is the trained spec itself: each round re-derives
 * the working vocabulary as `bpe_encode(w, spec-so-far)` over the
 * checkpointed word table (min-rank-first replay == the sequential
 * merge history — later merges never enable earlier ones), so the only
 * mutable state is a driver-side string and the plan never grows with
 * rounds. The election is a bounded MODEL-sized collect (top-candCap
 * (a, b, n) rows — the `Logit.fit` gradient-row discipline; corpus rows
 * never reach the driver). A unit table that fits the driver trains
 * locally instead ([[fitLocal]]), producing the same rows.
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
      acceptCap, IdBase, "bpe_encode", "BpeInt.fitBlocked", Bpe.LocalFitMaxChars)
  }

  /** [[fitBlocked]] parameterized by the encode function and id base, so
    * the byte-level trainer ([[BpeByte]]) runs the same [[Bpe.elect]] over
    * its own symbol space, and by the local-fit threshold of
    * [[Bpe.localUnits]], so a spec can force either path. */
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
      who: String,
      maxChars: Long): DataFrame = {
    Bpe.requireKnobs(nMerges, maxRounds, candCap, acceptCap)
    require(nMerges + idBase < graft.functions.BpeIntKit.SymLimit,
      s"nMerges ($nMerges) exceeds the packed-symbol limit")
    // no placeholder-collision guard is needed — merge ids live above the
    // base alphabet by construction (above Unicode / above byte 255)
    val wc = Bpe.unitTable(words, wordCol, countCol, who, lit(false),
      "must be non-null; got word ")
    val merges = Bpe.localUnits(wc, maxChars) match {
      case Some(units) =>
        fitLocal(units, nMerges, maxRounds, candCap, acceptCap, idBase,
          encodeFn == "bpe_encode_bytes", who)
      case None =>
        // the per-round state is the spec so far: each round re-derives
        // the working vocabulary as encodeFn(w, spec) over the checkpointed
        // table, so the plan never grows with rounds
        val specSb = new java.lang.StringBuilder
        Bpe.elect(nMerges, maxRounds, acceptCap, who) { () =>
          // spec is pure digits/':'/';' — safe to splice into SQL text
          wc.withColumn("syms", expr(s"$encodeFn(w, '${specSb.toString}')"))
            .filter(size(col("syms")) >= 2)
            .select(col("wcnt"), explode(expr(
              """transform(sequence(1, size(syms) - 1),
                   i -> named_struct('a', element_at(syms, i), 'b', element_at(syms, i + 1)))"""))
              .as("p"))
            .groupBy(col("p.a").as("a"), col("p.b").as("b")).agg(sum("wcnt").as("n"))
            .orderBy(col("n").desc, col("a"), col("b"))
            .limit(candCap)
            .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        } { batch =>
          batch.foreach { m =>
            if (specSb.length > 0) specSb.append(';')
            specSb.append(m.a).append(':').append(m.b)
          }
        }
    }
    import spark.implicits._
    merges.map(m => (m.midx, m.rnd, m.a, m.b, idBase + m.midx - 1, m.n))
      .toDF("midx", "rnd", "a", "b", "id", "n")
  }

  /** Driver-local [[Bpe.elect]] over a collected unit table — the
    * election the distributed loops run (same positional adjacent-pair
    * counts weighted by `wcnt`, same (n desc, a asc, b asc) ranking and
    * `candCap` truncation, merge k = id `idBase + k - 1`), computed
    * incrementally: pair counts are maintained under merge application
    * (subtract an affected unit's adjacencies, apply the round's accepted
    * batch min-rank-first via the shared
    * [[graft.functions.BpeIntKit.replayMinRank]] kernel, re-add), so each
    * round touches only units containing an accepted pair. A merge never
    * makes two PRE-EXISTING symbols adjacent (it replaces two symbols by
    * one), so new pairs always involve a new id and the pair->units index
    * stays complete by construction; stale entries (unit no longer
    * carries the pair) are harmless — the subtract/apply/re-add cycle is
    * a no-op on them. Symbols are code points, or UTF-8 bytes when
    * `byteLevel`. */
  private[operators] def fitLocal(
      units: Array[(String, Long)],
      nMerges: Int,
      maxRounds: Int,
      candCap: Int,
      acceptCap: Int,
      idBase: Int,
      byteLevel: Boolean,
      who: String): Seq[Bpe.Merge] = {
    val nU = units.length
    val syms = new Array[Array[Int]](nU)
    val lens = new Array[Int](nU)
    val wcnts = new Array[Long](nU)
    var i = 0
    while (i < nU) {
      val (w, c) = units(i)
      syms(i) =
        if (byteLevel) w.getBytes(java.nio.charset.StandardCharsets.UTF_8).map(_ & 0xff)
        else w.codePoints().toArray
      lens(i) = syms(i).length
      wcnts(i) = c
      i += 1
    }
    val Lim = graft.functions.BpeIntKit.SymLimit
    def key(a: Int, b: Int): Long = a.toLong * Lim + b
    val counts = new java.util.HashMap[Long, Long]()
    val index = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
    // index only pairs with a symbol in [lo, hi) — on re-add after a
    // round's merges that range holds the round's new ids: pairs of two
    // OLDER symbols can never be new (a merge replaces two symbols by one;
    // it never makes two pre-existing symbols adjacent), so they are
    // already indexed
    def addPairs(u: Int, lo: Int, hi: Int): Unit = {
      val s = syms(u); val n = lens(u); val c = wcnts(u)
      var j = 0
      while (j < n - 1) {
        val k = key(s(j), s(j + 1))
        counts.merge(k, c, (x, y) => x + y)
        if ((s(j) >= lo && s(j) < hi) || (s(j + 1) >= lo && s(j + 1) < hi)) {
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
    while (i < nU) { addPairs(i, 0, Int.MaxValue); i += 1 }

    val stamp = new Array[Int](nU) // round-visited marks for affected dedup
    Bpe.elect(nMerges, maxRounds, acceptCap, who) { () =>
      // every live pair, ranked (n desc, a asc, b asc), truncated to
      // candCap — the distributed loop's orderBy + limit
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
      cand.take(candCap)
    } { batch =>
      // replayMinRank reads GLOBAL ranks: id = idBase + rank - 1
      val ranks = new java.util.HashMap[Long, Integer]()
      batch.foreach(m => ranks.put(key(m.a, m.b), Integer.valueOf(m.midx)))
      val round = batch.head.rnd
      // apply the batch to every unit listed under an accepted pair
      val affected = scala.collection.mutable.ArrayBuffer.empty[Int]
      batch.foreach { m =>
        val lst = index.get(key(m.a, m.b))
        if (lst != null) lst.foreach { u =>
          if (stamp(u) != round) { stamp(u) = round; affected += u }
        }
      }
      val lo = idBase + batch.head.midx - 1
      affected.foreach { u =>
        subPairs(u)
        lens(u) = graft.functions.BpeIntKit.replayMinRank(syms(u), lens(u), ranks, idBase)
        addPairs(u, lo, lo + batch.length)
      }
    }
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
