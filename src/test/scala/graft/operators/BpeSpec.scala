package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Bpe trainer/applier: known-corpus merge sequence, train/apply
  * agreement, early stop, and the loud preconditions. */
class BpeSpec extends AnyFunSuite with SparkSuite {

  import scala.jdk.CollectionConverters._
  private def wordsDf(rows: (String, Long)*) = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("wcnt", org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(
      rows.map { case (w, c) => org.apache.spark.sql.Row(w, c) }.asJava, schema)
  }

  test("hand-checkable corpus trains the classic BPE merge sequence") {
    // Sennrich's toy example shape: low/lower/newest/widest with counts.
    // Pair frequencies (weighted): "es" = 6+3 = 9 (newest 6, widest 3),
    // "st" = 9, "ne" = 6 ... tie between "es" and "st" at 9 breaks to
    // "es" (pair-asc). After merge 1 (es -> <1>), "<1>t" has 9 — wins
    // round 2. Round 3: "lo" = 5+2 = 7.
    val words = wordsDf("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val m = Bpe.fit(spark, words, "w", "wcnt", nMerges = 3)
      .orderBy("round").collect()
    assert(m.map(_.getAs[String]("pair")).toSeq ===
      Seq("es", "\uE000t", "lo"))
    assert(m.map(_.getAs[Long]("n")).toSeq === Seq(9L, 9L, 7L))
    assert(m.map(_.getAs[String]("sym")).toSeq ===
      Seq("\uE000", "\uE001", "\uE002"))
  }

  test("applyMerges reproduces the trainer's own final spellings") {
    val words = wordsDf("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val m = Bpe.fit(spark, words, "w", "wcnt", nMerges = 3)
    val applied = Bpe.applyMerges(words, "w", m, "mw")
      .orderBy("w").collect().map(r => r.getAs[String]("w") -> r.getAs[String]("mw")).toMap
    // newest -> new<1>t -> new<2> ; widest -> wid<2> ; low -> <3>w
    assert(applied("newest") === "new\uE001")
    assert(applied("widest") === "wid\uE001")
    assert(applied("low") === "\uE002w")
    assert(applied("lower") === "\uE002wer")
  }

  test("tokenCounts equals summed merged-word lengths (and 0 for empty text)") {
    val docs = spark.createDataFrame(Seq(
      (1L, "newest widest low"),
      (2L, ""),
      (3L, "lower lower")))
      .toDF("doc_id", "text")
    val words = wordsDf("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val m = Bpe.fit(spark, words, "w", "wcnt", nMerges = 3)
    val got = Bpe.tokenCounts(docs, "text", m, "n_bpe")
      .orderBy("doc_id").collect().map(_.getAs[Long]("n_bpe")).toSeq
    // new<2>(4) + wid<2>(4) + <3>w(2) = 10 ; "" = 0 ; <3>wer(4) x2 = 8
    assert(got === Seq(10L, 0L, 8L))
  }

  test("tokenCounts fast path == per-word fold; space-bearing pairs take the per-word branch") {
    import spark.implicits._
    val docs = spark.createDataFrame(Seq(
      (1L, "newest widest low"), (2L, ""), (3L, "lower  lower"), // double space
      (4L, " leading trailing "))).toDF("doc_id", "text")
    val words = wordsDf("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val m = Bpe.fit(spark, words, "w", "wcnt", nMerges = 3)
    // space-free model: whole-text fold minus spaces == per-word sum
    val fast = Bpe.tokenCounts(docs, "text", m, "n")
      .orderBy("doc_id").collect().map(_.getAs[Long]("n")).toSeq
    val perWord = docs.crossJoin(
        org.apache.spark.sql.functions.broadcast(
          m.agg(org.apache.spark.sql.functions.sort_array(
            org.apache.spark.sql.functions.collect_list(
              org.apache.spark.sql.functions.struct($"round", $"pair", $"sym"))).as("__ms"))))
      .withColumn("n", org.apache.spark.sql.functions.expr(
        """aggregate(transform(split(text, ' '),
             w0 -> length(aggregate(__ms, w0, (acc, mm) -> replace(acc, mm.pair, mm.sym)))),
             0L, (a, x) -> a + cast(x as bigint))"""))
      .orderBy("doc_id").collect().map(_.getAs[Long]("n")).toSeq
    assert(fast === perWord, "space-free model: fast path must equal the per-word fold")
    // a model whose pair CONTAINS a space must take the per-word branch,
    // where it can never match (words carry no spaces): counts unchanged
    val spaced = Seq((1, "t t", "")).toDF("round", "pair", "sym")
    val got = Bpe.tokenCounts(docs, "text", spaced, "n")
      .orderBy("doc_id").collect().map(_.getAs[Long]("n")).toSeq
    val plainChars = docs.selectExpr(
        "doc_id", "cast(length(replace(text, ' ', '')) as bigint) as n")
      .orderBy("doc_id").collect().map(_.getAs[Long]("n")).toSeq
    assert(got === plainChars,
      "space-bearing pair: per-word branch leaves every word untouched")
  }

  test("greedy left-to-right merge matches replace() semantics on overlaps") {
    // "aaa" with pair "aa": replace merges left-to-right non-overlapping,
    // so round 1 yields <1>a (not a<1>) — the BPE apply convention.
    val words = wordsDf("aaa" -> 1L)
    val m = Bpe.fit(spark, words, "w", "wcnt", nMerges = 1)
    val applied = Bpe.applyMerges(words, "w", m, "mw").collect().head.getAs[String]("mw")
    assert(applied === "\uE000a")
  }

  test("training stops early when the vocabulary runs out of pairs") {
    // "ab" admits exactly 2 merges: ab -> <1>, then no length-2 words left
    val words = wordsDf("ab" -> 3L, "c" -> 9L)
    val m = Bpe.fit(spark, words, "w", "wcnt", nMerges = 10)
    assert(m.count() === 1L)
  }

  test("placeholder collision and null inputs fail loudly") {
    val dirty = wordsDf("ok" -> 1L, "bad\uE000word" -> 1L)
    val e = intercept[Exception] {
      Bpe.fit(spark, dirty, "w", "wcnt", nMerges = 2).collect()
    }
    assert(e.getMessage.contains("placeholder") ||
      Option(e.getCause).exists(_.getMessage.contains("placeholder")))
    assertThrows[IllegalArgumentException] {
      Bpe.fit(spark, wordsDf("ab" -> 1L), "w", "wcnt", nMerges = 0)
    }
    assertThrows[IllegalArgumentException] {
      // placeholder range must not cross the UTF-16 surrogate block
      Bpe.fit(spark, wordsDf("ab" -> 1L), "w", "wcnt", nMerges = 10, baseCp = 0xD7FF)
    }
    assertThrows[IllegalArgumentException] {
      // ... and must stay single-char BMP
      Bpe.fit(spark, wordsDf("ab" -> 1L), "w", "wcnt", nMerges = 10, baseCp = 0xFFFC)
    }
    // the old C0 default's whitespace trap is gone: a corpus word carrying
    // a literal tab trains fine under the PUA default
    val tabby = wordsDf("a\tb" -> 3L, "cd" -> 1L)
    assert(Bpe.fit(spark, tabby, "w", "wcnt", nMerges = 2).count() >= 1L)
  }

  test("decodeSpellings inverts applyMerges exactly (surface round trip)") {
    val words = wordsDf("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val m = Bpe.fit(spark, words, "w", "wcnt", nMerges = 3)
    val applied = Bpe.applyMerges(words, "w", m, "mw")
    val back = Bpe.decodeSpellings(applied, "mw", m, "decoded")
      .collect().map(r => r.getAs[String]("w") -> r.getAs[String]("decoded")).toMap
    assert(back === Map("low" -> "low", "lower" -> "lower",
      "newest" -> "newest", "widest" -> "widest"),
      "reverse-order expansion must ground every placeholder")
    // the vocab view decodes each merged symbol to a real subword
    val vocab = Bpe.decodeSpellings(m, "pair", m, "token")
      .orderBy("round").collect().map(_.getAs[String]("token")).toSeq
    assert(vocab === Seq("es", "est", "lo"))
  }

  test("16-merge fit on real documents: applying merges back is lossless in weight") {
    // invariant: merging never changes the wcnt-weighted WORD count, and
    // symbol counts decrease monotonically round over round
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text")
    val wc = Bpe.wordCounts(docs, "text")
    val m = Bpe.fit(spark, wc, "w", "wcnt", nMerges = 16)
    val rounds = m.orderBy("round").collect()
    assert(rounds.length === 16)
    // each elected pair count is positive and the sequence of counts is
    // non-increasing is NOT guaranteed (merges can create new frequent
    // pairs) — but every count must be >= 1
    assert(rounds.forall(_.getAs[Long]("n") >= 1L))
    // applying all merges, total symbols = sum(wcnt * len(merged)) must be
    // strictly below the unmerged character count (16 real merges)
    val applied = Bpe.applyMerges(wc, "w", m, "mw")
    val Array(before, after) = applied
      .agg(sum(expr("wcnt * length(w)")), sum(expr("wcnt * length(mw)")))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    assert(after < before, s"16 merges must compress: $after !< $before")
  }

  test("fitBlocked with acceptCap=1 IS sequential fit (exact equivalence)") {
    // a 1-pair batch is the classic election: same winner, same count,
    // same placeholder — the batched trainer degenerates to Sennrich
    val words = wordsDf("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val seq = Bpe.fit(spark, words, "w", "wcnt", nMerges = 5)
      .orderBy("round").collect().map(r =>
        (r.getAs[Int]("round"), r.getAs[String]("pair"), r.getAs[String]("sym"), r.getAs[Long]("n")))
    val blk = Bpe.fitBlocked(spark, words, "w", "wcnt", nMerges = 5,
      maxRounds = 16, acceptCap = 1)
      .orderBy("round").collect().map(r =>
        (r.getAs[Int]("round"), r.getAs[String]("pair"), r.getAs[String]("sym"), r.getAs[Long]("n")))
    assert(blk.toSeq === seq.toSeq)
  }

  test("fitBlocked: batches obey the L/R rule and decode round-trips") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text")
    val units = Bpe.bigramCounts(docs, "text")
    val m = Bpe.fitBlocked(spark, units, "w", "wcnt", nMerges = 64,
      maxRounds = 8, acceptCap = 16)
    val rows = m.orderBy("round").collect()
    assert(rows.length === 64, "bigram units carry 64 merges easily")
    assert(rows.map(_.getAs[Int]("round")).toSeq === (1 to 64),
      "round is the contiguous global merge index")
    assert(rows.forall(_.getAs[Long]("n") >= 1L))
    // the model drives the shared appliers unchanged: decode inverts apply
    val applied = Bpe.applyMerges(units, "w", m, "mw")
    val back = Bpe.decodeSpellings(applied, "mw", m, "decoded")
      .filter(col("w") =!= col("decoded")).count()
    assert(back === 0L, "reverse expansion must ground every batched placeholder")
    // compression is real
    val Array(before, after) = applied
      .agg(sum(expr("wcnt * length(w)")), sum(expr("wcnt * length(mw)")))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    assert(after < before)
  }

  test("fitBlocked trains 512 merges on bigram units in bounded rounds") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text")
    val units = Bpe.bigramCounts(docs, "text")
    val m = Bpe.fitBlocked(spark, units, "w", "wcnt", nMerges = 512,
      maxRounds = 32, candCap = 512, acceptCap = 64)
    val n = m.count()
    assert(n === 512L, s"sf0.001 bigram units hold 512 merges, got $n")
    // placeholders span the PUA range contiguously
    val syms = m.orderBy("round").collect().map(_.getAs[String]("sym"))
    assert(syms.head === "\uE000" && syms.last === (0xE000 + 511).toChar.toString)
  }
}
