package graft.operators

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** BpeInt + bpe_encode: grammar rule-by-rule on toy vocabularies, loud
  * spec contracts, interpreted == codegen, and the trainer locked against
  * an INDEPENDENT in-spec mutating-table simulation on the real fixture
  * corpus (the trainer re-encodes from raw words through the spec; the
  * simulation mutates int arrays round by round — agreement proves the
  * re-encode == mutate equivalence the design leans on). */
class BpeIntSpec extends AnyFunSuite with SparkSuite {

  private val IdBase = BpeInt.IdBase

  private def enc(text: String, spec: String): Seq[Int] = {
    import spark.implicits._
    Seq(text).toDF("t").selectExpr(s"bpe_encode(t, '$spec')").head().getSeq[Int](0)
  }

  test("bpe_encode: empty spec yields code points; merges replay in rank order") {
    assert(enc("abc", "") === Seq(97, 98, 99))
    assert(enc("", "") === Seq.empty)
    // one merge: (a, b) -> IdBase
    assert(enc("abab", "97:98") === Seq(IdBase, IdBase))
    // rank order: rule 1 (a,b) fires before rule 2 (b,c) — "abc" has both
    // pairs, the lower rank wins and consumes the b
    assert(enc("abc", "97:98;98:99") === Seq(IdBase, 99))
    // chained merges: rule 2 pairs rule 1's id with c
    assert(enc("abc", s"97:98;${IdBase}:99") === Seq(IdBase + 1))
    // supplementary-plane text is one code point per symbol
    val extB = new String(Character.toChars(0x20000))
    assert(enc(extB + "a", "") === Seq(0x20000, 97))
  }

  test("bpe_encode: same-symbol runs merge left-to-right non-overlapping") {
    // (a,a) on "aaaa" -> two merges; on "aaa" -> merge + lone a
    assert(enc("aaaa", "97:97") === Seq(IdBase, IdBase))
    assert(enc("aaa", "97:97") === Seq(IdBase, 97))
    // after the run collapses, a second rule can pair the ids
    assert(enc("aaaa", s"97:97;${IdBase}:${IdBase}") === Seq(IdBase + 1))
  }

  test("bpe_encode: spec contract is loud at analysis, text contract never throws") {
    import spark.implicits._
    val df = Seq("x").toDF("t")
    val e1 = intercept[Exception] { df.selectExpr("bpe_encode(t, 'nope')").collect() }
    assert(e1.getMessage.contains("bpe_encode"))
    val e2 = intercept[Exception] { df.selectExpr("bpe_encode(t, t)").collect() }
    assert(e2.getMessage.contains("foldable"))
    val e3 = intercept[Exception] { df.selectExpr("bpe_encode(t, '97:')").collect() }
    assert(e3.getMessage.contains("malformed") || e3.getMessage.contains("bpe_encode"))
    // hostile text: unpaired surrogates, controls, long runs — never throws
    val spec = graft.functions.BpeIntKit.parse("97:98;98:99")
    Seq("\ud800ab", "ab\udc00", "\u0000\u0001", "a" * 50000).foreach { s =>
      assert(graft.functions.BpeIntKit.encode(UTF8String.fromString(s), spec) != null)
    }
    // null text -> null
    assert(Seq(Option.empty[String]).toDF("t")
      .selectExpr("bpe_encode(t, '97:98')").head().isNullAt(0))
  }

  test("bpe_segment: surface spellings; concat is a partition of the text") {
    import spark.implicits._
    def seg(text: String, spec: String): Seq[String] =
      Seq(text).toDF("t").selectExpr(s"bpe_segment(t, '$spec')").head().getSeq[String](0)
    assert(seg("abc", "") === Seq("a", "b", "c"))
    assert(seg("abab", "97:98") === Seq("ab", "ab"))
    // chained merge grounds recursively: rule 2 = (rule1, c) spells "abc"
    assert(seg("abc", s"97:98;${IdBase}:99") === Seq("abc"))
    // segmentation is a PARTITION: concat round-trips exactly, incl.
    // supplementary-plane text
    val spec = s"97:98;${IdBase}:99;100:101"
    val texts = Seq("abcde abab", "", "a", new String(Character.toChars(0x20000)) + "abc")
    texts.foreach { t =>
      assert(seg(t, spec).mkString === t, s"roundtrip of '$t'")
    }
    // forward merge-id references are rejected at analysis — they could
    // never fire in encode and would leave segment spellings ungrounded
    val e = intercept[Exception] {
      Seq("x").toDF("t").selectExpr(s"bpe_segment(t, '${IdBase + 5}:97')").collect()
    }
    assert(e.getMessage.contains("forward"))
    // segment == spell-mapped encode (shared replay)
    val parsed = graft.functions.BpeIntKit.parse(spec)
    val enc = graft.functions.BpeIntKit.encode(UTF8String.fromString("abcde"), parsed)
    val viaEncode = (0 until enc.numElements()).map(i => parsed.spell(enc.getInt(i)))
    assert(seg("abcde", spec) === viaEncode)
  }

  test("interpreted eval equals codegen") {
    import spark.implicits._
    val spec = s"97:98;${IdBase}:99;100:101"
    val rows = Seq("abcde", "ababab", "", "zzz", "abc abc")
    val gen = rows.toDF("t").selectExpr(s"bpe_encode(t, '$spec') as e").collect()
    val parsed = graft.functions.BpeIntKit.parse(spec)
    rows.zip(gen).foreach { case (s, r) =>
      val interp = graft.functions.BpeIntKit.encode(UTF8String.fromString(s), parsed)
      val expected = (0 until interp.numElements()).map(interp.getInt)
      assert(r.getSeq[Int](0) === expected, s"text '$s'")
    }
  }

  /** Independent reference: the mutating-table batched trainer (the
    * algorithm the DuckDB oracle replays), over (word, count) rows. */
  private def simulate(
      rows: Seq[(String, Long)], nMerges: Int, maxRounds: Int,
      candCap: Int, acceptCap: Int): Seq[(Int, Int, Int, Int, Int, Long)] = {
    val words = rows.map { case (w, c) =>
      (scala.collection.mutable.ArrayBuffer(w.codePoints().toArray: _*), c)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int, Int, Long)]
    var merged = 0
    var round = 0
    while (merged < nMerges && round < maxRounds) {
      round += 1
      val cnt = scala.collection.mutable.Map.empty[(Int, Int), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          cnt(k) = cnt.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (cnt.isEmpty) return out.toSeq
      val cand = cnt.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.take(candCap)
      val cap = math.min(acceptCap, nMerges - merged)
      // L/R rule (mirrors BpeInt.fitBlocked): reject (a, b) iff a is an
      // accepted pair's RIGHT or b is an accepted pair's LEFT
      val usedL = scala.collection.mutable.Set.empty[Int]
      val usedR = scala.collection.mutable.Set.empty[Int]
      val acc = scala.collection.mutable.Map.empty[(Int, Int), Int]
      cand.foreach { case ((a, b), n) =>
        if (acc.size < cap && !usedR.contains(a) && !usedL.contains(b)) {
          val midx = merged + acc.size + 1
          acc((a, b)) = IdBase + midx - 1
          out += ((midx, round, a, b, IdBase + midx - 1, n))
          usedL += a; usedR += b
        }
      }
      if (acc.isEmpty) return out.toSeq
      merged += acc.size
      words.foreach { case (syms, _) =>
        var i = 0
        var w = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && acc.contains((syms(i), syms(i + 1)))) {
            syms(w) = acc((syms(i), syms(i + 1))); w += 1; i += 2
          } else { syms(w) = syms(i); w += 1; i += 1 }
        }
        syms.remove(w, syms.length - w)
      }
    }
    out.toSeq
  }

  test("trainer equals the independent mutating-table simulation on the real corpus") {
    import spark.implicits._
    val docs = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .filter("doc_id < 500").select("text")
    val units = BpeInt.fourgramCounts(docs, "text")
    val unitRows = units.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(unitRows.size > 20000, s"4-gram units: ${unitRows.size}")
    val nM = 1500
    val got = BpeInt.fitBlocked(spark, units, "w", "wcnt", nM,
      maxRounds = 64, candCap = 16384, acceptCap = 1024)
      .orderBy("midx")
      .collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5)))
    val ref = simulate(unitRows, nM, 64, 16384, 1024)
    assert(got.length === nM, "corpus supports 1500 merges")
    assert(got.toSeq === ref,
      "trainer (spec re-encode) must equal the mutating-table reference exactly")
    // spec round-trips: encoding the corpus under the spec reproduces the
    // simulation's final table state sizes
    val spec = BpeInt.specOf(got.toSeq.toDF("midx", "rnd", "a", "b", "id", "n"))
    assert(spec.count(_ == ';') === nM - 1)
    // spellings ground every id to surface text whose re-encode is itself
    val sp = BpeInt.spellings(got.toSeq.toDF("midx", "rnd", "a", "b", "id", "n"))
    assert(sp.size === nM)
    val parsed = graft.functions.BpeIntKit.parse(spec)
    sp.take(50).foreach { case (midx, surface) =>
      val e = graft.functions.BpeIntKit.encode(UTF8String.fromString(surface), parsed)
      assert(e.numElements() === 1 && e.getInt(0) === IdBase + midx - 1,
        s"spelling of merge $midx ('$surface') must encode back to its own id")
    }
  }

  test("trainer contracts are loud: nulls, empty vocabulary, bad knobs") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      BpeInt.fitBlocked(spark, Seq(("ab", 1L)).toDF("w", "wcnt"), "w", "wcnt", 0)
    }
    val e = intercept[Exception] {
      BpeInt.fitBlocked(spark,
        Seq((null.asInstanceOf[String], 1L)).toDF("w", "wcnt"), "w", "wcnt", 4).collect()
    }
    assert(e.getMessage.contains("non-null") ||
      Option(e.getCause).exists(_.getMessage.contains("non-null")))
    intercept[IllegalArgumentException] {
      BpeInt.fitBlocked(spark, Seq(("a", 1L), ("b", 2L)).toDF("w", "wcnt"), "w", "wcnt", 4)
    }
  }
}
