package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** blocklist_hits: Aho-Corasick distinct-phrase census — overlapping and
  * nested patterns, fail-chain outputs, duplicates, the foldable-argument
  * contract, a property check vs naive contains, interpreted == codegen. */
class BlocklistExpressionsSpec extends AnyFunSuite with SparkSuite {

  private def hits(text: String, phrases: Seq[String]): Int = {
    val arr = phrases.map(p => s"'${p.replace("'", "''")}'").mkString("array(", ", ", ")")
    spark.sql(s"select blocklist_hits('${text.replace("'", "''")}', $arr)")
      .head().getInt(0)
  }

  test("distinct census: nested, overlapping, repeated, fail-chain matches") {
    assert(hits("the hershey bars", Seq("he", "she", "hers", "his")) === 3,
      "AC textbook: 'she' contains 'he' via fail chain; 'hers' nests")
    assert(hits("aaaa", Seq("a", "aa", "aaa")) === 3, "nested prefixes all fire")
    assert(hits("x y z", Seq("nope", "never")) === 0)
    assert(hits("spam spam spam", Seq("spam")) === 1, "occurrences count once")
    assert(hits("", Seq("a")) === 0)
    assert(hits("abc", Seq("abc")) === 1, "whole-text match")
    assert(hits("caseSENSITIVE", Seq("casesensitive")) === 0, "case-sensitive")
    // duplicates in the blocklist count once
    assert(hits("dup here", Seq("dup", "dup", "here")) === 2)
  }

  test("property: equals the naive distinct-contains census on random inputs") {
    val vocab = Seq("ab", "bc", "abc", "cab", "aa", "b", "ccc")
    val ac = AhoCorasick.build(vocab)
    val rnd = new scala.util.Random(20260815L) // fixed seed: deterministic
    (1 to 500).foreach { _ =>
      val text = Seq.fill(rnd.nextInt(60))("abc".charAt(rnd.nextInt(3))).mkString
      val expected = vocab.count(text.contains(_))
      assert(ac.distinctHits(text) === expected, s"text=$text")
    }
  }

  test("foldable contract: a per-row phrase array is rejected at analysis") {
    import spark.implicits._
    val df = Seq(("x", Seq("a")), ("y", Seq("b"))).toDF("t", "ps")
    val e = intercept[Exception] {
      df.selectExpr("blocklist_hits(t, ps)").collect()
    }
    assert(e.getMessage.contains("FOLDABLE"),
      s"non-constant blocklists must be rejected loudly, got: ${e.getMessage}")
    // null/empty entries are a broken blocklist
    val e2 = intercept[Exception] {
      spark.sql("select blocklist_hits('x', array('a', ''))").collect()
    }
    assert(e2.getMessage.contains("non-empty") ||
      Option(e2.getCause).exists(_.getMessage.contains("non-empty")))
  }

  test("interpreted == codegen on generated rows; null text -> null") {
    val df = spark.range(0, 200).toDF("id").selectExpr(
      "concat('w', cast(id % 7 as string), ' block', cast(id % 3 as string), ' tail') as t")
    val gen = df.selectExpr(
      "blocklist_hits(t, array('block0', 'block1', 'w3', 'missing')) as h")
      .collect().map(_.getInt(0))
    val ac = AhoCorasick.build(Seq("block0", "block1", "w3", "missing"))
    val interp = df.collect().map(r => ac.distinctHits(r.getString(0)))
    assert(gen.toSeq === interp.toSeq)
    assert(spark.sql("select blocklist_hits(cast(null as string), array('a'))")
      .head().isNullAt(0))
  }
}
