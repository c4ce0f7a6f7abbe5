package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The Curation pipeline on a planted corpus: one document per drop reason,
  * plus precedence when a document fails several stages at once. */
class CurationSpec extends AnyFunSuite with SparkSuite {

  // 30 distinct medium-length words, avg length ~5 chars: passes the
  // quality rule (>= 20 tokens, avg token length 2..8) with no repetition
  private def cleanText(seed: Int): String =
    (0 until 30).map(i => s"word${seed}x$i").mkString(" ")

  test("each stage drops its planted document with the right reason, keepers survive") {
    import spark.implicits._
    val evalText = (0 until 30).map(i => s"bench$i held$i out$i").mkString(" ")
    val corpus = Seq(
      100L -> cleanText(1),                          // kept
      101L -> "too short",                           // quality (n_tokens < 20)
      102L -> (("spam ham " * 40).trim),             // repetition: 2 tokens cycled
      103L -> evalText,                              // contaminated (== eval doc)
      104L -> cleanText(2),                          // exact-dup canonical (kept)
      105L -> cleanText(2),                          // exact dup of 104
      // near-dup of 104: same text with ONE tail token changed — shares
      // nearly all 3-gram shingles, so minhash bands collide
      106L -> (cleanText(2).split(" ").dropRight(1) :+ "changed").mkString(" "),
      // fails quality AND is an exact dup of 101: quality must win (order)
      107L -> "too short"
    ).toDF("doc_id", "text")
    val eval = Seq(0L -> evalText).toDF("doc_id", "text")

    val out = Curation.keepList(spark, corpus, eval, "doc_id", "text")
      .select("doc_id", "kept", "drop_reason")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap

    assert(out(100L) === (true, "(kept)"))
    assert(out(101L) === (false, "quality"))
    assert(out(102L) === (false, "repetition"))
    assert(out(103L) === (false, "contaminated"))
    assert(out(104L) === (true, "(kept)"))
    assert(out(105L)._1 === false)
    assert(out(105L)._2 === "exact_dup")
    assert(out(106L) === (false, "near_dup"))
    // precedence: the FIRST failing stage names the reason
    assert(out(107L) === (false, "quality"))
    assert(out.size === 8, "exactly one verdict row per corpus document")
  }

  test("policy changes re-evaluate without recomputing signals (thresholds only gate)") {
    import spark.implicits._
    val corpus = Seq(1L -> cleanText(7), 2L -> "tiny doc").toDF("doc_id", "text")
    val eval = Seq(0L -> "unrelated bench words").toDF("doc_id", "text")
    // minTokens = 1: the short doc now passes quality and everything else
    val lax = Curation.keepList(spark, corpus, eval, "doc_id", "text",
      Curation.Params(minTokens = 1))
    assert(lax.filter(col("kept")).count() === 2)
    val strict = Curation.keepList(spark, corpus, eval, "doc_id", "text")
    assert(strict.filter(col("kept")).count() === 1)
  }

  test("reserved column names are rejected loudly") {
    import spark.implicits._
    val bad = Seq((1L, "a b c", true)).toDF("doc_id", "text", "kept")
    val eval = Seq(0L -> "x").toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Curation.keepList(spark, bad, eval, "doc_id", "text")
    }
    assert(e.getMessage.contains("kept"))
  }
}
