package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/**
 * Locks the r11 size-adaptive trainer dispatch: the driver-local
 * incremental election ([[BpeInt.fitLocal]]) must produce EXACTLY the
 * merge table of the distributed per-round loop — same pairs, same ids,
 * same rounds, same elected counts — on real corpus-shaped unit tables
 * for the string, int-symbol (code-point) and byte-level (GPT-2
 * pre-token) trainers. Each path is forced through the trainers'
 * char threshold (0 = always distributed, huge = always local).
 */
class BpeLocalFitSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  private def docs = graft.queries.Tables.table(spark, Sf, "documents")

  /** `fit` evaluated with the distributed path forced, then the local. */
  private def both[T](fit: Long => T): (T, T) = (fit(0L), fit(Long.MaxValue))

  /** `BpeInt.fitBlocked` at char threshold `maxChars`. */
  private def intFit(units: DataFrame, nMerges: Int, maxRounds: Int, candCap: Int,
      acceptCap: Int)(maxChars: Long) = rowsOf(BpeInt.fitCore(spark, units, "w", "wcnt",
    nMerges, maxRounds, candCap, acceptCap, BpeInt.IdBase, "bpe_encode", "BpeInt.fitBlocked",
    maxChars))

  /** `Bpe.fitBlocked` at char threshold `maxChars`; `Bpe.fit` is the
    * one-pair batch `maxRounds = nMerges, candCap = acceptCap = 1`. */
  private def strFit(units: DataFrame, nMerges: Int, maxRounds: Int, candCap: Int,
      acceptCap: Int)(maxChars: Long) = strRowsOf(Bpe.fitBlockedWith(spark, units, "w",
    "wcnt", nMerges, maxRounds, candCap, acceptCap, Bpe.DefaultBaseCp, maxChars))

  private def rowsOf(df: DataFrame): Seq[(Int, Int, Int, Int, Int, Long)] =
    df.orderBy("midx").collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5)))

  test("int-symbol trainer: local election == distributed election (4-gram units)") {
    val units = BpeInt.fourgramCounts(docs, "text").localCheckpoint(true)
    val (dist, local) = both(intFit(units, nMerges = 512, maxRounds = 16, candCap = 2048,
      acceptCap = 128))
    assert(local.size == dist.size)
    assert(local == dist)
  }

  test("byte-level trainer: local election == distributed election (GPT-2 pre-token units)") {
    val units = BpeByte.pretokenCounts(docs, "text").localCheckpoint(true)
    val (dist, local) = both(maxChars => rowsOf(BpeInt.fitCore(spark, units, "w", "wcnt",
      256, 16, 512, 64, BpeByte.IdBase, "bpe_encode_bytes", "BpeByte.fitBlocked", maxChars)))
    assert(local.size == dist.size)
    assert(local == dist)
  }

  private def strRowsOf(df: DataFrame): Seq[(Int, String, String, Long)] =
    df.orderBy("round").collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))

  test("string trainer fit: local election == distributed election (word units)") {
    val units = Bpe.wordCounts(docs, "text").localCheckpoint(true)
    val (dist, local) = both(strFit(units, nMerges = 24, maxRounds = 24, candCap = 1,
      acceptCap = 1))
    assert(local == dist)
  }

  test("string trainer fitBlocked: local election == distributed election (bigram units)") {
    val units = Bpe.bigramCounts(docs, "text").localCheckpoint(true)
    val (dist, local) = both(strFit(units, nMerges = 96, maxRounds = 12, candCap = 256,
      acceptCap = 24))
    assert(local == dist)
  }

  test("sequential fit: hand-worked merges on both paths (count tie, self-pair)") {
    import spark.implicits._
    // round 1: aa = 2 occurrences x 2 = 4 (overlap-inclusive) beats
    //          ab = bc = 3 and cd = 1; "aaa" -> <1>a (left-to-right)
    // round 2: <1>a = 2, ab = bc = 3, cd = 1: the tie goes pair-asc to
    //          ab; "abc" -> <2>c (had bc won, round 3 would merge a<..>)
    // round 3: <2>c = 3; round 4: <1>a = 2; round 5: cd = 1; then no
    //          word has two symbols left and training stops early
    val units = Seq(("aaa", 2L), ("abc", 3L), ("cd", 1L)).toDF("w", "wcnt")
    val (dist, local) = both(strFit(units, nMerges = 8, maxRounds = 8, candCap = 1,
      acceptCap = 1))
    val want = Seq(
      (1, "aa", "\uE000", 4L), (2, "ab", "\uE001", 3L), (3, "\uE001c", "\uE002", 3L),
      (4, "\uE000a", "\uE003", 2L), (5, "cd", "\uE004", 1L))
    assert(dist == want)
    assert(local == want)
  }

  test("string trainer L/R rule compares code points, not UTF-16 units, on both paths") {
    import spark.implicits._
    // round 1 ranks ac (3) above (U+1F600, a) (2); the second puts a, the
    // LEFT symbol of the accepted ac, on its right, so it may not join the
    // batch — comparing UTF-16 units sees only the emoji's low surrogate
    val units = Seq(("\uD83D\uDE00ac", 2L), ("ac", 1L)).toDF("w", "wcnt")
    // the merges of rounds 1..r are the fit with maxRounds = r, so round
    // r's batch is what maxRounds = r adds to maxRounds = r - 1
    val (dist, local) = both(maxChars => (1 to 3).map(r =>
      strFit(units, nMerges = 8, maxRounds = r, candCap = 512, acceptCap = 8)(maxChars)))
    for (byRounds <- Seq(dist, local)) {
      (Seq.empty +: byRounds).sliding(2).foreach { case Seq(before, upTo) =>
        assert(upTo.startsWith(before))
        val batch = upTo.drop(before.length).map(_._2.codePoints().toArray)
        assert(batch.forall(_.length == 2))
        batch.indices.foreach { j =>
          val earlier = batch.take(j)
          assert(!earlier.exists(_(1) == batch(j)(0)) && !earlier.exists(_(0) == batch(j)(1)),
            s"pair ${j + 1} of its round overlaps an earlier accepted pair")
        }
      }
      assert(byRounds.last ==
        Seq((1, "ac", "\uE000", 3L), (2, "\uD83D\uDE00\uE000", "\uE001", 2L)))
    }
  }

  test("multi-codepoint and self-pair units elect identically on both paths") {
    import spark.implicits._
    // surrogate pairs (emoji), CJK, an (a,a) run corpus, and skewed counts
    val units = Seq(
      ("aaaa", 7L), ("aaa", 5L), ("abab", 11L), ("😀😀x", 3L),
      ("漢字漢字", 9L), ("banana", 13L), ("bandana", 2L))
      .toDF("w", "wcnt")
    val (dist, local) = both(intFit(units, nMerges = 32, maxRounds = 16, candCap = 64,
      acceptCap = 8))
    assert(local == dist)
  }
}
