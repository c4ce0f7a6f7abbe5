package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Chunker.slidingTokenWindows boundary semantics. */
class ChunkerSpec extends AnyFunSuite with SparkSuite {

  private def chunksOf(text: String, window: Int, stride: Int): Seq[(Long, Int, Long, String)] = {
    import spark.implicits._
    Chunker.slidingTokenWindows(Seq((1L, text)).toDF("id", "text"), "text", window, stride)
      .orderBy("chunk_no")
      .collect()
      .map(r => (r.getAs[Long]("chunk_no"), r.getAs[Int]("start_tok"),
        r.getAs[Long]("n_tok"), r.getAs[String]("chunk_text")))
      .toSeq
  }

  test("overlapping windows cover every token, tails shorten") {
    // 10 tokens, window 4, stride 2 -> starts 0,2,4,6,8; last two are short
    val got = chunksOf("a b c d e f g h i j", 4, 2)
    assert(got === Seq(
      (0L, 0, 4L, "a b c d"),
      (1L, 2, 4L, "c d e f"),
      (2L, 4, 4L, "e f g h"),
      (3L, 6, 4L, "g h i j"),
      (4L, 8, 2L, "i j")))
  }

  test("non-overlapping stride equals window partitions the tokens") {
    val got = chunksOf("a b c d e", 2, 2)
    assert(got === Seq((0L, 0, 2L, "a b"), (1L, 2, 2L, "c d"), (2L, 4, 1L, "e")))
  }

  test("document shorter than one window yields exactly one chunk") {
    assert(chunksOf("a b", 32, 16) === Seq((0L, 0, 2L, "a b")))
  }

  test("single token and empty text both yield one chunk, never zero rows") {
    assert(chunksOf("a", 8, 4) === Seq((0L, 0, 1L, "a")))
    // split("", " ") = [""]: one empty token, one (empty) chunk — documents
    // never silently vanish from the chunk stream
    assert(chunksOf("", 8, 4) === Seq((0L, 0, 1L, "")))
  }

  test("reserved column names fail loudly") {
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      Chunker.slidingTokenWindows(
        Seq((1L, "x", 9L)).toDF("id", "text", "chunk_no"), "text", 4, 2)
    }
    assert(ex.getMessage.contains("chunk_no"))
  }

  test("chunking is map-only: no exchange in the plan") {
    import spark.implicits._
    val df = Chunker.slidingTokenWindows(
      (1L to 100L).map(i => (i, "w " * 40)).toDF("id", "text"), "text", 8, 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  private def charChunksOf(text: String, window: Int, stride: Int): Seq[(Long, Int, Long, String)] = {
    import spark.implicits._
    Chunker.slidingCharWindows(Seq((1L, text)).toDF("id", "text"), "text", window, stride)
      .select("chunk_no", "start_ch", "chunk_len", "chunk_text")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
  }

  test("char windows slice overlapping substrings with exact tail lengths") {
    // 10 chars, window 6, stride 4 -> starts 0, 4, 8
    assert(charChunksOf("abcdefghij", 6, 4) === Seq(
      (0L, 0, 6L, "abcdef"),
      (1L, 4, 6L, "efghij"),
      (2L, 8, 2L, "ij")))
  }

  test("char windows: empty text yields one empty chunk; exact multiple has no ghost tail") {
    assert(charChunksOf("", 8, 4) === Seq((0L, 0, 0L, "")))
    // length == stride: starts strictly below n, so exactly two chunks at 8/4
    assert(charChunksOf("abcdefgh", 8, 4) === Seq(
      (0L, 0, 8L, "abcdefgh"),
      (1L, 4, 4L, "efgh")))
  }

  test("char windows are map-only and reject reserved names") {
    import spark.implicits._
    val df = Chunker.slidingCharWindows(
      (1L to 50L).map(i => (i, "x" * 100)).toDF("id", "text"), "text", 32, 16)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"char chunking must not shuffle:\n$plan")
    val ex = intercept[IllegalArgumentException] {
      Chunker.slidingCharWindows(
        Seq((1L, "x", 9L)).toDF("id", "text", "chunk_len"), "text", 4, 2)
    }
    assert(ex.getMessage.contains("chunk_len"))
  }
}
